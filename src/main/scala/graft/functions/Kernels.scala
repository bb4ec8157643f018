package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one shape of a kernel whose work is one static call: the class
  * names its `kernel` object, the kernel `method`, and any `constants`
  * passed after its children; interpreted `eval` and `doGenCode` both
  * delegate to one wrapped `StaticInvoke`, so the two paths cannot
  * drift and every generated call gets fresh local names. The wrapper
  * stays in the plan, so plan text keeps the kernel's name and
  * arguments (`hex_hash(s#3, salt)`). A null child gives null without
  * a call unless `propagateNull` is off; a nullable boxed return
  * (`DotProduct.fold`'s `java.lang.Double`) surfaces as null.
  *
  * Six kernels keep their own `doGenCode`, because their call needs
  * more than constant arguments:
  *  - [[BpeSegment]], [[BpeWords]], [[BpeTokenCount]]: the model
  *    reference plus a per-thread memo;
  *  - [[NearestCentroid]], [[PqAdc]]: per-instance lookup tables;
  *  - [[ZOrderCodeN]]: a mutable scratch array per generated class.
  */
trait StaticKernel extends Expression {
  protected def kernel: AnyRef
  protected def method: String
  protected def constants: Seq[Expression] = Nil
  protected def propagateNull: Boolean = true

  @transient private lazy val call = StaticInvoke(kernel.getClass, dataType,
    method, children ++ constants, propagateNull = propagateNull,
    returnNullable = nullable)

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.doGenCode(ctx, ev)
}

/** A SQL call's arguments as its builder sees them: the arity is
  * checked on construction, and a literal argument is checked on read
  * (foldable, non-null, of the right type). Every failure is an
  * `AnalysisException` naming the function.
  */
final class SqlArgs(name: String, arity: Range, exprs: Seq[Expression]) {
  if (!arity.contains(exprs.length)) {
    val wanted = if (arity.size == 1) s"${arity.start}" else s"${arity.start} to ${arity.end}"
    fail(s"takes $wanted arguments, got ${exprs.length}")
  }

  def apply(i: Int): Expression = exprs(i)
  def all: Seq[Expression] = exprs

  def int(i: Int): Int = literal(i, "an int") {
    case (IntegerType, v: Int)                => v
    case (LongType, v: Long) if v.isValidInt => v.toInt
  }

  def string(i: Int): String = literal(i, "a string") {
    case (StringType, v: UTF8String) => v.toString
  }

  private def literal[T](i: Int, what: String)(
      pf: PartialFunction[(DataType, Any), T]): T = {
    val e = exprs(i)
    if (!e.foldable) fail(s"argument ${i + 1} must be $what literal")
    val v = e.eval()
    if (v == null) fail(s"argument ${i + 1} must not be null")
    pf.applyOrElse((e.dataType, v), (_: (DataType, Any)) =>
      fail(s"argument ${i + 1} must be $what literal, got ${e.dataType.simpleString}"))
  }

  private def fail(msg: String): Nothing =
    throw new AnalysisException(errorClass = "_LEGACY_ERROR_TEMP_3102",
      messageParameters = Map("msg" -> s"$name: $msg"))
}

/** The engine's SQL functions: one `(name, class, builder)` table, and
  * the two ways to install it, [[Kernels.register]] on a live session
  * and [[GraftExtensions]] at session build.
  */
object Kernels {

  type Row = (String, Class[_ <: Expression], Seq[Expression] => Expression)

  private def row(name: String, cls: Class[_ <: Expression], arity: Range)(
      build: SqlArgs => Expression): Row =
    (name, cls, exprs => build(new SqlArgs(name, arity, exprs)))

  private def row(name: String, cls: Class[_ <: Expression], arity: Int)(
      build: SqlArgs => Expression): Row =
    row(name, cls, arity to arity)(build)

  val table: Seq[Row] = Seq(
    row("rolling_hash", classOf[RollingHash], 1)(a => RollingHash(a(0))),
    row("word_ngrams", classOf[WordNGrams], 2)(a => WordNGrams(a(0), a.int(1))),
    row("gram_stats", classOf[GramStats], 2)(a => GramStats(a(0), a.int(1))),
    row("gram_rep_stats", classOf[GramRepStats], 2)(a => GramRepStats(a(0), a.int(1))),
    row("hashed_count_vector", classOf[HashedCountVector], 2)(
      a => HashedCountVector(a(0), a.int(1))),
    row("dot_product", classOf[DotProduct], 2)(a => DotProduct(a(0), a(1))),
    row("quantized_dot", classOf[QuantizedDot], 2)(a => QuantizedDot(a(0), a(1))),
    row("simhash16", classOf[SimHash16], 1)(a => SimHash16(a(0))),
    ("weighted_min_key", classOf[WeightedMinKey], WeightedMinKey.build),
    row("hex_hash_array", classOf[HexHashArray], 2)(a => HexHashArray(a(0), a.string(1))),
    row("minhash_array", classOf[MinhashArray], 3)(
      a => MinhashArray(a(0), a(1), a.int(2))),
    row("token_window_hashes", classOf[TokenWindowHashes], 2)(
      a => TokenWindowHashes(a(0), a.int(1))),
    row("remove_token_spans", classOf[RemoveTokenSpans], 3)(
      a => RemoveTokenSpans(a(0), a(1), a.int(2))),
    row("zorder_code", classOf[ZOrderCode], 2 to 8)(a => ZOrderCode.build(a.all)))

  /** Idempotent SQL registration of every table name on `spark`. */
  def register(spark: SparkSession): Unit = table.foreach { case (name, _, build) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, build, "built-in")
  }
}

/** SparkSessionExtensions injector: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` to get every
  * [[Kernels.table]] function and the TopKPerKey planner strategy in
  * every session, SQL included.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Kernels.table.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
