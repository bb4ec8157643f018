package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, NullsFirst, NullsLast, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import scala.collection.mutable

/** Whole-operator custom plan (SURVEY.md §7.3 option (c)): exact
  * top-k-per-key with MAP-SIDE PARTIAL top-k.
  *
  * The built-in expression of this query —
  * `row_number().over(Window.partitionBy(key).orderBy(...)) <= k` —
  * must shuffle EVERY row to the key's reducer and sort it, because a
  * window cannot pre-aggregate. This operator plans two physical
  * stages: a partial pass that keeps at most k rows per key per
  * partition (bounded heaps, no sort), then an exchange on the key and
  * a final identical pass. The shuffle shrinks from N rows to at most
  * k × partitions × keys — at 100 TB that is the difference between
  * shuffling the fact table and shuffling a few rows per key.
  */
final case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder],
                            k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Tracked-key bound for the PARTIAL pass. The partial heap map was
    * originally unbounded in KEY cardinality, which is fine for the
    * kNN family (keys = a handful of queries) but OOM'd the executor
    * on per-DOCUMENT top-k at 8 M keys (found by the keywords trend
    * row at 8 M docs: the upstream join partitions by term, so every
    * partition sees nearly every doc key — ~8 M heaps per partition).
    * Past the bound, rows of keys not already tracked PASS THROUGH to
    * the exchange unreduced — the partial pass is a shuffle-shrinking
    * optimization, never a correctness requirement, so the fallback
    * is exactly partial hash aggregation's: state stays O(bound),
    * results identical, the exchange just shrinks less. 2^17 keys ×
    * (key row + ≤ k small rows) keeps per-task state in the tens of
    * MB at any k the engine uses.
    */
  val MaxPartialKeys: Int = 1 << 17
}

final case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                                k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** The final pass demands co-located keys (planner inserts the
    * exchange); the partial pass runs wherever the data already is.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val maxKeys =
      if (partial) TopKPerKeyExec.MaxPartialKeys else Int.MaxValue
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // heap root = worst retained row (PriorityQueue dequeues max,
      // and `ord` sorts better rows first). The final pass tracks
      // every key of its (clustered) partition — keys-per-reducer is
      // the sizing knob there, via shuffle partitions; the partial
      // pass caps tracked keys and passes overflow keys through (see
      // MaxPartialKeys). A key is either tracked from first sight or
      // never — so a tracked key's heap sees ALL its partition-local
      // rows and eviction stays safe.
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      new Iterator[InternalRow] {
        private var passThrough: InternalRow = null
        private var drain: Iterator[InternalRow] = null
        private def advance(): Unit = {
          while (passThrough == null && drain == null) {
            if (!iter.hasNext) {
              drain = heaps.valuesIterator.flatMap(_.iterator)
            } else {
              val row = iter.next()
              val key = keyProj(row)
              var heap = heaps.getOrElse(key, null)
              if (heap == null && heaps.size < maxKeys) {
                heap = new mutable.PriorityQueue[InternalRow]()(ord)
                heaps.put(key.copy(), heap)
              }
              if (heap == null) passThrough = row // overflow key
              else if (heap.size < limit) heap += row.copy()
              else if (ord.compare(row, heap.head) < 0) {
                heap.dequeue()
                heap += row.copy()
              }
            }
          }
        }
        override def hasNext: Boolean = {
          if (passThrough == null && drain == null) advance()
          passThrough != null || drain.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          if (passThrough != null) {
            val r = passThrough; passThrough = null; r
          } else drain.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy: logical TopKPerKey → partial exec + final exec
  * (the exchange between them comes from requiredChildDistribution).
  */
object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API + runtime strategy registration. */
object TopK {

  private def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy

  /** Exact top-k rows per key, ordered by `orderCol` (desc by default)
    * with `tiebreak` columns ascending — a total order, so the result
    * set equals the window-function formulation exactly. `k` must be
    * at least 1, checked here, before any job: the exec's bounded
    * queue has no head to compare against at size 0.
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
                 k: Int, desc: Boolean = true,
                 tiebreak: Seq[String] = Nil): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    ensureStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not in ${analyzed.output.map(_.name)}"))
    val keys = keyCols.map(attr)
    val order =
      SortOrder(attr(orderCol),
        if (desc) Descending else Ascending,
        if (desc) NullsLast else NullsFirst, Seq.empty) +:
      tiebreak.map(t => SortOrder(attr(t), Ascending, NullsFirst, Seq.empty))
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      TopKPerKey(keys, order, k, analyzed))
  }
}
