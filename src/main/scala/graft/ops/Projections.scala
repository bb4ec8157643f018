package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Projection / column-prepend operators — P3, P4.
  *
  * Mirrors `df_helpers.py:126-181` (prepend constant or per-row-sequence
  * columns, overwrite on collision, move to front) and `:439-486`
  * (validated projection defaulting from table metadata).
  */
object Projections {

  /** P3 — validated projection. */
  def project(df: DataFrame, cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"projection of unknown columns: $missing")
    df.select(cols.map(col): _*)
  }

  /** P4 (scalar form) — prepend constant columns; overwrite on collision;
    * new columns come first in declaration order, then the survivors.
    */
  def prependLit(df: DataFrame, values: Seq[(String, Any)]): DataFrame = {
    val names = values.map(_._1)
    require(names.distinct.size == names.size, s"duplicate prepend names: $names")
    val kept = df.columns.filterNot(names.contains).toSeq
    val front: Seq[Column] = values.map { case (n, v) => lit(v).as(n) }
    df.select(front ++ kept.map(col): _*)
  }

  /** P4 (sequence form) — prepend a driver-held sequence as a column.
    *
    * The reference zips a Python list against row order
    * (`df_helpers.py:149-159`); row order is undefined in a distributed
    * frame, so we demand an explicit total ordering (`orderCols`) and
    * join the sequence by rank. Length must match exactly, as in the
    * reference. Only for driver-sized sequences — big attachments should
    * be joins on real keys.
    */
  def prependSeq(df: DataFrame, name: String, values: Seq[Any],
                 orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "prependSeq needs explicit ordering columns")
    require(!orderCols.contains(name),
      s"prependSeq cannot order by the column it overwrites: $name")
    val n = df.count()
    require(n == values.size,
      s"sequence length ${values.size} != row count $n")
    val spark = df.sparkSession
    import spark.implicits._
    // overwrite-on-collision (df_helpers.py:149-159): drop the old column
    // BEFORE ranking so the post-join select is unambiguous.
    val base = if (df.columns.contains(name)) df.drop(name) else df
    val w = Window.orderBy(orderCols.map(col): _*)
    val ranked = base.withColumn("__rank", row_number().over(w))
    // typed encoding: keep the runtime type the driver handed us instead
    // of coercing everything to string (the reference preserves dtypes).
    val seqDf: DataFrame = values.headOption match {
      case Some(_: Int) =>
        values.zipWithIndex.map { case (v, i) => (i + 1, v.asInstanceOf[Int]) }
          .toDF("__rank", name)
      case Some(_: Long) =>
        values.zipWithIndex.map { case (v, i) => (i + 1, v.asInstanceOf[Long]) }
          .toDF("__rank", name)
      case Some(_: Double) =>
        values.zipWithIndex.map { case (v, i) => (i + 1, v.asInstanceOf[Double]) }
          .toDF("__rank", name)
      case Some(_: Boolean) =>
        values.zipWithIndex.map { case (v, i) => (i + 1, v.asInstanceOf[Boolean]) }
          .toDF("__rank", name)
      case _ =>
        values.zipWithIndex.map { case (v, i) => (i + 1, String.valueOf(v)) }
          .toDF("__rank", name)
    }
    val kept = base.columns.toSeq
    ranked.join(seqDf, "__rank")
      .select((col(name) +: kept.map(col)): _*)
  }
}
