package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File readers — SURVEY.md §2.1 S3–S8, the Spark face of
  * `utils/io_helpers.py` / `processors/_impl/plotting_impl.py:25-154`.
  *
  * All of these are thin declarative wrappers: the value is the
  * conventions (encoding tolerance, skip-bad-cells, header inference)
  * matched to the reference, while scan parallelism, pushdown and
  * pruning come from the Spark source implementations.
  */
object Readers {

  /** S3 — whole files: (path, content) rows, for blob-level parsing
    * (the struct-text parser input shape).
    */
  def wholeText(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .withColumn("path", input_file_name())
      .select(col("path"), col("value").as("content"))

  /** S4 — JSON (auto-schema, nested structs preserved). */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S6 — CSV with header + inferred types (`pd.read_csv` analog). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** ORC read — schema travels in the file (no inference), nested and
    * array types intact; the read side of [[graft.sinks.Exporters.orc]].
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S5 — CSV numeric-column extract (`io_helpers.py:37-79`): one
    * column (by header name, or the first column when `column` is
    * None), cells cast to double, unparseable cells DROPPED rather
    * than failing — the reference's skip-bad-cells tolerance.
    */
  def csvNumericColumn(spark: SparkSession, path: String,
                       column: Option[String] = None): DataFrame = {
    val df = spark.read.option("header", "true").csv(path)
    val name = column.getOrElse(df.columns.head)
    require(df.columns.contains(name), s"column '$name' absent from $path")
    // try_cast, not cast: ANSI mode (Spark 4 default) would otherwise
    // FAIL the scan on the first bad cell instead of skipping it.
    df.select(expr(s"try_cast(`$name` AS DOUBLE)").as(name))
      .filter(col(name).isNotNull)
  }

  /** S7 — SQL over registered views (the in-engine replacement for the
    * reference's sqlite/SQLAlchemy query path; for external databases
    * the same call shape is `spark.read.jdbc`).
    */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)

  /** S8 — parquet read (cache reads pair with Exporters.cached), the
    * schema memoized per file version by [[graft.Tables.parquet]].
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(spark, path)
}
