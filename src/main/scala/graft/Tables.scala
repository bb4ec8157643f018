package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Uniform access to the driver-generated parquet star schema.
  *
  * The reference walks a directory tree and reads files ad hoc
  * (`utils/io_helpers.py:5-79`); our engine's equivalent "scan layer" is
  * Spark's parquet source, which gives predicate pushdown, column pruning
  * and partition-sized splits for free. At 100 TB the same call reads a
  * partitioned table directory; nothing here assumes single-file layout.
  *
  * Every read goes through [[parquet]], which resolves a path's schema
  * once per file version instead of once per read: a plain
  * `spark.read.parquet` infers the schema with a one-task footer-reading
  * Spark job on every call, and the inputs here are immutable between
  * rewrites. The memo holds one entry per qualified path: the
  * (path, length, modification time) of every leaf file the read's own
  * file index listed, the session's `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` values, and the schema inferred from
  * exactly that listing under exactly those confs. A read whose listing
  * and confs both match uses the memoized schema and launches no job;
  * any other read infers as Spark does and replaces the entry, so a
  * rewritten file, an added or removed file of a directory, or a
  * toggled inference conf (`inferTimestampNTZ`, `nanosAsLong`,
  * `mergeSchema`, ...) is seen by the next read. The listing is the one
  * every read makes anyway, so a hit costs no extra filesystem call. A
  * file rewritten in place with the same length within the filesystem's
  * modification-time granularity is indistinguishable, as it is to
  * every mtime-based cache.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory (file or partitioned dir),
    * `events.ts` normalized by [[eventTs]].
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") eventTs(raw(spark, sfDir, name))
    else raw(spark, sfDir, name)

  /** One table exactly as stored. `events` is read with
    * `nanosAsLong` on, so a TIMESTAMP(NANOS) `ts` arrives as a long
    * instead of failing the scan.
    */
  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$sfDir/$name.parquet")
  }

  /** Normalize a raw events frame's `ts` (batch or streaming).
    *
    * `events.ts` has been written two ways across generator versions:
    * parquet TIMESTAMP(NANOS) (which Spark rejects outright — read as a
    * raw nanosecond long via `nanosAsLong` and rebuilt with integer
    * division: `div`, not `/`, because a ~1.7e18 nanos epoch exceeds
    * double precision (2^53) and float division would corrupt the
    * value) and plain TIMESTAMP(MICROS) without a timezone annotation
    * (which Spark 4 infers as TIMESTAMP_NTZ). Branch on the type the
    * scan actually produced and normalize both to session-timezone
    * `timestamp` — the session is pinned UTC, so the NTZ→TZ cast is
    * value-preserving and downstream windows/oracles see one type.
    */
  def eventTs(events: DataFrame): DataFrame = events.schema("ts").dataType match {
    case LongType => events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampType => events
    case TimestampNTZType =>
      // value-preserving under the UTC-pinned session
      events.withColumn("ts", col("ts").cast("timestamp"))
    case other =>
      // fail NAMING the layout: a silent cast of a third generator
      // drift (int32 epoch-seconds, strings) would produce
      // plausible-but-wrong values and surface only as an opaque
      // oracle-hash mismatch far downstream
      throw new IllegalArgumentException(
        s"events.ts has unsupported physical type $other — known " +
          "layouts are nanos-as-long and TIMESTAMP(_NTZ) micros")
  }

  /** What a memoized data schema was inferred from: the leaf files'
    * (path, length, mtime), sorted, and the parquet confs of the
    * session. Partition columns are not memoized: a hit still
    * discovers them from its own listing, as every read does.
    */
  private final case class Memo(files: Seq[(String, Long, Long)],
                                confs: Map[String, String], dataSchema: StructType)

  private val memo = new ConcurrentHashMap[String, Memo]()

  /** `spark.read.parquet(path)`, with the schema memoized per file
    * version (see the object scaladoc). The memo is read and written
    * with plain get/put: the inference job must never run inside a
    * `computeIfAbsent`, where a nested map update throws
    * "Recursive update".
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = qualified(spark, path)
    val confs = parquetConfs(spark)
    Option(memo.get(key)).filter(_.confs == confs).flatMap { m =>
      val df = spark.read.schema(m.dataSchema).parquet(path)
      if (version(df, confs).contains(m)) Some(df) else None
    }.getOrElse {
      val df = spark.read.parquet(path)
      version(df, confs).foreach(memo.put(key, _))
      df
    }
  }

  /** The memo's keys (qualified paths), for tests. */
  private[graft] def memoized: Set[String] = {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.toSet
  }

  private def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  // the version a read saw, from the leaf files its own file index listed
  // (no second listing); None, never memoized, if the read is not planned
  // over a listing file index, e.g. when parquet runs as a V2 source
  private def version(df: DataFrame, confs: Map[String, String]): Option[Memo] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(
          r @ HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        val files = index.allFiles().toSeq
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sortBy(_._1)
        Memo(files, confs, r.dataSchema)
    }
}
