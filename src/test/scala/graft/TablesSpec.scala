package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The scan layer's per-file-version schema memo ([[Tables.parquet]]). */
class TablesSpec extends SparkSpec {

  /** Spark jobs launched while `body` runs (footer reads included). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    Bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(l)
    try { body; Bridge.waitListenerBusEmpty(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  private def withTempDir[T](body: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory("graft_tables_spec_")
    try body(d.toString) finally FileUtils.deleteQuietly(d.toFile)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] = df.collect().toSet

  test("a warm memo reads every table and builds q5 without a Spark job") {
    // events first: its read turns nanosAsLong on, a parquet conf, which
    // re-keys every entry made before it
    ("events" +: Tables.names).foreach(Tables(spark, sf, _))
    val q5 = SparkEntry.queries("q5_revenue_by_nation")
    jobsDuring {
      Tables.names.foreach(Tables(spark, sf, _))
      q5(spark, sf)
    } shouldBe 0
    Tables.names.foreach { n =>
      Tables.raw(spark, sf, n).schema shouldBe
        spark.read.parquet(s"$sf/$n.parquet").schema
    }
  }

  test("the first read of a path infers, the next one does not") {
    withTempDir { dir =>
      val p = s"$dir/t.parquet"
      spark.range(3).toDF("a").write.parquet(p)
      jobsDuring(Tables.parquet(spark, p)) should be > 0
      jobsDuring(Tables.parquet(spark, p)) shouldBe 0
    }
  }

  test("a file rewritten at the same path is read with its new schema and rows") {
    withTempDir { dir =>
      val p = s"$dir/t.parquet"
      spark.range(3).toDF("a").write.parquet(p)
      rows(Tables.parquet(spark, p)) shouldBe Set(Row(0L), Row(1L), Row(2L))
      spark.range(2).selectExpr("cast(id as string) as b", "id * 2 as c")
        .write.mode("overwrite").parquet(p)
      val df = Tables.parquet(spark, p)
      df.schema shouldBe spark.read.parquet(p).schema
      df.columns.toSeq shouldBe Seq("b", "c")
      rows(df) shouldBe Set(Row("0", 0L), Row("1", 2L))
    }
  }

  test("a partitioned directory is re-inferred after a file is added") {
    withTempDir { dir =>
      val p = s"$dir/part"
      spark.range(4).selectExpr("id", "cast(id % 2 as int) as k")
        .write.partitionBy("k").parquet(p)
      Tables.parquet(spark, p).schema("k").dataType shouldBe IntegerType
      // a non-numeric partition value turns the discovered column into a
      // string, which the earlier int type could not hold
      spark.range(10, 11).selectExpr("id", "'x' as k")
        .write.mode("append").partitionBy("k").parquet(p)
      val df = Tables.parquet(spark, p)
      df.schema shouldBe spark.read.parquet(p).schema
      df.schema("k").dataType shouldBe StringType
      rows(df) shouldBe rows(spark.read.parquet(p))
      rows(df.filter("k = 'x'")) shouldBe Set(Row(10L, "x"))
    }
  }

  test("toggling inferTimestampNTZ flips the inferred ts type") {
    withConfs("spark.sql.parquet.inferTimestampNTZ.enabled" -> "true") {
      Tables.raw(spark, sf, "events").schema("ts").dataType shouldBe TimestampNTZType
    }
    withConfs("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      Tables.raw(spark, sf, "events").schema("ts").dataType shouldBe TimestampType
      Tables(spark, sf, "events").schema("ts").dataType shouldBe TimestampType
    }
    withConfs("spark.sql.parquet.inferTimestampNTZ.enabled" -> "true") {
      Tables.raw(spark, sf, "events").schema("ts").dataType shouldBe TimestampNTZType
      Tables(spark, sf, "events").schema("ts").dataType shouldBe TimestampType
    }
  }

  test("re-reading one path after several rewrites leaves one memo entry") {
    withTempDir { dir =>
      val p = s"$dir/t.parquet"
      (1 to 4).foreach { i =>
        spark.range(i).selectExpr(s"id as c$i").write.mode("overwrite").parquet(p)
        Tables.parquet(spark, p).columns.toSeq shouldBe Seq(s"c$i")
        // the qualified spelling of the same path shares the entry
        Tables.parquet(spark, s"file:$p").count() shouldBe i
      }
      Tables.memoized.count(_.startsWith(s"file:$dir/")) shouldBe 1
    }
  }
}
