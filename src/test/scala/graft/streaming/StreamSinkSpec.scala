package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** K5 streaming shape: foreachBatch drives the history sink with
  * exactly-once-per-epoch appends over the full backlog.
  */
class StreamSinkSpec extends SparkSpec {

  test("streamTo appends every event exactly once via foreachBatch") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_ssink_").toString
    val events = EventStream.readEvents(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val epochs = new java.util.concurrent.atomic.AtomicInteger(0)
    EventStream.streamTo(events, s"ssink_${System.nanoTime()}") { (batch, _) =>
      epochs.incrementAndGet()
      batch.write.mode("append").parquet(s"$outDir/history")
    }
    epochs.get() should be >= 1
    val back = spark.read.parquet(s"$outDir/history")
    val direct = graft.Tables(spark, sf, "events")
    back.count() shouldBe direct.count()
    // exactly once: ids unique and sums identical
    back.select(countDistinct(col("event_id"))).head().getLong(0) shouldBe
      direct.count()
  }

  test("epoch-keyed sink is idempotent under foreachBatch replay") {
    // foreachBatch is at-least-once on an epoch retry (crash between
    // the write and the offset-log commit re-delivers the batch).
    // Writing every epoch TWICE simulates that worst case for every
    // batch; the epoch=N overwrite directory makes the replay land on
    // top of the first attempt, so read-back is exactly-once.
    val outDir = java.nio.file.Files.createTempDirectory("graft_essink_").toString
    val events = EventStream.readEvents(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    EventStream.streamTo(events, s"esink_${System.nanoTime()}") { (batch, epoch) =>
      graft.sinks.History.writeEpoch(batch, s"$outDir/history", epoch)
      graft.sinks.History.writeEpoch(batch, s"$outDir/history", epoch) // replay
    }
    val back = spark.read.parquet(s"$outDir/history")
    val direct = graft.Tables(spark, sf, "events")
    back.count() shouldBe direct.count()
    back.select(countDistinct(col("event_id"))).head().getLong(0) shouldBe
      direct.count()
    back.columns should contain("epoch") // partition-discovered batch id
  }

  test("memory-sink gates leave no temp view and no running stream behind") {
    // the memory sink registers its rows as a temp view named after the
    // query; each gate's frame must still collect after that view is gone
    import graft.queries.PipelineQueries._
    Seq(q39StreamWindow _, q73StreamSessions _, q84StreamDedup _,
      q99StreamKmv _, q104AppendWindow _)
      .foreach(gate => gate(spark, sf).collect() should not be empty)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.contains("_mem_")) shouldBe empty
    spark.streams.active shouldBe empty
  }

  test("streaming KMV sketch equals the one-shot batch computation") {
    // bottom-k merge is associative + commutative, so slicing the
    // input into micro-batches (stream) vs one pass (batch) MUST give
    // identical buffers — the property that lets mergeable sketches
    // ride in streaming state at all
    val streamed = graft.queries.PipelineQueries.q99StreamKmv(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val kmvU = udaf(graft.ext.Sketches.kmv[Long](32)(identity),
      org.apache.spark.sql.Encoders.scalaLong)
    val batch = graft.Tables(spark, sf, "events")
      .withColumn("h",
        graft.ext.Dedup.hexHash(col("user_id").cast("string"), "sk#"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(kmvU(col("h")), 4).as("est_users"))
      .select(col("w.start").cast("date").cast("string").as("day"),
        col("event_type"), col("n"), col("est_users"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    streamed.size should be > 0
    streamed shouldBe batch
  }

  test("append mode + watermark: closed windows emit once, state evicts (q99 deployment shape)") {
    // The q99 gate replays in COMPLETE mode (memory-sink convenience),
    // where the watermark is inert — its docstring points HERE for the
    // bounded-state deployment shape: in APPEND mode the watermark
    // closes windows, emits them exactly once, and EVICTS them from
    // the state store. MemoryStream gives batch-precise control of
    // event time: day-1 events first (open window → nothing emitted,
    // state grows), then a day-3 event pushes the watermark past the
    // day-1 window end (closed windows emit, state shrinks to the
    // still-open group). The emitted rows must equal the one-shot
    // batch computation over the same day-1 slice — the stream ≡ batch
    // sketch-merge property, now shown on the eviction path too.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[(java.sql.Timestamp, String, Long)](spark)
    val kmvU = udaf(graft.ext.Sketches.kmv[Long](4)(identity),
      org.apache.spark.sql.Encoders.scalaLong)
    def aggOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("h", graft.ext.Dedup.hexHash(col("user_id").cast("string"), "sk#"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(kmvU(col("h")), 4).as("est_users"))
      .select(col("w.start").cast("date").cast("string").as("day"),
        col("event_type"), col("n"), col("est_users"))
    val name = s"appendwm_${System.nanoTime()}"
    val q = aggOf(ms.toDF().toDF("ts", "event_type", "user_id"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // day-1: type a has 6 distinct users (> k=4 → estimator regime),
    // type b has 3 (< k → exact regime) — both append-mode paths
    val day1 = (1L to 6L).map(u => (t("2024-01-01 10:00:00"), "a", u)) ++
      (1L to 3L).map(u => (t("2024-01-01 11:00:00"), "b", u))
    ms.addData(day1: _*)
    q.processAllAvailable()
    spark.table(name).count() shouldBe 0L // windows open: append emits nothing
    ms.addData((t("2024-01-03 10:00:00"), "a", 9L)) // watermark → past day-1 end
    q.processAllAvailable()
    val emitted = spark.table(name).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val expected = aggOf(day1.toDF("ts", "event_type", "user_id")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    emitted shouldBe expected // exactly the closed day-1 windows, batch-identical
    // eviction: after the emitting batch, the store holds ONLY the
    // still-open day-3 group — state is bounded by open windows, not
    // by stream history
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators.head
    lastState.numRowsTotal shouldBe 1L
    q.stop()
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("append-mode watermark boundary: window end EQUAL to the watermark emits (q104 oracle contract)") {
    // Pins the two facts q104's oracle encodes: (a) the emission
    // predicate is `window.end <= watermark` — a window whose end lands
    // EXACTLY on the watermark is emitted, not held; (b) the watermark
    // is max event time floored to the MILLISECOND minus the delay —
    // a max event 0.4 ms past the closing threshold does NOT close the
    // window (its sub-ms part is floored away), one full ms past does.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def emittedWindows(maxEvent: String): Seq[String] = {
      val ms = MemoryStream[(java.sql.Timestamp, Long)](spark)
      val name = s"wmb_${System.nanoTime()}"
      val q = ms.toDF().toDF("ts", "v")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("string").as("h"), col("n"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData((java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 1L))
        q.processAllAvailable()
        ms.addData((java.sql.Timestamp.valueOf(maxEvent), 2L))
        q.processAllAvailable()
        spark.table(name).collect().map(_.getString(0)).toSeq.sorted
      } finally {
        q.stop()
        spark.sql(s"DROP TABLE IF EXISTS $name")
      }
    }
    // watermark = 12:00:00.000 - 1h = 11:00:00.000 = [10,11) window end → emits
    emittedWindows("2024-01-01 12:00:00") shouldBe Seq("2024-01-01 10:00:00")
    // 11:59:59.999 → watermark 10:59:59.999 < window end → held in state
    emittedWindows("2024-01-01 11:59:59.999") shouldBe Seq.empty
    // sub-ms part is floored away before the delay is subtracted, so
    // 11:59:59.9994 behaves exactly like 11:59:59.999 → still held
    emittedWindows("2024-01-01 11:59:59.9994") shouldBe Seq.empty
  }

  test("durable checkpoint: kill-and-relaunch resumes after the committed epoch on both History faces") {
    // streamTo's delivery contract says a re-launched run with the
    // same checkpointDir resumes AFTER the last committed epoch
    // instead of re-reading the whole source. The epoch-replay tests
    // above cover a retry WITHIN a run; this covers the restart: run
    // to completion, relaunch against the same checkpoint (same
    // source → zero rows re-read; grown source → exactly the new
    // rows), asserting read-back stays exactly-once on BOTH the
    // parquet and the JDBC epoch-keyed faces.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_resume_").toString
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val histDir = s"$root/history"
    val url = s"jdbc:derby:memory:graft_resume_${System.nanoTime()};create=true"
    val jdbc = new graft.sinks.JdbcHistory(spark, url, "resume_history")
    def src = spark.readStream
      .schema("id LONG, v STRING")
      .parquet(srcDir)
    // run: drain the backlog; record how many rows THIS run delivered
    def launch(): Long = {
      val delivered = new java.util.concurrent.atomic.AtomicLong(0L)
      EventStream.streamTo(src, s"resume_${System.nanoTime()}", Some(ckpt)) {
        (batch, epoch) =>
          delivered.addAndGet(batch.count())
          graft.sinks.History.writeEpoch(batch, histDir, epoch)
          jdbc.writeEpoch(batch, epoch)
      }
      delivered.get()
    }

    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    launch() shouldBe 100L

    // relaunch, nothing new: the committed offsets mean NO re-read —
    // zero rows delivered, sinks untouched
    launch() shouldBe 0L
    spark.read.parquet(histDir).count() shouldBe 100L
    jdbc.all().count() shouldBe 100L

    // grow the source, relaunch: exactly the 50 new rows move
    (101L to 150L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    launch() shouldBe 50L
    val back = spark.read.parquet(histDir)
    back.count() shouldBe 150L
    back.select(countDistinct(col("id"))).head().getLong(0) shouldBe 150L
    jdbc.all().count() shouldBe 150L
    jdbc.all().select(countDistinct(col("id"))).head().getLong(0) shouldBe 150L
  }

  test("streaming dedup is provider-agnostic: RocksDB state matches on-heap") {
    import org.apache.spark.sql.streaming.Trigger
    def dedupCounts(name: String): Map[String, Long] = {
      val doubled = EventStream.readEvents(spark, sf)
        .union(EventStream.readEvents(spark, sf))
      val q = EventStream.dedupEvents(doubled)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).groupBy(col("event_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val onHeap = dedupCounts(s"sdh_${System.nanoTime()}")
    val rocks = EventStream.withRocksDbStateStore(spark) {
      spark.conf.get("spark.sql.streaming.stateStore.providerClass") should
        include("RocksDBStateStoreProvider")
      dedupCounts(s"sdr_${System.nanoTime()}")
    }
    // conf restored after the window
    spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .foreach(_ should not include "RocksDB")
    rocks shouldBe onHeap
    rocks.values.sum should be > 0L
  }
}
