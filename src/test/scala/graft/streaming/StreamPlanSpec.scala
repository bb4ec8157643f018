package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** Streaming plan fingerprints (round-11 verdict ask #6): the five
  * streaming gates' STATEFUL shape, pinned so it fails on drift the
  * way PlanRegressionSpec pins the batch plans. Two invariants per
  * gate, read from the public progress API (`StreamingQueryProgress
  * .stateOperators`) of a real run at spec scale:
  *
  *  - the stateful-operator roster: exactly the expected operators, by
  *    name — an accidental extra stateful op (say a second dedup or an
  *    unwatermarked agg sneaking in) multiplies state-store commits
  *    per micro-batch;
  *  - `numShufflePartitions == 8` on every state operator: the r11
  *    measured win (32 → 8 cut warm wall 30–45% per gate — one state
  *    store is created PER shuffle partition, each committing a delta
  *    file per micro-batch). A change that reverts the gates to the
  *    session default (200 in production!) re-introduces pure
  *    fixed-overhead fan-out and fails here.
  *
  * The specs rebuild each gate's exact stream (same EventStream /
  * Sessionize builders, same withShufflePartitions(8) pin, q84's
  * RocksDB scope included) but keep the query HANDLE, which the gate
  * builders — returning only the memory-sink table — do not expose.
  */
class StreamPlanSpec extends SparkSpec {

  private def lastProgress(agg: DataFrame, mode: String,
                           name: String): StreamingQueryProgress = {
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // availableNow runs a final no-new-data batch for stateful plans;
    // every progress of the run carries the same operator roster, so
    // the last one is representative
    q.recentProgress.lastOption.getOrElse(
      fail(s"$name produced no progress events"))
  }

  private def stateShape(p: StreamingQueryProgress): Seq[(String, Long)] =
    p.stateOperators.toSeq.map(op => op.operatorName -> op.numShufflePartitions)

  private def events: DataFrame =
    EventStream.readEvents(spark, sf)

  test("q39 complete-mode hourly agg: one stateStoreSave over 8 partitions") {
    EventStream.withShufflePartitions(spark, 8) {
      val p = lastProgress(EventStream.hourlyByType(events), "complete",
        s"splan39_${System.nanoTime()}")
      stateShape(p) shouldBe Seq("stateStoreSave" -> 8L)
    }
  }

  test("q104 append-mode hourly agg: one stateStoreSave over 8 partitions") {
    EventStream.withShufflePartitions(spark, 8) {
      val p = lastProgress(EventStream.hourlyByType(events), "append",
        s"splan104_${System.nanoTime()}")
      stateShape(p) shouldBe Seq("stateStoreSave" -> 8L)
    }
  }

  test("q73 session stream: one flatMapGroupsWithState over 8 partitions") {
    import spark.implicits._
    val typed = events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long").as("ts_secs"))
      .as[Sessionize.Event]
    EventStream.withShufflePartitions(spark, 8) {
      val p = lastProgress(
        Sessionize.sessionsStreaming(typed, gapSecs = 1800).toDF(), "append",
        s"splan73_${System.nanoTime()}")
      stateShape(p) shouldBe Seq("flatMapGroupsWithState" -> 8L)
    }
  }

  test("q99 KMV window agg: one stateStoreSave over 8 partitions") {
    val kmvU = udaf(graft.ext.Sketches.kmv[Long](32)(identity),
      org.apache.spark.sql.Encoders.scalaLong)
    val agg = events
      .withColumn("h",
        graft.ext.Dedup.hexHash(col("user_id").cast("string"), "sk#"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(kmvU(col("h")), 4).as("est_users"))
    EventStream.withShufflePartitions(spark, 8) {
      val p = lastProgress(agg, "complete", s"splan99_${System.nanoTime()}")
      stateShape(p) shouldBe Seq("stateStoreSave" -> 8L)
    }
  }

  test("q84 watermarked dedup under RocksDB: one dedupeWithinWatermark over 8 partitions") {
    val doubled = events.union(events)
    EventStream.withRocksDbStateStore(spark) {
      EventStream.withShufflePartitions(spark, 8) {
        val p = lastProgress(EventStream.dedupEvents(doubled), "append",
          s"splan84_${System.nanoTime()}")
        stateShape(p) shouldBe Seq("dedupeWithinWatermark" -> 8L)
      }
    }
  }

  test("q110 streaming dedup: ZERO state operators — state lives in the index") {
    // the q110 operator's whole claim is STATELESS streaming: dedup
    // progress is the on-disk LshIndex, not the state store, so a
    // stateful op appearing here (an accidental dropDuplicates or agg
    // on the stream side) means unbounded state snuck back in
    val root = java.nio.file.Files.createTempDirectory("graft_splan110_").toString
    try {
      val docs = graft.Tables(spark, sf, "documents").filter(col("doc_id") < 60)
      graft.ext.LshIndex.build(spark, s"$root/idx",
        docs.filter(col("doc_id") < 40), "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val batchDir = s"$root/b"
      val batch = docs.filter(col("doc_id") >= 40).select(col("doc_id"), col("text"))
      batch.repartition(2).write.parquet(batchDir)
      var batches = 0
      val progresses = EventStream.streamTo(
        spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", 1).parquet(batchDir),
        s"splan110_${System.nanoTime()}", Some(s"$root/ckpt"))(
        graft.ext.LshIndex.streamingDedupBatch(
          spark, s"$root/idx", "text", threshold = 0.5)(
          (_, _) => batches += 1)).toSeq
      batches should be >= 2
      progresses should not be empty
      progresses.foreach(p => p.stateOperators.toSeq shouldBe empty)
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
