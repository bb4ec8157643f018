package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}

/** Structured Streaming over the events table (SURVEY.md §2.10 — the
  * reference is batch-only; this is the declared extension: the same
  * engine should drive continuous event pipelines).
  *
  * The file source replays the parquet directory as a stream; the same
  * code pointed at a live directory/Kafka source runs unmodified. The
  * `availableNow` trigger processes the whole backlog as micro-batches
  * and terminates — which is how a batch harness can exercise a genuine
  * streaming plan (stateful aggregation, watermarks, memory sink).
  *
  * Every stream in the engine starts in one place, the private `run`
  * core: trigger, optional checkpoint, start, await, and the query's
  * `recentProgress` back to the caller. Callers build the source and
  * pick a face — [[streamTo]] (foreachBatch), [[runToCompletion]] or
  * [[runAppendToCompletion]] (memory sink) — and keep their own
  * [[withShufflePartitions]] / [[withRocksDbStateStore]] scopes.
  */
object EventStream {

  /** Streaming read of `<sfDir>/events.parquet`.
    *
    * The streaming file source needs an explicit schema: it is the
    * batch table's, taken from [[graft.Tables.raw]]'s schema memo (no
    * footer-reading job once the file's version is known), and `ts` is
    * normalized by the same [[graft.Tables.eventTs]] the batch read
    * uses — value-preserving under the pinned UTC session.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.eventTs(spark.readStream
      .schema(graft.Tables.raw(spark, sfDir, "events").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))

  /** Tumbling-window aggregation with a watermark: events per hour ×
    * type, decimal value sums (order-independent). At scale this is the
    * canonical shuffle-on-(window,type) stateful agg; the watermark
    * bounds state.
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
             .as("total_v"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_v"))

  /** Run a streaming aggregation to completion over the current backlog
    * and return the result as a batch frame (memory sink, complete
    * mode — append would withhold windows still inside the watermark).
    */
  def runToCompletion(spark: SparkSession, agg: DataFrame,
                      name: String): DataFrame =
    toMemory(spark, agg, name, "complete")

  // the memory sink registers its table as a temp view named after the
  // query; the returned frame holds the sink itself, so the view is
  // dropped at once instead of pinning the rows for the session's life
  private def toMemory(spark: SparkSession, agg: DataFrame,
                       name: String, mode: String): DataFrame =
    try {
      run(agg.writeStream.format("memory").queryName(name).outputMode(mode), None)
      spark.table(name)
    } finally spark.catalog.dropTempView(name)

  // the one place a stream starts: AvailableNow over the current
  // backlog, to termination; returns the micro-batches' progress
  // (phase durations, state operators) in batch order, as many as
  // spark.sql.streaming.numRecentProgressUpdates keeps (default 100)
  private def run(writer: DataStreamWriter[Row],
                  checkpointDir: Option[String]): Array[StreamingQueryProgress] = {
    val q = checkpointDir.fold(writer)(writer.option("checkpointLocation", _))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress
  }

  /** Run a streaming aggregation over the current backlog in APPEND
    * mode and return the emitted rows — the DEPLOYMENT shape of
    * [[runToCompletion]]: the watermark closes windows, emits each
    * exactly once, and EVICTS its state (complete mode re-emits
    * everything every trigger and keeps all state forever — fine for
    * a replay gate, the state-store killer on an unbounded stream).
    * `availableNow` runs the extra no-new-data batch a stateful plan
    * requests after the final watermark advance, so every window
    * whose end ≤ final watermark (max event time − delay, floored to
    * the millisecond — pinned in StreamSinkSpec) is emitted; windows
    * still inside the horizon stay in state, unemitted — exactly the
    * rows a resumed incremental run would deliver next.
    */
  def runAppendToCompletion(spark: SparkSession, agg: DataFrame,
                            name: String): DataFrame =
    toMemory(spark, agg, name, "append")

  /** Streaming exactly-once dedup — the streaming face of the dedup
    * family (✚): `dropDuplicatesWithinWatermark` keys state by the id
    * and EVICTS entries once the watermark passes them, so state is
    * bounded by the dedup horizon instead of growing with the stream
    * (plain `dropDuplicates` on an id column never evicts — the
    * 100 TB state-store killer). Duplicates arriving within
    * `horizon` of the first sighting are dropped; later re-sends are
    * treated as new, which is the standard at-least-once-source
    * contract.
    */
  def dedupEvents(events: DataFrame, idCol: String = "event_id",
                  horizon: String = "1 hour"): DataFrame =
    events.withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(idCol)

  /** Run `body` with the session's streaming state store switched to
    * RocksDB, restoring the previous provider after. The default
    * (HDFSBackedStateStoreProvider) holds every state row ON-HEAP in
    * the executor — fine for bounded windows, a guaranteed OOM when
    * dedup/session state approaches the 100 TB-corpus keyspace.
    * RocksDB keeps state off-heap and spills to local disk, bounded
    * by disk instead of heap, and is the config any large-keyspace
    * deployment of [[dedupEvents]] / sessionization should run
    * (`spark.sql.streaming.stateStore.providerClass`; the provider
    * applies to queries STARTED inside the window — a running query
    * keeps the provider it started with, so scoping it per-launch is
    * sound).
    */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the previous value after. For a STATEFUL streaming
    * query the setting is more than shuffle width: the engine creates
    * one state-store instance PER shuffle partition, and every store
    * commits a delta file per micro-batch — so a query whose state is
    * small pays (partitions × batches) tiny-file commits of pure
    * fixed overhead. Most of that overhead was child processes, not
    * I/O: without a native Hadoop library every commit ran `chmod`
    * per created file and `readlink` per rename, until the session's
    * fork-free `file:` file system ([[graft.ForkFreeRawLocalFileSystem]])
    * replaced both. Measured on the five streaming gates at sf0.1
    * (BENCH_VARIANCE §"round 11 protocol"): 32 → 8 partitions cuts
    * warm wall 30–45% on every gate, 8 → 4 is marginal and regresses
    * the RocksDB dedup gate — so the gates run at 8. Aggregation
    * VALUES are partition-count-invariant (same oracles pass at any
    * setting).
    * A production deployment sizes this to its keyspace instead —
    * state volume / store must fit executor memory (or RocksDB disk) —
    * and the checkpoint pins it at first start.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body
    finally spark.conf.set(key, prev)
  }

  /** K5's streaming shape (SURVEY §2.9): drive a sink with
    * `foreachBatch` — each micro-batch goes through the caller's
    * writer (parquet history dir, JDBC table, …). This is the
    * cluster-scale replacement for the driver-side enqueue loop: the
    * reference's queue+background-thread batching IS micro-batching,
    * so the stream engine's epochs take over batch formation.
    *
    * Delivery contract: with a durable `checkpointDir`, a killed or
    * re-launched run resumes AFTER the last committed epoch instead of
    * re-reading the whole source. foreachBatch itself is at-least-once
    * on an epoch retry (the crash window between the write and the
    * commit), so a non-idempotent writer should stamp `epoch` into the
    * output (e.g. partition by it, or key the JDBC rows on it) to make
    * the replay overwrite rather than double-append. Without a
    * checkpointDir Spark allocates a throwaway location — fine for
    * one-shot backfills, wrong for anything incremental.
    *
    * Returns the run's progress, one entry per micro-batch.
    */
  def streamTo(df: DataFrame, name: String,
               checkpointDir: Option[String] = None)
              (write: (DataFrame, Long) => Unit): Array[StreamingQueryProgress] =
    run(df.writeStream.queryName(name).outputMode("append").foreachBatch(write),
      checkpointDir)
}
