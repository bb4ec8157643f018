package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Batched history sink — the Spark face of the reference's async
  * SQLite recorder (`processors/builtin_recorders.py:56-193`): fixed
  * record schema, enqueue-then-flush batching (batch ≥ `batchSize`
  * forces a write, `flush()` drains), append-mode storage, recency
  * read-back. Storage is an append-only parquet directory instead of a
  * WAL SQLite file — each flush is one atomic parquet batch, which at
  * cluster scale becomes `foreachBatch` appends from a streaming job.
  * At-most-once on failure (the reference drops the failed batch;
  * a failed write here leaves no partial files).
  */
object History {
  /** The reference's 9-column history row (`builtin_recorders.py:81-96`). */
  final case class Record(ts: String, run_id: String, phase: String,
                          path: String, processor: String, status: String,
                          duration_ms: Long, rows: Long, error: String)

  /** Idempotent per-epoch writer for the streaming face of this sink
    * ([[graft.streaming.EventStream.streamTo]]'s foreachBatch):
    * epoch N's rows land in their own `epoch=N` directory, written
    * with OVERWRITE — so an epoch retry (foreachBatch's at-least-once
    * window is the crash between the write and the offset-log commit)
    * REPLACES the earlier attempt instead of double-appending.
    * Delivery ladder, for the record: the reference's recorder is
    * at-most-once (a failed batch is dropped,
    * `builtin_recorders.py:175-183`); a plain `mode(Append)` under
    * foreachBatch is at-least-once; partitioning the output by the
    * batch id makes the replay idempotent = exactly-once read-back.
    * `spark.read.parquet(path)` discovers `epoch` as a partition
    * column, so [[History.Record]] consumers see one extra column.
    *
    * The epoch-keyed face OWNS its directory: point `path` at a
    * location of its own, not at a directory a [[History]] instance
    * `flush()`es flat part-files into — parquet partition discovery
    * rejects mixed leaf depths, so interleaving the two faces under
    * one path breaks read-back for the whole directory.
    */
  def writeEpoch(batch: DataFrame, path: String, epoch: Long): Unit =
    batch.write.mode(SaveMode.Overwrite).parquet(s"$path/epoch=$epoch")
}

final class History(spark: SparkSession, path: String, batchSize: Int = 200) {
  import History.Record
  import spark.implicits._

  private val queue = mutable.ListBuffer.empty[Record]

  def enqueue(r: Record): Unit = synchronized {
    queue += r
    if (queue.size >= batchSize) flush()
  }

  def pending: Int = synchronized(queue.size)

  /** Drain the queue as one appended parquet batch. One batch = ONE
    * part-file (guide §6): the local rows otherwise parallelize to
    * `spark.default.parallelism` slices, so every ≤`batchSize`-row
    * flush wrote `cores` near-empty files — 32 files per 200 records
    * at the bench posture, measured as 320 of q65's 359 tasks. The
    * sink's own contract ("each flush is one atomic parquet batch")
    * wants the single file; read-back rows are identical either way.
    * The single file also means a single write task, so `batchSize`
    * bounds that task's input too: a large batch is written serially.
    */
  def flush(): Unit = synchronized {
    if (queue.nonEmpty) {
      val batch = queue.toList
      queue.clear()
      batch.toDF().coalesce(1).write.mode(SaveMode.Append).parquet(path)
    }
  }

  /** `ORDER BY id DESC LIMIT n` read-back (`builtin_recorders.py:283-284`);
    * ts is the recency key here.
    */
  def recent(n: Int): DataFrame =
    spark.read.parquet(path).orderBy(desc("ts"), desc("duration_ms")).limit(n)

  def all(): DataFrame = spark.read.parquet(path)
}

/** Database-backed history sink — same enqueue/flush batching contract
  * as [[History]], but each flushed batch is appended to a JDBC table
  * (the reference's actual storage: a SQLite `processed_history` table
  * written by a batching writer, `builtin_recorders.py:56-193`; WAL +
  * executemany there ≙ one batched-insert connection per partition
  * here). The table is created by the first append.
  */
final class JdbcHistory(spark: SparkSession, url: String,
                        table: String = "processed_history",
                        batchSize: Int = 200) {
  import History.Record
  import spark.implicits._

  private val queue = mutable.ListBuffer.empty[Record]

  def enqueue(r: Record): Unit = synchronized {
    queue += r
    if (queue.size >= batchSize) flush()
  }

  def pending: Int = synchronized(queue.size)

  /** Drain the queue as one batched JDBC append (a driver-side record
    * buffer is tiny by construction — one coalesced writer connection).
    */
  def flush(): Unit = synchronized {
    if (queue.nonEmpty) {
      val batch = queue.toList
      queue.clear()
      graft.sources.Jdbc.write(batch.toDF().coalesce(1), url, table)
    }
  }

  def recent(n: Int): DataFrame =
    all().orderBy(desc("ts"), desc("duration_ms")).limit(n)

  def all(): DataFrame = graft.sources.Jdbc.read(spark, url, table)

  /** Idempotent per-epoch writer — the JDBC counterpart of
    * [[History.writeEpoch]]: rows are keyed on the batch id (an
    * `epoch` column) and each delivery DELETEs that epoch's rows
    * before appending, so a foreachBatch epoch retry converges to one
    * copy instead of double-appending. Not a single transaction
    * (Spark's JDBC writer commits per partition), but retry-idempotent,
    * which is the contract that matters: the stream engine re-delivers
    * the epoch until the batch commits, and every re-delivery starts
    * by clearing its own earlier partial writes. The DELETE is
    * best-effort ONLY when the table does not exist yet (the first
    * append creates it); a failing DELETE against an EXISTING table
    * throws instead of silently degrading to double-append.
    *
    * Like the parquet face, the epoch-keyed face owns its table: the
    * rows carry an `epoch` column the enqueue/`flush()` face's
    * 9-column Record schema lacks, so point this at a dedicated
    * table, not at one a flush()-driven instance appends to.
    */
  def writeEpoch(batch: DataFrame, epoch: Long): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // identifier quoting differs between how Spark's JDBC writer
      // CREATEs (observed on Derby: table name case-folded/unquoted,
      // column names quoted lowercase) and a raw statement's default
      // resolution — try the quoting cross-product, first success wins
      val deleted =
        try {
          val attempts = for {
            t <- Seq(s""""$table"""", table)
            c <- Seq("\"epoch\"", "epoch")
          } yield s"DELETE FROM $t WHERE $c = $epoch"
          // A non-42 failure (lock timeout, deadlock) on one variant
          // must not abort the probe before a later CORRECT variant is
          // tried — a transient error on a wrong-quoting attempt would
          // otherwise mask a working one. Collect real failures and
          // rethrow only if NO variant succeeds (first as primary, the
          // rest suppressed); any success discards them.
          val realFailures = mutable.ListBuffer.empty[java.sql.SQLException]
          val ok = attempts.exists { sql =>
            try { st.executeUpdate(sql); true }
            catch {
              case e: java.sql.SQLException =>
                if (!JdbcHistory.identifierResolutionFailure(e)) realFailures += e
                false
            }
          }
          if (!ok && realFailures.nonEmpty) {
            val primary = realFailures.head
            realFailures.tail.foreach(primary.addSuppressed)
            throw primary
          }
          // success after a recorded real failure is ambiguous: if two
          // physical tables differ only by case/quoting, the succeeding
          // variant may have cleared the WRONG one while the intended
          // DELETE hit e.g. a lock timeout — surface it loudly (the
          // schema mismatch on append would be the next symptom)
          if (ok && realFailures.nonEmpty)
            JdbcHistory.log.warn(
              s"writeEpoch($epoch): a DELETE quoting variant succeeded " +
                s"after ${realFailures.size} real (non-syntax) failure(s) " +
                s"on other variants (first: ${realFailures.head.getMessage}); " +
                "if multiple physical tables differ only by case, verify " +
                s"'$table' was the one cleared")
          ok
        } finally st.close()
      if (!deleted) {
        // all variants failed: benign iff the table simply doesn't
        // exist yet. If it DOES exist (privilege revoked, dialect
        // quoting beyond the variants), appending anyway would break
        // the exactly-once contract this method exists for — refuse.
        val meta = conn.getMetaData
        val tableExists = Seq(table, table.toUpperCase(java.util.Locale.ROOT),
            table.toLowerCase(java.util.Locale.ROOT)).distinct.exists { t =>
          val rs = meta.getTables(null, null, t, null)
          try rs.next() finally rs.close()
        }
        if (tableExists) throw new IllegalStateException(
          s"JdbcHistory.writeEpoch: table '$table' exists but no DELETE " +
            s"variant cleared epoch $epoch — refusing to append (a replay " +
            "would double-write; fix DELETE privileges/quoting first)")
      }
    } finally conn.close()
    graft.sources.Jdbc.write(
      batch.withColumn("epoch", lit(epoch)).coalesce(1), url, table)
  }
}

object JdbcHistory {
  private[sinks] val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Whether a DELETE-variant failure means "wrong identifier quoting
    * (or no table yet), try the next variant" — SQLState class 42
    * (syntax or access rule violation: Derby 42X05 missing table /
    * 42X04 missing column, SQL-92 42S02/42S22, Postgres 42P01/42703),
    * or a NULL/empty state: some drivers report missing objects with
    * no SQLState at all (SQLite's JDBC driver does), and the
    * table-existence metadata check after the probe loop is the
    * authority for that indeterminate case — rethrowing here would
    * break the benign first-write path on such drivers. A KNOWN
    * non-42 state — lock timeout (Derby 40XL1), deadlock (40001),
    * connection failure (08xxx) — is a real error, but it is recorded
    * rather than thrown mid-probe: it may have hit a WRONG-quoting
    * variant while a later variant would succeed (and a success
    * discards the recorded failures). Only when no variant succeeds
    * do the real failures surface, first as primary with the rest
    * suppressed ([[JdbcHistory.writeEpoch]]).
    */
  private[sinks] def identifierResolutionFailure(e: java.sql.SQLException): Boolean = {
    val state = e.getSQLState
    state == null || state.isEmpty || state.startsWith("42")
  }
}
