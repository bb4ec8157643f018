package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor CPU of finished tasks: the only listener an untraced run
  * registers (it feeds `task_cpu_s`).
  */
final class CpuListener extends SparkListener {
  val cpuNs = new AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** Scheduler, task, shuffle and I/O counters of a traced pass, keyed by
  * their per-layer metric names. Every counter is a sum except
  * `sched.max_stage_tasks`, a maximum. Job intervals (epoch ms) feed
  * `sched.job_busy_s` and `sched.driver_gap_s`.
  */
final class LayerListener extends SparkListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val MB = 1024.0 * 1024.0

  private def add(k: String, v: Double): Unit = sums(k) += v

  /** Counters since the previous call, then reset. */
  def drain(): (Map[String, Double], Seq[(Long, Long)]) = synchronized {
    val out = (sums.toMap, jobs.toList)
    sums.clear(); jobs.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      add("sched.stages", 1)
      sums("sched.max_stage_tasks") =
        math.max(sums("sched.max_stage_tasks"), e.stageInfo.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    if (e.taskInfo != null && e.taskInfo.failed) add("sched.tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task.cpu_s", m.executorCpuTime / 1e9)
      add("task.run_s", m.executorRunTime / 1e3)
      add("task.gc_s", m.jvmGCTime / 1e3)
      add("task.deser_s", m.executorDeserializeTime / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.mem_mb", m.memoryBytesSpilled / MB)
      add("spill.disk_mb", m.diskBytesSpilled / MB)
      add("scan.read_mb", m.inputMetrics.bytesRead / MB)
      add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      add("write.mb", m.outputMetrics.bytesWritten / MB)
    }
  }
}

/** Catalyst phase times of every action, from `QueryPlanningTracker`. */
final class PlanListener extends QueryExecutionListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def drain(): Map[String, Double] = synchronized {
    val out = sums.toMap; sums.clear(); out
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      sums(s"plan.${phase}_ms") += s.durationMs.toDouble
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** One finished micro-batch: `triggerExecution` and its phases (ms), input
  * rows and the summed state-operator metrics.
  */
final case class Batch(durations: Map[String, Long], inputRows: Long,
                       stateCommitMs: Long, stateRows: Long, stateMemBytes: Long)

final class StreamListener extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]

  def drain(): Seq[Batch] = synchronized {
    val out = batches.toList; batches.clear(); out
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches += Batch(
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.commitTimeMs).sum,
      ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum)
  }
}

/** Process-wide counters read by polling: Janino compiles from
  * `CodegenMetrics`, JIT time and class loading from the JVM MXBeans, and
  * the Hadoop `FileSystem` byte counts of the local file system (its
  * read and write operation counts stay 0: only HDFS-like file systems
  * count operations).
  */
object Polled {
  private val compileHist =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val jit = ManagementFactory.getCompilationMXBean
  private val classes = ManagementFactory.getClassLoadingMXBean
  // the histogram's reservoir keeps every sample until it holds this many
  private val ReservoirSize = 1028

  def snapshot(): Map[String, Double] = {
    val snap = compileHist.getSnapshot
    val n = compileHist.getCount
    val fs = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def io(k: String): Double = fs.flatMap(s => Option(s.getLong(k))).map(_.doubleValue).getOrElse(0.0)
    Map(
      "codegen.compiles" -> n.toDouble,
      "codegen.compile_ms" ->
        (if (n <= ReservoirSize) snap.getValues.sum.toDouble else n * snap.getMean),
      "jvm.jit_ms" -> jit.getTotalCompilationTime.toDouble,
      "jvm.classes_loaded" -> classes.getTotalLoadedClassCount.toDouble,
      "fs.read_mb" -> io("bytesRead") / (1024.0 * 1024.0),
      "fs.write_mb" -> io("bytesWritten") / (1024.0 * 1024.0))
  }

  def delta(before: Map[String, Double]): Map[String, Double] = {
    val now = snapshot()
    now.map { case (k, v) => k -> (v - before(k)) }
  }

  /** Live heap: heap in use after a full collection. Called between
    * passes, untimed, so every pass also starts from a collected heap. The
    * second collection follows Spark's `ContextCleaner`, which releases
    * broadcast and shuffle state asynchronously after the first.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** In-memory spans of a traced pass: name, start, end (ns since the run's
  * origin), parent span and step id. Single-threaded, like the driver
  * loop that opens them.
  */
final case class Span(id: Int, parent: Int, name: String, step: Int,
                      start: Long, end: Long)

final class Tracer(origin: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  private var stack = List(-1)
  private var nextId = 0
  var step = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime() - origin
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, step, t0, System.nanoTime() - origin)
      }
    }
}
