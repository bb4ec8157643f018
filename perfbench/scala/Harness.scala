package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets the session up, runs one cold pass and
  * warm passes of a workload for `--seconds`, then an untimed check pass,
  * and writes every raw measurement to `--raw` as JSON. The statistics
  * (medians, percentiles, interval unions, span self times) are computed
  * from that file by `perfbench/run.py`.
  *
  * Load shape: one closed-loop driver thread submits the steps one after
  * another on `local[N]`, N = available processors, with
  * `spark.sql.shuffle.partitions` = N and the engine's `SessionTuning`
  * posture.
  *
  * `--trace 1` adds every layer listener and a listener-bus drain per
  * step, and records spans. Its warm passes alternate between traced and
  * untraced so that the run itself measures the tracing overhead.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --raw FILE [--prep DIR] [--digests FILE]
  *          [--pin FILE]
  *          [--prepare-only 1]
  * `--pin` writes the gates' result digests instead of running passes;
  * `--prepare-only 1` stops once the set-ups are done and the workload has
  * prepared its inputs.
  */
object Harness {
  val Setups = 3
  val MinWarmPasses = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = session(cpus, data)
    setups += (System.currentTimeMillis() - jvmStartMs) / 1e3
    for (_ <- 1 until Setups) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(cpus, data)
      setups += (System.nanoTime() - t0) / 1e9
    }
    System.err.println("[perfbench] set-ups: " + setups.map(x => f"$x%.3f").mkString(" "))
    val sc = spark.sparkContext
    def drainBus(): Unit = org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(sc)

    val rng = new Random(seed)
    val w = Workloads(workload, spark, data, work, a.getOrElse("prep", s"$work/prep"), rng)
    if (a.get("prepare-only").contains("1")) { spark.stop(); return }
    val pinFile = a.get("pin")
    if (pinFile.isDefined) {
      val lines = w.digests(rng).sortBy(_._1).map { case (g, d) => s"  ${Json.str(g)}: ${Json.str(d)}" }
      Files.writeString(Paths.get(pinFile.get), lines.mkString("{\n", ",\n", "\n}\n"))
      spark.stop()
      return
    }

    val origin = System.nanoTime()
    val tracer = new Tracer(origin)
    val cpu = new CpuListener
    sc.addSparkListener(cpu)
    val layers = new LayerListener
    val plans = new PlanListener
    val streams = new StreamListener
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def listen(on: Boolean): Unit = {
      tracer.enabled = on
      if (on) {
        sc.addSparkListener(layers); classic.listenerManager.register(plans)
        spark.streams.addListener(streams)
      } else {
        sc.removeSparkListener(layers); classic.listenerManager.unregister(plans)
        spark.streams.removeListener(streams)
      }
    }

    var heapPeakMb = Polled.liveHeapMb()
    val passes = mutable.ArrayBuffer.empty[String]
    var stepNo = 0
    var failedSteps = 0

    def runPass(kind: String, traceOn: Boolean): Unit = {
      if (traceOn) listen(on = true)
      val steps = w.pass(rng)
      val stepsJson = mutable.ArrayBuffer.empty[String]
      drainBus()
      val cpu0 = cpu.cpuNs.get()
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      tracer("pass") {
        steps.foreach { s =>
          tracer.step = stepNo
          val before = if (traceOn) Polled.snapshot() else Map.empty[String, Double]
          val s0 = System.nanoTime()
          val err = try { tracer("step")(s.body(tracer)); None } catch {
            case NonFatal(e) => Some(e)
          }
          val wall = (System.nanoTime() - s0) / 1e9
          err.foreach { e =>
            failedSteps += 1
            System.err.println(s"[perfbench] FAILED $workload ${s.name} ($kind pass): $e")
          }
          val extra = if (traceOn) {
            drainBus()
            val (counts, jobs) = layers.drain()
            val all = counts ++ plans.drain() ++ Polled.delta(before)
            Seq("layers" -> Json.obj(all.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
              "jobs" -> Json.arr(jobs.map { case (b, e) => Json.arr(Seq(Json.num(b), Json.num(e))) }),
              "batches" -> Json.arr(streams.drain().map(batchJson)))
          } else Nil
          stepsJson += Json.obj(Seq("id" -> Json.num(stepNo), "name" -> Json.str(s.name),
            "ok" -> err.isEmpty.toString, "wall_s" -> Json.num(wall)) ++ extra)
          stepNo += 1
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val space = w match {
        case st: StoreLifecycle => Seq("store_space_mb" -> Json.num(st.spaceMb()),
          "store_files" -> Json.num(st.files()),
          "store_input_bytes" -> Json.num(st.inputBytes))
        case _ => Nil
      }
      drainBus()
      heapPeakMb = math.max(heapPeakMb, Polled.liveHeapMb())
      System.err.println(f"[perfbench] $kind pass${if (traceOn) " (traced)" else ""}: $wall%.3f s")
      passes += Json.obj(Seq("kind" -> Json.str(kind), "traced" -> traceOn.toString,
        "wall_s" -> Json.num(wall), "start_ms" -> Json.num(t0ms), "end_ms" -> Json.num(t1ms),
        "cpu_s" -> Json.num((cpu.cpuNs.get() - cpu0) / 1e9),
        "steps" -> Json.arr(stepsJson.toSeq)) ++ space)
      if (traceOn) listen(on = false)
    }

    val measureStart = System.nanoTime()
    tracer.enabled = traced
    tracer("workload") {
      runPass("cold", traced)
      var warm = 0
      while (warm < MinWarmPasses || (System.nanoTime() - measureStart) / 1e9 < seconds) {
        runPass("warm", traced && warm % 2 == 0)
        warm += 1
      }
    }
    tracer.enabled = false
    val measured = (System.nanoTime() - measureStart) / 1e9

    val pinned = a.get("digests").map(p => Json.parseFlat(Files.readString(Paths.get(p))))
      .getOrElse(Map.empty)
    val c0 = System.nanoTime()
    val checked = w.check(rng, pinned)
    System.err.println(f"[perfbench] check pass: ${(System.nanoTime() - c0) / 1e9}%.3f s")
    checked.filterNot(_.ok).foreach(c =>
      System.err.println(s"[perfbench] CHECK FAILED $workload ${c.name}: ${c.detail}"))

    val spans = tracer.spans.map(s => Json.obj(Seq("id" -> Json.num(s.id),
      "parent" -> Json.num(s.parent), "name" -> Json.str(s.name), "step" -> Json.num(s.step),
      "start_s" -> Json.num(s.start / 1e9), "end_s" -> Json.num(s.end / 1e9))))
    val raw = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed),
      "cpus" -> Json.num(cpus), "seconds" -> Json.num(seconds), "traced" -> traced.toString,
      "setups_s" -> Json.arr(setups.map(Json.num).toSeq),
      "measured_s" -> Json.num(measured), "heap_peak_mb" -> Json.num(heapPeakMb),
      "failed_steps" -> Json.num(failedSteps),
      "passes" -> Json.arr(passes.toSeq),
      "check" -> Json.arr(checked.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail))))),
      "spans" -> Json.arr(spans.toSeq)))
    Files.write(Paths.get(a("raw")), raw.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** A tuned local session, ready once a fixed warm-up action is done. */
  private def session(cpus: Int, data: String): SparkSession = {
    val spark = graft.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    graft.Tables(spark, data, "lineitem").groupBy("l_returnflag")
      .agg(sum("l_quantity")).collect()
    spark
  }

  private def batchJson(b: Batch): String = Json.obj(Seq(
    "durations_ms" -> Json.obj(b.durations.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
    "input_rows" -> Json.num(b.inputRows), "state_commit_ms" -> Json.num(b.stateCommitMs),
    "state_rows" -> Json.num(b.stateRows), "state_mem_bytes" -> Json.num(b.stateMemBytes)))
}

/** Just enough JSON for the raw file and the pinned digests. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** A flat `{"key": "value", ...}` object of plain strings. */
  def parseFlat(s: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
}
