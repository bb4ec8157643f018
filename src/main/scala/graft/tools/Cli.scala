package graft.tools

import org.apache.spark.sql.SparkSession
import graft.pipeline.{CancelToken, ConfigLoader, Registry, Runner}
import graft.sources.TreeScan

/** Command-line front end — the reference's `cli/app.py`:
  * `run <root> --config <yaml|json>` scans the tree, loads the config
  * (plugins + rules + recorder injection) and executes the pipeline;
  * `--processors` lists what the config's plugins register;
  * `--generate-template [path]` writes a starter config;
  * `--simulate` dry-runs the rule plan (`core/engine.py:163-314`).
  *
  * Output: each post-processor result is written as CSV under
  * `--output` (default `./graft_out`), plus a `steps.csv` run log.
  * Ctrl-C installs a cooperative cancel (CancelToken) before the JVM
  * dies: in-flight jobs are killed, the partial step log still lands.
  */
object Cli {

  private val usage =
    """usage: graft.tools.Cli <root> --config <path> [--output <dir>]
      |                        [--simulate] [--max-items N] [--filter SUBSTR]
      |       graft.tools.Cli --config <path> --processors
      |       graft.tools.Cli --generate-template [path]""".stripMargin

  private val template =
    """# graft pipeline config template (reference loader.py:130-147 shape)
      |plugins: []
      |enable_builtin_recorders: false
      |
      |"**/*.txt":
      |  processors:
      |    - backup
      |
      |"**/*.log":
      |  processors:
      |    - analyze_log
      |  priority: 5
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val a = args.toList
    def flag(name: String): Boolean = a.contains(name)
    def die(msg: String): Nothing = {
      System.err.println(s"$msg\n$usage"); sys.exit(2)
    }
    // lenient lookup for options whose value is OPTIONAL
    // (--generate-template): a following "--flag" is not a value
    def optValue(name: String): Option[String] =
      a.sliding(2).collectFirst {
        case `name` :: v :: Nil if !v.startsWith("--") => v
      }
    // strict lookup for value-REQUIRING options: a missing value is a
    // usage error, not a silent no-op (otherwise `--max-items --filter
    // x` would ignore the cap the user asked for)
    def opt(name: String): Option[String] =
      if (!a.contains(name)) None
      else optValue(name) match {
        case None => die(s"$name needs a value")
        case some => some
      }
    def intOpt(name: String): Option[Int] =
      opt(name).map { v =>
        try {
          val n = v.toInt
          if (n < 0) die(s"$name must be >= 0, got '$v'") else n
        } catch { case _: NumberFormatException =>
          die(s"$name needs an integer, got '$v'")
        }
      }

    if (flag("--generate-template")) {
      val path = optValue("--generate-template").getOrElse("config.yaml")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), template)
      println(s"template written: $path")
      return
    }

    val configPath = opt("--config").getOrElse {
      System.err.println(usage); sys.exit(2)
    }
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(configPath)), "UTF-8")
    val cfg =
      if (configPath.endsWith(".json")) ConfigLoader.fromJson(text)
      else ConfigLoader.fromYaml(text)

    val registry = new Registry
    cfg.loadPlugins(registry)

    if (flag("--processors")) {
      println("registered processors:")
      registry.all.foreach(e => println(s"  - ${e.name} (${e.kind})"))
      return
    }

    val root = a.headOption.filterNot(_.startsWith("--")).getOrElse {
      System.err.println(usage); sys.exit(2)
    }
    val outDir = opt("--output").getOrElse("graft_out")

    // reuse an already-running session (tests, notebooks) and leave its
    // lifecycle alone; own — and stop — only a session we created, which
    // runs the same engine posture as Bench and Verify
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = existing.getOrElse(graft.SessionTuning.tuned(
      SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-cli")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.ui.enabled", "false"))
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    def stopIfOwned(): Unit = if (existing.isEmpty) spark.stop()

    val files = TreeScan.scan(spark, root)
    val plan = cfg.withBuiltinRecorders(registry)
    val runner = new Runner(registry)

    if (flag("--simulate")) {
      runner.simulate(files, plan,
          patternFilter = opt("--filter"),
          maxItems = intOpt("--max-items"))
        .show(1000, truncate = false)
      stopIfOwned()
      return
    }

    val token = CancelToken(spark)
    // Ctrl-C → cooperative cancel; guard against firing on a normal
    // exit after spark.stop(), and deregister once the run completes
    // so repeated in-JVM invocations don't accumulate hooks
    val hook = new Thread(() =>
      if (!spark.sparkContext.isStopped) token.cancel())
    Runtime.getRuntime.addShutdownHook(hook)
    try
      // the job group must wrap the EXPORTS too — plan building runs
      // no jobs; the cancellable work happens at write time
      token.withJobGroup(s"cli run of $root") {
        val result = runner.run(files, plan, cancel = Some(token))
        result.postResults.foreach { case (name, df) =>
          graft.sinks.Exporters.csv(df, s"$outDir/$name", singleFile = true)
          println(s"wrote $outDir/$name")
        }
        import spark.implicits._
        graft.sinks.Exporters.csv(
          result.steps.toDF(), s"$outDir/steps", singleFile = true)
        println(s"wrote $outDir/steps (${result.steps.size} steps)")
      }
    finally
      // during an actual Ctrl-C shutdown removal itself throws —
      // swallowing it keeps the informative cancellation exception
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () }
    stopIfOwned()
  }
}
