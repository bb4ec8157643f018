package graft.tools

/** Dev tool: time named queries with Bench's noop-write action —
  * `run_class.sh graft.tools.BenchSome q56_repetition ...` (sf dir via
  * SPARK_GRAFT_SF_DIR, default sf0.1; cores via SPARK_GRAFT_CPUS,
  * default 32). Each named query runs once, timed, with no warmup: the
  * first one carries the JVM's class loading and codegen, so name a
  * query twice, or lead with a throwaway, to time it warm.
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      // label every job with its gate (guide §1.5) so event-log
      // profiling attributes driver/job time per gate
      spark.sparkContext.setJobDescription(q)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"$q%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
