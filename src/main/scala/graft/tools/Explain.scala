package graft.tools

/** Dev tool: print formatted physical plans for named queries —
  * `run_class.sh graft.tools.Explain q5_revenue_by_nation ...`; cores
  * via SPARK_GRAFT_CPUS (default 8), like Bench, Verify and BenchSome.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { q =>
      println(s"===== $q =====")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
