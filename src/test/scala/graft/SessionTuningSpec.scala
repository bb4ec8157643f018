package graft

/** [[SessionTuning.local]] refuses a static conf that an existing
  * session cannot take, and a `file:` scheme that does not resolve to
  * the fork-free file system, instead of returning a session that
  * silently runs without it.
  */
class SessionTuningSpec extends SparkSpec {

  test("a codegen cache size the existing session cannot take is an error") {
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "5000"
    val e = intercept[IllegalArgumentException] {
      SessionTuning.local(4, "spark.sql.codegen.cache.maxEntries" -> "100")
    }
    e.getMessage should include("spark.sql.codegen.cache.maxEntries")
    e.getMessage should include("requested 100")
    e.getMessage should include("runs with 5000")
  }

  test("a Hadoop conf whose file: scheme is not the fork-free file system is an error") {
    SessionTuning.requireForkFreeLocalFs(spark.sparkContext.hadoopConfiguration)
    // a stock conf still gets the cached FileSystem, but FileContext
    // resolves file: afresh, to Hadoop's own LocalFs
    val e = intercept[IllegalArgumentException] {
      SessionTuning.requireForkFreeLocalFs(new org.apache.hadoop.conf.Configuration())
    }
    e.getMessage should include("FileContext org.apache.hadoop.fs.local.LocalFs")
  }
}
