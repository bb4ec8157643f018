package graft

/** [[SessionTuning.local]] refuses a static conf that an existing
  * session cannot take, instead of returning a session that silently
  * runs without it.
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
}
