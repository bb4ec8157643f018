package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork).
  * Built through [[SessionTuning.local]] so every spec — the plan pins
  * in particular — exercises the SAME session posture the runtime entry
  * points (Bench/Verify) run with.
  */
object SparkSpec {
  lazy val spark: SparkSession =
    SessionTuning.local(4, "spark.app.name" -> "graft-test")
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the given session confs set, restoring each to its
    * previous value (or unset, if it had none) after — the one shared
    * conf-window helper for specs, so restore semantics live in one
    * place.
    */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
