package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The session-shared gate fixtures ([[GateFixtures]]). */
class GateFixturesSpec extends SparkSpec {

  /** ConcurrentHashMap's bin of `key` in any table of up to 2^16 bins. */
  private def bin(key: String): Int = {
    val h = key.hashCode
    (h ^ (h >>> 16)) & 0xffff
  }

  test("streamedLabelStore builds when its key shares a map bin with the shared index") {
    // The streamed store's cache entry used to be computed inside a
    // computeIfAbsent that itself called computeIfAbsent on the same
    // map for the shared index and the prior labels. ConcurrentHashMap
    // throws "Recursive update" when the nested key lands in the bin
    // the outer call reserved, and the keys embed the hash of the data
    // directory — so pick a directory name that forces that collision.
    val base = java.nio.file.Files.createTempDirectory("graft_gatefix_spec_").toString
    val dir = Iterator.from(0).map(i => s"$base/sf_$i").find { d =>
      val hex = Integer.toHexString(d.hashCode)
      bin(s"stlabels_$hex") == bin(s"lsh_${hex}_200")
    }.get
    try {
      org.apache.commons.io.FileUtils.copyFile(
        new java.io.File(s"$sf/documents.parquet"),
        new java.io.File(s"$dir/documents.parquet"))
      val store = GateFixtures.streamedLabelStore(spark, dir)
      // prior labels cover doc_id < 200, the stream folds [200, 300)
      graft.ext.LabelStore.load(spark, store).count() shouldBe
        graft.Tables(spark, dir, "documents").filter(col("doc_id") < 300).count()
      GateFixtures.streamedLabelStore(spark, dir) shouldBe store
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
