package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Byte-level pins of every persisted store's meta file. The meta is
  * the completeness marker and the format contract a later build must
  * read back, so its exact bytes are part of the on-disk format: each
  * literal below was written by the store before the shared meta codec
  * in [[IndexFiles]] replaced the per-store copies, and must stay
  * byte-identical after create/build/save and after each mutation.
  */
class StoreMetaGoldenSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_golden_").toString

  private def delete(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

  private def meta(dir: String, file: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/$file"))

  private def docsDF(s: SparkSession, ids: Seq[Long]): DataFrame = {
    import s.implicits._
    ids.map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} body$i"))
      .toDF("doc_id", "text")
  }

  private def vecsDF(s: SparkSession, rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def idsDF(s: SparkSession, ids: Seq[Long]): DataFrame = {
    import s.implicits._
    ids.toDF("id")
  }

  test("LshIndex meta bytes after build, append and remove") {
    val root = tmp()
    try {
      val p = s"$root/idx"
      LshIndex.build(spark, p, docsDF(spark, 0L until 20L), "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val built = """{"version":2,"idCol":"doc_id","shingleWidth":1,""" +
        """"numHashes":8,"numBands":2,"payload":"h1"}"""
      meta(p, "_lsh_meta.json") shouldBe built
      LshIndex.append(spark, p, docsDF(spark, 20L until 24L), "text",
        batchMarker = Some(0L))
      meta(p, "_lsh_meta.json") shouldBe built
      LshIndex.remove(spark, p, idsDF(spark, Seq(3L, 21L)))
      meta(p, "_lsh_meta.json") shouldBe built.replace(
        """"version":2""", """"version":3""")
      LshIndex.compactFrames(spark, p)
      meta(p, "_lsh_meta.json") shouldBe built
    } finally delete(root)
  }

  test("SrpIndex meta bytes after build, remove and compaction") {
    val root = tmp()
    try {
      val p = s"$root/idx"
      val vecs = (0L until 20L).map(i =>
        i -> Seq.tabulate(8)(d => (((i * 31 + d * 7) % 13) - 6).toFloat))
      SrpIndex.build(spark, p, vecsDF(spark, vecs),
        numBands = 2, planesPerBand = 4, dims = 8)
      val built =
        """{"version":1,"idCol":"vec_id","numBands":2,"planesPerBand":4,"dims":8}"""
      meta(p, "_srp_meta.json") shouldBe built
      SrpIndex.remove(spark, p, idsDF(spark, Seq(4L)))
      meta(p, "_srp_meta.json") shouldBe built.replace(
        """"version":1""", """"version":2""")
      SrpIndex.compactFrames(spark, p)
      meta(p, "_srp_meta.json") shouldBe built
    } finally delete(root)
  }

  test("IvfIndex meta bytes after save, append and remove") {
    val root = tmp()
    try {
      val p = s"$root/idx"
      val centroids = vecsDF(spark, Seq(
        0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f)))
      val corpus = vecsDF(spark, Seq(
        10L -> Seq(3f, 1f, 0f, 0f), 11L -> Seq(0f, 2f, 0f, 0f),
        12L -> Seq(1f, 0f, 1f, 0f)))
      IvfIndex.save(spark, p, centroids, None)
      meta(p, "_ivf_meta.json") shouldBe
        """{"version":1,"idCol":"vec_id","vecCol":"embedding","hasAssignments":false}"""
      IvfIndex.save(spark, p, centroids,
        Some(Similarity.assignToCentroids(corpus, centroids)))
      val saved = """{"version":1,"idCol":"vec_id","vecCol":"embedding",""" +
        """"hasAssignments":true,"trainN":3,"trainDistSum":0.34420992076293877,""" +
        """"appendN":0,"appendDistSum":0.0}"""
      meta(p, "_ivf_meta.json") shouldBe saved
      IvfIndex.append(spark, p,
        vecsDF(spark, Seq(13L -> Seq(0f, 1f, 1f, 1f))), batchMarker = Some(0L))
      val appended = saved.replace(""""appendN":0,"appendDistSum":0.0""",
        """"appendN":1,"appendDistSum":0.42264973081037416""")
      meta(p, "_ivf_meta.json") shouldBe appended
      IvfIndex.remove(spark, p, idsDF(spark, Seq(11L)))
      meta(p, "_ivf_meta.json") shouldBe appended.replace(
        """"version":1""", """"version":2""")
    } finally delete(root)
  }

  test("LabelStore meta bytes after create, fold, remove and compact") {
    import spark.implicits._
    val root = tmp()
    try {
      val p = s"$root/store"
      LabelStore.create(spark, p,
        Seq(1L -> 1L, 2L -> 1L, 3L -> 3L).toDF("id", "label"))
      meta(p, "_labels_meta.json") shouldBe """{"version":1,"opSeq":0}"""
      LabelStore.foldBatch(spark, p, Seq(4L).toDF("id"),
        Seq(4L -> 3L).toDF("s", "t"))
      meta(p, "_labels_meta.json") shouldBe """{"version":1,"opSeq":1}"""
      LabelStore.remove(spark, p, Seq(2L).toDF("id"),
        _ => Seq.empty[(Long, Long)].toDF("s", "t"))
      meta(p, "_labels_meta.json") shouldBe """{"version":1,"opSeq":2}"""
      LabelStore.compact(spark, p)
      meta(p, "_labels_meta.json") shouldBe """{"version":1,"opSeq":2}"""
    } finally delete(root)
  }

  test("Frontier meta bytes after create, fold and compactSeen") {
    import spark.implicits._
    val root = tmp()
    try {
      val p = s"$root/frontier"
      Frontier.create(spark, p, Seq("a.test/0").toDF("nurl"))
      meta(p, "_frontier_meta.json") shouldBe
        """{"version":1,"rounds":0,"seenFrom":0}"""
      Frontier.foldRound(spark, p, Seq("a.test/1", "a.test/2").toDF("nurl"),
        Seq.empty[(String, Boolean, String)].toDF("host", "allow", "pattern"))
      meta(p, "_frontier_meta.json") shouldBe
        """{"version":1,"rounds":1,"seenFrom":0}"""
      Frontier.compactSeen(spark, p)
      meta(p, "_frontier_meta.json") shouldBe
        """{"version":1,"rounds":1,"seenFrom":1}"""
    } finally delete(root)
  }
}
