package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed unit of a pass: a gate call plus its action, or one store op.
  * `body` opens its own layer spans through the tracer.
  */
final case class Step(name: String, body: Tracer => Unit)

/** Outcome of one step of the untimed check pass. */
final case class Checked(name: String, ok: Boolean, detail: String)

/** A workload: the steps of each pass, and the check that its outputs are
  * correct. `rng` is seeded from `--seed`; it orders the steps and, for
  * `store_lifecycle`, picks the id slices.
  */
trait Workload {
  def pass(rng: Random): Seq[Step]
  def check(rng: Random, pinned: Map[String, String]): Seq[Checked]
  /** Gate name -> digest of this commit's result, for pinning. */
  def digests(rng: Random): Seq[(String, String)]
}

object Workloads {
  val gateSets: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q1_pricing_summary", "q5_revenue_by_nation", "q9_window_rank"),
    "curation" -> Seq("q88_quantile_sketch", "q138_heavy_hitters", "q140_bpe_tokens"),
    "streaming" -> Seq("q73_stream_sessions", "q84_stream_dedup"))

  val names: Seq[String] = (gateSets.keys.toSeq :+ "store_lifecycle").sorted

  def apply(name: String, spark: SparkSession, data: String, work: String,
            prep: String, rng: Random): Workload =
    if (name == "store_lifecycle") new StoreLifecycle(spark, data, work, prep, rng)
    else new Gates(spark, data, gateSets(name))
}

/** Gate workloads: each step is one `SparkEntry.queries` function
  * (`queries.build`: the call, with whatever eager work the gate does)
  * followed by the bench's noop write (`action.noop`).
  */
final class Gates(spark: SparkSession, data: String, gates: Seq[String])
    extends Workload {
  private def fn(g: String) = graft.SparkEntry.queries(g)

  def pass(rng: Random): Seq[Step] = rng.shuffle(gates).map { g =>
    Step(g, t => {
      val df = t("queries.build")(fn(g)(spark, data))
      t("action.noop")(df.write.format("noop").mode("overwrite").save())
    })
  }

  def digests(rng: Random): Seq[(String, String)] =
    rng.shuffle(gates).map(g => g -> Digest.of(fn(g)(spark, data))._2)

  def check(rng: Random, pinned: Map[String, String]): Seq[Checked] =
    rng.shuffle(gates).map { g =>
      val got = Digest.of(fn(g)(spark, data))._2
      pinned.get(g) match {
        case Some(want) if want == got => Checked(g, ok = true, got)
        case Some(want) => Checked(g, ok = false, s"digest $got, pinned $want")
        case None => Checked(g, ok = false, s"no pinned digest (got $got)")
      }
    }
}

/** Writes beside reads through the persisted stores' public APIs. A pass
  * runs five op chains in a seeded interleaving (each chain keeps its own
  * order) inside a fresh directory:
  *  - LSH index: build over the corpus, append a seeded block of 50
  *    documents under a batch marker;
  *  - label store: create from the corpus's full-recompute labeling, read;
  *  - IVF index: save with the corpus's centroids, remove;
  *  - crawl frontier: create;
  *  - history sink: enqueue and flush.
  * The seed draws the appended block and the removed vectors once per run, so
  * every pass of a run does the same work. The corpora are fixed: their
  * labeling and IVF centroids, the stores' inputs rather than store work,
  * are computed once per build (`prep`), untimed.
  */
final class StoreLifecycle(spark: SparkSession, data: String, work: String,
                           prep: String, rng: Random) extends Workload {
  import StoreLifecycle._

  private val docs = graft.Tables(spark, data, "documents").select("doc_id", "text")
  private val vecs = graft.Tables(spark, data, "embeddings").select("vec_id", "embedding")

  // fixed corpora, so their labeling and centroids are computed once per
  // build; the seed picks the appended block and the removed vectors
  private val corpusIds = (0 until CorpusDocs).toList
  private val batchIds = {
    val b = CorpusDocs / 50 + rng.nextInt((NumDocs - CorpusDocs) / 50)
    (b * 50 until b * 50 + 50).toList
  }
  private val vecCorpusIds = (0 until CorpusVecs).toList
  private val vecRemoveIds = rng.shuffle(vecCorpusIds).take(20).sorted
  private val seedIds = rng.shuffle((0 until NumDocs).toList).take(20)

  private def ids(xs: Seq[Int]): Column = col("doc_id").isin(xs: _*)
  private def docSlice(xs: Seq[Int]): DataFrame = docs.filter(ids(xs))
  private def vecSlice(xs: Seq[Int]): DataFrame = vecs.filter(col("vec_id").isin(xs: _*))

  /** The labeling a full recompute gives over these documents. */
  private def recompute(docIds: Seq[Int]): DataFrame = {
    val corpus = docSlice(docIds)
    graft.ext.DupClusters.componentsStar(
      graft.ext.Dedup.lshNearDupPairs(corpus, "text", "doc_id", shingleWidth = 1,
        numHashes = 24, numBands = 3, threshold = 0.9)
        .select(col("id_a").as("s"), col("id_b").as("t")),
      corpus.select(col("doc_id").as("id")))
  }

  /** `make`'s frame, written under `prep/name` by the first run of a build. */
  private def prepared(name: String)(make: => DataFrame): DataFrame = {
    val dst = new java.io.File(s"$prep/$name")
    if (!dst.exists()) {
      val tmp = s"$prep/$name.tmp"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      make.write.parquet(tmp)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), dst.toPath)
    }
    spark.read.parquet(dst.getPath)
  }

  private val corpusLabels = prepared("corpus_labels")(recompute(corpusIds))
  private val centroids = prepared("centroids")(
    graft.ext.Similarity.kmeansTrain(vecSlice(vecCorpusIds),
      vecSlice(vecCorpusIds.take(8)), iters = 2, dims = 64))

  /** Input bytes one pass ingests: document text and 4-byte vector cells. */
  lazy val inputBytes: Long =
    docSlice(corpusIds ++ batchIds).agg(sum(length(col("text")))).head().getLong(0) +
      4L * 64 * vecCorpusIds.size

  private var passNo = 0
  private def dir: String = s"$work/store/p$passNo"

  private def lshChain(d: String): List[(String, () => Unit)] = {
    val idx = s"$d/lsh"
    List(
      "lsh.build" -> (() => graft.ext.LshIndex.build(spark, idx,
        docSlice(corpusIds), "text", "doc_id", shingleWidth = 1,
        numHashes = 24, numBands = 3)),
      "lsh.append" -> (() => graft.ext.LshIndex.append(spark, idx,
        docSlice(batchIds), "text", batchMarker = Some(0L))))
  }

  private def labelChain(d: String): List[(String, () => Unit)] = List(
    "labels.create" -> (() => graft.ext.LabelStore.create(spark, s"$d/labels", corpusLabels)),
    "labels.load" -> (() => graft.ext.LabelStore.load(spark, s"$d/labels").count()))

  private def ivfChain(d: String): List[(String, () => Unit)] = {
    val idx = s"$d/ivf"
    List(
      "ivf.save" -> (() => graft.ext.IvfIndex.save(spark, idx, centroids,
        Some(graft.ext.Similarity.assignToCentroids(vecSlice(vecCorpusIds), centroids)))),
      "ivf.remove" -> (() => graft.ext.IvfIndex.remove(spark, idx,
        vecSlice(vecRemoveIds).select("vec_id"))))
  }

  private def frontierChain(d: String): List[(String, () => Unit)] = {
    val seeds = docSlice(seedIds).select(concat(lit("h"),
      (col("doc_id") % 7).cast("string"), lit(".test/d/"),
      col("doc_id").cast("string")).as("nurl"))
    List("frontier.create" -> (() => graft.ext.Frontier.create(spark, s"$d/frontier", seeds)))
  }

  private def historyChain(d: String): List[(String, () => Unit)] = {
    lazy val h = new graft.sinks.History(spark, s"$d/history", batchSize = 1000)
    List(
      "history.enqueue" -> (() => (0 until HistoryRecords).foreach { i =>
        h.enqueue(graft.sinks.History.Record(f"2024-01-01T00:00:$i%02d",
          s"p$passNo", "inline", s"/data/f$i", "bench", "ok", i.toLong, i.toLong, ""))
      }),
      "history.flush" -> (() => h.flush()))
  }

  /** Merge the chains in a seeded order that keeps each chain's own order. */
  private def interleave(rng: Random,
                         chains: List[List[(String, () => Unit)]]): List[(String, () => Unit)] = {
    var rest = chains.filter(_.nonEmpty)
    val out = List.newBuilder[(String, () => Unit)]
    while (rest.nonEmpty) {
      val weights = rest.map(_.size)
      var pick = rng.nextInt(weights.sum)
      val i = weights.indexWhere { w => pick -= w; pick < 0 }
      out += rest(i).head
      rest = rest.updated(i, rest(i).tail).filter(_.nonEmpty)
    }
    out.result()
  }

  /** A fresh directory per pass; the previous pass's stores are dropped
    * here, before the pass is timed.
    */
  def pass(rng: Random): Seq[Step] = {
    deleteDir()
    passNo += 1
    val d = dir
    interleave(rng,
      List(lshChain(d), labelChain(d), ivfChain(d), frontierChain(d), historyChain(d)))
      .map { case (op, body) => Step(op, t => t("store." + op)(body())) }
  }

  /** On-disk size of the current pass directory, MB. */
  def spaceMb(): Double =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(dir)) /
      (1024.0 * 1024.0)

  /** Number of files in the current pass directory. */
  def files(): Int =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true).size

  private def deleteDir(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  def digests(rng: Random): Seq[(String, String)] = Nil

  /** Checks the last timed pass's stores: the appended LSH index must
    * hold the same base and banded frames as one built over the corpus
    * plus the block in one go (the index's append contract, for any
    * seed), and the label store must read back the corpus labeling.
    */
  def check(rng: Random, pinned: Map[String, String]): Seq[Checked] = {
    def compare(name: String, got: DataFrame, want: DataFrame): Checked = {
      val (g, w) = (Digest.of(got), Digest.of(want))
      Checked(name, g == w, s"store ${g._1} rows ${g._2}, recompute ${w._1} rows ${w._2}")
    }
    graft.ext.LshIndex.build(spark, s"$dir/lsh_full", docSlice(corpusIds ++ batchIds),
      "text", "doc_id", shingleWidth = 1, numHashes = 24, numBands = 3)
    val appended = graft.ext.LshIndex.load(spark, s"$dir/lsh")
    val full = graft.ext.LshIndex.load(spark, s"$dir/lsh_full")
    val out = Seq(
      compare("lsh.base=build", appended.base, full.base),
      compare("lsh.banded=build", appended.banded, full.banded),
      compare("labels=recompute", graft.ext.LabelStore.load(spark, s"$dir/labels"),
        corpusLabels))
    deleteDir()
    out
  }
}

object StoreLifecycle {
  val NumDocs = 1000
  val NumVecs = 1000
  val CorpusDocs = 100
  val CorpusVecs = 300
  val HistoryRecords = 50
}
