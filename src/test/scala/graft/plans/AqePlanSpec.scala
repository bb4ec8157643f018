package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** AQE-ON twins of [[PlanRegressionSpec]]'s pinned queries (round-11
  * verdict ask #2): PlanRegressionSpec counts the STATIC plan with AQE
  * off, but a production 100 TB run enables AQE — so these tests
  * EXECUTE each query under AQE and assert the invariants that must
  * SURVIVE adaptation on the final adaptive plan:
  *
  *  - no `CartesianProduct` / `BroadcastNestedLoopJoin` materializes
  *    at runtime,
  *  - hinted broadcasts are honored (exactly the hinted dims become
  *    BroadcastHashJoins — and with both broadcast thresholds pinned
  *    to -1, ONLY the hinted ones, the 100 TB shape where facts never
  *    fit a broadcast),
  *  - filter pushdown reaches the same scans (AQE re-optimizes stages,
  *    never un-pushes a scan filter),
  *  - real shuffle-exchange count is unchanged (AQE coalesces
  *    partitions inside a shuffle; with join strategies pinned by
  *    hints it must not add or drop exchanges),
  *  - q90's salt partitioning is still what both join sides shuffle on.
  *
  * Unlike the static spec, the final adaptive plan only exists after
  * execution (`AdaptiveSparkPlanExec.executedPlan` is populated as
  * stages finish), so every assertion here pays one real run of the
  * query at spec scale. Completed stages appear as [[QueryStageExec]]
  * LEAVES of the final plan, so the collectors recurse into
  * `stage.plan` explicitly — a plain `collect` sees only the last
  * stage's operators. Reused stages wrap [[ReusedExchangeExec]];
  * "real" exchange counts skip those (the bytes are shuffled once).
  */
class AqePlanSpec extends SparkSpec {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def withAqe[T](body: => T): T =
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      // both thresholds: the static planner consults the first, AQE's
      // runtime re-planning the second — hint-only means pinning both
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Execute `df` (driving all adaptive stages to completion) and
    * return every operator of the FINAL adaptive plan, recursing into
    * completed query-stage leaves.
    */
  private def finalOperators(df: DataFrame): Seq[SparkPlan] = {
    df.queryExecution.toRdd.count() // materialize: finalizes the adaptive plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case s: QueryStageExec => flatten(s.plan)
        case _                 => Nil
      }
      p +: (p.children.flatMap(flatten) ++ nested)
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan should not be null
        flatten(a.executedPlan)
      case other =>
        fail(s"expected an adaptive plan under AQE, got ${other.nodeName}")
    }
  }

  private case class AqeShape(realShuffles: Int, realBroadcasts: Int,
                              bhj: Int, smj: Int, pushedScans: Int)

  private def shapeOf(ops: Seq[SparkPlan]): AqeShape = AqeShape(
    realShuffles = ops.count(_.isInstanceOf[ShuffleExchangeExec]),
    realBroadcasts = ops.count(_.isInstanceOf[BroadcastExchangeExec]),
    bhj = ops.count(_.isInstanceOf[BroadcastHashJoinExec]),
    smj = ops.count(_.isInstanceOf[SortMergeJoinExec]),
    pushedScans = ops.count {
      case s: FileSourceScanExec =>
        s.metadata.get("PushedFilters").exists(_ != "[]")
      case _ => false
    })

  private def assertNoRuntimeCartesian(ops: Seq[SparkPlan]): Unit = {
    val names = ops.map(_.nodeName)
    names.find(_.contains("CartesianProduct")) shouldBe None
    names.find(_.contains("BroadcastNestedLoopJoin")) shouldBe None
  }

  // ---- the same pinned queries, adaptive-final shape -----------------
  // realShuffles must match PlanRegressionSpec's static count: with
  // join strategies hint-pinned, adaptation may only coalesce inside
  // a shuffle, never add or remove one. ReusedExchange is NOT counted
  // (q5's two fact joins share distribution where the planner reuses).
  private val expected = Map(
    "q2_filter_project" -> AqeShape(1, 0, bhj = 0, smj = 0, pushedScans = 1),
    "q5_revenue_by_nation" -> AqeShape(6, 2, bhj = 2, smj = 2, pushedScans = 5),
    "q94_unigram_quality" -> AqeShape(3, 1, bhj = 1, smj = 0, pushedScans = 1),
    "q96_seq_packing" -> AqeShape(2, 0, bhj = 0, smj = 0, pushedScans = 0),
    // 5 selector branches since the float-keyed record landed (r12)
    "q102_record_store" -> AqeShape(9, 0, bhj = 0, smj = 0, pushedScans = 8),
    // the unflatten-vs-source compare joins as one (hint-less) SMJ
    "q103_nested_paths" -> AqeShape(3, 0, bhj = 0, smj = 1, pushedScans = 2))

  for ((name, want) <- expected.toSeq.sortBy(_._1)) {
    test(s"$name: AQE-on final plan keeps the static invariants") {
      withAqe {
        val ops = finalOperators(q(name))
        assertNoRuntimeCartesian(ops)
        withClue(s"$name adaptive final plan drifted: ") {
          shapeOf(ops) shouldBe want
        }
      }
    }
  }

  test("q30 LSH pair plan under AQE: no cartesian, no broadcast arm, 7 real stages") {
    withAqe {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") < 60)
      val (pairs, caches, _) = graft.ext.Dedup.lshNearDupPairsLazy(
        docs, "text", "doc_id", 1, 24, 3, 0.9)
      try {
        val ops = finalOperators(pairs)
        assertNoRuntimeCartesian(ops)
        val got = shapeOf(ops)
        withClue("q30 adaptive pair plan drifted: ") {
          // 7, not the static plan's 5: statically, ReuseExchange dedups
          // the banded self-join's twin exchanges (both sides shuffle
          // the same cached frame on (band_idx, band_hash)); AQE
          // materializes each side as its OWN stage across the table-
          // cache boundary, so both band exchanges are real, plus the
          // pair dedup agg and the four verify-join distributions.
          // That is the true AQE runtime cost shape (the 'default' row
          // of BASELINE §"AQE skew-split on the LSH pair stage") —
          // pinned so a change in either direction (reuse starts
          // firing, or more stages appear) is a visible event, not
          // silent drift.
          got.realShuffles shouldBe 7
          got.realBroadcasts shouldBe 0
          got.bhj shouldBe 0
        }
      } finally caches.foreach(_.unpersist())
    }
  }

  test("SemDedup candidate pairs under AQE: cluster-keyed equi-join, " +
    "no cartesian, no broadcast arm") {
    withAqe {
      val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") < 200)
      val cents = vecs.filter(col("vec_id") < 8)
      val (pairs, caches, _) = graft.ext.SemDedup.semanticDupPairsLazy(
        vecs, cents, 0.35, "vec_id", "embedding",
        graft.ext.LshSkew.NoCap)
      try {
        val ops = finalOperators(pairs)
        assertNoRuntimeCartesian(ops)
        val got = shapeOf(ops)
        withClue("SemDedup adaptive pair plan drifted: ") {
          // two stages shuffle the cached assignment on centroid_id
          // (the self-join's sides — same table-cache boundary story
          // as q30's banded join: AQE materializes each side as its
          // own stage, reuse does not fire across the cache)
          got.realShuffles shouldBe 2
          got.realBroadcasts shouldBe 0
          got.bhj shouldBe 0
          got.smj shouldBe 1
        }
      } finally caches.foreach(_.unpersist())
    }
  }

  test("q47 largeStar round under AQE: still exactly 3 real shuffles") {
    withAqe {
      import spark.implicits._
      val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "t")
        .localCheckpoint(true)
      val ops = finalOperators(graft.ext.DupClusters.largeStar(e))
      assertNoRuntimeCartesian(ops)
      withClue("largeStar adaptive round drifted: ") {
        // the groupBy exchange still doubles as the join distribution:
        // 3 real exchanges; any reuse shows as ReusedExchange (allowed)
        shapeOf(ops).realShuffles shouldBe 3
        shapeOf(ops).realBroadcasts shouldBe 0
      }
    }
  }

  // q81/q90 GATES pin AQE off inside their builders (their production
  // asserts need the static tree), so the AQE twins here drive the
  // underlying OPERATORS — the thing a production pipeline calls —
  // under AQE instead of the pinned gate frames.

  test("bucketed join (q81's operator) under AQE: SortMergeJoin subtree stays exchange-free") {
    q("q81_bucketed_join") // side effect: (re)creates the bucketed tables
    withAqe {
      val joined = graft.ops.Bucketing.bucketedJoin(spark,
          "graft_q81_lineitem", "graft_q81_orders", Seq("orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity")).as("qty"))
      val ops = finalOperators(joined)
      val smjs = ops.collect { case j: SortMergeJoinExec => j }
      smjs should not be empty
      // bucketed scans satisfy the join distribution directly: nothing
      // between the SMJ and its scans — no exchange, no query stage
      smjs.foreach { j =>
        j.collect { case e: ShuffleExchangeExec => e } shouldBe empty
        j.collect { case s: QueryStageExec => s } shouldBe empty
      }
    }
  }

  test("salted join (q90's operator) under AQE: both sides still shuffle on the salt") {
    withAqe {
      val big = spark.read.parquet(s"$sf/lineitem.parquet").select(
        when(col("l_partkey") % 10 < 9, lit(7L))
          .otherwise(col("l_partkey") % 25).cast("long").as("key"),
        col("l_quantity"))
      val small = spark.read.parquet(s"$sf/nation.parquet").select(
        col("n_nationkey").cast("long").as("key"), col("n_name").as("label"))
      val joined = graft.ops.Salting.saltedJoin(big, small, "key", buckets = 8)
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      val ops = finalOperators(joined)
      ops.collect { case b: BroadcastHashJoinExec => b } shouldBe empty
      val saltParts = ops.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.collect {
        case hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
            if hp.expressions.exists(_.collectFirst {
              case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
                  if a.name == "__salt" => a
            }.isDefined) => hp
      }
      saltParts.size should be >= 2
    }
  }

  test("reused exchanges are recognized, not double-counted as real shuffles") {
    withAqe {
      // q5's two hinted dim broadcasts are distinct tables — no reuse —
      // but the fixture guards the COLLECTOR: a self-join that Spark
      // plans with one exchange consumed twice must count ONE real
      // shuffle and at least one ReusedExchange
      import spark.implicits._
      val t = (1L to 100L).map(i => (i % 7, i)).toDF("k", "v")
      val agg = t.groupBy($"k").agg(sum($"v").as("s"))
      val joined = agg.as("a").join(agg.as("b"), "k")
        .select($"k", $"a.s", col("b.s").as("s2"))
      val ops = finalOperators(joined)
      val real = ops.count(_.isInstanceOf[ShuffleExchangeExec])
      val reused = ops.count(_.isInstanceOf[ReusedExchangeExec])
      real shouldBe 1
      reused should be >= 1
    }
  }
}
