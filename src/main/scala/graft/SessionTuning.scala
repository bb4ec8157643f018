package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.apache.spark.sql.SparkSession

/** Scale-justified session defaults shared by every runtime entry point,
  * so the driver's bench, the oracle sweep, the test suite and dev
  * measurements all run the same engine posture. [[local]] is the one
  * entry: Bench, Verify, SparkSpec and the dev tools (BenchSome,
  * Explain, ScaleTrend) build their session through it. Only two
  * builders stay outside it: the pipeline CLI (`tools/Cli`), which
  * takes its master from `SPARK_MASTER` and passes its builder through
  * [[tuned]], and the benchmark harness, which calls [[tuned]] itself.
  *
  * Each tuning knob is env-parameterised with the production-shaped
  * value as the local default — the optimization-round contract: no
  * constant tuned to local[32], every knob justified at 100 TB
  * (OPTIMIZATION_r21.md §"Session configuration"). The `file:` file
  * system is no knob: it gives the same results with fewer
  * processes, so it is fixed.
  *
  *  - `coalescePartitions.parallelismFirst=false` (guide §2.2): size
  *    post-shuffle partitions by the advisory target instead of
  *    maximising parallelism. At scale this is the documented
  *    recommendation (100 MB–1 GB reduce partitions, quadratically
  *    fewer shuffle blocks); at gate scale it collapses toy shuffles
  *    to one task instead of `spark.sql.shuffle.partitions` (=cpus),
  *    removing pure scheduling overhead (measured: the q109–q117
  *    index-lifecycle family −15% wall).
  *  - `advisoryPartitionSizeInBytes=64m` — Spark's own default, kept
  *    explicit + overridable (`SPARK_GRAFT_ADVISORY_BYTES`) because a
  *    production deployment with bigger executors wants 256m (guide
  *    §9) while the contract bench keeps the stock value.
  *  - `optimizer.canChangeCachedPlanOutputPartitioning=true` (r22,
  *    guide §2.2): apply AQE (partition coalescing included) to the
  *    plans that materialize `persist()`ed frames. The upstream
  *    default is `false` only to keep a cached plan's output
  *    partitioning bit-stable for downstream exchange reuse — a
  *    compatibility stance, not a performance one; with it off every
  *    cached materialization runs at the raw `shuffle.partitions`
  *    fan-out and EVERY downstream read of the cache re-scans that
  *    many tiny blocks. The engine's iterative operators (CC rounds,
  *    index removals, label folds) persist bounded frames by design,
  *    so at 100 TB this is the same advisory-sized-reduce-partition
  *    argument as `parallelismFirst=false`, applied to the cached
  *    stages. Measured (same-process ABA, lifecycle family + CC
  *    gates, sf0.1/32 cpus): 124.3/107.3 s baseline arms → 93.2 s
  *    with the flag (−19% vs the better baseline arm); event-log
  *    profile shows the 32-task cached stages (20+ per removal gate)
  *    collapse to 1–2 tasks.
  *    Caveat: a cached frame's output partitioning is no longer
  *    stable, so a downstream read of the cache that wanted the
  *    original partitioning may plan an extra shuffle; the escape
  *    hatch is `SPARK_GRAFT_CACHED_PLAN_AQE=false`.
  *  - `codegen.cache.maxEntries=5000` (r22, static conf): the
  *    generated-class cache default (100) thrashes under an engine
  *    that plans hundreds of distinct operator shapes per session —
  *    every eviction is a repeat Janino compile on the driver, which
  *    is exactly the r21 profile's "driver-side gap" bucket. 5000
  *    compiled classes is a few hundred MB of metaspace at worst,
  *    amortized across every micro-batch/round that replans the same
  *    shape — strictly cheaper at any scale. Measured on top of the
  *    cached-plan flag: 93.2 → 82.4 s on the same family (−12%).
  *    A STATIC conf: it takes effect only when this builder creates
  *    the JVM's first session. `getOrCreate` on an existing session
  *    ignores it silently, so [[local]] compares the effective value
  *    with the requested one and fails on a mismatch.
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` (fixed, no
  *    env): the `file:` scheme resolves to the fork-free faces in
  *    `LocalFs.scala` ([[ForkFreeLocalFileSystem]] for `FileSystem`,
  *    [[ForkFreeLocalFs]] for `FileContext`) instead of Hive's
  *    `ProxyLocalFileSystem` (which the Spark jars register for
  *    `file:`) and Hadoop's `LocalFs`. Both end in Hadoop's
  *    `RawLocalFileSystem`, which without a native Hadoop library
  *    runs a `chmod` process after every create and mkdir and a
  *    `readlink` process for every `FileContext` rename's link
  *    check. Those processes were most of the state-store and
  *    checkpoint commit time. Counted with JFR `jdk.ProcessStart`
  *    over one perfbench run (seed 1): `streaming` 796 `chmod` +
  *    2,016 `readlink` → 0 + 0, `store_lifecycle` 421 `chmod` → 0;
  *    the `rm` processes of Spark's own recursive deletes (172 and
  *    20) remain. Same bytes, modes and link statuses (LocalFsSpec).
  *    Ten alternating perfbench `streaming` pairs (4 cores): warm
  *    pass 3.30 → 2.24 s (−32 %, 10/10), cold pass 6.20 → 4.62 s
  *    (−26 %, 10/10), task CPU flat — the time saved was waiting on
  *    child processes; a traced run's `state.commit_ms` fell
  *    1,255 → 350 ms.
  *    A STATIC choice as well: Hadoop caches `FileSystem` instances
  *    JVM-wide, so [[local]] checks that both faces resolve.
  *
  * Deliberately NOT set (measured, then rejected this round):
  * `preferSortMergeJoin=false` + a shuffled-hash AQE local-map
  * threshold (guide §3.1) flipped the LSH pair joins SMJ→SHJ at small
  * scale with NO measured local win (everything hot already
  * broadcasts) while defeating the AQE skew split on the
  * degenerate-bucket pair join — SkewJoinSpec's `skew=true` pin went
  * red, i.e. the engine would have traded its skew guard (the 100 TB
  * protection) for nothing. Sort-merge stays the default; broadcast
  * remains the chosen strategy everywhere a side provably fits.
  */
object SessionTuning {

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  private val LocalUri = URI.create("file:///")

  private def env(k: String, dflt: String): String = sys.env.getOrElse(k, dflt)

  private def codegenCacheSize: String = env("SPARK_GRAFT_CODEGEN_CACHE", "5000")

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        env("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        env("SPARK_GRAFT_ADVISORY_BYTES", "64m"))
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        env("SPARK_GRAFT_CACHED_PLAN_AQE", "true"))
      .config(CodegenCacheKey, codegenCacheSize)
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)

  /** The [[tuned]] session on `local[cpus]`: `cpus` shuffle partitions,
    * UI off, UTC session time zone, then `extra` confs (applied last,
    * so they override). Idempotent like `getOrCreate`: a session that
    * already exists is returned with the runtime confs re-applied —
    * and, because it cannot take a new static conf, a requested
    * codegen cache size that differs from the one it runs with is an
    * error instead of a silently dropped setting. So is a session
    * whose `file:` scheme does not resolve to the fork-free file
    * system: Hadoop caches `FileSystem` instances JVM-wide, so one
    * made before the session existed would be handed out instead.
    */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    val requested = extra.toMap.getOrElse(CodegenCacheKey, codegenCacheSize)
    val effective = spark.conf.get(CodegenCacheKey)
    require(effective == requested,
      s"$CodegenCacheKey is static: requested $requested, but the " +
        s"existing session runs with $effective")
    requireForkFreeLocalFs(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** Fails unless `conf` resolves the `file:` scheme to the fork-free
    * faces, for `FileSystem` (through Hadoop's JVM-wide cache) and for
    * `FileContext` users alike.
    */
  private[graft] def requireForkFreeLocalFs(conf: Configuration): Unit = {
    val fs = FileSystem.get(LocalUri, conf).getClass
    val fc = AbstractFileSystem.get(LocalUri, conf).getClass
    require(fs == classOf[ForkFreeLocalFileSystem] && fc == classOf[ForkFreeLocalFs],
      s"file: resolves to FileSystem ${fs.getName} and FileContext " +
        s"${fc.getName}, not ${classOf[ForkFreeLocalFileSystem].getName} " +
        s"and ${classOf[ForkFreeLocalFs].getName}")
  }
}
