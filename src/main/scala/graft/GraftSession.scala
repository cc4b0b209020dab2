package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every SparkSession in this project
  * (mains, tools, specs) is built here, so they all plan the same way —
  * the one-liner entry point a reference user gets from
  * `ObservationLakehouse(...)`. Both profiles share one base conf:
  * [[graft.plans.GraftExtensions]] (so `graft_git_blob_hash`,
  * `graft_git_blob_sha1` and `graft_vec_dot` work from plain SQL), UTC
  * session time, the raised ObjectHashAggregate fallback threshold, a
  * codegen cache sized for a full query sweep, and no UI.
  *
  * `batch`: full-parallelism analytics. Shuffle partitions sized to the
  * core count (not Spark's default 200 — measured pure overhead at
  * single-node scale; on a real cluster pass `shufflePartitions` ≈ 2-3×
  * total cores). AQE on (skew splitting, partition coalescing), with
  * the size-gated over-partitioning described at [[overPartitionBytes]].
  *
  * `interactive`: the pruned per-problem latency profile. One shuffle
  * partition (a pruned problem partition is a few hundred rows) and AQE
  * off — its per-exchange re-plan + materialization is fixed latency
  * with nothing to adapt at this size. Combine with
  * `CanonicalQueries.interactive` on the pruned input for single-stage
  * execution.
  *
  * Deployment paths (warehouse, local dirs) are not parameters: pass
  * them as `spark.*` JVM system properties, which SparkConf picks up.
  *
  * `getOrCreate` caveat (Spark semantics, not graft's): if a session is
  * already active in the JVM, it is returned as-is and this factory's
  * configs/extensions do NOT apply — build the graft session first.
  */
object GraftSession {

  /** Local core count both profiles default to: `SPARK_GRAFT_CPUS` when
    * set, else the JVM's available processors. Must be an integer —
    * "local[*]"-style values are rejected because the over-partition
    * gate multiplies it.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(c) => try c.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer core count, got '$c'")
    }
  }

  /** Total size in bytes of the files under `dir` (a plain path or any
    * Hadoop URI: `file://`, `hdfs://`, `s3a://`), 0 if it does not exist —
    * the input-size statistic behind the over-partition and q09 fusion
    * gates. Resolved through the Hadoop FileSystem, with the active
    * session's Hadoop conf when there is one, so a URI input decides
    * the same way as the equivalent local path.
    */
  def inputBytes(dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val conf = SparkSession.getActiveSession
      .fold(new org.apache.hadoop.conf.Configuration())(
        _.sparkContext.hadoopConfiguration)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) 0L else fs.getContentSummary(path).getLength
  }

  /** Scan-size threshold above which `batch` over-partitions 8× and lets
    * AQE coalesce to its 64 MB advisory size. AQE can only merge
    * partitions DOWN from the initial count, so without the fan-out
    * partition VOLUME grows linearly with the data; with it partition
    * SIZE is the bounded quantity at every scale. Same-JVM interleaved
    * A/B on the four heaviest sf10 queries (commit 6544841): quiet-host
    * min neutral (0.94-1.04×), but medians under concurrent load drop
    * hard (q22 69.9→44.1 s, q50 50.8→45.9 s) — smaller partitions cut
    * straggler exposure, which is also the multi-executor argument.
    * Below 1 GiB the fan-out never materializes a size win (everything
    * coalesces straight back down) but still pays per-exchange
    * scheduling overhead: +2.7% on the 17 MB sf0.1 suite when the knob
    * shipped ungated (r8→r9 A/B in SCALE.md).
    */
  val overPartitionBytes: Long = 1L << 30

  /** Input-size threshold above which q09's fingerprint pipeline takes
    * the fused single-aggregation form (graft.plans.SigListAgg) instead
    * of the composed two-groupBy chain. The fused form wins when the
    * first grouping's per-(impl, test) buffer machinery dominates —
    * group count tracks input size: measured bench A/B (min-of-7,
    * round 13) composed/fused = 1.56/2.32 s at sf0.1 (17 MB) but
    * 16.3/9.1 s at sf3 (558 MB). 100 MB sits between the sf0.3 and sf1
    * points with the flip verified on both sides (OPTIMIZATION_r13.md);
    * derived from input size, never from local core count. */
  val fusedFingerprintBytes: Long = 100L << 20

  private def base(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      // collect_list-family aggregations (ObjectHashAggregate) fall back
      // to sort-based aggregation after 128 distinct keys per partition
      // by default — measured 2.3x slowdown on the ingest regroup, and
      // the same cliff on every ordered-trace aggregation.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Static conf, default 100 entries: a sweep of the query catalog
      // evicts the generated-class cache, so every repetition would pay
      // Janino recompilation (~0.1-0.3 s/query — measured as a
      // systematic +15% on the Bench suite total).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")

  /** The analytics profile. `inputDir` is the directory the session will
    * scan: below [[overPartitionBytes]] of input AQE starts from
    * `shufflePartitions`; at or above it, or when no directory is given,
    * from 8× that.
    */
  def batch(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus,
      inputDir: Option[String] = None): SparkSession = {
    val initParts =
      if (inputDir.forall(inputBytes(_) >= overPartitionBytes))
        8 * shufflePartitions
      else shufflePartitions
    base(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initParts)
      .getOrCreate()
  }

  def interactive(master: String = s"local[$cpus]"): SparkSession =
    base(master)
      .config("spark.sql.shuffle.partitions", 1)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
}
