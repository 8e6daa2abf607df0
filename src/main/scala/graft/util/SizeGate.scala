package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast hint — the middle ground the broadcast audit
  * (SCALE.md) prescribes for dimension sides that are small at every
  * measured scale but grow with the fact tables in the limit.
  *
  * An unconditional `broadcast()` on such a side is the per-executor
  * OOM class rounds 10-12 removed (j1/j4, blocks dim, rare-gram list);
  * an unconditional de-hint makes the planner shuffle the probe side
  * wherever the dim exceeds the (deliberately conservative) 10 MB
  * `autoBroadcastJoinThreshold` — measured at sf100: the flows mart's
  * fact shuffle and the jaccard index exchange cost 2-5× end-to-end on
  * dims of a few hundred MB that every real cluster would broadcast.
  * The gate hints only while the dim's size is bounded by a constant
  * the caller picks for its executors, and degrades to the scale-safe
  * shuffled join past it.
  */
object SizeGate {

  /** Fail-closed row bound for collecting an input to the driver and
    * answering there instead of planning distributed jobs: 2¹⁶ rows.
    * Callers fetch at most one row past it (a bounded `limit(n + 1)`
    * collect, or a count of a materialized input) and take the driver
    * arm only when the bound holds. At 2¹⁶ rows the collect is about
    * 1 MiB of two-long edges for CC and tens of MiB of six-column trace
    * edges, the same bounded-metadata class as the IVF centroids and
    * hot-key collects, far under any driver budget, while the
    * distributed plans at that size pay job scheduling over KB-scale
    * data. Used by `GraphOps.ccAuto` (driver union-find) and
    * `Trace.traceWithFallback` (driver trace). */
  val DRIVER_MAX_ROWS: Int = 1 << 16

  /** Default per-executor bound for a gated broadcast: comfortably
    * inside a 2-3 GiB/task-budgeted executor, far above the 10 MB
    * planner default. */
  val DEFAULT_MAX_BYTES: Long = 256L << 20

  /** `broadcast(df)` iff Catalyst's pre-execution size estimate for
    * `df` is at most `maxBytes`; `df` unhinted otherwise (missing or
    * unknown stats count as big — the safe side is the shuffled join).
    *
    * The estimate is the optimized logical plan's `sizeInBytes` — the
    * same statistic the planner's own broadcast decision reads, driver
    * side, no job. Caveat: for aggregate outputs Catalyst propagates
    * the CHILD's size (conservatively huge), so this gate only ever
    * un-hints those — gate aggregate-shaped dims on an external proxy
    * instead (e.g. TextOps gates its gram lists on the corpus's
    * on-disk bytes). */
  def broadcastIfSmall(df: DataFrame,
      maxBytes: Long = DEFAULT_MAX_BYTES): DataFrame = {
    val est =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(Long.MaxValue) }
    if (est <= maxBytes) broadcast(df) else df
  }

  /** Shuffle/state-store partition count PROPORTIONAL to an input's
    * on-disk bytes: ceil(bytes / targetBytes) clamped to [1, cap] —
    * guide §2's "derive partitioning from input size rather than a
    * constant tuned for either local mode or the cluster". Callers pass
    * the session's configured shuffle partitions as `cap`, so this only
    * ever scales DOWN for small inputs (a stateful streaming stage over
    * a few MB otherwise opens `cap` state stores, each with its own
    * checkpoint/commit file I/O — measured 65 near-empty state tasks
    * carrying 76 s of executor time at sf0.1, OPTIMIZATION_r14.md);
    * at scale bytes/targetBytes exceeds any cap and the configured
    * parallelism wins unchanged. Sizing is Hadoop-FS metadata (same
    * resolution the read path uses — works on any store); FAIL-CLOSED:
    * an unreadable or unknown size returns `cap`, never a tiny count,
    * so a mis-measured input can never under-partition a real load. */
  def partitionsForBytes(s: org.apache.spark.sql.SparkSession,
      path: String, cap: Int, targetBytes: Long = 32L << 20): Int = {
    val bytes = dirBytes(s, path)
    if (bytes == Long.MaxValue) cap
    else math.max(1L, math.min(cap.toLong,
      (bytes + targetBytes - 1) / targetBytes)).toInt
  }

  /** Recursive on-disk byte count of `path` through the session's own
    * Hadoop filesystem (the same resolution the read path performs, so
    * local, HDFS and S3A stores all measure real bytes; a `java.io.File`
    * walk returned 0 for every non-local URI and failed open into the
    * unbounded plans, r12); unknown sizes (missing path, unreachable
    * store, any resolution error) count as `Long.MaxValue` — FAIL
    * CLOSED. */
  def dirBytes(s: org.apache.spark.sql.SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  /** Default bound for a gated executor cache of an input-proportional
    * intermediate, the measured corpus-cache crossover. Re-tuned
    * 2 GiB → 1 GiB from the r13 corpus-layout sweep (BENCH_NOTES, solo
    * min-of-3, 96 GiB heap): at a 1.1 GiB corpus the cached shingled
    * corpus already loses 1.7× to the bucketed table (102 vs 61 s) with
    * a 4.2× run spread from cache-spill churn, and at 2.8 GiB it cannot
    * finish at all (the shingled corpus inflates ~10× in memory, fills
    * >50 GB of local spill, dies ENOSPC) while the bucketed table
    * completes in 288 s. 560 MB (sf100) stays cached — ambiguous there
    * (solo-cold favored the table 1.3×, the warm in-suite regime favors
    * the cache), so the bound sits at the last scale where the cache is
    * defensible, below every measured loss. */
  val DEFAULT_CACHE_MAX_BYTES: Long = 1L << 30

  /** True iff the input at `path` measures at most `maxBytes` on disk.
    * FAIL-CLOSED via [[dirBytes]]: an unmeasurable input is big. */
  def bounded(s: org.apache.spark.sql.SparkSession, path: String,
      maxBytes: Long): Boolean =
    dirBytes(s, path) <= maxBytes

  /** The cache gate: true iff the kill switch ([[NoGatedCacheKey]]) is
    * unset and the input at `path` is [[bounded]] by `maxBytes`. */
  def cacheable(s: org.apache.spark.sql.SparkSession, path: String,
      maxBytes: Long = DEFAULT_CACHE_MAX_BYTES): Boolean =
    !s.conf.getOption(NoGatedCacheKey).exists(_.toBoolean) &&
      bounded(s, path, maxBytes)

  /** `df.cache()` iff the INPUT at `path` is [[cacheable]]; `df`
    * unchanged otherwise — for intermediates whose row count is
    * proportional to that input (per-doc signatures, (doc, term)
    * frequencies, scored projections). Below the gate the cache saves
    * re-deriving the intermediate for a query's second/third scan of
    * it; above the gate the SAME lazy plan runs uncached — bounded
    * recompute instead of unbounded executor state (the r13-measured
    * ENOSPC class). Fail-closed: the scale-safe uncached plan is the
    * default on any store the gate cannot size. */
  def cacheIfBounded(s: org.apache.spark.sql.SparkSession, df: DataFrame,
      path: String, maxBytes: Long = DEFAULT_CACHE_MAX_BYTES): DataFrame =
    if (cacheable(s, path, maxBytes)) df.cache() else df

  /** Measurement-only kill switch, a session conf (`true` to set):
    * forces every size-gated cache onto its above-gate arm, so the
    * cache-vs-recompute crossover can be A/B-measured per query in one
    * JVM (`graft.Measure ab cachegate`, `ab jaccard`). Unset in
    * production and in every driver entry point, where the measured gate
    * bounds stay authoritative. */
  val NoGatedCacheKey = "spark.graft.noGatedCache"
}
