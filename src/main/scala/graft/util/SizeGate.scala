package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import scala.util.control.NonFatal

/** Every size-dependent arm choice, in one place: the closed table of
  * gates with their bounds, and the one comparison that picks an arm
  * ([[below]]) — Catalyst's own broadcast choice has the same shape, one
  * statistic against one threshold. Each gate chooses between a plan
  * that is cheaper on small inputs (a broadcast, an executor cache, a
  * driver collect) and the scale-safe plan; both give the same rows. An
  * unconditional cheap arm on a fact-proportional input is the
  * per-executor OOM class rounds 10-12 removed; an unconditional
  * scale-safe arm cost 2-5× end-to-end at sf100 (the flows mart's fact
  * shuffle, the jaccard index exchange). Gates FAIL CLOSED: a
  * measurement that cannot be taken counts as above the bound.
  *
  * The one knob, [[ForceAboveKey]], forces named gates onto their
  * scale-safe arm, so every arm runs at test scale and crossovers can be
  * A/B-measured in one JVM (`graft.Measure ab cachegate`, `ab jaccard`).
  * It is unset in production. */
object SizeGate {

  /** One size-gated decision: its name in [[ForceAboveKey]] and its
    * bound, in the unit of its measurement. */
  sealed abstract class Gate(val name: String, val bound: Long)

  /** Blocks-dim broadcast in `Models.intTransactionFlows`, measured by
    * Catalyst's estimate ([[broadcastIfSmall]]): comfortably inside a
    * 2-3 GiB/task-budgeted executor, far above the 10 MB planner
    * default. */
  case object BlocksBroadcast extends Gate("blocks_bcast", 256L << 20)

  /** Executor cache of a corpus-proportional intermediate, measured by
    * the corpus's on-disk bytes. 1 GiB is the r13 corpus-layout sweep's
    * crossover (BENCH_NOTES, solo min-of-3, 96 GiB heap): at a 1.1 GiB
    * corpus the cached shingled corpus already loses 1.7× to the
    * bucketed table (102 vs 61 s) with a 4.2× run spread from
    * cache-spill churn, and at 2.8 GiB it cannot finish (the shingled
    * corpus inflates ~10× in memory, fills >50 GB of local spill, dies
    * ENOSPC) while the bucketed table completes in 288 s. 560 MB (sf100)
    * stays cached — ambiguous there, so the bound sits at the last scale
    * where the cache is defensible, below every measured loss. */
  case object CorpusCache extends Gate("corpus_cache", 1L << 30)

  /** Gram-dim broadcasts (the jaccard rare-gram list, the bigram LM's
    * unigram side), measured by the corpus's on-disk bytes. Separate
    * from [[CorpusCache]] since r13: the crossovers differ by ~4×. Each
    * dim is ≤ corpus/2 bytes by construction, so a 2 GiB corpus bounds
    * the dim at 1 GiB, the edge of a 2-3 GiB/task executor budget, while
    * the broadcast stays worth ~5× (r12 A/B) below it. */
  case object GramDimBroadcast extends Gate("gram_dim_bcast", 2L << 30)

  /** The served fund trace on the driver (`Trace.traceWithFallback`),
    * measured by a bounded fetch of the window's edges. At 2¹⁶ rows the
    * six-column edges are tens of MiB, the same bounded-metadata class
    * as the IVF centroids and hot-key collects, while the distributed
    * plan at that size pays job scheduling over KB-scale data. */
  case object TraceDriver extends Gate("trace_driver", 1L << 16)

  /** Connected components by driver union-find (`GraphOps.ccAuto`),
    * measured by the materialized edge count: 2¹⁶ two-long edges are
    * about 1 MiB on the driver. */
  case object CcDriver extends Gate("cc_driver", 1L << 16)

  /** Label-table broadcast in `GraphOps.connectedComponents`' rounds,
    * measured by the materialized edge count. Labels ≤ distinct
    * endpoints ≤ 2·edges rows of two longs, so 2²⁰ edges bound the
    * broadcast at a few tens of MB. Tuned for safety, not the crossover,
    * so the gate can only forgo wins, never OOM. */
  case object CcLabelBroadcast extends Gate("cc_label_bcast", 1L << 20)

  /** The closed gate table. */
  val gates: Seq[Gate] = Seq(BlocksBroadcast, CorpusCache, GramDimBroadcast,
    TraceDriver, CcDriver, CcLabelBroadcast)

  /** Session conf: a comma-separated list of gate names to force onto
    * their above-bound arm. A forced gate does not take its measurement. */
  val ForceAboveKey = "spark.graft.forceAbove"

  /** True iff `gate` takes its below-bound arm: it is not forced and
    * `measure` is at most its bound. A measurement that throws counts as
    * above (fail-closed); fatal errors and interrupts propagate. An
    * unknown gate name in [[ForceAboveKey]] throws, so a mistyped force
    * cannot silently measure the default arm. */
  def below(s: SparkSession, gate: Gate)(measure: => BigInt): Boolean =
    !forced(s).contains(gate) &&
      (try measure <= gate.bound catch { case NonFatal(_) => false })

  private def forced(s: SparkSession): Set[Gate] =
    s.conf.getOption(ForceAboveKey).fold(Set.empty[Gate])(
      _.split(',').map(_.trim).filter(_.nonEmpty).map(n =>
        gates.find(_.name == n).getOrElse(throw new IllegalArgumentException(
          s"$ForceAboveKey: unknown gate '$n' (gates: " +
            gates.map(_.name).mkString(", ") + ")"))).toSet)

  /** `broadcast(df)` iff Catalyst's pre-execution size estimate for `df`
    * is below [[BlocksBroadcast]]; `df` unhinted otherwise (missing or
    * unknown stats count as big — the safe side is the shuffled join).
    *
    * The estimate is the optimized logical plan's `sizeInBytes` — the
    * same statistic the planner's own broadcast decision reads, driver
    * side, no job. Caveat: for aggregate outputs Catalyst propagates the
    * CHILD's size (conservatively huge), so this gate only ever un-hints
    * those — aggregate-shaped dims gate on an external proxy instead
    * ([[GramDimBroadcast]] reads the corpus's on-disk bytes). */
  def broadcastIfSmall(df: DataFrame): DataFrame =
    if (below(df.sparkSession, BlocksBroadcast)(
        df.queryExecution.optimizedPlan.stats.sizeInBytes)) broadcast(df)
    else df

  /** `df.cache()` iff the INPUT at `path` is below [[CorpusCache]]; `df`
    * unchanged otherwise — for intermediates whose row count is
    * proportional to that input (per-doc signatures, (doc, term)
    * frequencies, scored projections). Below the gate the cache saves
    * re-deriving the intermediate for a query's second/third scan of it;
    * above the gate the SAME lazy plan runs uncached — bounded recompute
    * instead of unbounded executor state (the r13-measured ENOSPC
    * class). */
  def cacheIfBounded(s: SparkSession, df: DataFrame, path: String): DataFrame =
    if (below(s, CorpusCache)(dirBytes(s, path))) df.cache() else df

  /** Shuffle/state-store partition count PROPORTIONAL to an input's
    * on-disk bytes: ceil(bytes / 32 MiB) clamped to [1, cap] — guide §2's
    * "derive partitioning from input size rather than a constant tuned
    * for either local mode or the cluster". Not a gate: it sizes
    * proportionally and has no arms. Callers pass the session's
    * configured shuffle partitions as `cap`, so this only ever scales
    * DOWN for small inputs (a stateful streaming stage over a few MB
    * otherwise opens `cap` state stores, each with its own
    * checkpoint/commit file I/O — measured 65 near-empty state tasks
    * carrying 76 s of executor time at sf0.1, OPTIMIZATION_r14.md); at
    * scale bytes/32 MiB exceeds any cap and the configured parallelism
    * wins unchanged. FAIL-CLOSED: an unreadable or unknown size returns
    * `cap`, never a tiny count, so a mis-measured input can never
    * under-partition a real load. */
  def partitionsForBytes(s: SparkSession, path: String, cap: Int): Int = {
    val target = 32L << 20
    val bytes = dirBytes(s, path)
    if (bytes == Long.MaxValue) cap
    else math.max(1L, math.min(cap.toLong, (bytes + target - 1) / target)).toInt
  }

  /** Recursive on-disk byte count of `path` through the session's own
    * Hadoop filesystem (the same resolution the read path performs, so
    * local, HDFS and S3A stores all measure real bytes; a `java.io.File`
    * walk returned 0 for every non-local URI and failed open into the
    * unbounded plans, r12); unknown sizes (missing path, unreachable
    * store, any resolution error) count as `Long.MaxValue` — FAIL
    * CLOSED. */
  def dirBytes(s: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    } catch { case NonFatal(_) => Long.MaxValue }
}
