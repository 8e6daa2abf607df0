package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quantitative gates for the approximate operators: each rows-only
  * query joins an approximate result to its exact (oracle-verified) twin
  * and emits ONE row — `(n_exact, n_hit, recall, threshold)` — filtered to
  * `recall >= threshold`. The driver's rows-only check therefore becomes a
  * real quality gate: 1 row ⟺ the approximation still finds its stated
  * share of the exact answer; a silent quality regression yields 0 rows
  * and fails the gate. Thresholds are calibrated against the measured
  * sf0.01/sf0.1 recall (see AnnRecallSpec for the geometry rationale:
  * the synthetic embeddings are nearly unclustered, so ANN recall pins
  * "far above the random-probe floor", not clustered-corpus recall).
  *
  * Everything is a distributed join + count — no collect; the only
  * driver-side state is the bounded exact-twin memo below. At 100 TB
  * the same queries run as-is (the exact ANN twin is the only quadratic
  * piece, and it exists precisely to be the labeled baseline).
  */
object RecallOps extends QueryModule {

  /** One-row recall readout of `approx` against `exact` on `keys`.
    * The exact twins are oracle-verified unique; the approx side is
    * deduplicated DEFENSIVELY — if an approximate query ever regresses
    * into emitting duplicate key tuples, a raw left join would fan out
    * exact rows and inflate n_exact and n_hit together, letting the gate
    * pass on exactly the regression it exists to catch. */
  private def recallRow(exact: DataFrame, approx: DataFrame,
      keys: Seq[String], threshold: Double): DataFrame = {
    val hits = approx.select(keys.map(col): _*).distinct()
      .withColumn("hit", lit(1))
    exact.select(keys.map(col): _*)
      .join(hits, keys, "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("n_exact"), col("n_hit"),
        round(col("n_hit") / col("n_exact"), 6).as("recall"))
      .withColumn("threshold", lit(threshold))
      .filter(col("recall") >= col("threshold"))
  }

  private val annKeys = Seq("query_id", "vec_id")
  private val pairKeys = Seq("doc_a", "doc_b")

  /** The exact twins are the expensive side of every gate (brute-force
    * top-k is the one labeled-quadratic operator), and two gates share
    * the same twin — computed naively, the gate suite triples the most
    * expensive work in the whole query set. Memoized via
    * [[graft.util.PlanMemo]] (lazy localCheckpoint per (session, sfDir,
    * twin); see its Scaladoc for the lifecycle contract): constructing a
    * gate stays analysis-only while the first ACTION materializes the
    * twin once and every later gate re-run reuses the checkpointed
    * blocks. The pinned blocks are top-k-sized (queries × k rows / the
    * near-dup pair list), bounded regardless of corpus scale. */
  private def memoExact(name: String, s: SparkSession, d: String)(
      build: => DataFrame): DataFrame =
    graft.util.PlanMemo.memo(name, s, d)(build)

  def all: Seq[Q] = Seq(

    // Multi-table LSH vs brute-force cosine top-10. 20 tables × 6 bits
    // on weakly-correlated 64-dim vectors probes ~28% of this fixture;
    // measured recall 0.68/0.70 at sf0.01/sf0.1 (r7 LSH grid, BENCH_NOTES) —
    // the 0.5 floor pins "the index concentrates true neighbors well
    // above the probed fraction" with margin, per VERDICT r6 item 6.
    Q("ann_lsh_recall",
      (s, d) => recallRow(
        memoExact("ann_cosine_topk", s, d)(
          VectorOps.queries("ann_cosine_topk")(s, d)),
        VectorOps.queries("ann_lsh_topk")(s, d),
        annKeys, threshold = 0.5),
      None),

    // IVF (nprobe=2 of 10 label-seeded cells) vs brute-force top-10.
    // EAGER by composition: constructing the IVF side runs its
    // training jobs (the recall plan itself is lazy over the
    // checkpointed IVF result).
    Q("ann_ivf_recall",
      (s, d) => recallRow(
        memoExact("ann_cosine_topk", s, d)(
          VectorOps.queries("ann_cosine_topk")(s, d)),
        ScaleOps.queries("ann_ivf_topk")(s, d),
        annKeys, threshold = 0.3),
      None,
      eager = true),

    // Production MinHash+LSH (xxhash64 family) vs the portable-hash
    // pipeline that is itself hash-verified end-to-end against DuckDB —
    // two independent 16-hash families estimating the same Jaccard must
    // agree on the high-similarity pairs.
    Q("minhash_lsh_recall",
      (s, d) => recallRow(
        memoExact("minhash_oracle_pairs", s, d)(
          PortableHashOps.queries("minhash_oracle_pairs")(s, d)),
        TextOps.queries("minhash_lsh_pairs")(s, d),
        pairKeys, threshold = 0.8),
      None)
  )
}
