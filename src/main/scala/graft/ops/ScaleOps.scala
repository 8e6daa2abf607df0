package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables._
import Parity._

/** Scale-path variants of exact operators (SURVEY.md §2.10 note + §7.1
  * step 9): the shapes that keep working when the exact formulation
  * stops fitting — approximate distinct counting, and salted joins for
  * skewed keys.
  */
object ScaleOps extends QueryModule {

  /** Salted equi-join: decompose a skewed join into `salts` uniform
    * sub-joins by replicating the build side. Produces EXACTLY the rows of
    * the plain join — the oracle is the plain SQL join — while the
    * physical exchange hashes on (key, salt), so one hot key spreads over
    * `salts` reducers instead of one straggler.
    *
    * AQE's skew-join split handles sort-merge skew automatically at
    * runtime; explicit salting remains the tool when the skew is known
    * up front, when AQE is off, or for aggregate-then-join pipelines. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int): DataFrame =
    saltFact(fact, salts).join(saltDim(dim, salts), Seq(key, "_salt"))
      .drop("_salt")

  /** Probe side of the salted decomposition: each fact row gets one of
    * `salts` pseudo-random salts, so a hot key's rows spread uniformly
    * over `salts` reducers. Exposed for distribution tests and for
    * aggregate-then-join pipelines that salt once and reuse. */
  def saltFact(fact: DataFrame, salts: Int): DataFrame =
    fact.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))

  /** Build side: replicated once per salt value. */
  def saltDim(dim: DataFrame, salts: Int): DataFrame =
    dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))

  /** Sample-based hot-key detection for [[adaptiveSaltedJoin]]: estimate
    * per-key cardinality from a seeded `sampleFraction` scan, return the
    * keys whose estimated row count exceeds `rowsPerSalt` with the salt
    * fan-out each needs (`ceil(est / rowsPerSalt)`, capped at `maxSalts`).
    *
    * Driver-side state is doubly bounded: only keys seen ≥ `minSample`
    * times in the sample qualify (an uncommon key's estimate is noise —
    * and an uncommon key doesn't need salting), and only the `topK` most
    * frequent are kept, so the collect is ≤ topK tiny rows no matter the
    * input size — the same bounded-metadata-collect shape as the IVF
    * centroid training. One 1% scan at 100 TB is the price of not having
    * to know the hot keys a priori; pipelines that DO know them should
    * call [[saltedJoin]] directly and skip the scan. */
  def detectHotKeys(fact: DataFrame, key: String,
      sampleFraction: Double, rowsPerSalt: Long, maxSalts: Int,
      topK: Int = 100, minSample: Long = 8): Array[(Any, Int)] =
    fact.sample(withReplacement = false, sampleFraction, seed = 42L)
      .groupBy(key).agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= minSample &&
        col("_cnt") / sampleFraction > rowsPerSalt)
      .orderBy(desc("_cnt")).limit(topK)
      .collect()
      .map { r =>
        val est = r.getAs[Long]("_cnt") / sampleFraction
        r.get(0) -> math.min(maxSalts.toLong,
          math.ceil(est / rowsPerSalt).toLong).toInt
      }

  /** Adaptive salted equi-join: [[saltedJoin]] without knowing the hot
    * key up front — the 100 TB reality, where the skewed key is data-
    * dependent. Detects hot keys from a sample, salts ONLY those (per-key
    * fan-out proportional to observed frequency), and passes every other
    * key through with a single salt, so the build-side replication cost
    * is `Σ hot-key salts` extra rows, not `salts × |dim|`. Produces
    * EXACTLY the rows of the plain join (oracle = plain SQL join).
    *
    * The hot-key table rides into both sides as a broadcast join (≤ topK
    * rows); keys absent from it default to fan-out 1 via the coalesce.
    * EAGER (Q.scala contract): detection runs a sampling job at
    * construction; nothing is cached, so there is nothing to release. */
  def adaptiveSaltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      sampleFraction: Double = 0.01, rowsPerSalt: Long = 1000000L,
      maxSalts: Int = 32): DataFrame = {
    val hot = detectHotKeys(fact, key, sampleFraction, rowsPerSalt, maxSalts)
    if (hot.isEmpty) return fact.join(dim, Seq(key))
    val s = fact.sparkSession
    val keyField = fact.schema(key)
    val schema = org.apache.spark.sql.types.StructType(
      Seq(keyField, org.apache.spark.sql.types.StructField(
        "_nsalts", org.apache.spark.sql.types.IntegerType, nullable = false)))
    val hotDf = s.createDataFrame(
      java.util.Arrays.asList(hot.map { case (k, n) =>
        org.apache.spark.sql.Row(k, n) }: _*), schema)
    def fanOut(side: DataFrame) = side
      .join(broadcast(hotDf), Seq(key), "left")
      .withColumn("_n", coalesce(col("_nsalts"), lit(1)))
      .drop("_nsalts")
    val factS = fanOut(fact)
      .withColumn("_salt",
        pmod(xxhash64(monotonically_increasing_id()), col("_n")).cast("int"))
      .drop("_n")
    val dimS = fanOut(dim)
      .withColumn("_salt", explode(sequence(lit(0), col("_n") - 1)))
      .drop("_n")
    factS.join(dimS, Seq(key, "_salt")).drop("_salt")
  }

  /** Deterministic skewed join fixture shared by SkewSpec (distribution
    * pin) and `Measure ab skew` (wall-clock crossover) — a drifted copy
    * would let the spec pin another shape than the bench. Probe side:
    * lineitem with every even orderkey collapsed onto key 1 (~half the
    * rows hot), optionally row-amplified; build side: unique keys over
    * the same domain from orders. */
  def skewedFixture(s: org.apache.spark.sql.SparkSession, sfDir: String,
      amplify: Int): (DataFrame, DataFrame) = {
    val base = lineitem(s, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val amplified =
      if (amplify <= 1) base
      else base.withColumn("_rep",
        explode(sequence(lit(1), lit(amplify)))).drop("_rep")
    val fact = amplified.withColumn("k",
      when(col("l_orderkey") % 2 === 0, lit(1L)).otherwise(col("l_orderkey")))
    val dim = orders(s, sfDir)
      .select(when(col("o_orderkey") % 2 === 0, lit(1L))
        .otherwise(col("o_orderkey")).as("k"))
      .distinct()
      .withColumn("payload", pmod(col("k"), lit(97)).cast("double"))
    (fact, dim)
  }

  /** a2_approx_distinct's gate over deduped (l_suppkey, l_orderkey) pairs
    * of either exchange shape (`Measure ab a2shape` times both). */
  private[graft] def a2Gate(pairs: DataFrame): DataFrame = pairs
    .groupBy("l_suppkey")
    .agg(approx_count_distinct("l_orderkey").as("approx_orders"),
      count(lit(1)).as("exact_orders"))
    .agg(count(lit(1)).as("n_groups"),
      max(abs(col("approx_orders") - col("exact_orders")) /
        col("exact_orders")).as("max_rel_err"),
      (sum(when(abs(col("approx_orders") - col("exact_orders")) /
        col("exact_orders") > 0.15, 1).otherwise(0)) /
        count(lit(1))).as("bad_frac"))
    .select(col("n_groups"),
      round(col("max_rel_err"), 6).as("max_rel_err"),
      round(col("bad_frac"), 6).as("bad_frac"))
    .filter(col("bad_frac") <= 0.01)

  def all: Seq[Q] = Seq(

    // ---- A2 at scale: HLL-sketch distinct (approx_count_distinct).
    //      No oracle (approximate by design), but rows-only-as-GATE, not
    //      rows-only-as-shrug: the exact distinct count is computed
    //      alongside in the SAME aggregate and the single summary row is
    //      emitted ONLY when the share of groups whose relative error
    //      exceeds 3× the sketch's default rsd (0.05) stays under 1% —
    //      a regression in the sketch path yields 0 rows and fails the
    //      driver's rows>0 check, the same all-or-nothing shape as
    //      quality_quantile_approx_gate. The gate is a FRACTION, not a
    //      max, deliberately: the expected max |rel err| over N
    //      independent groups grows like sqrt(2 ln N)·rsd, so a
    //      max-based threshold that holds at 1k groups spuriously
    //      trips at 10k+ (sf1) while the >3σ share stays ~0.3% at any
    //      scale. (The exact twin is gate instrumentation; the scale
    //      path a user runs is the approx aggregate alone — its
    //      per-key readout stays oracle-covered via a2_distinct_group.)
    //      Shape note (round 8): the obvious one-aggregate form —
    //      groupBy(suppkey).agg(approx_count_distinct, countDistinct) —
    //      mixes a distinct and a non-distinct aggregate, which Spark
    //      rewrites through an Expand (every input row shuffled TWICE)
    //      with no map-side combine on the distinct leg; at sf10 that
    //      measured 14.6× on 10× data (hash-agg spill knee). Pre-
    //      deduplicating the (suppkey, orderkey) pairs first is
    //      semantically identical — an HLL sketch is duplicate-
    //      insensitive, so approx over the deduped pairs equals approx
    //      over the raw rows, and count-per-key over them IS the exact
    //      distinct — while making the heavy shuffle a plain map-side-
    //      combinable aggregate with no Expand.
    //      One-exchange shape (r15, same rewrite as a2_distinct_onepass
    //      below): repartition on the GROUP key before the pair dedup —
    //      HashPartitioning(suppkey) satisfies ClusteredDistribution
    //      (suppkey, orderkey), so the dedup aggregate AND the per-
    //      suppkey sketch+count aggregate run on ONE exchange instead
    //      of two (the removed second exchange carried a partial HLL
    //      sketch per (map partition, suppkey) — at high group counts
    //      that is MORE bytes than the pairs themselves). Results are
    //      identical: HLL register state is insertion- and partition-
    //      order-invariant, and the deduped pair set is the same set.
    //      Same stated skew tradeoff as the onepass twin: suppkeys are
    //      near-uniform; under group skew prefer the default composite
    //      exchange.
    Q("a2_approx_distinct",
      (s, d) => a2Gate(lineitem(s, d)
        .select("l_suppkey", "l_orderkey")
        .repartition(col("l_suppkey"))
        .distinct()),
      None),

    // ---- A2's one-exchange exact shape (SCALE.md decade 5, finding 5):
    //      countDistinct plans through TWO full-size exchanges — hash
    //      (suppkey, orderkey) to dedupe, then hash(suppkey) to count —
    //      and at sf100 the first one (~600M near-unique pairs, map-side
    //      partial dedup removes almost nothing) crosses into the spill
    //      regime (measured 4.1x on 3.33x data). This twin repartitions
    //      on the GROUP key alone: HashPartitioning(suppkey) satisfies
    //      ClusteredDistribution(suppkey, orderkey) — a subset of the
    //      clustering keys co-locates every composite group — so both
    //      the pair-dedup aggregate AND the per-suppkey count run on the
    //      same single exchange. Half the shuffled bytes of the default
    //      plan; exact, so it shares a2_distinct_group's DuckDB oracle.
    //      Tradeoff, stated: partitioning on the group key alone means a
    //      hot group lands on one reducer — right when groups are
    //      near-uniform (suppkeys here; addresses in the reference's
    //      dim_addresses.sql:14), wrong under group skew, where the
    //      default composite exchange or adaptive salting wins.
    //      Partition-count coupling, stated: repartition(col) emits
    //      REPARTITION_BY_COL, which IS an AQE-coalescible shuffle
    //      origin (verified r12: the post-AQE executed plan shows
    //      `AQEShuffleRead coalesced` over this exchange at shuffle=128,
    //      sf0.01) — but coalescing only fires while partitions sit
    //      under the advisory size and parallelismFirst floor. Both
    //      regimes verified from executed plans: at sf100/128 the dump
    //      shows NO AQEShuffleRead (partitions above advisory size, all
    //      128 live), and the r11 sweep's 12.6→40.5 s reading mostly
    //      dissolves solo (r12 solo min 20.4 s at 128) — the residual
    //      is per-task constants on a low-cardinality group key (~1M
    //      suppkeys) spread over more reducers without shrinking the
    //      single exchange. At cluster partition counts (thousands), size
    //      shuffle.partitions to the group-key cardinality for this
    //      shape, or fall back to the default two-exchange plan.
    Q("a2_distinct_onepass",
      (s, d) => lineitem(s, d)
        .select("l_suppkey", "l_orderkey")
        .repartition(col("l_suppkey"))
        .groupBy("l_suppkey", "l_orderkey").agg(count(lit(1)).as("_dup"))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("distinct_orders")),
      Some("""SELECT l_suppkey, COUNT(DISTINCT l_orderkey) AS distinct_orders
              FROM lineitem GROUP BY 1""")),

    // ---- NOTE: the blanket-salt arm (saltedJoin with a fixed 8× fan-out
    //      of the fact side) is deliberately NOT a registered query: an
    //      unconditional salt multiplies the shuffled fact by the salt
    //      count regardless of skew — ~1.2B shuffled rows at sf100,
    //      measured disk-death (SCALE.md decade 5, finding 3). Its byte-
    //      identity vs the plain join is result-pinned in `Measure ab skew`
    //      (the A/B evidence arm) and SkewSpec; the registry carries only
    //      the scale-safe adaptive form below.

    // ---- Adaptive salted join on the ACTUALLY-skewed fixture (the one
    //      SkewSpec and `Measure ab skew` share): ~half the probe rows
    //      collapse onto key 1, which detection must find and salt,
    //      while the thousands of uniform keys pass through with fan-out
    //      1. Oracle = the plain SQL join over the same CASE-collapsed
    //      keys, so a detection or decomposition bug (lost rows,
    //      duplicated build rows) hash-fails. EAGER: detection samples at
    //      construction (Q.scala contract; SkewSpec executes + pins the
    //      schema).
    Q("skew_adaptive_join",
      (s, d) => {
        val (fact, dim) = skewedFixture(s, d, amplify = 1)
        adaptiveSaltedJoin(fact.select("k", "l_extendedprice"), dim, "k",
          sampleFraction = 0.05, rowsPerSalt = 500, maxSalts = 16)
          .groupBy("k")
          .agg(count(lit(1)).as("n_lines"),
            decSum(col("l_extendedprice") * col("payload")).as("mass"))
      },
      Some(s"""WITH fact AS (
                SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
                            ELSE l_orderkey END AS k,
                       l_extendedprice
                FROM lineitem),
              dim AS (
                SELECT DISTINCT CASE WHEN o_orderkey % 2 = 0 THEN 1
                                     ELSE o_orderkey END AS k
                FROM orders),
              dim2 AS (SELECT k, CAST(k % 97 AS DOUBLE) AS payload FROM dim)
              SELECT k, COUNT(*) AS n_lines,
                ${sqlDecSum("l_extendedprice * payload")} AS mass
              FROM fact JOIN dim2 USING (k) GROUP BY 1"""),
      eager = true),

    // ---- IVF ANN: build a coarse quantizer (centroids = one Lloyd
    //      assignment step from the label seeding — a distributed
    //      per-(cell, dim) average), assign every vector to its nearest
    //      centroid, probe the query's top-2 cells only. Centroids are
    //      tiny metadata: collected, rounded (stabilizes against
    //      accumulation-order ulps), and re-broadcast as literals — the
    //      same train-then-broadcast shape a real IVF index uses at
    //      100 TB. Rows-only check; exact baseline is ann_cosine_topk.
    //      EAGER by nature (training is a collect; Q.scala contract):
    //      the result is checkpointed and the embeddings cache released
    //      before returning, so construction leaves nothing pinned.
    Q("ann_ivf_topk",
      (s, d) => {
        // Cache REMOVED (r15 third session, measured): the r15a
        // size-gated cache of this normalized-vector projection LOSES
        // 1.88× at a 76 MB / 300k-vector fixture (`Measure ab cachegate`,
        // interleaved arms: cached 214.0 s vs uncached 114.0 s; ~even
        // at the 780 KB sf0.1 table) — Spark's columnar cache encodes
        // the 64-wide array<double> rows slowly and its scans are not
        // vectorized, so re-deriving the codegen'd transform+norm from
        // parquet is cheaper for all three readers (train collect,
        // assignment scan, probe scan). Uncached is also the
        // zero-executor-state arm the gate already used above 1 GiB.
        val e = embeddings(s, d)
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("norm", sqrt(VectorOps.dot(col("v"), col("v"))))
        // train: per-(cell, dim) mean over the label-seeded partition
        val centroids: Map[Int, Seq[Double]] = e
          .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("label", "dim").agg(avg("x").as("c"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (l, rows) =>
            l -> rows.sortBy(_.getInt(1))
              .map(r => math.rint(r.getDouble(2) * 1e6) / 1e6).toSeq
          }
        def cellScores(v: Column) = array(centroids.toSeq.sortBy(_._1).map {
          case (id, w) => struct(
            (VectorOps.dot(v, typedLit(w)) /
              sqrt(VectorOps.dot(typedLit(w), typedLit(w)))).as("s"),
            lit(id).as("c"))
        }: _*)
        // assign every vector to its best cell (array_max orders by s)
        val assigned = e.withColumn("cell",
          array_max(cellScores(col("v"))).getField("c"))
        // queries probe their top-2 cells
        val probes = assigned.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qnorm"),
            explode(slice(array_sort(cellScores(col("v"))), -2, 2)
              .getField("c")).as("cell"))
        val scored = assigned.join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(VectorOps.cosineWithNorms(col("qv"), col("v"),
              col("qnorm"), col("norm")), 6).as("cos_sim"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("query_id", "vec_id", "cos_sim", "rn")
          .localCheckpoint(true)
      },
      None,
      eager = true),

    // ---- Persisted mergeable-sketch mart: the incremental COUNT
    //      DISTINCT shape for 100 TB. approx_count_distinct answers one
    //      query and throws its state away; a DataSketches HLL sketch
    //      column (hll_sketch_agg) is a ~KB binary VALUE that survives a
    //      parquet round-trip and unions losslessly (hll_union_agg), so
    //      a daily job sketches only ITS day and any window's distinct
    //      count is a union over stored rows — no re-scan of history.
    //      (Reference behavior generalized: the daily append-load
    //      load_data_to_snowflake.sh:109-134 recomputes dashboard
    //      distincts from full history each day.)
    //
    //      Threshold-as-GATE (the a2/quality-gate shape): the one
    //      summary row is emitted ONLY when (a) the mergeability
    //      invariant holds EXACTLY — estimate over the union of per-day
    //      sketches equals estimate over one global sketch of the same
    //      lgK (HLL register state is a per-register max, so
    //      partitioning the input must not change it; any difference
    //      means the mart path corrupted a sketch) — and (b) the
    //      estimate lands within 5% of the exact distinct (lgK=12 rsd
    //      is ~1.6%, so 5% only trips on real regressions, not
    //      estimator variance). Exact twin is a pre-deduped plain
    //      count — no Expand (the a2 round-8 lesson). SketchMartSpec
    //      pins the parquet round-trip and the day-N+1 incremental
    //      union on real files.
    Q("sketch_mart_users",
      (s, d) => {
        val ev = events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val merged = dailyUserSketches(ev)
          .agg(count(lit(1)).as("n_days"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("m"))
        val global = ev.agg(hll_sketch_estimate(
          hll_sketch_agg(col("user_id"), SketchLgK)).as("g"))
        val exact = ev.select("user_id").distinct()
          .agg(count(lit(1)).as("exact_users"))
        merged.crossJoin(global).crossJoin(exact)
          .select(col("n_days"), col("exact_users"),
            col("m").cast("long").as("merged_est"),
            col("g").cast("long").as("global_est"),
            round(abs(col("m") - col("exact_users")) /
              col("exact_users"), 6).as("rel_err"))
          // Estimator-path coupling (deliberate, and load-bearing for
          // the === below): register state is partition-invariant, but
          // the EQUALITY additionally relies on both arms resolving
          // their estimate through the same DataSketches path — the
          // union arm is hll_union_agg (out-of-order flag set →
          // composite estimator), and hll_sketch_agg's partial/final
          // merge ALSO routes through Union, so the direct arm reads
          // composite too. If a future plan change ever ran the global
          // aggregate in complete mode (no merge step), the direct
          // sketch would keep its HIP estimator and could legitimately
          // differ by a few counts — that would be a planner-path
          // change, NOT sketch corruption; relax to register-state /
          // serialized-bytes comparison before touching the mart code.
          .filter(col("merged_est") === col("global_est") &&
            col("rel_err") <= 0.05)
      },
      None),

    // ---- The per-day exact readout a user runs today (and the mart's
    //      correctness anchor): oracle-gated daily distinct users.
    Q("sketch_daily_exact",
      (s, d) => events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy("day").agg(count_distinct(col("user_id")).as("n_users")),
      Some("""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
              COUNT(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1""")),

    // ---- KLL quantile mart (the quantile pair of sketch_mart_users):
    //      the per-language quality gate (quality_quantile_filter)
    //      re-scans ALL history for an exact p25 at every run — at
    //      100 TB the incremental shape is one mergeable quantile
    //      sketch per history partition ((lang, source) here; ingest
    //      day × lang in production), persisted as a BINARY parquet
    //      column and UNIONED per window instead of re-scanned
    //      (functions/KllQuantile.scala; KllMartSpec round-trips the
    //      parquet and the day-N+1 fold).
    //
    //      Threshold-as-GATE, with a DIFFERENT invariant than the HLL
    //      mart — deliberately. HLL register state is order-invariant,
    //      so merged ≡ direct holds exactly; KLL compaction is
    //      randomized, so merged and direct sketches legitimately
    //      retain different samples and estimate equality would be a
    //      false gate. What KLL guarantees through ANY merge tree, and
    //      what this row vanishes on:
    //        (a) EXACT mass + range conservation: union-of-parts n /
    //            min / max equal the ungrouped exact count / min / max
    //            per language (a lost or duplicated sketch row breaks
    //            n; a corrupted serialization breaks min/max);
    //        (b) rank contract, tie-robustly: for the value v the
    //            merged (and the direct) sketch returns at rank 0.25,
    //            frac(q <= v) >= 0.25 - 0.02 AND frac(q < v) <=
    //            0.25 + 0.02. This brackets v's true rank SPAN instead
    //            of point-comparing frac(q <= v) to 0.25, which ties
    //            in the rounded scores would break (a value holding
    //            30% of the mass straddling p25 is the CORRECT answer
    //            with frac(q <= v) ≈ 0.55). k=400 → rank ε ≈ 0.9% at
    //            99% confidence, so 0.02 has no realistic flake
    //            budget; merging never degrades the bound.
    Q("kll_mart_quality",
      (s, d) => {
        val kll = graft.functions.KllQuantile
        // scored feeds four readers (mart, direct, exact, rank span),
        // each re-deriving the tokenize+score projection. A gated cache
        // was tried and REJECTED in r15: at sf0.1 it took the query
        // 0.93 → 3.11 s (the InMemoryRelation materialization plus the
        // extra stage boundaries cost more than four re-derivations of
        // a narrow projection), and at 100 TB the right amortization is
        // the mart itself (qualitySketchMart's persisted sketches), not
        // an executor cache of the scored corpus.
        val scored = documents(s, d).select(col("lang"), col("source"),
          round(TextOps.qualityScore(TextOps.tokens(col("text"))), 6)
            .as("q"))
        val merged = qualitySketchMart(scored).groupBy("lang")
          .agg(udaf(kll.unionSummaryAgg(0.25)).apply(col("sk")).as("m"))
        val direct = scored.groupBy("lang")
          .agg(udaf(kll.valueSummaryAgg(0.25)).apply(col("q")).as("g"))
        val thr = merged.join(direct, "lang")
          .select(col("lang"), col("m.n").as("n_m"),
            col("m.min").as("min_m"), col("m.max").as("max_m"),
            col("m.quantile").as("q25_m"), col("g.quantile").as("q25_g"))
        // Exact rank span of each arm's returned value, per language —
        // thr is one row per language: broadcast it back over the
        // scored corpus (the same broadcast-threshold join shape as
        // quality_quantile_filter). The exact conservation readout
        // (count/min/max per language) rides THIS aggregate since r15
        // instead of a third stand-alone corpus scan: thr carries
        // exactly one row per language present in scored, so the inner
        // broadcast join preserves the scored rows one-for-one and
        // count/min/max over them equal the old separate aggregate's —
        // order-insensitive aggregates, so values are identical (an
        // attempt to fold them into the KLL aggregate instead was
        // measured to perturb the sketch's sampled summary via the
        // changed aggregate-exec row order, and was rejected — the KLL
        // readers stay byte-stable only if their aggregate is left
        // alone). One fewer full tokenize+score pass at every scale.
        val ranks = scored
          .join(broadcast(thr.select("lang", "q25_m", "q25_g")), Seq("lang"))
          .groupBy("lang").agg(
            avg(when(col("q") < col("q25_m"), 1.0).otherwise(0.0))
              .as("lo_m"),
            avg(when(col("q") <= col("q25_m"), 1.0).otherwise(0.0))
              .as("hi_m"),
            avg(when(col("q") < col("q25_g"), 1.0).otherwise(0.0))
              .as("lo_g"),
            avg(when(col("q") <= col("q25_g"), 1.0).otherwise(0.0))
              .as("hi_g"),
            count(lit(1)).as("n_e"), min("q").as("min_e"),
            max("q").as("max_e"))
        val eps = 0.02
        thr.join(ranks, "lang")
          .withColumn("ok",
            col("n_m") === col("n_e") && col("min_m") === col("min_e") &&
            col("max_m") === col("max_e") &&
            col("hi_m") >= 0.25 - eps && col("lo_m") <= 0.25 + eps &&
            col("hi_g") >= 0.25 - eps && col("lo_g") <= 0.25 + eps)
          .agg(count(lit(1)).as("n_langs"),
            round(max(greatest(lit(0.25) - col("hi_m"),
              col("lo_m") - lit(0.25), lit(0.0))), 6)
              .as("max_rank_err_merged"),
            round(max(greatest(lit(0.25) - col("hi_g"),
              col("lo_g") - lit(0.25), lit(0.0))), 6)
              .as("max_rank_err_direct"),
            sum(when(col("ok"), 0L).otherwise(1L)).as("violations"))
          .filter(col("violations") === 0)
      },
      None)
  )

  /** lgConfigK for every sketch in the mart — union requires one
    * config; 2^12 registers ≈ 1.6% rsd at ~4 KB per sketch row. */
  val SketchLgK = 12

  /** The mart build: one HLL sketch row per day. The output column is a
    * plain BINARY — writable to parquet, unionable after read-back
    * (SketchMartSpec round-trips it). At 100 TB this is the daily
    * incremental job; `sketch_mart_users` composes it lazily for the
    * gate. */
  def dailyUserSketches(ev: DataFrame): DataFrame =
    ev.groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), SketchLgK).as("sk"))

  /** The quantile-mart build: one KLL sketch per (lang, source) — the
    * history-partition granularity of the `documents` fixture; in
    * production the key is (ingest_day, lang). The output column is a
    * plain BINARY — parquet-writable, unionable after read-back
    * (KllMartSpec round-trips it). `scored` must carry (lang, source,
    * q). */
  def qualitySketchMart(scored: DataFrame): DataFrame =
    scored.groupBy("lang", "source")
      .agg(udaf(graft.functions.KllQuantile.sketchAgg())
        .apply(col("q")).as("sk"))
}
