package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Corpus-level curation operators over the `documents` table — the steps
  * a training-data pipeline runs AFTER per-document scoring and pair
  * finding (SURVEY.md §7.1 step 9 north-star extensions):
  *
  *  - duplicate-CLUSTER resolution: near-dup pairs are only half of
  *    dedup; the keep/drop decision needs connected components over the
  *    pair graph and one canonical doc per component,
  *  - eval-set decontamination: flag training docs sharing an n-gram
  *    shingle with a held-out eval set,
  *  - deterministic stratified sampling: reproducible hash-threshold
  *    sampling with per-stratum rates (downsample the dominant language).
  *
  * Scale designs: components via GraphOps.ccLogStar — the
  * large-star/small-star rounds of Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14: O(log n) rounds
  * INDEPENDENT of component diameter (near-dup chains are the
  * long-diameter adversary), each round a join over the shrinking edge
  * list, with the full corpus never entering the loop.
  * Decontamination broadcasts the
  * eval shingle set — eval suites are small by construction, so the scan
  * over 100 TB of training shingles is map-only. Sampling is a per-row
  * portable-hash threshold: zero shuffle, reproducible across engines
  * and runs, no sampleBy() seed drift.
  */
object CorpusOps extends QueryModule {

  /** Duplicate clusters over a near-dup pairs provider —
    * `(rawPairs, releaseDocs)` as returned by `TextOps.jaccardPairsAuto`;
    * the body of `dup_clusters` and `split_leakage_safe`. One row per doc
    * in some pair: `doc_id`, `cluster_id` (min member), `cluster_size`,
    * `is_canonical`.
    *
    * Materializes the (small) pair list ONCE, then drops every
    * corpus-sized input BEFORE the loop: ccLogStar references its
    * edge input from several subtrees (canon + the node universe),
    * so handing it the raw jaccard lineage would re-run the
    * inverted-index join per reference, and the corpus docs cache
    * must not stay pinned through O(log n) rounds that only touch
    * the edge list. The checkpoint blocks are edge-list-sized and
    * explicitly released once the (checkpointed) result exists.
    * The checkpoint materialization itself runs the jaccard join,
    * so it sits INSIDE the try: if a task fails mid-materialization
    * the finally still releases the corpus-sized docs cache and any
    * partially created checkpoint blocks (pairs stays null until
    * ckptTracked returns; the release is null-guarded). */
  private[graft] def dupClustersFrom(
      provider: (DataFrame, () => Unit)): DataFrame = {
    val (rawPairs, releaseDocs) = provider
    var pairs: DataFrame = null
    var pairIds: Set[Int] = Set.empty
    try {
      val cp = graft.util.Checkpoints.ckptTracked(
        rawPairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      pairs = cp._1; pairIds = cp._2
      releaseDocs()
      // size-gated CC (r15): a KB-scale pair graph resolves via the
      // driver union-find instead of ~5 distributed star rounds of
      // pure scheduling; past the gate the O(log n) loop runs unchanged
      val cc = GraphOps.ccAuto(pairs)
      cc.select(col("node").as("doc_id"),
        col("component_id").as("cluster_id"),
        col("component_size").as("cluster_size"),
        (col("node") === col("component_id")).as("is_canonical"))
    } finally {
      releaseDocs() // idempotent failure backstop
      if (pairs != null) graft.util.Checkpoints.release(pairs, pairIds)
    }
  }

  /** DuckDB twin of the pair graph's components under [[dupClustersFrom]]:
    * the CTE prefix `lab(doc_id, cluster_id)`, cluster id = min member,
    * shared by the dup_clusters and split_leakage_safe oracles. */
  private val dupLabelsSql: String =
    s"""WITH RECURSIVE
            pairs AS (SELECT doc_a, doc_b
                      FROM (${TextOps.jaccardPairsSql})),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                      UNION ALL
                      SELECT doc_b, doc_a FROM pairs),
            reach(doc_id, lab) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, r.lab
              FROM reach r JOIN edges e ON e.src = r.doc_id),
            lab AS (SELECT doc_id, MIN(lab) AS cluster_id
                    FROM reach GROUP BY 1)"""

  def all: Seq[Q] = Seq(

    // ---- Duplicate-cluster resolution: connected components over the
    //      bigram-Jaccard near-dup pairs (TextOps.jaccardPairs), then
    //      one canonical doc (min doc_id) per component. The component
    //      labels come from GraphOps.ccLogStar — the O(log n)-round
    //      large-star/small-star body — because near-dup CHAINS
    //      (A≈B≈C≈…, each neighbor sharing just enough shingles) are
    //      exactly the long-diameter shape that defeats an O(diameter)
    //      min-label loop at corpus scale. One CC implementation serves
    //      both the graph tier and corpus curation; the min-label
    //      variant survives only as graph_cc_components' documented
    //      low-round-count alternative, not as duplicated logic here.
    //
    //      Marked EAGER: the round count is convergence-driven (an
    //      action per round), so this cannot be one lazy plan — Spark
    //      4.1's native recursive CTE would be, but it only accepts
    //      UNION ALL in the recursive step, which never terminates on a
    //      cyclic edge list. ccLogStar localCheckpoints every round and
    //      its result, releases each round's blocks explicitly, and
    //      registers nothing with the cacheManager; the corpus-sized
    //      docs cache inside jaccardPairs is released in the finally.
    Q("dup_clusters",
      (s, d) =>
        // size-gated: cache plan at gate scale, bucketed-table layout past
        // SizeGate.CorpusCache's bound (the 100 TB corpus path)
        dupClustersFrom(TextOps.jaccardPairsAuto(s, d)),
      Some(s"""$dupLabelsSql
            SELECT doc_id, cluster_id,
              CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                AS cluster_size,
              doc_id = cluster_id AS is_canonical
            FROM lab"""),
      eager = true),

    // ---- Eval-set decontamination: training docs sharing any word
    //      trigram with the held-out eval slice (doc_id % 20 = 0 stands
    //      in for a benchmark suite). Inverted-index semantics with the
    //      small side broadcast: one map-only pass over training
    //      shingles, partial-agg count per doc.
    Q("decontaminate",
      (s, d) => {
        val sh = documents(s, d).select(col("doc_id"),
          array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 3))
            .as("sh"))
        val evalSh = sh.filter(col("doc_id") % 20 === 0)
          .select(explode(col("sh")).as("shingle")).distinct()
        val train = sh.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("shingle"))
        train.join(broadcast(evalSh), Seq("shingle"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                            FROM documents),
            sh AS (SELECT doc_id, list_distinct(list_transform(
                     range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
                   FROM toks WHERE len(t) >= 3),
            ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
                   WHERE doc_id % 20 = 0),
            tr AS (SELECT doc_id, unnest(s) AS shingle FROM sh
                   WHERE doc_id % 20 <> 0)
            SELECT t.doc_id, COUNT(*) AS n_shared
            FROM tr t JOIN ev e ON t.shingle = e.shingle
            GROUP BY 1""")),

    // ---- Sequence packing: lay each source's docs end-to-end in
    //      doc_id order and cut fixed 2048-token training sequences —
    //      each doc gets its spanning [seq_first, seq_last] window and
    //      in-sequence offset. One window cumsum per source partition;
    //      at 100 TB the source shard IS the parallel unit (the global
    //      concatenation order is per-shard by design, so no global
    //      sort and no single-partition window).
    Q("seq_packing",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
        documents(s, d).select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("start_off",
            sum("n_tokens").over(w) - col("n_tokens"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            expr("start_off DIV 2048").as("seq_first"),
            expr("(start_off + n_tokens - 1) DIV 2048").as("seq_last"),
            (col("start_off") % 2048).as("seq_offset"))
      },
      Some("""WITH toks AS (
                SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents),
              offs AS (
                SELECT doc_id, source, n_tokens,
                  CAST(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id) AS BIGINT)
                    - n_tokens AS start_off
                FROM toks)
              SELECT doc_id, source, n_tokens,
                start_off // 2048 AS seq_first,
                (start_off + n_tokens - 1) // 2048 AS seq_last,
                start_off % 2048 AS seq_offset
              FROM offs""")),

    // ---- Per-language quantile quality gate: keep docs strictly above
    //      their language's 25th-percentile quality score. Exact
    //      interpolated percentile per stratum (tiny aggregate,
    //      broadcast back); both sides compare ROUND(..., 6) values so
    //      the threshold comparison is boundary-deterministic.
    Q("quality_quantile_filter",
      (s, d) => {
        // scored feeds both the threshold aggregate and the join probe
        // side — cache it so the corpus is tokenized and scored once
        // (at 100 TB: materialize the scored projection to a table).
        // The lazy return value keeps the cache alive; release is the
        // session's cache lifecycle (harness clearCache / unpersist by
        // long-lived callers), as for every internally-cached query.
        // SIZE-GATED since r15 (corpus-row-proportional; fail-closed):
        // above the gate the same plan re-scores for the second reader.
        val scored = graft.util.SizeGate.cacheIfBounded(s,
          documents(s, d).select(col("doc_id"), col("lang"),
            round(TextOps.qualityScore(TextOps.tokens(col("text"))), 6)
              .as("q")),
          s"$d/documents.parquet")
        val thr = scored.groupBy("lang")
          .agg(round(expr("percentile(q, 0.25)"), 6).as("q25"))
        scored.join(broadcast(thr), Seq("lang"))
          .filter(col("q") > col("q25"))
          .select(col("doc_id"), col("lang"),
            col("q").as("quality_score"), col("q25").as("lang_q25"))
      },
      Some(s"""WITH scored AS (
                SELECT doc_id, lang,
                  ROUND(${TextOps.SqlQuality}, 6) AS q
                FROM documents),
              thr AS (SELECT lang,
                        ROUND(quantile_cont(q, 0.25), 6) AS q25
                      FROM scored GROUP BY 1)
              SELECT s.doc_id, s.lang, s.q AS quality_score,
                t.q25 AS lang_q25
              FROM scored s JOIN thr t ON s.lang = t.lang
              WHERE s.q > t.q25""")),

    // ---- Scale path for the quantile gate: exact percentile() buffers
    //      every group value in the aggregation state — corpus-sized
    //      memory at 100 TB. approx_percentile's bounded sketch
    //      (mergeable, map-side combinable) is the path that scales;
    //      this gate emits its SINGLE row only while every language's
    //      sketch threshold stays within 0.02 of the exact one — a
    //      partial regression (one language off) zeroes the row set just
    //      like a total one, matching the all-or-nothing recall-gate
    //      convention. One aggregation pass computes both percentiles
    //      (no cache, no join). Engine-specific sketch → no SQL oracle.
    Q("quality_quantile_approx_gate",
      (s, d) => {
        val perLang = documents(s, d).select(col("lang"),
          round(TextOps.qualityScore(TextOps.tokens(col("text"))), 6)
            .as("q"))
          .groupBy("lang")
          .agg(round(expr("percentile(q, 0.25)"), 6).as("q25_exact"),
            round(expr("approx_percentile(q, 0.25, 10000)"), 6)
              .as("q25_approx"))
        perLang
          .agg(count(lit(1)).as("n_langs"),
            round(max(abs(col("q25_exact") - col("q25_approx"))), 6)
              .as("max_abs_err"))
          .filter(col("max_abs_err") <= 0.02)
      },
      None),

    // ---- TF-IDF top terms: the corpus-statistic term weighting behind
    //      keyword extraction / topic tagging. Two map-side-combinable
    //      aggregates (term frequency per doc, document frequency per
    //      term), the df relation joined back, the doc count as a
    //      broadcast singleton — never a driver-side collect. Top-3 per
    //      doc via row_number with a total-order tiebreak.
    Q("tfidf_top_terms",
      (s, d) => {
        val toks = documents(s, d).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("term"))
        // tf feeds both the df aggregate and the join probe side —
        // cache it so the corpus is exploded and term-counted once
        // (exchange reuse across fresh expr-ids is not guaranteed).
        // SIZE-GATED since r15: (doc, term) rows are corpus-
        // proportional — above the gate the same lazy plan re-derives
        // tf for the second reader instead of pinning unbounded
        // executor state (fail-closed).
        val tf = graft.util.SizeGate.cacheIfBounded(s,
          toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")),
          s"$d/documents.parquet")
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
        // ln() is the one transcendental in the oracle surface (Java
        // Math.log and DuckDB's libm both allow a 1-ulp error), so the
        // comparison rounds to 4 decimals — coarse enough that a
        // last-ulp divergence cannot straddle a rounding boundary in
        // practice, with ties broken by the exact term column.
        val w = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * log(col("n_docs") / col("df")), 4))
        val byW = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term"))
        w.withColumn("rank", row_number().over(byW))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("term"), col("tf"),
            col("tfidf"), col("rank"))
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf
                     FROM toks GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT COUNT(*) AS n_docs FROM documents),
              w AS (SELECT t.doc_id, t.term, t.tf,
                      ROUND(t.tf * LN(n.n_docs / d.df), 4) AS tfidf
                    FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n),
              r AS (SELECT doc_id, term, tf, tfidf,
                      CAST(ROW_NUMBER() OVER (
                        PARTITION BY doc_id
                        ORDER BY tfidf DESC, term) AS INT) AS rank
                    FROM w)
              SELECT doc_id, term, tf, tfidf, rank
              FROM r WHERE rank <= 3""")),

    // ---- Deterministic stratified sampling: keep a doc iff its
    //      portable 60-bit hash lands under the stratum's rate —
    //      reproducible on any engine, zero shuffle, and rebalancing
    //      (5% of the dominant 'en' stratum, 20% of the rest).
    Q("sample_stratified",
      (s, d) => {
        val h = PortableHashOps.h60(
          concat(lit("smpl:"), col("doc_id").cast("string")))
        val rate = when(col("lang") === "en", 5).otherwise(20)
        documents(s, d).filter((h % 100) < rate)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""SELECT doc_id, lang, source FROM documents
            WHERE ${PortableHashOps.sqlH60(
              "'smpl:' || CAST(doc_id AS VARCHAR)")} % 100
              < CASE WHEN lang = 'en' THEN 5 ELSE 20 END""")),

    // ---- Domain-mixture rebalancing weights: per-source token counts
    //      and the per-doc sampling weight that moves the mixture toward
    //      a uniform token share across sources (upsampling capped at
    //      3×, the standard guard against minting epochs of a tiny
    //      domain). Shape at 100 TB: one map-side-combinable aggregate
    //      over the corpus, a two-column singleton broadcast back —
    //      the weights table itself is domain-cardinality-sized and
    //      feeds a broadcast join in the consuming sampler. Numeric
    //      parity: every share/weight is a SINGLE double division, and
    //      the weight's denominator multiplies via DOUBLE on both sides
    //      (k is domain-cardinality-sized, so k→double is exact; an
    //      exact-BIGINT k*tokens would silently wrap past 2^63 in
    //      non-ANSI Spark while raising in DuckDB — a latent engine
    //      divergence), so both engines produce the identical IEEE
    //      result before the ROUND(6).
    Q("corpus_mix_weights",
      (s, d) => {
        val per = documents(s, d)
          .select(col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
        val tot = per.agg(sum(col("tokens")).as("total"),
          count(lit(1)).as("k"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tokens"),
            round(col("tokens").cast("double") / col("total"), 6)
              .as("token_share"),
            round(least(lit(3.0),
              col("total") / (col("k").cast("double") * col("tokens"))), 6)
              .as("mix_weight"))
      },
      Some("""WITH per AS (
                SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                    AS tokens
                FROM documents GROUP BY 1),
              tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
                        COUNT(*) AS k
                      FROM per)
              SELECT source, n_docs, tokens,
                ROUND(CAST(tokens AS DOUBLE) / total, 6) AS token_share,
                ROUND(LEAST(CAST(3.0 AS DOUBLE),
                  total / (CAST(k AS DOUBLE) * tokens)), 6) AS mix_weight
              FROM per CROSS JOIN tot""")),

    // ---- Per-doc novelty scoring: the fraction of a doc's distinct
    //      word-trigram shingles whose FIRST corpus occurrence (min
    //      doc_id over containing docs) is the doc itself — the
    //      redundancy signal curriculum/selection pipelines rank by
    //      (a near-dup of an earlier doc scores ~0, fresh content ~1).
    //      Shape at 100 TB (r14, guide §2.4): explode → the
    //      first-occurrence minimum as a WINDOW over the shingle key →
    //      one doc-keyed aggregate. min(doc_id) OVER (PARTITION BY
    //      shingle) computes the same per-shingle minimum the old
    //      aggregate did and attaches it on the SAME shuffle — the
    //      join back on shingle (and the corpus-sized cache that fed
    //      its probe side twice) is gone: one pass over the exploded
    //      shingles instead of two, 3 exchanges → 2, no executor-cache
    //      footprint at any scale. Nothing is collected on the driver.
    Q("doc_novelty",
      (s, d) => {
        val sh = documents(s, d).select(col("doc_id"),
          explode(array_distinct(
            TextOps.shingles(TextOps.tokens(col("text")), 3)))
            .as("shingle"))
        sh.withColumn("first_doc",
            min("doc_id").over(org.apache.spark.sql.expressions.Window
              .partitionBy("shingle")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            round(col("n_novel").cast("double") / col("n_shingles"), 6))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                            FROM documents),
              sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
                       AS shingle
                     FROM toks WHERE len(t) >= 3),
              first AS (SELECT shingle, MIN(doc_id) AS first_doc
                        FROM sh GROUP BY 1),
              agg AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
                        CAST(SUM(CASE WHEN f.first_doc = s.doc_id
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                      FROM sh s JOIN first f ON s.shingle = f.shingle
                      GROUP BY 1)
              SELECT doc_id, n_shingles, n_novel,
                ROUND(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
              FROM agg""")),

    // ---- Leakage-safe train/eval split: docs in the same near-dup
    //      cluster MUST land in the same split (splitting a dup pair
    //      across train and eval is silent contamination), so the split
    //      decision hashes the cluster's canonical id — portable 60-bit
    //      hash, 90/10 — and singleton docs hash their own id. Reuses
    //      dup_clusters' body (dupClustersFrom) end-to-end: same pair
    //      list, same CC, same checkpoint/release discipline. The
    //      cluster map joins back to the corpus on doc_id WITHOUT a
    //      broadcast hint: the dup-cluster side is usually orders
    //      smaller than the corpus but is data-dependent — AQE promotes
    //      it to broadcast when it fits, and the shuffle join is the
    //      safe fallback when a pathological corpus makes it large.
    Q("split_leakage_safe",
      (s, d) => {
        val clusters = dupClustersFrom(TextOps.jaccardPairsAuto(s, d))
        val key = coalesce(col("cluster_id"), col("doc_id"))
        documents(s, d).select(col("doc_id"))
          .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), key.as("split_key"),
            when(PortableHashOps.h60(
              concat(lit("split:"), key.cast("string"))) % 100 < 90,
              "train").otherwise("eval").as("split"))
      },
      Some(s"""$dupLabelsSql
            SELECT d.doc_id,
              COALESCE(l.cluster_id, d.doc_id) AS split_key,
              CASE WHEN ${PortableHashOps.sqlH60(
                "'split:' || CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)")}
                  % 100 < 90
                THEN 'train' ELSE 'eval' END AS split
            FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id"""),
      eager = true)
  )
}
