package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.util.SizeGate
import graft.util.SizeGate.{below, CorpusCache, GramDimBroadcast}

/** Training-data text pipeline operators over the `documents` table —
  * north-star extensions beyond the reference's surface (SURVEY.md §7.1
  * step 9): exact + approximate deduplication, fingerprinting, quality
  * scoring, language ID, token counting.
  *
  * Design rules:
  *  - Everything is per-row higher-order-function math or standard
  *    shuffle-light aggregation — no UDFs, no driver-side loops.
  *  - MinHash/SimHash use xxhash64 (seeded via a literal prefix column) —
  *    deterministic across runs/partitionings, so rows-only checks are
  *    stable; no DuckDB oracle since hash functions differ across engines.
  *  - Exact ops (md5 fingerprints, token counts, jaccard on explicit
  *    shingle sets) DO carry oracles.
  *
  * 100 TB notes: exact dedup is a single hash-aggregate on md5(text) —
  * the canonical map-side-combinable shape. MinHash signature generation
  * is one explode + one 16-min aggregate per doc (map-side partial);
  * LSH banding turns the quadratic all-pairs into an equi-join on
  * (band, band_hash) — the join key is uniform by construction (hash
  * values), so no skew salting is needed. The n-gram inverted index
  * prunes hub shingles (df cap) to bound candidate fan-out, the standard
  * scalable all-pairs-similarity design.
  */
object TextOps extends QueryModule {

  /** Tokens of the whitespace-separated text. */
  def tokens(c: Column): Column = split(c, " ")

  private def toksCol = tokens(col("text"))

  /** Word n-gram shingles as an array column (empty if too few tokens).
    * Native expression — the HOF transform+slice formulation costs an
    * interpreted lambda + array copy per shingle (see
    * [[graft.functions.NGramShingles]]). */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.TextExprs.wordShingles(toks, n)

  /** Near-dup pair finding (bigram-Jaccard ≥ 0.2 over inverted-index
    * candidates), the lazy entry the `ngram_jaccard_pairs` query routes
    * through, plus a thunk releasing its internal corpus cache — for
    * callers that materialize the pairs eagerly and must not leave a
    * corpus-sized cache pinned in a long-lived session.
    *
    * The shingled corpus cache is size-gated ([[SizeGate.CorpusCache]]):
    * until r14 it was an UNCONDITIONAL `.cache()` — the exact plan the
    * r13 corpus-layout sweep measured DNF-ENOSPC at a 2.8 GiB corpus
    * (the shingled rows inflate ~10× in memory and spill >50 GB before
    * the executor store gives up). Declared queries must stay
    * analysis-only ([[Q]]'s laziness contract), so the bucketed-table
    * arm (which writes during construction) is not available here;
    * instead, above the gate the SAME lazy plan runs with no cache at
    * all — the shingling is re-derived for the index build and the two
    * verify joins (bounded recompute, ~3× the corpus scan), never
    * unbounded executor state. Eager callers get the strictly better
    * bucketed layout through [[jaccardPairsAuto]]. */
  private[graft] def jaccardPairs(s: SparkSession,
      d: String): (DataFrame, () => Unit) = {
    val cache = below(s, CorpusCache)(corpusBytes(s, d))
    val docs = if (cache) shingledDocs(s, d).cache() else shingledDocs(s, d)
    (jaccardPairsFrom(docs, below(s, GramDimBroadcast)(corpusBytes(s, d))),
      () => { if (cache) docs.unpersist(); () })
  }

  /** The corpus gates' measurement: `d`'s documents' on-disk bytes. */
  private def corpusBytes(s: SparkSession, d: String): Long =
    SizeGate.dirBytes(s, docsPath(d))

  private def docsPath(d: String): String = s"$d/documents.parquet"

  /** The shingled corpus: one row per doc with its distinct bigram set —
    * the dataset the pairs plan reads three times (index build + both
    * sides of the verify join). */
  private def shingledDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      array_distinct(shingles(toksCol, 2)).as("grams"))

  /** Size-gated eager entry (`dup_clusters`, `split_leakage_safe`):
    * below [[SizeGate.CorpusCache]] the cached plan of [[jaccardPairs]],
    * above it the same pairs plan over the shingled corpus persisted as
    * a table bucketed and sorted on doc_id — shuffle paid once at write
    * time, both verify joins then read bucket-colocated data with no
    * corpus-side exchange (pinned in TextBucketedSpec), and no
    * corpus-sized executor cache exists at all. The gate reads file
    * sizes (bounded filesystem metadata), never the data.
    *
    * The above-gate corpus-table write is memoized per (session,
    * dataset dir) since r14 (VERDICT r13 missing-item 2): the r13 sweep
    * measured the write at 541 s for a 2.8 GiB corpus vs 20 s for reads
    * over the standing table, so two routed queries in one session
    * (dup_clusters + split_leakage_safe) must share ONE write. The
    * freshness contract is therefore per-session: a session sees the
    * corpus as of its own first routed query — same contract as the
    * cache arm below the gate, whose `.cache()` also freezes the corpus
    * at first materialization. A re-created table name (dropped behind
    * our back) is detected by a catalog re-check and rewritten. */
  private[graft] def jaccardPairsAuto(s: SparkSession,
      d: String): (DataFrame, () => Unit) =
    if (below(s, CorpusCache)(corpusBytes(s, d))) jaccardPairs(s, d)
    else (jaccardPairsFrom(s.table(ensureBucketedCorpus(s, d)),
      below(s, GramDimBroadcast)(corpusBytes(s, d))), () => ())

  /** (session, dataset dir) → already-written bucketed corpus table.
    * Same stopped-session eviction discipline as
    * [[graft.util.PlanMemo]]: entries of stopped sessions are dropped
    * on every access so a JVM cycling sessions cannot accumulate dead
    * references. */
  private val writtenCorpusTables = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Write-once (per session, per dataset) bucketed shingled-corpus
    * table; returns its name. `compute` (not `computeIfAbsent`) so a
    * memo entry whose table has been dropped from the catalog is
    * rewritten instead of trusted. */
  private def ensureBucketedCorpus(s: SparkSession, d: String): String = {
    writtenCorpusTables.keySet.removeIf(_._1.sparkContext.isStopped)
    writtenCorpusTables.compute((s, d), (_, prev) =>
      if (prev != null && s.catalog.tableExists(prev)) prev
      else {
        val t = bucketedTableName(d)
        graft.sources.Bucketing.writeBucketed(
          shingledDocs(s, d), t, Seq("doc_id"), 8, Seq("doc_id"))
        t
      })
  }

  /** Bucketed-corpus table name for dataset dir `d` — a stable 96-bit
    * SHA-256 prefix of the dir, so distinct datasets sharing one
    * warehouse get distinct tables (collision odds ~2⁻⁹⁶ per pair —
    * negligible, though not provably zero; the r13 32-bit MurmurHash3
    * made cross-dataset aliasing merely unlikely at warehouse scale,
    * ADVICE r13). Stable across JVMs by design. */
  private[graft] def bucketedTableName(d: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8"))
    s"jaccard_docs_bkt_${digest.take(12).map(b => f"$b%02x").mkString}"
  }

  /** Inverted-index candidate generation + exact-jaccard verification
    * over the shingled corpus (cached, uncached or a bucketed table —
    * the plan is layout-agnostic). */
  private def jaccardPairsFrom(docs: DataFrame,
      hintGramDim: Boolean): DataFrame = {
    val index = docs.select(col("doc_id"),
      explode(col("grams")).as("gram"))
    val rare = index.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50 && col("df") >= 2)
    // SIZE-GATED broadcast (SizeGate.GramDimBroadcast): the rare-gram
    // list (2 <= df <= 50) grows with corpus vocabulary — under Zipf,
    // MOST distinct grams are rare — but the planner never broadcasts
    // it unaided (aggregate stats inflate to the child's size), and the
    // de-hint shuffles the ENTIRE exploded index on gram (measured r12:
    // ngram_jaccard_pairs 12 s -> 62 s solo at sf100).
    val pruned = index.join(
      if (hintGramDim) broadcast(rare) else rare, Seq("gram"))
    val a = pruned.select(col("gram"), col("doc_id").as("doc_a"))
    val b = pruned.select(col("gram"), col("doc_id").as("doc_b"))
    val cands = a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val ga = docs.select(col("doc_id").as("doc_a"),
      col("grams").as("grams_a"))
    val gb = docs.select(col("doc_id").as("doc_b"),
      col("grams").as("grams_b"))
    val pairs = cands.join(ga, Seq("doc_a")).join(gb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("grams_a"), col("grams_b")))
          / size(array_union(col("grams_a"), col("grams_b"))), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.2)
    pairs
  }

  /** DuckDB twin of [[jaccardPairs]]; a complete SELECT, embeddable as a
    * derived table inside a larger oracle query. */
  private[ops] val jaccardPairsSql: String =
    """WITH grams AS (
         SELECT doc_id, list_distinct(list_transform(
           range(1, len(string_split(text,' '))),
           i -> string_split(text,' ')[i] || ' ' ||
                string_split(text,' ')[i+1])) AS g
         FROM documents),
       idx AS (SELECT doc_id, unnest(g) AS gram FROM grams),
       rare AS (SELECT gram FROM idx GROUP BY 1
                HAVING COUNT(*) <= 50 AND COUNT(*) >= 2),
       pruned AS (SELECT i.gram, i.doc_id FROM idx i
                  JOIN rare r ON i.gram = r.gram),
       cands AS (SELECT DISTINCT a.doc_id AS doc_a,
                        b.doc_id AS doc_b
                 FROM pruned a JOIN pruned b ON a.gram = b.gram
                 WHERE a.doc_id < b.doc_id)
       SELECT c.doc_a, c.doc_b,
         ROUND(len(list_intersect(ga.g, gb.g)) /
           (len(ga.g) + len(gb.g)
            - len(list_intersect(ga.g, gb.g))), 6) AS jaccard
       FROM cands c
       JOIN grams ga ON c.doc_a = ga.doc_id
       JOIN grams gb ON c.doc_b = gb.doc_id
       WHERE ROUND(len(list_intersect(ga.g, gb.g)) /
         (len(ga.g) + len(gb.g)
          - len(list_intersect(ga.g, gb.g))), 6) >= 0.2"""

  // ---- Quality / repetition signals, single-sourced: the standalone
  //      queries and the composed cleaning pipeline share these Column
  //      builders and their DuckDB SQL twins, so a weight or stopword
  //      tweak cannot silently diverge between them.
  private val Stopwords = Seq("the", "a", "of", "and")
  private def stopRatio(t: Column): Column =
    size(filter(t, w => w.isin(Stopwords.map(lit): _*))) / size(t)
  private def distinctRatio(t: Column): Column =
    size(array_distinct(t)) / size(t)
  // private[ops]: CorpusOps' quantile filter thresholds on the same
  // score — single-sourcing keeps the two gates from diverging.
  private[ops] def qualityScore(t: Column): Column =
    stopRatio(t) * 0.3 + distinctRatio(t) * 0.7
  private def dupGramRatio(toks: Column): Column = {
    val g3 = shingles(toks, 3)
    val n3 = size(g3)
    when(n3 > 0, lit(1.0) - size(array_distinct(g3)) / n3.cast("double"))
      .otherwise(0.0)
  }
  private val SqlToks = "string_split(text, ' ')"
  private val SqlStopRatio =
    s"len(list_filter($SqlToks, w -> w IN ('the', 'a', 'of', 'and')))" +
      s" / len($SqlToks)"
  private val SqlDistinctRatio =
    s"len(list_distinct($SqlToks)) / len($SqlToks)"
  private[ops] val SqlQuality =
    s"$SqlStopRatio * 0.3 + $SqlDistinctRatio * 0.7"
  /** Word-3-gram list; consumers alias it `AS g3`. */
  private val SqlG3 =
    s"""list_transform(range(1, len($SqlToks) - 1),
       |  i -> $SqlToks[i] || ' ' || $SqlToks[i+1] || ' ' ||
       |       $SqlToks[i+2])""".stripMargin
  /** Duplicate-3-gram fraction over a column named `g3`. */
  private val SqlDupRatio =
    """CASE WHEN len(g3) > 0
      |  THEN 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)
      |  ELSE 0.0 END""".stripMargin

  /** 16-hash MinHash signature columns for a (doc_id, shingle) relation. */
  private val numHashes = 16
  private val bandsOf2 = numHashes / 2

  /** SimHash (64-bit) computed entirely per-row with higher-order
    * functions — zero shuffle: for each bit, fold the token hashes'
    * +1/-1 contributions, then assemble the sign bits into a long.
    * SQL-expression form because the bit variable must be bound inside
    * nested lambdas. */
  private val simhashExpr =
    """aggregate(
         transform(sequence(0, 63), b ->
           IF(aggregate(split(text, ' '), 0L,
                (acc, t) -> acc + IF((xxhash64(t) >> b) & 1 = 1, 1L, -1L)) > 0,
              shiftleft(1L, b), 0L)),
         0L, (acc, v) -> acc + v)"""

  def all: Seq[Q] = Seq(

    // ---- Exact dedup: hash-groupBy on content (md5 matches across
    //      engines). Canonical representative = min doc_id.
    Q("dedup_exact",
      (s, d) => documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("dup_count")),
      Some("""SELECT md5(text) AS text_hash,
              CAST(MIN(doc_id) AS BIGINT) AS doc_id,
              COUNT(*) AS dup_count
              FROM documents GROUP BY 1""")),

    // ---- Document fingerprint: md5 of whitespace-normalized, lowercased
    //      content (stable under formatting noise).
    Q("doc_fingerprint",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), " +", " ")
          .cast("binary")).as("fingerprint")),
      Some("""SELECT doc_id,
              md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
              AS fingerprint FROM documents""")),

    // ---- Token counting (whitespace tokenization; split keeps empties in
    //      both engines, so counts agree).
    Q("text_tokens",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        size(toksCol).as("n_tokens"),
        length(col("text")).as("n_chars_measured"),
        col("n_chars")),
      Some("""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
              CAST(length(text) AS INT) AS n_chars_measured, n_chars
              FROM documents""")),

    // ---- Quality scoring: stopword ratio + vocabulary diversity.
    //      Per-row double math with identical expression shape on both
    //      sides → deterministic. The score expressions (and their SQL
    //      twins) are single-sourced so the composed cleaning pipeline
    //      below cannot silently diverge from the standalone signals.
    Q("text_quality",
      (s, d) => {
        val t = toksCol
        documents(s, d).select(
          col("doc_id"),
          size(t).as("n_tokens"),
          round(stopRatio(t), 6).as("stop_ratio"),
          round(distinctRatio(t), 6).as("distinct_ratio"),
          round(qualityScore(t), 6).as("quality_score"))
      },
      Some(s"""SELECT doc_id,
              CAST(len($SqlToks) AS INT) AS n_tokens,
              ROUND($SqlStopRatio, 6) AS stop_ratio,
              ROUND($SqlDistinctRatio, 6) AS distinct_ratio,
              ROUND($SqlQuality, 6) AS quality_score
              FROM documents""")),

    // ---- Repetition score: duplicate word-3-gram fraction, the
    //      standard "template/boilerplate" signal a training-data
    //      filter thresholds on. Per-row (native shingle expression +
    //      array ops) — zero shuffle; identical op shape on both sides.
    Q("text_repetition",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        size(shingles(toksCol, 3)).as("n_grams3"),
        round(dupGramRatio(toksCol), 6).as("dup_gram_ratio")),
      Some(s"""WITH g AS (
                SELECT doc_id, $SqlG3 AS g3 FROM documents)
              SELECT doc_id,
                CAST(len(g3) AS INT) AS n_grams3,
                ROUND($SqlDupRatio, 6) AS dup_gram_ratio
              FROM g""")),

    // ---- The composed cleaning pipeline a training-data run actually
    //      executes: quality + repetition thresholds, then exact dedup
    //      keeping the first doc per content hash. Per-row scoring (no
    //      shuffle) → one window exchange for keep-first, pre-reduced
    //      map-side to one row per hash per task by LocalTopK below the
    //      exchange; the WindowGroupLimit Spark's InferWindowGroupLimit
    //      stacks above it is planned away by GraftStrategies, and
    //      PlanSpec pins LocalTopK alone. Per-row double thresholds are
    //      safe: identical op sequence on both engines.
    Q("pipeline_clean_docs",
      (s, d) => {
        val scored = documents(s, d)
          .select(col("doc_id"), col("text"),
            qualityScore(toksCol).as("q"),
            dupGramRatio(toksCol).as("rep"))
          .filter(col("q") >= 0.5 && col("rep") <= 0.2)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text").cast("binary")))
          .orderBy(col("doc_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"))
      },
      Some(s"""WITH g AS (
                SELECT doc_id, text, $SqlG3 AS g3 FROM documents),
              scored AS (
                SELECT doc_id, text,
                  $SqlQuality AS q,
                  $SqlDupRatio AS rep
                FROM g)
              SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER
                  (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM scored WHERE q >= 0.5 AND rep <= 0.2)
              WHERE rn = 1""")),

    // ---- Language ID: marker-stopword scoring over the four
    //      marker-bearing languages, fixed tie priority en > de > fr >
    //      es. zh has no space-separated stopword markers, so zh docs
    //      score 0 everywhere and fall through to "en" — a documented
    //      limitation of the whitespace-token heuristic (a CJK
    //      character-class branch is the upgrade path; kept out because
    //      the regex class must then be byte-identical in both
    //      engines), and the reason is_correct exists as a column: the
    //      query MEASURES the heuristic rather than presuming it.
    Q("lang_id",
      (s, d) => {
        val t = toksCol
        def score(words: String*): Column =
          size(filter(t, w => w.isin(words.map(lit): _*)))
        val sEn = score("the", "a", "of")
        val sDe = score("der", "die", "und")
        val sFr = score("le", "et", "ou")
        val sEs = score("el", "los", "y")
        val pred = when(sEn >= sDe && sEn >= sFr && sEn >= sEs, "en")
          .when(sDe >= sFr && sDe >= sEs, "de")
          .when(sFr >= sEs, "fr")
          .otherwise("es")
        documents(s, d).select(col("doc_id"), col("lang"),
          pred.as("pred_lang"),
          (pred === col("lang")).as("is_correct"))
      },
      Some("""WITH scores AS (
                SELECT doc_id, lang,
                  len(list_filter(string_split(text,' '),
                      w -> w IN ('the','a','of'))) AS s_en,
                  len(list_filter(string_split(text,' '),
                      w -> w IN ('der','die','und'))) AS s_de,
                  len(list_filter(string_split(text,' '),
                      w -> w IN ('le','et','ou'))) AS s_fr,
                  len(list_filter(string_split(text,' '),
                      w -> w IN ('el','los','y'))) AS s_es
                FROM documents)
              SELECT doc_id, lang,
                CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                     THEN 'en'
                     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                     WHEN s_fr >= s_es THEN 'fr'
                     ELSE 'es' END AS pred_lang,
                (CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                      THEN 'en'
                      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                      WHEN s_fr >= s_es THEN 'fr'
                      ELSE 'es' END) = lang AS is_correct
              FROM scores""")),

    // ---- Exact n-gram (word bigram) Jaccard over candidate pairs from an
    //      inverted shingle index. Hub shingles (df > 50) pruned to bound
    //      the candidate join — the standard all-pairs-similarity design.
    //      Pair finding is factored (jaccardPairs) so CorpusOps can
    //      resolve the pairs into duplicate clusters. Declared queries
    //      stay LAZY (building a Q must be analysis-only — the contract
    //      guard reads every query's schema), so this entry cannot take
    //      the bucketed arm (a construction-time table write); instead
    //      the internal corpus cache is size-gated (SizeGate.CorpusCache):
    //      below the gate it follows the session cache lifecycle, above
    //      it the same lazy plan runs uncached — bounded recompute, not
    //      the r13-measured ENOSPC of an unconditional corpus cache.
    Q("ngram_jaccard_pairs", (s, d) => jaccardPairs(s, d)._1,
      Some(jaccardPairsSql)),

    // ---- MinHash + LSH near-dup candidates: shingle → 16-way minhash →
    //      8 bands of 2 → bucket join → signature-agreement estimate.
    //      xxhash64 is engine-specific → rows-only check.
    Q("minhash_lsh_pairs",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"),
          array_distinct(shingles(toksCol, 3)).as("sh"))
        val exploded = docs.select(col("doc_id"),
          explode(col("sh")).as("shingle"))
        val sigCols = (0 until numHashes).map(i =>
          min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
        // Signature cache REMOVED (r15 third session, measured): the
        // r15a version size-gated a `.cache()` of this aggregate, but
        // UNCACHED the self-join's two banded sides share the
        // groupBy(doc_id) exchange via ReuseExchange and only the final
        // aggregate re-runs — `Measure ab cachegate` (interleaved arms in
        // ONE JVM, min-of-3) reads cached/uncached 0.91/0.75 s at the
        // 584 KB sf0.1 corpus and 28.9/21.5 s at a 224 MB docs-amplified
        // corpus: the InMemoryRelation materialization plus the lost
        // exchange reuse cost MORE than the saved aggregate pass at
        // every measured scale, and the uncached plan is the scale-safe
        // zero-executor-state arm the >1 GiB gate already used.
        val sigs = exploded.groupBy("doc_id")
          .agg(sigCols.head, sigCols.tail: _*)
          .withColumn("sig", array((0 until numHashes).map(i =>
            col(s"h$i")): _*))
          .select("doc_id", "sig")
        val banded = sigs.select(col("doc_id"), col("sig"),
          posexplode(array((0 until bandsOf2).map(b =>
            xxhash64(lit(100 + b),
              element_at(col("sig"), 2 * b + 1),
              element_at(col("sig"), 2 * b + 2))): _*))
            .as(Seq("band", "band_hash")))
        val l = banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_a"), col("sig").as("sig_a"))
        val r = banded.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_b"), col("sig").as("sig_b"))
        l.join(r, Seq("band", "band_hash"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            (size(filter(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => x === y), b => b))
              / lit(numHashes.toDouble)).as("est_jaccard"))
          .distinct()
          .filter(col("est_jaccard") >= 0.5)
      },
      None),

    // ---- SimHash fingerprint: 64-bit, computed per-row (no shuffle).
    Q("simhash_fingerprint",
      (s, d) => documents(s, d).select(col("doc_id"),
        expr(simhashExpr).as("simhash")),
      None),

    // ---- BPE-ish regex token counting: letter-runs, digit-runs, and
    //      single punctuation as separate tokens (the shape of a GPT-2
    //      pre-tokenizer, in a regex dialect both engines share).
    Q("text_bpe_tokens",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe_tokens"),
        size(split(col("text"), " ")).as("n_ws_tokens")),
      Some("""SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens,
              CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens
              FROM documents""")),

    // ---- Polynomial rolling hash over the token stream (Rabin-Karp
    //      shape): h = (h·31 + h60(token)) mod 2³¹−1, order-sensitive —
    //      unlike the md5 content hash, equal bags of words in different
    //      orders fingerprint differently.
    Q("doc_rolling_hash",
      (s, d) => {
        val p = 2147483647L
        val tokHashes = transform(split(col("text"), " "),
          t => PortableHashOps.h60(t) % p)
        documents(s, d).select(col("doc_id"),
          aggregate(tokHashes, lit(0L),
            (acc, h) => (acc * 31 + h) % p).as("rolling_hash"))
      },
      // the per-token hash interpolates PortableHashOps.sqlH60 — the
      // single source of the portable 60-bit hash — so an edit to the
      // hash family cannot desynchronize this oracle silently
      Some(s"""SELECT doc_id,
              list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(text, ' '), t ->
                    ${PortableHashOps.sqlH60("t")} % 2147483647)),
                (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_hash
              FROM documents""")),

    // ---- Heavy hitters via the Space-Saving typed Aggregator: the
    //      bounded-memory frequent-tokens aggregate. With capacity ≫
    //      distinct-token count the sketch is exact, so the oracle is the
    //      plain groupBy top-k; at real scale the same query runs with a
    //      small capacity over an unbounded token domain.
    Q("heavy_hitters_tokens",
      (s, d) => {
        import s.implicits._
        val toks = documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok")).as[String]
        val agg = graft.functions.TopKFreq.aggregator(k = 10,
          capacity = 1024)
        toks.select(agg.toColumn).toDF("top")
          .select(posexplode(col("top")).as(Seq("pos", "entry")))
          .select((col("pos") + 1).as("rank"),
            col("entry._1").as("token"),
            col("entry._2").as("cnt"))
      },
      Some("""WITH c AS (SELECT unnest(string_split(text, ' ')) AS token
                         FROM documents),
              g AS (SELECT token, COUNT(*) AS cnt FROM c GROUP BY 1)
              SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token)
                AS INT) AS rank, token, cnt
              FROM g ORDER BY cnt DESC, token LIMIT 10""")),

    // ---- Sub-document (chunk-level) dedup: fixed 16-token chunks,
    //      hash-grouped across the corpus, reporting chunks shared by
    //      more than one document — the scalable approximation of exact
    //      substring dedup for training data (whole-doc hashing misses
    //      copied passages inside otherwise-distinct documents). Chunking
    //      is a per-row transform+explode; the group-by is one
    //      map-side-combinable aggregate on the chunk text.
    Q("dedup_chunks",
      (s, d) => {
        val nChunks = ceil(size(toksCol) / lit(16.0)).cast("long")
        val chunks = documents(s, d).select(col("doc_id"),
          explode(transform(sequence(lit(0L), nChunks - 1), i =>
            array_join(slice(toksCol, (i * 16 + 1).cast("int"), lit(16)),
              " ")))
            .as("chunk"))
        chunks.groupBy("chunk")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"),
            min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") > 1)
          .select(md5(col("chunk").cast("binary")).as("chunk_hash"),
            col("n_docs"), col("n_occ"), col("first_doc"))
      },
      Some("""WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t
                FROM documents),
              chunks AS (
                SELECT doc_id, unnest(list_transform(
                  range(0, CAST(ceil(len(t) / 16.0) AS BIGINT)),
                  i -> array_to_string(t[i*16+1:i*16+16], ' '))) AS chunk
                FROM toks),
              g AS (
                SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs,
                  COUNT(*) AS n_occ,
                  CAST(MIN(doc_id) AS BIGINT) AS first_doc
                FROM chunks GROUP BY 1
                HAVING COUNT(DISTINCT doc_id) > 1)
              SELECT md5(chunk) AS chunk_hash, n_docs, n_occ, first_doc
              FROM g""")),

    // ---- Bigram language-model counts: P(w2|w1) = c(w1,w2)/c(w1) over
    //      the corpus — the n-gram statistic a data-quality LM filter
    //      thresholds on. Two map-side-combinable hash aggregates joined
    //      on w1 — the unigram side is the corpus vocabulary, which
    //      grows with the corpus (Heaps' law), so its broadcast is
    //      size-gated on the same GramDimBroadcast gate as the jaccard gram
    //      dims (unconditional hint = unbounded executor state at
    //      100 TB; unconditional de-hint = an extra full c12 exchange
    //      the planner cannot avoid because aggregate stats inflate).
    //      Top bigrams with a total-order tiebreak. The conditional
    //      probability divides two exact longs — identical doubles on
    //      both engines.
    Q("text_bigram_lm",
      (s, d) => {
        val pairs = documents(s, d)
          .select(explode(shingles(toksCol, 2)).as("g"))
          .select(split(col("g"), " ").getItem(0).as("w1"),
            split(col("g"), " ").getItem(1).as("w2"))
        // n1 ≡ Σ n12 by w1 — derived from c12, and c12 cached: the
        // derivation alone still leaves two identical scan+explode
        // subtrees in the plan (exchange reuse across fresh expr-ids is
        // not guaranteed), so the corpus is scanned and shingled ONCE
        // only with the cache (same pattern as the LSH/jaccard queries).
        // SIZE-GATED since r15 (the bigram-count table is vocabulary-
        // proportional; fail-closed like every corpus gate).
        val c12 = SizeGate.cacheIfBounded(s,
          pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n12")), docsPath(d))
        val c1 = c12.groupBy("w1").agg(sum(col("n12")).as("n1"))
        val hintC1 = below(s, GramDimBroadcast)(corpusBytes(s, d))
        c12.join(if (hintC1) broadcast(c1) else c1, Seq("w1"))
          .select(col("w1"), col("w2"), col("n12"),
            round(col("n12") / col("n1").cast("double"), 6).as("p_cond"))
          .orderBy(desc("n12"), asc("w1"), asc("w2"))
          .limit(50)
      },
      Some("""WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t
                FROM documents),
              g AS (SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS g
                    FROM toks),
              p AS (SELECT string_split(g, ' ')[1] AS w1,
                      string_split(g, ' ')[2] AS w2 FROM g),
              c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM p GROUP BY 1, 2),
              c1 AS (SELECT w1, COUNT(*) AS n1 FROM p GROUP BY 1)
              SELECT c12.w1, w2, n12,
                ROUND(n12 / CAST(n1 AS DOUBLE), 6) AS p_cond
              FROM c12 JOIN c1 ON c12.w1 = c1.w1
              ORDER BY n12 DESC, c12.w1, w2 LIMIT 50""")),

    // ---- F-extension: JSON field extraction (events.props).
    Q("f9_json_extract",
      (s, d) => events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
              COUNT(*) AS n FROM events GROUP BY 1"""))
  )
}
