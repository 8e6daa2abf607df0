package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Embedding similarity search + multimodal-column plumbing over the
  * `embeddings` / `documents` tables (north-star extensions, SURVEY.md
  * §7.1 step 9).
  *
  * Cosine math uses higher-order functions over array<double> — an exact,
  * sequential left-fold in both Spark and DuckDB, so results round-match
  * at 6 decimals. The formula is written identically on both sides
  * (dot / (sqrt(dot_aa) * sqrt(dot_bb))) to keep the op sequence the same.
  *
  * 100 TB notes: brute-force top-k broadcasts the (small) query set and
  * streams the corpus once — embarrassingly parallel, no shuffle until
  * the final per-query top-k (TakeOrdered-style window). The LSH variant
  * replaces the full scan with an equi-join on (plane-sign bucket), the
  * standard sub-linear path; buckets are hash-uniform so skew-free.
  * All-pairs near-dup is quadratic by definition — at scale it must run
  * through the LSH bucketing, kept here as the exact baseline.
  */
object VectorOps extends QueryModule {

  /** Element-wise cast to double (embeddings are float32 on disk;
    * both engines upcast before the fold). */
  private def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** Sequential-fold dot product — a native codegen'd expression with the
    * same ascending-index fold as DuckDB's list_dot_product. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  /** Pair cosine, same op sequence as the DuckDB oracle:
    * dot / (normA * normB) with normA = sqrt(dot(a, a)) precomputed once
    * per vector — N norms instead of N² per pair. */
  def cosineWithNorms(a: Column, b: Column, normA: Column,
      normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Corpus-size guard for the exact quadratic baseline: above
    * `quadCap` vectors, keep each vector with probability ≈ cap/n via a
    * portable-hash threshold (deterministic, engine-identical, zero
    * shuffle — the count rides as a broadcast one-row aggregate), so the
    * all-pairs stage is bounded at ~cap² pair evaluations no matter the
    * corpus size. At or below the cap the predicate is identically true
    * and the result stays the EXACT pair set — which is every test
    * scale, so the oracle hash is unchanged there. */
  private[ops] val quadCap = 10000L

  /** The keep-probability compares the FULL 60-bit hash against
    * cap/n · 2⁶⁰ — a coarser modulus (say 1e6) would floor the sampling
    * probability at its resolution and let the kept set grow linearly
    * again beyond n ≈ cap·1e6, breaking the bounded-at-any-size claim.
    * 60 bits floors at n ≈ cap·2⁶⁰ ≈ 10²² vectors — beyond any corpus. */
  private val h60Span = math.pow(2.0, 60)

  private[ops] def quadGuard(vecId: Column, nVecs: Column): Column =
    nVecs <= quadCap ||
      PortableHashOps.h60(concat(lit("embguard:"),
        vecId.cast("string"))) <
        lit(quadCap.toDouble) * h60Span / nVecs

  private[ops] def sqlQuadGuard(idExpr: String): String =
    s"""(n_vecs <= $quadCap OR ${PortableHashOps.sqlH60(
      s"'embguard:' || CAST($idExpr AS VARCHAR)")}
        < CAST($quadCap AS DOUBLE) * ${h60Span.toLong}.0 / n_vecs)"""

  /** Multi-table LSH geometry: L tables × b sign-bits. One 8-bit table
    * almost never collides true neighbors of weakly-correlated vectors
    * (p_agree^8 ≈ 0); the standard fix is several narrower tables — a
    * candidate matches if it shares ANY table's bucket. */
  private[graft] val numTables = 20
  private[graft] val bitsPerTable = 6
  private val dims = 64

  /** Deterministic pseudo-random hyperplanes (splitmix64 fold of
    * (plane, dim)), materialized as literal weight vectors so each
    * projection is one codegen'd dot product instead of a nested
    * interpreted fold. Plane p is a pure function of (p, dim), so a
    * config with more tables extends the family instead of reshuffling
    * the planes the earlier tables used. */
  private def planesFor(n: Int): Seq[Seq[Double]] =
    (0 until n).map(p => (0 until dims).map(i =>
      (math.floorMod(graft.functions.SplitMix.mix(p.toLong * dims + i),
        1000L) / 1000.0) - 0.5))

  private[graft] val planes: Seq[Seq[Double]] =
    planesFor(numTables * bitsPerTable)

  /** Per-table bucket ids for the multi-table index: element t of the
    * result hashes with planes [t*b, (t+1)*b). Computed by the fused
    * [[graft.functions.LshTableBuckets]] kernel — one codegen call,
    * constant generated-code size in the geometry. The compositional
    * when/dot form it replaces is kept below (bit-identical, pinned in
    * LshExprsSpec) because at 20×6 it inlined 120 literal arrays into
    * the expression tree and pushed any stage fused with a downstream
    * join off the compiled path — a measured 80× cliff at sf10
    * (97.8 s → 1.2 s for the identical join; `Measure ab lsh_kernel`).
    *
    * The default geometry is measured, not guessed: the fixture's true
    * top-10 neighbors sit at cos 0.24–0.42 (sign-agreement
    * p = 1 − θ/π ≈ 0.59–0.64 per bit), so a 6-bit table collides a
    * true neighbor with p⁶ ≈ 0.05 and L tables give recall
    * ≈ 1 − (1 − p⁶)^L. The r7 grid sweep (BENCH_NOTES) measured both
    * test scales (recall at sf0.01/sf0.1, candidate fraction ~equal):
    * 8×6 (round-6 config) 0.26/0.34 probing ~13%; 16×6 0.50/0.64
    * probing ~24%; 20×6 0.68/0.70 probing ~28%; 16×7 0.28/0.36 at ~13%.
    * 20×6 is the smallest config clearing the ≥0.5 gate floor WITH
    * margin at both scales. The ~28% candidate fraction is a property
    * of this nearly-unclustered fixture (neighbors barely above the
    * ambient cosine). The clustered regime is MEASURED too (round 9):
    * on DataGen's `clustered` fixture (label-centered Gaussians,
    * in-cluster cos ≈0.98 — the shape a real corpus has) the sweep at
    * 2k and 20k vectors gives recall 1.000 at every grid config, and
    * the high-bit geometries prune hard: 8×10 probes 3.0%, 8×12 2.1%,
    * stable across the decade. 8×10 is the pinned clustered-corpus
    * config (LshClusteredSpec gates recall ≥0.5 at ≤5% candidates);
    * bits, not tables, is the knob that converts clustering into
    * pruning — cross-cluster bucket collisions die at ≥10 bits while
    * in-cluster pairs still agree on nearly every plane. */
  def lshTableBuckets(v: Column, tables: Int = numTables,
      bits: Int = bitsPerTable): Column = {
    val ps = if (tables * bits <= planes.length) planes
      else planesFor(tables * bits)
    graft.functions.LshExprs.lshTableBuckets(v, ps, tables, bits)
  }

  /** The compositional form of [[lshTableBuckets]] — semantically the
    * spec for the fused kernel (LshExprsSpec pins them bit-identical,
    * including null-element and wrong-dimension vectors), physically
    * retired from the query path (see the cliff note above). Returns
    * the same array<long>-by-table shape. */
  private[graft] def lshTableBucketsCompositional(v: Column,
      tables: Int = numTables, bits: Int = bitsPerTable): Column = {
    val ps = if (tables * bits <= planes.length) planes
      else planesFor(tables * bits)
    array((0 until tables).map { t =>
      (0 until bits).map { j =>
        when(dot(v, typedLit(ps(t * bits + j))) > 0.0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Distinct scored LSH candidate pairs (query_id, vec_id, cos_raw)
    * for a given geometry — the sub-linear core of [[lshTopK]], exposed
    * so specs (LshClusteredSpec) can gate candidate fraction per config
    * through the production code path.
    *
    * Shape notes (round-10 rework): the corpus side explodes to
    * (vec_id, table, bucket) and broadcast-joins the query side's
    * buckets — no corpus shuffle. Scoring happens BEFORE the
    * per-(query, vec) dedup, so the dedup exchange carries 24-byte
    * scalar rows instead of pairs of 64-double vectors; a pair that
    * collides in m tables re-computes its one 64-mult dot m times
    * (m ≤ tables, measured mean ~1.2) — arithmetic is cheaper than
    * shuffling 1 KB rows. Duplicate rows carry bit-identical cos_raw
    * (same fold over the same inputs), so dropDuplicates stays
    * deterministic. */
  private[graft] def lshCandidates(s: SparkSession, d: String,
      tables: Int = numTables, bits: Int = bitsPerTable): DataFrame = {
    // NOT cached: a construction-time cache() registers with the
    // cacheManager before any action runs (breaking every later
    // cache-hygiene pin in the session, order-dependently), and it buys
    // nothing here — the query side re-derives only 5 rows behind a
    // pushed-down vec_id filter, so the corpus-wide projection runs
    // once either way.
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("tb", lshTableBuckets(col("v"), tables, bits))
    val cands = e.select(col("vec_id"), col("v"), col("norm"),
      posexplode(col("tb")).as(Seq("t", "b")))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"), posexplode(col("tb")).as(Seq("t", "b")))
    cands.join(broadcast(qs), Seq("t", "b"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineWithNorms(col("qv"), col("v"), col("qnorm"),
          col("norm")).as("cos_raw"))
      .dropDuplicates("query_id", "vec_id")
  }

  /** The LSH top-k body, parameterized by geometry so specs can gate
    * configs through the production code path. */
  private[graft] def lshTopK(s: SparkSession, d: String,
      tables: Int = numTables, bits: Int = bitsPerTable): DataFrame = {
    val scored = lshCandidates(s, d, tables, bits)
      .select(col("query_id"), col("vec_id"),
        round(col("cos_raw"), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select("query_id", "vec_id", "cos_sim", "rn")
  }

  def all: Seq[Q] = Seq(

    // ---- Brute-force cosine top-k: the exactness baseline for ANN.
    Q("ann_cosine_topk",
      (s, d) => {
        val e = embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("v"))
          .withColumn("norm", sqrt(dot(col("v"), col("v"))))
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qnorm"))
        val scored = e.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(cosineWithNorms(col("qv"), col("v"), col("qnorm"),
              col("norm")), 6).as("cos_sim"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("cos_sim"), asc("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("query_id", "vec_id", "cos_sim", "rn")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] qv
                         FROM embeddings WHERE vec_id < 5),
              c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
              s AS (SELECT query_id, vec_id,
                      ROUND(list_dot_product(qv, v) /
                        (sqrt(list_dot_product(qv, qv)) *
                         sqrt(list_dot_product(v, v))), 6) AS cos_sim
                    FROM c CROSS JOIN q WHERE vec_id <> query_id),
              r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
              SELECT query_id, vec_id, cos_sim, rn FROM r
              WHERE rn <= 10""")),

    // ---- Embedding-cosine near-duplicate pairs (exact all-pairs
    //      baseline; the LSH query below is the scale path). The
    //      quadGuard makes the baseline un-foot-gunnable: beyond 10k
    //      vectors it hash-samples the corpus down to ~cap vectors
    //      (bounded ~cap²/2 pair evaluations at ANY corpus size), while
    //      at every test scale the guard predicate is identically true
    //      and the exact oracle hash is unchanged.
    Q("emb_neardup_pairs",
      (s, d) => {
        val raw = embeddings(s, d)
        val nv = raw.agg(count(lit(1)).as("n_vecs"))
        val e = raw.crossJoin(broadcast(nv))
          .filter(quadGuard(col("vec_id"), col("n_vecs")))
          .select(col("vec_id"), asDouble(col("embedding")).as("v"))
          .withColumn("norm", sqrt(dot(col("v"), col("v"))))
        // The all-pairs stage parallelizes by the STREAMED side's
        // partition count, and both sides of the (quadGuard-capped)
        // corpus arrive as ONE scan partition — so the ~cap²/2 cosine
        // evaluations all ran in a single task (measured single-
        // threaded at sf0.1, OPTIMIZATION_r14.md). r15 (ADVICE r14):
        // the r14 fix round-robined BOTH sides, which under a
        // CartesianProduct yields par² partitions — ~a million
        // near-empty tasks on a big cluster. Instead PIN the plan the
        // r14 fix was relying on AQE to pick: broadcast the build side
        // explicitly (bounded — quadGuard caps it at ~10k vectors at
        // ANY corpus size, the same bound that makes the pair count
        // tractable) and round-robin only the STREAMED side across the
        // scheduler's parallelism (scale-adaptive, not a constant;
        // REPARTITION by explicit count is exempt from AQE coalescing).
        // BroadcastNestedLoopJoin parallelizes by the streamed side, so
        // the stage runs exactly `par` tasks — never par². Output rows
        // are unchanged — pair enumeration order is not part of the
        // contract (the gate sorts before hashing).
        val par = s.sparkContext.defaultParallelism
        val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"),
          col("norm").as("na")).repartition(par)
        val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("norm").as("nb"))
        a.crossJoin(broadcast(b)).filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round(cosineWithNorms(col("va"), col("vb"), col("na"),
              col("nb")), 6).as("cos_sim"))
          .filter(col("cos_sim") >= 0.9)
      },
      Some(s"""WITH nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs
                           FROM embeddings),
              v AS (SELECT vec_id, embedding::DOUBLE[] e
                    FROM embeddings, nv
                    WHERE ${sqlQuadGuard("vec_id")})
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                ROUND(list_dot_product(a.e, b.e) /
                  (sqrt(list_dot_product(a.e, a.e)) *
                   sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
              FROM v a CROSS JOIN v b
              WHERE a.vec_id < b.vec_id
                AND ROUND(list_dot_product(a.e, b.e) /
                  (sqrt(list_dot_product(a.e, a.e)) *
                   sqrt(list_dot_product(b.e, b.e))), 6) >= 0.9""")),

    // ---- LSH-bucketed ANN: multi-table random-hyperplane index — a
    //      candidate is scored iff it shares at least one table's bucket
    //      with the query. Sub-linear scale path for ann_cosine_topk.
    //      Rows-only check (plane weights are engine-local).
    Q("ann_lsh_topk", (s, d) => lshTopK(s, d), None),

    // ---- Multimodal columns: opaque binary payload + typed metadata.
    //      The payload here is the utf-8 text bytes (no media container,
    //      so nothing is decoded); byte-length and checksum are real and
    //      oracle-checked.
    Q("media_metadata",
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).as("media_bytes"),
          md5(col("payload")).as("checksum")),
      Some("""SELECT doc_id,
              CAST(octet_length(CAST(text AS BLOB)) AS INT) AS media_bytes,
              md5(text) AS checksum FROM documents""")),

    // ---- Real header decode, round-tripped under the hash gate: each
    //      doc's payload is REAL container bytes (spec-conformant PNG /
    //      JPEG headers built at formula-determined dimensions, text
    //      bytes as the body), decoded back by MediaCodec's parsers in
    //      the typed mapPartitions stage. The oracle computes the
    //      expected dims/format/size directly from the formula — so a
    //      parser regression (offset slip, endianness, marker-walk bug)
    //      hash-fails, which is what upgraded this tier from "stubbed
    //      decode, plumbing-only tests" (VERDICT r6 item 7).
    Q("media_decode_dims",
      (s, d) => {
        import s.implicits._
        val payloads = documents(s, d)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, text) =>
            val w = 16 + (id % 640).toInt
            val h = 16 + ((id * 7) % 480).toInt
            val body = text.getBytes("UTF-8")
            graft.multimodal.MediaPipeline.MediaRow(id,
              if (id % 2 == 0) graft.multimodal.MediaCodec.pngBytes(w, h, body)
              else graft.multimodal.MediaCodec.jpegBytes(w, h, body))
          }.toDF()
        graft.multimodal.MediaPipeline.decode(s, payloads).toDF()
          .select(col("doc_id"), col("format"), col("width"),
            col("height"), col("media_bytes"))
      },
      Some("""SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
              CAST(16 + doc_id % 640 AS INT) AS width,
              CAST(16 + (doc_id * 7) % 480 AS INT) AS height,
              CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 17 END
                + octet_length(CAST(text AS BLOB)) AS INT) AS media_bytes
              FROM documents""")),

    // ---- REAL pixel decode under the hash gate: encode an 8-bit
    //      grayscale PNG per doc from a pixel formula (pixel i =
    //      (doc_id·31 + i·7) mod 256) with the JDK's PNG writer, run it
    //      through the FULL decode path (the JDK's PNG reader and the
    //      8-bit gray check), then compute mean intensity on the
    //      reconstructed pixels and again after a real 16×16
    //      nearest-neighbor resample. The oracle recomputes both means
    //      from the generating formula (src index = dst·src/16 integer
    //      division, mirrored exactly), so a bug anywhere in the codec
    //      or resample arithmetic breaks the hash. Exact-parity note:
    //      each mean is an exact integer sum over ≤1024 pixels divided
    //      once in double — IEEE-identical across engines, then
    //      ROUND(6).
    Q("media_pixel_stats",
      (s, d) => {
        import s.implicits._
        val payloads = documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val w = 8 + (id % 25).toInt
            val h = 8 + ((id * 3) % 25).toInt
            graft.multimodal.MediaPipeline.MediaRow(id,
              graft.multimodal.ImageCodec.pngGray(w, h,
                i => ((id * 31 + i.toLong * 7) % 256).toInt))
          }.toDF()
        graft.multimodal.MediaPipeline.pixelStats(s, payloads).toDF()
          .select(col("doc_id"), col("width"), col("height"),
            round(col("mean_intensity"), 6).as("mean_intensity"),
            round(col("resized_mean"), 6).as("resized_mean"))
      },
      Some("""WITH dims AS (
                SELECT doc_id,
                  CAST(8 + doc_id % 25 AS INT) AS w,
                  CAST(8 + (doc_id * 3) % 25 AS INT) AS h
                FROM documents),
              -- dims are bounded at 32x32, so a constant 0..1023 series
              -- theta-joined on i < w*h enumerates every image pixel
              -- (generate_series cannot take correlated arguments)
              full_px AS (
                SELECT d.doc_id, d.w, d.h,
                  AVG(CAST((d.doc_id * 31 + g.i * 7) % 256 AS DOUBLE))
                    AS mi
                FROM dims d JOIN generate_series(0, 1023) AS g(i)
                  ON g.i < CAST(d.w AS BIGINT) * d.h
                GROUP BY 1, 2, 3),
              rs AS (
                SELECT d.doc_id,
                  AVG(CAST((d.doc_id * 31 +
                      (((g.j // 16) * d.h // 16) * d.w
                        + ((g.j % 16) * d.w // 16)) * 7) % 256 AS DOUBLE))
                    AS rmi
                FROM dims d CROSS JOIN generate_series(0, 255) AS g(j)
                GROUP BY 1)
              SELECT f.doc_id, f.w AS width, f.h AS height,
                ROUND(f.mi, 6) AS mean_intensity,
                ROUND(rs.rmi, 6) AS resized_mean
              FROM full_px f JOIN rs USING (doc_id)"""))
  )
}
