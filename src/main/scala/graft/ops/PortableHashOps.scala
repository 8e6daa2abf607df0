package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Oracle-checkable MinHash + SimHash variants built on a PORTABLE hash:
  * the top 60 bits of md5 (identical in every engine), i.e.
  * `CAST(CONV(SUBSTR(md5(x),1,15),16,10) AS BIGINT)`. These exist next
  * to the xxhash64-based fast paths in [[TextOps]] so the approximate-
  * dedup pipeline itself — shingle → signature → band → candidate →
  * estimate — is hash-compared against DuckDB end-to-end, not just
  * rows-counted. (xxhash64 stays the production path: md5 costs ~3× per
  * hash.)
  */
object PortableHashOps extends QueryModule {

  private val numHashes = 16
  private val bands = numHashes / 2

  /** Universal-hash family over the Mersenne prime 2³¹−1: h_i = (a_i·h +
    * b_i) mod p with a_i < 2²⁰, so every product stays < 2⁵¹ — safe in
    * engines that error on BIGINT overflow instead of wrapping. The
    * (a, b) pairs are fixed splitmix-derived constants, identical on both
    * sides. */
  private val P = 2147483647L
  private[ops] val hashParams: Seq[(Long, Long)] = {
    import graft.functions.SplitMix.mix
    (0 until numHashes).map { i =>
      val a = math.floorMod(mix(2L * i), (1L << 20) - 1) + 1
      val b = math.floorMod(mix(2L * i + 1), P)
      (a, b)
    }
  }

  /** Portable 60-bit hash of a string column (Spark side). */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Same hash in DuckDB SQL. */
  def sqlH60(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  def all: Seq[Q] = Seq(

    // ---- SimHash on portable hashes: per-row, zero shuffle. Token
    //      hashes computed once per doc, then 60 bit-plane folds.
    Q("simhash_oracle",
      (s, d) => {
        val hs = transform(split(col("text"), " "), t => h60(t))
        val sim = expr(
          """aggregate(sequence(0, 59), 0L, (acc, b) ->
               acc + IF(aggregate(hs, 0L,
                 (a, h) -> a + IF((h >> b) & 1 = 1, 1L, -1L)) > 0,
                 shiftleft(1L, b), 0L))""")
        documents(s, d).withColumn("hs", hs)
          .select(col("doc_id"), sim.as("simhash"))
      },
      Some("""WITH hs AS (
                SELECT doc_id,
                  list_transform(string_split(text, ' '),
                    t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT))
                  AS h
                FROM documents)
              SELECT doc_id,
                list_sum(list_transform(range(0, 60), b ->
                  CASE WHEN list_sum(list_transform(h, x ->
                    CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))::BIGINT
                AS simhash
              FROM hs""")),

    // ---- MinHash + LSH candidates on portable hashes — the full
    //      pipeline oracle-checked: 3-gram shingles, 16 min-hashes from a
    //      universal family over ONE md5-derived base hash per shingle
    //      (a naive double-hashing variant correlated the signatures and
    //      inflated candidates 40×), 8 bands of 2, bucket join,
    //      agreement estimate ≥ 0.5.
    Q("minhash_oracle_pairs",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"),
          array_distinct(TextOps.shingles(split(col("text"), " "), 3))
            .as("sh"))
        val exploded = docs.select(col("doc_id"),
          explode(col("sh")).as("s"))
          .withColumn("h", h60(col("s")) % P)
        val sigCols = hashParams.zipWithIndex.map { case ((a, b), i) =>
          min((lit(a) * col("h") + lit(b)) % P).as(s"h$i")
        }
        // Signature cache REMOVED (r15 third session, measured): the
        // r15a size-gated `.cache()` here lost to the plain plan at
        // BOTH tested scales — `Measure ab cachegate` (interleaved arms,
        // one JVM, min-of-3) cached/uncached 1.28/1.14 s at the sf0.1
        // corpus, 34.7/31.6 s at a 224 MB docs-amplified corpus:
        // uncached, the self-join's sides share this aggregate's
        // exchange via ReuseExchange, and re-running the final agg is
        // cheaper than materializing + rescanning the InMemoryRelation.
        // The uncached plan is also the zero-executor-state arm the
        // gate already used above 1 GiB, now at every scale.
        val sigs =
          exploded.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
        val banded = sigs.select(col("doc_id") +:
          (0 until numHashes).map(i => col(s"h$i")) :+
          posexplode(array((0 until bands).map(b =>
            md5(concat(col(s"h${2 * b}").cast("string"), lit(","),
              col(s"h${2 * b + 1}").cast("string")))): _*))
            .as(Seq("band", "bh")): _*)
        val l = banded.select(col("band"), col("bh"),
          col("doc_id").as("doc_a"),
          array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig_a"))
        val r = banded.select(col("band"), col("bh"),
          col("doc_id").as("doc_b"),
          array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig_b"))
        l.join(r, Seq("band", "bh"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            (size(filter(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => x === y), b => b)) / lit(numHashes.toDouble))
              .as("est_jaccard"))
          .distinct()
          .filter(col("est_jaccard") >= 0.5)
      },
      Some {
        val minCols = hashParams.zipWithIndex.map { case ((a, b), i) =>
          s"MIN(($a * h + $b) % $P) AS h$i"
        }.mkString(", ")
        val bandRows = (0 until bands).map(b =>
          s"SELECT doc_id, $b AS band, md5(h${2 * b} || ',' || h${2 * b + 1}) AS bh, " +
            (0 until numHashes).map(i => s"h$i").mkString(", ") +
            " FROM sigs").mkString(" UNION ALL ")
        val agree = (0 until numHashes).map(i =>
          s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
                   FROM toks WHERE len(t) >= 3),
            hashed AS (SELECT doc_id,
                ${sqlH60("s")} % $P AS h
              FROM sh),
            sigs AS (SELECT doc_id, $minCols FROM hashed GROUP BY doc_id),
            banded AS ($bandRows),
            cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        ($agree) / 16.0 AS est_jaccard
                      FROM banded a JOIN banded b
                        ON a.band = b.band AND a.bh = b.bh
                      WHERE a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, est_jaccard FROM cands
            WHERE est_jaccard >= 0.5"""
      })
  )
}
