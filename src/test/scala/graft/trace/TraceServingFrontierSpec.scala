package graft.trace

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the weighted frontier of the SERVING trace (trace/Trace.scala,
  * the dashboard path with full edge attributes and row-per-path
  * output): hop state is bounded by |edges-in-window| even when path
  * multiplicity explodes, and the end-of-plan re-expansion reproduces the
  * row-per-path enumeration bit-identically, including a LIMIT that cuts
  * mid-expansion. TraceFrontierSpec pins the same loop through the
  * registry's (src, dst) edge set.
  */
class TraceServingFrontierSpec extends SparkSpec {

  private val from = Timestamp.valueOf("2025-08-20 00:00:00")
  private val to = Timestamp.valueOf("2025-08-20 23:59:59")

  private def tracesDf(
      edges: Seq[(String, String, String, Long, String, Double)])
      : DataFrame = {
    import spark.implicits._
    edges.toDF("source_address", "destination_address",
        "transaction_hash", "block_id", "tx_time_s",
        "transferred_value_btc")
      .withColumn("tx_time", col("tx_time_s").cast("timestamp"))
      .drop("tx_time_s")
  }

  /** Reference semantics — the pre-r10 implementation: accumulate one
    * row PER PATH via UNION ALL, order, limit. */
  private def naive(traces: DataFrame, p: Trace.TraceParams): DataFrame = {
    val edges = traces
      .filter(col("tx_time").between(lit(p.startTime), lit(p.endTime)))
      .filter(col("source_address").isNotNull &&
        col("destination_address").isNotNull)
    var frontier = edges.filter(col("source_address") === p.sourceAddress)
      .withColumn("hop", lit(1))
    var acc = frontier
    for (h <- 2 to p.maxHops) {
      frontier = frontier.select(col("destination_address").as("prev_dst"))
        .join(edges, col("prev_dst") === edges("source_address"))
        .drop("prev_dst")
        .withColumn("hop", lit(h))
      acc = acc.unionByName(frontier)
    }
    acc.select(col("hop"), col("source_address"),
        col("destination_address"), col("transaction_hash"),
        col("block_id"), col("tx_time"), col("transferred_value_btc"))
      .orderBy(col("hop"), col("tx_time"), col("transaction_hash"),
        col("destination_address"))
      .limit(p.limit)
  }

  private def canon(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Int]("hop"), r.getAs[String]("source_address"),
      r.getAs[String]("destination_address"),
      r.getAs[String]("transaction_hash"), r.getAs[Long]("block_id"),
      r.getAs[Timestamp]("tx_time").toString,
      r.getAs[Double]("transferred_value_btc")))
    .sortBy(t => (t._1, t._6, t._4, t._3)).toSeq

  // Diamond: both A→B1→C and A→B2→C reach the single C→D edge, so the
  // row-per-path output carries that edge TWICE at hop 3.
  private lazy val diamond = tracesDf(Seq(
    ("A", "B1", "t1", 1L, "2025-08-20 00:01:00", 1.0),
    ("A", "B2", "t2", 1L, "2025-08-20 00:02:00", 2.0),
    ("B1", "C", "t3", 2L, "2025-08-20 00:03:00", 3.0),
    ("B2", "C", "t4", 2L, "2025-08-20 00:04:00", 4.0),
    ("C", "D", "t5", 3L, "2025-08-20 00:05:00", 5.0)))

  test("re-expansion reproduces row-per-path output on a multiplicity-" +
    "heavy graph (duplicate edge rows included)") {
    val p = Trace.TraceParams("A", 3, from, to)
    val got = canon(Trace.trace(diamond, p))
    assert(got == canon(naive(diamond, p)))
    // The C→D edge must appear exactly twice at hop 3 — once per path.
    assert(got.count(r => r._1 == 3 && r._4 == "t5") == 2)
  }

  test("LIMIT that cuts mid-expansion truncates the duplicated edge, " +
    "identically to enumerate-then-limit") {
    // Full output is 6 rows (2 + 2 + 2 copies of C→D); limit 5 keeps
    // exactly ONE of the two C→D copies.
    val p = Trace.TraceParams("A", 3, from, to, limit = 5)
    val got = canon(Trace.trace(diamond, p))
    assert(got == canon(naive(diamond, p)))
    assert(got.size == 5)
    assert(got.count(r => r._4 == "t5") == 1)
  }

  test("weighted hop state is bounded by |edges|, not |paths|") {
    // Complete digraph (self-loops included) on n nodes: every hop
    // multiplies path multiplicity by n, so hop 4 carries n^4 paths —
    // but the weighted accumulator must hold at most n^2 rows per hop.
    val n = 12
    val ts = "2025-08-20 00:01:00"
    val complete = tracesDf(
      for { s <- 0 until n; d <- 0 until n }
        yield (s"a$s", s"a$d", s"t${s}_$d", 1L, ts, 1.0))
    val acc = Trace.weightedHops(
      complete.filter(col("tx_time").between(lit(from), lit(to))), "a0", 4)
      .localCheckpoint(true)
    for (h <- 1 to 4) {
      val hop = acc.filter(col("hop") === h)
      assert(hop.count() <= n.toLong * n,
        s"hop $h state exceeds |edges|=${n * n}")
      assert(hop.agg(sum("paths")).head().getLong(0) ==
        math.pow(n, h).toLong, s"hop $h path count wrong")
    }
  }
}
