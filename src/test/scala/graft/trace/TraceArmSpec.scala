package graft.trace

import graft.{Fixtures, SparkSpec}
import graft.models.Pipeline
import graft.util.SizeGate
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The two arms of the served trace's size gate give the same page: the
  * driver arm (window fetched once, traced on the driver) and the
  * distributed arm (the lazy plan behind the hop-1 fallback), forced
  * through the force switch. Pages are compared as the benchmark's trace
  * check compares them: the same sort keys in the same order, and the
  * same rows up to the order of rows that tie on the key, except in the
  * last key group of a full page, where LIMIT may cut anywhere. */
class TraceArmSpec extends SparkSpec {

  /** The served trace with the gate forced above: the distributed arm. */
  private def distributedArm(traces: DataFrame, p: Trace.TraceParams) =
    forcedAbove(SizeGate.TraceDriver)(Trace.traceWithFallback(traces, p))

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

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private type Key = (Int, String, Option[String], String)
  private def key(r: Row): Key = (r.getInt(0), r.getTimestamp(5).toString,
    Option(r.getString(3)), r.getString(2))

  /** perfbench's `_same_page`, over rows of `Trace.trace`'s schema. */
  private def samePage(got: Seq[Row], want: Seq[Row], limit: Int)
      : Boolean = {
    val full = want.size >= limit
    def body(rows: Seq[Row]) = rows
      .filter(r => !(full && key(r) == key(want.last)))
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    got.map(key) == want.map(key) && body(got) == body(want)
  }

  /** Both forced arms on `p`: the same schema as `Trace.trace`, the
    * arms really taken, the same page. */
  private def assertArmsAgree(traces: DataFrame, p: Trace.TraceParams)
      : Seq[Row] = {
    val onDriver = Trace.traceWithFallback(traces, p)
    val distributed = distributedArm(traces, p)
    assert(isLocal(onDriver), s"$p: driver arm not taken")
    assert(!isLocal(distributed), s"$p: distributed arm not taken")
    assert(onDriver.schema == Trace.trace(traces, p).schema)
    assert(distributed.schema == onDriver.schema)
    val (d, s) = (onDriver.collect().toSeq, distributed.collect().toSeq)
    assert(samePage(d, s, p.limit),
      s"$p\n driver:      ${d.mkString(" ")}\n distributed: ${s.mkString(" ")}")
    d
  }

  test("TraceSpec fixture: both arms give the same page for every " +
    "source, hop cap, window and limit") {
    val d = Files.createTempDirectory("graft-trace-arms")
    Fixtures.writeAll(d)
    val traces = Pipeline.readRaw(spark, d.toString).fctTransactionTraces
      .cache()
    try {
      val narrow = Timestamp.valueOf("2025-08-20 00:10:00")
      for {
        src <- Seq("addrA", "addrB", "addrC", "addrZ")
        hops <- 1 to 3
        (end, limit) <- Seq((to, 1), (to, 2), (narrow, 1000), (to, 1000))
      } assertArmsAgree(traces,
        Trace.TraceParams(src, hops, from, end, limit))
      val all = assertArmsAgree(traces,
        Trace.TraceParams("addrA", 2, from, to))
      assert(all.size == 3)
    } finally traces.unpersist()
  }

  // Diamond: both A→B1→C and A→B2→C reach the C→D edge, which is also
  // a parallel edge (two rows, one hash), so hop 3 carries four copies.
  private lazy val diamond = tracesDf(Seq(
    ("A", "B1", "t1", 1L, "2025-08-20 00:01:00", 1.0),
    ("A", "B2", "t2", 1L, "2025-08-20 00:02:00", 2.0),
    ("B1", "C", "t3", 2L, "2025-08-20 00:03:00", 3.0),
    ("B2", "C", "t4", 2L, "2025-08-20 00:04:00", 4.0),
    ("C", "D", "t5", 3L, "2025-08-20 00:05:00", 5.0),
    ("C", "D", "t5", 3L, "2025-08-20 00:05:00", 5.0)))

  test("multiplicity-heavy diamond: both arms agree at every limit, " +
    "including cuts in the middle of a duplicated edge") {
    for (hops <- Seq(1, 2, 4); limit <- Seq(1, 3, 1000))
      assertArmsAgree(diamond, Trace.TraceParams("A", hops, from, to, limit))
    for (limit <- 1 to 9)
      assertArmsAgree(diamond, Trace.TraceParams("A", 3, from, to, limit))
    // 2 + 2 + 4 rows; limit 6 keeps two of the four C→D copies
    val cut = assertArmsAgree(diamond,
      Trace.TraceParams("A", 3, from, to, limit = 6))
    assert(cut.count(_.getString(3) == "t5") == 2)
  }

  test("complete digraph: path counts far beyond the row count agree") {
    val n = 6
    val complete = tracesDf(
      for { s <- 0 until n; d <- 0 until n }
        yield (s"a$s", s"a$d", s"t${s}_$d", 1L, "2025-08-20 00:01:00", 1.0))
    for (hops <- Seq(1, 3, 5); limit <- Seq(7, 100, 1000))
      assertArmsAgree(complete, Trace.TraceParams("a0", hops, from, to, limit))
  }

  test("seeded random graphs with parallel edges, null hashes, ties " +
    "broken only by destination, and non-ASCII strings") {
    // U+FF21 sorts after U+D83D (a surrogate) as UTF-16 but before it
    // as UTF-8 bytes; Spark orders strings by their UTF-8 bytes.
    val names = Seq("a", "b", "c", "d", "e", "Ａ", "😀")
    val hashes = Seq("h1", "h2", "Ａh", "😀h", null)
    val times = Seq("00:01:00", "00:02:00", "2025-08-21 00:00:00")
    val rnd = new scala.util.Random(1517)
    for (trial <- 1 to 12) {
      val m = 4 + rnd.nextInt(24)
      val base = Seq.fill(m) {
        val t = times(rnd.nextInt(times.size))
        (names(rnd.nextInt(names.size)), names(rnd.nextInt(names.size)),
          hashes(rnd.nextInt(hashes.size)), rnd.nextInt(3).toLong,
          if (t.length > 8) t else s"2025-08-20 $t", rnd.nextInt(5).toDouble)
      }
      // one transaction paying several destinations (ties broken by the
      // destination alone) and one parallel edge
      val edges = base ++ Seq(
        ("a", "c", "h1", 1L, "2025-08-20 00:01:00", 1.0),
        ("a", "b", "h1", 1L, "2025-08-20 00:01:00", 2.0),
        ("a", "Ａ", "h1", 1L, "2025-08-20 00:01:00", 3.0),
        ("a", "😀", "h1", 1L, "2025-08-20 00:01:00", 4.0)) ++
        base.take(1)
      val traces = tracesDf(edges).localCheckpoint(true)
      val src = if (trial % 3 == 0) names(rnd.nextInt(names.size)) else "a"
      for (hops <- Seq(1, 2, 3); limit <- Seq(3, 1000))
        assertArmsAgree(traces, Trace.TraceParams(src, hops, from, to, limit))
    }
  }

  test("the gate: a window over the bound takes the distributed arm, " +
    "one at the bound the driver arm") {
    // the diamond's six edges padded with unreachable in-window edges
    // to exactly the bound, and to one past it
    def padded(edges: Long) = diamond.unionByName(spark.range(edges - 6)
      .select(concat(lit("F"), col("id")).as("source_address"),
        concat(lit("G"), col("id")).as("destination_address"),
        lit("tf").as("transaction_hash"), lit(9L).as("block_id"),
        lit(1.0).as("transferred_value_btc"),
        lit(Timestamp.valueOf("2025-08-20 00:30:00")).as("tx_time")))
    val p = Trace.TraceParams("A", 3, from, to)
    val bound = SizeGate.TraceDriver.bound
    val over = Trace.traceWithFallback(padded(bound + 1), p)
    val at = Trace.traceWithFallback(padded(bound), p)
    assert(!isLocal(over))
    assert(isLocal(at))
    assert(isLocal(Trace.traceWithFallback(diamond, p)))
    assert(samePage(at.collect().toSeq, over.collect().toSeq, p.limit))
  }

  test("driver arm: a path-count overflow answers at hop 1 from the same " +
    "edges") {
    // Two parallel edges each way between A and B: the path count
    // doubles every hop and passes Long.MaxValue at hop 63.
    val cycle = tracesDf(Seq(
      ("A", "B", "t1", 1L, "2025-08-20 00:01:00", 1.0),
      ("A", "B", "t2", 1L, "2025-08-20 00:02:00", 1.0),
      ("B", "A", "t3", 2L, "2025-08-20 00:03:00", 1.0),
      ("B", "A", "t4", 2L, "2025-08-20 00:04:00", 1.0)))
    val p = Trace.TraceParams("A", 64, from, to)
    val r = Trace.traceWithFallback(cycle, p)
    assert(isLocal(r))
    val hop1 = Trace.trace(cycle, p.copy(maxHops = 1)).collect().toSeq
    assert(r.collect().toSeq == hop1)
    assert(hop1.map(_.getString(3)) == Seq("t1", "t2"))
    // Below the overflow there is no fallback: the first 1000 paths
    // (2 + 4 + ... + 2^9 = 1022 of them through hop 9) reach hop 9.
    assert(Trace.traceWithFallback(cycle, p.copy(maxHops = 62))
      .collect().map(_.getInt(0)).max == 9)
  }
}
