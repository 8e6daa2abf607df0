package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the weighted-frontier property of the one trace loop
  * (trace.Trace.weightedHops, reached here through the registry's
  * (src, dst) adapter `TraceOps.hops`): hop state is bounded
  * by |edges| even when the number of PATHS grows multiplicatively — the
  * hub fan-out the reference guards with LIMIT + OOM retry
  * (app.py:364-383) and the r8 verdict flagged as the remaining 100 TB
  * scale hazard. The fixture is the worst case: a complete digraph on n
  * nodes, where every hop multiplies path multiplicity by n.
  */
class TraceFrontierSpec extends SparkSpec {

  private val n = 20

  private lazy val complete: DataFrame = {
    import spark.implicits._
    (for { s <- 0 until n; d <- 0 until n } yield (s.toLong, d.toLong))
      .toDF("src", "dst")
  }

  test("weighted frontier cardinality is bounded by |edges|, not |paths|") {
    val acc = TraceOps.hops(complete, 0L, 4)
    var expectedTotal = n.toLong // hop 1: n direct edges, 1 path each
    for (hop <- 2 to 4) {
      val frontier = acc.filter(col("hop") === hop)
      expectedTotal *= n
      val rows = frontier.count()
      val paths = frontier.agg(sum("paths")).head().getLong(0)
      assert(rows <= n.toLong * n,
        s"hop $hop frontier has $rows rows > |edges|=${n * n}")
      assert(paths == expectedTotal,
        s"hop $hop carries $paths paths, expected $expectedTotal")
    }
    // At hop 4 the row-per-path frontier would hold n^4 = 160k rows; the
    // weighted one holds at most n^2 = 400.
  }

  test("weighted trace ≡ row-per-path enumeration (bit-identical counts)") {
    // Reference semantics: the pre-r9 implementation — accumulate raw
    // frontier rows via UNION ALL, aggregate path counts once at the end.
    def naive(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
      var frontier = edges.filter(col("src") === source)
        .withColumn("hop", lit(1))
      var acc = frontier
      for (h <- 2 to maxHops) {
        frontier = frontier.select(col("dst").as("prev_dst"))
          .join(edges, col("prev_dst") === col("src"))
          .select(col("src"), col("dst")).withColumn("hop", lit(h))
        acc = acc.unionByName(frontier)
      }
      acc.groupBy("hop", "src", "dst").agg(count(lit(1)).as("paths"))
    }
    // Small sparse graph with real multiplicity (diamond + hub).
    import spark.implicits._
    val edges = Seq(
      (0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 0L), (5L, 0L)).toDF("src", "dst")
    def canon(df: DataFrame) = df.select("hop", "src", "dst", "paths")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2, t._3)).toSeq
    val weighted = canon(TraceOps.hops(edges, 0L, 4))
    val rowPerPath = canon(naive(edges, 0L, 4))
    assert(weighted == rowPerPath)
    assert(weighted.nonEmpty)
    // Multiplicity really exercised: the diamond gives 0→3 two paths.
    assert(weighted.contains((2, 1L, 3L, 1L)))
    val hop3to4 = weighted.filter(t => t._1 == 3 && t._3 == 4L)
    assert(hop3to4.map(_._4).sum == 2L) // both diamond arms reach 3→4
  }

  test("trace output schema is (hop INT, src, dst, paths BIGINT)") {
    val df = TraceOps.hops(complete, 0L, 2)
    assert(df.columns.toSeq == Seq("hop", "src", "dst", "paths"))
    assert(df.schema("hop").dataType.typeName == "integer")
    assert(df.schema("paths").dataType.typeName == "long")
  }
}
