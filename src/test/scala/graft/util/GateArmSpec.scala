package graft.util

import graft.{Fixtures, SparkEntry, SparkSpec}
import graft.models.Pipeline
import graft.ops.TextOps
import graft.trace.Trace
import java.nio.file.Files
import java.sql.Timestamp
import SizeGate._

/** Every arm of every size gate gives the same rows. KB-sized inputs sit
  * below every bound, so the default run takes each gate's cheap arm;
  * forcing the gate above takes its scale-safe arm on the same code. */
class GateArmSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val corpusQueries = Seq("ngram_jaccard_pairs", "dup_clusters",
    "quality_quantile_filter", "tfidf_top_terms", "text_bigram_lm")

  /** Gate → the registry queries whose construction decides it. */
  private val reaches: Seq[(Gate, Seq[String])] = Seq(
    BlocksBroadcast -> Seq("pipeline_e2e_trace_mart"),
    CorpusCache -> corpusQueries,
    GramDimBroadcast -> corpusQueries,
    CcDriver -> Seq("dup_clusters"),
    CcLabelBroadcast -> Seq("graph_cc_components"))

  /** The query's rows as a sorted multiset. Caches are cleared first, so
    * a cached arm's live cache cannot stand in for a forced uncached
    * plan. */
  private def rows(q: String): Seq[String] = {
    spark.catalog.clearCache()
    SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq.sorted
  }

  private lazy val defaults: Map[String, Seq[String]] =
    reaches.flatMap(_._2).distinct.map(q => q -> rows(q)).toMap

  test("the gate table holds exactly the six decisions, all covered here") {
    assert(SizeGate.gates.map(g => g.name -> g.bound) == Seq(
      "blocks_bcast" -> (256L << 20), "corpus_cache" -> (1L << 30),
      "gram_dim_bcast" -> (2L << 30), "trace_driver" -> (1L << 16),
      "cc_driver" -> (1L << 16), "cc_label_bcast" -> (1L << 20)))
    assert((reaches.map(_._1) :+ TraceDriver).toSet == SizeGate.gates.toSet)
  }

  for ((gate, queries) <- reaches; q <- queries)
    test(s"$q with ${gate.name} forced above gives the default rows") {
      val want = defaults(q)
      assert(want.nonEmpty, s"$q returned no rows at $sf")
      try assert(forcedAbove(gate)(rows(q)) == want)
      finally spark.sql(
        s"DROP TABLE IF EXISTS ${TextOps.bucketedTableName(sf)}")
    }

  test("trace_driver forced above: the served trace gives the default " +
    "run's rows") {
    val d = Files.createTempDirectory("graft-gate-arms")
    Fixtures.writeAll(d)
    val traces = Pipeline.readRaw(spark, d.toString).fctTransactionTraces
    val p = Trace.TraceParams("addrA", 3,
      Timestamp.valueOf("2025-08-20 00:00:00"),
      Timestamp.valueOf("2025-08-20 23:59:59"))
    def run() =
      Trace.traceWithFallback(traces, p).collect().map(_.toString).toSeq.sorted
    val want = run()
    assert(want.nonEmpty)
    assert(forcedAbove(TraceDriver)(run()) == want)
  }
}
