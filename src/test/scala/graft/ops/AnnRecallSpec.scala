package graft.ops

import graft.SparkSpec

/** Approximate ANN variants must actually find neighbors: measure recall
  * of the LSH and IVF paths against the exact brute-force top-10. */
class AnnRecallSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def topk(name: String): Map[Long, Set[Long]] =
    graft.SparkEntry.queries(name)(spark, sf)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.map(_.getAs[Long]("vec_id")).toSet
      }

  test("eager IVF pair: output schemas pinned, no cache left behind") {
    // Q.eager contract: eager queries are exempt from the analysis-only
    // sweeps, so their schemas (and cache hygiene) pin HERE
    val ivf = graft.SparkEntry.queries("ann_ivf_topk")(spark, sf)
    assert(ivf.columns.toSeq ==
      Seq("query_id", "vec_id", "cos_sim", "rn"))
    val recall = graft.SparkEntry.queries("ann_ivf_recall")(spark, sf)
    assert(recall.columns.toSeq ==
      Seq("n_exact", "n_hit", "recall", "threshold"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the IVF builder left a cached plan pinned")
  }

  test("IVF recall vs exact top-10") {
    val exact = topk("ann_cosine_topk")
    val ivf = topk("ann_ivf_topk")
    val recalls = exact.map { case (q, truth) =>
      val got = ivf.getOrElse(q, Set.empty)
      truth.intersect(got).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // The fixture embeddings are nearly unclustered (within-label mean
    // cosine ≈ 0.0016 vs 0.0003 across), so nprobe=2 of 10 cells is the
    // probed-fraction regime: the assertion pins "meaningfully above the
    // ~0.2 random-probe floor", not clustered-data recall.
    assert(mean >= 0.3, s"IVF mean recall too low: $mean")
  }

  test("multi-table LSH finds a nontrivial share of true neighbors") {
    val exact = topk("ann_cosine_topk")
    val lsh = topk("ann_lsh_topk")
    val recalls = exact.map { case (q, truth) =>
      truth.intersect(lsh.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // 20 tables × 6 bits, chosen from the measured r7 LSH grid (BENCH_NOTES):
    // recall 0.68 (sf0.01) / 0.70 (sf0.1) probing ~28% of this
    // nearly-unclustered fixture — the smallest config clearing the
    // 0.5 gate floor with margin at both scales.
    assert(mean >= 0.5, s"LSH mean recall too low: $mean")
  }
}
