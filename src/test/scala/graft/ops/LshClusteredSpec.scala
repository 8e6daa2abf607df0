package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates the LSH index's PRUNING claim in the regime it exists for.
  *
  * On the driver's near-uniform fixture (neighbor cos 0.24–0.42) the
  * gated 20×6 geometry holds recall ≥0.5 while probing ~28% of the
  * corpus — correct, but only ~3.5× pruning (recorded in BENCH_NOTES).
  * A real corpus's embedding space is CLUSTERED (near-dups and
  * same-topic docs form tight cones), and there the index must prune
  * hard or it is pointless at 100 TB. This spec regenerates the
  * clustered fixture (DataGen `clustered`: label-centered Gaussians,
  * in-cluster cos ≈0.98 — deterministic, so the spec pins the same
  * distribution the LSH grid sweep measured) and gates the pinned clustered
  * config, 8 tables × 10 bits: top-10 recall ≥0.5 AND candidate
  * fraction ≤5%. The sweep's full grid at 2k and 20k vectors (BENCH_NOTES
  * round 9) shows the measured values: recall 1.000, 3.0% — stable
  * across the decade.
  */
class LshClusteredSpec extends SparkSpec {

  private val tables = 8
  private val bits = 10

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-clustered")
    graft.DataGen.generateClusteredEmbeddings(spark, 2000, d.toString)
    d.toString
  }

  test("clustered regime: 8×10 holds recall ≥0.5 at candidate " +
    "fraction ≤5%") {
    val exact = VectorOps.queries("ann_cosine_topk")(spark, dir)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val got = VectorOps.lshTopK(spark, dir, tables, bits)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = exact.map { case (q, truth) =>
      truth.intersect(got.getOrElse(q, Set.empty)).size.toDouble /
        truth.size }
    val meanRecall = recalls.sum / recalls.size
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    val nCands = VectorOps.lshCandidates(spark, dir, tables, bits).count()
    val candFrac = nCands.toDouble / (exact.size * (nVecs - 1))
    assert(meanRecall >= 0.5, f"clustered recall $meanRecall%.3f < 0.5")
    assert(candFrac <= 0.05,
      f"candidate fraction $candFrac%.3f > 5%% — the index stopped " +
        "pruning in the clustered regime")
  }

  test("clustered fixture really is clustered (in-cluster cosine ≫ " +
    "cross-cluster)") {
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(VectorOps.dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
    val cos = e.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .select(col("label"), col("qlabel"),
        (VectorOps.dot(col("v"), col("qv")) /
          (col("norm") * col("qnorm"))).as("c"))
      .groupBy(col("label") === col("qlabel")).agg(avg("c").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(cos(true) > 0.9, s"in-cluster mean cosine ${cos(true)}")
    assert(math.abs(cos(false)) < 0.2,
      s"cross-cluster mean cosine ${cos(false)}")
  }
}
