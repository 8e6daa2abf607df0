package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted mergeable QUANTILE mart (`ScaleOps.qualitySketchMart` /
  * `kll_mart_quality`) — the quantile pair of SketchMartSpec: the gate
  * query pins mass/range conservation + the rank contract in one plan;
  * this spec pins what the gate cannot express lazily — the sketch
  * column survives a REAL parquet round-trip byte-identically.
  *
  * Determinism note, mirrored from the gate's doc: KLL compaction is
  * randomized, so unlike the HLL spec this one never asserts
  * estimate-equality between two independently-built ESTIMATING
  * sketches; the equality below is on serialized bytes.
  */
class KllMartSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val scored = graft.Tables.documents(spark, sf)
    .select(col("lang"), col("source"),
      round(TextOps.qualityScore(TextOps.tokens(col("text"))), 6).as("q"))
    .localCheckpoint(true)

  test("gate query emits its one row (mass/range exact, rank contract " +
    "within 0.02 on both arms)") {
    val rows = graft.SparkEntry.queries("kll_mart_quality")(spark, sf)
      .collect()
    assert(rows.length == 1, "gate row missing — invariant regressed")
    val r = rows.head
    assert(r.getAs[Long]("violations") == 0L)
    assert(r.getAs[Long]("n_langs") >= 2,
      "degenerate fixture: need >= 2 languages")
    assert(r.getAs[Double]("max_rank_err_merged") <= 0.02)
    assert(r.getAs[Double]("max_rank_err_direct") <= 0.02)
  }

  test("sketch column survives a parquet round-trip byte-identically") {
    val mart = ScaleOps.qualitySketchMart(scored)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-kll-mart").toString
    graft.util.TempDirs.deleteOnExit(dir)
    mart.write.mode("overwrite").parquet(dir)
    def bytes(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[Array[Byte]]("sk").toSeq))
    assert(bytes(spark.read.parquet(dir)).toSeq == bytes(mart).toSeq,
      "read-back sketch bytes must equal the written ones")
  }
}
