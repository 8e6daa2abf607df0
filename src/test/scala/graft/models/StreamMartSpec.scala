package graft.models

import graft.SparkSpec

/** Pins the streaming incremental mart (pipeline_stream_trace_mart):
  * after the 2-batch replay through foreachBatch →
  * writeBuildIncremental, the materialized trace mart must equal the
  * batch-built mart ROW FOR ROW — convergence of the continuous-ingest
  * path to the dbt-style full build, the property the shared DuckDB
  * oracle also gates per-engine. Also the eager-Q executing schema pin
  * (Q.scala contract).
  */
class StreamMartSpec extends SparkSpec {

  test("streaming 2-batch replay converges to the batch mart exactly") {
    val sf = "/root/testdata/sf0.001" // unused by both queries (fixture
    // TSVs are the input); passed for the (spark, dir) signature
    val batch = PipelineQueries.queries("pipeline_e2e_trace_mart")(spark, sf)
    val stream =
      PipelineQueries.queries("pipeline_stream_trace_mart")(spark, sf)
    assert(stream.columns.sorted.toSeq == batch.columns.sorted.toSeq)
    val cols = batch.columns.sorted.toIndexedSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted.toSeq
    val b = canon(batch)
    val st = canon(stream)
    assert(b.nonEmpty)
    assert(st == b)
  }

  test("a micro-batch replayed under its batch id lands once: the mart " +
    "equals a single run's") {
    val dir = java.nio.file.Files.createTempDirectory("stream-replay")
    val fixture = dir.resolve("fixture")
    graft.Fixtures.writeAll(fixture)
    val batch = graft.ingest.Tsv.read(spark, s"$fixture/*transactions*{.tsv,.tsv.gz}",
      graft.schema.BlockchairSchemas.transactions)
    def mart(name: String, deliveries: Int) = {
      val root = dir.resolve(name)
      for (_ <- 1 to deliveries) PipelineQueries.streamBatch(spark, fixture.toString,
        s"$root/staged", s"$root/mart", batch, batchId = 0L)
      spark.read.parquet(s"$root/mart/fct_transaction_traces")
        .drop("trace_sequence").collect().map(_.toString).sorted.toSeq
    }
    val once = mart("once", 1)
    assert(once.nonEmpty)
    assert(mart("replayed", 2) == once)
  }

  test("pipeline_stream_trace_mart (eager Q): output schema is the " +
    "batch mart's minus trace_sequence") {
    val df =
      PipelineQueries.queries("pipeline_stream_trace_mart")(spark,
        "/root/testdata/sf0.001")
    assert(!df.columns.contains("trace_sequence"))
    assert(!df.columns.contains("load_date"))
    assert(df.columns.contains("source_address") &&
      df.columns.contains("destination_address") &&
      df.columns.contains("tx_time"))
    assert(df.count() > 0)
  }
}
