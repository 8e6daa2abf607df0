package graft.models

import graft.{Fixtures, SparkSpec}
import graft.quality.Checks
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Golden end-to-end: fixture TSVs → ingest → staging → intermediates →
  * marts, asserting exact contents (SURVEY.md §5 item 4). */
class ModelsSpec extends SparkSpec {

  private lazy val bld = {
    val d = Files.createTempDirectory("graft-models")
    Fixtures.writeAll(d)
    Pipeline.readRaw(spark, d.toString)
  }

  test("staging drops null-key rows (P2) and converts units (P3)") {
    assert(bld.stgBlocks.count() == 2) // null-id row dropped
    assert(bld.stgTransactions.count() == 3) // null-hash row dropped
    assert(bld.stgAddresses.count() == 4) // null-address row dropped
    val b100 = bld.stgBlocks.filter(col("block_id") === 100).collect()(0)
    assert(b100.getAs[Long]("input_total_sats") == 5041234567890L)
    assert(math.abs(b100.getAs[Double]("input_total_btc") - 50412.3456789) < 1e-6)
  }

  test("stg_inputs cdd validation column matches shipped cdd (P4)") {
    val rows = bld.stgInputs
      .filter(col("transaction_hash") === "t2" && col("index") === 0)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    // lifespan 864000s = 10 days; value 3e12 sats = 30000 BTC → 300000 cdd
    assert(math.abs(r.getAs[Double]("calculated_cdd_days") - 300000.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("cdd_days") -
      r.getAs[Double]("calculated_cdd_days")) < 1e-6)
    assert(math.abs(r.getAs[Double]("lifespan_days") - 10.0) < 1e-9)
  }

  test("int_transaction_flows: J2 fan-out is inputs × outputs per tx") {
    val flows = bld.intTransactionFlows
    // t2: 2 inputs × 2 outputs = 4 edges; t1: 1×1; t3: 1×1
    assert(flows.filter(col("transaction_hash") === "t2").count() == 4)
    assert(flows.filter(col("transaction_hash") === "t1").count() == 1)
    assert(flows.count() == 6)
    // coinbase categorization (P5)
    val t1 = flows.filter(col("transaction_hash") === "t1").collect()(0)
    assert(t1.getAs[String]("tx_type") == "coinbase")
    // block enrichment (J1)
    assert(t1.getAs[Double]("block_reward_btc") == 3.246)
  }

  test("int_address_balances: running balance with RANGE tie semantics (W1)") {
    val bal = bld.intAddressBalances
    // addrC: credit +3e12 (t2 out, 00:03:11) then debit -2e9 (t3 in, 00:12:45)
    val c = bal.filter(col("address") === "addrC")
      .orderBy(col("time")).collect()
    assert(c.length == 2)
    assert(c(0).getAs[Long]("running_balance_sats") == 3000000000000L)
    assert(c(1).getAs[Long]("running_balance_sats") == 2998000000000L)
    // addrD: credits at two DIFFERENT times accumulate
    val dRows = bal.filter(col("address") === "addrD")
      .orderBy(col("time")).collect()
    assert(dRows.length == 2)
    assert(dRows(0).getAs[Long]("running_balance_sats") == 2041222467890L)
    assert(dRows(1).getAs[Long]("running_balance_sats") == 2043221467890L)
    // addrB appears with its debit even though balance is 0
    assert(bal.filter(col("address") === "addrB").count() == 1)
  }

  test("W1 ties: equal-time events share the cumulative value (RANGE frame)") {
    // addrA: coinbase credit +324600000 and debit -3000000000000 both at
    // 00:03:11 → both rows show the SAME running balance (the frame covers
    // all ties).
    val a = bld.intAddressBalances.filter(col("address") === "addrA")
      .collect()
    assert(a.length == 2)
    val balances = a.map(_.getAs[Long]("running_balance_sats")).toSet
    assert(balances == Set(324600000L - 3000000000000L))
  }

  test("fct_transaction_traces: trace_sequence ranks per tx (W2)") {
    val traces = bld.fctTransactionTraces
    val t2 = traces.filter(col("transaction_hash") === "t2")
      .select("trace_sequence").collect().map(_.getInt(0)).sorted
    assert(t2.toSeq == Seq(1, 2, 3, 4))
  }

  test("dim_addresses aggregates lifetime change + distinct tx (A1+A2)") {
    val dim = bld.dimAddresses
    val d = dim.filter(col("address") === "addrD").collect()(0)
    assert(d.getAs[Long]("lifetime_value_change_sats") ==
      2041222467890L + 1999000000L)
    assert(d.getAs[Long]("tx_count") == 2)
  }

  test("dim_blocks projects the block dimension") {
    assert(bld.dimBlocks.count() == 2)
    assert(bld.dimBlocks.columns.toSeq.contains("guessed_miner"))
  }

  test("M8: staging quality suite passes on fixtures") {
    val results = Checks.runAll(Checks.stagingSuite(
      bld.stgAddresses, bld.stgBlocks, bld.stgTransactions,
      bld.stgInputs, bld.stgOutputs))
    assert(results.forall(_.passed), results.filterNot(_.passed).toString)
  }

  test("M8: violations are detected when present") {
    import spark.implicits._
    val dup = Seq(("a", 1L), ("a", 2L)).toDF("address", "balance_sats")
    assert(Checks.unique(dup, "address").count() == 1)
    val withNull = Seq((null.asInstanceOf[String], 1L), ("b", 2L))
      .toDF("address", "balance_sats")
    assert(Checks.notNull(withNull, "address").count() == 1)
  }

  test("S7: writeBuild lands clustered parquet marts") {
    val out = Files.createTempDirectory("graft-marts")
    Pipeline.writeBuild(bld, out.toString)
    val traces = spark.read.parquet(out.resolve("fct_transaction_traces").toString)
    assert(traces.count() == 6)
    val dim = spark.read.parquet(out.resolve("dim_addresses").toString)
    assert(dim.count() == 4)
  }

  test("M2/M7: latest-file selection and preflight") {
    val d = Files.createTempDirectory("graft-latest")
    Fixtures.writeAll(d)
    assert(Pipeline.preflight(d).isRight)
    val f = Pipeline.latestFile(d, "blocks")
    assert(f.exists(_.getFileName.toString.contains("20250820")))
    val empty = Files.createTempDirectory("graft-empty")
    assert(Pipeline.preflight(empty).isLeft)
  }
}
