package graft

import java.nio.file.Files
import java.sql.Timestamp

/** End-to-end product demo: blockchair-shaped TSVs → ingest → model DAG →
  * marts → the six dashboard queries → a multi-hop trace. What a user of
  * the reference stack would run after switching to this library.
  *
  * (Uses the test fixtures as input data since real Blockchair dumps
  * need network access; swap the directory for a real landing dir.)
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.start()

    val dir = if (args.nonEmpty) java.nio.file.Paths.get(args(0))
      else { val d = Files.createTempDirectory("graft-demo"); Fixtures.writeAll(d); d }

    // M7 preflight → ingest → DAG
    models.Pipeline.preflight(dir).left.foreach { err =>
      System.err.println(s"preflight failed: $err"); sys.exit(1)
    }
    val bld = models.Pipeline.readRaw(spark, dir.toString)
    models.Pipeline.registerStagingViews(bld)

    println("== mart row counts ==")
    println(s"int_transaction_flows: ${bld.intTransactionFlows.count()}")
    println(s"int_address_balances:  ${bld.intAddressBalances.count()}")
    println(s"fct_transaction_traces: ${bld.fctTransactionTraces.count()}")
    println(s"dim_addresses: ${bld.dimAddresses.count()}  " +
      s"dim_blocks: ${bld.dimBlocks.count()}")

    // M8 quality gate
    val checks = quality.Checks.runAll(quality.Checks.stagingSuite(
      bld.stgAddresses, bld.stgBlocks, bld.stgTransactions,
      bld.stgInputs, bld.stgOutputs))
    println("== quality checks ==")
    checks.foreach(c => println(s"${c.name}: " +
      (if (c.passed) "pass" else s"FAIL(${c.violations})")))

    // the six dashboard queries
    val from = Timestamp.valueOf("2025-08-20 00:00:00")
    val to = Timestamp.valueOf("2025-08-20 23:59:59")
    println("== dashboard ==")
    println("total tx: " + serve.Dashboard
      .totalTransactions(bld.fctTransactionTraces, from, to)
      .collect()(0).getLong(0))
    println("avg fee (btc): " + serve.Dashboard
      .avgFee(bld.fctTransactionTraces, from, to).collect()(0).getDouble(0))
    println("richest: " + serve.Dashboard.richestAddress(bld.dimAddresses)
      .collect()(0).mkString(" / "))
    println("most active source: " + serve.Dashboard
      .mostActiveSource(bld.fctTransactionTraces).collect()(0).mkString(" / "))

    // the flagship: multi-hop trace with block enrichment
    println("== trace addrA, 3 hops ==")
    trace.Trace.traceWithBlocks(bld.fctTransactionTraces, bld.dimBlocks,
      trace.Trace.TraceParams("addrA", 3, from, to))
      .show(20, truncate = false)

    spark.stop()
  }
}
