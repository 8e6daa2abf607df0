package graft.trace

import graft.{Fixtures, SparkSpec}
import graft.models.Pipeline
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class TraceSpec extends SparkSpec {

  private lazy val traces = {
    val d = Files.createTempDirectory("graft-trace")
    Fixtures.writeAll(d)
    Pipeline.readRaw(spark, d.toString).fctTransactionTraces.cache()
  }

  private val from = Timestamp.valueOf("2025-08-20 00:00:00")
  private val to = Timestamp.valueOf("2025-08-20 23:59:59")

  test("J5: hop-1 trace finds direct edges only") {
    val r = Trace.trace(traces, Trace.TraceParams("addrA", 1, from, to))
      .collect()
    // addrA's edges from t2: A→C and A→D
    assert(r.map(_.getAs[String]("destination_address")).sorted.toSeq ==
      Seq("addrC", "addrD"))
    assert(r.forall(_.getAs[Int]("hop") == 1))
  }

  test("J5: hop-2 trace follows C onward (A→C then C→D)") {
    val r = Trace.trace(traces, Trace.TraceParams("addrA", 2, from, to))
    val hop2 = r.filter(col("hop") === 2).collect()
    assert(hop2.length == 1)
    assert(hop2(0).getAs[String]("source_address") == "addrC")
    assert(hop2(0).getAs[String]("destination_address") == "addrD")
    assert(r.count() == 3)
  }

  test("J5: time window prunes hops (per-hop date filter)") {
    // window ends before t3 (00:12:45) → the C→D edge disappears
    val narrow = Trace.TraceParams("addrA", 2, from,
      Timestamp.valueOf("2025-08-20 00:10:00"))
    val r = Trace.trace(traces, narrow)
    assert(r.filter(col("hop") === 2).count() == 0)
    assert(r.count() == 2)
  }

  test("J5: result ordered by (hop, tx_time) and LIMITed") {
    val r = Trace.trace(traces, Trace.TraceParams("addrA", 2, from, to,
      limit = 2)).collect()
    assert(r.length == 2)
    assert(r.map(_.getAs[Int]("hop")).toSeq == Seq(1, 1))
  }

  test("J6: fallback wrapper passes through on the healthy path") {
    val r = Trace.traceWithFallback(traces,
      Trace.TraceParams("addrA", 2, from, to))
    assert(r.count() == 3)
  }

  test("J6: runtime failures surface AT the wrapper, not at a later action") {
    // Before the eager-materialization fix, a runtime failure was
    // invisible to the try/catch (the plan is lazy) and only exploded at
    // the caller's first action — the fallback could never fire. Now the
    // wrapper executes inside the try: a poisoned input throws from the
    // call itself (after the internal hop-1 retry also fails).
    import org.apache.spark.sql.functions.expr
    val poison = traces.withColumn("transferred_value_btc",
      expr("raise_error('boom')").cast("double"))
    assertThrows[Exception] {
      Trace.traceWithFallback(poison, Trace.TraceParams("addrA", 2, from, to))
    }
  }

  test("J6: a failed multi-hop attempt returns the hop-1 answer") {
    // The multi-hop plan builds fine and fails only when executed, on its
    // hop-2 rows — the runtime failure class the wrapper exists for. The
    // shared wrapper must catch it inside its try and answer at 1 hop.
    val p = Trace.TraceParams("addrA", 2, from, to)
    val asked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val r = Trace.withHop1Fallback(p.maxHops) { h =>
      asked += h
      Trace.trace(traces, p.copy(maxHops = h))
        .filter(when(col("hop") > 1, raise_error(lit("boom")))
          .otherwise(lit(true)))
    }
    assert(asked.toSeq == Seq(2, 1))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(r) == rows(Trace.trace(traces, p.copy(maxHops = 1))))
    assert(rows(r).size == 2)
  }

  test("J4: enrichment join to dim_blocks") {
    val d = Files.createTempDirectory("graft-trace2")
    Fixtures.writeAll(d)
    val bld = Pipeline.readRaw(spark, d.toString)
    val r = Trace.traceWithBlocks(bld.fctTransactionTraces, bld.dimBlocks,
      Trace.TraceParams("addrA", 2, from, to))
    assert(r.columns.contains("block_hash"))
    assert(r.count() == 3)
  }

  test("J5/J9: driver-loop trace ≡ native WITH RECURSIVE (path counts)") {
    val sf = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("hop", "src", "dst", "CAST(paths AS BIGINT) AS paths")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2, t._3)).toSeq
    val loop = canon(graft.SparkEntry
      .queries("j5_trace_recursive")(spark, sf))
    val cte = canon(graft.SparkEntry
      .queries("j9_trace_recursive_cte")(spark, sf))
    assert(loop == cte)
    assert(loop.nonEmpty)
  }
}
