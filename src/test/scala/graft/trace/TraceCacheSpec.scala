package graft.trace

import graft.{Fixtures, SparkSpec}
import graft.models.Pipeline
import java.nio.file.Files
import java.sql.Timestamp

/** Cache-hygiene postconditions for the trace, served and registered,
  * in a suite with no cached fixtures of its own (TraceSpec pins behavior
  * but caches its input, which would mask a leak from the operator under
  * test). A long-lived serving session traces many windows; one pinned
  * edge plan per call is a leak, not a cache.
  */
class TraceCacheSpec extends SparkSpec {

  test("j5/j6/sankey: lazy trace queries leave no cached plan behind") {
    spark.catalog.clearCache() // isolate from any prior suite's fixtures
    val sf = "/root/testdata/sf0.001"
    Seq("j5_trace_recursive", "j6_trace_fallback", "trace_sankey_agg")
      .foreach { q =>
        graft.SparkEntry.queries(q)(spark, sf).collect()
        assert(spark.sharedState.cacheManager.isEmpty,
          s"$q left a cached plan pinned")
      }
  }

  test("domain Trace.trace pins no cached plan; its result executes") {
    spark.catalog.clearCache()
    val d = Files.createTempDirectory("graft-trace-cache")
    Fixtures.writeAll(d)
    val traces = Pipeline.readRaw(spark, d.toString).fctTransactionTraces
    val p = Trace.TraceParams("addrA", 2,
      Timestamp.valueOf("2025-08-20 00:00:00"),
      Timestamp.valueOf("2025-08-20 23:59:59"))
    val r = Trace.trace(traces, p)
    assert(spark.sharedState.cacheManager.isEmpty,
      "Trace.trace returned with a cached plan pinned")
    assert(r.count() == 3)
  }

  test("driver-arm traceWithFallback leaves no persisted RDD and no " +
    "checkpoint block behind") {
    spark.catalog.clearCache()
    val d = Files.createTempDirectory("graft-trace-cache-driver")
    Fixtures.writeAll(d)
    val traces = Pipeline.readRaw(spark, d.toString).fctTransactionTraces
    val p = Trace.TraceParams("addrA", 2,
      Timestamp.valueOf("2025-08-20 00:00:00"),
      Timestamp.valueOf("2025-08-20 23:59:59"))
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    def stored = sc.getRDDStorageInfo.map(_.id).toSet
    val (rdds, blocks) = (persisted, stored)
    val r = Trace.traceWithFallback(traces, p)
    assert(r.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(r.collect().length == 3)
    assert((persisted -- rdds).isEmpty, "driver arm left a persisted RDD")
    assert((stored -- blocks).isEmpty, "driver arm left checkpoint blocks")
    assert(spark.sharedState.cacheManager.isEmpty)
    // the probe sees the distributed arm's checkpoint of its result
    Trace.traceWithFallback(traces, p, bound = -1).collect()
    assert((stored -- blocks).nonEmpty)
  }
}
