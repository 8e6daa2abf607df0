package graft.util

import graft.SparkSpec

/** The size-gated broadcast hint: hints while Catalyst's size estimate
  * is bounded, degrades to the unhinted (shuffle-capable) frame past
  * the bound — the audit class for dims that are small at every
  * measured scale but fact-proportional in the limit. */
class SizeGateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("small dim is hinted: the join plans as BroadcastHashJoin even " +
    "with the planner's own threshold disabled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable the planner's stats broadcast so the BHJ below can only
      // come from the gate's hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = graft.Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      val c = graft.Tables.customer(spark, sf).select("c_custkey", "c_name")
      val p = o.join(SizeGate.broadcastIfSmall(c),
          o("o_custkey") === c("c_custkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dim past the bound is NOT hinted") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = graft.Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      val c = graft.Tables.customer(spark, sf).select("c_custkey", "c_name")
      // a 1-byte bound: every real frame is "too big" — the scale-safe
      // arm must be the plain shuffled join
      val p = o.join(SizeGate.broadcastIfSmall(c, maxBytes = 1L),
          o("o_custkey") === c("c_custkey"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p.take(1200))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cacheIfBounded: small input → cached; above-bound input and " +
    "unmeasurable input → same plan uncached (fail-closed)") {
    def analyzed(df: org.apache.spark.sql.DataFrame): String = {
      // withCachedData is where the cacheManager substitutes
      // InMemoryRelation — the analyzed plan alone never shows a cache
      df.queryExecution.withCachedData.toString
    }
    val docs = s"$sf/documents.parquet"
    // small real input → cached
    val below = SizeGate.cacheIfBounded(spark,
      graft.Tables.documents(spark, sf).select("doc_id"), docs)
    try assert(analyzed(below).contains("InMemoryRelation"),
      "below the bound the intermediate must be cached")
    finally below.unpersist()
    // same input, 1-byte bound → uncached, identical lazy plan
    val above = SizeGate.cacheIfBounded(spark,
      graft.Tables.documents(spark, sf).select("doc_id"), docs,
      maxBytes = 1L)
    assert(!analyzed(above).contains("InMemoryRelation"),
      "above the bound no executor cache may be pinned")
    // unmeasurable input (missing dir) → fail closed = uncached
    val unknown = SizeGate.cacheIfBounded(spark,
      graft.Tables.documents(spark, sf).select("doc_id"),
      "/nonexistent/graft_r15_gate_probe")
    assert(!analyzed(unknown).contains("InMemoryRelation"),
      "an unmeasurable input must fail closed to the uncached plan")
    assert(SizeGate.dirBytes(spark, "/nonexistent/graft_r15_gate_probe")
      == Long.MaxValue)
  }

  test("measurement kill switch (spark.graft.noGatedCache) forces the " +
    "uncached arm even below the bound") {
    val docs = s"$sf/documents.parquet"
    assert(SizeGate.cacheable(spark, docs))
    spark.conf.set(SizeGate.NoGatedCacheKey, "true")
    try {
      val df = SizeGate.cacheIfBounded(spark,
        graft.Tables.documents(spark, sf).select("doc_id"), docs)
      assert(!df.queryExecution.withCachedData.toString
        .contains("InMemoryRelation"),
        "with the kill switch set no gated cache may be pinned")
      assert(!SizeGate.cacheable(spark, docs),
        "the cache gate reads the switch")
      assert(SizeGate.bounded(spark, docs, SizeGate.DEFAULT_CACHE_MAX_BYTES),
        "the switch leaves the input-bytes bound alone")
    } finally spark.conf.unset(SizeGate.NoGatedCacheKey)
  }

  test("corpus sizing and the kill switch live only in SizeGate: " +
    "getContentSummary and NoGatedCacheKey reads nowhere else in src/main") {
    val sizing = graft.SourceAudit.calls("""\bgetContentSummary\b""".r)
    assert(sizing.keySet == Set("util/SizeGate.scala"),
      s"input sized outside SizeGate: ${sizing - "util/SizeGate.scala"}")
    // a read of the switch: a conf get of the key, the key's literal, or
    // a call to a private reader of it
    val reads = graft.SourceAudit.calls(("""conf\s*\.\s*get\w*\(\s*[\w.]*""" +
      """NoGatedCacheKey|"spark\.graft\.noGatedCache"|\bnoGatedCache\s*\(""").r)
    assert(reads.keySet == Set("util/SizeGate.scala"),
      s"kill switch read outside SizeGate: ${reads - "util/SizeGate.scala"}")
  }
}
