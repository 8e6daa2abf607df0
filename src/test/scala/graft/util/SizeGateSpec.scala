package graft.util

import graft.SparkSpec

/** The size gates: one comparison ([[SizeGate.below]]) against one
  * table of bounds, fail-closed on an unmeasurable input, with one force
  * switch onto the above-bound arm. The blocks-dim broadcast hints while
  * Catalyst's size estimate is bounded and degrades to the unhinted
  * (shuffle-capable) frame past it — the audit class for dims that are
  * small at every measured scale but fact-proportional in the limit. */
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
      // forced above: the scale-safe arm must be the plain shuffled join
      val p = forcedAbove(SizeGate.BlocksBroadcast)(
          o.join(SizeGate.broadcastIfSmall(c),
            o("o_custkey") === c("c_custkey")))
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p.take(1200))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("below: the bound is inclusive; a NonFatal throw is above, " +
    "fatal ones propagate") {
    for (g <- SizeGate.gates) {
      assert(SizeGate.below(spark, g)(g.bound), g)
      assert(!SizeGate.below(spark, g)(BigInt(g.bound) + 1), g)
    }
    val g = SizeGate.CcDriver
    assert(!SizeGate.below(spark, g)(throw new RuntimeException("no stats")))
    assert(!SizeGate.below(spark, g)(SizeGate.dirBytes(spark,
      "/nonexistent/graft_gate_probe")))
    intercept[InterruptedException] {
      SizeGate.below(spark, g)(throw new InterruptedException())
    }
    intercept[StackOverflowError] {
      SizeGate.below(spark, g)(throw new StackOverflowError())
    }
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
    // same input, gate forced above → uncached, identical lazy plan
    val above = forcedAbove(SizeGate.CorpusCache)(SizeGate.cacheIfBounded(
      spark, graft.Tables.documents(spark, sf).select("doc_id"), docs))
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

  test("force switch: a forced gate is above without measuring; bad " +
    "names throw") {
    var measured = 0
    def probe(): BigInt = { measured += 1; 0 }
    forcedAbove(SizeGate.CorpusCache, SizeGate.TraceDriver) {
      assert(!SizeGate.below(spark, SizeGate.CorpusCache)(probe()))
      assert(!SizeGate.below(spark, SizeGate.TraceDriver)(probe()))
      assert(measured == 0, "a forced gate must not take its measurement")
      assert(SizeGate.below(spark, SizeGate.GramDimBroadcast)(probe()))
      assert(measured == 1)
    }
    spark.conf.set(SizeGate.ForceAboveKey, " cc_driver , ")
    try {
      assert(!SizeGate.below(spark, SizeGate.CcDriver)(0))
      assert(SizeGate.below(spark, SizeGate.CcLabelBroadcast)(0))
      spark.conf.set(SizeGate.ForceAboveKey, "corpus_cahce")
      val e = intercept[IllegalArgumentException](
        SizeGate.below(spark, SizeGate.CorpusCache)(0))
      assert(e.getMessage.contains("corpus_cahce"))
    } finally spark.conf.unset(SizeGate.ForceAboveKey)
    assert(SizeGate.below(spark, SizeGate.CorpusCache)(0))
  }

  test("gate audit: SizeGate alone sizes and forces; no dead or " +
    "removed gates") {
    val gate = "util/SizeGate.scala"
    val sizing = graft.SourceAudit.calls("""\bgetContentSummary\b""".r)
    assert(sizing.keySet == Set(gate),
      s"input sized outside SizeGate: ${sizing - gate}")
    // a read of the switch: a conf get of the key, or the key's literal
    val reads = graft.SourceAudit.calls(("""conf\s*\.\s*get\w*\(\s*""" +
      """[\w.]*ForceAboveKey|"spark\.graft\.forceAbove"""").r)
    assert(reads.keySet == Set(gate),
      s"force switch read outside SizeGate: ${reads - gate}")
    // a gate's bound is compared only inside below(); the trace reads its
    // bound once more, to size the bounded fetch that is its measurement
    val boundReads = graft.SourceAudit.calls("""\.bound\b""".r) - gate
    assert(boundReads == Map("trace/Trace.scala" -> 1),
      s"a gate bound read outside SizeGate: $boundReads")
    // every gate in the table is decided somewhere, through below()
    val site = """\bbelow\(\s*[^,()]+,\s*(?:SizeGate\.)?(\w+)\s*\)""".r
    val decided = graft.SourceAudit.codeLines("src/main/scala/graft")
      .flatMap(_._2).flatMap(site.findAllMatchIn(_).map(_.group(1))).toSet
    val dead = SizeGate.gates.map(_.toString).filterNot(decided)
    assert(dead.isEmpty, s"gates with no below() call site: $dead")
    // the bound constants, bound parameters and kill switch this table
    // replaced
    val removed = graft.SourceAudit.calls(("""\b(bounded|cacheable)\s*\(|""" +
      """\b(NoGatedCacheKey|noGatedCache|CC_LABEL_BCAST_MAX_EDGES|""" +
      """CORPUS_BCAST_MAX_BYTES|gramDimBcast|localMaxEdges|maxBytes|""" +
      """targetBytes|DRIVER_MAX_ROWS|DEFAULT_CACHE_MAX_BYTES|""" +
      """DEFAULT_MAX_BYTES)\b""").r)
    assert(removed.isEmpty, s"removed gate names still in src/main: $removed")
  }
}
