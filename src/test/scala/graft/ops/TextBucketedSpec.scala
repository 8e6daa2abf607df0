package graft.ops

import graft.SparkSpec
import graft.util.SizeGate

/** The jaccard machinery's 100 TB corpus layout: past the cache size
  * gate the shingled corpus lives in a bucketed table on doc_id instead
  * of an executor cache. Pins (1) result identity with the cached plan,
  * (2) the exchange saving the bucketed layout buys on the verify joins,
  * (3) the gate itself (gate-scale fixtures stay on the cache path;
  * unreadable corpora fail CLOSED onto the bucketed arm), (4) dataset
  * isolation — the table name is keyed by the dataset dir, so two
  * corpora in one warehouse never alias. KB fixtures never cross the
  * real 1 GiB bound, so the above-gate arms are forced with the
  * force switch ([[SizeGate.ForceAboveKey]]). */
class TextBucketedSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val sf2 = "/root/testdata/sf0.01"

  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  /** Runs `body` on the above-gate arm of every size-gated cache. */
  private def aboveGate[T](body: => T): T =
    forcedAbove(SizeGate.CorpusCache)(body)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_a", "doc_b").collect().toSeq

  test("bucketed jaccard variant is row-identical to the cached plan") {
    dropTable(TextOps.bucketedTableName(sf))
    val cached = rows(TextOps.jaccardPairs(spark, sf)._1)
    val bucketed = aboveGate(rows(TextOps.jaccardPairsAuto(spark, sf)._1))
    assert(spark.catalog.tableExists(TextOps.bucketedTableName(sf)))
    assert(cached.nonEmpty, "fixture produced no near-dup pairs")
    assert(bucketed == cached)
    spark.catalog.clearCache()
  }

  test("two dataset dirs in one session get distinct bucketed tables " +
    "and each reads its own corpus (no cross-talk)") {
    val ta = TextOps.bucketedTableName(sf)
    val tb = TextOps.bucketedTableName(sf2)
    assert(ta != tb, s"table names must differ: $ta vs $tb")
    dropTable(ta); dropTable(tb)
    // interleave constructions the way a shared warehouse would see them
    val (a, b) = aboveGate {
      val (pairsA, releaseA) = TextOps.jaccardPairsAuto(spark, sf)
      val (pairsB, releaseB) = TextOps.jaccardPairsAuto(spark, sf2)
      try (rows(pairsA), rows(pairsB))
      finally { releaseA(); releaseB() }
    }
    assert(spark.catalog.tableExists(ta) && spark.catalog.tableExists(tb))
    val cachedA = rows(TextOps.jaccardPairs(spark, sf)._1)
    val cachedB = rows(TextOps.jaccardPairs(spark, sf2)._1)
    assert(a == cachedA, "dataset A's bucketed pairs drifted from its corpus")
    assert(b == cachedB, "dataset B's bucketed pairs drifted from its corpus")
    assert(a != b, "fixtures at different scales should differ")
    spark.catalog.clearCache()
    dropTable(ta); dropTable(tb)
  }

  test("bucketed layout removes the corpus-side exchanges of the " +
    "verify joins (SMJ forced so the claim is about bucketing)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def exchanges(p: String): Int =
        "Exchange hashpartitioning".r.findAllIn(p).length
      val cachedPlan = TextOps.jaccardPairs(spark, sf)._1
        .queryExecution.executedPlan.toString
      val bucketedPlan = aboveGate(TextOps.jaccardPairsAuto(spark, sf)._1
        .queryExecution.executedPlan.toString)
      // the bucketed scan must actually be bucket-aware ...
      assert(bucketedPlan.contains("SelectedBucketsCount"),
        bucketedPlan.take(1500))
      // ... and the two grams-side (doc_id-keyed) exchanges of the
      // cached plan must be gone — shuffle paid once at write time
      assert(exchanges(bucketedPlan) <= exchanges(cachedPlan) - 2,
        s"cached=${exchanges(cachedPlan)} bucketed=${exchanges(bucketedPlan)}")
      spark.catalog.clearCache()
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("size gate: gate-scale corpora take the cache path, not the " +
    "bucketed write") {
    // fixture documents are KBs — far under the cache gate's bound, so
    // Auto must not create the bucketed table
    dropTable(TextOps.bucketedTableName(sf))
    val (pairs, release) = TextOps.jaccardPairsAuto(spark, sf)
    try assert(pairs.count() > 0)
    finally release()
    assert(!spark.catalog.tableExists(TextOps.bucketedTableName(sf)),
      "gate-scale input must not trigger the bucketed-layout write")
  }

  test("above the gate the registered (lazy) pairs plan carries NO " +
    "corpus cache — one lazy plan, bounded recompute, not the " +
    "unconditional cache the r13 sweep measured DNF-ENOSPC at 2.8 GiB") {
    // clearCache first: a live cache of the same shingled-corpus plan
    // would be substituted into ANY matching subtree by the
    // CacheManager and fake a cache in the uncached arm's plan
    spark.catalog.clearCache()
    // the force switch takes the above-gate arm of the SAME entry the
    // registered ngram_jaccard_pairs query routes through
    val (pairs, release) = aboveGate(TextOps.jaccardPairs(spark, sf))
    try {
      assert(!pairs.queryExecution.withCachedData.toString
        .contains("InMemoryRelation"),
        "above-gate registered plan must not pin a corpus cache")
      val lazyRows = rows(pairs)
      assert(!pairs.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"))
      val (cachedPairs, cachedRelease) = TextOps.jaccardPairs(spark, sf)
      try {
        assert(cachedPairs.queryExecution.withCachedData.toString
          .contains("InMemoryRelation"))
        assert(lazyRows.nonEmpty && lazyRows == rows(cachedPairs),
          "uncached arm must be row-identical to the cached plan")
      } finally cachedRelease()
    } finally release()
  }

  test("jaccardPairsAuto above the gate writes the corpus table ONCE " +
    "per (session, dataset) and later routed queries reuse it (r13 " +
    "measured: write 541 s vs standing-table reads 20 s at 2.8 GiB)") {
    def tableFiles(t: String): Set[String] = {
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t))
          .location.toString))
      loc.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet
    }
    val t = TextOps.bucketedTableName(sf)
    val t2 = TextOps.bucketedTableName(sf2)
    dropTable(t); dropTable(t2)
    aboveGate {
      val (p1, r1) = TextOps.jaccardPairsAuto(spark, sf)
      try assert(p1.count() > 0) finally r1()
      assert(spark.catalog.tableExists(t),
        "above-gate Auto must land the bucketed corpus table")
      val files1 = tableFiles(t)
      // second routed query in the same session: same table, same FILES —
      // a rewrite would generate fresh uuid part names
      val (p2, r2) = TextOps.jaccardPairsAuto(spark, sf)
      try assert(p2.count() > 0) finally r2()
      assert(tableFiles(t) == files1,
        "second routed query must reuse the standing table, not rewrite it")
      // dataset isolation survives the memo: a second dir gets its own
      // table and its own rows
      val (pb, rb) = TextOps.jaccardPairsAuto(spark, sf2)
      try {
        assert(spark.catalog.tableExists(t2) && t != t2)
        assert(rows(p1) != rows(pb),
          "fixtures at different scales should differ")
      } finally rb()
      // a table dropped behind the memo's back is detected and rewritten
      dropTable(t)
      val (p3, r3) = TextOps.jaccardPairsAuto(spark, sf)
      try assert(p3.count() > 0) finally r3()
      assert(spark.catalog.tableExists(t),
        "memo must re-validate against the catalog, not trust itself")
    }
    dropTable(t); dropTable(t2)
  }

  test("size gate fails CLOSED: a corpus the gate cannot measure is " +
    "treated as big (r12 verdict: java.io.File walked non-local URIs " +
    "to 0 bytes and failed OPEN into the unbounded cache/broadcast " +
    "plans)") {
    def docs(d: String) = s"$d/documents.parquet"
    def cacheable(path: String) =
      SizeGate.below(spark, SizeGate.CorpusCache)(SizeGate.dirBytes(spark, path))
    def bounded(path: String) = SizeGate.below(spark,
      SizeGate.GramDimBroadcast)(SizeGate.dirBytes(spark, path))
    // a dir with no documents.parquet at all — getContentSummary throws,
    // dirBytes must report Long.MaxValue, both gates must say NO
    val missing = docs("/nonexistent/graft-gate-probe")
    assert(!cacheable(missing))
    assert(!bounded(missing))
    // a non-local scheme the session's Hadoop conf cannot resolve —
    // the exact deployment shape the r12 gate silently mis-routed
    assert(!cacheable(docs("hdfs://nonexistent-namenode:8020/corpora/x")))
    // sanity: a real, tiny local fixture still measures small on both
    assert(cacheable(docs(sf)))
    assert(bounded(docs(sf)))
  }
}
