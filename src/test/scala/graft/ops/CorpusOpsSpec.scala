package graft.ops

import graft.SparkSpec

/** In-repo coverage for the corpus-curation operators whose driver gate
  * is rows-only (the approx-quantile accuracy gate) or whose invariants
  * go beyond what the DuckDB hash compare states (cluster structure).
  */
class CorpusOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("approx quantile gate: single all-or-nothing row, sketch within " +
    "tolerance for every language") {
    val rows =
      graft.SparkEntry.queries("quality_quantile_approx_gate")(spark, sf)
        .collect()
    assert(rows.length == 1, "gate must emit exactly one row when green")
    val r = rows(0)
    assert(r.getAs[Long]("n_langs") == 5L)
    assert(r.getAs[Double]("max_abs_err") <= 0.02)
  }

  test("dup_clusters: edge endpoints share a cluster, the canonical doc " +
    "is the cluster min, sizes match membership") {
    val result = graft.SparkEntry.queries("dup_clusters")(spark, sf)
    // dup_clusters is the one Q.eager query, exempt from SparkEntrySpec's
    // analysis-only sweeps — pin its contract here instead: the schema is
    // decimal-free (driver hash gate) and construction leaves no cache
    // pinned (the result is checkpointed; intermediates are released).
    assert(result.schema.fields.map(f => f.name -> f.dataType.typeName)
      .toSeq == Seq("doc_id" -> "long", "cluster_id" -> "long",
        "cluster_size" -> "long", "is_canonical" -> "boolean"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "dup_clusters construction left a SQL cache pinned")
    val labels = result
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_canonical")))
    val byDoc = labels.map(l => l._1 -> l._2).toMap
    val pairs = TextOps.jaccardPairs(spark, sf)._1
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && labels.nonEmpty)
    // every near-dup pair resolved into the same cluster
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) == byDoc(b), s"pair ($a,$b) split across clusters")
    }
    val members = labels.groupBy(_._2)
    members.foreach { case (cid, ms) =>
      assert(ms.map(_._1).min == cid, s"cluster $cid: min is not the id")
      assert(ms.forall(_._3 == ms.length), s"cluster $cid: size mismatch")
      assert(ms.count(_._4) == 1 && ms.find(_._4).get._1 == cid,
        s"cluster $cid: canonical flag wrong")
    }
    spark.catalog.clearCache()
  }

  test("split_leakage_safe: near-dup clusters never straddle the split, " +
    "singletons hash their own id, no cache left pinned") {
    val result = graft.SparkEntry.queries("split_leakage_safe")(spark, sf)
    // eager Q contract: pin the schema and the cache hygiene here (the
    // analysis-only sweeps skip eager queries).
    assert(result.schema.fields.map(f => f.name -> f.dataType.typeName)
      .toSeq == Seq("doc_id" -> "long", "split_key" -> "long",
        "split" -> "string"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "split_leakage_safe construction left a SQL cache pinned")
    val rows = result.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("split_key"),
        r.getAs[String]("split")))
    val byDoc = rows.map(r => r._1 -> r._3).toMap
    // every doc appears exactly once
    assert(rows.length == byDoc.size)
    assert(rows.length ==
      graft.Tables.documents(spark, sf).count().toInt)
    // the contamination contract: both ends of every near-dup pair land
    // in the SAME split
    val pairs = TextOps.jaccardPairs(spark, sf)._1
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) == byDoc(b), s"pair ($a,$b) straddles the split")
    }
    // both splits are non-empty at a 90/10 hash rate over 500 docs
    val n = rows.length.toDouble
    val evalFrac = rows.count(_._3 == "eval") / n
    assert(evalFrac > 0.02 && evalFrac < 0.25,
      s"eval fraction $evalFrac implausible for a 90/10 hash split")
    spark.catalog.clearCache()
  }
}
