package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextExprsSpec extends SparkSpec {

  test("NGramShingles matches the HOF formulation exactly") {
    import spark.implicits._
    val df = Seq("a b c d e", "x y", "one", "", "p q r")
      .toDF("text").select(split(col("text"), " ").as("toks"))
    for (n <- Seq(2, 3)) {
      val r = df.select(
        TextExprs.wordShingles(col("toks"), n).as("native"),
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>")).as("hof")).collect()
      r.foreach { row =>
        assert(row.getSeq[String](0) == row.getSeq[String](1),
          s"n=$n native=${row.getSeq[String](0)} hof=${row.getSeq[String](1)}")
      }
    }
  }

  test("NGramShingles edge cases") {
    import spark.implicits._
    val df = Seq(Seq("a", "b", "c")).toDF("toks")
    // n == size → single shingle; n > size → empty
    assert(df.select(TextExprs.wordShingles(col("toks"), 3))
      .collect()(0).getSeq[String](0) == Seq("a b c"))
    assert(df.select(TextExprs.wordShingles(col("toks"), 4))
      .collect()(0).getSeq[String](0).isEmpty)
    // null input → null
    val withNull = Seq(Option.empty[Seq[String]]).toDF("toks")
    assert(withNull.select(TextExprs.wordShingles(col("toks"), 2))
      .collect()(0).isNullAt(0))
  }

  test("minhash estimate correlates with exact jaccard on crafted dups") {
    // sanity: near-identical docs share most minhashes; disjoint docs none
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "zz" else s"w$i")
      .mkString(" ")
    val disjoint = (41 to 80).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, disjoint))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val sh = graft.ops.TextOps.shingles(split(col("text"), " "), 3)
    val sigs = docs.select(col("doc_id"),
      explode(array_distinct(sh)).as("s"))
      .groupBy("doc_id")
      .agg((0 until 16).map(i =>
        min(xxhash64(lit(i), col("s"))).as(s"h$i")).head,
        (0 until 16).map(i =>
          min(xxhash64(lit(i), col("s"))).as(s"h$i")).tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 16).map(r.getLong)).toMap
    val agree12 = sigs(1L).zip(sigs(2L)).count(p => p._1 == p._2)
    val agree13 = sigs(1L).zip(sigs(3L)).count(p => p._1 == p._2)
    assert(agree12 >= 10, s"near-dup minhash agreement too low: $agree12/16")
    assert(agree13 == 0, s"disjoint docs agree: $agree13/16")
  }

  test("lsh buckets are deterministic and spread") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def buckets = e.select(col("vec_id"),
      graft.ops.VectorOps.lshTableBuckets(col("v")).as("b")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val b1 = buckets
    assert(b1 == buckets)
    // every table spreads the vectors over many of its 2^bits buckets
    val perTable = b1.values.toSeq.transpose.map(_.toSet.size)
    assert(perTable.size == graft.ops.VectorOps.numTables)
    assert(perTable.forall(_ > 16),
      s"buckets should spread over many values per table: $perTable")
  }
}
