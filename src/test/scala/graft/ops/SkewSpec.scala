package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Skew salting on an actually-skewed fixture: exact result parity for
  * both the blanket-salt decomposition (evidence-only — not a registered
  * query, since its fixed fan-out is a measured scale-killer at sf100;
  * SCALE.md decade 5, finding 3) and the registry's scale-safe
  * `skew_adaptive_join`, plus the salt distribution property that
  * removes the straggler. `graft.Measure ab skew` measures the
  * wall-clock crossover at sf0.1. */
class SkewSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // the SAME construction `Measure ab skew` times (ScaleOps.skewedFixture):
  // every even orderkey collapses onto key 1 — ~half the rows hot
  private lazy val (skewed, dim) =
    ScaleOps.skewedFixture(spark, sf, amplify = 1)

  test("salted join reproduces the plain join exactly on skewed keys") {
    def agg(j: org.apache.spark.sql.DataFrame) = j.groupBy("k")
      .agg(count(lit(1)).as("n"),
        Parity.decSum(col("l_extendedprice") * col("payload")).as("s"))
      .collect().map(_.toString).sorted
    val plain = agg(skewed.join(dim, Seq("k")))
    val salted = agg(ScaleOps.saltedJoin(skewed, dim, "k", 8))
    assert(plain.sameElements(salted))
  }

  test("hot-key detection finds the skewed key from the sample, and " +
    "ONLY it") {
    val hot = ScaleOps.detectHotKeys(skewed, "k",
      sampleFraction = 0.05, rowsPerSalt = 500, maxSalts = 16)
    assert(hot.map(_._1).toSeq == Seq(1L),
      s"expected exactly the collapsed key, got ${hot.toSeq}")
    assert(hot.head._2 > 1, "the hot key must get a multi-salt fan-out")
  }

  test("adaptive salted join reproduces the plain join exactly, " +
    "without a-priori knowledge of the hot key") {
    def agg(j: org.apache.spark.sql.DataFrame) = j.groupBy("k")
      .agg(count(lit(1)).as("n"),
        Parity.decSum(col("l_extendedprice") * col("payload")).as("s"))
      .collect().map(_.toString).sorted
    val plain = agg(skewed.join(dim, Seq("k")))
    val adaptive = agg(ScaleOps.adaptiveSaltedJoin(skewed, dim, "k",
      sampleFraction = 0.05, rowsPerSalt = 500, maxSalts = 16))
    assert(plain.sameElements(adaptive))
  }

  test("adaptive join with no hot keys degrades to the plain join") {
    // uniform keys: nothing clears the rowsPerSalt bar → pass-through
    val l = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("k"), col("l_extendedprice"))
    val o = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"))
      .withColumn("payload", pmod(col("k"), lit(97)).cast("double"))
    val j = ScaleOps.adaptiveSaltedJoin(l, o, "k",
      sampleFraction = 0.05, rowsPerSalt = 1000000L, maxSalts = 16)
    assert(!j.columns.contains("_salt"))
    assert(j.count() == l.join(o, Seq("k")).count())
  }

  test("skew_adaptive_join (eager Q): executes and pins the output schema") {
    val df = ScaleOps.queries("skew_adaptive_join")(spark, sf)
    assert(df.columns.toSeq == Seq("k", "n_lines", "mass"))
    assert(df.schema("n_lines").dataType.typeName == "long")
    assert(df.schema("mass").dataType.typeName == "double")
    assert(df.count() > 0)
  }

  test("salting spreads the hot key's rows near-uniformly over salts") {
    val salts = 8
    val bySalt = ScaleOps.saltFact(skewed.filter(col("k") === 1L), salts)
      .groupBy("_salt").count().collect()
      .map(r => r.getAs[Int]("_salt") -> r.getAs[Long]("count")).toMap
    assert(bySalt.keySet == (0 until salts).toSet,
      s"unused salts: ${(0 until salts).toSet -- bySalt.keySet}")
    val maxShare = bySalt.values.max.toDouble / bySalt.values.sum
    // fair share = 1/8 = 0.125; "no salt above 2× fair" is the property
    // that converts one straggler into `salts` balanced tasks
    assert(maxShare <= 0.25, s"max salt share $maxShare exceeds 2× fair")
  }
}
