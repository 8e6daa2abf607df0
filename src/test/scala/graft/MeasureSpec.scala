package graft

import graft.Measure.{Arm, Group}

/** The measurement harness on KB-sized inputs: the row-equality guard,
  * the ab and bench JSON lines, and plans printed from the library's own
  * session shape. */
class MeasureSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def field(line: String, key: String): Double =
    s""""$key":(-?[0-9.]+)""".r.findFirstMatchIn(line)
      .getOrElse(fail(s"no $key in $line")).group(1).toDouble

  test("arms returning different rows fail loudly, naming both arms") {
    val e = intercept[IllegalArgumentException](Measure.compare(spark, Group("parity", Seq(
      Arm("evens", () => spark.range(20).toDF().filter("id % 2 = 0")),
      Arm("odds", () => spark.range(20).toDF().filter("id % 2 = 1")))), 0.0))
    assert(e.getMessage.contains("evens") && e.getMessage.contains("odds"), e.getMessage)
  }

  test("equal arms give one JSON line with every arm's min and the row " +
    "count; arm confs are restored") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val line = Measure.compare(spark, Group("same", Seq(
      Arm("plain", () => spark.range(100).selectExpr("id", "id * 0.1 AS x")),
      Arm("shuffled", () => spark.range(100).repartition(3)
        .selectExpr("id", "id * 0.1 AS x").orderBy("id"), Map(key -> "2")))), 0.25)
    assert(!line.contains("\n"))
    assert(line.contains(""""experiment":"same"""") && field(line, "rows") == 100, line)
    assert(field(line, "setup_s") == 0.25, line)
    for (arm <- Seq("plain", "shuffled"))
      assert(s""""$arm":\\{"min_s":[0-9.]+,"shuffle_mb":[0-9.]+\\}""".r
        .findFirstIn(line).isDefined, line)
    assert(spark.conf.get(key) == before)
  }

  test("the bench line splits the run: jobs >= 1, driver gap >= 0") {
    val Seq(line) = Measure.bench(spark, sf, Seq("a1_sum_group"))
    assert(line.contains(""""query":"a1_sum_group""""), line)
    for (k <- Seq("min_s", "rows", "construct_s", "job_s", "task_s", "shuffle_mb", "spill_mb"))
      assert(field(line, k) >= 0, s"$k in $line")
    assert(field(line, "jobs") >= 1, line)
    assert(field(line, "driver_gap_s") >= 0, line)
    assert(field(line, "job_s") <= field(line, "min_s") + 0.05, line)
  }

  test("plan shows the session's extensions: ann_cosine_topk uses " +
    "LocalTopK, and --out writes the formatted explain") {
    val dir = java.nio.file.Files.createTempDirectory("measure-plan")
    val Seq(printed) = Measure.plan(spark, sf, Seq("ann_cosine_topk"), drain = false,
      out = Some(dir.toString -> "t"))
    assert(printed.contains("LocalTopK"), printed)
    val written = new String(java.nio.file.Files.readAllBytes(
      dir.resolve("ann_cosine_topk_t.txt")), "UTF-8")
    assert(written.contains("LocalTopK"), written.take(2000))
  }
}
