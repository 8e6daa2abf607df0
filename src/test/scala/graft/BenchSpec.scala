package graft

import org.apache.spark.sql.DataFrame

/** The registry timer: failure visibility, min-of-N and spread, the
  * per-query layers of the full artifact, locale-independent JSON, and
  * the audit that keeps one timed run in src/main. */
class BenchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** A query whose run costs no job: an empty local relation. */
  private def empty: DataFrame = spark.emptyDataFrame

  private def time(queries: (String, () => DataFrame)*)(runs: Int) =
    Bench.time(spark, queries, runs).toMap

  test("a failing query is marked failed and never reports a timing") {
    val results = time(
      "good" -> (() => empty),
      "bad" -> (() => throw new RuntimeException("boom")))(runs = 2)
    assert(!results("good").failed)
    assert(results("good").secs >= 0.0)
    assert(results("bad").failed)
    assert(results("bad").secs == -1.0)
  }

  test("an intermittent failure still marks the query failed") {
    var calls = 0
    // call 1 is the untimed warmup; the first timed run dies
    val results = time("flaky" -> (() => {
      calls += 1
      if (calls == 2) throw new RuntimeException("first timed run dies")
      empty
    }))(runs = 2)
    assert(results("flaky").failed)
    assert(results("flaky").secs == -1.0)
  }

  test("JSON carries the failed list and excludes failures from total") {
    val results = Map(
      "a" -> Bench.Timing(1.25, failed = false, spread = 1.1),
      "b" -> Bench.Timing(-1.0, failed = true, spread = 1.0),
      "c" -> Bench.Timing(2.0, failed = false, spread = 1.4))
    val json = Bench.renderJson(results, "sfX", None)
    assert(json.contains(""""failed":["b"]"""))
    assert(json.contains(""""value":3.250"""))
    assert(json.contains(""""b":-1.000"""))
    // a name filter restricts the per-query map but not total/failed
    val short = Bench.renderJson(results, "sfX", Some(Seq("a")))
    assert(short.contains(""""queries":{"a":1.250}"""))
    assert(short.contains(""""failed":["b"]"""))
    assert(short.contains(""""value":3.250"""))
  }

  test("JSON is regime-self-describing: cpus/shuffle/runs fields, " +
    "-1 when unknown") {
    val results = Map("a" -> Bench.Timing(1.0, failed = false, spread = 1.0))
    val json = Bench.renderJson(results, "sfX", None,
      regime = Bench.Regime(cpus = 32, shuffle = 128, runs = 2))
    // shuffle partitions alone swing per-query results up to ~5x
    // (SCALE.md round-11 sweep) — artifacts from different regimes must
    // be distinguishable without cross-referencing prose
    assert(json.contains(""""cpus":32"""))
    assert(json.contains(""""shuffle":128"""))
    assert(json.contains(""""runs":2"""))
    val unknown = Bench.renderJson(results, "sfX", None)
    assert(unknown.contains(""""cpus":-1"""))
  }

  test("noise_suspect flags queries whose run-to-run spread exceeds 3x") {
    val results = Map(
      "steady" -> Bench.Timing(1.0, failed = false, spread = 1.2),
      "noisy" -> Bench.Timing(0.3, failed = false, spread = 15.8),
      "dead" -> Bench.Timing(-1.0, failed = true, spread = 9.9))
    val json = Bench.renderJson(results, "sfX", None)
    // only the live noisy query is flagged; failures are not double-reported
    assert(json.contains(""""noise_suspect":["noisy"]"""))
    assert(json.contains(""""spread":{"""))
    assert(json.contains(""""noisy":15.800"""))
  }

  test("measure records max/min spread across runs") {
    var n = 0
    // call 1 is the untimed warmup; the first timed run hits a 'loaded host'
    val results = time("ramp" -> (() => {
      n += 1
      Thread.sleep(if (n == 2) 80L else 5L)
      empty
    }))(runs = 3)
    assert(!results("ramp").failed)
    assert(results("ramp").spread > 3.0) // 80ms vs ~5ms
    // min kept, not mean: the clean runs define the reported capability
    assert(results("ramp").secs < 0.05)
  }

  test("a failed query leaves no cached plan and none of its jobs to the next") {
    var cached: DataFrame = null
    var nextSawCache = Option.empty[Boolean]
    val results = time(
      "bad" -> (() => {
        cached = spark.range(100).toDF().cache()
        cached.count()
        throw new RuntimeException("dies holding a cached plan")
      }),
      "good" -> (() => {
        if (nextSawCache.isEmpty)
          nextSawCache = Some(cached.storageLevel.useMemory || cached.storageLevel.useDisk)
        spark.range(10).toDF()
      }))(runs = 2)
    assert(results("bad").failed)
    assert(nextSawCache.contains(false), "the failed run's cache outlived it")
    val good = results("good")
    assert(!good.failed)
    // range(10).toRdd.count() is one job; the failed run's jobs are fenced off
    assert(good.min.map(_.cost.jobs).contains(1), good)
    assert(good.min.map(_.rows).contains(10L), good)
  }

  test("the full JSON carries each query's layers from its min run; " +
    "the short line does not") {
    val names = Seq("a1_sum_group", "w1_running_balance")
    val results = Bench.time(spark,
      names.map(n => n -> (() => SparkEntry.queries(n)(spark, sf))), runs = 1).toMap
    val full = Bench.renderJson(results, sf, None)
    def layer(q: String, k: String): Double =
      s""""$q":\\{[^}]*"$k":(-?[0-9.]+)""".r.findFirstMatchIn(full)
        .getOrElse(fail(s"no layers.$q.$k in $full")).group(1).toDouble
    for (q <- names) {
      assert(!results(q).failed, q)
      assert(layer(q, "jobs") >= 1, full)
      assert(layer(q, "driver_gap_s") >= 0, full)
      for (k <- Seq("construct_s", "job_s", "task_s", "shuffle_mb", "spill_mb"))
        assert(layer(q, k) >= 0, s"$q.$k")
    }
    // count() prunes w1's window; the timed action produces every row
    val rows = SparkEntry.queries("w1_running_balance")(spark, sf).collect().length
    spark.catalog.clearCache()
    assert(layer("w1_running_balance", "rows") == rows)
    assert(full.contains(""""action":"rdd""""))
    val short = Bench.renderJson(results, sf, Some(names))
    assert(!short.contains("layers") && short.contains(""""action":"rdd""""), short)
  }

  test("one timed run: queryExecution.toRdd.count appears in src/main " +
    "only in Bench.run, and the action knob is gone") {
    val found = SourceAudit.calls("""queryExecution\s*\.\s*toRdd\s*\.\s*count\b""".r)
    assert(found == Map("Bench.scala" -> 1), s"timed actions outside Bench.run: $found")
    assert(SourceAudit.calls("SPARK_GRAFT_ACTION".r).isEmpty)
  }

  test("number rendering is locale-independent") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.num(0.123) == "0.123")
      assert(Bench.num(1234.5) == "1234.500")
    } finally java.util.Locale.setDefault(saved)
  }
}
