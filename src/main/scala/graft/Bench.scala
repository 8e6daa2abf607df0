package graft


object Bench {

  /** One query's measurement: min of the timed executions, `failed` if ANY
    * execution threw. A failed query reports -1.0, never the elapsed time
    * of its failure path — a broken query must not bench as "fast".
    * `spread` = max/min across the timed runs: a same-query run-to-run
    * ratio >NOISE_SPREAD means the host was loaded during at least one
    * run, so the artifact flags itself rather than reading as a
    * regression on an unchanged query set (r5: one 0.26 s query recorded
    * 5.1 s in the official run). */
  final case class Timing(secs: Double, failed: Boolean, spread: Double)

  /** Run-to-run max/min ratio above which a query's measurement is
    * marked noise-suspect in the emitted JSON. */
  val NOISE_SPREAD = 3.0

  /** Locale-independent fixed-point rendering: the default-locale `f`
    * interpolator emits "0,123" under comma-decimal locales (e.g. de_DE),
    * which is invalid JSON. */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Time each query `runs` times (min reported — the host shows
    * multi-second external load spikes; min measures capability, not that
    * moment's noise), invoking `reset` after every run so state built
    * inside one run cannot distort the next. */
  def measure(queries: Seq[(String, () => Unit)], runs: Int,
      reset: () => Unit): Map[String, Timing] =
    queries.map { case (name, run) =>
      val attempts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { run(); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        reset()
        (dt, ok)
      }
      val ok = attempts.forall(_._2)
      val times = attempts.map(_._1)
      val spread = if (ok && times.min > 0) times.max / times.min else 1.0
      val t = Timing(if (ok) times.min else -1.0, !ok, spread)
      // per-query progress on stderr: long benches (hour-plus at sf100)
      // are otherwise a blind wait, and a killed run salvages nothing.
      // stderr keeps the stdout contract (ONE JSON line) intact.
      System.err.println(
        f"[bench] $name min=${t.secs}%.3f spread=$spread%.2f" +
          (if (t.failed) " FAILED" else ""))
      name -> t
    }.toMap

  /** Measurement-regime descriptor carried into every emitted artifact:
    * this round's own finding is that shuffle partitions alone swing
    * per-query results up to ~5× (corpus_mix_weights 0.9→4.6 s at sf100,
    * 32→128), and the banked sf100 artifact used non-default runs=2 —
    * artifacts from different regimes must be distinguishable without
    * cross-referencing SCALE.md prose. -1 = unknown (pure-function
    * tests). `action` names the timing action regime (r14: "auto" =
    * toRdd.count() for window-pruned entries, count() otherwise;
    * "count" = legacy; "rdd" = toRdd.count() everywhere) — numbers from
    * different action regimes are not comparable for the affected
    * entries, so the artifact must say which one produced it. */
  final case class Regime(cpus: Int = -1, shuffle: Int = -1, runs: Int = -1,
      action: String = "?")

  /** One JSON line: total over SUCCEEDED queries, per-query seconds
    * (failed ones carry -1.0), an explicit `failed` name list, and the
    * measurement regime. `names = Some(...)` restricts the per-query map
    * (the stdout line must stay short enough to survive the driver's
    * stdout-tail window) while total/failed always cover everything. */
  def renderJson(results: Map[String, Timing], sf: String,
      names: Option[Seq[String]],
      loadAvg: (Double, Double) = (-1.0, -1.0),
      regime: Regime = Regime()): String = {
    val sel = names.fold(results.toSeq.sortBy(_._1))(ns =>
      ns.flatMap(n => results.get(n).map(n -> _)))
    val qs = sel.map { case (k, t) => "\"" + k + "\":" + num(t.secs) }
      .mkString("{", ",", "}")
    val failed = results.toSeq.filter(_._2.failed).map(_._1).sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Self-diagnosing noise marker: queries whose run-to-run spread
    // exceeded NOISE_SPREAD (their min is still reported, but a reader
    // comparing rounds knows not to trust this entry as steady-state).
    // Scoped to `sel` like queries/spread: on a badly loaded host the
    // full-set list can be 100+ names, and the short stdout line must
    // stay inside the driver's stdout-tail window (the complete list is
    // always in bench_result.json, where names = None).
    val noisy = sel
      .filter { case (_, t) => !t.failed && t.spread > NOISE_SPREAD }
      .map(_._1).sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val spreads = sel.map { case (k, t) => "\"" + k + "\":" + num(t.spread) }
      .mkString("{", ",", "}")
    val total = results.values.collect { case t if !t.failed => t.secs }.sum
    // 1-minute system load average at measurement start/end (-1.0 where
    // the JVM cannot provide one): lets an artifact reader adjudicate
    // host noise without a re-run.
    val load = s""""load_avg":{"start":${num(loadAvg._1)},""" +
      s""""end":${num(loadAvg._2)}}"""
    val reg = s""""cpus":${regime.cpus},"shuffle":${regime.shuffle},""" +
      s""""runs":${regime.runs},"action":"${regime.action}""""
    s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":$qs,"failed":$failed,"noise_suspect":$noisy,""" +
      s""""spread":$spreads,$load,$reg,"sf":"$sf"}"""
  }

  /** Between timed runs: System.gc() prompts ContextCleaner to delete
    * finished queries' shuffle files, whose residue otherwise fills local
    * disk in a long suite (~50 GB by query ~94 of the sf100 run, three
    * casualties; SCALE.md decade 5, finding 2). */
  def reset(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache(); System.gc()
  }

  def systemLoad(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_SHUFFLE decouples shuffle parallelism from core count
    // for the cluster-shape audit (SCALE.md: sweep 64/128/256 at sf100 to
    // show the suite doesn't depend on the local[32] sweet spot).
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // Resolve the artifact's regime ints BEFORE the measurement loop:
    // non-numeric values (`SPARK_GRAFT_CPUS=*` is valid for local[*])
    // fall back to the documented "unknown" sentinel -1 — an hours-long
    // sf100 run must never die on a cosmetic toInt after measuring
    // (ADVICE r12). runs is appended after its own validation below.
    def intOr(raw: String): Int =
      try raw.toInt catch { case _: NumberFormatException => -1 }
    val regimeCpus = intOr(cpus)
    val regimeShuffle = intOr(shuffle)
    // session stability knobs (heartbeat armor etc.) live in Sessions —
    // shared with Measure so the two measurement regimes cannot drift
    val spark = Sessions.builder(cpus, shuffle).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup at the smallest SF first: JIT + codegen compilation otherwise
    // lands entirely in the first measured query. The same pass detects,
    // per query, whether count() PRUNES a Window node from the plan —
    // r13's own finding: df.count() optimizes to groupBy().count(), and
    // Catalyst drops window expressions nothing references, so the
    // window family (w1_running_balance, balance_history, x13_sessionize,
    // x15_window_values, seq_packing, ...) was benching a plan with the
    // windows GONE (r11's "108.7 s balance spill" was the join tier).
    // Detection is plan-shape only (analysis + optimization, no jobs)
    // and self-maintaining: a future window query gets the honest
    // action without a hand-kept name list.
    def hasWindow(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean =
      p.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isDefined
    val windowPruned: Set[String] =
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val pruned = try {
          val df = fn(spark, "/root/testdata/sf0.001")
          df.count()
          hasWindow(df.queryExecution.optimizedPlan) &&
            !hasWindow(df.groupBy().count().queryExecution.optimizedPlan)
        } catch { case _: Throwable => false }
        spark.catalog.clearCache()
        if (pruned) Some(name) else None
      }.toSet
    // Timing action per query. Default "auto": entries whose windows
    // count() would prune run toRdd.count() — executes the FIXED
    // physical plan and produces every row executor-side (the honest
    // "materialize the result" action; the one Measure always times,
    // r13) — everything else keeps count() for
    // cross-round comparability. "count"/"rdd" force one action
    // everywhere (the dual-record transition columns, BENCH_NOTES r14).
    val actionMode = sys.env.getOrElse("SPARK_GRAFT_ACTION", "auto")
    require(Set("auto", "count", "rdd")(actionMode),
      s"SPARK_GRAFT_ACTION must be auto|count|rdd, got '$actionMode'")
    def action(name: String,
        df: org.apache.spark.sql.DataFrame): Unit = actionMode match {
      case "count" => df.count(); ()
      case "rdd" => df.queryExecution.toRdd.count(); ()
      case _ =>
        if (windowPruned(name)) df.queryExecution.toRdd.count()
        else df.count()
        ()
    }
    System.err.println(s"[bench] action=$actionMode window-pruned entries " +
      s"(toRdd.count under auto): ${windowPruned.toSeq.sorted.mkString(", ")}")
    // Stable order + per-query cache isolation; three timed runs, min
    // kept. Two runs proved noise-fragile (r5: the official artifact
    // read 2× high on an unchanged query set when both runs landed on a
    // loaded host); with three, one clean run suffices and the spread
    // field flags the entries where even the min may be suspect.
    val loadStart = systemLoad()
    // default stays 3 (two runs proved noise-fragile, r5); the env
    // knob exists for very long scale-decade runs where even 3 may
    // not fit the session — any deviation is now self-describing via
    // the artifact's "runs" field (plus adjudication notes).
    val runs = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3")
      val n = try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_RUNS must be a positive integer, got '$raw'")
      }
      require(n >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $n")
      n
    }
    val results = measure(
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (() => action(name, fn(spark, sfDir)))
      },
      runs = runs, reset = () => reset(spark))
    val loadAvg = (loadStart, systemLoad())
    // r1+r2 driver runs both recorded parsed:null: the full per-query JSON
    // line is ~4.5 KB, so its START falls outside the driver's stdout-tail
    // window and the line never parses. The stdout line therefore carries
    // only the headline queries (short enough to survive any tail window);
    // the complete per-query map goes to bench_result.json.
    val headline = Seq(
      "q3_shipping_priority", "q5_local_supplier", "j2_composite_key",
      "a1_sum_group", "w1_running_balance", "x13_sessionize",
      "x12_range_join", "dedup_exact", "minhash_lsh_pairs",
      "ann_cosine_topk", "heavy_hitters_tokens", "pipeline_clean_docs",
      "q8_market_share", "graph_pagerank", "graph_cc_components")
    // the list is a hardcoded copy of registry names — a rename must
    // fail loudly here, not silently vanish from the driver's stdout
    // metric line (renderJson drops unknown names by design)
    require(headline.forall(results.contains),
      s"headline names missing from registry: ${
        headline.filterNot(results.contains).mkString(", ")}")
    val regime = Regime(regimeCpus, regimeShuffle, runs, actionMode)
    val shortJson = renderJson(results, sfDir, Some(headline), loadAvg, regime)
    val fullJson = renderJson(results, sfDir, None, loadAvg, regime)
    println(shortJson)
    spark.stop()
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    // True last stdout line (build.sbt sets showSuccess := false so sbt
    // appends no "[success] Total time" trailer after this).
    println(shortJson)
  }
}
