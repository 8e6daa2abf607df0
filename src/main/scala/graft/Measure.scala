package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.ops._
import graft.util.SizeGate

/** The one measurement and plan-inspection main, on the library's own
  * session ([[Sessions.builder]]). A timed run is `queryExecution.toRdd
  * .count()` — the fixed physical plan with every row produced, so count()
  * cannot prune a Window or an unused aggregate — then [[Bench.reset]].
  *   - `bench <query…>`: warmup + min-of-3, one JSON line per query;
  *   - `ab <experiment> [query…]`: interleaved arms of an [[experiments]] entry;
  *   - `plan [--final] [--out DIR SUFFIX] <query…>`: the executed plan
  *     (`--final`: drained first, so AQE's final shape shows); `--out` also
  *     writes `explain("formatted")` to DIR/<query>_SUFFIX.txt.
  * Env as in Bench: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SHUFFLE, SPARK_GRAFT_CONF. */
object Measure {

  private final case class Cost(jobs: Int, jobS: Double, taskS: Double, shuffleMb: Double, spillMb: Double)

  /** Job intervals, executor run time, shuffle-write and disk-spill bytes.
    * [[cost]] fences the asynchronous listener bus with a one-task job: the
    * bus delivers in order, so at the fence's JobStart every earlier event
    * has been counted. Job time is the union of job intervals (concurrent
    * broadcast or subquery jobs count once); wall minus it is driver time. */
  private final class Probe(spark: SparkSession) extends SparkListener {
    private val spans = mutable.Map[Int, (Long, Long)]()
    private val fenceStages = mutable.Set[Int]()
    private var taskMs, shuffle, spill = 0L
    private var fence = Promise[Cost]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(FenceKey) != null)) {
        fenceStages ++= e.stageIds
        val done = spans.values.filter(_._2 >= 0).toSeq.sorted
        var covered, end = 0L
        done.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
        fence.trySuccess(Cost(done.size, covered / 1e3, taskMs / 1e3, shuffle / 1e6, spill / 1e6))
        spans.clear(); taskMs = 0L; shuffle = 0L; spill = 0L
      } else spans(e.jobId) = (e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      spans.get(e.jobId).foreach(s => spans(e.jobId) = (s._1, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (!fenceStages(e.stageId)) Option(e.taskMetrics).foreach { m =>
        taskMs += m.executorRunTime; spill += m.diskBytesSpilled
        shuffle += m.shuffleWriteMetrics.bytesWritten
      }
    }

    /** Counters since the previous call; zeroes them. */
    def cost(): Cost = {
      val p = Promise[Cost](); synchronized { fence = p }
      spark.sparkContext.setLocalProperty(FenceKey, "1")
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.setLocalProperty(FenceKey, null)
      Await.result(p.future, 1.minute)
    }
  }
  private val FenceKey = "graft.measure.fence"

  private def withProbe[T](spark: SparkSession)(body: Probe => T): T = {
    val p = new Probe(spark); spark.sparkContext.addSparkListener(p)
    try body(p) finally spark.sparkContext.removeSparkListener(p)
  }

  /** Runs `body` with `conf` set, restoring every key's previous value. */
  private def withConf[T](spark: SparkSession, conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private final case class Run(wall: Double, construct: Double, rows: Long, cost: Cost)
  private def run(spark: SparkSession, probe: Probe, mk: () => DataFrame): Run = {
    probe.cost()
    val t0 = System.nanoTime()
    val df = mk()
    val t1 = System.nanoTime()
    val rows = df.queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val c = probe.cost()
    Bench.reset(spark)
    Run(wall, (t1 - t0) / 1e9, rows, c)
  }

  private def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    "\"" + k + "\":" + (v match {
      case x: Double => Bench.num(x)
      case x: String => "\"" + x + "\""
      case x: Seq[(String, Any)] @unchecked => json(x)
      case x => x.toString
    })
  }.mkString("{", ",", "}")

  /** One warmup, then min-of-3; the line describes the min run. */
  def bench(spark: SparkSession, d: String, names: Seq[String]): Seq[String] =
    withProbe(spark) { probe =>
      names.map { name =>
        val mk = () => SparkEntry.queries(name)(spark, d)
        run(spark, probe, mk)
        val r = Seq.fill(3)(run(spark, probe, mk)).minBy(_.wall)
        json(Seq("query" -> name, "min_s" -> r.wall, "rows" -> r.rows,
          "construct_s" -> r.construct, "jobs" -> r.cost.jobs, "job_s" -> r.cost.jobS,
          "task_s" -> r.cost.taskS, "driver_gap_s" -> math.max(0.0, r.wall - r.cost.jobS),
          "shuffle_mb" -> r.cost.shuffleMb, "spill_mb" -> r.cost.spillMb))
      }
    }

  /** An A/B arm: a DataFrame builder and the SQL confs it runs under. */
  final case class Arm(name: String, df: () => DataFrame, conf: Map[String, String] = Map.empty)
  /** Arms that must return the same row multiset. */
  final case class Group(label: String, arms: Seq[Arm])

  /** Order-independent row-multiset fingerprint: count and Σ xxhash64 of
    * every row. Doubles hash at float precision, so arms that add the same
    * values in another order agree. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      if (f.dataType == DoubleType) col(s"c$i").cast(FloatType) else col(s"c$i")
    }
    val r = df.toDF(cols.indices.map(i => s"c$i"): _*)
      .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Asserts the arms' rows equal, warms each arm once, then runs 3 rounds
    * in alternating arm order and keeps each arm's min. */
  def compare(spark: SparkSession, g: Group, setupS: Double): String = {
    val prints = g.arms.map(a =>
      a.name -> withConf(spark, a.conf)(try fingerprint(a.df()) finally Bench.reset(spark)))
    val (first, fp) = prints.head
    for ((n, p) <- prints.tail) require(p == fp,
      s"${g.label}: arms $first and $n disagree (rows, fingerprint): $fp vs $p")
    withProbe(spark) { probe =>
      def once(a: Arm) = a.name -> withConf(spark, a.conf)(run(spark, probe, a.df))
      g.arms.foreach(once)
      val runs = (0 until 3).flatMap(i => (if (i % 2 == 0) g.arms else g.arms.reverse).map(once))
      json(Seq("experiment" -> g.label, "setup_s" -> setupS, "rows" -> fp._1,
        "arms" -> g.arms.map { a =>
          val r = runs.filter(_._1 == a.name).map(_._2).minBy(_.wall)
          a.name -> Seq("min_s" -> r.wall, "shuffle_mb" -> r.cost.shuffleMb)
        }))
    }
  }

  def plan(spark: SparkSession, d: String, names: Seq[String], drain: Boolean,
      out: Option[(String, String)]): Seq[String] = names.map { name =>
    val df = SparkEntry.queries(name)(spark, d)
    if (drain) df.queryExecution.toRdd.foreach(_ => ())
    out.foreach { case (dir, suffix) =>
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, s"${name}_$suffix.txt"), df.queryExecution
        .explainString(ExplainMode.fromString("formatted")).getBytes("UTF-8"))
    }
    try s"PLAN $name:\n${df.queryExecution.executedPlan}" finally Bench.reset(spark)
  }

  private val Salts = 32
  private val SymEdges = 20000000L
  private val noBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** Experiment name → setup (timed as setup_s) returning the groups to
    * compare; the remaining args are registry query names (cachegate). */
  val experiments: Map[String, (SparkSession, String, Seq[String]) => Seq[Group]] = Map(
    // r15 a2_approx_distinct: pair dedup and per-suppkey sketch on one exchange
    "a2shape" -> { (s, d, _) =>
      val pairs = Tables.lineitem(s, d).select("l_suppkey", "l_orderkey")
      Seq(Group("a2shape", Seq(Arm("two_exchange", () => ScaleOps.a2Gate(pairs.distinct())),
        Arm("one_exchange", () => ScaleOps.a2Gate(pairs.repartition(col("l_suppkey")).distinct())))))
    },
    // r15 one-pass edge symmetrization; edges follow scaleEdges' law
    "symshape" -> { (s, _, _) =>
      def raw() = s.range(SymEdges).select(pmod(xxhash64(col("id")), lit(SymEdges / 2))
          .as("src"), pmod(xxhash64(col("id"), lit(1)), lit(SymEdges / 2)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      Seq(Group("symshape", Seq(
        Arm("union", () => raw().transform(r => r.union(r.select(col("dst"), col("src"))))),
        Arm("explode", () => GraphOps.symmetrize(raw())))))
    },
    // size-gated executor caches per registry query: below-gate vs forced above
    "cachegate" -> { (s, d, names) => names.map { n =>
      val q = () => SparkEntry.queries(n)(s, d)
      Group(s"cachegate.$n", Seq("cached" -> "", "uncached" -> SizeGate.CorpusCache.name).map {
        case (arm, force) => Arm(arm, q, Map(SizeGate.ForceAboveKey -> force)) })
    }},
    // plain vs bucketed tables written once: J2 self-join (SMJ), flows join, balance window;
    // one bucket count for every table (co-bucketed joins need equal counts), sized from
    // lineitem's bytes, the largest input
    "layout" -> { (s, d, _) =>
      val n = SizeGate.partitionsForBytes(s, s"$d/lineitem.parquet", 128)
      def bkt(t: String, df: DataFrame, by: String*)(sort: String*) =
        { sources.Bucketing.writeBucketed(df, t, by, n, by ++ sort); s.table(t) }
      val j2b = bkt("measure_j2_bkt", Tables.lineitem(s, d), "l_orderkey", "l_linenumber")()
      val lb = bkt("measure_lineitem_bkt", Tables.lineitem(s, d), "l_orderkey")()
      val ob = bkt("measure_orders_bkt", Tables.orders(s, d), "o_orderkey")()
      val cb = bkt("measure_changes_bkt", DomainModels.balanceChanges(s, d), "entity")("ts")
      def j2(df: DataFrame) = df.as("l").join(df.as("m"), col("l.l_orderkey") ===
          col("m.l_orderkey") && col("l.l_linenumber") === col("m.l_linenumber"), "left")
        .select("l.l_orderkey", "l.l_linenumber", "l.l_quantity", "m.l_extendedprice")
      Seq(Group("layout.j2", Seq(Arm("plain", () => j2(Tables.lineitem(s, d)), noBroadcast),
          Arm("bucketed", () => j2(j2b), noBroadcast))),
        Group("layout.flows", Seq(
          Arm("plain", () => DomainModels.flowsFrom(Tables.lineitem(s, d), Tables.orders(s, d))),
          Arm("bucketed", () => DomainModels.flowsFrom(lb, ob)))),
        Group("layout.balance", Seq(
          Arm("plain", () => DomainModels.balanceOver(DomainModels.balanceChanges(s, d))),
          Arm("bucketed", () => DomainModels.balanceOver(cb)))))
    },
    // jaccard corpus below the gate (cached), and with the cache gate forced above: the lazy
    // query's uncached plan and the eager route's memoized bucketed table
    "jaccard" -> { (s, d, _) =>
      val off = Map(SizeGate.ForceAboveKey -> SizeGate.CorpusCache.name)
      val auto = () => TextOps.jaccardPairsAuto(s, d)
      Seq(Group("jaccard.pairs", Seq(Arm("cached", () => TextOps.jaccardPairs(s, d)._1),
          Arm("uncached", () => TextOps.jaccardPairs(s, d)._1, off),
          Arm("bucketed", () => auto()._1, off))),
        Group("jaccard.clusters", Seq(Arm("cached", () => CorpusOps.dupClustersFrom(auto())),
          Arm("bucketed", () => CorpusOps.dupClustersFrom(auto()), off))))
    },
    // plain vs salted shuffle join on the half-hot-key fixture (×10), AQE skew join off
    // but in the reference arm; the sha2 work runs on the reducer owning the hot key
    "skew" -> { (s, d, _) =>
      val (fact, dim) = ScaleOps.skewedFixture(s, d, amplify = 10)
      val perSalt = math.max(1L, fact.count() / Salts)
      def work(j: DataFrame) = j.groupBy("k").agg(sum(length(sha2(repeat(concat_ws(",",
        col("k"), col("l_extendedprice"), col("payload")), 8), 256))).as("h"))
      val off = noBroadcast + ("spark.sql.adaptive.skewJoin.enabled" -> "false")
      Seq(Group("skew", Seq(Arm("plain_smj", () => work(fact.join(dim, Seq("k"))), off),
        Arm("salted", () => work(ScaleOps.saltedJoin(fact, dim, "k", Salts)), off),
        Arm("adaptive_salted", () => work(ScaleOps.adaptiveSaltedJoin(fact, dim, "k",
          sampleFraction = 0.01, rowsPerSalt = perSalt, maxSalts = Salts)), off),
        Arm("plain_aqe_skew", () => work(fact.join(dim, Seq("k"))), noBroadcast))))
    },
    // bloom-pruned vs plain shuffle join to the ~4% expensive-order band; Spark's own
    // runtime bloom filter is off except in the reference arm
    "bloom" -> { (s, d, _) =>
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_extendedprice")
      def dim = Tables.orders(s, d).filter(col("o_totalprice") > 480000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val expected = math.max(10000L, Tables.orders(s, d).count() / 20)
      val plain = () => li.join(dim, col("l_orderkey") === col("o_orderkey"))
      val rf = "spark.sql.optimizer.runtime.bloomFilter.enabled"
      Seq(Group("bloom", Seq(Arm("plain_smj", plain, noBroadcast + (rf -> "false")),
        Arm("bloom_pruned", () => BloomOps.bloomPrunedJoin(li, dim, "l_orderkey", "o_orderkey",
          expectedItems = expected, fpp = 0.01), noBroadcast + (rf -> "false")),
        Arm("builtin_runtime_filter", plain, noBroadcast + (rf -> "true")))))
    },
    // weighted trace (≤ n² rows a hop) vs the pre-r9 row-per-path shape (n^h rows at
    // hop h) on complete digraphs: n=120 to hop 4; n=300 to hop 6 weighted only
    "trace_hub" -> { (s, _, _) =>
      def rowPerPath(edges: DataFrame, hops: Int): DataFrame = (2 to hops)
        .scanLeft(edges.filter(col("src") === 0L).withColumn("hop", lit(1)))((f, h) =>
          f.select(col("dst").as("prev")).join(edges, col("prev") === col("src"))
            .select(col("src"), col("dst")).withColumn("hop", lit(h)))
        .reduce(_ unionByName _).groupBy("hop", "src", "dst").agg(count(lit(1)).as("paths"))
      def complete(n: Int) = s.range(n.toLong * n)
        .select((col("id") / n).cast("long").as("src"), (col("id") % n).as("dst"))
        .repartition(s.sparkContext.defaultParallelism).localCheckpoint(true)
      val (small, big) = (complete(120), complete(300))
      Seq(Group("trace_hub.n120_hop4", Seq(Arm("weighted", () => TraceOps.hops(small, 0L, 4)),
          Arm("row_per_path", () => rowPerPath(small, 4)))),
        Group("trace_hub.n300_hop6", Seq(Arm("weighted", () => TraceOps.hops(big, 0L, 6)))))
    },
    // LSH codegen cliff: fused bucket kernel vs 120 inlined dot products, same probe
    "lsh_kernel" -> { (s, d, _) =>
      def arm(bucketsOf: Column => Column): DataFrame = {
        val e = Tables.embeddings(s, d).select(col("vec_id"),
          bucketsOf(transform(col("embedding"), _.cast("double"))).as("tb"))
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), posexplode(col("tb")).as(Seq("t", "b")))
        e.select(col("vec_id"), posexplode(col("tb")).as(Seq("t", "b")))
          .join(broadcast(qs), Seq("t", "b")).filter(col("vec_id") =!= col("query_id"))
      }
      Seq(Group("lsh_kernel", Seq(Arm("fused_kernel", () => arm(VectorOps.lshTableBuckets(_))),
        Arm("compositional", () => arm(VectorOps.lshTableBucketsCompositional(_))))))
    })

  def main(args: Array[String]): Unit = {
    val usage = "usage: Measure bench <query…> | ab <experiment> [query…] | plan [--final] " +
      s"[--out DIR SUFFIX] <query…>; experiments: ${experiments.keys.toSeq.sorted.mkString(" ")}"
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus, sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args.toList match {
      case "bench" :: names if names.nonEmpty => bench(spark, d, names).foreach(println)
      case "ab" :: exp :: names if experiments.contains(exp) =>
        val t0 = System.nanoTime()
        val groups = experiments(exp)(spark, d, names)
        val setupS = (System.nanoTime() - t0) / 1e9
        groups.foreach(g => println(compare(spark, g, setupS)))
      case "plan" :: rest =>
        val drain = rest.headOption.contains("--final")
        val (out, names) = rest.drop(if (drain) 1 else 0) match {
          case "--out" :: dir :: suffix :: t => (Some(dir -> suffix), t)
          case t => (None, t)
        }
        require(names.nonEmpty, usage)
        plan(spark, d, names, drain, out).foreach(println)
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.stop()
  }
}
