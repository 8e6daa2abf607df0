package graftbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.ingest.Tsv
import graft.models.Pipeline
import graft.schema.BlockchairSchemas
import graft.serve.Dashboard
import graft.trace.Trace

/** The read side: one closed-loop client (a dashboard session waits for
  * each answer before its next interaction) issues a seeded mix of the six
  * `Dashboard` queries and `Trace.traceWithFallback`, all through one
  * `Dashboard.ResultCache` with the app's ten-minute TTL. */
object DashboardServe {

  final case class Req(kind: String, addr: String, from: Long, to: Long,
      hops: Int) {
    def key: String = s"$kind|$addr|$from|$to|$hops"
  }

  final case class Served(req: Req, ms: Double, hit: Boolean, traced: Boolean,
      rows: Int)

  val Kinds = Seq("total_transactions", "avg_fee", "balance_trend",
    "block_metrics", "richest_address", "most_active_source")

  /** Seeded request stream, issued in shuffled blocks of 40 so that
    * every seed sends the same mix: 8 repeats of an earlier key (the ~20%
    * of keys a session re-asks; 6 of a dashboard key, 2 of a trace), 8
    * traces (hops 1, 1, 1, 1, 1, 2, 2, 3; the UI default is 1) and 24
    * dashboard queries (total transactions 6,
    * average fee 6, balance trend 5, block metrics 5, and one each of the
    * two parameterless queries, which are cache hits once answered).
    * Addresses come from the generator's Zipf-ranked pool, one draw per
    * eighth of the Zipf mass in each block, so every block reaches hubs
    * and tail addresses alike. Windows cycle through fixed lengths. */
  final class Requests(seed: Long, pool: IndexedSeq[String], t0: Long,
      t1: Long) {
    private val rnd = new java.util.Random(seed)
    private val dashIssued = mutable.ArrayBuffer[Req]()
    private val traceIssued = mutable.ArrayBuffer[Req]()
    private val queue = mutable.Queue[Req]()
    private val cum = pool.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      .scanLeft(0.0)(_ + _).tail.toArray
    private val Block: Seq[String] =
      Seq.fill(6)("repeat") ++ Seq.fill(2)("repeat_trace") ++
      Seq(1, 1, 1, 1, 1, 2, 2, 3).map(h => s"trace$h") ++
      Seq.fill(6)("total_transactions") ++ Seq.fill(6)("avg_fee") ++
      Seq.fill(5)("balance_trend") ++ Seq.fill(5)("block_metrics") ++
      Seq("richest_address", "most_active_source")
    private var lenIdx = 0
    private def addresses(n: Int): Seq[String] = {
      val strata = (0 until n).map { i =>
        val u = (i + rnd.nextDouble()) / n * cum.last
        val j = java.util.Arrays.binarySearch(cum, u)
        pool(math.min(pool.size - 1, if (j >= 0) j else -j - 1))
      }
      scala.util.Random.javaRandomToRandom(rnd).shuffle(strata)
    }
    private def window(lens: Seq[Long]): (Long, Long) = {
      val len = lens(lenIdx % lens.size)
      lenIdx += 1
      val from = t0 + (rnd.nextDouble() * (t1 - t0 - len)).toLong
      (from, from + len)
    }
    private def refill(): Unit = {
      val traceAddr = addresses(8).iterator
      val trendAddr = addresses(5).iterator
      val kinds = scala.util.Random.javaRandomToRandom(rnd).shuffle(Block)
      for (k <- kinds) queue += (k match {
        case "repeat" | "repeat_trace" => Req(k, "", 0, 0, 0) // resolved when issued
        case t if t.startsWith("trace") =>
          val (f, e) = window(Seq(6 * 3600L, 24 * 3600L))
          Req("trace", traceAddr.next(), f, e, t.last.asDigit)
        case "richest_address" | "most_active_source" => Req(k, "", 0, 0, 0)
        case _ =>
          val (f, e) = window(Seq(3600L, 6 * 3600L, 24 * 3600L, 72 * 3600L))
          Req(k, if (k == "balance_trend") trendAddr.next() else "", f, e, 0)
      })
    }
    def next(): Req = {
      if (queue.isEmpty) refill()
      val q = queue.dequeue()
      val r = q.kind match {
        case "repeat" => pick(dashIssued)
        case "repeat_trace" => pick(traceIssued)
        case _ => Some(q)
      }
      r match {
        case Some(x) =>
          (if (x.kind == "trace") traceIssued else dashIssued) += x
          x
        case None => next() // nothing of that class asked yet
      }
    }
    /** Whether the last block has been sent whole. */
    def blockDone: Boolean = queue.isEmpty
    private def pick(from: mutable.ArrayBuffer[Req]): Option[Req] =
      if (from.isEmpty) None else Some(from(rnd.nextInt(from.size)))
  }

  def run(spark: SparkSession, rec: Recorder, out: Outcome, w: Window,
      dumps: String, work: String, seed: Long): Unit = {
    // setup: the marts, built once from the generated days
    def rd(t: String) = Tsv.read(spark, s"$dumps/*_${t}_*.tsv.gz",
      BlockchairSchemas.all(t))
    val lastSnapshot = Files.list(Paths.get(dumps)).iterator().asScala
      .map(_.toString).filter(_.contains("_addresses_")).toSeq.max
    val marts = s"$work/marts"
    Pipeline.writeBuild(Pipeline.build(rd("blocks"), rd("transactions"),
      rd("inputs"), rd("outputs"),
      Tsv.read(spark, lastSnapshot, BlockchairSchemas.addresses)), marts)
    val traces = spark.read.parquet(s"$marts/fct_transaction_traces")
    val balances = spark.read.parquet(
      s"$marts/int_address_balances_with_history")
    val dimAddresses = spark.read.parquet(s"$marts/dim_addresses")
    val dimBlocks = spark.read.parquet(s"$marts/dim_blocks")
    val pool = Files.readAllLines(Paths.get(dumps, "pool.txt")).asScala
      .toIndexedSeq
    val span = Files.readAllLines(Paths.get(dumps, "span.txt")).asScala
      .map(_.trim.toLong)
    val (t0, t1) = (span(0), span(1))
    out.checks("marts_dir") = marts
    var ckptBytes = 0L

    def compute(r: Req): Array[Row] = {
      val from = new Timestamp(r.from * 1000)
      val to = new Timestamp(r.to * 1000)
      r.kind match {
        case "trace" => rec.span("trace") {
          val before = if (rec.traced) rec.storedBytes() else 0L
          val rows = Trace.traceWithFallback(traces,
            Trace.TraceParams(r.addr, r.hops, from, to)).collect()
          if (rec.traced) ckptBytes += rec.storedBytes() - before
          rows
        }
        case "total_transactions" =>
          Dashboard.totalTransactions(traces, from, to).collect()
        case "avg_fee" => Dashboard.avgFee(traces, from, to).collect()
        case "balance_trend" =>
          Dashboard.balanceTrend(balances, r.addr, from, to).collect()
        case "block_metrics" =>
          Dashboard.blockMetrics(dimBlocks, from, to).collect()
        case "richest_address" =>
          Dashboard.richestAddress(dimAddresses).collect()
        case "most_active_source" =>
          Dashboard.mostActiveSource(traces).collect()
      }
    }
    val served = mutable.Buffer[Served]()
    val answers = mutable.LinkedHashMap[String, (Req, Array[Row])]()
    val cache = new Dashboard.ResultCache[String, Array[Row]](600000L)
    def serve(r: Req, id: Long): Unit = {
      val t = System.nanoTime()
      var hit = true
      val rows = out.attempt(r.kind)(rec.span("request", id) {
        rec.span("serve") {
          cache.getOrCompute(r.key) { hit = false; compute(r) }
        }
      })
      served += Served(r, (System.nanoTime() - t) / 1e6, hit, rec.traced,
        rows.map(_.length).getOrElse(0))
      rows.foreach(x => if (!answers.contains(r.key)) answers(r.key) = (r, x))
    }
    // warmup: 8 s of a differently seeded stream, bypassing the cache
    val warm = new Requests(seed ^ 0x5eed5eedL, pool, t0, t1)
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 8e9) compute(warm.next())
    w.setupDone()
    val reqs = new Requests(seed, pool, t0, t1)
    var id = 0L
    // Every run ends with a whole block, so each sends the same mix. The
    // traced run alternates traced and untraced requests, so the two see
    // the same warmup and cache state, and runs on past the window, up to
    // 90 s, until both p90s have ten samples beyond them.
    if (w.traced) rec.startTracing()
    val started = System.nanoTime()
    def short: Boolean = w.traced && System.nanoTime() - started < 90e9 && {
      val traces = served.count(_.req.kind == "trace")
      traces < 100 || served.size - traces < 100
    }
    while (w.open || !reqs.blockDone || short) {
      rec.traced = w.traced && id % 2 == 0
      serve(reqs.next(), id)
      id += 1
    }
    rec.traced = false
    val measured = served.toSeq.filter(_.traced == w.traced)
    val dash = measured.filter(_.req.kind != "trace").map(_.ms)
    val tr = measured.filter(_.req.kind == "trace").map(_.ms)
    out.metrics("op_ms") = Stats.median(dash)
    out.metrics("heavy_op_ms") = Stats.median(tr)
    out.metrics("op_samples") = dash.size
    out.metrics("heavy_op_samples") = tr.size
    if (w.traced) {
      w.untracedOpS = served.toSeq.filter(!_.traced).map(_.ms)
      w.tracedOpS = measured.map(_.ms)
    }
    out.checks("answers") = answers.values.map { case (r, rows) =>
      Map("kind" -> r.kind, "addr" -> r.addr, "from" -> r.from, "to" -> r.to,
        "hops" -> r.hops, "rows" -> rows.toSeq)
    }.toSeq
    val n = measured.size.toDouble
    val cores = spark.sparkContext.defaultParallelism
    w.layerFn = rec => {
      val m = mutable.LinkedHashMap[String, Double]()
      m ++= Layers.all(rec, "request", n, cores)
      // latency statistics use every request of the run, counters only the
      // traced ones
      val all = served.toSeq
      for (k <- Kinds)
        m(s"serve.${k}_p50_ms") =
          Stats.median(all.filter(_.req.kind == k).map(_.ms))
      val allDash = all.filter(_.req.kind != "trace").map(_.ms)
      val allTrace = all.filter(_.req.kind == "trace").map(_.ms)
      m("serve.dash_p90_ms") = Stats.p90(allDash)
      m("serve.samples") = allDash.size
      m("serve.cache_hit_ratio") = all.count(_.hit).toDouble / all.size
      val serveSpans = rec.spans.toSeq.filter(s => s.name == "serve" ||
        s.name == "trace")
      val qs = serveSpans.flatMap(rec.queriesOf)
      m("serve.plan_ms_per_req") = serveSpans.map(rec.planS).sum * 1e3 / n
      val cs = serveSpans.map(rec.counters)
      m("serve.jobs_per_req") = cs.map(_.jobs).sum / n
      m("serve.tasks_per_req") = cs.map(_.tasks).sum / n
      m("serve.files_per_req") = qs.map(_.filesRead).sum / n
      val rowsOut = measured.filterNot(_.hit).map(_.rows.toLong).sum
      m("serve.rows_read_per_row_out") =
        if (rowsOut > 0) qs.map(_.rowsRead).sum.toDouble / rowsOut else 0.0
      val misses = all.filter(s => s.req.kind == "trace" && !s.hit)
      for (h <- 1 to 3)
        m(s"trace.hop${h}_p50_ms") =
          Stats.median(misses.filter(_.req.hops == h).map(_.ms))
      m("trace.trace_p90_ms") = Stats.p90(allTrace)
      m("trace.samples") = allTrace.size
      val traceSpans = rec.spans.toSeq.filter(_.name == "trace")
      m("trace.jobs_per_req") = traceSpans.map(rec.counters(_).jobs).sum /
        math.max(1, traceSpans.size).toDouble
      m("trace.checkpoint_mb_per_req") = ckptBytes / 1e6 /
        math.max(1, traceSpans.size)
      m.toMap
    }
  }
}
