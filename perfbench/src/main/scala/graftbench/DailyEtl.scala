package graftbench

import java.io.{FilterInputStream, InputStream}
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter.BASIC_ISO_DATE
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ingest.{FetchConfig, Tsv}
import graft.models.{Models, Pipeline}
import graft.quality.Checks
import graft.schema.{BlockchairSchemas, SchemaPipeline}

/** The daily batch: generated days of blockchair dumps go, one day at a
  * time, through schema gate → fetch + land → model DAG → staging checks.
  *
  * Per day (all public program calls):
  *  - schema:  `SchemaPipeline.run` per table (five tables);
  *  - ingest:  `Pipeline.dailyRun` with a local-file `open` and a no-op
  *             `sleep` (blocks, transactions, inputs, outputs), then the
  *             addresses snapshot, which `FetchConfig` does not fetch,
  *             with `Tsv.read` + `Tsv.landToParquetIdempotent`;
  *  - models:  `Pipeline.build` over the day's landed partitions; day 1
  *             `writeBuild` + `writeBuildIncremental(None)` +
  *             `Models.balanceState`; later days
  *             `writeBuildIncremental(Some(day))` + `Models.foldBalancesDay`
  *             (history appended, state advanced) + the two dims rebuilt
  *             (`dimBlocks` over all landed blocks, `dimAddresses` over the
  *             history joined to the day's snapshot);
  *  - quality: `Checks.runAll(Checks.stagingSuite(...))`.
  *
  * One cycle is all generated days into fresh directories. */
object DailyEtl {
  val Types = Seq("blocks", "transactions", "inputs", "outputs")
  val Marts = Seq("int_transaction_flows", "int_address_balances_with_history",
    "fct_transaction_traces", "dim_addresses", "dim_blocks")
  val Start: LocalDate = LocalDate.of(2025, 8, 20)

  /** Bytes and seconds spent inside the injected fetch stream. */
  final class FetchMeter {
    var bytes = 0L
    var nanos = 0L
    def open(dumps: String)(url: String): InputStream = {
      val t = System.nanoTime()
      val in = Files.newInputStream(Paths.get(dumps, url.split('/').last))
      nanos += System.nanoTime() - t
      new FilterInputStream(in) {
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          val t0 = System.nanoTime()
          val n = super.read(b, off, len)
          nanos += System.nanoTime() - t0
          if (n > 0) bytes += n
          n
        }
      }
    }
  }

  final case class DayRun(day: Int, wallS: Double)

  final class Cycle(val dir: String, val dumps: String) {
    val raw = s"$dir/raw"
    val full = s"$dir/full"
    val inc = s"$dir/inc"
    val state = s"$dir/state"
    val schema: Path = Paths.get(dir, "schema")
    val cfg = FetchConfig.DownloadConfig("https://gz.blockchair.com", None,
      Types, "tsv.gz", Paths.get(dir, "landing"), 30)
    def tok(day: Int): String = Start.plusDays(day.toLong).format(BASIC_ISO_DATE)
    def dumpFile(t: String, day: Int): String =
      s"$dumps/${Tsv.dailyFileName("bitcoin", t, Start.plusDays(day.toLong))}"
  }

  def runDay(spark: SparkSession, rec: Recorder, c: Cycle, day: Int,
      meter: FetchMeter): Unit = {
    val date = Start.plusDays(day.toLong)
    val tok = c.tok(day)
    rec.span("schema") {
      for (t <- Types :+ "addresses") {
        val r = SchemaPipeline.run(spark, c.dumpFile(t, day), t, c.schema)
        require(!r.isInstanceOf[SchemaPipeline.Kept],
          s"schema gate kept the old $t schema: $r")
      }
    }
    rec.span("ingest") {
      val report = Pipeline.dailyRun(spark, c.cfg, "bitcoin", date, c.raw,
        open = meter.open(c.dumps), sleep = _ => ())
      require(report.skippedCorrupt.isEmpty,
        s"dailyRun skipped ${report.skippedCorrupt}")
      Tsv.landToParquetIdempotent(
        Tsv.read(spark, c.dumpFile("addresses", day),
          BlockchairSchemas.addresses).drop("_corrupt_record"),
        tok, s"${c.raw}/addresses", Seq.empty)
    }
    val bld = rec.span("models") {
      def rawDay(t: String): DataFrame =
        spark.read.parquet(s"${c.raw}/$t").where(col("load_date") === tok)
      val bld = Pipeline.build(rawDay("blocks"), rawDay("transactions"),
        rawDay("inputs"), rawDay("outputs"), rawDay("addresses"))
      val hist = s"${c.full}/int_address_balances_with_history"
      if (day == 0) {
        Pipeline.writeBuild(bld, c.full)
        Pipeline.writeBuildIncremental(bld, c.inc, None)
        Models.balanceState(bld.stgInputs, bld.stgOutputs)
          .write.parquet(s"${c.state}/$tok")
      } else {
        Pipeline.writeBuildIncremental(bld, c.inc, Some(Seq(tok)))
        val (dayHist, next) = Models.foldBalancesDay(
          spark.read.parquet(s"${c.state}/${c.tok(day - 1)}"),
          bld.stgAddresses, bld.stgInputs, bld.stgOutputs)
        dayHist.write.mode("append").parquet(hist)
        next.write.parquet(s"${c.state}/$tok")
        write(Models.dimBlocks(Models.stgBlocks(
          spark.read.parquet(s"${c.raw}/blocks"))), s"${c.full}/dim_blocks",
          "block_id")
        write(Models.dimAddresses(refreshSnapshot(
          spark.read.parquet(hist), bld.stgAddresses)),
          s"${c.full}/dim_addresses", "address")
      }
      bld
    }
    rec.span("quality") {
      val failed = Checks.runAll(Checks.stagingSuite(bld.stgAddresses,
        bld.stgBlocks, bld.stgTransactions, bld.stgInputs, bld.stgOutputs))
        .filterNot(_.passed)
      require(failed.isEmpty, s"staging checks failed: $failed")
    }
  }

  /** A mart written the way `Pipeline.writeBuild` writes its dims. */
  private def write(df: DataFrame, path: String, key: String): Unit =
    df.repartition(col(key)).sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(path)

  /** The folded history carries each fold day's snapshot balance; the dim
    * takes the latest snapshot instead (the read-time join
    * `Models.foldBalancesDay` documents), anchored on the snapshot like
    * the full rebuild. */
  def refreshSnapshot(hist: DataFrame, stgAddresses: DataFrame): DataFrame =
    stgAddresses.select(col("address"),
        col("balance_sats").as("current_balance_sats"),
        col("balance_btc").as("current_balance_btc"))
      .join(hist.drop("current_balance_sats", "current_balance_btc"),
        Seq("address"), "left")

  def days(dumps: String): Int =
    Files.list(Paths.get(dumps)).toArray.count(_.toString.contains("_blocks_"))

  def runCycle(spark: SparkSession, rec: Recorder, out: Outcome, c: Cycle,
      n: Int, meter: FetchMeter, log: mutable.Buffer[DayRun]): Boolean =
    (0 until n).forall { d =>
      val t0 = System.nanoTime()
      val r = out.attempt(s"day $d")(rec.span("day", d.toLong) {
        runDay(spark, rec, c, d, meter) })
      log += DayRun(d, (System.nanoTime() - t0) / 1e9)
      r.isDefined
    }

  def run(spark: SparkSession, rec: Recorder, out: Outcome, w: Window,
      dumps: String, work: String): Unit = {
    val n = days(dumps)
    val meter = new FetchMeter
    val log = mutable.Buffer[DayRun]()
    var k = 0
    def fresh(): Cycle = {
      k += 1
      new Cycle(Paths.get(work, s"cycle$k").toString, dumps)
    }
    // No warmup: a daily batch is a fresh process each day, so day 1 (the
    // full materialization) is measured from a cold JVM, as it runs. One
    // cycle is the unit of work, so it runs whole whatever the window.
    w.setupDone()
    if (w.traced) rec.startTracing()
    val last = fresh()
    val ok = runCycle(spark, rec, out, last, n, meter, log)
    val measured = log.toSeq
    val first = measured.filter(_.day == 0).map(_.wallS)
    val later = measured.filter(_.day > 0).map(_.wallS)
    out.metrics("op_ms") = Stats.median(later) * 1e3
    out.metrics("heavy_op_ms") = Stats.median(first) * 1e3
    out.metrics("op_samples") = later.size
    out.metrics("heavy_op_samples") = first.size
    if (ok) out.attempt("checks")(check(spark, out, last, n))
    val tracedDays = measured.size.toDouble
    val cores = spark.sparkContext.defaultParallelism
    w.layerFn = rec => Layers.all(rec, "day", tracedDays, cores) ++
      dayLayers(rec, meter, tracedDays,
      out.checks.get("null_key_drops").map(_.toString.toDouble / n))
  }

  def dayLayers(rec: Recorder, meter: FetchMeter, days: Double,
      nullDropsPerDay: Option[Double]): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val schema = rec.spans.filter(_.name == "schema")
    m("schema.rows_sampled") = schema.map(rec.counters(_).inRecords).sum / days
    m("ingest.fetch_s") = meter.nanos / 1e9 / days
    m("ingest.fetch_mb") = meter.bytes / 1e6 / days
    m("ingest.rows_landed") =
      rec.spans.filter(_.name == "ingest").map(rec.counters(_).outRecords)
        .sum / days
    val models = rec.spans.filter(_.name == "models")
    val byDay = models.groupBy(_.req)
    for ((d, label) <- Seq(1L -> "day2", (byDay.size - 1L) -> "last_day");
         ss <- byDay.get(d))
      m(s"models.input_mb_$label") =
        ss.map(rec.counters(_).inBytes).sum / 1e6 / ss.size
    val writes = models.flatMap(rec.queriesOf).flatMap(_.writes)
    m("models.output_files") = writes.map(_._3).sum / days
    for (mart <- Marts)
      m(s"models.rows_out.$mart") =
        writes.filter(_._1 == mart).map(_._2).sum / days
    nullDropsPerDay.foreach(m("models.null_key_drops") = _)
    m.toMap
  }

  /** Facts of the last cycle for the ledger checks in run.py, plus the
    * equality of the day-by-day marts with a one-shot rebuild. */
  def check(spark: SparkSession, out: Outcome, c: Cycle, n: Int): Unit = {
    val landed = mutable.LinkedHashMap[String, Seq[Long]]()
    val drops = mutable.LinkedHashMap[String, Seq[Long]]()
    def rawDay(t: String, d: Int) =
      spark.read.parquet(s"${c.raw}/$t").where(col("load_date") === c.tok(d))
    val stg: Map[String, DataFrame => DataFrame] = Map(
      "blocks" -> Models.stgBlocks, "transactions" -> Models.stgTransactions,
      "inputs" -> Models.stgInputs, "outputs" -> Models.stgOutputs,
      "addresses" -> Models.stgAddresses)
    for (t <- Types :+ "addresses") {
      val perDay = spark.read.parquet(s"${c.raw}/$t").groupBy("load_date")
        .count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      val raws = (0 until n).map(d => perDay.getOrElse(c.tok(d), 0L))
      landed(t) = raws
      drops(t) = (0 until n).map(d => raws(d) - stg(t)(rawDay(t, d)).count())
    }
    out.checks("landed_rows") = landed
    out.checks("staging_drops") = drops
    out.checks("null_key_drops") = drops.values.flatten.sum
    val flows = spark.read.parquet(s"${c.inc}/int_transaction_flows")
      .groupBy("load_date").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    out.checks("flow_edges") = (0 until n).map(d => flows.getOrElse(c.tok(d), 0L))
    out.checks("state_dir") = s"${c.state}/${c.tok(n - 1)}"
    out.checks("traces_dir") = s"${c.inc}/fct_transaction_traces"

    def rawAll(t: String) = spark.read.parquet(s"${c.raw}/$t")
    val all = Pipeline.build(rawAll("blocks"), rawAll("transactions"),
      rawAll("inputs"), rawAll("outputs"), rawDay("addresses", n - 1))
    def read(p: String) = spark.read.parquet(p).drop("load_date")
    val balanceCols = Seq("address", "time", "transaction_hash",
      "value_change_sats", "running_balance_sats")
    val pairs = Seq(
      ("int_transaction_flows", all.intTransactionFlows,
        read(s"${c.inc}/int_transaction_flows")),
      ("fct_transaction_traces", all.fctTransactionTraces
        .drop("trace_sequence"),
        read(s"${c.inc}/fct_transaction_traces").drop("trace_sequence")),
      ("int_address_balances_with_history",
        all.intAddressBalances.select(balanceCols.map(col): _*),
        read(s"${c.full}/int_address_balances_with_history")
          .select(balanceCols.map(col): _*)),
      ("dim_addresses", all.dimAddresses.drop("lifetime_value_change_btc"),
        read(s"${c.full}/dim_addresses").drop("lifetime_value_change_btc")),
      ("dim_blocks", all.dimBlocks, read(s"${c.full}/dim_blocks")))
    out.checks("rebuild_differs") = pairs.collect {
      case (name, a, b) if fingerprint(a) != fingerprint(b) => name }
  }

  /** Row count and the sum of per-row 64-bit hashes: equal row multisets
    * give equal fingerprints, and a difference shows but for a 2^-64
    * chance. One aggregation, no shuffle. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
}
