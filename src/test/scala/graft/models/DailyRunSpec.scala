package graft.models

import graft.{Fixtures, SparkSpec}
import graft.ingest.{Fetch, FetchConfig}
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.time.LocalDate
import java.util.zip.GZIPOutputStream

/** M1+S4+S5 — the daily outer loop, fully offline: fixture TSVs served
  * through the injected transport, landed to parquet, raw dirs swept. */
class DailyRunSpec extends SparkSpec {

  private val types = Seq("blocks", "transactions", "inputs", "outputs")

  private def gz(content: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(content.getBytes("UTF-8")); g.close()
    bos.toByteArray
  }

  private def fixtureBody(t: String): String = t match {
    case "blocks" =>
      (Fixtures.blocksHeader +: Fixtures.blocksRows).mkString("\n") + "\n"
    case "transactions" =>
      (Fixtures.txHeader +: Fixtures.txRows).mkString("\n") + "\n"
    case "inputs" =>
      (Fixtures.inputsHeader +: Fixtures.inputsRows).mkString("\n") + "\n"
    case "outputs" =>
      (Fixtures.outputsHeader +: Fixtures.outputsRows).mkString("\n") + "\n"
  }

  test("dailyRun: fetch → land → sweep, idempotent on rerun") {
    val dest = Files.createTempDirectory("graft-dailyrun-raw")
    val parquet = Files.createTempDirectory("graft-dailyrun-pq").toString
    val cfg = FetchConfig.DownloadConfig(
      baseUrl = "http://stub/dumps", apiKey = None, dataTypes = types,
      fileFormat = "tsv.gz", destinationDir = dest, retentionDays = 3)
    val date = LocalDate.of(2025, 8, 20)

    // a stale raw file that the sweep must remove
    val staleDir = dest.resolve("blocks")
    Files.createDirectories(staleDir)
    val stale = staleDir.resolve("blockchair_bitcoin_blocks_20250101.tsv.gz")
    Files.write(stale, gz(fixtureBody("blocks")))

    val open: String => java.io.InputStream = { url =>
      val t = types.find(url.contains)
        .getOrElse(throw Fetch.HttpStatusError(url, 404))
      new java.io.ByteArrayInputStream(gz(fixtureBody(t)))
    }

    val report = Pipeline.dailyRun(spark, cfg, "bitcoin", date, parquet,
      open = open, sleep = _ => ())
    assert(report.fetched.values.forall(_ == Fetch.Downloaded))
    assert(report.landedRows.keySet == types.toSet)
    assert(report.landedRows("blocks") == Fixtures.blocksRows.size)
    assert(report.landedRows("inputs") == Fixtures.inputsRows.size)
    assert(report.swept.map(_.getFileName.toString) ==
      Seq("blockchair_bitcoin_blocks_20250101.tsv.gz"))

    // landed partition is date-addressed
    val blocks = spark.read.parquet(s"$parquet/blocks")
    import org.apache.spark.sql.functions.col
    assert(blocks.where(col("load_date") === "20250820").count() ==
      Fixtures.blocksRows.size)

    // rerun: fetch skips (files exist), landing overwrites the partition
    // instead of appending — row counts converge
    val rerun = Pipeline.dailyRun(spark, cfg, "bitcoin", date, parquet,
      open = _ => fail("transport must not be hit on rerun"),
      sleep = _ => ())
    assert(rerun.fetched.values.forall(_ == Fetch.SkippedExisting))
    assert(rerun.landedRows("blocks") == Fixtures.blocksRows.size)
    assert(spark.read.parquet(s"$parquet/blocks")
      .where(col("load_date") === "20250820").count() ==
      Fixtures.blocksRows.size)
  }

  test("dailyRun backfill lands THE date's file, not the newest one") {
    val dest = Files.createTempDirectory("graft-dailyrun-raw3")
    val parquet = Files.createTempDirectory("graft-dailyrun-pq3").toString
    val cfg = FetchConfig.DownloadConfig(
      baseUrl = "http://stub/dumps", apiKey = None,
      dataTypes = Seq("blocks"), fileFormat = "tsv.gz",
      destinationDir = dest, retentionDays = 30)
    val blocksDir = dest.resolve("blocks")
    Files.createDirectories(blocksDir)
    // the backfill date's file (3 rows) AND a newer day's file (1 row)
    Files.write(blocksDir.resolve(
      "blockchair_bitcoin_blocks_20250820.tsv.gz"), gz(fixtureBody("blocks")))
    Files.write(blocksDir.resolve(
      "blockchair_bitcoin_blocks_20250821.tsv.gz"),
      gz((Fixtures.blocksHeader +: Fixtures.blocksRows.take(1))
        .mkString("\n") + "\n"))
    val report = Pipeline.dailyRun(spark, cfg, "bitcoin",
      LocalDate.of(2025, 8, 20), parquet,
      open = _ => fail("skip-existing: no fetch expected"),
      sleep = _ => ())
    // 3 rows = the 0820 file; 1 row would mean the newer file leaked in
    assert(report.landedRows("blocks") == Fixtures.blocksRows.size)
  }

  test("dailyRun skips a corrupt download whole (ON_ERROR=skip_file)") {
    val dest = Files.createTempDirectory("graft-dailyrun-raw4")
    val parquet = Files.createTempDirectory("graft-dailyrun-pq4").toString
    val cfg = FetchConfig.DownloadConfig(
      baseUrl = "http://stub/dumps", apiKey = None,
      dataTypes = Seq("blocks", "transactions", "inputs"),
      fileFormat = "tsv.gz", destinationDir = dest, retentionDays = 3)
    // transactions: a malformed row after the good ones; inputs: a
    // truncated gzip, a whole-file read error rather than a bad row
    val open: String => java.io.InputStream = { url =>
      val t = cfg.dataTypes.find(url.contains).get
      val bytes = t match {
        case "transactions" => gz(fixtureBody(t) + "garbage\trow\n")
        case "inputs" =>
          val whole = gz(fixtureBody(t))
          whole.take(whole.length / 2)
        case _ => gz(fixtureBody(t))
      }
      new java.io.ByteArrayInputStream(bytes)
    }
    // relative baseline: other suites share this session and may hold
    // their own caches
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def noCacheLeft(run: String) =
      assert(spark.sparkContext.getPersistentRDDs.keySet
        .subsetOf(cachedBefore), s"$run left the probe's parse cached")
    val report = Pipeline.dailyRun(spark, cfg, "bitcoin",
      LocalDate.of(2025, 8, 20), parquet, open = open, sleep = _ => ())
    assert(report.skippedCorrupt == Seq("inputs", "transactions"))
    assert(report.landedRows.keySet == Set("blocks"))
    noCacheLeft("a quarantined run")
    // nothing of a rejected dump lands, and its bytes are quarantined,
    // not left at the contract name
    for (t <- Seq("transactions", "inputs")) {
      assert(!Files.exists(java.nio.file.Paths.get(parquet, t)))
      val contractName = s"blockchair_bitcoin_${t}_20250820.tsv.gz"
      assert(!Files.exists(dest.resolve(t).resolve(contractName)))
      assert(Files.exists(dest.resolve(t).resolve(contractName + ".corrupt")))
    }
    // heal path: upstream republishes clean dumps; the rerun re-fetches
    // (skip-existing no longer blocks) and lands them
    val healed = Pipeline.dailyRun(spark, cfg, "bitcoin",
      LocalDate.of(2025, 8, 20), parquet,
      open = { url =>
        val t = cfg.dataTypes.find(url.contains).get
        new java.io.ByteArrayInputStream(gz(fixtureBody(t)))
      },
      sleep = _ => ())
    assert(healed.skippedCorrupt.isEmpty)
    assert(healed.landedRows("transactions") == Fixtures.txRows.size)
    assert(healed.landedRows("inputs") == Fixtures.inputsRows.size)
    noCacheLeft("a landed run")
  }

  test("dailyRun rethrows a non-corruption failure and quarantines nothing") {
    val dest = Files.createTempDirectory("graft-dailyrun-raw5")
    val parquet = Files.createTempDirectory("graft-dailyrun-pq5")
    val cfg = FetchConfig.DownloadConfig(
      baseUrl = "http://stub/dumps", apiKey = None,
      dataTypes = Seq("blocks"), fileFormat = "tsv.gz",
      destinationDir = dest, retentionDays = 3)
    // the landing target is a plain file: the write fails on a good dump
    Files.writeString(parquet.resolve("blocks"), "not a directory")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Pipeline.dailyRun(spark, cfg, "bitcoin", LocalDate.of(2025, 8, 20),
        parquet.toString,
        open = _ => new java.io.ByteArrayInputStream(
          gz(fixtureBody("blocks"))),
        sleep = _ => ())
    }
    assert(Files.exists(dest.resolve("blocks")
      .resolve("blockchair_bitcoin_blocks_20250820.tsv.gz")))
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(cachedBefore), "a rethrow must release the parse cache")
  }

  test("dailyRun: a failed landing is rethrown after the other dumps " +
    "land whole") {
    val dest = Files.createTempDirectory("graft-dailyrun-raw6")
    val parquet = Files.createTempDirectory("graft-dailyrun-pq6")
    // the failing type comes first, so a run that stopped at the first
    // failure would land nothing of the other two
    val cfg = FetchConfig.DownloadConfig(
      baseUrl = "http://stub/dumps", apiKey = None,
      dataTypes = Seq("inputs", "blocks", "transactions"),
      fileFormat = "tsv.gz", destinationDir = dest, retentionDays = 3)
    Files.writeString(parquet.resolve("inputs"), "not a directory")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Pipeline.dailyRun(spark, cfg, "bitcoin", LocalDate.of(2025, 8, 20),
        parquet.toString,
        open = { url =>
          val t = cfg.dataTypes.find(url.contains).get
          new java.io.ByteArrayInputStream(gz(fixtureBody(t)))
        },
        sleep = _ => ())
    }
    import org.apache.spark.sql.functions.col
    for ((t, rows) <- Seq("blocks" -> Fixtures.blocksRows.size,
        "transactions" -> Fixtures.txRows.size))
      assert(spark.read.parquet(parquet.resolve(t).toString)
        .where(col("load_date") === "20250820").count() == rows,
        s"$t did not land whole")
    assert(Files.exists(dest.resolve("inputs")
      .resolve("blockchair_bitcoin_inputs_20250820.tsv.gz")),
      "a failed landing must not quarantine its dump")
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(cachedBefore), "a failed run left a parse cached")
  }

  test("dailyRun: one failed type is reported, others land") {
    val dest = Files.createTempDirectory("graft-dailyrun-raw2")
    val parquet = Files.createTempDirectory("graft-dailyrun-pq2").toString
    val cfg = FetchConfig.DownloadConfig(
      baseUrl = "http://stub/dumps", apiKey = None, dataTypes = types,
      fileFormat = "tsv.gz", destinationDir = dest, retentionDays = 3)
    val open: String => java.io.InputStream = { url =>
      if (url.contains("outputs")) throw Fetch.HttpStatusError(url, 404)
      val t = types.find(url.contains).get
      new java.io.ByteArrayInputStream(gz(fixtureBody(t)))
    }
    val report = Pipeline.dailyRun(spark, cfg, "bitcoin",
      LocalDate.of(2025, 8, 20), parquet, open = open, sleep = _ => ())
    assert(report.fetched("outputs") == Fetch.Failed(404))
    assert(report.landedRows.keySet == Set("blocks", "transactions",
      "inputs"))
    // M7 preflight is the gate that decides a partial day cannot build:
    // on dailyRun's own per-type layout it must name exactly the failed
    // type (outputs never landed; addresses is not in this cfg's types)
    Pipeline.preflight(dest) match {
      case Left(msg) =>
        assert(msg.contains("outputs"), msg)
        assert(!msg.contains("blocks") && !msg.contains("transactions") &&
          !msg.contains("inputs"), s"landed types reported missing: $msg")
      case Right(_) => fail("preflight passed with a failed type")
    }
    assert(Pipeline.preflight(dest.resolve("outputs")).isLeft)
  }
}
