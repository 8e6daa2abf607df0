package graft.ingest

import graft.{Fixtures, SparkSpec}
import graft.models.{Models, Pipeline}
import graft.schema.{BlockchairSchemas, SchemaInfer, SchemaMerge}
import java.nio.file.Files
import java.time.LocalDate

class TsvSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-tsv")
    Fixtures.writeAll(d)
    d
  }

  test("S1: gzipped TSV reads with explicit schema (gzip transparent)") {
    val df = Tsv.read(spark, dir.resolve(
      "blockchair_bitcoin_blocks_20250820.tsv.gz").toString,
      BlockchairSchemas.blocks)
    assert(df.count() == 3)
    val row = df.filter(df("id") === 100).collect()(0)
    assert(row.getAs[Long]("input_total") == 5041234567890L) // > 2^31
    assert(row.getAs[java.sql.Timestamp]("time").toString
      .startsWith("2025-08-20 00:03:11"))
  }

  test("S3: malformed rows land in _corrupt_record, not a failure") {
    val bad = dir.resolve("bad_inputs_20250820.tsv")
    Files.writeString(bad,
      Fixtures.inputsHeader + "\n" +
        "not_a_number\tbadrow\tx\ty\tz\n" + // malformed
        Fixtures.inputsRows.head + "\n")
    // Spark disallows filtering only the corrupt-record column on a raw
    // file scan — cache first (the documented pattern).
    val df = Tsv.read(spark, bad.toString, BlockchairSchemas.inputs).cache()
    assert(df.count() == 2)
    assert(df.filter(df("_corrupt_record").isNotNull).count() == 1)
    df.unpersist()
    Files.delete(bad)
  }

  test("S2: pattern routing picks only matching files from a directory") {
    // a quarantined sibling (dailyRun's .corrupt rename) holding valid
    // blocks rows: the {.tsv,.tsv.gz} glob must not read it back
    val blocksFile = dir.resolve("blockchair_bitcoin_blocks_20250820.tsv.gz")
    val quarantined = dir.resolve(
      "blockchair_bitcoin_blocks_20250819.tsv.gz.corrupt")
    Files.copy(blocksFile, quarantined)
    try {
      val bld = Pipeline.readRaw(spark, dir.toString)
      assert(bld.stgBlocks.inputFiles.map(f =>
        java.nio.file.Paths.get(new java.net.URI(f)).getFileName.toString)
        .toSeq == Seq(blocksFile.getFileName.toString))
      assert(bld.stgBlocks.count() == Models.stgBlocks(Tsv.read(spark,
        blocksFile.toString, BlockchairSchemas.blocks)).count())
      assert(bld.stgTransactions.inputFiles.map(_.split('/').last).toSeq ==
        Seq("blockchair_bitcoin_transactions_20250820.tsv"))
    } finally Files.delete(quarantined)
  }

  /** Stages one day's dumps (type -> TSV body, gzipped) at their contract
    * names and runs [[Pipeline.dailyRun]] over them with no transport:
    * the file-level skip is dailyRun's, per fetched file. */
  private def dailyRunOver(bodies: Map[String, String]) = {
    val dest = Files.createTempDirectory("graft-tsv-skip-raw")
    val parquet = Files.createTempDirectory("graft-tsv-skip-pq").toString
    val date = LocalDate.of(2025, 8, 20)
    for ((t, body) <- bodies) {
      Files.createDirectories(dest.resolve(t))
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(
        dest.resolve(t).resolve(Tsv.dailyFileName("bitcoin", t, date))))
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val cfg = FetchConfig.DownloadConfig(
      baseUrl = "http://stub/dumps", apiKey = None,
      dataTypes = bodies.keys.toSeq.sorted, fileFormat = "tsv.gz",
      destinationDir = dest, retentionDays = 3)
    val report = Pipeline.dailyRun(spark, cfg, "bitcoin", date, parquet,
      open = _ => fail("skip-existing: no fetch expected"), sleep = _ => ())
    (report, dest, parquet)
  }

  private def body(header: String, rows: Seq[String]) =
    (header +: rows).mkString("\n") + "\n"

  test("S3 file-level: a bad file is skipped, good files load") {
    // relative baseline: other suites share this session and may have
    // their own live caches
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (report, dest, parquet) = dailyRunOver(Map(
      "blocks" -> body(Fixtures.blocksHeader, Fixtures.blocksRows),
      "transactions" -> "totally\tbroken\nno\tschema\n"))
    assert(report.skippedCorrupt == Seq("transactions"))
    assert(report.landedRows == Map("blocks" -> Fixtures.blocksRows.size))
    assert(spark.read.parquet(s"$parquet/blocks").count() ==
      Fixtures.blocksRows.size)
    assert(!Files.exists(java.nio.file.Paths.get(parquet, "transactions")))
    assert(Files.exists(dest.resolve("transactions").resolve(
      Tsv.dailyFileName("bitcoin", "transactions",
        LocalDate.of(2025, 8, 20)) + ".corrupt")))
    // the probe's cached parse is released for the good and the bad file
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(cachedBefore), "dailyRun must drop the per-file caches")
  }

  test("S3 file-level: a file malformed mid-way is also skipped") {
    // good rows first: the skip must judge the whole file, not a prefix
    val (report, _, parquet) = dailyRunOver(Map(
      "blocks" -> body(Fixtures.blocksHeader,
        Fixtures.blocksRows.take(1) :+ "garbage\trow"),
      "transactions" -> body(Fixtures.txHeader, Fixtures.txRows)))
    assert(report.skippedCorrupt == Seq("blocks"))
    assert(report.landedRows == Map("transactions" -> Fixtures.txRows.size))
    assert(!Files.exists(java.nio.file.Paths.get(parquet, "blocks")))
  }

  test("S5: retention sweep deletes only files older than the cutoff") {
    val d = Files.createTempDirectory("graft-retention")
    val oldF = d.resolve("blockchair_bitcoin_blocks_20250101.tsv.gz")
    val newF = d.resolve("blockchair_bitcoin_blocks_20250819.tsv.gz")
    val other = d.resolve("README.txt")
    Files.writeString(oldF, "x"); Files.writeString(newF, "x")
    Files.writeString(other, "keep me")
    val quarantined = d.resolve(
      "blockchair_bitcoin_blocks_20250102.tsv.gz.corrupt")
    Files.writeString(quarantined, "x")
    val deleted = Tsv.retentionSweep(d, retentionDays = 3,
      today = LocalDate.of(2025, 8, 20))
    assert(deleted.map(_.getFileName.toString).sorted ==
      Seq("blockchair_bitcoin_blocks_20250101.tsv.gz",
        "blockchair_bitcoin_blocks_20250102.tsv.gz.corrupt"))
    assert(Files.exists(newF) && Files.exists(other))
  }

  test("S4: daily URL layout matches the reference scheme") {
    assert(Tsv.dailyFileUrl("https://example.test/dumps", "bitcoin",
      "blocks", LocalDate.of(2025, 8, 19)) ==
      "https://example.test/dumps/bitcoin/blocks/blockchair_bitcoin_blocks_20250819.tsv.gz")
    // a configured API key rides as a query parameter
    assert(Tsv.dailyFileUrl("https://example.test/dumps", "bitcoin",
      "blocks", LocalDate.of(2025, 8, 19), Some("k123"))
      .endsWith("blockchair_bitcoin_blocks_20250819.tsv.gz?key=k123"))
  }

  test("schema inference classifies the blocks fixture correctly") {
    val raw = Tsv.readRaw(spark, dir.resolve(
      "blockchair_bitcoin_blocks_20250820.tsv.gz").toString)
    val inferred = SchemaInfer.infer(raw)
    val byName = inferred.map(c => c.name -> c.typ).toMap
    assert(byName("ID") == SchemaMerge.SfInteger)
    assert(byName("TIME") == SchemaMerge.SfTimestamp)
    assert(byName("INPUT_TOTAL_USD") == SchemaMerge.SfFloat)
    assert(byName("HASH") == SchemaMerge.SfVarchar(16))
    assert(byName("GUESSED_MINER") == SchemaMerge.SfVarchar(16))
  }

  test("one TSV format: the reader options are written only in Tsv.scala") {
    // every reader, batch or stream, takes Tsv.Format; a second spelling
    // of the options drifts (a stream reader without the corrupt-record
    // column lets malformed lines through as null-filled rows)
    val sites = graft.SourceAudit.calls(
      """"sep"|"columnNameOfCorruptRecord"""".r)
    assert(sites.keySet == Set("ingest/Tsv.scala"),
      s"TSV options written outside Tsv: ${sites - "ingest/Tsv.scala"}")
  }
}
