package graft.ingest

import graft.{Fixtures, SparkSpec}
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
    val blocks = Tsv.readRouted(spark, dir.toString + "/*.tsv*", "blocks",
      BlockchairSchemas.blocks)
    assert(blocks.count() == 3)
    val tx = Tsv.readRouted(spark, dir.toString + "/*.tsv*", "transactions",
      BlockchairSchemas.transactions)
    assert(tx.count() == 4)
  }

  test("S3 file-level: a bad file is skipped, good files load") {
    val bad = dir.resolve("broken_blocks_20250820.tsv")
    Files.writeString(bad, "totally\tbroken\nno\tschema\n")
    // relative baseline: other suites share this session and may have
    // their own live caches
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (df, skipped, release) = Tsv.readSkippingBadFiles(spark,
      Seq(bad.toString,
        dir.resolve("blockchair_bitcoin_blocks_20250820.tsv.gz").toString),
      BlockchairSchemas.blocks)
    assert(skipped == Seq(bad.toString))
    assert(df.count() == 3)
    // single-pass contract: downstream consumption reads the cached
    // parse, not a second file scan
    assert(df.queryExecution.optimizedPlan.toString
      .contains("InMemoryRelation"))
    // the release callback drops the per-file caches (unpersisting the
    // union cannot reach them)
    release()
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(cachedBefore),
      "release() must drop the per-file caches")
    Files.delete(bad)
  }

  test("S3 file-level: a file malformed mid-way is also skipped") {
    val bad = dir.resolve("midbad_blocks_20250820.tsv")
    Files.writeString(bad,
      Fixtures.blocksHeader + "\n" +
        Fixtures.blocksRows.head + "\n" +
        "garbage\trow\n")
    val (df, skipped, release) = Tsv.readSkippingBadFiles(spark,
      Seq(bad.toString,
        dir.resolve("blockchair_bitcoin_blocks_20250820.tsv.gz").toString),
      BlockchairSchemas.blocks)
    assert(skipped == Seq(bad.toString))
    assert(df.count() == 3)
    release()
    Files.delete(bad)
  }

  test("S3 file-level: only corrupt files are skipped — a missing path " +
    "rethrows instead of silently dropping out of the union") {
    val good = dir.resolve("blockchair_bitcoin_blocks_20250820.tsv.gz")
    val missing = dir.resolve("nosuch_blocks_20250820.tsv.gz").toString
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      Tsv.readSkippingBadFiles(spark, Seq(good.toString, missing),
        BlockchairSchemas.blocks)
    }
    assert(e.getMessage.contains("nosuch_blocks"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(cachedBefore), "a rethrow must release the caches taken")
    // a truncated gzip is a whole-file read error, positively corrupt:
    // still skipped
    val truncated = dir.resolve("trunc_blocks_20250820.tsv.gz")
    val bytes = Files.readAllBytes(good)
    Files.write(truncated, bytes.take(bytes.length / 2))
    val (df, skipped, release) = Tsv.readSkippingBadFiles(spark,
      Seq(good.toString, truncated.toString), BlockchairSchemas.blocks)
    try {
      assert(skipped == Seq(truncated.toString))
      assert(df.count() == 3)
    } finally release()
    Files.delete(truncated)
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
}
