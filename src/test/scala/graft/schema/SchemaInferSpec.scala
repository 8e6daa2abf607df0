package graft.schema

import graft.{Fixtures, SparkSpec}
import graft.ingest.Tsv
import graft.schema.SchemaMerge._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

class SchemaInferSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-infer")

  private def writeGz(name: String, header: String,
      rows: Seq[String]): String = {
    val p = dir.resolve(name)
    val out = new GZIPOutputStream(Files.newOutputStream(p))
    try out.write((header +: rows).mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
    p.toString
  }

  private def raw(path: String) = Tsv.readRaw(spark, path)

  /** Adversarial table (320 rows, a few KB): every date format, columns
    * whose only refuting value sits late in the file, nulls throughout the
    * leading rows, and a refuting value just past row 280. */
  private lazy val adversarial: String = {
    val header = Seq("d_iso", "d_slash", "d_dmy", "ts_sec", "ts_micro",
      "ts_then_date", "flag", "flag_odd", "empty", "late", "padded", "expo",
      "long_overflow", "int_late_fail", "int_late_float", "beyond_limit")
      .mkString("\t")
    val rows = (0 until 320).map { i =>
      val day = 1 + i % 28
      Seq(
        f"2025-08-$day%02d",
        f"2025/08/$day%02d",
        f"$day%02d-08-2025",
        f"2025-08-20 ${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d",
        f"2025-08-20 01:02:03.${i * 3119 % 1000000}%06d",
        if (i < 300) f"2025-08-$day%02d 10:00:00" else f"2025-08-$day%02d",
        if (i % 3 == 0) "True" else "False",
        if (i == 100) "maybe" else if (i % 2 == 0) "True" else "False",
        "",
        if (i < 260) "" else (i * 11).toString,
        s" ${i - 40} ",
        s"${i + 1}.5e3",
        if (i == 7) "12345678901234567890" else i.toString,
        if (i == 300) "7x" else (i * 13).toString,
        if (i == 299) "1.25" else i.toString,
        if (i == 290) "oops" else i.toString).mkString("\t")
    }
    writeGz("adversarial.tsv.gz", header, rows)
  }

  private def assertMatchesReference(path: String, sampleRows: Int): Schema = {
    val got = SchemaInfer.infer(raw(path), sampleRows)
    val want = SchemaInferReference.infer(raw(path), sampleRows)
    assert(got == want, s"$path (sampleRows=$sampleRows)")
    got
  }

  test("matches the all-probe reference on the fixture dumps") {
    val files = Fixtures.writeAll(dir.resolve("fixtures"))
    assert(files.size == 5)
    for (p <- files.values) assertMatchesReference(p.toString, 1000000)
  }

  test("matches the all-probe reference on an adversarial table") {
    val full = assertMatchesReference(adversarial, 1000000).map(c =>
      c.name -> c.typ).toMap
    assert(Seq("D_ISO", "D_SLASH", "D_DMY").map(full) == Seq.fill(3)(SfDate))
    assert(full("TS_SEC") == SfTimestamp && full("TS_MICRO") == SfTimestamp)
    assert(full("TS_THEN_DATE").isInstanceOf[SfVarchar])
    assert(full("FLAG") == SfBoolean)
    assert(full("FLAG_ODD") == SfVarchar(16))
    assert(full("EMPTY") == SfVarchar(defaultStringLength))
    assert(full("LATE") == SfInteger && full("PADDED") == SfInteger)
    assert(full("EXPO") == SfFloat && full("LONG_OVERFLOW") == SfFloat)
    assert(full("INT_LATE_FAIL") == SfVarchar(16))
    assert(full("INT_LATE_FLOAT") == SfFloat)
    assert(full("BEYOND_LIMIT") == SfVarchar(16))
    // the sample stops before row 290's "oops": it must not count
    val limited = assertMatchesReference(adversarial, 280).map(c =>
      c.name -> c.typ).toMap
    assert(limited("BEYOND_LIMIT") == SfInteger)
    // a sample shorter than the rows before LATE's first value
    assertMatchesReference(adversarial, 100)
  }

  test("a header name holding '.' is one column, not a nested field") {
    val path = writeGz("dotted.tsv.gz", "id\tfee.usd",
      Seq("1\t0.25", "2\t3.5", "3\t"))
    assert(SchemaInfer.infer(raw(path)) ==
      Seq(ColumnSpec("ID", SfInteger), ColumnSpec("FEE_USD", SfFloat)))
  }

  test("one job after the header read, and no shuffle") {
    val df = raw(adversarial) // the header read runs here, at construction
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SchemaInfer.infer(df)
      // The listener bus is async and FIFO: once the sentinel job's start
      // event arrived, every event of the inference has too.
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 2 && System.nanoTime() < deadline)
        Thread.sleep(10)
      var last = -1
      while (jobs.get() != last && System.nanoTime() < deadline) {
        last = jobs.get()
        Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 2, s"inference ran ${jobs.get() - 1} jobs")
    assert(shuffleBytes.get() == 0L)
  }

  test("a two-file dump reads an even share of the sample from each file") {
    val path = Files.createDirectories(dir.resolve("two-files")).toString
    // 40 integers per file; row 25 of each (the first row past a 50-row
    // sample's 25-row share) refutes the integer type
    val rows = (0 until 40).map(i => if (i == 25) "x" else i.toString)
    for (f <- Seq("a", "b")) writeGz(s"two-files/$f.tsv.gz", "n", rows)
    assert(raw(path).queryExecution.toRdd.getNumPartitions == 2)
    assert(assertMatchesReference(path, 1000000) ==
      Seq(ColumnSpec("N", SfVarchar(16))))
    assert(SchemaInfer.infer(raw(path), 50) == Seq(ColumnSpec("N", SfInteger)))
    assert(SchemaInfer.infer(raw(path), 51) ==
      Seq(ColumnSpec("N", SfVarchar(16))))
  }
}
