package graft.schema

import graft.{Fixtures, SparkSpec}
import graft.ingest.Tsv
import graft.schema.SchemaMerge._
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
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
    * whose only refuting value sits past the witness prefix, nulls
    * throughout the prefix, and a refuting value just past row 280. */
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
    // a sample shorter than the witness prefix
    assertMatchesReference(adversarial, 100)
  }

  test("a header name holding '.' is one column, not a nested field") {
    val path = writeGz("dotted.tsv.gz", "id\tfee.usd",
      Seq("1\t0.25", "2\t3.5", "3\t"))
    assert(SchemaInfer.infer(raw(path)) ==
      Seq(ColumnSpec("ID", SfInteger), ColumnSpec("FEE_USD", SfFloat)))
  }

  test("probes the witnesses refute never reach the counting query") {
    val path = writeGz("guard.tsv.gz", "guard_hex_a\tguard_hex_b\tguard_num",
      (0 until 40).map(i => f"ab$i%04x\tf${i * 977}%06x\t${i * 3}"))
    val aggregates = new java.util.concurrent.ConcurrentLinkedQueue[Aggregate]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.optimizedPlan.foreach {
          case a: Aggregate if a.references.exists(_.name == "guard_num") =>
            aggregates.add(a)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val inferred = try {
      val s = SchemaInfer.infer(raw(path))
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (aggregates.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      s
    } finally spark.listenerManager.unregister(listener)
    assert(inferred.map(_.typ) ==
      Seq(SfVarchar(16), SfVarchar(16), SfInteger))
    assert(aggregates.size == 1, "expected one counting query")
    val agg = aggregates.peek()
    def probesOn(column: String): Seq[Expression] =
      agg.aggregateExpressions.flatMap(_.collect {
        case e @ (_: Cast) if e.references.exists(_.name == column) => e
        case e if e.nodeName.toLowerCase.contains("timestamp") &&
          e.references.exists(_.name == column) => e
      })
    for (c <- Seq("guard_hex_a", "guard_hex_b"))
      assert(probesOn(c).isEmpty, s"$c still probed in:\n$agg")
    // the numeric column's witnesses parse as BIGINT and DOUBLE, so those
    // two probes are still counted, and no date format is
    assert(probesOn("guard_num").size == 2, s"guard_num probes in:\n$agg")
  }
}
