package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[Sessions.builder]], so every
  * measurement, dump and demo runs the plans the registry runs
  * (GraftExtensions installed, the same time zone and parquet settings).
  * Mains that built their own sessions measured and printed plans the
  * registry never ran: without the extensions, `ann_cosine_topk` plans
  * `WindowGroupLimit` on both sides of its exchange instead of
  * `LocalTopK` below it. */
class SessionAuditSpec extends AnyFunSuite {

  test("no SparkSession.builder() in src/main outside Sessions.scala") {
    val found = SourceAudit.calls("""SparkSession\s*\.\s*builder\s*\(""".r)
    assert(found.keySet == Set("Sessions.scala"),
      s"sessions built outside Sessions.builder: ${found - "Sessions.scala"}")
  }
}
