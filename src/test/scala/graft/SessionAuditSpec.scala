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

  test("every SPARK_GRAFT_ env name is read in exactly one src/main file") {
    val Env = "\"(SPARK_GRAFT_[A-Z_]+)".r
    val files = (for {
      (path, lines) <- SourceAudit.codeLines("src/main/scala/graft")
      line <- lines
      m <- Env.findAllMatchIn(line)
    } yield m.group(1) -> path).groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    assert(files.contains("SPARK_GRAFT_CPUS"), files)
    val shared = files.filter(_._2.size > 1)
    assert(shared.isEmpty, s"env names read in more than one file: $shared")
  }
}
