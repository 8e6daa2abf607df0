package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every public `def` in src/main has a production caller. Main code
  * that only ScalaTest reaches still has to be read, documented and
  * audited each round, and its specs spend the Tier-1 budget on
  * behaviour no registry query, daily-run stage or serving path runs.
  *
  * The scan is textual, like [[SourceAudit.calls]]: a `def` that is not
  * `private`, `override` or `main` must have its name appear as a whole
  * word somewhere in src/main or perfbench/src, outside comments and
  * outside its own definition line. A name shared by two defs counts for
  * both, so this catches orphans, not every dead overload. */
class CallerAuditSpec extends AnyFunSuite {

  /** (file under the graft source root, def name) → why it stays
    * without a production caller. Keep this list short. */
  private val allowed = Map(
    ("serve/Dashboard.scala", "retry") ->
      "the reference's M5 query retry; goes on the served path (ROADMAP 6)",
    ("serve/Dashboard.scala", "isValidAddress") ->
      "the reference's F7 check on outside input",
  )

  private val root = "src/main/scala/graft/"
  private val Def = """\bdef\s+([A-Za-z_][\w$]*)""".r
  private val NotPublic = """\b(private|override)\b""".r
  private val Word = """[A-Za-z_$][\w$]*""".r

  test("every public def in src/main has a caller in src/main or " +
    "perfbench/src, or an allowlist entry with its reason") {
    val main = SourceAudit.codeLines(root)
    val code = (main ++ SourceAudit.codeLines("perfbench/src")).flatMap(_._2)
    val uses = code.flatMap(Word.findAllIn(_)).groupBy(identity)
      .map { case (w, ws) => w -> ws.size }
    val uncalled = (for {
      (path, lines) <- main
      line <- lines
      m <- Def.findAllMatchIn(line)
      name = m.group(1)
      if name != "main" && NotPublic.findFirstIn(line.take(m.start)).isEmpty
      ownLine = Word.findAllIn(line).count(_ == name)
      if uses(name) == ownLine
    } yield (path.stripPrefix(root), name)).toSet
    val unlisted = uncalled -- allowed.keySet
    val stale = allowed.keySet -- uncalled
    assert(unlisted.isEmpty && stale.isEmpty,
      s"""public defs without a production caller.
         |  delete them, call them, or allowlist them with a reason:
         |    ${unlisted.toSeq.sorted.mkString("\n    ")}
         |  stale allowlist entries: $stale""".stripMargin)
  }
}
