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
  * outside its own definition line. An appearance counts as a use only
  * when it is not itself a declaration (`def`, `val` or `var` name) and
  * is not qualified by a capitalized identifier other than the def's
  * owner, the nearest `object` above it in its file: `LocalDate.parse`
  * is no call of `FetchConfig.parse`. Unqualified and lower-case
  * qualified uses count for every def of that name, so this catches
  * orphans, not every dead overload. */
class CallerAuditSpec extends AnyFunSuite {

  /** (file under the graft source root, def name) → why it stays
    * without a production caller. Keep this list short. */
  private val allowed = Map(
    ("serve/Dashboard.scala", "retry") ->
      "the reference's M5 query retry; goes on the served path (ROADMAP 6)",
    ("serve/Dashboard.scala", "isValidAddress") ->
      "the reference's F7 check on outside input",
    ("ingest/FetchConfig.scala", "parse") ->
      "the reference's M7 validated config for outside input",
  )

  private val root = "src/main/scala/graft/"
  private val Def = """\bdef\s+([A-Za-z_][\w$]*)""".r
  private val NotPublic = """\b(private|override)\b""".r
  private val Object = """(?<!case )\bobject\s+([A-Za-z_][\w$]*)""".r
  private val Word = """[A-Za-z_$][\w$]*""".r
  private val Declared = """\b(def|val|var)\s+$""".r
  private val Qualifier = """([A-Za-z_][\w$]*)\s*\.\s*$""".r

  /** One appearance of a name: where, and the identifier before its dot. */
  private final case class Use(path: String, line: Int, qualifier: Option[String])

  test("every public def in src/main has a caller in src/main or " +
    "perfbench/src, or an allowlist entry with its reason") {
    val main = SourceAudit.codeLines(root)
    val defs = for {
      (path, lines) <- main
      owners = lines.scanLeft(Option.empty[String]) { (owner, line) =>
        Object.findAllMatchIn(line).map(_.group(1)).toSeq.lastOption
          .orElse(owner)
      }.tail
      (line, i) <- lines.zipWithIndex
      m <- Def.findAllMatchIn(line)
      if m.group(1) != "main" && NotPublic.findFirstIn(line.take(m.start)).isEmpty
    } yield (path, i, m.group(1), owners(i))
    val names = defs.map(_._3).toSet
    val uses = (for {
      (path, lines) <- main ++ SourceAudit.codeLines("perfbench/src")
      (line, i) <- lines.zipWithIndex
      w <- Word.findAllMatchIn(line)
      if names(w.matched)
      before = line.take(w.start)
      if Declared.findFirstIn(before).isEmpty
    } yield w.matched -> Use(path, i,
      Qualifier.findFirstMatchIn(before).map(_.group(1)))).groupMap(_._1)(_._2)
    val uncalled = (for {
      (path, i, name, owner) <- defs
      if !uses.getOrElse(name, Nil).exists(u =>
        (u.path != path || u.line != i) &&
          u.qualifier.forall(q => !q.head.isUpper || owner.contains(q)))
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
