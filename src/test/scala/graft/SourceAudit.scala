package graft

/** Shared source walk for the audit specs: the code lines of every
  * .scala file under a source root, with comments dropped. */
object SourceAudit {

  /** file path (as walked from the repo root) → its lines, in order, with
    * doc/comment lines blanked and trailing line comments cut. The audits
    * count CALLS, and rationale comments legitimately name the calls they
    * forbid. Line numbers are kept (blanked, not removed). */
  def codeLines(root: String): Seq[(String, IndexedSeq[String])] = {
    val dir = new java.io.File(root)
    assert(dir.isDirectory, s"source root $root not found from ${
      new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq.flatMap(files))
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(dir).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().map { line =>
        val t = line.trim
        if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
        else stripLineComment(line)
      }.toIndexedSeq finally src.close()
      f.getPath.replace('\\', '/') -> lines
    }
  }

  /** file (relative to the graft source root) → call count, files with
    * none left out. */
  def calls(call: scala.util.matching.Regex): Map[String, Int] =
    codeLines("src/main/scala/graft").map { case (path, lines) =>
      path.stripPrefix("src/main/scala/graft/") ->
        lines.map(call.findAllIn(_).length).sum
    }.filter(_._2 > 0).toMap

  /** Drop a trailing line comment, but only at a '//' OUTSIDE string
    * literals — a naive split("//") would also truncate at a URL or path
    * inside a string and silently exclude a call later on the same line
    * (ADVICE r12). Good enough for one-line scans: tracks double-quote
    * parity incl. \" escapes; multi-line strings spanning the '//' would
    * need a real lexer. */
  def stripLineComment(line: String): String = {
    var inStr = false; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inStr && c == '\\') i += 1
      // a double quote as a CHAR literal ('"' or '\"') must not toggle
      // string state — it would leave the scanner inside a phantom string
      // and hide a later call on the line (ADVICE r13)
      else if (!inStr && c == '\'' && i + 2 < line.length &&
        line.charAt(i + 2) == '\'' && line.charAt(i + 1) != '\\') i += 2
      else if (!inStr && c == '\'' && i + 3 < line.length &&
        line.charAt(i + 1) == '\\' && line.charAt(i + 3) == '\'') i += 3
      else if (c == '"') inStr = !inStr
      else if (!inStr && c == '/' && i + 1 < line.length &&
        line.charAt(i + 1) == '/') return line.substring(0, i)
      i += 1
    }
    line
  }
}
