package graft

/** Shared source walk for the audit specs: counts, per file under
  * src/main/scala/graft, the calls a pattern matches outside comments. */
object SourceAudit {

  /** file (relative to the graft source root) → call count, files with
    * none left out. Doc/comment lines and trailing line comments are
    * skipped: the audits count CALLS, and rationale comments legitimately
    * name the calls they forbid. */
  def calls(call: scala.util.matching.Regex): Map[String, Int] = {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"source root not found from ${
      new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq.flatMap(files))
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.getLines().map { line =>
        val t = line.trim
        if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) 0
        else call.findAllIn(stripLineComment(line)).length
      }.sum finally src.close()
      f.getPath.replace('\\', '/')
        .stripPrefix("src/main/scala/graft/") -> n
    }.filter(_._2 > 0).toMap
  }

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
