package graft.schema

/** M3 — the schema-evolution gate: a widening-only merge lattice over the
  * warehouse type system (reference: generate_snowflake_ddl.py:261-331,
  * skip flow :503-508; rules restated in SURVEY.md §1.3).
  *
  * The lattice is deliberately modeled on warehouse types (not Spark types)
  * because the rules are about the *declared* DDL: VARCHAR tiers widen
  * upward, INTEGER→FLOAT widens, FLOAT→INTEGER is rejected, DATE→TIMESTAMP
  * widens, TIMESTAMP→DATE is rejected, any other mismatch is rejected, and
  * an all-equal schema is a no-op skip (the reference's SchemaSkipError,
  * generate_snowflake_ddl.py:44-46).
  */
object SchemaMerge {

  sealed trait SfType { def render: String }
  case object SfInteger extends SfType { val render = "INTEGER" }
  case object SfFloat extends SfType { val render = "FLOAT" }
  case object SfBoolean extends SfType { val render = "BOOLEAN" }
  case object SfDate extends SfType { val render = "DATE" }
  case object SfTimestamp extends SfType { val render = "TIMESTAMP" }
  case class SfVarchar(len: Int) extends SfType {
    def render = s"VARCHAR($len)"
  }

  final case class ColumnSpec(name: String, typ: SfType)
  type Schema = Seq[ColumnSpec]

  sealed trait MergeResult
  /** New schema is strictly wider (or there was nothing to compare). */
  final case class Replace(schema: Schema) extends MergeResult
  /** New schema is narrower / mismatched on `column` — keep the old one. */
  final case class Rejected(column: String, reason: String)
      extends MergeResult
  /** All common columns equal — skip (reference SchemaSkipError). */
  case object Identical extends MergeResult

  /** VARCHAR tier ladder (config/ddl_config.json:5). */
  val varcharTiers: Seq[Int] = Seq(16, 32, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536, 131072, 262144)
  val defaultStringLength = 64

  /** Smallest tier ≥ maxLength; the top tier caps
    * (generate_snowflake_ddl.py:177-193). */
  def varcharTier(maxLength: Option[Int]): Int = maxLength match {
    case None => defaultStringLength
    case Some(n) => varcharTiers.find(n <= _).getOrElse(varcharTiers.last)
  }

  /** F5 — identifier sanitizer (generate_snowflake_ddl.py:375-377):
    * non-alphanumerics → '_', uppercase, trim '_', non-alpha-leading names
    * prefixed COL_. */
  def sanitize(raw: String, position: Int): String = {
    val cleaned = raw.replaceAll("[^a-zA-Z0-9]", "_").toUpperCase
      .replaceAll("^_+|_+$", "")
    if (cleaned.isEmpty) s"COL_$position"
    else if (!cleaned.head.isLetter) s"COL_$cleaned"
    else cleaned
  }

  /** The widening compare (generate_snowflake_ddl.py:261-331). Column
    * comparison is by (sanitized, upper-cased) name; columns present only
    * on one side don't participate — the reference only gates on common
    * columns. */
  def widen(oldSchema: Schema, newSchema: Schema): MergeResult = {
    if (oldSchema.isEmpty) return Replace(newSchema)
    val oldMap = oldSchema.map(c => c.name.toUpperCase -> c.typ).toMap
    val newMap = newSchema.map(c => c.name.toUpperCase -> c.typ).toMap
    val common = oldMap.keySet intersect newMap.keySet
    if (common.isEmpty) return Replace(newSchema)

    var hasLarger = false
    for (col <- common.toSeq.sorted) {
      (oldMap(col), newMap(col)) match {
        case (SfVarchar(o), SfVarchar(n)) =>
          if (n < o) return Rejected(col, s"VARCHAR($n) narrower than VARCHAR($o)")
          else if (n > o) hasLarger = true
        case (SfInteger, SfFloat) => hasLarger = true
        case (SfFloat, SfInteger) =>
          return Rejected(col, "INTEGER narrower than existing FLOAT")
        case (SfDate, SfTimestamp) => hasLarger = true
        case (SfTimestamp, SfDate) =>
          return Rejected(col, "DATE less precise than existing TIMESTAMP")
        case (o, n) if o != n =>
          return Rejected(col, s"type mismatch (old=${o.render}, new=${n.render})")
        case _ => ()
      }
    }
    if (hasLarger) Replace(newSchema) else Identical
  }

  /** S8 — DDL emit (generate_snowflake_ddl.py:408-432): identical layout
    * to the reference's generator. */
  def renderDdl(tableName: String, schema: Schema): String = {
    require(tableName.matches("^[a-zA-Z][a-zA-Z0-9_]*$"),
      s"Invalid table name: $tableName")
    require(schema.nonEmpty, "Schema is empty")
    val cols = schema.map(c => s"${c.name} ${c.typ.render}")
    s"CREATE OR REPLACE TABLE $tableName (\n    " +
      cols.mkString(",\n    ") + "\n);"
  }

  /** JSON schema dump (generate_snowflake_ddl.py:522-528). */
  def renderJson(schema: Schema): String =
    schema.map(c => s"""{"name": "${c.name}", "type": "${c.typ.render}"}""")
      .mkString("[", ", ", "]")

  /** Parse the JSON dump back (the reference's parse_existing_schema JSON
    * path, generate_snowflake_ddl.py:234-244). */
  def parseJson(json: String): Schema = {
    val entry = """\{\s*"name"\s*:\s*"([^"]+)"\s*,\s*"type"\s*:\s*"([^"]+)"\s*\}""".r
    entry.findAllMatchIn(json).map { m =>
      ColumnSpec(m.group(1).toUpperCase, parseType(m.group(2)))
    }.toSeq
  }

  /** Parse schema from existing DDL *text* (the reference's
    * parse_existing_schema DDL path, generate_snowflake_ddl.py:243-254):
    * strip line (`--`) and block (slash-star) comments, then take every
    * `<name> <TYPE[(n)]>` pair terminated by `,` or `)`. This lets a
    * pre-existing `.sql` file seed the widening lattice, same as the JSON
    * dump. The leading `CREATE OR REPLACE TABLE <name> (` never matches:
    * the table name is followed by `(`, not `,`/`)`. */
  def parseDdl(ddl: String): Schema = {
    val stripped = ddl.replaceAll("(?s)--.*?(\n|$)", " ")
      .replaceAll("(?s)/\\*.*?\\*/", " ")
    // Type-anchored: only the lattice's own type names match, so a
    // column with an inline constraint (`ID INTEGER PRIMARY KEY`) still
    // parses — the `[^,)]*` tail swallows the constraint tokens instead
    // of derailing the column. Vendor types outside the lattice are
    // skipped (they could not participate in widen() anyway); hostile
    // .sql input can drop columns but never throws.
    // (?![\w$]) stops prefix misparses — DATETIME must not parse as
    // DATE, TIMESTAMP_LTZ not as TIMESTAMP; (?!\s*\() rejects
    // `TABLE DATE (` — a table NAMED like a type is not a column
    val colPat =
      ("""(?i)(\w+)\s+(INTEGER|FLOAT|BOOLEAN|DATE|TIMESTAMP|""" +
        """VARCHAR\s*(?:\(\s*\d+\s*\))?)(?![\w$])(?!\s*\()[^,)]*[,)]""").r
    colPat.findAllMatchIn(stripped).flatMap { m =>
      scala.util.Try(ColumnSpec(m.group(1).toUpperCase,
        parseType(m.group(2).replaceAll("\\s+", "")))).toOption
    }.toSeq
  }

  /** The reference's source-priority rule (generate_snowflake_ddl.py:
    * 221-258): a JSON dump wins over DDL text; absent both → empty (the
    * widen() caller then treats the new schema as first-write). `ddl` is
    * by-name, so the DDL text is read only when the dump is missing. */
  def parseExisting(json: Option[String], ddl: => Option[String]): Schema =
    json.map(parseJson).filter(_.nonEmpty)
      .orElse(ddl.map(parseDdl))
      .getOrElse(Nil)

  private val VarcharPat = """VARCHAR\((\d+)\)""".r
  def parseType(t: String): SfType = t.toUpperCase.trim match {
    case "INTEGER" => SfInteger
    case "FLOAT" => SfFloat
    case "BOOLEAN" => SfBoolean
    case "DATE" => SfDate
    case "TIMESTAMP" => SfTimestamp
    case VarcharPat(n) => SfVarchar(n.toInt)
    case "VARCHAR" => SfVarchar(16777216) // unbounded ≡ Snowflake max
    case other => throw new IllegalArgumentException(s"unknown type: $other")
  }
}
