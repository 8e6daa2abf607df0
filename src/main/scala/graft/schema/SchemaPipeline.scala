package graft.schema

import org.apache.spark.sql.SparkSession
import graft.ingest.Tsv
import java.nio.file.{Files, Path}

/** The generate-ddl pipeline stage end-to-end (reference:
  * blockchair_etl_pipeline.sh:173-215 + generate_snowflake_ddl.py main):
  * infer a schema from the newest dump, gate it through the widening
  * lattice against the persisted schema, and on acceptance persist the
  * new DDL + JSON. Returns what happened so orchestration can branch the
  * way the shell script does on SchemaSkipError.
  */
object SchemaPipeline {

  sealed trait Outcome
  final case class Updated(ddl: String) extends Outcome
  case object Skipped extends Outcome          // all-equal → no-op
  final case class Kept(reason: String) extends Outcome // narrower/mismatch

  /** Run inference + widening gate for one table. `schemaDir` holds the
    * persisted schema between runs: the `<table>.json` dump, and the
    * `<table>.sql` DDL, which is read only when the dump is missing
    * ([[SchemaMerge.parseExisting]]). */
  def run(spark: SparkSession, tsvPath: String, tableName: String,
      schemaDir: Path, sampleRows: Int = 1000000): Outcome = {
    val inferred = SchemaInfer.infer(Tsv.readRaw(spark, tsvPath), sampleRows)
    val jsonPath = schemaDir.resolve(s"$tableName.json")
    val ddlPath = schemaDir.resolve(s"$tableName.sql")
    def read(p: Path) = Option.when(Files.exists(p))(Files.readString(p))
    val existing = SchemaMerge.parseExisting(read(jsonPath), read(ddlPath))

    SchemaMerge.widen(existing, inferred) match {
      case SchemaMerge.Replace(next) =>
        Files.createDirectories(schemaDir)
        val ddl = SchemaMerge.renderDdl(tableName, next)
        Files.writeString(jsonPath, SchemaMerge.renderJson(next))
        Files.writeString(ddlPath, ddl)
        Updated(ddl)
      case SchemaMerge.Identical => Skipped
      case SchemaMerge.Rejected(col, reason) => Kept(s"$col: $reason")
    }
  }
}
