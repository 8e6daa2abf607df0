package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** S4/M7 — validated fetch configuration (reference:
  * download_blockchair_data.py:87-144 — a JSON-schema-validated config
  * with `${ENV:-default}` substitution applied before validation).
  *
  * The schema is encoded directly as validation rules rather than a
  * generic JSON-Schema engine: the config surface is one flat object,
  * and the failure messages matter more than schema generality.
  * Jackson (already on Spark's classpath) does the JSON parsing.
  */
object FetchConfig {

  /** DOWNLOAD_SCHEMA's enum for data_types items. */
  val AllowedDataTypes: Set[String] =
    Set("blocks", "transactions", "inputs", "outputs")

  final case class DownloadConfig(
      baseUrl: String,
      apiKey: Option[String],
      dataTypes: Seq[String],
      fileFormat: String,
      destinationDir: Path,
      retentionDays: Int)

  /** `${VAR}` / `${VAR:-default}` substitution on one string value
    * (download_blockchair_data.py:122-127). Only whole-value references
    * substitute, matching the reference. The default applies when the
    * variable is unset OR set-but-empty — shell `:-` semantics, which
    * the syntax promises (the reference only defaults on unset, then
    * errors confusingly on empty). */
  private[ingest] def substituteEnv(value: String, env: Map[String, String],
      key: String, required: Boolean): Either[String, String] = {
    if (!(value.startsWith("${") && value.endsWith("}"))) return Right(value)
    val body = value.substring(2, value.length - 1)
    val (envVar, default) = body.split(":-", 2) match {
      case Array(v, d) => (v, Some(d))
      case Array(v) => (v, None)
    }
    val resolved = env.get(envVar).filter(_.nonEmpty)
      .orElse(default).getOrElse("")
    if (resolved.isEmpty && required)
      Left(s"environment variable $envVar is unset or empty and no " +
        s"default provided (for required key '$key')")
    else Right(resolved)
  }

  private def textOrSubst(n: JsonNode, key: String, env: Map[String, String],
      required: Boolean): Either[String, String] = {
    val node = n.get(key)
    if (node == null || node.isNull)
      if (required) Left(s"missing required key '$key'") else Right("")
    else if (node.isTextual) substituteEnv(node.asText, env, key, required)
    else if (node.isNumber) Right(node.asText)
    else Left(s"key '$key' must be a string, got ${node.getNodeType}")
  }

  /** Parse + validate a config JSON string. `env` is injectable for
    * tests; production callers pass `sys.env`. */
  def parse(json: String,
      env: Map[String, String] = sys.env): Either[String, DownloadConfig] = {
    val root =
      try new ObjectMapper().readTree(json)
      catch { case e: Exception => return Left(s"invalid JSON: ${e.getMessage}") }
    if (root == null || !root.isObject) return Left("config must be a JSON object")

    for {
      baseUrl <- textOrSubst(root, "base_url", env, required = true)
      _ <- Either.cond(baseUrl.matches("^https?://.*"), (),
        s"base_url must match ^https?:// (got '$baseUrl')")
      fileFormat <- textOrSubst(root, "file_format", env, required = true)
      _ <- Either.cond(fileFormat == "tsv.gz", (),
        s"file_format must be 'tsv.gz' (got '$fileFormat')")
      destDir <- textOrSubst(root, "destination_dir", env, required = true)
      retentionRaw <- textOrSubst(root, "retention_days", env, required = true)
      retention <- retentionRaw.toIntOption
        .toRight(s"retention_days must be an integer (got '$retentionRaw')")
      _ <- Either.cond(retention >= 1, (),
        s"retention_days must be >= 1 (got $retention)")
      dataTypes <- {
        val node = root.get("data_types")
        if (node == null || !node.isArray)
          Left("missing required key 'data_types' (array)")
        else {
          val items = node.elements().asScala.map(_.asText).toSeq
          val bad = items.filterNot(AllowedDataTypes)
          if (items.isEmpty) Left("data_types must be non-empty")
          else if (bad.nonEmpty)
            Left(s"data_types contains invalid entries: ${bad.mkString(", ")}" +
              s" (allowed: ${AllowedDataTypes.toSeq.sorted.mkString(", ")})")
          else Right(items)
        }
      }
      apiKey <- textOrSubst(root, "api_key", env, required = false)
        .map(s => Option(s).filter(_.nonEmpty))
    } yield DownloadConfig(baseUrl, apiKey, dataTypes, fileFormat,
      java.nio.file.Paths.get(destDir), retention)
  }
}
