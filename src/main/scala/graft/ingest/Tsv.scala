package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{StringType, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** S1–S5 — the file-ingest surface (reference:
  * create_snowflake_objects.sh:331-333,406-411 file format;
  * load_data_to_snowflake.sh:125-144 pattern routing + skip-file +
  * retention; download_blockchair_data.py:218-246 local retention).
  * The daily batch composes it in `graft.models.Pipeline`: `readRaw`
  * routes each table to its own files (S2) and `dailyRun` skips and
  * quarantines a corrupt dump whole (S3, file level) through [[probe]].
  *
  * Scale notes: the TSV reader is a plain distributed text scan — gzip
  * files are non-splittable, so at 100 TB daily ingest parallelism comes
  * from many daily files, not intra-file splits (matching the reference's
  * one-file-per-table-per-day layout). Immediately landing into
  * date-partitioned Parquet (see [[landToParquetIdempotent]]) restores
  * columnar pruning + splittability for everything downstream.
  */
object Tsv {

  /** Name of the column a malformed row's raw line lands in. */
  val CorruptColumn = "_corrupt_record"

  /** S1+S3 — the one dump format every reader shares, batch and stream
    * (create_snowflake_objects.sh:331-333): tab-separated, one header row,
    * no quote char — quotes are data (FIELD_DELIMITER='\t', SKIP_HEADER=1,
    * FIELD_OPTIONALLY_ENCLOSED_BY='NONE'); PERMISSIVE, so a malformed row
    * lands in [[CorruptColumn]] instead of failing the scan. */
  private[graft] val Format: Map[String, String] = Map(
    "sep" -> "\t",
    "header" -> "true",
    "quote" -> "",
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptColumn,
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss")

  /** `schema` plus the corrupt-record column [[Format]] fills. */
  private[graft] def withCorrupt(schema: StructType): StructType =
    schema.add(CorruptColumn, StringType)

  /** S1 — gzipped-TSV scan with an explicit schema; malformed rows keep
    * their raw line in [[CorruptColumn]] (S3 at row granularity). */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.options(Format).schema(withCorrupt(schema)).csv(path)

  /** S1 (inference path) — read every column as string for
    * [[graft.schema.SchemaInfer]]. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.options(Format).csv(path)

  /** S3 (file granularity) — the skip-file probe: one aggregation over a
    * cached [[read]] of one dump gives its row count, or None when the
    * file is corrupt (ON_ERROR='skip_file': malformed rows anywhere, or a
    * whole-file read error such as a truncated gzip). Any other failure
    * is not data corruption and rethrows. The aggregation scans every
    * row, so it materializes whole cached partitions and a landing that
    * follows reads the cache, not the file. */
  private[graft] def probe(raw: DataFrame): Option[Long] =
    try {
      val r = raw.agg(count(lit(1)), count(col(CorruptColumn))).head()
      if (r.getLong(1) > 0) None else Some(r.getLong(0))
    } catch { case e: Exception if readCorruption(e) => None }

  /** Spark wraps parquet/csv/gzip decode errors in FAILED_READ_FILE;
    * malformed-record errors carry MALFORMED markers. */
  private def readCorruption(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists { c =>
        val m = Option(c.getMessage).getOrElse("")
        m.contains("FAILED_READ_FILE") || m.contains("MALFORMED") ||
          m.contains("CorruptedGZIP") || c.isInstanceOf[java.io.EOFException]
      }

  /** Land a raw daily file into date-partitioned Parquet — the layout every
    * downstream model reads (cluster_by analog: partition pruning on
    * `load_date` + sorted within partitions). Dynamic partition overwrite
    * replaces ONLY this load_date's partition, so re-running a day
    * (skip-existing fetch → same input) converges instead of appending
    * duplicates. */
  def landToParquetIdempotent(df: DataFrame, loadDate: String,
      outDir: String, sortCols: Seq[String]): Unit = {
    val sorted =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*)
      else df
    sorted.withColumn("load_date", lit(loadDate)).write
      .mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("load_date").parquet(outDir)
  }

  /** The dump filename contract: `..._{YYYYMMDD}.tsv[.gz]`
    * (download_blockchair_data.py:235). Single source — retention,
    * latest-file selection, and routing all parse the same token. */
  val FileDate: scala.util.matching.Regex = raw".*_(\d{8})\.tsv(\.gz)?$$".r

  /** YYYYMMDD token of a dump filename, if it follows the contract. */
  def fileDateToken(fileName: String): Option[String] = fileName match {
    case FileDate(d, _) => Some(d)
    case _ => None
  }

  /** S5 — retention vacuum: delete files whose YYYYMMDD filename token is
    * older than `retentionDays` relative to `today`
    * (download_blockchair_data.py:218-246). */

  def retentionSweep(dir: Path, retentionDays: Int,
      today: java.time.LocalDate): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Nil
    val cutoff = today.minusDays(retentionDays.toLong)
    val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    val listing = scala.util.Using(Files.list(dir)) {
      _.iterator().asScala.toSeq
    }.get // close the stream: daily sweeps must not leak descriptors
    listing.flatMap { p =>
      // quarantined rejects (.corrupt suffix) age out with the same
      // retention as their originals — they must not accumulate. The
      // suffix is stripped ONLY here: latestFile/preflight still ignore
      // quarantined files entirely.
      val name = p.getFileName.toString.stripSuffix(".corrupt")
      fileDateToken(name).flatMap { d =>
        val fileDate = Try(java.time.LocalDate.parse(d, fmt)).toOption
        if (fileDate.exists(_.isBefore(cutoff))) {
          Files.delete(p); Some(p)
        } else None
      }
    }
  }

  /** Contract filename of one daily dump — the single source the URL
    * builder, the fetch layout, and the landing lookup all share (a
    * drifted copy would make fetch write one name and landing look for
    * another). */
  def dailyFileName(coin: String, tableType: String,
      date: java.time.LocalDate): String = {
    val d = date.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    s"blockchair_${coin}_${tableType}_$d.tsv.gz"
  }

  /** S4 — daily-file URL builder (download_blockchair_data.py:306-314).
    * A configured API key rides as a query parameter, as the reference
    * appends it; key-gated endpoints otherwise 402/403 on every fetch.
    * The HTTP fetch itself is driver-side I/O; zero-egress environments
    * exercise the URL/date logic only. */
  def dailyFileUrl(baseUrl: String, coin: String, tableType: String,
      date: java.time.LocalDate, apiKey: Option[String] = None): String = {
    val base = s"$baseUrl/$coin/$tableType/${dailyFileName(coin, tableType, date)}"
    apiKey.fold(base)(k => s"$base?key=$k")
  }
}
