package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** S1–S5 — the file-ingest surface (reference:
  * create_snowflake_objects.sh:331-333,406-411 file format;
  * load_data_to_snowflake.sh:125-144 pattern routing + skip-file +
  * retention; download_blockchair_data.py:218-246 local retention).
  *
  * Scale notes: the TSV reader is a plain distributed text scan — gzip
  * files are non-splittable, so at 100 TB daily ingest parallelism comes
  * from many daily files, not intra-file splits (matching the reference's
  * one-file-per-table-per-day layout). Immediately landing into
  * date-partitioned Parquet (see [[landToParquet]]) restores columnar
  * pruning + splittability for everything downstream.
  */
object Tsv {

  /** S1 — gzipped-TSV scan: tab-separated, one header row, no quoting
    * (FIELD_DELIMITER='\t', FIELD_OPTIONALLY_ENCLOSED_BY='NONE',
    * SKIP_HEADER=1). S3 — permissive mode: malformed rows land in
    * `_corrupt_record` instead of failing the load
    * (ON_ERROR='skip_file' analog at row granularity). */
  def read(spark: SparkSession, path: String, schema: StructType,
      permissive: Boolean = true): DataFrame = {
    val withCorrupt = if (permissive)
      schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    else schema
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("quote", "")          // no quote char — quotes are data
      .option("mode", if (permissive) "PERMISSIVE" else "FAILFAST")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(withCorrupt)
      .csv(path)
  }

  /** S1 (inference path) — read every column as string for
    * [[graft.schema.SchemaInfer]]. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("quote", "")
      .option("inferSchema", "false")
      .csv(path)

  /** S2 — pattern-routed load: `COPY INTO <t> ... PATTERN='.*blocks.*'`
    * becomes a glob filter on the source directory; input_file_name() is
    * retained for provenance. */
  def readRouted(spark: SparkSession, dir: String, tableToken: String,
      schema: StructType): DataFrame =
    read(spark, dir, schema)
      // quote the token: a table name containing regex metacharacters
      // must match literally, not as a pattern
      .where(input_file_name()
        .rlike(".*" + java.util.regex.Pattern.quote(tableToken) + ".*"))

  /** S3 (file granularity) — a malformed file is skipped, not fatal.
    * ON_ERROR='skip_file' skips on an error ANYWHERE in the file, so the
    * whole file must parse before it counts as good. Single-pass: each
    * file is parsed permissively ONCE into cache; the corrupt-row probe
    * materializes that cache, and the returned union reads from it — no
    * second parse of good files (r1 probed FAILFAST then re-read, paying
    * the parse twice). The third element RELEASES the per-file caches:
    * call it after consuming the union (unpersisting the union itself
    * cannot reach the per-file InMemoryRelations, so skipping the
    * release leaks cache storage per call in a long-lived driver).
    *
    * A file is skipped only when positively identified as corrupt —
    * malformed rows, or a whole-file read error ([[corrupt]]).
    * Any other failure (a missing path, an infrastructure error)
    * rethrows after releasing the caches taken so far: dropping a
    * healthy file from the union on a transient error would silently
    * load a partial day. */
  def readSkippingBadFiles(spark: SparkSession, files: Seq[String],
      schema: StructType): (DataFrame, Seq[String], () => Unit) = {
    val cached = scala.collection.mutable.Buffer[DataFrame]()
    val release = () => cached.foreach(_.unpersist())
    val (good, bad) = try files.partitionMap { f =>
      val df = read(spark, f, schema, permissive = true).cache()
      cached += df
      if (corrupt(df)) { df.unpersist(); Right(f) }
      else Left(df.drop("_corrupt_record"))
    } catch { case e: Throwable => release(); throw e }
    val union = good.reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    (union, bad, release)
  }

  /** The one file-corruption probe of both skip-file paths, over a
    * cached permissive [[read]] of one file: true iff it holds malformed
    * rows or fails with a whole-file read error. Any other failure is not
    * data corruption and rethrows. count() (not limit(1)) so the probe
    * materializes whole cached partitions — a short-circuited probe would
    * leave partitions uncached and downstream reads would re-parse. */
  private[graft] def corrupt(raw: DataFrame): Boolean =
    try raw.filter(col("_corrupt_record").isNotNull).count() > 0
    catch { case e: Exception if readCorruption(e) => true }

  /** Spark wraps parquet/csv/gzip decode errors in FAILED_READ_FILE;
    * malformed-record errors carry MALFORMED markers. */
  private def readCorruption(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists { c =>
        val m = Option(c.getMessage).getOrElse("")
        m.contains("FAILED_READ_FILE") || m.contains("MALFORMED") ||
          m.contains("CorruptedGZIP") || c.isInstanceOf[java.io.EOFException]
      }

  /** One landing contract (sort + load_date column) for both write
    * modes — a drifted copy would silently diverge the append and
    * idempotent paths. */
  private def land(df: DataFrame, loadDate: String, outDir: String,
      sortCols: Seq[String], idempotent: Boolean): Unit = {
    import org.apache.spark.sql.functions.lit
    val sorted =
      if (sortCols.nonEmpty)
        df.sortWithinPartitions(sortCols.map(col): _*)
      else df
    val base = sorted.withColumn("load_date", lit(loadDate)).write
    val writer =
      if (idempotent)
        base.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      else base.mode("append")
    writer.partitionBy("load_date").parquet(outDir)
  }

  /** Land a raw daily file into date-partitioned Parquet — the layout every
    * downstream model reads (cluster_by analog: partition pruning on
    * `load_date` + sorted within partitions). */
  def landToParquet(df: DataFrame, loadDate: String, outDir: String,
      sortCols: Seq[String]): Unit =
    land(df, loadDate, outDir, sortCols, idempotent = false)

  /** Idempotent landing: dynamic partition overwrite replaces ONLY this
    * load_date's partition, so re-running a day (skip-existing fetch →
    * same input) converges instead of appending duplicates. */
  def landToParquetIdempotent(df: DataFrame, loadDate: String,
      outDir: String, sortCols: Seq[String]): Unit =
    land(df, loadDate, outDir, sortCols, idempotent = true)

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
