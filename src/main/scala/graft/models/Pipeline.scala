package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.Tsv
import graft.schema.BlockchairSchemas
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** M1/M2/M4/M7 — pipeline orchestration: the dbt DAG as explicit lazy
  * function composition (staging defs are unpersisted views; intermediate
  * and mart tables are written clustered), with latest-file selection and
  * preflight checks (reference: blockchair_etl_pipeline.sh:161-285,
  * dbt_project.yml:19-30).
  */
object Pipeline {

  /** All mart/intermediate outputs of one build. */
  final case class Build(
      stgBlocks: DataFrame, stgTransactions: DataFrame,
      stgInputs: DataFrame, stgOutputs: DataFrame, stgAddresses: DataFrame,
      intTransactionFlows: DataFrame, intAddressBalances: DataFrame,
      fctTransactionTraces: DataFrame, dimAddresses: DataFrame,
      dimBlocks: DataFrame)

  /** M4 — the DAG: staged → intermediate → marts. Staging layers stay
    * lazy (S6 view semantics: createOrReplaceTempView on request); the
    * shared stg_inputs/stg_outputs subtrees fan out into both
    * intermediates, so callers materializing the full build should
    * persist them (dbt materializes them as warehouse views but the
    * intermediates as tables — [[writeBuild]] mirrors that). */
  def build(blocksRaw: DataFrame, txRaw: DataFrame, inputsRaw: DataFrame,
      outputsRaw: DataFrame, addressesRaw: DataFrame): Build = {
    val b = Models.stgBlocks(blocksRaw)
    val t = Models.stgTransactions(txRaw)
    val i = Models.stgInputs(inputsRaw)
    val o = Models.stgOutputs(outputsRaw)
    val a = Models.stgAddresses(addressesRaw)
    val flows = Models.intTransactionFlows(t, b, i, o)
    val balances = Models.intAddressBalances(a, i, o)
    Build(b, t, i, o, a, flows, balances,
      Models.fctTransactionTraces(flows),
      Models.dimAddresses(balances),
      Models.dimBlocks(b))
  }

  /** S6 — register the staging layer as temp views (lazy, recomputed —
    * identical semantics to dbt's `materialized='view'`). */
  def registerStagingViews(bld: Build): Unit = {
    bld.stgBlocks.createOrReplaceTempView("stg_blocks")
    bld.stgTransactions.createOrReplaceTempView("stg_transactions")
    bld.stgInputs.createOrReplaceTempView("stg_inputs")
    bld.stgOutputs.createOrReplaceTempView("stg_outputs")
    bld.stgAddresses.createOrReplaceTempView("stg_addresses")
  }

  /** S7 — table sinks with the reference's clustering keys
    * (cluster_by → repartition + sortWithinPartitions; at 100 TB these
    * writes would also partitionBy a date column for pruning). The five
    * marts are written concurrently ([[graft.util.Overlap]]); a failed
    * write is rethrown once the other four have finished. */
  def writeBuild(bld: Build, outDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    def write(df: DataFrame, name: String, cluster: Seq[String]): Unit =
      df.repartition(cluster.map(col): _*)
        .sortWithinPartitions(cluster.map(col): _*)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    // cluster_by keys from the model configs; the five writes are
    // independent and run concurrently
    graft.util.Overlap.all(Seq(
      () => write(bld.intTransactionFlows, "int_transaction_flows",
        Seq("transaction_hash", "tx_time")),
      () => write(bld.intAddressBalances, "int_address_balances_with_history",
        Seq("address", "time")),
      () => write(bld.fctTransactionTraces, "fct_transaction_traces",
        Seq("source_address", "destination_address", "tx_time")),
      () => write(bld.dimAddresses, "dim_addresses", Seq("address")),
      () => write(bld.dimBlocks, "dim_blocks", Seq("block_id"))))
  }

  /** Incremental materialization of the date-closed model tables (the
    * reference full-rebuilds its whole dbt DAG daily —
    * transaction_tracing/README.md:14 — which stops being viable at
    * 100 TB).
    *
    * `int_transaction_flows` and `fct_transaction_traces` are DATE-CLOSED:
    * every output row derives from rows of exactly one block date (flows
    * join a tx to its own block's inputs/outputs; the trace window
    * partitions by transaction_hash, and a tx lives in one block). So a
    * day-N run may recompute ONLY the affected `load_date` partitions —
    * dynamic partition overwrite replaces those and leaves every other
    * partition's files untouched (same machinery as
    * [[graft.ingest.Tsv.landToParquetIdempotent]]).
    *
    * `int_address_balances_with_history` and the dims are NOT date-closed
    * (running balances and lifetime aggregates span all history), so they
    * rebuild whole via [[writeBuild]] — at 100 TB the balance table would
    * instead checkpoint a per-address cumulative state and fold each new
    * day into it (mapGroupsWithState shape), which trades exactness of
    * late-arriving history for O(day) daily cost.
    *
    * `loadDates = None` writes every partition present in the build (the
    * initial full materialization, same layout); `Some(dates)` restricts
    * the rewrite to those YYYYMMDD partitions PLUS the '00000000'
    * sentinel, where rows with a null tx_time (tx whose block is missing)
    * land — the sentinel stays in scope on every run so those rows are
    * never silently dropped by the date filter. A restricted run also
    * widens its scope to the destination dates of every transaction that
    * previously lived in the sentinel (see below) — callers never need to
    * anticipate which dates a late block re-dates.
    *
    * The two marts are written concurrently ([[graft.util.Overlap]]),
    * each with its own cache, sentinel snapshot and cleanup. */
  def writeBuildIncremental(bld: Build, outDir: String,
      loadDates: Option[Seq[String]] = None): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, date_format, lit}
    def writeInc(df: DataFrame, name: String, timeCol: String,
        cluster: Seq[String]): Unit = {
      // one cached computation serves every pass below (the widening
      // semi-join, the write, the sentinel probes): without it a
      // restricted run with an existing sentinel re-runs the full model
      // lineage up to three times
      val dated = df.withColumn("load_date",
        coalesce(date_format(col(timeCol), "yyyyMMdd"), lit("00000000")))
        .cache()
      var orphanRelease: () => Unit = () => ()
      try {
      val sentinelPath = new org.apache.hadoop.fs.Path(
        s"$outDir/$name/load_date=00000000")
      val fs = sentinelPath.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      // Snapshot the stored sentinel rows whose transaction no longer
      // exists ANYWHERE in this build (vanished: raw dumps aged past
      // retention — the sentinel holds their only copy) BEFORE the
      // write: the dynamic overwrite below may replace the stored
      // partition, so an after-the-fact read would see this build's
      // rows, not the history. Materialized eagerly because the write
      // replaces the very files this plan reads; the sentinel is small
      // by construction, and the checkpoint blocks are released in the
      // finally.
      val orphanRows =
        if (!fs.exists(sentinelPath)) None
        else {
          val (o, ids) = graft.util.Checkpoints.ckptTracked(
            df.sparkSession.read.parquet(sentinelPath.toString)
              .join(dated.select(col("transaction_hash")).distinct(),
                Seq("transaction_hash"), "left_anti"))
          orphanRelease = () => graft.util.Checkpoints.release(o, ids)
          Some(o)
        }
      // The sentinel partition is ALWAYS in scope (a restricted rewrite
      // that filtered it out would silently drop this build's null-time
      // rows), and a restricted scope is WIDENED to the current load_date
      // of every formerly-sentinel transaction: when a late block re-dates
      // sentinel rows to a date outside `loadDates`, writing without the
      // widening would drop those rows while the cleanup below deletes
      // their only stored copy — they would exist in no partition. The
      // sentinel partition is small by construction (only blockless tx),
      // so the extra semi-join probe is bounded.
      val scoped = loadDates.fold(dated) { ds =>
        val dests =
          if (!fs.exists(sentinelPath)) Nil
          else {
            val formerlySentinel = df.sparkSession.read
              .parquet(sentinelPath.toString)
              .select(col("transaction_hash")).distinct()
            dated.join(formerlySentinel, Seq("transaction_hash"),
                "left_semi")
              .select("load_date").distinct()
              .collect().map(_.getString(0)).toSeq // bounded: dates only
          }
        dated.filter(
          col("load_date").isin((ds ++ dests :+ "00000000").distinct: _*))
      }
      // Fold the orphan snapshot INTO the written data (under the
      // sentinel date) instead of appending it after the write: the
      // sentinel invariant — post-run content = this build's sentinel
      // rows ∪ stored VANISHED rows, with re-dated rows gone — then
      // lands in the SAME dynamic-overwrite commit as the rest of the
      // build. A post-write append would open a crash window where the
      // overwrite has destroyed the stored partition (the vanished
      // rows' only durable copy) and the append never ran; the old
      // all-or-nothing cleanup instead duplicated re-dated rows
      // whenever vanished and re-dated transactions shared a sentinel.
      val withOrphans = orphanRows.filter(o => !o.isEmpty)
        .fold(scoped)(o =>
          scoped.unionByName(o.withColumn("load_date", lit("00000000"))))
      withOrphans
        .repartition(cluster.map(col): _*)
        .sortWithinPartitions(cluster.map(col): _*)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("load_date").parquet(s"$outDir/$name")
      // The one case the write cannot express: every stored sentinel tx
      // re-dated into a real partition and the build has no new
      // blockless rows — the written data then contains no sentinel
      // partition, dynamic overwrite leaves the stale one in place, and
      // its rows would read back as duplicates of the re-dated copies.
      if (fs.exists(sentinelPath) &&
          withOrphans.filter(col("load_date") === "00000000").isEmpty) {
        fs.delete(sentinelPath, true)
      }
      } finally {
        dated.unpersist()
        orphanRelease()
      }
    }
    // the two marts share no files or caches, so they write concurrently
    graft.util.Overlap.all(Seq(
      () => writeInc(bld.intTransactionFlows, "int_transaction_flows",
        "tx_time", Seq("transaction_hash", "tx_time")),
      () => writeInc(bld.fctTransactionTraces, "fct_transaction_traces",
        "tx_time", Seq("source_address", "destination_address", "tx_time"))))
  }

  /** Read the five raw tables from a directory of TSV files
    * (blockchair_{coin}_{type}_{date}.tsv[.gz] naming). S2 routing
    * (`COPY INTO <t> ... PATTERN='.*blocks.*'`) is a token-specific file
    * glob, so each table parses ONLY its own files — an input_file_name()
    * row filter cannot prune the file listing and would parse the whole
    * directory five times. */
  def readRaw(spark: SparkSession, dir: String): Build = {
    // the {.tsv,.tsv.gz} alternation (Hadoop glob) deliberately
    // EXCLUDES quarantined *.tsv.gz.corrupt files — a bare *.tsv* glob
    // would parse rejected bytes right back into the build
    def rd(token: String, schema: org.apache.spark.sql.types.StructType) =
      Tsv.read(spark, s"$dir/*$token*{.tsv,.tsv.gz}", schema)
    build(
      rd("blocks", BlockchairSchemas.blocks),
      rd("transactions", BlockchairSchemas.transactions),
      rd("inputs", BlockchairSchemas.inputs),
      rd("outputs", BlockchairSchemas.outputs),
      rd("addresses", BlockchairSchemas.addresses))
  }

  /** M2 — latest-file selection: newest dump per type by the YYYYMMDD
    * filename token (blockchair_etl_pipeline.sh:182-188). Shares the
    * filename contract with retention via Tsv.fileDateToken. */
  def latestFile(dir: Path, tableToken: String): Option[Path] = {
    if (!Files.isDirectory(dir)) return None
    val listing = scala.util.Using(Files.list(dir)) {
      _.iterator().asScala.toSeq
    }.get // close the stream: repeated selection must not leak descriptors
    listing
      .filter(_.getFileName.toString.contains(tableToken))
      .flatMap(p => Tsv.fileDateToken(p.getFileName.toString).map(_ -> p))
      .sortBy(_._1).lastOption.map(_._2)
  }

  /** M7 — preflight: all five raw inputs present. Accepts BOTH dump
    * layouts: a flat directory of files and dailyRun's per-type
    * subdirectories (destinationDir/{type}/...) — the gate must be able
    * to validate the layout the pipeline itself writes. */
  def preflight(dir: Path): Either[String, Unit] = {
    val required = Seq("blocks", "transactions", "inputs", "outputs",
      "addresses")
    val missing = required.filter(t =>
      latestFile(dir, t).isEmpty && latestFile(dir.resolve(t), t).isEmpty)
    if (missing.nonEmpty) Left(s"missing raw dumps: ${missing.mkString(", ")}")
    else Right(())
  }

  /** What one [[dailyRun]] did, per table type. */
  final case class DailyRunReport(
      fetched: Map[String, graft.ingest.Fetch.Result],
      /** Rows landed per type, counted by the skip-file probe over the
        * same cached parse the landing writes. */
      landedRows: Map[String, Long],
      /** Types whose fetched file contained malformed rows — skipped
        * whole (ON_ERROR='skip_file' parity), never landed. */
      skippedCorrupt: Seq[String],
      swept: Seq[Path])

  /** M1+S4+S5 — one day's ingest, the reference pipeline script's outer
    * loop (download_blockchair_data.py main + load_data_to_snowflake.sh):
    * fetch each configured type (skip-existing → reruns are idempotent),
    * land every successfully fetched file into date-partitioned Parquet,
    * then retention-sweep the raw dirs. A type whose fetch fails is
    * reported, not fatal — the reference logs and continues; the caller
    * decides whether a partial day blocks the model build (M7 preflight
    * does exactly that check).
    *
    * The fetched dumps land concurrently, one [[graft.util.Overlap]] task
    * per dump; each task parses, probes and then lands or quarantines its
    * own dump. A landing that fails for any reason other than corruption
    * is rethrown after the other dumps' tasks have finished, and the
    * sweep does not run.
    *
    * Transport and clock are injectable so the whole flow tests offline.
    */
  def dailyRun(spark: SparkSession,
      cfg: graft.ingest.FetchConfig.DownloadConfig,
      coin: String, date: java.time.LocalDate, parquetDir: String,
      open: String => java.io.InputStream = graft.ingest.Fetch.openHttp,
      sleep: Long => Unit = Thread.sleep): DailyRunReport = {
    import graft.ingest.{Fetch, Tsv}
    val schemas = Map(
      "blocks" -> BlockchairSchemas.blocks,
      "transactions" -> BlockchairSchemas.transactions,
      "inputs" -> BlockchairSchemas.inputs,
      "outputs" -> BlockchairSchemas.outputs,
      "addresses" -> BlockchairSchemas.addresses)
    val fetched = Fetch.fetchDaily(cfg.baseUrl, coin, cfg.dataTypes, date,
      cfg.destinationDir, skipExisting = true, open = open, sleep = sleep,
      apiKey = cfg.apiKey)
    val dateToken = date.format(
      java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    // one task per fetched dump, run concurrently: each task's chain
    // (parse, probe, land or quarantine) stays sequential, so nothing of
    // a dump lands before that whole dump is known good
    val landings = fetched.toSeq.collect {
      case (t, Fetch.Downloaded | Fetch.SkippedExisting)
          if schemas.contains(t) => () => {
        // land THIS date's file, by its contract name — not latestFile:
        // a backfill/rerun of a past day must not land a newer dump
        // under the old load_date
        val fileName = Tsv.dailyFileName(coin, t, date)
        val file = cfg.destinationDir.resolve(t).resolve(fileName)
        // fetch just reported success for this name — absence is an
        // invariant violation (external interference), not a data
        // problem; fail loudly instead of reporting "corrupt"
        if (!Files.exists(file))
          sys.error(s"fetched $t but $file is missing")
        // whole-file parse gate (ON_ERROR='skip_file' parity): a
        // truncated/garbled download must not land null-padded rows.
        // One cached parse serves probe + landing, released after.
        val raw = Tsv.read(spark, file.toString, schemas(t)).cache()
        try {
          // Corruption must be POSITIVELY identified before the
          // destructive quarantine (Tsv.probe): any other probe failure
          // (infra: executor loss, disk) rethrows — renaming a healthy
          // file to .corrupt on a transient error would lose the day if
          // upstream no longer publishes the dump.
          Tsv.probe(raw) match {
            case Some(rows) =>
              Tsv.landToParquetIdempotent(raw.drop(Tsv.CorruptColumn),
                dateToken, s"$parquetDir/$t", sortCols = Seq.empty)
              Right(t -> rows)
            case None =>
              // quarantine the rejected bytes: a rerun must RE-FETCH the
              // (republished) dump, which skip-existing would otherwise
              // never do while the bad file sits at the contract name.
              // retentionSweep treats .corrupt files like their originals.
              Files.move(file, file.resolveSibling(fileName + ".corrupt"),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              Left(t)
          }
        } finally raw.unpersist()
      }
    }
    val attempts = graft.util.Overlap.all(landings)
    val landed = attempts.collect { case Right(kv) => kv }.toMap
    val corrupt = attempts.collect { case Left(t) => t }.sorted
    val swept = cfg.dataTypes.flatMap { t =>
      Tsv.retentionSweep(cfg.destinationDir.resolve(t), cfg.retentionDays,
        date)
    }
    DailyRunReport(fetched, landed, corrupt, swept)
  }
}
