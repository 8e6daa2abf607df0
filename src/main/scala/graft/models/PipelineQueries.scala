package graft.models

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import graft.ops.{Q, QueryModule}

/** The whole reference pipeline as ONE gate row. The operator inventory
  * is fully gated query-by-query, but until round 6 the S1→M4 PATH —
  * gzipped-TSV ingest → staging null-key filters → the composite-key
  * flow fan-out → the trace mart — proved itself only in ScalaTest
  * fixtures. This query runs the blockchair-shaped fixture TSVs
  * (graft.Fixtures: the reference's DDL schemas, >2^31 sats totals,
  * coinbase rows, N×M fan-out, null keys, gzip) through
  * `Pipeline.readRaw` → `Models.*` and returns the trace mart; the
  * oracle re-implements the SAME dbt DAG in DuckDB SQL over the SAME
  * TSV files (read_csv), so ingest parsing, staging drops, join
  * semantics, and unit conversions are all under the hash gate at once.
  *
  * `trace_sequence` is excluded from the readout: the mart orders it by
  * tx_time alone, and every edge of a transaction shares its block's
  * time, so the rank among a transaction's edges is tie-broken
  * engine-arbitrarily — correct in both engines, hashable in neither.
  *
  * The fixture directory is one fixed path PER PROCESS: the oracle SQL
  * must embed the literal path (it is evaluated later by a separate
  * DuckDB process reading the oracle_sql.json this process dumped), so
  * it cannot be per-invocation — but a globally fixed name would let
  * two concurrent gate processes truncate each other's TSVs mid-read,
  * and collide across OS users. The pid suffix gives each process its
  * own stable dir while the dumped SQL stays consistent with the files
  * the same process wrote. Writing the fixtures is driver-side file IO
  * (no Spark jobs), so the query stays lazy under the analysis-only
  * sweeps; the sf dir argument is deliberately unused — this gate is
  * about the pipeline, not the synthetic tables.
  */
object PipelineQueries extends QueryModule {

  private val fixtureDir =
    s"${System.getProperty("java.io.tmpdir")}/graft_e2e_fixture_${
      ProcessHandle.current().pid()}"

  private val ctr = new java.util.concurrent.atomic.AtomicLong()

  def all: Seq[Q] = Seq(
    Q("pipeline_e2e_trace_mart",
      (s, _) => {
        // The fixture TSVs MUST outlive this JVM (the dumped oracle SQL
        // is read by the driver's separate DuckDB process after Verify
        // exits), so no delete-on-exit here; instead reclaim dirs left
        // by prior, now-dead gate processes.
        graft.util.TempDirs.cleanStale("graft_e2e_fixture_")
        graft.Fixtures.writeAll(Paths.get(fixtureDir))
        Pipeline.readRaw(s, fixtureDir)
          .fctTransactionTraces.drop("trace_sequence")
      },
      Some(e2eOracle)),

    // The STREAMING twin of the e2e gate: the reference ingests a new
    // dump per day and full-rebuilds its dbt DAG
    // (load_data_to_snowflake.sh:109-134 append-load + README.md:14);
    // this query runs that as CONTINUOUS ingest — a file-source stream
    // over the arrivals directory (the transactions dump split into two
    // arrival files = a 2-batch replay), foreachBatch staging each
    // micro-batch under its own batch id ([[streamBatch]]) and
    // incrementally rebuilding ONLY the load_date partitions that batch
    // touched via `Pipeline.writeBuildIncremental`. The final mart is read back
    // from parquet and gated against the SAME DuckDB oracle as the
    // batch twin, so the incremental path must converge to exactly the
    // batch mart (StreamMartSpec additionally pins row-for-row equality
    // with the batch twin in-process).
    //
    // At 100 TB this is the daily-operations shape: each arriving dump
    // appends one day of raw rows and rewrites one day's partitions;
    // the stream's state (file-source log + staged raw) grows with the
    // data, never with the replay count. EAGER by nature: construction
    // runs the streaming query to completion (AvailableNow), like
    // sessionize_stream.
    Q("pipeline_stream_trace_mart",
      (s, _) => {
        graft.util.TempDirs.cleanStale("graft_e2e_fixture_")
        graft.util.TempDirs.cleanStale("graft_stream_mart_")
        graft.Fixtures.writeAll(Paths.get(fixtureDir))
        // per-invocation work dir: the query must be re-runnable within
        // one JVM (dual-sf Verify, specs) without replaying a stale
        // file-source log or appending to a previous run's staging
        val base = graft.util.TempDirs.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/graft_stream_mart_${
            ProcessHandle.current().pid()}_${ctr.incrementAndGet()}")
        val arrivals = Paths.get(base, "arrivals")
        java.nio.file.Files.createDirectories(arrivals)
        // 2-batch replay: split the transactions dump into two arrival
        // files, each a valid headered TSV (day-1 and day-2 stand-ins —
        // the fixture is single-day, so both batches touch the same
        // partition and the second must cleanly re-derive it)
        val txPath = Paths.get(fixtureDir,
          "blockchair_bitcoin_transactions_20250820.tsv")
        val lines = java.nio.file.Files.readAllLines(txPath)
        val header = lines.get(0)
        val rows = scala.jdk.CollectionConverters
          .ListHasAsScala(lines).asScala.drop(1).toSeq
        val (b1, b2) = rows.splitAt(math.max(1, rows.size / 2))
        for ((batch, i) <- Seq(b1, b2).filter(_.nonEmpty).zipWithIndex)
          java.nio.file.Files.writeString(
            arrivals.resolve(s"batch_$i.tsv"),
            (header +: batch).mkString("\n") + "\n")
        val staged = s"$base/staged_tx"
        val mart = s"$base/mart"
        val src = graft.streaming.StreamIngest.readTsvStream(s,
          arrivals.toString, graft.schema.BlockchairSchemas.transactions)
        val q = src.writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            streamBatch(s, fixtureDir, staged, mart, batch, batchId)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        // Scale-adaptive shuffle partitioning for the replay (r14,
        // guide §2): every micro-batch re-runs the whole dbt DAG whose
        // joins/aggregates each open spark.sql.shuffle.partitions
        // tasks — over the KB-sized fixture arrivals that is ~40
        // near-empty stages of pure task overhead per run. The byte
        // base is fixtureDir — the UNION of inputs the per-batch DAG
        // actually scans (the four static raw sides plus the
        // transactions dump the staged stream converges to), NOT just
        // the arrivals dir: the DAG's joins re-read the static sides
        // every batch, so sizing on arrivals alone would
        // under-partition whenever the static sides dwarf a day's
        // arrivals (ADVICE r14 adjudication). Cap = configured value —
        // a real day's dump keeps the cluster parallelism; fail-closed
        // to the cap; restore after the run; construction is
        // single-threaded in every entry point.
        val oldShuffle = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions",
          graft.util.SizeGate.partitionsForBytes(
            s, fixtureDir, oldShuffle.toInt).toString)
        try {
          val q2 = q.start()
          try require(q2.awaitTermination(300000),
            "streaming mart build did not terminate")
          finally q2.stop()
        } finally s.conf.set("spark.sql.shuffle.partitions", oldShuffle)
        s.read.parquet(s"$mart/fct_transaction_traces")
          .drop("trace_sequence", "load_date")
          .localCheckpoint(true)
      },
      Some(e2eOracle),
      eager = true)
  )

  /** One micro-batch of `pipeline_stream_trace_mart`: stage the batch in
    * its own `batch_id` directory, rebuild the DAG over every staged
    * batch and the static `fixture` sides, and rewrite the mart
    * partitions this batch touched. The staging write overwrites its
    * batch's directory, so a batch replayed after a crash between the
    * sink write and the commit log lands once, not twice. */
  private[models] def streamBatch(s: SparkSession, fixture: String, staged: String,
      mart: String, batch: DataFrame, batchId: Long): Unit = {
    batch.write.mode("overwrite").parquet(s"$staged/batch_id=$batchId")
    // static sides read exactly as Pipeline.readRaw does; the
    // transactions side is the stream, which drops malformed lines
    // as every other reader does
    def rd(token: String, sch: org.apache.spark.sql.types.StructType) =
      graft.ingest.Tsv.read(s, s"$fixture/*$token*{.tsv,.tsv.gz}", sch)
    val bld = Pipeline.build(
      rd("blocks", graft.schema.BlockchairSchemas.blocks),
      s.read.parquet(staged).drop("batch_id"),
      rd("inputs", graft.schema.BlockchairSchemas.inputs),
      rd("outputs", graft.schema.BlockchairSchemas.outputs),
      rd("addresses", graft.schema.BlockchairSchemas.addresses))
    // partitions touched by THIS batch = the load dates of the
    // traces its transactions produce (null tx_time rows ride
    // the always-in-scope sentinel partition)
    val touched = bld.fctTransactionTraces
      .join(batch.select(col("hash").as("transaction_hash"))
        .distinct(), Seq("transaction_hash"), "left_semi")
      .select(date_format(col("tx_time"), "yyyyMMdd").as("ld"))
      .na.drop().distinct()
      .collect().map(_.getString(0)).toSeq
    Pipeline.writeBuildIncremental(bld, mart, Some(touched))
  }

  private lazy val e2eOracle = s"""WITH blocks_raw AS (
          SELECT * FROM read_csv(
            '$fixtureDir/blockchair_bitcoin_blocks_20250820.tsv.gz',
            delim=E'\\t', header=true,
            types={'id':'BIGINT','time':'TIMESTAMP',
                   'cdd_total':'DOUBLE','reward':'BIGINT'})),
        tx_raw AS (
          SELECT * FROM read_csv(
            '$fixtureDir/blockchair_bitcoin_transactions_20250820.tsv',
            delim=E'\\t', header=true,
            types={'block_id':'BIGINT','hash':'VARCHAR',
                   'fee':'BIGINT','fee_usd':'DOUBLE'})),
        inputs_raw AS (
          SELECT * FROM read_csv(
            '$fixtureDir/blockchair_bitcoin_inputs_20250820.tsv',
            delim=E'\\t', header=true,
            types={'block_id':'BIGINT','transaction_hash':'VARCHAR',
                   'value':'BIGINT','value_usd':'DOUBLE',
                   'recipient':'VARCHAR','is_from_coinbase':'BIGINT',
                   'cdd':'DOUBLE'})),
        outputs_raw AS (
          SELECT * FROM read_csv(
            '$fixtureDir/blockchair_bitcoin_outputs_20250820.tsv',
            delim=E'\\t', header=true,
            types={'block_id':'BIGINT','transaction_hash':'VARCHAR',
                   'recipient':'VARCHAR'})),
        stg_blocks AS (
          SELECT id AS block_id, time AS block_time,
            cdd_total AS block_cdd_days,
            CAST(reward AS DOUBLE) / CAST(100000000 AS DOUBLE)
              AS block_reward_btc
          FROM blocks_raw WHERE id IS NOT NULL),
        stg_tx AS (
          SELECT block_id, hash AS transaction_hash, fee AS fee_sats,
            CAST(fee AS DOUBLE) / CAST(100000000 AS DOUBLE) AS fee_btc,
            fee_usd
          FROM tx_raw WHERE hash IS NOT NULL),
        stg_inputs AS (
          SELECT transaction_hash, block_id,
            recipient AS input_address,
            value AS input_value_sats,
            CAST(value AS DOUBLE) / CAST(100000000 AS DOUBLE)
              AS input_value_btc,
            value_usd AS input_value_usd,
            cdd AS input_cdd_days,
            is_from_coinbase
          FROM inputs_raw WHERE transaction_hash IS NOT NULL),
        stg_outputs AS (
          SELECT transaction_hash, block_id, recipient AS output_address
          FROM outputs_raw WHERE transaction_hash IS NOT NULL)
        SELECT i.input_address AS source_address,
          o.output_address AS destination_address,
          t.transaction_hash, t.block_id,
          b.block_time AS tx_time,
          i.input_value_sats AS transferred_value_sats,
          i.input_value_btc AS transferred_value_btc,
          i.input_value_usd AS transferred_value_usd,
          t.fee_sats, t.fee_btc, t.fee_usd,
          CASE WHEN i.is_from_coinbase = 1 THEN 'coinbase'
               ELSE 'standard' END AS tx_type,
          i.input_cdd_days, b.block_cdd_days, b.block_reward_btc
        FROM stg_tx t
        LEFT JOIN stg_blocks b USING (block_id)
        LEFT JOIN stg_inputs i USING (transaction_hash, block_id)
        LEFT JOIN stg_outputs o USING (transaction_hash, block_id)"""
}
