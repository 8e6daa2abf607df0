package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import graft.ingest.Tsv

/** Structured-Streaming variant of the daily-file ingest (SURVEY.md §2.9 /
  * §7.1 step 9 — a faithful *extension*: the reference itself is strictly
  * daily batch, so this is the "same pipeline, arriving continuously"
  * upgrade).
  *
  * Shape: file-source readStream over the landing directory (one new TSV
  * per table per day) → the SAME staging transformations used in batch
  * (pure DataFrame functions compose unchanged over streaming frames) →
  * watermarked tumbling-window aggregates for the monitoring readout.
  *
  * Scale: the file source tracks seen files in the checkpoint log;
  * maxFilesPerTrigger bounds per-batch work. Stateful aggregations carry
  * watermarks so state is bounded and late daily files (the reference's
  * retry window is 3 days) are still merged.
  */
object StreamIngest {

  /** Streaming S1: the batch reader's format ([[graft.ingest.Tsv.Format]])
    * and the batch skip-file path's EXCLUSION guarantee
    * (`Pipeline.dailyRun`): malformed rows are filtered OUT of the
    * returned stream — a PERMISSIVE husk (null fields + populated marker)
    * flowing into a watermarked aggregate is a silent correctness bug,
    * not a recoverable condition. To RETAIN the rejected rows, run
    * [[corruptTsvStream]] over the same directory as a second streaming
    * query wired to a quarantine sink. */
  def readTsvStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    rawTsvStream(spark, dir, schema, maxFilesPerTrigger)
      .filter(col(Tsv.CorruptColumn).isNull).drop(Tsv.CorruptColumn)

  /** The rejected side of [[readTsvStream]]: rows whose parse failed,
    * with the raw line in `_corrupt_record` and every schema field its
    * PERMISSIVE null husk. Kept as whole rows (not a bare-marker
    * projection) both for forensics and because a scan whose required
    * schema is ONLY the corrupt column is rejected by the CSV source. */
  def corruptTsvStream(spark: SparkSession, dir: String,
      schema: StructType, maxFilesPerTrigger: Int = 1): DataFrame =
    rawTsvStream(spark, dir, schema, maxFilesPerTrigger)
      .filter(col(Tsv.CorruptColumn).isNotNull)

  private def rawTsvStream(spark: SparkSession, dir: String,
      schema: StructType, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .options(Tsv.Format)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(Tsv.withCorrupt(schema))
      .csv(dir)

  /** Per-block-window transaction metrics with a 1-day watermark
    * (tumbling hourly windows over tx_time). Any staging transform
    * composes the same way — this is the canonical monitoring aggregate. */
  def txMetricsByWindow(stgTx: DataFrame): DataFrame =
    stgTx
      .withWatermark("tx_time", "1 day")
      .groupBy(window(col("tx_time"), "1 hour"))
      .agg(
        count(lit(1)).as("tx_count"),
        sum("fee_sats").as("fee_sats_total"),
        approx_count_distinct("transaction_hash").as("approx_tx"))
      .select(col("window.start").as("window_start"),
        col("tx_count"), col("fee_sats_total"), col("approx_tx"))

  /** Arbitrary-stateful variant: running per-address net flow via
    * flatMapGroupsWithState-style semantics, expressed with the
    * mapGroupsWithState API. */
  def runningAddressFlow(spark: SparkSession, changes: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = changes.select(col("address").as[String],
      col("value_change_sats").as[Long])
    typed.groupByKey(_._1)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        case (addr, rows, state: GroupState[Long]) =>
          val delta = rows.map(_._2).sum
          val total = state.getOption.getOrElse(0L) + delta
          state.update(total)
          (addr, total)
      }.toDF("address", "net_flow_sats")
  }

  /** Streaming exact deduplication: watermark-bounded state keyed on the
    * natural key — the streaming counterpart of dedup_exact. */
  def dedupStream(df: DataFrame, eventTimeCol: String, delay: String,
      keys: String*): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicates(keys :+ eventTimeCol)

  /** Session windows over a streaming frame — the built-in
    * session_window aggregate; state is bounded by the watermark delay
    * (a parameter like every other stateful helper here — a hardcoded
    * delay silently sets the state-retention budget). */
  def sessionWindows(df: DataFrame, eventTimeCol: String, gap: String,
      delay: String = "1 day", keyCol: String = "user_id"): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(col(keyCol),
        session_window(col(eventTimeCol), gap).as("sess"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("sess.start").as("sess_start"),
        col("sess.end").as("sess_end"), col("n_events"))

  /** Stream-static enrich: per-micro-batch dimension lookup. The static
    * side's DATA is re-read each micro-batch (so a slowly-changing dim's
    * rows pick up between batches), and it is broadcast through the size
    * gate — at 100 TB/day stream volume the dim join must never shuffle
    * the stream, but a forced hint on an unbounded side is the
    * per-executor OOM class r10-r12 removed everywhere else, so the hint
    * is now defensive-by-default ([[graft.util.SizeGate.broadcastIfSmall]]:
    * hint iff Catalyst's size estimate fits an executor; unknown = big).
    * The gate DECISION, however, is made ONCE, here at join
    * construction — it reads `dim`'s optimizedPlan stats when the
    * streaming DataFrame is built, and a static hint cannot be
    * re-evaluated per batch (ADVICE r13). A dim that grows past the
    * bound mid-stream keeps its construction-time hint until the query
    * restarts; restart-level re-gating is the supported recourse, and
    * the caller contract below is what keeps the dim from growing in
    * the first place.
    *
    * CALLER CONTRACT (broadcast audit, SCALE.md) still holds: `dim`
    * should be a genuine dimension (currencies, asset metadata, config),
    * NOT anything that grows with the fact/stream volume — the gate
    * un-hints an oversized or aggregate-shaped dim (whose stats inflate
    * to its child's size), and the join then shuffles the stream, which
    * is slow-but-safe rather than this function's fast path. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(graft.util.SizeGate.broadcastIfSmall(dim), Seq(key), "left")

  /** Stream-stream inner join with bounded state: both sides carry
    * watermarks and the join condition carries an event-time band, so
    * Spark can evict buffered rows that can never match again. Without
    * the band the state grows forever — the band IS the scale contract. */
  def joinStreamsWithinBand(left: DataFrame, leftTimeCol: String,
      right: DataFrame, rightTimeCol: String, key: String,
      watermark: String, band: String): DataFrame = {
    val l = left.withWatermark(leftTimeCol, watermark)
    val r = right.withWatermark(rightTimeCol, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTimeCol) >= l(leftTimeCol) &&
        r(rightTimeCol) <= l(leftTimeCol) + expr(s"INTERVAL $band"))
      // one key column out, not two: downstream select/groupBy on the
      // key must not hit an ambiguous-reference error
      .drop(r(key))
  }

  /** Write a streaming frame to an in-memory sink (tests / dashboards). */
  def toMemorySink(df: DataFrame, queryName: String,
      outputMode: String): DataStreamWriter[Row] =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())

  /** Streaming dedup where REDELIVERIES carry different event times
    * (a retried fetch stamps a new time): state is keyed on the natural
    * key alone and evicted once the watermark passes the FIRST arrival
    * plus the delay — the contract dedupStream (key+time equality)
    * cannot express. */
  def dedupStreamWithinWatermark(df: DataFrame, eventTimeCol: String,
      delay: String, keys: String*): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Idempotent micro-batch write: the exactly-once recipe for sinks
    * without transactions. Each batch lands in its own
    * `batch_id=<id>` directory and is sealed by a commit marker written
    * AFTER the data: on failure-replay (foreachBatch re-delivers the
    * same batchId after restart) a sealed batch is skipped and a
    * half-written one is overwritten — either way the output converges
    * to exactly-once. Local-FS marker here; on an object store the same
    * protocol runs through the FileSystem API (rename-commit). */
  def writeBatchIdempotent(batch: Dataset[Row], outDir: String,
      batchId: Long): Boolean = {
    val marker = java.nio.file.Paths.get(outDir, s"_committed_$batchId")
    if (java.nio.file.Files.exists(marker)) false
    else {
      batch.write.mode("overwrite")
        .parquet(s"$outDir/batch_id=$batchId")
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker, Array.emptyByteArray)
      true
    }
  }

  /** foreachBatch sink wrapping [[writeBatchIdempotent]]. */
  def toIdempotentParquetSink(df: DataFrame,
      outDir: String): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        writeBatchIdempotent(batch, outDir, batchId); ()
      }
      .trigger(Trigger.AvailableNow())

  /** Gap-merge new event times into an existing (disjoint, sorted)
    * session list. STRICT boundary (start < end + gap merges) to match
    * session_window's half-open [t, t+gap) window semantics. */
  private[streaming] def mergeSessions(existing: Seq[(Long, Long, Long)],
      times: Seq[Long], gapMs: Long): Seq[(Long, Long, Long)] = {
    val all = (existing ++ times.map(t => (t, t, 1L)))
      .sortBy(x => (x._1, x._2))
    all.foldLeft(Vector.empty[(Long, Long, Long)]) { (acc, nxt) =>
      acc.lastOption match {
        // <= : the BUILT-IN session_window merges events EXACTLY gap
        // apart (pinned by SessionBoundarySpec — found in round 6 when
        // one exact-30-min pair at sf0.1 split the engines); the custom
        // operator must agree or the two are not interchangeable.
        case Some((s, e, n)) if nxt._1 <= e + gapMs =>
          acc.init :+ ((s, math.max(e, nxt._2), n + nxt._3))
        case _ => acc :+ nxt
      }
    }
  }

  /** Custom-state sessionization via flatMapGroupsWithState with
    * EventTimeTimeout — the explicit-eviction counterpart of
    * [[sessionWindows]], with the SAME append semantics: state holds
    * ALL of a key's in-flight sessions, a session emits ONLY once the
    * watermark proves no admissible late row can extend it
    * (end + gap < watermark, STRICT: a row at exactly the watermark is
    * admissible and a row at exactly end + gap still merges), and
    * emitted sessions leave the store. Late rows within
    * the delay merge into — or bridge — existing in-flight sessions
    * exactly as the batch operator would. Contrast
    * [[runningAddressFlow]]'s NoTimeout: fine for a bounded key
    * domain, an unbounded store otherwise — timeouts ARE the scale
    * contract for custom state. */
  def sessionizeWithState(spark: SparkSession, events: DataFrame,
      eventTimeCol: String, delay: String, gapMs: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // watermark AFTER the cast projection: a cast on the watermarked
    // column would mint a fresh attribute without the event-time tag
    val typed = events
      .select(col("user_id").cast("long"),
        col(eventTimeCol).cast("timestamp"))
      .withWatermark(eventTimeCol, delay)
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long, Long)],
          (Long, java.sql.Timestamp, java.sql.Timestamp, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[Seq[(Long, Long, Long)]]) =>
          val wm = state.getCurrentWatermarkMs()
          val merged = mergeSessions(state.getOption.getOrElse(Nil),
            rows.map(_._2.getTime).toVector, gapMs)
          // STRICTLY below the watermark: an admissible row may arrive
          // AT the watermark (ts >= wm is not late), and with the
          // closed-boundary merge above, a row at exactly end + gap ==
          // wm must still extend the session — emitting at <= would
          // evict state the builtin batch operator would merge into.
          val (closed, open) = merged.partition(_._2 + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // wake when the earliest open session becomes provably
            // closed; never at/below the current watermark (illegal)
            state.setTimeoutTimestamp(
              math.max(open.map(_._2).min + gapMs, wm + 1))
          }
          closed.iterator.map { case (s0, e0, n0) =>
            // sess_end = last event + gap, matching session_window's
            // half-open [start, end) — NOT the last event time, so the
            // two operators are drop-in interchangeable (sess_end and
            // any derived duration agree; the parity test asserts it)
            (userId, new java.sql.Timestamp(s0),
              new java.sql.Timestamp(e0 + gapMs), n0)
          }
      }.toDF("user_id", "sess_start", "sess_end", "n_events")
  }
}
