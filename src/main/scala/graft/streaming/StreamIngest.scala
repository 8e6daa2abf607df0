package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ingest.Tsv

/** Structured-Streaming variant of the daily-file ingest (SURVEY.md §2.9 /
  * §7.1 step 9 — a faithful *extension*: the reference itself is strictly
  * daily batch, so this is the "same pipeline, arriving continuously"
  * upgrade).
  *
  * Two pieces, each with a registry caller: the TSV stream reader
  * (`pipeline_stream_trace_mart` lands its arrivals through it) and the
  * custom-state sessionizer (`sessionize_stream`). Everything between
  * them is plain DataFrame code: the batch staging and model transforms
  * compose unchanged over a streaming frame, so the streaming tier needs
  * no helper per Structured-Streaming API.
  *
  * Scale: the file source tracks seen files in the checkpoint log;
  * maxFilesPerTrigger bounds per-batch work. The sessionizer's state is
  * bounded by its watermark and event-time timeouts.
  */
object StreamIngest {

  /** Streaming S1: the batch reader's format ([[graft.ingest.Tsv.Format]])
    * and the batch skip-file path's EXCLUSION guarantee
    * (`Pipeline.dailyRun`): malformed rows are filtered OUT of the
    * returned stream — a PERMISSIVE husk (null fields + populated marker)
    * flowing into a downstream aggregate is a silent correctness bug,
    * not a recoverable condition. */
  def readTsvStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    rawTsvStream(spark, dir, schema, maxFilesPerTrigger)
      .filter(col(Tsv.CorruptColumn).isNull).drop(Tsv.CorruptColumn)

  private def rawTsvStream(spark: SparkSession, dir: String,
      schema: StructType, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .options(Tsv.Format)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(Tsv.withCorrupt(schema))
      .csv(dir)

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
    * EventTimeTimeout — the explicit-eviction counterpart of the built-in
    * `session_window` aggregate, with the SAME append semantics: state holds
    * ALL of a key's in-flight sessions, a session emits ONLY once the
    * watermark proves no admissible late row can extend it
    * (end + gap < watermark, STRICT: a row at exactly the watermark is
    * admissible and a row at exactly end + gap still merges), and
    * emitted sessions leave the store. Late rows within
    * the delay merge into — or bridge — existing in-flight sessions
    * exactly as the batch operator would. Timeouts ARE the scale
    * contract for custom state: without one the store grows with the
    * key domain. */
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
