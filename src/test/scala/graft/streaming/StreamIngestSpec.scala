package graft.streaming

import graft.{Fixtures, SparkSpec}
import java.nio.file.Files

class StreamIngestSpec extends SparkSpec {

  test("malformed rows are EXCLUDED from the clean stream — no null " +
    "husks reach downstream aggregates") {
    val dir = Files.createTempDirectory("graft-stream-corrupt")
    Files.writeString(
      dir.resolve("blockchair_bitcoin_inputs_20250820.tsv"),
      Fixtures.inputsHeader + "\n" +
        "not_a_number\tbadrow\tx\ty\tz\n" + // malformed
        Fixtures.inputsRows.head + "\n")
    val clean = StreamIngest.readTsvStream(spark, dir.toString,
      graft.schema.BlockchairSchemas.inputs)
    assert(clean.isStreaming)
    assert(!clean.columns.contains("_corrupt_record"),
      "clean stream must carry the batch reader's post-quarantine schema")
    val q = clean.writeStream.format("memory").queryName("clean_inputs")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT COUNT(*) FROM clean_inputs")
      .collect()(0).getLong(0) == 1, "husk row leaked into the stream")
  }

  private def writeCsvFiles(prefix: String,
      files: Seq[Seq[String]]): java.nio.file.Path = {
    val dir = Files.createTempDirectory(prefix)
    files.zipWithIndex.foreach { case (rows, i) =>
      val f = dir.resolve(f"part_$i%03d.csv")
      Files.writeString(f, ("user_id,ts" +: rows).mkString("\n") + "\n")
      // deterministic batch order under maxFilesPerTrigger=1 (the file
      // source orders by modification time)
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000))
    }
    dir
  }

  private val evSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "user_id LONG, ts TIMESTAMP")

  private def readEvStream(dir: java.nio.file.Path,
      perTrigger: Int): org.apache.spark.sql.DataFrame =
    spark.readStream.schema(evSchema).option("header", "true")
      .option("maxFilesPerTrigger", perTrigger)
      .csv(dir.toString)

  test("sessionizeWithState: closed sessions emit in-batch, open ones " +
    "flush on event-time timeout, state is evicted") {
    val dir = writeCsvFiles("graft-sess-state", Seq(
      // batch 1: user 1 closes one session in-batch (gap 30 min
      // exceeded by the 12:00 row) and leaves one open
      Seq("1,2026-01-01 10:00:00", "1,2026-01-01 10:05:00",
        "1,2026-01-01 12:00:00"),
      // batch 2/3: user 2 pushes the watermark past user 1's timeout
      Seq("2,2026-01-01 15:00:00"),
      Seq("2,2026-01-01 15:05:00")))
    val sess = StreamIngest.sessionizeWithState(spark,
      readEvStream(dir, 1), "ts", delay = "10 minutes",
      gapMs = 30L * 60 * 1000)
    val q = sess.writeStream.format("memory").queryName("state_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT * FROM state_sessions WHERE user_id = 1" +
      " ORDER BY sess_start").collect()
    assert(rows.length == 2, s"expected 2 closed sessions for user 1: " +
      rows.mkString(", "))
    assert(rows(0).getAs[Long]("n_events") == 2) // 10:00 + 10:05
    assert(rows(1).getAs[Long]("n_events") == 1) // the timed-out 12:00
    // user 2's session never times out (watermark stops at 14:55) —
    // append mode must not leak the open session
    assert(spark.sql(
      "SELECT COUNT(*) FROM state_sessions WHERE user_id = 2")
      .collect()(0).getLong(0) == 0)
  }

  test("sessionizeWithState ≡ batch session_window on real events: " +
    "closed sessions match exactly (all but each user's open last)") {
    import org.apache.spark.sql.functions._
    val gapMs = 30L * 60 * 1000
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"))
    // ship the fixture through the SAME csv streaming source the other
    // tests use (one file → one batch → every closed session emits
    // in-batch; only each user's final session stays open/unemitted)
    val dir = Files.createTempDirectory("graft-sess-parity")
    val rows = ev.orderBy("ts", "user_id").collect().map(r =>
      s"${r.getLong(0)},${r.getTimestamp(1)}")
    Files.writeString(dir.resolve("events.csv"),
      ("user_id,ts" +: rows).mkString("\n") + "\n")
    val stream = spark.readStream.schema(evSchema)
      .option("header", "true").csv(dir.toString)
    val sess = StreamIngest.sessionizeWithState(spark, stream, "ts",
      delay = "1 minute", gapMs = gapMs)
    val q = sess.writeStream.format("memory").queryName("parity_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT user_id, sess_start, sess_end, n_events " +
      "FROM parity_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3)))
      .toSet
    // batch truth: built-in session_window with the same gap. The
    // streaming side emits EXACTLY the sessions the final watermark
    // (AvailableNow runs a no-data batch with watermark = max event
    // time - delay) proves closed: last event + gap < watermark.
    val batch = ev
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), // = last event + gap (half-open)
        col("n_events"))
    val finalWatermarkMs = ev.agg(max(col("ts")).cast("long") * 1000)
      .head.getLong(0) - 60 * 1000
    val closed = batch
      // closed ⟺ last event + gap STRICTLY below the watermark (a row
      // at exactly the watermark is admissible and would merge at
      // exactly sess_end), and sess_end IS last event + gap — asserting
      // sess_end here is what pins the two operators as drop-in
      // interchangeable (same end, same derived durations), not just
      // same membership
      .filter(col("sess_end").cast("long") * 1000 < finalWatermarkMs)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3)))
      .toSet
    assert(streamed.nonEmpty, "no closed sessions emitted")
    assert(streamed == closed,
      s"streaming/batch mismatch: only-streaming=${
        (streamed -- closed).take(3)} only-batch=${
        (closed -- streamed).take(3)}")
  }

  test("sessionize_stream gate query: executing schema pin, no pinned " +
    "cache, and row-for-row equality with its oracle-green batch twin") {
    // Q.eager contract: eager queries are exempt from the analysis-only
    // sweeps, so schema + cache hygiene pin HERE (like AnnRecallSpec
    // does for the IVF pair).
    spark.catalog.clearCache()
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.SparkEntry.queries("sessionize_stream")(spark, sf)
    assert(streamed.columns.toSeq ==
      Seq("user_id", "sess_start", "sess_end", "n_events"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "sessionize_stream left a cached plan pinned")
    val batch = graft.SparkEntry
      .queries("sessionize_closed_batch")(spark, sf)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).sortBy(t => (t._1, t._2))
      .toSeq
    val s1 = canon(streamed)
    val s2 = canon(batch)
    assert(s1.nonEmpty, "no closed sessions at sf0.001")
    assert(s1 == s2, s"streaming gate diverged from batch twin: " +
      s"only-stream=${(s1.toSet -- s2.toSet).take(3)} " +
      s"only-batch=${(s2.toSet -- s1.toSet).take(3)}")
  }

  test("mergeSessions: late points extend backwards and BRIDGE " +
    "adjacent sessions; exact-gap boundary MERGES (builtin semantics)") {
    val gap = 30L * 60 * 1000
    def m(h: Int, min: Int) = (h * 60L + min) * 60 * 1000
    // bridge: a 10:31 point melds (10:00-10:10) and (11:00-11:10)
    val bridged = StreamIngest.mergeSessions(
      Seq((m(10, 0), m(10, 10), 2L), (m(11, 0), m(11, 10), 2L)),
      Seq(m(10, 31)), gap)
    assert(bridged == Seq((m(10, 0), m(11, 10), 5L)), bridged)
    // closed boundary: exactly gap apart DOES merge — the builtin
    // session_window merges this pair (SessionBoundarySpec pins it on
    // the engine), so the custom merge must too
    val boundary = StreamIngest.mergeSessions(Nil,
      Seq(m(10, 0), m(10, 30)), gap)
    assert(boundary == Seq((m(10, 0), m(10, 30), 2L)), boundary)
    // one millisecond past the gap stays separate
    val apart = StreamIngest.mergeSessions(Nil,
      Seq(m(10, 0), m(10, 30) + 1), gap)
    assert(apart.size == 2, apart)
    // late point EARLIER than every session, beyond gap: own session
    val early = StreamIngest.mergeSessions(
      Seq((m(12, 0), m(12, 0), 1L)), Seq(m(9, 0)), gap)
    assert(early == Seq((m(9, 0), m(9, 0), 1L), (m(12, 0), m(12, 0), 1L)))
  }

  test("sessionizeWithState: a late cross-batch event merges into the " +
    "EARLIER session it belongs to, not the open one") {
    val dir = writeCsvFiles("graft-sess-late", Seq(
      // batch 1: two far-apart sessions, both in-flight (delay 1 day)
      Seq("1,2026-01-01 10:00:00", "1,2026-01-01 12:00:00"),
      // batch 2: 10:20 is LATE (earlier than the 12:00 session) and
      // belongs to the 10:00 session
      Seq("1,2026-01-01 10:20:00"),
      // batch 3: push the watermark past both sessions' gaps
      Seq("2,2026-01-02 14:00:00")))
    val sess = StreamIngest.sessionizeWithState(spark,
      readEvStream(dir, 1), "ts", delay = "1 day",
      gapMs = 30L * 60 * 1000)
    val q = sess.writeStream.format("memory").queryName("late_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.sql("SELECT sess_start, n_events FROM late_sessions" +
      " WHERE user_id = 1 ORDER BY sess_start").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
    assert(rows == Seq(("2026-01-01 10:00:00.0", 2L),
      ("2026-01-01 12:00:00.0", 1L)), rows)
  }

}
