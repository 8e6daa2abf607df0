package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.multimodal.{AudioCodec, ImageCodec, MediaPipeline}

/** Audio, video and JPEG multimodal queries (north-star extensions;
  * the PNG tier lives in [[VectorOps]]). All follow the "real codec
  * under the hash gate" recipe of `media_pixel_stats`: each doc's
  * payload is REAL container bytes encoded from a formula by the JDK's
  * own codecs ([[ImageCodec]], [[AudioCodec]]), the query runs the FULL
  * decode path inside the typed mapPartitions stage, and the DuckDB
  * oracle recomputes the expected features directly from the
  * generating formula — so a regression in the decode wiring (format
  * and accept checks, sample order, frame sampling, or the stats
  * arithmetic) breaks the hash, not just a unit test.
  *
  * Exact-parity notes (the recipe that keeps both engines
  * IEEE-identical before ROUND(6)): every accumulated quantity is an
  * exact integer sum (bounded far below 2^53, so double-represented
  * partials are exact in any order), followed by at most one double
  * division and one sqrt, written as the same op sequence on both
  * sides.
  */
object MediaOps extends QueryModule {

  override val all: Seq[Q] = Seq(

    // ---- REAL audio decode under the hash gate: per doc, n = 64 +
    //      doc_id % 193 PCM samples from sample(i) = (doc_id·131 +
    //      i²·17 + i·7919) mod 4001 − 2000 (a sign-alternating
    //      waveform, so the zero-crossing counter is actually
    //      exercised), packed into a mono 16-bit WAV and decoded back
    //      through the JDK's WAV reader. Features:
    //      duration (one double division), RMS (exact Long Σs² — max
    //      256·2000² ≈ 2^30 — then one division + sqrt), peak
    //      (integer max), zero crossings (strict sign-bit change,
    //      0 counted non-negative, the same `(prev<0) != (s<0)` on
    //      both sides — the oracle recomputes prev from the formula
    //      at i−1 rather than a window lag, keeping the CTE
    //      join-free).
    Q("audio_signal_stats",
      (s, d) => {
        import s.implicits._
        val payloads = documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val n = (64 + id % 193).toInt
            val samples = Array.tabulate(n)(i =>
              ((id * 131 + i.toLong * i * 17 + i.toLong * 7919) % 4001
                - 2000).toShort)
            MediaPipeline.MediaRow(id, AudioCodec.wavPcm16(8000, samples))
          }.toDF()
        MediaPipeline.audioStats(s, payloads).toDF()
          .select(col("doc_id"), col("sample_rate"), col("n_samples"),
            round(col("duration_ms"), 6).as("duration_ms"),
            round(col("rms"), 6).as("rms"),
            col("peak"), col("zero_crossings"))
      },
      Some("""WITH sam AS (
                SELECT d.doc_id,
                  g.i,
                  (d.doc_id * 131 + g.i * g.i * 17 + g.i * 7919) % 4001
                    - 2000 AS s,
                  CASE WHEN g.i = 0 THEN NULL
                    ELSE (d.doc_id * 131 + (g.i - 1) * (g.i - 1) * 17
                      + (g.i - 1) * 7919) % 4001 - 2000 END AS prev
                FROM documents d
                JOIN generate_series(0, 256) AS g(i)
                  ON g.i < 64 + d.doc_id % 193)
              SELECT doc_id,
                8000 AS sample_rate,
                CAST(64 + doc_id % 193 AS INT) AS n_samples,
                ROUND((64 + doc_id % 193) * 1000.0 / 8000, 6)
                  AS duration_ms,
                ROUND(SQRT(SUM(s * s)
                  / CAST(64 + doc_id % 193 AS DOUBLE)), 6) AS rms,
                CAST(MAX(ABS(s)) AS INT) AS peak,
                CAST(SUM(CASE WHEN i > 0 AND ((prev < 0) <> (s < 0))
                  THEN 1 ELSE 0 END) AS INT) AS zero_crossings
              FROM sam GROUP BY doc_id""")),

    // ---- REAL multi-frame video decode + frame sampling under the
    //      hash gate: per doc, an animated grayscale GIF at w = 8 +
    //      doc_id % 9, h = 8 + (doc_id·3) % 9, 2 + doc_id % 7 frames,
    //      pixel(f, i) = (doc_id·13 + f·101 + i·7) mod 256, written
    //      and read back by the JDK's GIF codec (GifCodecSpec pins
    //      larger round-trips). Every-2 frame sampling runs on the
    //      DECODED frames; mean intensity per sampled frame is the
    //      exact-sum recipe. The oracle enumerates (doc, sampled
    //      frame, pixel) via theta-joined constant series — dims are
    //      bounded (≤16×16, ≤8 frames) exactly so it can.
    Q("video_frame_stats",
      (s, d) => {
        import s.implicits._
        val payloads = documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val w = (8 + id % 9).toInt
            val h = (8 + (id * 3) % 9).toInt
            val nf = (2 + id % 7).toInt
            MediaPipeline.MediaRow(id, ImageCodec.gifGray(w, h, nf,
              (f, i) => ((id * 13 + f * 101L + i * 7L) % 256).toInt))
          }.toDF()
        MediaPipeline.frameStats(s, payloads, everyK = 2).toDF()
          .select(col("doc_id"), col("frame_idx"), col("width"),
            col("height"),
            round(col("mean_intensity"), 6).as("mean_intensity"))
      },
      Some("""WITH dims AS (
                SELECT doc_id,
                  CAST(8 + doc_id % 9 AS INT) AS w,
                  CAST(8 + (doc_id * 3) % 9 AS INT) AS h,
                  CAST(2 + doc_id % 7 AS INT) AS nf
                FROM documents),
              fr AS (
                SELECT d.doc_id, d.w, d.h, g.f
                FROM dims d JOIN generate_series(0, 7) AS g(f)
                  ON g.f < d.nf AND g.f % 2 = 0),
              px AS (
                SELECT fr.doc_id, fr.f, fr.w, fr.h,
                  AVG(CAST((fr.doc_id * 13 + fr.f * 101 + g.i * 7) % 256
                    AS DOUBLE)) AS mi
                FROM fr JOIN generate_series(0, 255) AS g(i)
                  ON g.i < CAST(fr.w AS BIGINT) * fr.h
                GROUP BY 1, 2, 3, 4)
              SELECT doc_id, CAST(f AS INT) AS frame_idx, w AS width,
                h AS height, ROUND(mi, 6) AS mean_intensity
              FROM px""")),

    // ---- REAL baseline-JPEG decode under the hash gate. JPEG is LOSSY, so
    //      the formula-oracle recipe needs images whose decode is
    //      bit-exact by construction: each image is CONSTANT per 8×8
    //      block (w = 8·(1 + doc_id % 4), h = 8·(1 + (doc_id·3) % 4),
    //      block value v(bx,by) = (doc_id·37 + bx·17 + by·29) mod 256).
    //      A constant block carries only its DC coefficient 8·(v−128);
    //      with the DC quant entry at 8 it quantizes losslessly and the
    //      DC-only IDCT is the constant v−128 — so the decoded pixels
    //      equal the formula and DuckDB can recompute both means (the
    //      JDK codec's lossy general path is bounded in JpegCodecSpec).
    //      Resample mirror: src index = dst·src/16 integer division,
    //      then block index = src/8 — same recipe as `media_pixel_stats`.
    Q("jpeg_pixel_stats",
      (s, d) => {
        import s.implicits._
        val payloads = documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val w = 8 * (1 + (id % 4)).toInt
            val h = 8 * (1 + ((id * 3) % 4)).toInt
            MediaPipeline.MediaRow(id, ImageCodec.jpegGray(w, h, { i =>
              val bx = (i % w) / 8; val by = (i / w) / 8
              ((id * 37 + bx * 17L + by * 29L) % 256).toInt
            }))
          }.toDF()
        MediaPipeline.pixelStats(s, payloads).toDF()
          .select(col("doc_id"), col("width"), col("height"),
            round(col("mean_intensity"), 6).as("mean_intensity"),
            round(col("resized_mean"), 6).as("resized_mean"))
      },
      Some("""WITH dims AS (
                SELECT doc_id,
                  CAST(1 + doc_id % 4 AS INT) AS nbx,
                  CAST(1 + (doc_id * 3) % 4 AS INT) AS nby
                FROM documents),
              -- blocks are equal-sized (dims are multiples of 8), so the
              -- pixel mean equals the mean over block values
              full_px AS (
                SELECT d.doc_id, d.nbx * 8 AS w, d.nby * 8 AS h,
                  AVG(CAST((d.doc_id * 37 + gx.bx * 17 + gy.by * 29) % 256
                    AS DOUBLE)) AS mi
                FROM dims d
                JOIN generate_series(0, 3) AS gx(bx) ON gx.bx < d.nbx
                JOIN generate_series(0, 3) AS gy(by) ON gy.by < d.nby
                GROUP BY 1, 2, 3),
              rs AS (
                SELECT d.doc_id,
                  AVG(CAST((d.doc_id * 37
                    + (((g.j % 16) * (d.nbx * 8) // 16) // 8) * 17
                    + (((g.j // 16) * (d.nby * 8) // 16) // 8) * 29) % 256
                    AS DOUBLE)) AS rmi
                FROM dims d CROSS JOIN generate_series(0, 255) AS g(j)
                GROUP BY 1)
              SELECT f.doc_id, CAST(f.w AS INT) AS width,
                CAST(f.h AS INT) AS height,
                ROUND(f.mi, 6) AS mean_intensity,
                ROUND(rs.rmi, 6) AS resized_mean
              FROM full_px f JOIN rs USING (doc_id)"""))
  )
}
