package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal-column plumbing (north-star extension): image/audio/video
  * as opaque `binary` columns with typed metadata, and a partition-batched
  * decode / feature-extract stage.
  *
  * The metadata half of the decode parses container headers
  * ([[MediaCodec.parseDims]]: PNG IHDR, JPEG SOF walk, GIF screen
  * descriptor). The pixel and sample half decodes with the JDK's own
  * codecs: gray PNG and JPEG pixels and GIF frames through
  * `javax.imageio` ([[ImageCodec]]), PCM16 WAV samples through
  * `javax.sound.sampled` ([[AudioCodec]]), as Spark's image data source
  * does with `ImageIO`. Only the feature kernel remains a clearly-marked
  * DETERMINISTIC STUB (`decodeStub` — no embedding model in the
  * container); the Spark-side plumbing is real and tested: the
  * binary column schema, the typed mapPartitions batch shape (the Scala
  * analog of mapInPandas: one iterator per partition, amortizing
  * per-batch decoder init), partition sizing, and the downstream
  * feature schema.
  *
  * Scale: decode is embarrassingly parallel per partition; the feature
  * kernel is set up once per partition, not per row — the pattern a
  * JNI / FFI model needs. A JDK reader is cheap enough to make and
  * dispose per payload. Output features are fixed-width arrays, so
  * downstream similarity ops reuse the VectorOps path.
  */
object MediaPipeline {

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long,
      format: String,
      media_bytes: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      feature: Array[Float])

  /** DETERMINISTIC STUB for the media decode. A real deployment replaces
    * this body with the codec call; the signature — bytes in, typed
    * features out — is the contract the pipeline tests. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    var h = 1125899906842597L // FNV-ish deterministic fold over the bytes
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    val width = 16 + math.floorMod(h, 640).toInt
    val height = 16 + math.floorMod(h >> 16, 480).toInt
    val frames = 1 + math.floorMod(h >> 32, 32).toInt
    val feat = Array.tabulate(8)(j =>
      (math.floorMod(h >> (j * 7), 1000) / 1000.0f))
    (width, height, frames, feat)
  }

  /** The decode stage: typed mapPartitions — per-partition decoder init,
    * then a pure iterator map (no per-row setup, no collect). Payloads
    * with a recognized container header (PNG/JPEG/GIF) get REAL decoded
    * dimensions; anything else falls back to the deterministic stub
    * with format "unknown". The feature vector always comes from the
    * stub fold — honest, since no pixel decode happens either way. */
  def decode(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition: init the (stub) feature kernel once
      val featureKernel = decodeStub _
      rows.map { r =>
        val (sw, sh, frames, feat) = featureKernel(r.payload)
        MediaCodec.parseDims(r.payload) match {
          case Some(d) => MediaFeatures(r.doc_id, d.format,
            r.payload.length, d.width, d.height, 1, feat)
          case None => MediaFeatures(r.doc_id, "unknown",
            r.payload.length, sw, sh, frames, feat)
        }
      }
    }
  }

  final case class PixelStats(doc_id: Long, width: Int, height: Int,
      mean_intensity: Double, resized_mean: Double)

  /** REAL pixel stage: payloads that are 8-bit gray PNGs or JPEGs are
    * fully decoded ([[ImageCodec.decodeGray]]) and the stats computed on
    * the RECONSTRUCTED pixels: mean intensity over the full image, and
    * mean intensity after a real nearest-neighbor resample to 16×16
    * ([[MediaCodec.resizeGrayNearest]]). Rows whose payload is neither
    * are dropped (flatMap) — this stage is the pixel path; the metadata
    * path ([[decode]]) keeps every row. The `media_pixel_stats` /
    * `jpeg_pixel_stats` gates encode images from a formula, so a decode
    * or resample bug breaks the DuckDB hash. Same mapPartitions batch
    * shape as [[decode]]: pure iterator map, no collect. */
  def pixelStats(spark: SparkSession, media: DataFrame): Dataset[PixelStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      def mean(p: Array[Byte]): Double = {
        var s = 0L; var i = 0
        while (i < p.length) { s += p(i) & 0xFF; i += 1 }
        s.toDouble / p.length
      }
      rows.flatMap { r =>
        ImageCodec.decodeGray(r.payload).map { case (w, h, px) =>
          PixelStats(r.doc_id, w, h, mean(px),
            mean(MediaCodec.resizeGrayNearest(px, w, h, 16, 16)))
        }
      }
    }
  }

  final case class AudioStats(doc_id: Long, sample_rate: Int,
      n_samples: Int, duration_ms: Double, rms: Double, peak: Int,
      zero_crossings: Int)

  /** REAL audio stage: payloads that are mono 16-bit PCM WAV are fully
    * decoded ([[AudioCodec.decodeWavPcm16]]) and signal features
    * computed on the RECONSTRUCTED samples (duration, RMS, peak, zero
    * crossings; exact-parity arithmetic documented at
    * [[AudioCodec.signalStats]]). Non-decodable payloads are dropped
    * (flatMap), same contract as [[pixelStats]]. Scale: per-partition
    * decode, no per-row setup, no collect — features are fixed-width,
    * so a 100 TB audio corpus shuffles stats, never waveforms. */
  def audioStats(spark: SparkSession, media: DataFrame): Dataset[AudioStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        AudioCodec.decodeWavPcm16(r.payload).map { case (rate, samples) =>
          val st = AudioCodec.signalStats(rate, samples)
          AudioStats(r.doc_id, rate, st.nSamples, st.durationMs, st.rms,
            st.peak, st.zeroCrossings)
        }
      }
    }
  }

  final case class FrameStats(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, mean_intensity: Double)

  /** REAL video stage: multi-frame GIF payloads are fully decoded
    * ([[ImageCodec.decodeFrames]]), then every-k frame sampling runs on
    * the REAL decoded frames (indices 0, k, 2k, …) and mean intensity
    * is computed per sampled frame: exact integer
    * sum, one double division, the same parity recipe as
    * [[pixelStats]]. One output row per (doc, sampled frame). The
    * frame fan-out happens AFTER decode inside the partition, so the
    * shuffle carries per-frame stats, never pixels. */
  def frameStats(spark: SparkSession, media: DataFrame,
      everyK: Int): Dataset[FrameStats] = {
    require(everyK > 0, s"bad sampling stride $everyK")
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      def mean(p: Array[Byte]): Double = {
        var s = 0L; var i = 0
        while (i < p.length) { s += p(i) & 0xFF; i += 1 }
        s.toDouble / p.length
      }
      rows.flatMap { r =>
        ImageCodec.decodeFrames(r.payload).toSeq.flatMap {
          case (w, h, frames) =>
            (0 until frames.length by everyK).map(f =>
              FrameStats(r.doc_id, f, w, h, mean(frames(f))))
        }
      }
    }
  }
}
