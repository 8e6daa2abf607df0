package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
import scala.util.control.NonFatal

/** WAV/PCM audio codec of the multimodal tier over the JDK's own
  * `javax.sound.sampled` WAV writer and reader, plus the signal features
  * [[MediaPipeline.audioStats]] computes on decoded samples. The
  * `audio_signal_stats` gate encodes formula samples with [[wavPcm16]]
  * and decodes them back with [[decodeWavPcm16]].
  *
  * Accept/reject contract: mono, 16-bit, signed, little-endian PCM at a
  * positive rate, with every declared sample present. Anything else —
  * compressed formats, multi-channel, other bit depths, truncated or
  * non-WAV streams — decodes to None and callers drop the row. The
  * reference has no audio surface (its widest binary column is the
  * inputs dump's SPENDING_WITNESS varchar,
  * sql/ddl/create_inputs_raw.sql:20); this is north-star scope: the
  * decode kernel a 100 TB training-data pipeline runs per partition
  * inside [[MediaPipeline]]'s typed mapPartitions stage.
  */
object AudioCodec {

  /** Canonical 44-byte-header mono 16-bit PCM WAV. */
  def wavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"bad sample rate $sampleRate")
    val pcm = ByteBuffer.allocate(2 * samples.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    pcm.asShortBuffer.put(samples)
    val out = new ByteArrayOutputStream(44 + pcm.capacity)
    AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(pcm.array),
      new AudioFormat(sampleRate.toFloat, 16, 1, true, false),
      samples.length), AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** (sampleRate, samples) of a WAV inside the contract above. The JDK
    * reader reports the data chunk's declared frame count but returns
    * fewer bytes for a short chunk, so a short read means rejection. */
  def decodeWavPcm16(b: Array[Byte]): Option[(Int, Array[Short])] =
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(b))
      try {
        val f = in.getFormat
        if (f.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          f.getChannels != 1 || f.getSampleSizeInBits != 16 || f.isBigEndian ||
          f.getSampleRate < 1) None
        else {
          val pcm = in.readAllBytes()
          if (pcm.length != 2 * in.getFrameLength) None
          else {
            val samples = new Array[Short](pcm.length / 2)
            ByteBuffer.wrap(pcm).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer
              .get(samples)
            Some((f.getSampleRate.toInt, samples))
          }
        }
      } finally in.close()
    } catch { case NonFatal(_) => None }

  final case class SignalStats(
      nSamples: Int,
      durationMs: Double,
      rms: Double,
      peak: Int,
      zeroCrossings: Int)

  /** Signal features over decoded PCM. Arithmetic is chosen for exact
    * engine parity with the DuckDB oracle: the squared sum stays an
    * exact Long (max 2^15² per sample — overflow needs >2^33 samples,
    * far past any fixture), then ONE double division and sqrt; a
    * zero crossing is a strict sign-bit change with 0 counted as
    * non-negative, i.e. `(prev < 0) != (cur < 0)`. */
  def signalStats(sampleRate: Int, samples: Array[Short]): SignalStats = {
    val n = samples.length
    var sumSq = 0L
    var peak = 0
    var zc = 0
    var i = 0
    while (i < n) {
      val s = samples(i).toInt
      sumSq += s.toLong * s
      val a = math.abs(s)
      if (a > peak) peak = a
      if (i > 0 && ((samples(i - 1) < 0) != (s < 0))) zc += 1
      i += 1
    }
    val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n.toDouble)
    SignalStats(n, n * 1000.0 / sampleRate, rms, peak, zc)
  }
}
