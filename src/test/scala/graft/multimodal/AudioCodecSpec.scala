package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Pins the WAV/PCM codec: encoder→decoder round-trips (sample-exact),
  * byte-level layout against the RIFF spec, chunk-walk robustness
  * (unknown chunks, odd-length padding), the rejection contract for
  * unsupported flavors and short data chunks, and the signal-stats
  * arithmetic against brute-force recomputation. */
class AudioCodecSpec extends AnyFunSuite {

  private def sine(n: Int, period: Double, amp: Int): Array[Short] =
    Array.tabulate(n)(i =>
      math.round(amp * math.sin(2 * math.Pi * i / period)).toShort)

  test("round-trip: encoded samples decode back bit-exact") {
    for (n <- Seq(0, 1, 7, 256, 8000)) {
      val samples = sine(n, 37.3, 12345)
      val bytes = AudioCodec.wavPcm16(8000, samples)
      val Some((rate, back)) = AudioCodec.decodeWavPcm16(bytes)
      assert(rate == 8000)
      assert(back.sameElements(samples), s"n=$n")
    }
  }

  test("round-trip covers the full 16-bit range including extremes") {
    val samples = Array[Short](Short.MinValue, -1, 0, 1, Short.MaxValue,
      -32767, 255, -256)
    val Some((_, back)) =
      AudioCodec.decodeWavPcm16(AudioCodec.wavPcm16(44100, samples))
    assert(back.sameElements(samples))
  }

  test("byte layout matches the canonical 44-byte RIFF/WAVE header") {
    val b = AudioCodec.wavPcm16(22050, Array[Short](0x1234, -2))
    assert(b.length == 48)
    assert(new String(b, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(b, 8, 4, "US-ASCII") == "WAVE")
    assert(new String(b, 12, 4, "US-ASCII") == "fmt ")
    assert(new String(b, 36, 4, "US-ASCII") == "data")
    // riff size = total - 8, LE32 at offset 4
    val riffSize = (b(4) & 0xFF) | ((b(5) & 0xFF) << 8) |
      ((b(6) & 0xFF) << 16) | ((b(7) & 0xFF) << 24)
    assert(riffSize == b.length - 8)
    // sample 0x1234 is little-endian at offset 44
    assert((b(44) & 0xFF) == 0x34 && (b(45) & 0xFF) == 0x12)
    // -2 = 0xFFFE little-endian
    assert((b(46) & 0xFF) == 0xFE && (b(47) & 0xFF) == 0xFF)
  }

  test("decoder skips unknown chunks (even and odd length) before data") {
    val base = AudioCodec.wavPcm16(8000, sine(50, 9.1, 1000))
    // splice a LIST chunk (odd payload → pad byte) between fmt and data
    val out = new java.io.ByteArrayOutputStream()
    out.write(base, 0, 36) // through end of fmt chunk
    out.write("LIST".getBytes("US-ASCII"))
    out.write(Array[Byte](5, 0, 0, 0)) // LE32 length 5 (odd)
    out.write("INFOx".getBytes("US-ASCII"))
    out.write(0) // pad to even
    out.write(base, 36, base.length - 36) // data chunk onward
    val spliced = out.toByteArray
    // fix the riff size for the inserted 14 bytes
    val total = spliced.length - 8
    spliced(4) = (total & 0xFF).toByte
    spliced(5) = ((total >> 8) & 0xFF).toByte
    spliced(6) = ((total >> 16) & 0xFF).toByte
    spliced(7) = ((total >> 24) & 0xFF).toByte
    val Some((rate, back)) = AudioCodec.decodeWavPcm16(spliced)
    assert(rate == 8000 && back.length == 50)
  }

  test("rejection: stereo, 8-bit, non-PCM, truncated, data-before-fmt") {
    val good = AudioCodec.wavPcm16(8000, sine(20, 5.0, 500))
    assert(AudioCodec.decodeWavPcm16(good.take(40)).isEmpty) // truncated
    val stereo = good.clone(); stereo(22) = 2
    assert(AudioCodec.decodeWavPcm16(stereo).isEmpty)
    val eightBit = good.clone(); eightBit(34) = 8
    assert(AudioCodec.decodeWavPcm16(eightBit).isEmpty)
    val float32 = good.clone(); float32(20) = 3
    assert(AudioCodec.decodeWavPcm16(float32).isEmpty)
    val notRiff = good.clone(); notRiff(0) = 'X'.toByte
    assert(AudioCodec.decodeWavPcm16(notRiff).isEmpty)
    // a data chunk that claims more bytes than the buffer holds
    val lying = good.clone()
    lying(40) = (lying(40) + 64).toByte
    assert(AudioCodec.decodeWavPcm16(lying).isEmpty)
  }

  test("a WAV whose data chunk is shorter than declared gives None") {
    val good = AudioCodec.wavPcm16(8000, sine(100, 7.0, 3000))
    val short = good.dropRight(10)
    // the JDK reader reports the declared 100 frames, then reads fewer
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(short))
    assert(in.getFrameLength == 100 && in.readAllBytes().length == 190)
    in.close()
    assert(AudioCodec.decodeWavPcm16(short).isEmpty)
  }

  test("signal stats match brute-force recomputation") {
    val samples = sine(1000, 23.7, 9000)
    val st = AudioCodec.signalStats(8000, samples)
    assert(st.nSamples == 1000)
    assert(st.durationMs == 125.0)
    val sumSq = samples.map(s => s.toLong * s).sum
    assert(st.rms == math.sqrt(sumSq / 1000.0))
    assert(st.peak == samples.map(s => math.abs(s.toInt)).max)
    val zc = samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
    assert(st.zeroCrossings == zc)
  }

  test("zero-crossing convention: zero counts as non-negative") {
    // -1 -> 0 is a crossing (neg to non-neg); 0 -> 1 is not; 1 -> -1 is
    val st = AudioCodec.signalStats(8000, Array[Short](-1, 0, 1, -1))
    assert(st.zeroCrossings == 2)
  }

  test("empty stream stats are defined (no divide-by-zero)") {
    val st = AudioCodec.signalStats(8000, Array.empty[Short])
    assert(st.nSamples == 0 && st.rms == 0.0 && st.peak == 0 &&
      st.zeroCrossings == 0 && st.durationMs == 0.0)
  }
}
