package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Pins the header parsers against spec-built byte layouts:
  * builder→parser round-trips at boundary dimensions, hand-crafted
  * streams the builders don't emit (APP0-prefixed JPEG, fill bytes,
  * GIF), and the rejection contract (truncated / desynchronized /
  * zero-dim payloads fall back to None so the pipeline keeps its
  * "unknown" stub path instead of decoding garbage); and the PNG path
  * of [[ImageCodec]]: gray round-trip and rejection of what is not
  * 8-bit gray. */
class MediaCodecSpec extends AnyFunSuite {

  private val body = "payload-body".getBytes("UTF-8")

  test("PNG round-trip: builder bytes parse back to the same dims") {
    for ((w, h) <- Seq((1, 1), (16, 480), (640, 16), (65535, 65535), (1920, 1080))) {
      val bytes = MediaCodec.pngBytes(w, h, body)
      assert(bytes.length == 33 + body.length) // documented header size
      assert(MediaCodec.parseDims(bytes).contains(MediaCodec.Dims("png", w, h)))
    }
  }

  test("PNG: IHDR CRC is the real CRC32 of type+data") {
    val bytes = MediaCodec.pngBytes(320, 200, Array.emptyByteArray)
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, 12, 17) // "IHDR" + 13 data bytes
    val stored = ((bytes(29) & 0xFFL) << 24) | ((bytes(30) & 0xFFL) << 16) |
      ((bytes(31) & 0xFFL) << 8) | (bytes(32) & 0xFFL)
    assert(stored == crc.getValue)
  }

  test("PNG rejection: truncated header, wrong chunk tag, zero dims") {
    val good = MediaCodec.pngBytes(100, 50, body)
    assert(MediaCodec.parseDims(good.take(20)).isEmpty) // truncated mid-IHDR
    val wrongTag = good.clone(); wrongTag(12) = 'J'.toByte
    assert(MediaCodec.parseDims(wrongTag).isEmpty)
    val zeroW = good.clone()
    zeroW(16) = 0; zeroW(17) = 0; zeroW(18) = 0; zeroW(19) = 0
    assert(MediaCodec.parseDims(zeroW).isEmpty)
  }

  test("JPEG round-trip: builder bytes parse back to the same dims") {
    for ((w, h) <- Seq((1, 1), (655, 495), (65535, 1), (1, 65535))) {
      val bytes = MediaCodec.jpegBytes(w, h, body)
      assert(bytes.length == 17 + body.length)
      assert(MediaCodec.parseDims(bytes).contains(MediaCodec.Dims("jpeg", w, h)))
    }
    intercept[IllegalArgumentException](MediaCodec.jpegBytes(65536, 10, body))
    intercept[IllegalArgumentException](MediaCodec.jpegBytes(0, 10, body))
  }

  test("JPEG: marker walk skips APP0/COM/fill bytes before SOF") {
    // Hand-crafted stream the builder never emits:
    // SOI, APP0(JFIF, len 16), fill byte, COM(len 4), SOF2(progressive).
    val out = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(out.write)
    b(0xFF, 0xD8)                       // SOI
    b(0xFF, 0xE0, 0x00, 0x10)           // APP0 len=16
    out.write("JFIF".getBytes("US-ASCII")); b(0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    b(0xFF)                             // fill byte before next marker
    b(0xFF, 0xFE, 0x00, 0x04, 0x68, 0x69) // COM "hi"
    b(0xFF, 0xC2, 0x00, 0x0B, 8, 0x01, 0x00, 0x02, 0x80, 1, 1, 0x11, 0) // SOF2 h=256 w=640
    assert(MediaCodec.parseDims(out.toByteArray)
      .contains(MediaCodec.Dims("jpeg", 640, 256)))
  }

  test("JPEG rejection: SOS before SOF, desync, non-frame C4 marker") {
    // SOS before any SOF → entropy data would follow; must bail.
    val sosFirst = Array(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x02).map(_.toByte)
    assert(MediaCodec.parseDims(sosFirst).isEmpty)
    // Desynchronized: length field points into a non-FF byte.
    val desync = Array(0xFF, 0xD8, 0x00, 0xC0, 0x00, 0x0B).map(_.toByte)
    assert(MediaCodec.parseDims(desync).isEmpty)
    // DHT (C4) is not a frame header: its payload must NOT parse as dims.
    val dhtOnly = Array(0xFF, 0xD8, 0xFF, 0xC4, 0x00, 0x0B,
      8, 0x01, 0x00, 0x02, 0x80, 1, 1, 0x11, 0).map(_.toByte)
    assert(MediaCodec.parseDims(dhtOnly).isEmpty)
  }

  test("GIF: 87a and 89a screen descriptors parse little-endian") {
    def gif(ver: String, w: Int, h: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(s"GIF$ver".getBytes("US-ASCII"))
      out.write(w & 0xFF); out.write(w >> 8)
      out.write(h & 0xFF); out.write(h >> 8)
      out.write(0); out.write(0); out.write(0)
      out.toByteArray
    }
    assert(MediaCodec.parseDims(gif("89a", 800, 600))
      .contains(MediaCodec.Dims("gif", 800, 600)))
    assert(MediaCodec.parseDims(gif("87a", 1, 65535))
      .contains(MediaCodec.Dims("gif", 1, 65535)))
    assert(MediaCodec.parseDims(gif("89a", 0, 10)).isEmpty)
    assert(MediaCodec.parseDims(gif("89a", 10, 10).take(9)).isEmpty)
  }

  test("non-media bytes fall through to None (stub path)") {
    assert(MediaCodec.parseDims("plain text document".getBytes("UTF-8")).isEmpty)
    assert(MediaCodec.parseDims(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.parseDims(Array[Byte](0x00, 0x01, 0x02)).isEmpty)
  }

  test("grayscale PNG pixel round-trip: decoded pixels equal the source") {
    for ((w, h) <- Seq((1, 1), (3, 7), (16, 16), (25, 32), (128, 5))) {
      def pixel(i: Int): Int = (i * 31 + (i * i) % 97) % 256
      val bytes = ImageCodec.pngGray(w, h, pixel)
      // encoder output is also a valid header for the metadata path
      assert(MediaCodec.parseDims(bytes)
        .contains(MediaCodec.Dims("png", w, h)))
      val Some((dw, dh, px)) = ImageCodec.decodeGray(bytes)
      assert((dw, dh) == (w, h))
      assert(px.length == w * h)
      assert((0 until w * h).forall(i => (px(i) & 0xFF) == pixel(i)),
        s"pixel mismatch at ${w}x$h")
    }
  }

  test("decodeGray rejects what it cannot faithfully decode") {
    // truecolor header (the pngBytes builder) is NOT grayscale
    assert(ImageCodec.decodeGray(MediaCodec.pngBytes(4, 4, body)).isEmpty)
    // truncated IDAT: drop the tail of a valid image
    val ok = ImageCodec.pngGray(16, 16, i => i % 256)
    assert(ImageCodec.decodeGray(ok.dropRight(20)).isEmpty)
    assert(ImageCodec.decodeGray("not a png".getBytes("UTF-8")).isEmpty)
  }

  test("an RGB PNG gives None: the JDK reader decodes it, it is not gray") {
    val img = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, 0x010101 * (x * 40 + y))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val rgb = out.toByteArray
    assert(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rgb)) != null)
    assert(ImageCodec.decodeGray(rgb).isEmpty)
  }

  test("one codec home: javax.imageio and javax.sound appear in src/main " +
    "only in the codec files") {
    // a second decode path beside the codec objects would bypass their
    // accept/reject contract (gray only, warnings and short reads reject)
    val image = graft.SourceAudit.calls("""\bjavax\.imageio\b""".r)
    val sound = graft.SourceAudit.calls("""\bjavax\.sound\b""".r)
    assert(image.keySet == Set("multimodal/ImageCodec.scala"),
      s"javax.imageio outside ImageCodec: $image")
    assert(sound.keySet == Set("multimodal/AudioCodec.scala"),
      s"javax.sound outside AudioCodec: $sound")
  }

  test("nearest-neighbor resample matches the index formula (and is " +
    "identity at same size)") {
    val w = 10; val h = 6
    val px = Array.tabulate(w * h)(i => (i % 256).toByte)
    assert(MediaCodec.resizeGrayNearest(px, w, h, w, h).toSeq == px.toSeq)
    val r = MediaCodec.resizeGrayNearest(px, w, h, 4, 3)
    for (y <- 0 until 3; x <- 0 until 4)
      assert((r(y * 4 + x) & 0xFF) ==
        (px((y * h / 3) * w + (x * w / 4)) & 0xFF))
  }
}
