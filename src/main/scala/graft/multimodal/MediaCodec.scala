package graft.multimodal

/** Container headers of the multimodal tier: dimension parsers for
  * the formats whose width and height sit in a fixed header layout —
  * PNG (IHDR), JPEG (SOF segment walk), GIF (logical screen
  * descriptor) — and header builders ([[pngBytes]], [[jpegBytes]]) that
  * emit spec-conformant headers (PNG chunk CRCs included) before an
  * arbitrary body. `media_decode_dims` builds headers plus text bytes,
  * which no pixel decoder accepts, and parses them back: build at a
  * known size → parse → compare against the formula. Pixel decode is
  * [[ImageCodec]]'s, which also uses [[parseDims]] to pick a reader.
  */
object MediaCodec {

  final case class Dims(format: String, width: Int, height: Int)

  private val pngSig =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
  private val gif87 = "GIF87a".getBytes("US-ASCII")
  private val gif89 = "GIF89a".getBytes("US-ASCII")

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)

  private def startsWith(b: Array[Byte], prefix: Array[Byte]): Boolean =
    b.length >= prefix.length && prefix.indices.forall(i => b(i) == prefix(i))

  /** Decode (format, width, height) from the payload's container
    * header; None for unrecognized/truncated bytes (callers fall back
    * to the stub path for non-media payloads). */
  def parseDims(b: Array[Byte]): Option[Dims] =
    if (startsWith(b, pngSig)) parsePng(b)
    else if (b.length >= 4 && u8(b, 0) == 0xFF && u8(b, 1) == 0xD8)
      parseJpeg(b)
    else if (startsWith(b, gif87) || startsWith(b, gif89)) parseGif(b)
    else None

  /** PNG: the IHDR chunk MUST be first (PNG spec 5.6), so width/height
    * sit at fixed offsets 16/20 after the 8-byte signature and the
    * 8-byte chunk header. */
  private def parsePng(b: Array[Byte]): Option[Dims] =
    if (b.length >= 24 &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val w = be32(b, 16)
      val h = be32(b, 20)
      if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
        Some(Dims("png", w.toInt, h.toInt))
      else None
    } else None

  /** JPEG: walk the marker stream from SOI to the first SOF segment
    * (C0–CF minus the non-frame C4/C8/CC); height then width are
    * big-endian at offsets +5/+7 of the segment. Entropy-coded data
    * never precedes the first SOF, so the walk stays in marker space. */
  private def parseJpeg(b: Array[Byte]): Option[Dims] = {
    def isSof(m: Int): Boolean =
      m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xFF) return None // desynchronized stream
      val m = u8(b, i + 1)
      if (m == 0xFF) { i += 1 } // fill byte
      else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) { i += 2 } // standalone
      else if (m == 0xD9 || m == 0xDA) return None // EOI/SOS before SOF
      else {
        val len = be16(b, i + 2)
        if (len < 2) return None
        if (isSof(m)) {
          return if (i + 8 < b.length) {
            val h = be16(b, i + 5)
            val w = be16(b, i + 7)
            if (w > 0 && h > 0) Some(Dims("jpeg", w, h)) else None
          } else None
        }
        i += 2 + len
      }
    }
    None
  }

  /** GIF: logical screen descriptor — little-endian u16 at 6/8. */
  private def parseGif(b: Array[Byte]): Option[Dims] =
    if (b.length >= 10) {
      val w = le16(b, 6)
      val h = le16(b, 8)
      if (w > 0 && h > 0) Some(Dims("gif", w, h)) else None
    } else None

  /** Spec-conformant PNG header (signature + IHDR with real CRC32) with
    * `trailer` standing in for the IDAT/IEND body. 33 header bytes. */
  def pngBytes(width: Int, height: Int, trailer: Array[Byte]): Array[Byte] = {
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write("IHDR".getBytes("US-ASCII"))
    writeBe32(ihdr, width)
    writeBe32(ihdr, height)
    ihdr.write(8) // bit depth
    ihdr.write(2) // color type: truecolor
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // compression/filter/interlace
    val chunk = ihdr.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(chunk)
    val out = new java.io.ByteArrayOutputStream()
    out.write(pngSig)
    writeBe32(out, chunk.length - 4) // data length excludes the type tag
    out.write(chunk)
    writeBe32(out, crc.getValue.toInt)
    out.write(trailer)
    out.toByteArray
  }

  /** Minimal JPEG stream: SOI + baseline SOF0 (1 component) + EOI, then
    * `trailer`. 17 header bytes before the trailer. */
  def jpegBytes(width: Int, height: Int, trailer: Array[Byte]): Array[Byte] = {
    require(width > 0 && width <= 0xFFFF && height > 0 && height <= 0xFFFF,
      s"JPEG dims are u16: ${width}x$height")
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8) // SOI
    out.write(0xFF); out.write(0xC0) // SOF0
    out.write(0x00); out.write(0x0B) // segment length = 11
    out.write(8) // precision
    out.write(height >> 8); out.write(height & 0xFF)
    out.write(width >> 8); out.write(width & 0xFF)
    out.write(1) // 1 component
    out.write(1); out.write(0x11); out.write(0) // id, 1x1 sampling, qtable
    out.write(0xFF); out.write(0xD9) // EOI
    out.write(trailer)
    out.toByteArray
  }

  private def writeBe32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 24) & 0xFF); out.write((v >>> 16) & 0xFF)
    out.write((v >>> 8) & 0xFF); out.write(v & 0xFF)
  }

  /** Nearest-neighbor resample of a row-major grayscale image, the
    * resize step of [[MediaPipeline.pixelStats]]. Source index =
    * floor(dst * src / dstDim), the formula the DuckDB oracle mirrors. */
  def resizeGrayNearest(px: Array[Byte], w: Int, h: Int, nw: Int,
      nh: Int): Array[Byte] =
    Array.tabulate(nh * nw) { i =>
      val x = i % nw; val y = i / nw
      px((y.toLong * h / nh).toInt * w + (x.toLong * w / nw).toInt)
    }
}
