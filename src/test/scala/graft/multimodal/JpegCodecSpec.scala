package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Pins the JPEG path of [[ImageCodec]]: exact round-trip for the
  * constant-block construction the `jpeg_pixel_stats` oracle relies on,
  * lossy-bounded round-trip for arbitrary images, and the rejection
  * contract, including the JDK reader's habit of returning a full-size
  * image plus a warning for a truncated stream. */
class JpegCodecSpec extends AnyFunSuite {

  private def decodeOrFail(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    val r = ImageCodec.decodeGray(b)
    assert(r.isDefined, "decode failed")
    r.get
  }

  test("constant-block images round-trip EXACTLY (the oracle contract)") {
    for (id <- Seq(0L, 1L, 7L, 42L, 499L, 123456L)) {
      val w = 8 * (1 + (id % 4)).toInt
      val h = 8 * (1 + ((id * 3) % 4)).toInt
      def pix(i: Int): Int = {
        val bx = (i % w) / 8; val by = (i / w) / 8
        ((id * 37 + bx * 17L + by * 29L) % 256).toInt
      }
      val (dw, dh, px) = decodeOrFail(ImageCodec.jpegGray(w, h, pix))
      assert(dw == w && dh == h)
      for (i <- 0 until w * h)
        assert((px(i) & 0xFF) == pix(i), s"id=$id pixel $i")
    }
  }

  test("extreme constant values (DC diff spans all size categories)") {
    // blocks at 0 and 255 produce DC diffs of ±255 — category 8 — and
    // the first block's DC itself exercises the full signed range
    val w = 32; val h = 8
    def pix(i: Int): Int = if ((i % w) / 8 % 2 == 0) 0 else 255
    val (_, _, px) = decodeOrFail(ImageCodec.jpegGray(w, h, pix))
    for (i <- 0 until w * h) assert((px(i) & 0xFF) == pix(i))
  }

  test("arbitrary images round-trip within the quantization loss bound") {
    val r = new scala.util.Random(0xBEEF)
    for (_ <- 1 to 3) {
      val w = 24 + r.nextInt(40)
      val h = 24 + r.nextInt(40)
      val src = Array.fill(w * h)(r.nextInt(256))
      // smooth the noise so quantization loss stays moderate: average
      // over a 3-wide neighborhood (pure noise is the worst case for
      // the coarse Annex K table)
      val smooth = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        def at(dx: Int, dy: Int) =
          src(math.min(h - 1, math.max(0, y + dy)) * w +
            math.min(w - 1, math.max(0, x + dx)))
        (at(-1, 0) + 2 * at(0, 0) + at(1, 0) + at(0, -1) + at(0, 1)) / 6
      }
      val (dw, dh, px) = decodeOrFail(ImageCodec.jpegGray(w, h, smooth))
      assert(dw == w && dh == h)
      val errs = (0 until w * h).map(i => math.abs((px(i) & 0xFF) - smooth(i)))
      assert(errs.max <= 96, s"max err ${errs.max}") // lossy but sane
      assert(errs.sum.toDouble / errs.size <= 16.0,
        s"mean err ${errs.sum.toDouble / errs.size}")
    }
  }

  test("non-multiple-of-8 dims: edge blocks encode padded, decode cropped") {
    val w = 13; val h = 21
    def pix(i: Int): Int = {
      val bx = (i % w) / 8; val by = (i / w) / 8
      (40 + bx * 90 + by * 35) % 256
    }
    val (dw, dh, px) = decodeOrFail(ImageCodec.jpegGray(w, h, pix))
    assert(dw == w && dh == h && px.length == w * h)
    // edge-replicated padding keeps edge blocks constant too → exact
    for (i <- 0 until w * h) assert((px(i) & 0xFF) == pix(i), s"pixel $i")
  }

  test("rejection contract: truncated, non-JPEG, progressive-marked") {
    assert(ImageCodec.decodeGray(Array.emptyByteArray).isEmpty)
    assert(ImageCodec.decodeGray("not a jpeg".getBytes).isEmpty)
    val ok = ImageCodec.jpegGray(8, 8, _ => 128)
    assert(ImageCodec.decodeGray(ok.take(ok.length / 2)).isEmpty)
    // flip a baseline SOF0 to SOF2 (progressive) without progressive
    // scans: must refuse, not mis-decode
    val prog = ok.clone()
    val sof = prog.indices.find(i =>
      (prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0).get
    prog(sof + 1) = 0xC2.toByte
    assert(ImageCodec.decodeGray(prog).isEmpty)
  }

  test("a truncated JPEG gives None: the JDK reader warns, it does not throw") {
    val w = 64; val h = 64
    val ok = ImageCodec.jpegGray(w, h, i => (i * 31 + i / w * 7) % 256)
    val cut = ok.dropRight(30) // inside the entropy-coded data
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cut))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    assert(ImageCodec.decodeGray(cut).isEmpty)
  }

  test("a progressive gray JPEG decodes") {
    val w = 24; val h = 16
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, 40 + (x / 8) * 60 + (y / 8) * 20)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bytes)
    writer.setOutput(out)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    out.close(); writer.dispose()
    val (dw, dh, px) = decodeOrFail(bytes.toByteArray)
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(math.abs((px(y * w + x) & 0xFF) - img.getRaster.getSample(x, y, 0)) <= 2)
  }
}
