package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Pins the GIF path of [[ImageCodec]]: container round-trips at
  * multi-frame shapes, extension-block skipping, and the rejection
  * contract — truncation (the JDK reader drops a cut last frame without
  * a warning), frames smaller than the logical screen, non-GIF bytes. */
class GifCodecSpec extends AnyFunSuite {

  test("container round-trip: frame pixels decode back exactly") {
    for ((w, h, nf) <- Seq((1, 1, 1), (8, 8, 2), (16, 9, 8), (40, 30, 3))) {
      def pixel(f: Int, i: Int): Int = (f * 101 + i * 7 + 13) % 256
      val bytes = ImageCodec.gifGray(w, h, nf, pixel)
      val Some((dw, dh, frames)) = ImageCodec.decodeFrames(bytes)
      assert(dw == w && dh == h && frames.length == nf)
      for (f <- 0 until nf; i <- 0 until w * h)
        assert((frames(f)(i) & 0xFF) == pixel(f, i), s"f=$f i=$i")
    }
  }

  test("container round-trip: a frame large enough to reset the dictionary") {
    val r = new scala.util.Random(0xF00D)
    val px = Array.fill(120 * 120)(r.nextInt(256))
    val bytes = ImageCodec.gifGray(120, 120, 1, (_, i) => px(i))
    val Some((_, _, frames)) = ImageCodec.decodeFrames(bytes)
    assert(frames.head.zipWithIndex.forall { case (b, i) => (b & 0xFF) == px(i) })
  }

  test("MediaCodec's metadata parser agrees with the full decoder") {
    val bytes = ImageCodec.gifGray(33, 21, 2, (f, i) => f + i)
    assert(MediaCodec.parseDims(bytes).contains(MediaCodec.Dims("gif", 33, 21)))
  }

  test("decoder skips extension blocks (GCE-style) between frames") {
    val bytes = ImageCodec.gifGray(4, 4, 2, (f, i) => f * 16 + i)
    // splice a Graphic Control Extension after the header and global
    // table: introducer 0x21, label 0xF9, one 4-byte sub-block,
    // terminator — the layout real encoders emit per frame
    val gce = Array[Byte](0x21, 0xF9.toByte, 4, 0, 0, 0, 0, 0)
    val packed = bytes(10) & 0xFF
    val firstBlock = 13 + (if ((packed & 0x80) != 0) 3 * (2 << (packed & 7)) else 0)
    val spliced = bytes.take(firstBlock) ++ gce ++ bytes.drop(firstBlock)
    val Some((w, h, frames)) = ImageCodec.decodeFrames(spliced)
    assert(w == 4 && h == 4 && frames.length == 2)
    assert((frames(1)(3) & 0xFF) == 19)
  }

  test("rejection: truncation, no trailer, not a GIF") {
    val good = ImageCodec.gifGray(6, 5, 1, (_, i) => i)
    assert(ImageCodec.decodeFrames(good.take(good.length - 5)).isEmpty)
    assert(ImageCodec.decodeFrames(good.dropRight(1)).isEmpty) // trailer gone
    val notGif = good.clone(); notGif(0) = 'X'.toByte
    assert(ImageCodec.decodeFrames(notGif).isEmpty)
  }

  test("a truncated multi-frame GIF gives None, not its first frames") {
    val good = ImageCodec.gifGray(20, 20, 3, (f, i) => f * 101 + i * 7)
    for (cut <- Seq(2, 5, 100)) {
      val bytes = good.dropRight(cut)
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      // the JDK reader counts the complete frames and stays silent
      assert(reader.getNumImages(true) == 2, s"cut $cut")
      reader.dispose()
      assert(ImageCodec.decodeFrames(bytes).isEmpty, s"cut $cut")
    }
  }

  test("a frame smaller than the logical screen gives None") {
    val bytes = ImageCodec.gifGray(6, 5, 2, (f, i) => f + i)
    val wide = bytes.clone()
    wide(6) = 9 // logical screen 9x5, frames still 6x5
    assert(MediaCodec.parseDims(wide).contains(MediaCodec.Dims("gif", 9, 5)))
    assert(ImageCodec.decodeFrames(wide).isEmpty)
  }
}
