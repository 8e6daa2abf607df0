package graft.multimodal

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriter}
import javax.imageio.metadata.IIOMetadataNode
import javax.imageio.plugins.jpeg.JPEGQTable
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import scala.util.control.NonFatal

/** Gray pixel codec of the multimodal tier over the JDK's own
  * `javax.imageio` readers and writers for PNG, JPEG and GIF — the
  * library Spark's image data source decodes with. The encoders build
  * the formula images the `media_pixel_stats`, `jpeg_pixel_stats` and
  * `video_frame_stats` gates decode.
  *
  * Accept/reject contract of the decoders: 8-bit single-band gray PNG
  * or JPEG; GIF frames as the palette's red channel, every frame the
  * size of the logical screen. Anything else, any reader exception and
  * any reader warning gives None, so callers drop the row.
  *
  * Streams live in memory (`MemoryCache*` streams; the JVM-global
  * `ImageIO.setUseCache` is left alone) and every reader and writer is
  * disposed after one payload.
  */
object ImageCodec {

  private val JpegMeta = "javax_imageio_jpeg_image_1.0"

  /** Annex K.1 luminance table (natural order) with the DC entry
    * lowered 16 → 8. A block constant at v has one nonzero coefficient,
    * DC = 8·(v−128), which this table quantizes to the integer v−128, so
    * images constant per 8×8 block decode bit-exactly. The AC entries
    * are the spec's: other images are lossy. */
  private val quantTable = new JPEGQTable(Array(
    8, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99))

  /** Palette index g is gray (g, g, g), so GIF indices are gray values. */
  private val grayPalette = {
    val g = Array.tabulate(256)(_.toByte)
    new IndexColorModel(8, 256, g, g, g)
  }

  /** Every complete GIF with a frame ends in a block terminator and the
    * trailer. The JDK reader drops a cut last frame without a warning. */
  private val gifEnd = Array[Byte](0, 0x3B)

  /** 8-bit gray PNG; `pixel(i)` is row-major pixel i, masked to 0–255. */
  def pngGray(width: Int, height: Int, pixel: Int => Int): Array[Byte] =
    encode("png")(_.write(fill(
      new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY), pixel)))

  /** Baseline gray JPEG over [[quantTable]], set through the image
    * metadata: a stream written with `JPEGImageWriteParam.setEncodeTables`
    * carries no tables and reads back as "Quantization table 0x00 was not
    * defined". Edge blocks are padded by replication. */
  def jpegGray(width: Int, height: Int, pixel: Int => Int): Array[Byte] = {
    val img = fill(
      new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY), pixel)
    encode("jpeg") { writer =>
      val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
      val tree = meta.getAsTree(JpegMeta).asInstanceOf[IIOMetadataNode]
      tree.getElementsByTagName("dqtable").item(0)
        .asInstanceOf[IIOMetadataNode].setUserObject(quantTable)
      meta.setFromTree(JpegMeta, tree)
      writer.write(null, new IIOImage(img, null, meta), null)
    }
  }

  /** Multi-frame GIF89a over [[grayPalette]]; `pixel(f, i)` is frame f's
    * row-major pixel i, masked to 0–255. */
  def gifGray(width: Int, height: Int, nFrames: Int,
      pixel: (Int, Int) => Int): Array[Byte] = {
    require(nFrames > 0, s"bad frame count $nFrames")
    encode("gif") { writer =>
      writer.prepareWriteSequence(null)
      for (f <- 0 until nFrames)
        writer.writeToSequence(new IIOImage(fill(new BufferedImage(width,
          height, BufferedImage.TYPE_BYTE_INDEXED, grayPalette), pixel(f, _)),
          null, null), null)
      writer.endWriteSequence()
    }
  }

  /** (width, height, row-major pixels) of an 8-bit single-band gray PNG
    * or JPEG; None for anything else. */
  def decodeGray(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    MediaCodec.parseDims(b).filter(d => d.format == "png" || d.format == "jpeg")
      .flatMap(d => read(b, d.format)).collect {
        case Vector(img) if img.getType == BufferedImage.TYPE_BYTE_GRAY =>
          (img.getWidth, img.getHeight, img.getRaster.getDataElements(0, 0,
            img.getWidth, img.getHeight, null).asInstanceOf[Array[Byte]])
      }

  /** (width, height, frames) of a GIF whose every frame covers the
    * logical screen; a frame's gray is its palette's red channel. */
  def decodeFrames(b: Array[Byte]): Option[(Int, Int, Vector[Array[Byte]])] =
    for {
      d <- MediaCodec.parseDims(b) if d.format == "gif" && b.endsWith(gifEnd)
      frames <- read(b, "gif")
      if frames.nonEmpty &&
        frames.forall(f => f.getWidth == d.width && f.getHeight == d.height)
    } yield (d.width, d.height, frames.map { f =>
      val palette = f.getColorModel
      f.getRaster.getSamples(0, 0, d.width, d.height, 0, null: Array[Int])
        .map(palette.getRed(_).toByte)
    })

  private def fill(img: BufferedImage, pixel: Int => Int): BufferedImage = {
    img.getRaster.setSamples(0, 0, img.getWidth, img.getHeight, 0,
      Array.tabulate(img.getWidth * img.getHeight)(pixel(_) & 0xFF))
    img
  }

  private def encode(format: String)(write: ImageWriter => Unit): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    try { writer.setOutput(out); write(writer) }
    finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  /** Every image in `b`, read by the JDK reader for `format`. A reader
    * warning means rejection: the JPEG reader returns a full-size image
    * plus a warning for a truncated stream. */
  private def read(b: Array[Byte], format: String): Option[Vector[BufferedImage]] = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    val reader = ImageIO.getImageReadersByFormatName(format).next()
    var warned = false
    reader.addIIOReadWarningListener((_, _) => warned = true)
    try {
      reader.setInput(in)
      val images = Vector.tabulate(reader.getNumImages(true))(reader.read(_))
      if (warned) None else Some(images)
    } catch { case NonFatal(_) => None }
    finally { reader.dispose(); in.close() }
  }
}
