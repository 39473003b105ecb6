package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{ImageCodec, MmIn}
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import javax.imageio.ImageIO

/** The real image path behind q60/q61/q109: `javax.imageio` PNG/BMP
  * decode against hand-built and generated rasters, the nearest-neighbor
  * half resize, and the drop posture of the batched Dataset operators.
  */
class MultimodalSpec extends SparkSpec {

  private def b(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("real decode: a known 2x2 gray PNG round-trips bit-exactly") {
    // Hand-built image, pixels [[1,2],[3,4]] — the decoded stats must be
    // exactly those four values, proving the javax.imageio path parses
    // real PNG bytes, not a fake.
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSample(0, 0, 0, 1)
    img.getRaster.setSample(1, 0, 0, 2)
    img.getRaster.setSample(0, 1, 0, 3)
    img.getRaster.setSample(1, 1, 0, 4)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val blob = bos.toByteArray
    // it really is a PNG container on the wire
    assert((blob(0) & 0xFF) == 0x89 && new String(blob, 1, 3, StandardCharsets.US_ASCII) == "PNG")
    val d = ImageCodec.decode(blob)
    assert(d == ImageCodec.Decoded("png", 2, 2, 1, 10L, 1, 4), s"got $d")
  }

  test("real decode: gray/RGB/RGBA PNGs round-trip the generated lattice") {
    for (docId <- Seq(0L, 1L, 2L, 41L)) {
      val (w, h, c) = ImageCodec.dims(docId)
      val d = ImageCodec.decode(ImageCodec.encode(docId, w, h, c))
      val samples = for {
        y <- 0 until h; x <- 0 until w; b <- 0 until c
      } yield ImageCodec.sample(docId, x, y, b)
      assert(d.format == "png" && d.width == w && d.height == h && d.channels == c)
      assert(d.sampleSum == samples.map(_.toLong).sum, s"doc $docId sum")
      assert(d.sampleMin == samples.min && d.sampleMax == samples.max, s"doc $docId min/max")
    }
  }

  test("real decode: format sniffing distinguishes BMP from PNG") {
    val bmp = ImageCodec.encode(7L, 5, 4, 3, format = "bmp")
    assert(new String(bmp, 0, 2, StandardCharsets.US_ASCII) == "BM")
    val d = ImageCodec.decode(bmp)
    assert(d.format == "bmp" && d.width == 5 && d.height == 4 && d.channels == 3)
    val expected = for {
      y <- 0 until 4; x <- 0 until 5; b <- 0 until 3
    } yield ImageCodec.sample(7L, x, y, b).toLong
    assert(d.sampleSum == expected.sum)
  }

  test("real decode: foreign bytes decode to null (drop posture)") {
    assert(ImageCodec.decode(b("not an image at all")) == null)
    assert(ImageCodec.decode(null) == null)
  }

  test("resizeHalfStats: nearest-neighbor picks exactly the even lattice") {
    // doc 0: 4x4 gray — resized 2x2 takes source pixels (0,0) (2,0) (0,2)
    // (2,2); assert against the hand-computed sample() values, proving a
    // real raster decode + downsample, not a stats shortcut
    import spark.implicits._
    val (w, h, c) = ImageCodec.dims(0L)
    assert((w, h, c) == (4, 4, 1))
    val in = Seq(Multimodal.MmIn(0L, ImageCodec.encode(0L, w, h, c)),
      Multimodal.MmIn(1L, b("not an image"))).toDS()
    val out = Multimodal.resizeHalfStats(in).collect()
    assert(out.map(_.doc_id).toSeq == Seq(0L)) // corrupt blob dropped
    val expected = for (y <- Seq(0, 2); x <- Seq(0, 2))
      yield ImageCodec.sample(0L, x, y, 0)
    val r = out.head
    assert(r.rw == 2 && r.rh == 2)
    assert(r.rsum == expected.map(_.toLong).sum &&
      r.rmin == expected.min && r.rmax == expected.max)
  }

  test("decodeImages drops corrupt blobs instead of killing the task") {
    // One genuine PNG, one garbage blob, one null blob in the same
    // partition: the dataset op must surface only the decodable row —
    // the KPL-style drop posture — not NPE the whole Spark task.
    import spark.implicits._
    val (w, h, c) = ImageCodec.dims(5L)
    val rows = Seq(
      MmIn(5L, ImageCodec.encode(5L, w, h, c)),
      MmIn(6L, b("corrupt: not an image")),
      MmIn(7L, null))
    val out = Multimodal.decodeImages(rows.toDS().repartition(1)).collect()
    assert(out.map(_.doc_id).toSeq == Seq(5L))
    assert(out.head.width == w && out.head.height == h && out.head.channels == c)
  }
}
