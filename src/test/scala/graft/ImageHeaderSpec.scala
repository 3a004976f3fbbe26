package graft

import graft.ops.ImageHeader
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The mm4 decoder against REAL PNG bytes: the leading 26 bytes of
  * every 1×1 RGBA PNG in the wild are exactly the signature + IHDR
  * header below (RFC 2083 layout), so parsing them with the pure-SQL
  * expressions proves the decoder reads the actual wire format — not
  * just the testdata construction.
  */
class ImageHeaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession(2)

  override def afterAll(): Unit = spark.stop()

  private def parse(payload: Array[Byte]) = {
    import spark.implicits._
    Seq(payload).toDF("payload")
      .select(ImageHeader.isPng(col("payload")).as("is_png"),
        ImageHeader.width(col("payload")).as("w"),
        ImageHeader.height(col("payload")).as("h"),
        ImageHeader.bitDepth(col("payload")).as("bd"),
        ImageHeader.channels(col("payload")).as("ch"))
      .first()
  }

  test("parses the canonical 1x1 RGBA PNG header byte-for-byte") {
    val header = Array(
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0x00, 0x00, 0x00, 0x0d,                         // IHDR length 13
      0x49, 0x48, 0x44, 0x52,                         // "IHDR"
      0x00, 0x00, 0x00, 0x01,                         // width 1
      0x00, 0x00, 0x00, 0x01,                         // height 1
      0x08, 0x06                                      // depth 8, RGBA
    ).map(_.toByte)
    val r = parse(header)
    assert(r.getBoolean(0))
    assert(r.getInt(1) == 1 && r.getInt(2) == 1)
    assert(r.getInt(3) == 8 && r.getInt(4) == 4)
  }

  test("parses multi-byte big-endian dimensions (1920x1080 truecolor)") {
    val header = Array(
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0x00, 0x00, 0x00, 0x0d,
      0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x07, 0x80,                         // width 1920
      0x00, 0x00, 0x04, 0x38,                         // height 1080
      0x08, 0x02                                      // depth 8, RGB
    ).map(_.toByte)
    val r = parse(header)
    assert(r.getBoolean(0))
    assert(r.getInt(1) == 1920 && r.getInt(2) == 1080)
    assert(r.getInt(3) == 8 && r.getInt(4) == 3)
  }

  test("rejects non-PNG payloads on the signature check") {
    val r = parse("hello, definitely not a png".getBytes("US-ASCII"))
    assert(!r.getBoolean(0))
  }

  // ---- PngCodec: real pixel decode (mm5) ----

  test("PngCodec round-trips grayscale pixels through a real PNG") {
    val w = 7; val h = 5
    val px = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val png = graft.ops.PngCodec.encodeGray(w, h, px)
    // the emitted bytes are ALSO a valid PNG for the mm4 header parser
    val r = parse(png)
    assert(r.getBoolean(0) && r.getInt(1) == w && r.getInt(2) == h)
    assert(r.getInt(3) == 8 && r.getInt(4) == 1) // gray = 1 channel
    val g = graft.ops.PngCodec.decodeGray(png)
    assert(g.width == w && g.height == h)
    assert(g.pixels.toSeq == px.toSeq)
  }

  test("PngCodec decodes a PNG written by the JDK's ImageIO encoder " +
      "(independent real-world producer, arbitrary filter choices)") {
    import java.awt.image.BufferedImage
    val w = 9; val h = 6
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val px = Array.tabulate(w * h)(i => (i * 53 + 7) % 256)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, px(y * w + x))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val g = graft.ops.PngCodec.decodeGray(baos.toByteArray)
    assert(g.width == w && g.height == h)
    assert(g.pixels.map(_ & 0xff).toSeq == px.toSeq)
  }

  test("PngCodec loud-fails on corrupted bytes instead of decoding " +
      "wrong pixels") {
    val png = graft.ops.PngCodec.encodeGray(4, 3,
      Array.tabulate(12)(_.toByte))
    // flip one byte inside the IDAT payload -> CRC mismatch
    val corrupt = png.clone()
    corrupt(40) = (corrupt(40) ^ 0x5a).toByte
    val e = intercept[IllegalArgumentException] {
      graft.ops.PngCodec.decodeGray(corrupt)
    }
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("chunk")
      || e.getMessage.contains("zlib"))
    val noSig = "plain text".getBytes("US-ASCII")
    intercept[IllegalArgumentException] {
      graft.ops.PngCodec.decodeGray(noSig)
    }
  }
}
