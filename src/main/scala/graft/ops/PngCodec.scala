package graft.ops

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

/** Real PNG codec for 8-bit grayscale (color type 0) images — the
  * payload-decode half of the multimodal family (mm4 parses headers
  * with pure SQL; mm5 decodes PIXELS with this). Both directions speak
  * the actual PNG wire format (RFC 2083): length-prefixed chunks with
  * CRC32 trailers, zlib-compressed scanlines, one leading filter-type
  * byte per row. The encoder emits filter type 0 (None) and a valid
  * CRC on every chunk, so its output opens in any image viewer; the
  * decoder verifies the signature and every chunk CRC, concatenates
  * multiple IDATs, inflates with `java.util.zip.Inflater`, and applies
  * the full five-type scanline unfilter (None/Sub/Up/Average/Paeth,
  * bpp=1) — so it reads grayscale PNGs produced by ANY real encoder,
  * not just its own (ImageHeaderSpec proves it against the JDK's
  * ImageIO writer). Designed to run inside typed `mapPartitions` —
  * pure byte arrays in/out, no driver state, scan-local at any scale.
  */
object PngCodec {

  /** The 8-byte PNG signature. */
  val signature: Array[Byte] =
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

  private def be32(v: Int): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def readBe32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** One chunk: be32 length, 4-byte type, data, CRC32(type ++ data). */
  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val crc = new CRC32()
    crc.update(t)
    crc.update(data)
    be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var n = 0
    while (n < expected && !inf.finished()) {
      val k = inf.inflate(out, n, expected - n)
      require(k > 0 || inf.finished(),
        "truncated or corrupt zlib stream in IDAT")
      n += k
    }
    inf.end()
    require(n == expected,
      s"IDAT inflated to $n bytes, expected $expected")
    out
  }

  /** Encode row-major 8-bit grayscale pixels as a complete valid PNG
    * (signature + IHDR + one IDAT + IEND, filter type 0 scanlines).
    */
  def encodeGray(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] =
    encode(width, height, pixels, bpp = 1, colorType = 0)

  /** Encode row-major interleaved 8-bit RGB pixels as a complete valid
    * truecolor PNG (color type 2, filter type 0 scanlines) — the plot
    * sink's output format ([[PlotSink]]). Same chunk/CRC/zlib path as
    * [[encodeGray]]; PlotSinkSpec proves the output against the JDK
    * ImageIO reader pixel-for-pixel.
    */
  def encodeRgb(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] =
    encode(width, height, rgb, bpp = 3, colorType = 2)

  /** Depth-8 PNG of `bpp`-byte pixels under IHDR `colorType`. */
  private def encode(width: Int, height: Int, px: Array[Byte], bpp: Int,
      colorType: Int): Array[Byte] = {
    require(width > 0 && height > 0 && px.length == bpp * width * height,
      s"need $bpp*width*height=${bpp * width * height} bytes, got ${px.length}")
    val stride = bpp * width
    val raw = new Array[Byte](height * (stride + 1))
    var r = 0
    while (r < height) {
      // raw(r * (stride+1)) is already 0 = filter type None
      System.arraycopy(px, r * stride, raw, r * (stride + 1) + 1, stride)
      r += 1
    }
    val ihdr = be32(width) ++ be32(height) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0) // depth 8, deflate, adaptive, no interlace
    signature ++ chunk("IHDR", ihdr) ++ chunk("IDAT", deflate(raw)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Decoded grayscale image: row-major pixel bytes. */
  final case class Gray(width: Int, height: Int, pixels: Array[Byte])

  /** Decoded truecolor image: row-major interleaved RGB bytes. */
  final case class Rgb(width: Int, height: Int, rgb: Array[Byte])

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Decode a real 8-bit grayscale PNG byte stream. Loud-fails (with
    * the failing field named) on bad signature, truncated or
    * CRC-mismatched chunks, unsupported depth/color combinations, a
    * short zlib stream, or an out-of-spec filter type — poison bytes
    * must never decode silently into wrong pixels.
    */
  def decodeGray(png: Array[Byte]): Gray = {
    val (width, height, px) = decode(png, bpp = 1, colorType = 0, "grayscale")
    Gray(width, height, px)
  }

  /** Decode a real 8-bit truecolor PNG byte stream — the read-back half
    * of [[encodeRgb]] (the chart sink's format) with the same
    * loud-fail posture as [[decodeGray]]. Filter reconstruction is
    * shared; the only difference is bytes-per-pixel = 3 (the `a`/`c`
    * neighbors sit one PIXEL back, not one byte — PNG spec 9.2).
    */
  def decodeRgb(png: Array[Byte]): Rgb = {
    val (width, height, rgb) = decode(png, bpp = 3, colorType = 2, "truecolor")
    Rgb(width, height, rgb)
  }

  /** (width, height, pixel bytes) of a depth-8 PNG whose IHDR must carry
    * `colorType` (`kind` names it in the error); chunks are walked and
    * CRC-checked, ancillary ones (tEXt, pHYs, ...) skipped. */
  private def decode(png: Array[Byte], bpp: Int, colorType: Int,
      kind: String): (Int, Int, Array[Byte]) = {
    require(png.length >= 8 && (0 until 8).forall(i => png(i) == signature(i)),
      "not a PNG: bad signature")
    var off = 8
    var width = -1; var height = -1
    var bitDepth = -1; var ct = -1
    val idat = new ByteArrayOutputStream()
    var done = false
    while (!done) {
      require(off + 8 <= png.length, "truncated chunk header")
      val len = readBe32(png, off)
      val typ = new String(png, off + 4, 4, "US-ASCII")
      require(len >= 0 && off + 12 + len <= png.length,
        s"truncated $typ chunk (len=$len)")
      val crc = new CRC32()
      crc.update(png, off + 4, 4 + len)
      require(crc.getValue.toInt == readBe32(png, off + 8 + len),
        s"CRC mismatch in $typ chunk")
      typ match {
        case "IHDR" =>
          width = readBe32(png, off + 8); height = readBe32(png, off + 12)
          bitDepth = png(off + 16) & 0xff; ct = png(off + 17) & 0xff
        case "IDAT" => idat.write(png, off + 8, len)
        case "IEND" => done = true
        case _ => ()
      }
      off += 12 + len
    }
    require(width > 0 && height > 0, "missing or empty IHDR")
    require(bitDepth == 8 && ct == colorType,
      s"unsupported PNG variant: depth=$bitDepth colorType=$ct " +
        s"(8-bit $kind only)")
    val raw = inflate(idat.toByteArray, height * (bpp * width + 1))
    (width, height, decodeScanlines(raw, bpp * width, height, bpp))
  }

  /** Shared five-type scanline reconstruction over `stride`-byte rows
    * with `bpp` bytes per pixel. */
  private def decodeScanlines(raw: Array[Byte], stride: Int, height: Int,
      bpp: Int): Array[Byte] = {
    val out = new Array[Byte](stride * height)
    var prior = new Array[Int](stride)
    var r = 0
    while (r < height) {
      val ft = raw(r * (stride + 1)) & 0xff
      val cur = new Array[Int](stride)
      var c = 0
      while (c < stride) {
        val x = raw(r * (stride + 1) + 1 + c) & 0xff
        val a = if (c >= bpp) cur(c - bpp) else 0
        val b = prior(c)
        val d = if (c >= bpp) prior(c - bpp) else 0
        cur(c) = ft match {
          case 0 => x
          case 1 => (x + a) & 0xff
          case 2 => (x + b) & 0xff
          case 3 => (x + (a + b) / 2) & 0xff
          case 4 => (x + paeth(a, b, d)) & 0xff
          case t => throw new IllegalArgumentException(
            s"bad scanline filter type $t at row $r")
        }
        out(r * stride + c) = cur(c).toByte
        c += 1
      }
      prior = cur
      r += 1
    }
    out
  }
}
