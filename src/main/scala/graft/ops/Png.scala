package graft.ops

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

/**
 * The decoded-raster type shared by every image verb, the PNG signature
 * sniff, the nearest-neighbor resize, and a fixture encoder. Decoding is
 * [[Multimodal.decodeImage]] (the JDK's `javax.imageio` reader).
 *
 * `encode` synthesizes deterministic fixtures: 8-bit gray / gray+alpha /
 * RGB / RGBA, no interlacing. It deliberately CYCLES through every filter
 * type row by row (None/Sub/Up/Average/Paeth), so a decode of its output
 * exercises each unfilter path, not just filter 0. `PngSpec` asserts the
 * exact round-trip through the JDK reader. PNG format per RFC 2083.
 */
object Png {

  final case class Image(width: Int, height: Int, channels: Int,
      pixels: Array[Byte])

  /** Decode-side allocation cap for every image format: the largest
    * raster a single payload may decode to (1 GiB). Corrupt headers in a
    * scraped corpus routinely declare absurd dimensions; the decode throws
    * (per-row quarantine) instead of allocating. */
  private[ops] val MaxRasterBytes = 1L << 30

  private val Signature = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  private def colorType(channels: Int): Int = channels match {
    case 1 => 0 // grayscale
    case 2 => 4 // gray + alpha
    case 3 => 2 // truecolor
    case 4 => 6 // truecolor + alpha
    case c => throw new IllegalArgumentException(s"unsupported channels $c")
  }

  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  // ---- encode ----------------------------------------------------------------

  private def writeChunk(out: ByteArrayOutputStream, typ: String,
      data: Array[Byte]): Unit = {
    def be(v: Int): Array[Byte] = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    out.write(be(data.length))
    val t = typ.getBytes("US-ASCII")
    out.write(t)
    out.write(data)
    val crc = new CRC32()
    crc.update(t); crc.update(data)
    out.write(be(crc.getValue.toInt))
  }

  /** Encode 8-bit pixels (row-major, `channels` interleaved) as a PNG.
    * Row y uses filter type y % 5 — every decoder filter path gets hit. */
  def encode(width: Int, height: Int, channels: Int,
      pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height * channels,
      s"pixels ${pixels.length} != $width*$height*$channels")
    val stride = width * channels
    val raw = new Array[Byte]((stride + 1) * height)
    var y = 0
    while (y < height) {
      val ft = y % 5
      raw(y * (stride + 1)) = ft.toByte
      var i = 0
      while (i < stride) {
        val cur = pixels(y * stride + i) & 0xFF
        val a = if (i >= channels) pixels(y * stride + i - channels) & 0xFF else 0
        val b = if (y > 0) pixels((y - 1) * stride + i) & 0xFF else 0
        val c = if (y > 0 && i >= channels)
          pixels((y - 1) * stride + i - channels) & 0xFF else 0
        val filtered = ft match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case 4 => cur - paeth(a, b, c)
        }
        raw(y * (stride + 1) + 1 + i) = filtered.toByte
        i += 1
      }
      y += 1
    }
    val defl = new Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()

    val out = new ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height)
    ihdr.put(8.toByte).put(colorType(channels).toByte)
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte)
    writeChunk(out, "IHDR", ihdr.array())
    writeChunk(out, "IDAT", zbuf.toByteArray)
    writeChunk(out, "IEND", Array.empty)
    out.toByteArray
  }

  /** True iff the payload starts with the PNG signature. */
  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (0 until 8).forall(i => bytes(i) == Signature(i))

  // ---- transforms ------------------------------------------------------------

  /** Nearest-neighbor resize (floor index mapping: src = dst*srcDim/dstDim)
    * — the deterministic, interpolation-free downscale a training pipeline
    * uses for thumbnail/patch extraction; exact-integer so oracles can
    * replay it. */
  def resizeNearest(img: Image, w2: Int, h2: Int): Image = {
    require(w2 > 0 && h2 > 0, s"bad target size ${w2}x$h2")
    val c = img.channels
    val out = new Array[Byte](w2 * h2 * c)
    var y = 0
    while (y < h2) {
      val sy = y * img.height / h2
      var x = 0
      while (x < w2) {
        val sx = x * img.width / w2
        var k = 0
        while (k < c) {
          out((y * w2 + x) * c + k) = img.pixels((sy * img.width + sx) * c + k)
          k += 1
        }
        x += 1
      }
      y += 1
    }
    Image(w2, h2, c, out)
  }
}
