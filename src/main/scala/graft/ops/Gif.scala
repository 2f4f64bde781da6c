package graft.ops

import java.io.ByteArrayOutputStream

/**
 * GIF89a fixture encoder and the GIF signature sniff. Decoding is
 * [[Multimodal.decodeImage]] (the JDK's `javax.imageio` reader): first
 * frame only, palette expanded to RGB, which is the meta/stats contract
 * [[Multimodal]] needs. GIF is LOSSLESS, so decoded pixel oracles are
 * exact by construction.
 *
 * `encode` synthesizes fixtures: 8-bit grayscale (identity 256-gray
 * palette), optional interlacing, REAL LZW compression (dictionary
 * growth + width bumps + full-table clear), so a decode of its output
 * exercises every decoder path. `GifSpec` asserts the bit-exact
 * round-trip through the JDK reader.
 *
 * The reference has no media path (SURVEY LLM-ops layer); the decoded
 * raster is [[Png.Image]].
 */
object Gif {

  /** True iff the payload starts with the GIF signature. */
  def isGif(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8' &&
      (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'

  // ---- encode -----------------------------------------------------------------

  /** Encode 8-bit grayscale pixels (row-major) as GIF89a with an identity
    * 256-entry gray palette and real LZW compression. */
  def encode(width: Int, height: Int, pixels: Array[Byte],
      interlace: Boolean = false): Array[Byte] = {
    require(pixels.length == width * height, "pixel size")
    val out = new ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(width); le16(height)
    out.write(0xF7) // global table, 8-bit color resolution, 256 entries
    out.write(0); out.write(0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    out.write(0x2C) // image descriptor
    le16(0); le16(0); le16(width); le16(height)
    out.write(if (interlace) 0x40 else 0x00)

    // row order as stored: interlaced files store pass-reordered rows
    val rows = rowOrder(height, interlace)
    val data = new Array[Byte](pixels.length)
    var r = 0
    while (r < height) {
      System.arraycopy(pixels, rows(r) * width, data, r * width, width)
      r += 1
    }

    val minCode = 8
    out.write(minCode)
    val lzw = lzwEncode(data, minCode)
    // sub-block framing, <=255 bytes each, zero terminator
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0)
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Rows in on-disk order: identity, or the 4 interlace passes
    * (y=0 step 8; y=4 step 8; y=2 step 4; y=1 step 2). */
  private def rowOrder(height: Int, interlace: Boolean): Array[Int] =
    if (!interlace) Array.tabulate(height)(identity)
    else (Seq(0 -> 8, 4 -> 8, 2 -> 4, 1 -> 2)
      .flatMap { case (start, step) => start until height by step }).toArray

  /** LSB-first bit packer (GIF code order). */
  private final class LsbWriter {
    private val out = new ByteArrayOutputStream()
    private var buf = 0
    private var cnt = 0
    def write(code: Int, width: Int): Unit = {
      buf |= code << cnt
      cnt += width
      while (cnt >= 8) { out.write(buf & 0xFF); buf >>>= 8; cnt -= 8 }
    }
    def finish(): Array[Byte] = {
      if (cnt > 0) out.write(buf & 0xFF)
      out.toByteArray
    }
  }

  private def lzwEncode(data: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val bw = new LsbWriter
    // (prefix code << 8 | next byte) -> code
    var dict = new java.util.HashMap[Int, Integer]()
    var next = eoi + 1
    var width = minCode + 1
    def reset(): Unit = { dict = new java.util.HashMap(); next = eoi + 1 }
    bw.write(clear, width)
    if (data.nonEmpty) {
      var w = data(0) & 0xFF // current prefix CODE (single bytes are codes)
      var i = 1
      while (i < data.length) {
        val c = data(i) & 0xFF
        val key = (w << 8) | c
        val hit = dict.get(key)
        if (hit != null) w = hit.intValue()
        else {
          bw.write(w, width)
          dict.put(key, Integer.valueOf(next))
          next += 1
          // encoder runs one entry AHEAD of the decoder: bump width at
          // 2^width + 1 so the code the decoder reads at its own bump
          // point arrives at the widened size (GifSpec interop pins this)
          if (next == (1 << width) + 1 && width < 12) width += 1
          if (next == 4096 + 1) { // table full: clear and restart
            bw.write(clear, width)
            reset(); width = minCode + 1
          }
          w = c
        }
        i += 1
      }
      bw.write(w, width)
    }
    bw.write(eoi, width)
    bw.finish()
  }
}
