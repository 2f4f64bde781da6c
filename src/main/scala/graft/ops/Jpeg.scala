package graft.ops

import java.io.ByteArrayOutputStream

/**
 * Baseline JFIF fixture encoder (ITU-T T.81 sequential DCT, 8-bit) and
 * the JPEG signature sniff. Decoding is [[Multimodal.decodeImage]] (the
 * JDK's `javax.imageio` reader), so the fixtures' pixels come back
 * through an implementation independent of this encoder.
 *
 * `encode` writes grayscale or RGB (4:4:4 or forced 4:2:0),
 * caller-controlled quant tables and restart interval. With an all-ones
 * quant table a block of CONSTANT samples round-trips bit-exactly (its
 * only nonzero coefficient is the integral DC), which is what lets a SQL
 * oracle predict decoded pixel sums arithmetically; AC-rich content
 * round-trips within a small rounding tolerance. `JpegSpec` asserts both
 * through the JDK reader.
 *
 * The reference has no media path (SURVEY LLM-ops layer); the decoded
 * raster is [[Png.Image]] so [[Multimodal]]'s stats are codec-blind.
 */
object Jpeg {

  /** Natural index of each zigzag position (T.81 figure A.6). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** cosTab(u)(x) = c(u)/2 * cos((2x+1) u pi / 16) — the separable DCT-II
    * basis with T.81 scaling (FDCT = C f C^T, IDCT = C^T F C). */
  private val CosTab: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c / 2.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  // ---- Huffman tables ---------------------------------------------------------

  /** DC table: the T.81 Annex K luminance DC table (12 categories,
    * variable 2-9 bit codes — a decoder must handle real multi-length
    * canonical codes). AC table: one flat 8-bit code per (run,size) symbol —
    * spec-legal, trivially canonical, and poor compression, which is fine
    * for fixtures. Both are emitted in DHT, so any decoder reads them. */
  private val DcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array.tabulate(12)(identity)
  private val AcVals: Array[Int] =
    0x00 +: 0xF0 +: (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)
      .toArray
  private val AcBits = {
    val b = new Array[Int](16); b(7) = AcVals.length; b // all length 8
  }

  /** Canonical code assignment (T.81 C.2): symbol -> (code, length). */
  private def canonCodes(bits: Array[Int],
      vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    for (l <- 1 to 16) {
      var i = 0
      while (i < bits(l - 1)) {
        out += vals(k) -> ((code, l))
        code += 1; k += 1; i += 1
      }
      code <<= 1
    }
    out.result()
  }

  // ---- bit IO -----------------------------------------------------------------

  private final class BitWriter(out: ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def write(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >>> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf)
          if (buf == 0xFF) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (T.81 F.1.2.3). */
    def flush(): Unit = if (cnt > 0) { write(0xFF, 8 - cnt) }
  }

  @inline private def clamp(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  // ---- encode -----------------------------------------------------------------

  /** JFIF YCbCr from interleaved RGB (T-REC T.871 full-range). */
  @inline private def rgbToY(r: Int, g: Int, b: Int): Int =
    clamp(math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt)
  @inline private def rgbToCb(r: Int, g: Int, b: Int): Int =
    clamp(math.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b).toInt)
  @inline private def rgbToCr(r: Int, g: Int, b: Int): Int =
    clamp(math.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b).toInt)

  /** Encode 8-bit pixels (row-major, 1=gray or 3=RGB interleaved) as
    * baseline JFIF. `quant` is one table in NATURAL order applied to all
    * components (all-ones by default: constant blocks then round-trip
    * exactly). `subsample` forces 4:2:0 (chroma averaged 2x2);
    * `restartInterval` > 0 emits DRI + RSTn markers every that many MCUs. */
  def encode(width: Int, height: Int, channels: Int, pixels: Array[Byte],
      quant: Array[Int] = Array.fill(64)(1), subsample: Boolean = false,
      restartInterval: Int = 0): Array[Byte] = {
    require(channels == 1 || channels == 3, s"channels $channels (1|3)")
    require(pixels.length == width * height * channels, "pixel size")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255),
      "quant: 64 entries in [1,255]")

    // component planes at their sampled resolution
    val sub = channels == 3 && subsample
    def plane(extract: (Int, Int) => Int, w: Int, h: Int): Array[Int] =
      Array.tabulate(w * h)(i => extract(i % w, i / w))
    def rgb(x: Int, y: Int, k: Int): Int =
      pixels((y * width + x) * 3 + k) & 0xFF
    val planes: Array[(Array[Int], Int, Int, Int, Int)] = // (px,w,h,hf,vf)
      if (channels == 1)
        Array((plane((x, y) => pixels(y * width + x) & 0xFF, width, height),
          width, height, 1, 1))
      else {
        val yP = plane((x, y) =>
          rgbToY(rgb(x, y, 0), rgb(x, y, 1), rgb(x, y, 2)), width, height)
        if (!sub) Array(
          (yP, width, height, 1, 1),
          (plane((x, y) => rgbToCb(rgb(x, y, 0), rgb(x, y, 1), rgb(x, y, 2)),
            width, height), width, height, 1, 1),
          (plane((x, y) => rgbToCr(rgb(x, y, 0), rgb(x, y, 1), rgb(x, y, 2)),
            width, height), width, height, 1, 1))
        else {
          val cw = (width + 1) / 2; val ch = (height + 1) / 2
          def avg(f: (Int, Int, Int) => Int)(cx: Int, cy: Int): Int = {
            var s = 0; var n = 0
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                val x = cx * 2 + dx; val y = cy * 2 + dy
                if (x < width && y < height) {
                  s += f(rgb(x, y, 0), rgb(x, y, 1), rgb(x, y, 2)); n += 1
                }
                dx += 1
              }
              dy += 1
            }
            math.round(s.toDouble / n).toInt
          }
          Array(
            (yP, width, height, 2, 2),
            (plane(avg(rgbToCb), cw, ch), cw, ch, 1, 1),
            (plane(avg(rgbToCr), cw, ch), cw, ch, 1, 1))
        }
      }

    val qzig = Array.tabulate(64)(k => quant(Zigzag(k))) // DQT is zigzag
    val dcCodes = canonCodes(DcBits, DcVals)
    val acCodes = canonCodes(AcBits, AcVals)

    val out = new ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }
    def seg(m: Int, body: Array[Int]): Unit = {
      marker(m)
      val len = body.length + 2
      out.write(len >>> 8); out.write(len & 0xFF)
      body.foreach(out.write)
    }
    marker(0xD8) // SOI
    seg(0xE0, Array('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)) // APP0
    seg(0xDB, 0x00 +: qzig) // DQT, 8-bit, id 0
    val hMax = planes.map(_._4).max; val vMax = planes.map(_._5).max
    seg(0xC0, Array(8, height >>> 8, height & 0xFF, width >>> 8,
      width & 0xFF, planes.length) ++
      planes.zipWithIndex.flatMap { case ((_, _, _, hf, vf), i) =>
        Array(i + 1, (hf << 4) | vf, 0) }) // SOF0
    seg(0xC4, Array(0x00) ++ DcBits ++ DcVals) // DHT DC class 0 id 0
    seg(0xC4, Array(0x10) ++ AcBits ++ AcVals) // DHT AC class 1 id 0
    if (restartInterval > 0)
      seg(0xDD, Array(restartInterval >>> 8, restartInterval & 0xFF))
    seg(0xDA, Array(planes.length) ++
      planes.indices.flatMap(i => Array(i + 1, 0x00)) ++ Array(0, 63, 0))

    val bw = new BitWriter(out)
    val coef = new Array[Int](64)
    val dcPred = new Array[Int](planes.length)
    def sampleAt(p: Array[Int], w: Int, h: Int, x: Int, y: Int): Int =
      p(math.min(y, h - 1) * w + math.min(x, w - 1)) // edge replication
    def cat(v: Int): Int = { // bit category of a coefficient value
      var a = math.abs(v); var t = 0
      while (a != 0) { a >>= 1; t += 1 }
      t
    }
    def encodeBlock(p: Array[Int], w: Int, h: Int, x0: Int, y0: Int,
        ci: Int): Unit = {
      // level shift + FDCT + quantize into zigzag-ordered coef
      val f = Array.tabulate(8, 8)((y, x) =>
        sampleAt(p, w, h, x0 + x, y0 + y) - 128.0)
      var k = 0
      while (k < 64) {
        val u = Zigzag(k) % 8; val v = Zigzag(k) / 8
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { s += CosTab(u)(x) * CosTab(v)(y) * f(y)(x); x += 1 }
          y += 1
        }
        coef(k) = math.round(s / qzig(k)).toInt
        k += 1
      }
      // DC: DPCM category + amplitude bits
      val diff = coef(0) - dcPred(ci)
      dcPred(ci) = coef(0)
      val t = cat(diff)
      val (dc, dl) = dcCodes(t)
      bw.write(dc, dl)
      if (t > 0) bw.write(if (diff < 0) diff + (1 << t) - 1 else diff, t)
      // AC: run/size with ZRL + EOB
      var run = 0
      k = 1
      while (k < 64) {
        if (coef(k) == 0) run += 1
        else {
          while (run > 15) { val (c, l) = acCodes(0xF0); bw.write(c, l); run -= 16 }
          val s = cat(coef(k))
          val (c, l) = acCodes((run << 4) | s)
          bw.write(c, l)
          bw.write(if (coef(k) < 0) coef(k) + (1 << s) - 1 else coef(k), s)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (c, l) = acCodes(0x00); bw.write(c, l) } // EOB
    }

    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    var rst = 0; var sinceRst = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && sinceRst == restartInterval) {
          bw.flush()
          marker(0xD0 + rst)
          rst = (rst + 1) % 8; sinceRst = 0
          java.util.Arrays.fill(dcPred, 0)
        }
        var ci = 0
        while (ci < planes.length) {
          val (p, w, h, hf, vf) = planes(ci)
          var by = 0
          while (by < vf) {
            var bx = 0
            while (bx < hf) {
              encodeBlock(p, w, h, (mx * hf + bx) * 8, (my * vf + by) * 8, ci)
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        sinceRst += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(0xD9) // EOI
    out.toByteArray
  }

  /** True iff the payload starts with SOI + a marker byte (FF D8 FF). */
  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8 && (bytes(2) & 0xFF) == 0xFF
}
