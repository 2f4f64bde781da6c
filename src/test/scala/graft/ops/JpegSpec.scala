package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The baseline JPEG fixture encoder against [[Multimodal.decodeImage]]
  * (the JDK's independent libjpeg path, `javax.imageio`): exactness on
  * DC-only content (the SQL-oracle regime), bounded rounding error on
  * AC-rich content, restart markers, 4:2:0, a real progressive stream,
  * and ImageIO-encoded streams — an encoder bug can't hide behind a
  * matching decoder bug across two implementations. */
class JpegSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int)(f: Int => Int): Array[Byte] =
    Array.tabulate(w * h)(i => f(i).toByte)

  private def maxAbsDiff(a: Array[Byte], b: Array[Byte]): Int = {
    require(a.length == b.length)
    a.indices.map(i => math.abs((a(i) & 0xFF) - (b(i) & 0xFF))).max
  }

  private def meanAbsDiff(a: Array[Byte], b: Array[Byte]): Double =
    a.indices.map(i => math.abs((a(i) & 0xFF) - (b(i) & 0xFF))).sum.toDouble /
      a.length

  test("constant 8x8 blocks round-trip EXACTLY with an all-ones quant " +
      "table (integral DC, zero AC — the oracle-predictable regime)") {
    // 16x16 gray = 4 blocks, block b constant (id*7 + b*53) % 256
    for (id <- Seq(0L, 1L, 7L, 200L)) {
      val px = gray(16, 16) { i =>
        val bx = (i % 16) / 8; val by = i / 16 / 8
        ((id * 7 + (by * 2 + bx) * 53) % 256).toInt
      }
      val img = Multimodal.decodeImage(Jpeg.encode(16, 16, 1, px)).get
      assert(img.width == 16 && img.height == 16 && img.channels == 1)
      assert(img.pixels.sameElements(px), s"id=$id not exact")
    }
  }

  test("restart markers: DC predictors reset per interval, still exact") {
    val px = gray(16, 16) { i =>
      val bx = (i % 16) / 8; val by = i / 16 / 8
      (40 + (by * 2 + bx) * 67) % 256
    }
    val bytes = Jpeg.encode(16, 16, 1, px, restartInterval = 1)
    // 4 single-block MCUs with interval 1 => RST0..RST2 present
    assert(bytes.sliding(2).count(p =>
      (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD0) == 1)
    assert(Multimodal.decodeImage(bytes).get.pixels.sameElements(px))
  }

  test("AC-rich gray content round-trips within DCT rounding tolerance " +
      "at quant=1 (non-multiple-of-8 dims exercise edge padding)") {
    val px = gray(21, 13)(i => (i * 31 + (i / 21) * 7) % 256)
    val img = Multimodal.decodeImage(Jpeg.encode(21, 13, 1, px)).get
    assert(img.width == 21 && img.height == 13)
    assert(maxAbsDiff(img.pixels, px) <= 3, "per-pixel DCT rounding bound")
    assert(meanAbsDiff(img.pixels, px) <= 1.0)
  }

  test("RGB 4:4:4 round-trips within color-convert + DCT tolerance") {
    val w = 24; val h = 16
    val px = Array.tabulate(w * h * 3)(i => ((i * 13 + i / 3 * 5) % 256).toByte)
    val img = Multimodal.decodeImage(Jpeg.encode(w, h, 3, px)).get
    assert(img.width == w && img.height == h && img.channels == 3)
    assert(maxAbsDiff(img.pixels, px) <= 8, "YCbCr int round-trip bound")
    assert(meanAbsDiff(img.pixels, px) <= 2.0)
  }

  test("4:2:0 subsampling: neutral-chroma (gray RGB) content survives " +
      "chroma decimation losslessly, odd dimensions crop right") {
    val w = 19; val h = 13
    val px = Array.tabulate(w * h * 3) { i =>
      val v = ((i / 3) * 29 % 256); v.toByte // R=G=B => Cb=Cr=128 exactly
    }
    val img = Multimodal.decodeImage(Jpeg.encode(w, h, 3, px, subsample = true)).get
    assert(img.width == w && img.height == h && img.channels == 3)
    assert(maxAbsDiff(img.pixels, px) <= 3,
      "neutral chroma must pass 4:2:0 nearly untouched")
  }

  test("interop OUT: javax.imageio decodes this encoder's output to the " +
      "same pixels (within its own IDCT rounding)") {
    val px = gray(21, 13)(i => (i * 31 + (i / 21) * 7) % 256)
    val bytes = Jpeg.encode(21, 13, 1, px, restartInterval = 2)
    val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(bi != null, "imageio must accept the stream")
    assert(bi.getWidth == 21 && bi.getHeight == 13)
    val theirs = Array.tabulate(21 * 13)(i =>
      (bi.getRaster.getSample(i % 21, i / 21, 0)).toByte)
    val mine = Multimodal.decodeImage(bytes).get.pixels
    assert(maxAbsDiff(theirs, mine) <= 2,
      "independent decoder disagrees beyond IDCT rounding")
  }

  test("interop IN: this decoder reads a javax.imageio-encoded JPEG " +
      "(standard tables, real quantization) to imageio's own pixels") {
    val w = 32; val h = 24
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, (x * 11 + y * 23) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", bos))
    val bytes = bos.toByteArray
    assert(Jpeg.isJpeg(bytes))
    val mine = Multimodal.decodeImage(bytes).get
    assert(mine.width == w && mine.height == h && mine.channels == 1)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val theirs = Array.tabulate(w * h)(i =>
      back.getRaster.getSample(i % w, i / w, 0).toByte)
    assert(maxAbsDiff(mine.pixels, theirs) <= 2,
      "decode of a foreign (quantized, std-table) stream diverges")
  }

  test("progressive and truncated streams fail with saying-so errors") {
    val px = gray(8, 8)(_ % 256)
    val bytes = Jpeg.encode(8, 8, 1, px)
    // patch SOF0 (FFC0) to SOF2 (FFC2): a baseline scan under a
    // progressive frame header is malformed and must be REJECTED, not
    // wrongly decoded
    val prog = bytes.clone()
    val sof = prog.indices.dropRight(1).find(i =>
      (prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0).get
    prog(sof + 1) = 0xC2.toByte
    val e = intercept[Exception](Multimodal.decodeImage(prog).get)
    assert(e.getMessage.contains("progressive"))
    // truncation before SOS: the corrupt-quarantine path needs a throw
    intercept[Exception](Multimodal.decodeImage(bytes.take(20)).get)
    assert(!Jpeg.isJpeg(Array[Byte](1, 2, 3)))
  }

  test("a real progressive JPEG (ImageIO's writer) decodes to ImageIO's " +
      "own pixels") {
    val w = 40; val h = 24
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, ((x * 6) << 16) | ((y * 10) << 8) | ((x + y) * 4))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(out)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    out.close(); writer.dispose()
    val bytes = bos.toByteArray
    assert(bytes.sliding(2).exists(p =>
      (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xC2), "fixture is not SOF2")
    val mine = Multimodal.decodeImage(bytes).get
    assert(mine.width == w && mine.height == h && mine.channels == 3)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val theirs = Array.tabulate(w * h * 3)(j =>
      back.getRaster.getSample(j / 3 % w, j / 3 / w, j % 3).toByte)
    assert(mine.pixels.sameElements(theirs))
  }
}
