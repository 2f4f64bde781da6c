package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The GIF fixture encoder against [[Multimodal.decodeImage]] (the JDK's
  * independent GIF plugin): LOSSLESS round-trips (LZW + palette must be
  * bit-exact), interlace de-scrambling, dictionary growth across width
  * bumps and a full-table clear, and ImageIO-encoded streams. */
class GifSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int)(f: Int => Int): Array[Byte] =
    Array.tabulate(w * h)(i => f(i).toByte)

  private def toRgb(px: Array[Byte]): Array[Byte] =
    px.flatMap(b => Array(b, b, b))

  test("gray round-trip is BIT-EXACT (lossless format)") {
    val px = gray(37, 23)(i => (i * 31 + (i / 37) * 7) % 256)
    val img = Multimodal.decodeImage(Gif.encode(37, 23, px)).get
    assert(img.width == 37 && img.height == 23 && img.channels == 3)
    assert(img.pixels.sameElements(toRgb(px)))
  }

  test("interlaced image de-scrambles to the same exact pixels") {
    val px = gray(16, 11)(i => (i * 13) % 256)
    val plain = Multimodal.decodeImage(Gif.encode(16, 11, px, interlace = false)).get
    val inter = Multimodal.decodeImage(Gif.encode(16, 11, px, interlace = true)).get
    assert(inter.pixels.sameElements(plain.pixels))
    assert(inter.pixels.sameElements(toRgb(px)))
  }

  test("LZW dictionary growth through width bumps and a full-table " +
      "clear stays exact (large, high-entropy image)") {
    // 40k pixels of a mixing generator: thousands of dictionary entries,
    // several width bumps; > 4096 entries forces the mid-stream CLEAR
    val px = gray(200, 200)(i => ((i * 2654435761L >>> 13) % 256).toInt)
    val bytes = Gif.encode(200, 200, px)
    assert(Multimodal.decodeImage(bytes).get.pixels.sameElements(toRgb(px)))
  }

  test("repetitive content (dictionary-heavy) compresses AND round-trips") {
    val px = gray(128, 64)(i => if ((i / 16) % 2 == 0) 17 else 200)
    val bytes = Gif.encode(128, 64, px)
    assert(bytes.length < 128 * 64 / 2, "LZW should compress runs")
    assert(Multimodal.decodeImage(bytes).get.pixels.sameElements(toRgb(px)))
  }

  test("interop OUT: javax.imageio reads this encoder's stream bit-exactly") {
    val px = gray(33, 17)(i => (i * 7 + 3) % 256)
    val bytes = Gif.encode(33, 17, px, interlace = true)
    val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(bi != null && bi.getWidth == 33 && bi.getHeight == 17)
    val theirs = Array.tabulate(33 * 17) { i =>
      (bi.getRGB(i % 33, i / 33) & 0xFF).toByte // gray palette: B channel
    }
    assert(theirs.sameElements(px))
  }

  test("interop IN: this decoder reads a javax.imageio-encoded GIF " +
      "bit-exactly") {
    val w = 48; val h = 32
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, (x * 5 + y * 11) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", bos))
    val bytes = bos.toByteArray
    assert(Gif.isGif(bytes))
    val mine = Multimodal.decodeImage(bytes).get
    assert(mine.width == w && mine.height == h && mine.channels == 3)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val theirs = Array.tabulate(w * h * 3) { j =>
      val i = j / 3
      val rgb = back.getRGB(i % w, i / w)
      (rgb >>> (16 - 8 * (j % 3)) & 0xFF).toByte
    }
    assert(mine.pixels.sameElements(theirs))
  }

  test("corrupt streams fail loudly (quarantine contract)") {
    val px = gray(8, 8)(identity)
    val bytes = Gif.encode(8, 8, px)
    intercept[Exception](Multimodal.decodeImage(bytes.take(30)).get)
    assert(!Gif.isGif("PNGX".getBytes))
    // truncated LZW inside an otherwise well-formed file
    val cut = bytes.clone()
    intercept[Exception](Multimodal.decodeImage(cut.take(bytes.length - 12)).get)
  }
}
