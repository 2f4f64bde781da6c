package graft.ops

import java.awt.image.{BufferedImage, IndexColorModel}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Hashing

/** PNG through [[Multimodal.decodeImage]]: exact pixel roundtrip of the
  * fixture encoder across color types and sizes (it cycles all five
  * scanline filters, so every unfilter path is on the line), palette
  * expansion, the 8-bit refusal, and the skip of non-PNG payloads. */
class PngSpec extends AnyFunSuite {

  private def pix(n: Int, seed: Long): Array[Byte] =
    Array.tabulate(n)(i => Hashing.mix64(seed + i).toByte)

  test("roundtrip: gray / gray+alpha / RGB / RGBA, odd sizes, all filters") {
    for {
      channels <- Seq(1, 2, 3, 4)
      (w, h) <- Seq((1, 1), (16, 8), (7, 13), (33, 5), (64, 64))
    } {
      val px = pix(w * h * channels, 31L * channels + w * 1000 + h)
      val bytes = Png.encode(w, h, channels, px)
      assert(Png.isPng(bytes))
      val img = Multimodal.decodeImage(bytes).get
      assert(img.width == w && img.height == h && img.channels == channels)
      assert(img.pixels.sameElements(px),
        s"pixel mismatch at channels=$channels ${w}x$h")
    }
  }

  test("resizeNearest: floor index mapping, identity at same size") {
    val px = pix(16 * 8 * 3, 99L)
    val img = Png.Image(16, 8, 3, px)
    val same = Png.resizeNearest(img, 16, 8)
    assert(same.pixels.sameElements(px))
    val r = Png.resizeNearest(img, 4, 4)
    assert(r.width == 4 && r.height == 4 && r.channels == 3)
    for (y <- 0 until 4; x <- 0 until 4; k <- 0 until 3)
      assert(r.pixels((y * 4 + x) * 3 + k) ==
        px(((y * 8 / 4) * 16 + x * 16 / 4) * 3 + k))
    // non-divisible target: 7x13 -> 3x5 uses floor(src*dst ratios)
    val odd = Png.Image(7, 13, 1, pix(7 * 13, 5L))
    val r2 = Png.resizeNearest(odd, 3, 5)
    for (y <- 0 until 5; x <- 0 until 3)
      assert(r2.pixels(y * 3 + x) == odd.pixels((y * 13 / 5) * 7 + x * 7 / 3))
  }

  test("decode rejects non-PNG and truncated payloads") {
    // a foreign payload is skipped (None), not counted as corrupt
    assert(Multimodal.decodeImage("definitely not a png".getBytes).isEmpty)
    val px = pix(64, 7L)
    val good = Png.encode(8, 8, 1, px)
    // a cut into the compressed pixel data throws ...
    intercept[Exception] { Multimodal.decodeImage(good.take(good.length - 30)).get }
    // ... while a cut that loses only the zlib Adler-32, the IDAT CRC and
    // IEND keeps every pixel: the JDK reader checks neither checksum and
    // decodes it exactly
    assert(Multimodal.decodeImage(good.take(good.length - 20)).get.pixels.sameElements(px))
    // no truncation ever yields wrong pixels
    (1 until good.length).foreach { cut =>
      scala.util.Try(Multimodal.decodeImage(good.take(cut)).get).foreach(img =>
        assert(img.pixels.sameElements(px), s"cut at $cut decoded wrong pixels"))
    }
  }

  /** A `javax.imageio`-written PNG of `bi`, with its IHDR bit depth and
    * color type (bytes 24 and 25) — so a fixture is the kind it claims. */
  private def imageioPng(bi: BufferedImage): (Array[Byte], Int, Int) = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val b = bos.toByteArray
    (b, b(24) & 0xFF, b(25) & 0xFF)
  }

  test("a palette PNG expands to 3-channel RGB, packed indices included") {
    val w = 13; val h = 7
    for (bits <- Seq(4, 8)) {
      val n = 1 << bits
      val pal = pix(n * 3, bits.toLong)
      val cm = new IndexColorModel(bits, n, Array.tabulate(n)(i => pal(3 * i)),
        Array.tabulate(n)(i => pal(3 * i + 1)), Array.tabulate(n)(i => pal(3 * i + 2)))
      val bi = new BufferedImage(w, h,
        if (bits == 8) BufferedImage.TYPE_BYTE_INDEXED else BufferedImage.TYPE_BYTE_BINARY, cm)
      val idx = Array.tabulate(w * h)(i => (Hashing.mix64(i * 7L) & (n - 1)).toInt)
      for (i <- idx.indices) bi.getRaster.setSample(i % w, i / w, 0, idx(i))
      val (bytes, depth, colorType) = imageioPng(bi)
      assert(colorType == 3 && depth == bits, s"fixture is not a $bits-bit palette PNG")
      val img = Multimodal.decodeImage(bytes).get
      assert(img.width == w && img.height == h && img.channels == 3)
      assert(img.pixels.sameElements(idx.flatMap(i => pal.slice(3 * i, 3 * i + 3).toSeq)),
        s"$bits-bit palette")
    }
  }

  test("a 16-bit PNG throws (8-bit samples only)") {
    val bi = new BufferedImage(9, 5, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 5; x <- 0 until 9) bi.getRaster.setSample(x, y, 0, x * 7000 + y)
    val (bytes, depth, colorType) = imageioPng(bi)
    assert(colorType == 0 && depth == 16, "fixture is not a 16-bit gray PNG")
    val e = intercept[Exception](Multimodal.decodeImage(bytes).get)
    assert(e.getMessage.contains("8-bit only"))
  }

  test("extractImageMeta decodes PNGs, skips foreign and corrupt payloads") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0L until 20L).map { id =>
      val payload =
        if (id % 5 == 4) Array[Byte](1, 2, 3) // not a PNG: must be skipped
        else if (id == 7L)
          // CORRUPT: valid 8-byte signature, truncated IDAT (the classic
          // partial-download artifact) — must be quarantined, not abort
          // the whole job
          Png.encode(4, 3, 1, Array.tabulate(12)(_.toByte)).take(30)
        else Png.encode(4, 3, 1,
          Array.tabulate(12)(i => ((i + id) % 256).toByte))
      (id, payload)
    }
    val media = rows.toDF("doc_id", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val out = Multimodal.extractImageMeta(spark, media)
      .collect().map(m => m.doc_id -> m).toMap
    assert(out.size == 15 && !out.contains(7L))
    out.foreach { case (id, m) =>
      assert(m.width == 4 && m.height == 3 && m.channels == 1)
      assert(m.pixel_sum == (0 until 12).map(i => (i + id) % 256).sum)
    }
    // targetPartitionBytes <= 0 skips the sizing pass, same rows out
    val out0 = Multimodal.extractImageMeta(spark, media,
      targetPartitionBytes = 0L).collect()
    assert(out0.map(_.doc_id).sorted.sameElements(out.keys.toArray.sorted))
  }
}
