package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Bit-rot robustness for every decoder (images through the JDK's
  * readers behind [[Multimodal.decodeImage]], WAV and Y4M in-JVM): a scraped corpus delivers
  * truncated downloads and flipped bits AT SCALE, and [[Multimodal]]'s
  * per-row quarantine only works if a corrupt payload THROWS — never
  * hangs, never allocates unbounded memory off a garbled header, never
  * returns out-of-contract dimensions. Seeded mutations (single byte
  * flips and truncations) of valid streams must all decode-or-throw. */
class CodecFuzzSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20260818)

  /** Either a successful decode obeying `sane`, or a thrown Exception —
    * anything else (hang would time the suite out; Error would escape
    * the quarantine) fails. */
  private def fuzz(name: String, valid: Array[Byte],
      decode: Array[Byte] => Unit, rounds: Int = 150): Unit = {
    var decoded = 0; var threw = 0
    for (_ <- 1 to rounds) {
      val mutated =
        if (rnd.nextBoolean()) { // flip one bit IN PLACE (headers too)
          val m = valid.clone()
          val i = rnd.nextInt(m.length)
          m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
          m
        } else valid.take(rnd.nextInt(valid.length)) // truncate
      try { decode(mutated); decoded += 1 }
      catch { case _: Exception => threw += 1 }
    }
    assert(decoded + threw == rounds)
    assert(threw > 0, s"$name: no mutation ever threw — the fuzz is vacuous")
  }

  test("PNG survives byte flips and truncation (throw, not hang/OOM)") {
    val px = Array.tabulate(32 * 24)(i => (i * 31 % 256).toByte)
    fuzz("png", Png.encode(32, 24, 1, px), b => { Multimodal.decodeImage(b).get; () })
  }

  test("JPEG survives byte flips and truncation") {
    val px = Array.tabulate(32 * 24)(i => (i * 31 % 256).toByte)
    fuzz("jpeg", Jpeg.encode(32, 24, 1, px, restartInterval = 2),
      b => { Multimodal.decodeImage(b).get; () })
  }

  test("GIF survives byte flips and truncation") {
    val px = Array.tabulate(32 * 24)(i => (i * 31 % 256).toByte)
    fuzz("gif", Gif.encode(32, 24, px, interlace = true),
      b => { Multimodal.decodeImage(b).get; () })
  }

  test("WAV survives byte flips and truncation") {
    val smp = Array.tabulate(200)(i => (i * 97) % 4001 - 2000)
    fuzz("wav", Wav.encode(Wav.Audio(8000, 1, 16, smp)),
      b => { Wav.decode(b); () })
  }

  test("Y4M survives byte flips and truncation") {
    val frames = Array.tabulate(3)(f =>
      Array.tabulate(48)(i => ((f * 131 + i * 7) % 256).toByte))
    fuzz("y4m", Y4m.encode(Y4m.Video(8, 6, 24, 1, mono = true, frames)),
      b => { Y4m.decode(b); () })
  }

  test("a poisoned header can never allocate past the raster cap") {
    // PNG with an absurd declared size: must throw the cap message, not
    // attempt a 16-exabyte array
    val good = Png.encode(8, 8, 1, Array.fill(64)(7.toByte))
    val bad = good.clone()
    // IHDR width at offset 16 (sig 8 + len 4 + type 4): set to 2^30
    bad(16) = 0x40.toByte; bad(17) = 0; bad(18) = 0; bad(19) = 0
    assertCapped("png", bad)
  }

  /** The cap check runs on the header's dimensions, before the reader
    * allocates a raster: only that check's message names the cap. */
  private def assertCapped(name: String, bad: Array[Byte]): Unit = {
    val e = intercept[Exception](Multimodal.decodeImage(bad).get)
    assert(e.getMessage != null && e.getMessage.contains("decode cap"),
      s"$name: ${e.getMessage}")
  }

  test("a poisoned JPEG frame header throws at the raster cap") {
    val good = Jpeg.encode(8, 8, 1, Array.fill(64)(7.toByte))
    val sof = good.indices.dropRight(1).find(i =>
      (good(i) & 0xFF) == 0xFF && (good(i + 1) & 0xFF) == 0xC0).get
    // SOF0: FF C0, length (2), precision (1), height (2), width (2)
    def poisoned(dim: Int): Array[Byte] = {
      val bad = good.clone()
      Seq(sof + 5, sof + 7).foreach { i =>
        bad(i) = (dim >>> 8).toByte; bad(i + 1) = dim.toByte
      }
      bad
    }
    // 65535 x 65535 (~12.9 GB at 3 channels): libjpeg's own header check
    // refuses any side above 65500 before the cap is reached
    intercept[Exception](Multimodal.decodeImage(poisoned(0xFFFF)).get)
    // 65500 x 65500 passes libjpeg's header check; the cap must stop it
    assertCapped("jpeg", poisoned(65500))
  }

  test("a poisoned GIF image descriptor throws at the raster cap") {
    val good = Gif.encode(8, 8, Array.fill(64)(7.toByte))
    val bad = good.clone()
    // header 6 + logical screen 7 + 256-entry global palette 768, then
    // the descriptor: 0x2C, left (2), top (2), width (2), height (2)
    val desc = 6 + 7 + 768
    assert(bad(desc) == 0x2C)
    (desc + 5 to desc + 8).foreach(i => bad(i) = 0xFF.toByte)
    assertCapped("gif", bad)
  }
}
