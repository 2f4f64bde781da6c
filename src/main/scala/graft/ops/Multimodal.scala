package graft.ops

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import javax.imageio.spi.ImageReaderSpi
import javax.imageio.stream.MemoryCacheImageInputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal plumbing: image/audio/video payloads ride as opaque `binary`
 * columns with typed metadata. Images (PNG, JPEG, GIF) decode through the
 * JDK's own `javax.imageio` readers behind one signature-dispatched
 * [[decodeImage]]; WAV audio ([[Wav]]: RIFF chunk walk + PCM) and Y4M
 * video ([[Y4m]]: header grammar + raw planes) decode in-JVM here, since
 * the JDK has no reader for Y4M and its audio reader is not fuzz-safe.
 * Exact-integer transform verbs (resize, frame-sample) sit on top. Codecs
 * the container has no library for (MP3/H.264) fall back to the
 * clearly-marked stub feature below. The Spark-side plumbing — schema,
 * batched per-partition processing shape, partition sizing — is shared
 * by all paths.
 *
 * At scale: binary payloads dominate bytes, so the pipeline repartitions
 * by byte budget (`targetPartitionBytes`), processes per-partition in
 * batches (the Scala analog of `mapInPandas` batch shape), and keeps
 * metadata-only projections free of payload IO via column pruning.
 */
object Multimodal {

  final case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
      width: Int, height: Int)

  final case class MediaFeature(doc_id: Long, n_bytes: Long, feature: Array[Float])

  /** Decoded-image row: dimensions from the image header, pixel_sum over
    * the decoded samples — a value only a correct full decode can
    * produce. */
  final case class ImageMeta(doc_id: Long, width: Int, height: Int,
      channels: Int, pixel_sum: Long)

  /** Decoded-audio row: format fields straight from `fmt `, `peak` and
    * `sum_abs` over the decoded signed samples — integer stats only a
    * correct chunk-walk + little-endian PCM decode can produce (and
    * hash-stable for oracles, unlike a float RMS). */
  final case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
      bits: Int, n_frames: Long, peak: Long, sum_abs: Long)

  /** Decoded-video row: geometry/rate from the stream header, `y_sum` /
    * `y_peak` over the LUMA plane of every frame — integer stats only a
    * correct header walk + plane slicing can produce. */
  final case class VideoMeta(doc_id: Long, width: Int, height: Int,
      fps_num: Int, fps_den: Int, n_frames: Long, y_sum: Long, y_peak: Int)

  /** Wrap a text table as a binary-payload media table (payload = UTF-8
    * bytes; the container has no real media fixtures). */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("doc_id"),
      encode(col(payloadCol), "UTF-8").as("payload"),
      lit("application/octet-stream").as("media_type"),
      octet_length(col(payloadCol)).cast("long").as("n_bytes"))

  /**
   * STUB decode: a real deployment would decode image/audio frames here
   * (e.g. via a JNI codec or `mapInPandas` on PySpark). This deterministic
   * fake derives an 8-dim "feature" from payload byte statistics so the
   * batched plumbing is exercisable end-to-end.
   */
  private def stubDecodeFeature(payload: Array[Byte]): Array[Float] = {
    // ??? <- real codec goes here; deterministic fake below
    val f = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      f(i % 8) += (payload(i) & 0xFF) / 255.0f
      i += 1
    }
    if (payload.length > 0) { var j = 0; while (j < 8) { f(j) /= payload.length; j += 1 } }
    f
  }

  /** Batched per-partition feature extraction (mapInPandas batch shape:
    * iterator of rows in, iterator of typed results out).
    * `targetPartitionBytes <= 0` skips the sizing pass (see
    * [[byteBudgetParts]]) and keeps the input partitioning. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Dataset[MediaFeature] = {
    import spark.implicits._
    val projected = media.select(col("doc_id"), col("payload"), col("n_bytes"))
    val sized =
      if (targetPartitionBytes <= 0) projected
      else projected.repartition(byteBudgetParts(media, targetPartitionBytes))
    sized
      .as[(Long, Array[Byte], Long)]
      .mapPartitions { iter =>
        iter.map { case (id, payload, nb) =>
          MediaFeature(id, nb, stubDecodeFeature(payload))
        }
      }
  }

  /** Partition count sized so each holds ~`targetPartitionBytes` of
    * payload (capped; binary blobs dominate partition memory, row counts
    * don't). `sum` over zero rows is SQL null — an empty media table
    * yields one partition, not an unboxing NPE.
    *
    * This is an EAGER aggregate over `n_bytes` before the decode pass. On
    * a stored media table that's a column-pruned scan of one cheap column;
    * but when `n_bytes` (or the payload it derives from) is COMPUTED
    * upstream, the computation runs twice — once here, once in the decode
    * pass. Callers in that position pass `targetPartitionBytes <= 0` to
    * skip the sizing job and keep the input partitioning. */
  private def byteBudgetParts(media: DataFrame, targetPartitionBytes: Long): Int = {
    val totalBytes = media.select(col("n_bytes"))
      .agg(coalesce(sum(col("n_bytes")), lit(0L)))
      .first().getLong(0)
    math.min(math.max(1, (totalBytes / targetPartitionBytes).toInt), 2048)
  }

  /** The shared decode pipeline: byte-budget repartition of (doc_id,
    * payload) — skipped when `targetPartitionBytes <= 0` — then a
    * per-partition flatMap of `decodeOne`, which skips foreign payloads by
    * returning None (emitting sentinel rows would poison oracles; callers
    * filter by media_type upstream).
    *
    * A payload that passes the caller's signature sniff but is CORRUPT
    * (truncated download, bit rot — routine in a scraped corpus) makes the
    * codec throw; one such row must not abort a million-row extract job,
    * so decode failures are quarantined: the row is dropped and counted in
    * the `graft.media.corrupt` accumulator (visible per-job in the Spark
    * UI; like any transformation-stage accumulator it can overcount under
    * task retries — treat it as observability, not an exact tally). */
  private def decodeMapped[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, media: DataFrame, targetPartitionBytes: Long)(
      decodeOne: (Long, Array[Byte]) => Option[T]): Dataset[T] = {
    import spark.implicits._
    val corrupt = spark.sparkContext.longAccumulator("graft.media.corrupt")
    val projected = media.select(col("doc_id"), col("payload"))
    val sized =
      if (targetPartitionBytes <= 0) projected
      else projected.repartition(byteBudgetParts(media, targetPartitionBytes))
    sized
      .as[(Long, Array[Byte])]
      .mapPartitions(iter => iter.flatMap { case (id, p) =>
        try decodeOne(id, p)
        catch {
          case scala.util.control.NonFatal(_) => corrupt.add(1L); None
        }
      })
  }

  private def imageMeta(id: Long, img: Png.Image): ImageMeta = {
    var s = 0L
    var i = 0
    while (i < img.pixels.length) { s += img.pixels(i) & 0xFF; i += 1 }
    ImageMeta(id, img.width, img.height, img.channels, s)
  }

  private def audioMeta(id: Long, a: Wav.Audio): AudioMeta = {
    var peak = 0L; var sumAbs = 0L
    var i = 0
    while (i < a.samples.length) {
      val v = math.abs(a.samples(i).toLong)
      if (v > peak) peak = v
      sumAbs += v
      i += 1
    }
    AudioMeta(id, a.sampleRate, a.channels, a.bitsPerSample,
      a.samples.length.toLong / a.channels, peak, sumAbs)
  }

  private def videoMeta(id: Long, v: Y4m.Video): VideoMeta = {
    val luma = v.width * v.height // stats over the Y plane only
    var s = 0L; var peak = 0
    v.frames.foreach { f =>
      var i = 0
      while (i < luma) {
        val px = f(i) & 0xFF
        s += px
        if (px > peak) peak = px
        i += 1
      }
    }
    VideoMeta(id, v.width, v.height, v.fpsNum, v.fpsDen,
      v.frames.length.toLong, s, peak)
  }

  /** REAL image decode ([[decodeImage]]) of PNG, JPEG and GIF payloads —
    * a scraped corpus mixes all three in one column, so the verb sniffs
    * per row rather than asking the caller to pre-split. Emits per-image
    * dimensions plus the pixel sum. */
  def extractImageMeta(spark: SparkSession, media: DataFrame,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Dataset[ImageMeta] = {
    import spark.implicits._
    decodeMapped(spark, media, targetPartitionBytes) { (id, p) =>
      decodeImage(p).map(img => imageMeta(id, img))
    }
  }

  /** REAL audio decode over WAV payloads: RIFF chunk walk + PCM in-JVM
    * ([[Wav.decode]]). */
  def extractAudioMeta(spark: SparkSession, media: DataFrame,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Dataset[AudioMeta] = {
    import spark.implicits._
    decodeMapped(spark, media, targetPartitionBytes) { (id, p) =>
      if (!Wav.isWav(p)) None else Some(audioMeta(id, Wav.decode(p)))
    }
  }

  /** REAL video decode over Y4M payloads: header grammar + raw plane
    * slicing in-JVM ([[Y4m.decode]]). */
  def extractVideoMeta(spark: SparkSession, media: DataFrame,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Dataset[VideoMeta] = {
    import spark.implicits._
    decodeMapped(spark, media, targetPartitionBytes) { (id, p) =>
      if (!Y4m.isY4m(p)) None else Some(videoMeta(id, Y4m.decode(p)))
    }
  }

  /** The one image decode path, shared by the image verbs. The payload's
    * signature picks the JDK reader (PNG, JPEG or GIF); any other payload
    * is None, never a guess by another registered reader (ImageIO's BMP,
    * WBMP and TIFF readers would claim payloads the verbs skip). Each call
    * takes a fresh reader from the format's provider (looked up once per
    * JVM) over an in-memory stream (ImageIO's default stream cache writes
    * temp files on executors), and checks the header's
    * dimensions against [[Png.MaxRasterBytes]] before any raster exists.
    * The raster converts to [[Png.Image]]: a palette image (GIF, palette
    * PNG) expands to 3-channel RGB, anything else keeps its 1-4 bands,
    * and a sample size other than 8 bits throws. */
  private[ops] def decodeImage(p: Array[Byte]): Option[Png.Image] = {
    val format =
      if (Png.isPng(p)) Some("png")
      else if (Jpeg.isJpeg(p)) Some("jpeg")
      else if (Gif.isGif(p)) Some("gif")
      else None
    format.map { f =>
      val reader = readerSpis(f).createReaderInstance()
      val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(p))
      try {
        reader.setInput(in, true, true)
        val w = reader.getWidth(0); val h = reader.getHeight(0)
        require(w.toLong * h * 4 <= Png.MaxRasterBytes,
          s"$f raster ${w}x$h exceeds the ${Png.MaxRasterBytes}-byte " +
            "decode cap (corrupt header?)")
        toImage(reader.read(0))
      } finally { reader.dispose(); in.close() }
    }
  }

  /** Each image format's reader provider, found once per JVM: the one
    * whose reader `ImageIO.getImageReadersByFormatName` lists first, so a
    * call gets the reader a registry search would give it. */
  private lazy val readerSpis: Map[String, ImageReaderSpi] =
    Seq("png", "jpeg", "gif").map { f =>
      val r = ImageIO.getImageReadersByFormatName(f).next()
      try f -> r.getOriginatingProvider finally r.dispose()
    }.toMap

  private def toImage(bi: BufferedImage): Png.Image = {
    val r = bi.getRaster
    val w = r.getWidth; val h = r.getHeight
    bi.getColorModel match {
      case cm: IndexColorModel =>
        val idx = new Array[Int](w)
        val out = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          r.getSamples(0, y, w, 1, 0, idx)
          var x = 0
          while (x < w) {
            val rgb = cm.getRGB(idx(x)); val o = (y * w + x) * 3
            out(o) = (rgb >> 16).toByte; out(o + 1) = (rgb >> 8).toByte
            out(o + 2) = rgb.toByte
            x += 1
          }
          y += 1
        }
        Png.Image(w, h, 3, out)
      case _ =>
        val sizes = r.getSampleModel.getSampleSize
        require(sizes.forall(_ == 8),
          s"unsupported sample sizes ${sizes.mkString(",")} (8-bit only)")
        val c = r.getNumBands
        val row = new Array[Int](w * c)
        val out = new Array[Byte](w * h * c)
        var y = 0
        while (y < h) {
          r.getPixels(0, y, w, 1, row)
          var i = 0
          while (i < row.length) { out(y * w * c + i) = row(i).toByte; i += 1 }
          y += 1
        }
        Png.Image(w, h, c, out)
    }
  }

  /** Decode + nearest-neighbor RESIZE over image payloads (PNG/JPEG/GIF,
    * dispatched by signature), emitting the resized image's meta
    * ([[Png.resizeNearest]] — exact-integer index mapping, so oracles
    * replay it; the raster type is codec-blind). */
  def resizeImages(spark: SparkSession, media: DataFrame, w2: Int, h2: Int,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Dataset[ImageMeta] = {
    import spark.implicits._
    decodeMapped(spark, media, targetPartitionBytes) { (id, p) =>
      decodeImage(p).map(img => imageMeta(id, Png.resizeNearest(img, w2, h2)))
    }
  }

  /** Decode + FRAME-SAMPLE over WAV payloads, emitting the decimated
    * clip's meta ([[Wav.frameSample]] — every stride-th frame). */
  def frameSampleAudio(spark: SparkSession, media: DataFrame, stride: Int,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Dataset[AudioMeta] = {
    import spark.implicits._
    decodeMapped(spark, media, targetPartitionBytes) { (id, p) =>
      if (!Wav.isWav(p)) None
      else Some(audioMeta(id, Wav.frameSample(Wav.decode(p), stride)))
    }
  }

  /** Decode + FRAME-SAMPLE over Y4M payloads, emitting the decimated
    * clip's meta ([[Y4m.frameSample]] — every stride-th frame, frame
    * rate stretched exactly). */
  def frameSampleVideo(spark: SparkSession, media: DataFrame, stride: Int,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Dataset[VideoMeta] = {
    import spark.implicits._
    decodeMapped(spark, media, targetPartitionBytes) { (id, p) =>
      if (!Y4m.isY4m(p)) None
      else Some(videoMeta(id, Y4m.frameSample(Y4m.decode(p), stride)))
    }
  }
}
