package graft.build

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkTestSession

/** The one content scan of every sketch writer and its shard pass: the
  * scan reads its input rows once and refuses a null target, its
  * persisted blocks never outlive it (not even when it throws), and the
  * sparse-first group buffers give the same bits in every form, merge
  * and shuffle width. */
class BuildScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val p = IbfParams(k = 19, w = 31, maxFp = 0.01)

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_scan_$tag").toString

  /** `rowsPerTarget` rows of random ACGT text per target "t<i>", read back
    * from parquet so the writers scan files. */
  private def parquetDocs(rowsPerTarget: Seq[(Int, Int)], len: Int,
      seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for ((i, n) <- rowsPerTarget; j <- 0 until n) yield
      (f"t$i%03d", s"t$i/$j", Array.fill(len)("ACGT"(rnd.nextInt(4))).mkString)
    val dir = tmpDir("docs")
    rows.toDF("target", "path", "content").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Input records read by the tasks `f` ran. */
  private def recordsRead[T](f: => T): Long = {
    val sc = spark.sparkContext
    GraftTestAccess.drain(sc)
    val n = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try { f; GraftTestAccess.drain(sc); n.get() }
    finally sc.removeSparkListener(listener)
  }

  test("every sketch writer reads its input rows once") {
    val docs = parquetDocs((0 until 40).map(_ -> 3), 600, 1)
    val delta = parquetDocs(Seq(3 -> 2, 77 -> 4), 600, 2)
    // pass 1 reads the file rows; pass 2 reads each scan partition's one
    // cached block, which Spark counts as one input record
    def once(df: DataFrame): Long =
      df.count() + df.queryExecution.toRdd.getNumPartitions
    val (viaDocs, viaDelta) = (once(docs), once(delta))
    assert(viaDocs < 2 * docs.count() && viaDelta < 2 * delta.count())
    val dir = tmpDir("store") + "/store"
    var flat: SketchDb = null
    val compactInput = docs.filter($"target" =!= "t005").union(delta)
    Seq[(String, Long, () => Any)](
      ("build", viaDocs, () => flat = SketchBuild.build(spark, docs, "target",
        "content", p)),
      ("buildTwoLevel", viaDocs, () => SketchBuild.buildTwoLevel(spark, docs,
        "target", "content", p)),
      ("update", viaDelta, () => SketchBuild.update(spark, flat, delta,
        "target", "content", Seq("t005"))),
      ("buildToStore", viaDocs, () => SketchBuild.buildToStore(spark, docs,
        "target", "content", dir, p)),
      ("updateStored", viaDelta, () => SketchBuild.updateStored(spark, dir,
        delta, "target", "content", Seq("t005"))),
      // one pass, nothing cached: every row of both files once
      ("compactStored", docs.count() + delta.count(), () =>
        SketchBuild.compactStored(spark, dir, compactInput, "target", "content"))
    ).foreach { case (name, expect, run) =>
      val read = recordsRead(run())
      assert(read == expect, s"$name read $read records, expected $expect")
    }
  }

  test("no persisted RDD outlives a writer, not even one that throws") {
    val docs = parquetDocs((0 until 20).map(_ -> 2), 400, 3)
    val dir = tmpDir("persist") + "/store"
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val db = SketchBuild.build(spark, docs, "target", "content", p)
    assert(persisted == before, "build")
    SketchBuild.buildTwoLevel(spark, docs, "target", "content", p)
    assert(persisted == before, "buildTwoLevel")
    SketchBuild.buildToStore(spark, docs, "target", "content", dir, p)
    assert(persisted == before, "buildToStore")
    SketchBuild.updateStored(spark, dir, docs.filter($"target" === "t001"),
      "target", "content")
    assert(persisted == before, "updateStored")
    SketchBuild.compactStored(spark, dir, docs, "target", "content")
    assert(persisted == before, "compactStored")
    // adding and removing one target fails after pass 1 has folded the
    // persisted blocks
    val levels = ArrayBuffer.empty[StorageLevel]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        levels.synchronized { levels ++= e.stageInfo.rddInfos.map(_.storageLevel) }
    }
    spark.sparkContext.addSparkListener(listener)
    val err = try intercept[IllegalArgumentException] {
      SketchBuild.update(spark, db, docs.filter($"target" === "t002"),
        "target", "content", Seq("t002"))
    } finally {
      GraftTestAccess.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(err.getMessage.contains("cannot add and remove the same target"))
    assert(levels.contains(StorageLevel.MEMORY_AND_DISK),
      "the failing update's blocks were persisted")
    assert(persisted == before, "a failed update")
  }

  /** One 64-bin group's routed slices (group 1, so the fold's group offset
    * matters): a split-free target, a split target inside the group and
    * one that spans into group 2, ten hashes a slice. */
  private val groupSlices: Seq[BinLayout.Slice] = {
    val bins = Map("a" -> ((64, 1)), "b" -> ((70, 3)), "c" -> ((120, 20)))
    (0 until 600).flatMap { j =>
      val t = Seq("a", "b", "c")(j % 3)
      BinLayout.slices(bins, t, Array.tabulate(10)(i =>
        graft.core.Hashing.hashLong(10L * j + i, 17)))
    }.filter(_.grp == 1)
  }

  /** Slices holding exactly the `n` hashes after the first `from`. */
  private def hashes(from: Int, n: Int): Seq[BinLayout.Slice] = {
    val flat = groupSlices.flatMap(s => s.hs.map(h => s.copy(hs = Array(h))))
    require(from + n <= flat.length, s"${flat.length} hashes in the pool")
    // regroup into slices of up to seven hashes of the same target
    flat.slice(from, from + n).grouped(7).flatMap(_.groupBy(s => (s.base, s.split))
      .values.map(ss => ss.head.copy(hs = ss.flatMap(_.hs).toArray))).toSeq
  }

  test("a group buffer holds slices up to its dense weight, and every " +
      "form and merge folds the same bits as one dense fold") {
    import graft.core.sketch.{Bloom, InterleavedBloom}
    def roundTrip(f: GroupFold): GroupFold = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(f); out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(
        bytes.toByteArray)).readObject().asInstanceOf[GroupFold]
    }
    for (coarse <- Seq(None, Some((4096L, 2)))) {
      def mk() = new GroupFold(1024, 3, coarse)
      val limit = mk().limit.toInt
      assert(limit == 1024 + coarse.fold(0)(_ => 64))
      def buffer(ss: Seq[BinLayout.Slice]): GroupFold =
        ss.foldLeft(mk())(_ addSlice _)
      // the straight dense fold of the same hashes
      def straight(ss: Seq[BinLayout.Slice]): Seq[Seq[Byte]] = {
        val ib = InterleavedBloom.empty(64, 1024, 3)
        val u = coarse.map { case (b, k) => Bloom.empty(b, k) }
        for (s <- ss; h <- s.hs) {
          ib.add(h, s.base + BinLayout.routeBin(h, s.split) - 64)
          u.foreach(_.add(h))
        }
        Seq(ib.toBytes.toSeq) ++ u.map(_.toBytes.toSeq)
      }
      def bits(f: GroupFold): Seq[Seq[Byte]] = {
        val (s, c) = f.blobs
        Seq(s.toSeq) ++ Option(c).map(_.toSeq)
      }
      val tag = s"coarse=$coarse"
      for (n <- Seq(limit - 1, limit, limit + 1)) {
        val ss = hashes(0, n)
        val f = buffer(ss)
        assert(f.isDense == (n > limit), s"$tag n=$n")
        assert(bits(f) == straight(ss), s"$tag n=$n")
      }
      // (a, b, merged dense?) for list+list under and over the limit,
      // list+dense, dense+list and dense+dense
      val half = limit / 2 + 1
      Seq((10, 20, false), (half, half, true), (10, limit + 5, true),
          (limit + 5, 10, true), (limit + 5, limit + 9, true))
        .foreach { case (na, nb, dense) =>
          val (a, b) = (hashes(0, na), hashes(na, nb))
          val (x, y) = (roundTrip(buffer(a)), roundTrip(buffer(b)))
          assert(x.isDense == (na > limit) && y.isDense == (nb > limit),
            s"$tag $na+$nb: forms after the round trip")
          val m = x or y
          assert(m.isDense == dense, s"$tag $na+$nb")
          assert(bits(m) == straight(a ++ b), s"$tag $na+$nb")
        }
      assert(mk().blobs == ((null, null)), s"$tag: an empty buffer")
    }
  }

  test("the shard pass's width decides only which groups share a reducer") {
    // 300 targets: more groups than the test session's shuffle width (4)
    // and fewer than 64; t060 is big enough to split across bins 60.. and
    // so across groups 0 and 1
    val docs = parquetDocs((0 until 300).map(i => i -> (if (i == 60) 60 else 1)),
      800, 4)
    def twoLevel(width: Int): SketchDb = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      try SketchBuild.buildTwoLevel(spark, docs, "target", "content", p)
      finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }
    val narrow = twoLevel(4)
    val wide = twoLevel(64)
    val groups = narrow.layout.numGroups
    assert(groups > math.max(4, spark.sparkContext.defaultParallelism) &&
      groups < 64, s"$groups groups")
    assert(narrow.layout.anyGroupSpanning,
      s"t060 splits into ${narrow.layout.split(60)} bins from ${narrow.layout.base(60)}")
    assert(java.util.Arrays.equals(narrow.ibf.words, wide.ibf.words))
    assert(java.util.Arrays.equals(narrow.coarse.words, wide.coarse.words))
    assert(narrow.targetHashes.sameElements(wide.targetHashes))
  }

  test("every writer with a pass 1 refuses a null target, naming the " +
      "target column") {
    val rows = Seq(("a", "ACGTTGCAACGTAGCTAGCTAGGATCGATCGTAGCTAGCTAGCATCG"),
      (null, "TTGACGATCGATCGTAGCTAGCTAGCTAGCATCGATCGATGCATGCA"),
      ("b", "GGCATCGATCGATGCTAGCTAGCTAGCTAGCATGCATCGATCGACTG"))
    val withNull = rows.toDF("owner", "content")
    val clean = rows.filter(_._1 != null).toDF("owner", "content")
    val flat = SketchBuild.build(spark, clean, "owner", "content", p)
    val dir = tmpDir("null") + "/store"
    SketchBuild.buildToStore(spark, clean, "owner", "content", dir, p)
    Seq[(String, () => Any)](
      ("build", () => SketchBuild.build(spark, withNull, "owner", "content", p)),
      ("buildTwoLevel", () => SketchBuild.buildTwoLevel(spark, withNull,
        "owner", "content", p)),
      ("buildToStore", () => SketchBuild.buildToStore(spark, withNull,
        "owner", "content", tmpDir("null2") + "/store", p)),
      ("update", () => SketchBuild.update(spark, flat, withNull, "owner",
        "content")),
      ("updateStored", () => SketchBuild.updateStored(spark, dir, withNull,
        "owner", "content"))
    ).foreach { case (name, run) =>
      val err = intercept[Exception](run())
      assert(err.getMessage.contains("a row has a null target in column 'owner'"),
        s"$name: $err")
    }
  }
}
