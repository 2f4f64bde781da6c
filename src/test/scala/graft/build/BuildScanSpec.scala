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

/** The one content scan of every sketch writer: it reads its input rows
  * once, its persisted blocks never outlive it (not even when it throws),
  * and both ways of folding them into shards give the same bits. */
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

  test("folding whole groups from slices and OR-merging per-block partial " +
      "shards give the same db") {
    // 300 targets: >= 4 groups, so the test session's shuffle width (4)
    // takes the slice fold and a width of 64 the partial-shard fold; t060
    // is big enough to split across bins 60.. and so across groups 0 and 1
    val docs = parquetDocs((0 until 300).map(i => i -> (if (i == 60) 60 else 1)),
      800, 4)
    def twoLevel(width: Int): SketchDb = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      try SketchBuild.buildTwoLevel(spark, docs, "target", "content", p)
      finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }
    val slices = twoLevel(4)
    val partials = twoLevel(64)
    val groups = slices.layout.numGroups
    assert(groups >= math.max(4, spark.sparkContext.defaultParallelism) &&
      groups < 64, s"$groups groups")
    assert(slices.layout.anyGroupSpanning,
      s"t060 splits into ${slices.layout.split(60)} bins from ${slices.layout.base(60)}")
    assert(java.util.Arrays.equals(slices.ibf.words, partials.ibf.words))
    assert(java.util.Arrays.equals(slices.coarse.words, partials.coarse.words))
    assert(slices.targetHashes.sameElements(partials.targetHashes))
  }
}
