package graft.build

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.classify.{Classify, ClassifyParams}
import graft.io.SketchStore
import graft.spark.SparkTestSession

/** What one `updateStored` commit costs and rewrites: its shuffle is as
  * wide as the groups the delta touches (not the store), every blob
  * rewrite runs in one job, and the folded removal path (null-shard rows)
  * equals a fresh build and keeps the NoBlobGen sentinels. */
class UpdateStoredCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Jobs started, tasks ended and shard blobs written while `f` ran. */
  private final case class Cost(jobs: Int, tasks: Int, blobWrites: Long)

  private def costOf[T](f: => T): (T, Cost) = {
    val sc = spark.sparkContext
    GraftTestAccess.drain(sc)
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val w0 = SketchStore.shardBlobWrites.get()
    try {
      val out = f
      GraftTestAccess.drain(sc)
      (out, Cost(jobs.get(), tasks.get(), SketchStore.shardBlobWrites.get() - w0))
    } finally sc.removeSparkListener(listener)
  }

  private def freshDir(tag: String): String = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    val d = s"/tmp/graft_commit_$tag"
    rm(new java.io.File(d))
    d
  }

  /** One row of random ACGT text per target. */
  private def targetsDf(names: Seq[String], seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    names.map(t => (t, s"$t/0", Array.fill(400)("ACGT"(rnd.nextInt(4)))
      .mkString)).toDF("target", "path", "content")
  }

  private def groupsOf(db: SketchDb, t: String): Set[Int] = {
    val i = db.targetIndex(t)
    (db.layout.base(i) / 64 to
      (db.layout.base(i) + db.layout.split(i) - 1) / 64).toSet
  }

  test("commit cost follows the delta: same tasks on a 4x wider store, " +
      "every blob rewrite in one job, writes = touched groups") {
    val parts = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-3)
    // the same one-target add plus one removal on a store of G groups and
    // on one of ~4G groups, G at or above the shuffle width
    val costs = Seq(64 * parts, 4 * 64 * parts).map { n =>
      val names = (0 until n).map(i => f"t$i%05d")
      val dir = freshDir(s"budget_$n")
      val built = SketchBuild.buildToStore(spark, targetsDf(names, n), "target",
        "content", dir, p)
      assert(built.layout.numGroups >= parts)
      val add = targetsDf(Seq("znew"), 7L).cache()
      add.count()
      val (upd, cost) = costOf(SketchBuild.updateStored(spark, dir, add,
        "target", "content", removeTargets = Seq(names.head)))
      // writes: the delta's groups plus the masked groups that had a blob
      val masked = groupsOf(built, names.head)
        .filter(g => built.shardGens(g) != SketchStore.NoBlobGen)
      assert(cost.blobWrites == (groupsOf(upd, "znew") ++ masked).size,
        s"store of ${built.layout.numGroups} groups: $cost")
      assert(groupsOf(upd, "znew").intersect(masked).isEmpty,
        "the removal must touch a group the add does not")
      // the removal's rewrites ride in the add's job: the same add without
      // a removal schedules exactly as many jobs
      val add2 = targetsDf(Seq("znew2"), 8L).cache()
      add2.count()
      val (_, addOnly) = costOf(SketchBuild.updateStored(spark, dir, add2,
        "target", "content"))
      assert(cost.jobs == addOnly.jobs,
        s"add+remove ran ${cost.jobs} jobs, add alone ${addOnly.jobs}")
      // a removal-only commit is that one rewrite job and nothing else
      val (_, rmOnly) = costOf(SketchBuild.updateStored(spark, dir, null,
        "target", "content", removeTargets = Seq(names(1))))
      assert(rmOnly.jobs == 1 && rmOnly.blobWrites == 1, s"$rmOnly")
      add.unpersist(); add2.unpersist()
      (built.layout.numGroups, cost)
    }
    val Seq((gSmall, small), (gBig, big)) = costs
    assert(gBig >= 4 * gSmall - 1)
    assert(small.tasks == big.tasks,
      s"$gSmall groups: ${small.tasks} tasks; $gBig groups: ${big.tasks} tasks")
  }

  // ---- the folded removal path: equals a fresh build, keeps sentinels ----

  private def matches(db: ProbeDb, docs: DataFrame): Set[(String, String, Int)] =
    Classify.allMatches(Classify.classify(spark, docs, "path", "content", db,
        ClassifyParams(relCutoff = 1.0, fprQuery = 1.0)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  /** 64 single-bin repos fill group 0 exactly; an empty-content target
    * then opens group 1 as a NoBlobGen sentinel. */
  private def sentinelStore(tag: String, keep: Column = lit(true))
      : (String, DataFrame, Array[String]) = {
    import spark.implicits._
    val docs = graft.synth.Corpus.df(spark, 256, numRepos = 64,
      partitions = 4).cache()
    val dir = freshDir(tag)
    val built = SketchBuild.buildToStore(spark, docs.filter(keep), "repo",
      "content", dir, IbfParams(k = 19, w = 31, maxFp = 1e-5))
    assume(built.layout.numBins == 64, "need exactly one full group")
    val upd = SketchBuild.updateStored(spark, dir,
      Seq(("zempty", "p", "")).toDF("repo", "path", "content"),
      "repo", "content")
    assert(upd.shardGens(1) == SketchStore.NoBlobGen)
    (dir, docs, docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0)))
  }

  private def assertFresh(dir: String, docs: DataFrame, kept: DataFrame): Unit = {
    val fresh = SketchBuild.build(spark, kept, "repo", "content",
      IbfParams(k = 19, w = 31, maxFp = 1e-5))
    assert(matches(SketchStore.loadAny(spark, dir), docs) ==
      matches(fresh, docs))
  }

  test("folded removal: a group that loses a target and receives delta in " +
      "the same commit equals a fresh build") {
    val half = pmod(xxhash64(col("path")), lit(2)) === 0
    val (grow, rm) = ("repo-10", "repo-11")
    // the base store holds half of `grow`'s rows; the commit adds the rest
    // and removes another repo of the same group 0
    val (dir, docs, _) = sentinelStore("fold_both",
      col("repo") =!= grow || half)
    val upd = SketchBuild.updateStored(spark, dir,
      docs.filter(col("repo") === grow && !half), "repo", "content",
      removeTargets = Seq(rm))
    assert(groupsOf(upd, grow) == Set(0))
    assert(upd.shardGens.toSeq == Seq(3, SketchStore.NoBlobGen))
    assertFresh(dir, docs, docs.filter(col("repo") =!= rm))
    docs.unpersist()
  }

  test("folded removal: a delta whose content is all empty leaves only the " +
      "mask, and sentinel groups keep their sentinel") {
    import spark.implicits._
    val (dir, docs, repos) = sentinelStore("fold_empty")
    val rm = repos(3)
    // empty content for an existing target of group 0 (its delta shard
    // comes back null while group 0 is masked) and for a new target that
    // lands in sentinel group 1; remove `rm` (group 0) and "zempty"
    // (group 1, blob-less)
    val (upd, cost) = costOf(SketchBuild.updateStored(spark, dir,
      Seq((repos(2), "e1", ""), ("zempty2", "e2", ""))
        .toDF("repo", "path", "content"),
      "repo", "content", removeTargets = Seq(rm, "zempty")))
    assert(upd.shardGens(0) == 3, "masked group 0 is rewritten")
    assert(upd.shardGens(1) == SketchStore.NoBlobGen,
      "a blob-less masked group with an all-empty delta stays a sentinel")
    assert(cost.blobWrites == 1)
    assertFresh(dir, docs, docs.filter(col("repo") =!= rm))
    docs.unpersist()
  }

  test("folded removal: a removal-only commit (addDf = null) equals a " +
      "fresh build and keeps sentinels") {
    val (dir, docs, repos) = sentinelStore("fold_rmonly")
    val (rm1, rm2) = (repos(5), repos(40))
    val (upd, cost) = costOf(SketchBuild.updateStored(spark, dir, null,
      "repo", "content", removeTargets = Seq(rm1, rm2, "zempty")))
    assert(cost.jobs == 1 && cost.blobWrites == 1, s"$cost")
    assert(upd.shardGens.toSeq == Seq(3, SketchStore.NoBlobGen))
    assertFresh(dir, docs, docs.filter(!col("repo").isin(rm1, rm2)))
    docs.unpersist()
  }
}
