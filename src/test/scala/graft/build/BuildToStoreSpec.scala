package graft.build

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.classify.{Classify, ClassifyParams}
import graft.spark.SparkTestSession

/** Build-direct-to-store: shard blobs written from executors, driver
  * memory bounded by coarse + metadata, classify-equivalence with the
  * in-memory build, and O(touched-groups) update of the stored db. */
class BuildToStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def matches(db: ProbeDb, docs: org.apache.spark.sql.DataFrame,
      cp: ClassifyParams = ClassifyParams(relCutoff = 1.0, fprQuery = 1.0))
      : Set[(String, String, Int)] =
    Classify.allMatches(Classify.classify(spark, docs, "path", "content",
        db, cp))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  /** grp_<g>.bin blobs of one generation (the local FS adds .crc sidecars). */
  private def blobs(dir: String, gen: Int): Array[java.io.File] =
    Option(new java.io.File(s"$dir/shards_v$gen").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("grp_\\d+\\.bin"))

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_b2s_$tag"
    deleteRec(new java.io.File(d))
    d
  }

  test("buildToStore == in-memory build; driver holds only the coarse") {
    val docs = graft.synth.Corpus.df(spark, 800, numRepos = 24, partitions = 8)
      .cache()
    val p = IbfParams(k = 19, w = 31, maxFp = 0.001)
    val dir = freshDir("build")
    val lazyDb = SketchBuild.buildToStore(spark, docs, "repo", "content",
      dir, p)
    val flat = SketchBuild.build(spark, docs, "repo", "content", p)

    // the returned db's broadcast footprint is the coarse filter ALONE
    // (at this toy scale the 64-bin interleave rounding dominates both
    // structures, so byte ratios are meaningless — the load-bearing claims
    // are the coarse-only contract and that no fine shard exists driver-
    // side until a probe demands it)
    assert(lazyDb.sizeBytes == lazyDb.coarse.sizeBytes)
    assert(blobs(dir, 1).length == lazyDb.layout.numGroups)
    assert(lazyDb.loadedShards == 0, "no shard materialized before probing")

    assert(matches(lazyDb, docs) == matches(flat, docs))
    assert(lazyDb.loadedShards > 0, "probing fetched the working set")

    // the store round-trips through both load verbs
    val reread = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    assert(matches(reread, docs) == matches(flat, docs))
    val any = graft.io.SketchStore.loadAny(spark, dir)
    assert(matches(any, docs) == matches(flat, docs))
    docs.unpersist()
  }

  test("updateStored: growing EXISTING targets routes into their bins") {
    // base store holds half of every repo's rows; the delta adds the other
    // half for the SAME targets (the existingAdds path: delta hashes must
    // OR into the targets' existing bins, not new ones)
    val docs = graft.synth.Corpus.df(spark, 600, numRepos = 12, partitions = 4)
      .withColumn("half", pmod(xxhash64(col("path")), lit(2)) === 0)
      .cache()
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-5)
    val dir = freshDir("grow")
    val base = SketchBuild.buildToStore(spark,
      docs.filter(col("half")), "repo", "content", dir, p)
    val grown = SketchBuild.updateStored(spark, dir,
      docs.filter(!col("half")), "repo", "content")
    // no new bins were allocated (same targets, frozen plan)...
    assert(grown.layout.numBins == base.layout.numBins)
    // ...and every read now fully contains its own repo bin, matching a
    // fresh full build (FP-immune full-containment check, as in q50)
    val fresh = SketchBuild.build(spark, docs, "repo", "content", p)
    assert(matches(grown, docs) == matches(fresh, docs))
    docs.unpersist()
  }

  test("crashed update: old snapshot stays loadable; stale lock recovers") {
    val docs = graft.synth.Corpus.df(spark, 120, numRepos = 6, partitions = 2)
      .cache()
    val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
    val dir = freshDir("crash")
    SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    val preMatches = matches(graft.io.SketchStore.loadTwoLevelLazy(spark, dir),
      docs)
    // simulate a writer that crashed mid-way through generation 2: a held
    // lock plus garbage partial blobs in shards_v2 — CURRENT still points
    // at generation 1, so loads serve the committed snapshot untouched
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/LOCK_gen_2"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/shards_v2"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/shards_v2/grp_0.bin"),
      Array[Byte](1, 2, 3))
    assert(matches(graft.io.SketchStore.loadTwoLevelLazy(spark, dir), docs)
      == preMatches, "partial next-gen garbage must be invisible")
    // a new update fails FAST on the held generation lock...
    val e = intercept[IllegalStateException] {
      SketchBuild.updateStored(spark, dir, null, "repo", "content")
    }
    assert(e.getMessage.contains("releaseStaleLocks"))
    // ...and after lock release (no writer running) the retry commits
    assert(graft.io.SketchStore.releaseStaleLocks(spark, dir) == 1)
    val rm = docs.select("repo").distinct().orderBy("repo")
      .first().getString(0)
    val upd = SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(rm))
    assert(upd.generation == 2)
    assert(graft.io.SketchStore.loadTwoLevelLazy(spark, dir).targets.length ==
      upd.targets.length)
    docs.unpersist()
  }

  test("failed in-process writer releases its own lock: a retry commits " +
      "without releaseStaleLocks") {
    val docs = graft.synth.Corpus.df(spark, 120, numRepos = 6, partitions = 2)
      .cache()
    val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
    val dir = freshDir("selfrelease")
    SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    // an update whose Spark job deterministically fails AFTER the
    // generation claim (the failing udf evaluates inside the wrapped
    // shard pass)
    val boom = udf((s: String) => {
      throw new RuntimeException("boom"); s
    })
    val badDelta = docs.limit(10).withColumn("content", boom(col("content")))
    intercept[Throwable] {
      SketchBuild.updateStored(spark, dir, badDelta, "repo", "content")
    }
    assert(!new java.io.File(s"$dir/LOCK_gen_2").exists(),
      "a failed in-process writer must not leave its generation lock behind")
    // the retry claims the same generation directly — no manual
    // releaseStaleLocks step
    val rm = docs.select("repo").distinct().orderBy("repo")
      .first().getString(0)
    val upd = SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(rm))
    assert(upd.generation == 2)
    docs.unpersist()
  }

  test("lost-update race: a stale writer cannot reclaim a committed " +
      "generation") {
    val docs = graft.synth.Corpus.df(spark, 120, numRepos = 6, partitions = 2)
    val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
    val dir = freshDir("race")
    SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    val rm = docs.select("repo").distinct().orderBy("repo")
      .first().getString(0)
    // writer B commits generation 2 and releases its lock...
    SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(rm))
    // ...then writer A — which loaded at generation 1 BEFORE B committed —
    // tries to claim generation 2: the recreatable lock alone would let it
    // overwrite committed blobs; the post-claim CURRENT check must refuse
    val hconf = spark.sparkContext.hadoopConfiguration
    val e = intercept[IllegalStateException] {
      graft.io.SketchStore.claimGeneration(hconf, dir, 2)
    }
    assert(e.getMessage.contains("advanced"))
    // the aborted claim left no lock behind: a fresh update (gen 3) works
    val upd = SketchBuild.updateStored(spark, dir, null, "repo", "content")
    assert(upd.generation == 3)
  }

  test("snapshot isolation: a handle loaded pre-update serves its pinned " +
      "generation through and after the update") {
    val docs = graft.synth.Corpus.df(spark, 600, numRepos = 60, partitions = 4)
      .cache()
    val repos = docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-5)
    val dir = freshDir("iso")
    SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    // load BEFORE the update and probe nothing yet: every later shard read
    // is a COLD fetch through the handle's pinned generation pointers
    val pinned = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    assert(pinned.loadedShards == 0)
    val expectedPre = matches(SketchBuild.build(spark, docs, "repo",
      "content", p), docs)
    // update underneath it: remove one repo, add nothing
    SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(repos.last))
    // the pinned handle still answers with the PRE-update database...
    assert(matches(pinned, docs) == expectedPre,
      "pre-update handle must keep serving its snapshot")
    // ...while a fresh load sees the post-update one
    val post = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    val expectedPost = matches(SketchBuild.build(spark,
      docs.filter(col("repo") =!= repos.last), "repo", "content", p), docs)
    assert(matches(post, docs) == expectedPost)
    docs.unpersist()
  }

  test("every writer clears a crashed attempt's leftover blobs") {
    val docs = graft.synth.Corpus.df(spark, 600, numRepos = 150,
      partitions = 4).cache()
    val repos = docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    val p = IbfParams(k = 19, w = 31, maxFp = 0.001)
    val src = freshDir("exp_src")
    val built = SketchBuild.buildToStore(spark, docs, "repo", "content",
      src, p)
    val nG = built.layout.numGroups
    assume(nG >= 2)
    // simulate a source whose last group legitimately has no blob (an
    // updateStored-appended group that routed zero hashes): the NoBlobGen
    // sentinel marks it, the export SKIPS it — the path a leftover blob
    // from a dead attempt could previously slip through. (A missing file
    // WITHOUT the sentinel is corruption and now fails fast instead.)
    val victim = nG - 1
    assert(new java.io.File(s"$src/shards_v1/grp_$victim.bin").delete())
    val handle = graft.io.SketchStore.loadTwoLevelLazy(spark, src)
    handle.shardGens(victim) = graft.io.SketchStore.NoBlobGen
    val dest = freshDir("exp_dst")
    val store = freshDir("hygiene")
    // no layout here reaches group 999, so no writer rewrites its blob
    val unwritten = 999
    // (writer, store dir, generation it claims, group of the junk blob)
    val writers: Seq[(String, String, Int, Int, () => Any)] = Seq(
      ("save", dest, 1, victim,
        () => graft.io.SketchStore.saveTwoLevel(spark, handle, dest)),
      ("buildToStore", store, 1, unwritten,
        () => SketchBuild.buildToStore(spark, docs, "repo", "content",
          store, p)),
      ("updateStored", store, 2, unwritten,
        () => SketchBuild.updateStored(spark, store, null, "repo",
          "content", removeTargets = Seq(repos.last))),
      ("compactStored", store, 3, unwritten,
        () => SketchBuild.compactStored(spark, store,
          docs.filter(col("repo") =!= repos.last), "repo", "content")))
    val hconf = spark.sparkContext.hadoopConfiguration
    writers.foreach { case (writer, dir, gen, g, run) =>
      // a crashed earlier attempt left a junk blob at the SAME generation
      // this writer will claim (the crash released its lock)
      val junk = new java.io.File(s"$dir/shards_v$gen/grp_$g.bin")
      junk.getParentFile.mkdirs()
      val out = new java.io.FileOutputStream(junk)
      try out.write(Array.fill[Byte](64)(0x5A)) finally out.close()
      run()
      assert(graft.io.SketchStore.currentGeneration(hconf, dir).contains(gen),
        s"$writer must commit generation $gen")
      assert(!junk.exists(),
        s"$writer: the dead attempt's junk blob must not survive into the " +
          "commit")
    }
    // and the exported store answers exactly like the handle
    val re = graft.io.SketchStore.loadTwoLevelLazy(spark, dest)
    assert(matches(re, docs) == matches(handle, docs))
    docs.unpersist()
  }

  test("gcGenerations reclaims superseded blobs, keeps referenced ones") {
    val docs = graft.synth.Corpus.df(spark, 1000, numRepos = 150, partitions = 8)
      .cache()
    val repos = docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-4)
    val dir = freshDir("gc")
    SketchBuild.buildToStore(spark, docs.filter(col("repo") =!= repos.head),
      "repo", "content", dir, p)
    val v1Before = blobs(dir, 1).length
    SketchBuild.updateStored(spark, dir, docs.filter(col("repo") === repos.head),
      "repo", "content", removeTargets = Seq(repos.last))
    val v2 = blobs(dir, 2).map(_.getName).toSet
    assert(v2.nonEmpty && v2.size < v1Before,
      "update must rewrite a strict subset of groups")
    // keepGens = 1: only the current snapshot survives — gen_1 metadata
    // goes, v1 blobs REWRITTEN in v2 go, v1 blobs still referenced stay
    val (files, bytes) = graft.io.SketchStore.gcGenerations(spark, dir, 1)
    assert(files > 0 && bytes > 0)
    assert(!new java.io.File(s"$dir/gen_1").exists())
    val v1Left = blobs(dir, 1).map(_.getName).toSet
    assert(v1Left.nonEmpty, "untouched groups' blobs are still referenced")
    assert(v1Left.intersect(v2).isEmpty,
      "every rewritten group's old blob must be gone")
    // the store still classifies exactly like a fresh build of the final set
    val fresh = SketchBuild.build(spark,
      docs.filter(col("repo") =!= repos.last), "repo", "content", p)
    assert(matches(graft.io.SketchStore.loadTwoLevelLazy(spark, dir), docs)
      == matches(fresh, docs))
    docs.unpersist()
  }

  test("compaction lost-update race: a compaction planned from a stale " +
      "manifest fails at the claim instead of discarding the newer commit") {
    val docs = graft.synth.Corpus.df(spark, 150, numRepos = 8, partitions = 2)
      .cache()
    val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
    val dir = freshDir("compactrace")
    SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    // compaction reads the manifest (generation 1) and starts planning...
    val stale = graft.io.SketchStore.readManifest(spark, dir)
    assert(stale.generation == 1)
    // ...a concurrent update commits generation 2 in the window...
    val rm = docs.select("repo").distinct().orderBy("repo")
      .first().getString(0)
    SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(rm))
    // ...so the stale-planned compaction MUST refuse (it would otherwise
    // commit a store rebuilt from gen-1 metadata, resurrecting rm and
    // silently discarding gen 2)
    val e = intercept[IllegalStateException] {
      SketchBuild.compactStoredFrom(spark, dir, docs, "repo", "content",
        stale)
    }
    assert(e.getMessage.contains("advanced"))
    // the store is untouched: CURRENT still 2, a fresh compaction works
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(graft.io.SketchStore.currentGeneration(hconf, dir).contains(2))
    val compacted = SketchBuild.compactStored(spark, dir,
      docs.filter(col("repo") =!= rm), "repo", "content")
    assert(compacted.generation == 3)
    docs.unpersist()
  }

  test("a gc'd pinned generation fails fast on probe instead of silently " +
      "serving empty bins") {
    val docs = graft.synth.Corpus.df(spark, 600, numRepos = 60, partitions = 4)
      .cache()
    val repos = docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-4)
    val dir = freshDir("gcpinned")
    SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    val pinned = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    // two updates rewrite groups; keepGens=1 then deletes gen-1 blobs that
    // were superseded — exactly what the pinned handle still points at
    SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(repos.last))
    SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(repos.init.last))
    graft.io.SketchStore.gcGenerations(spark, dir, 1)
    val e = intercept[Exception] {
      matches(pinned, docs)
    }
    // Spark wraps the executor-side IllegalStateException; the root cause
    // message must say what happened and name the remedy
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("gc'd while a handle")),
      s"expected the gc'd-generation diagnostic, got: ${messages(e)}")
    docs.unpersist()
  }

  test("removing a target from a sentinel (blob-less) group keeps the " +
      "sentinel — the pointer never names a blob that was never written") {
    import spark.implicits._
    // 64 single-bin targets fill group 0 exactly, so the appended target's
    // bin opens group 1; its content is empty (zero hashes), so group 1
    // commits with the NoBlobGen sentinel
    val docs = graft.synth.Corpus.df(spark, 256, numRepos = 64,
      partitions = 4).cache()
    val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
    val dir = freshDir("sentinelrm")
    val built = SketchBuild.buildToStore(spark, docs, "repo", "content",
      dir, p)
    assume(built.layout.numBins == 64, "need exactly one full group")
    val upd = SketchBuild.updateStored(spark, dir,
      Seq(("zempty", "p", "")).toDF("repo", "path", "content"),
      "repo", "content")
    assert(upd.layout.numGroups == 2)
    assert(upd.shardGens(1) == graft.io.SketchStore.NoBlobGen,
      "appended zero-hash group must carry the sentinel")
    // removal-only update touching ONLY the sentinel group: no blob is
    // written for it, so the committed pointer must stay the sentinel
    val rm = SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq("zempty"))
    assert(rm.shardGens(1) == graft.io.SketchStore.NoBlobGen,
      "removal-only pass writes no blob for a sentinel group")
    // every read path still works: load + probe, export
    val loaded = graft.io.SketchStore.loadAny(spark, dir)
    val fresh = SketchBuild.build(spark, docs, "repo", "content", p)
    assert(matches(loaded, docs) == matches(fresh, docs))
    val dest = freshDir("sentinelrm_exp")
    graft.io.SketchStore.saveTwoLevel(spark,
      graft.io.SketchStore.loadTwoLevelLazy(spark, dir), dest)
    assert(matches(graft.io.SketchStore.loadTwoLevelLazy(spark, dest), docs)
      == matches(fresh, docs))
    docs.unpersist()
  }

  test("compactStored: cycles then compact == fresh; holes squeezed, " +
      "coarse shrinks") {
    val docs = graft.synth.Corpus.df(spark, 1000, numRepos = 150, partitions = 8)
      .cache()
    val repos = docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    // remove megarepo plus roughly half the regular repos across two
    // cycles: every group loses about half its hash mass, so the
    // re-derived coarse must shrink and holes dominate the layout
    val rmBig = "megarepo-0" // ~20% of rows
    val rmHalf = repos.filter(r => r != rmBig && r.last % 2 == 1)
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-5)
    val dir = freshDir("compact")
    SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    // two update cycles of pure removal: holes + coarse staleness pile up
    SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(rmBig))
    SketchBuild.updateStored(spark, dir, null, "repo", "content",
      removeTargets = rmHalf)
    val before = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    val stats = SketchBuild.compactionAdvised(spark, dir, holeFracMax = 0.3)
    assert(stats.holeFrac > 0.3 && stats.advised,
      s"mass removal must trip the hole trigger: $stats")
    val removed = (rmHalf :+ rmBig).toSet
    val keep = docs.filter(!col("repo").isin(removed.toSeq: _*))
    val compacted = SketchBuild.compactStored(spark, dir, keep,
      "repo", "content")
    assert(compacted.generation == before.generation + 1)
    assert(compacted.layout.numBins < before.layout.numBins,
      "holes must be squeezed out of the layout")
    assert(compacted.coarse.sizeBytes < before.coarse.sizeBytes,
      "the re-derived coarse must shrink once the mega-target is gone")
    assert(SketchBuild.compactionAdvised(spark, dir, 0.3).holeFrac == 0.0)
    // equivalence with a from-scratch build of the surviving set — and the
    // PLAN matches too (compaction reuses the manifest cardinalities,
    // which for pure-removal cycles equal a fresh pass 1 on the survivors)
    val fresh = SketchBuild.build(spark, keep, "repo", "content", p)
    assert(compacted.plan == fresh.plan)
    assert(matches(graft.io.SketchStore.loadTwoLevelLazy(spark, dir), docs)
      == matches(fresh, docs))
    docs.unpersist()
  }

  test("lazy shard cache: LRU eviction bounds resident bytes") {
    val docs = graft.synth.Corpus.df(spark, 800, numRepos = 200, partitions = 8)
      .cache()
    // tiny maxFp: the flat probe sums FP contributions across a split
    // target's many bins while coarse pruning (losslessly) drops the ones
    // in never-hit groups, so flat-vs-two-level equality only holds in the
    // FP-immune regime (same discipline as q40/q47/q50)
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-5)
    val dir = freshDir("lru")
    val full = SketchBuild.buildToStore(spark, docs, "repo", "content", dir, p)
    assert(full.layout.numGroups >= 3, "need several groups to rotate over")
    val oneShard = blobs(dir, 1).map(_.length()).max
    val bound = oneShard * 2 + 64
    spark.conf.set("spark.graft.shard.cache.bytes", bound.toString)
    val lru = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    spark.conf.unset("spark.graft.shard.cache.bytes")
    // rotate the whole corpus through (touches every group), then check
    // the cache never kept more than the bound
    val flat = SketchBuild.build(spark, docs, "repo", "content", p)
    assert(matches(lru, docs) == matches(flat, docs),
      "eviction must never change answers")
    assert(lru.residentBytes <= bound,
      s"resident ${lru.residentBytes} > bound $bound")
    assert(lru.loadedShards < lru.layout.numGroups,
      "a rotating workload over a bounded cache cannot keep every shard")
    docs.unpersist()
  }

  test("updateStored: add+remove rewrites only touched groups, equals fresh") {
    // enough repos for several 64-bin groups, so "untouched group" exists
    val docs = graft.synth.Corpus.df(spark, 1000, numRepos = 150, partitions = 8)
      .cache()
    val repos = docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    val addRepo = repos.head
    val rmRepo = repos.last
    // tiny maxFp: updated and fresh filters have different bits, so an
    // FP-completed near-containment could otherwise differ between them
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-5)
    val dir = freshDir("update")
    val baseDb = SketchBuild.buildToStore(spark,
      docs.filter(col("repo") =!= addRepo), "repo", "content", dir, p)

    // record gen-1 blob mtimes; untouched groups must not be rewritten
    val before = blobs(dir, 1).map(f => f.getName -> f.lastModified()).toMap

    val updated = SketchBuild.updateStored(spark, dir,
      docs.filter(col("repo") === addRepo), "repo", "content",
      removeTargets = Seq(rmRepo))
    val fresh = SketchBuild.build(spark,
      docs.filter(col("repo") =!= rmRepo), "repo", "content", p)

    assert(matches(updated, docs) == matches(fresh, docs))
    // reload from the store: the update is durable, not just in-memory
    val reloaded = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    assert(matches(reloaded, docs) == matches(fresh, docs))

    // O(delta) evidence: groups holding neither the added nor the removed
    // target keep their gen-1 blob (same mtime, generation pointer still 1)
    // and gained NO gen-2 blob — they were never read or rewritten
    val after = blobs(dir, 1).map(f => f.getName -> f.lastModified()).toMap
    val v2 = blobs(dir, 2).map(_.getName).toSet
    def groupsOf(db: ProbeDb, layout: BinLayout, t: String): Set[Int] =
      db.targetIndex.get(t).map { i =>
        val b0 = layout.base(i)
        (b0 / 64 to (b0 + layout.split(i) - 1) / 64).toSet
      }.getOrElse(Set.empty)
    // the removed target's groups come from the PRE-update layout (it no
    // longer exists in the updated index)
    val touched = groupsOf(updated, updated.layout, addRepo) ++
      groupsOf(baseDb, baseDb.layout, rmRepo)
    val untouched = before.keySet.filter { name =>
      !touched.contains(name.stripPrefix("grp_").stripSuffix(".bin").toInt)
    }
    assert(untouched.nonEmpty, "layout left no untouched group to observe")
    untouched.foreach { name =>
      assert(before(name) == after(name), s"untouched blob $name rewritten")
      assert(!v2.contains(name), s"untouched group $name got a gen-2 blob")
      val g = name.stripPrefix("grp_").stripSuffix(".bin").toInt
      assert(updated.shardGens(g) == 1,
        s"untouched group $g must keep its gen-1 pointer")
    }
    docs.unpersist()
  }
}
