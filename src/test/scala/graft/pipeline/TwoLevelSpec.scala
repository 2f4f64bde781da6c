package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, SketchBuild, SketchDb}
import graft.classify.{Classify, ClassifyParams}
import graft.spark.SparkTestSession
import graft.synth.Corpus

/** Two-level (HIBF-like) layout: classification must equal the flat IBF's
  * (coarse pruning is exact — union counts upper-bound member counts),
  * mirroring the reference's {ibf, hibf} test parameterization
  * (tests/ganon/integration, SURVEY.md §5). */
class TwoLevelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // enough distinct repos for >=3 64-bin groups (the zipf-ish repo draw
  // leaves tail repos empty, so oversample), exercising real group
  // boundaries and group-spanning split bins
  private lazy val corpus = Corpus.df(spark, 2000, numRepos = 300, partitions = 4)
    .cache()
  private val p = IbfParams(k = 8, w = 12, maxFp = 0.01)

  test("two-level classify == flat classify (all params)") {
    val flat = SketchBuild.build(spark, corpus, "repo", "content", p)
    val two = SketchBuild.buildTwoLevel(spark, corpus, "repo", "content", p)
    // one resident shard per 64-bin group, all materialized at build
    assert(two.isResident && two.loadedShards == flat.layout.numGroups)
    assert(two.loadedShards >= 3)
    Seq(ClassifyParams(relCutoff = 0.25), ClassifyParams(relCutoff = 0.75))
      .foreach { cp =>
        val reads = corpus.limit(120).withColumn("id", $"path")
        val a = Classify.allMatches(Classify.classify(spark, reads,
          "id", "content", flat, cp)).collect().map(_.toString).sorted
        val b = Classify.allMatches(Classify.classify(spark, reads,
          "id", "content", two, cp)).collect().map(_.toString).sorted
        assert(a.sameElements(b), s"flat=${a.length} two=${b.length} at $cp")
      }
  }

  test("multi-filter level: max count per target across filters") {
    import org.apache.spark.sql.functions._
    // two filters over disjoint target sets + one shared target
    val dfA = Seq(("tA", "aa bb cc dd ee"), ("shared", "xx yy zz ww"))
      .toDF("repo", "content")
    val dfB = Seq(("tB", "ff gg hh ii"), ("shared", "xx yy"))
      .toDF("repo", "content")
    val pp = IbfParams(k = 3, w = 3, maxFp = 0.001)
    val dbA = SketchBuild.build(spark, dfA, "repo", "content", pp)
    val dbB = SketchBuild.build(spark, dfB, "repo", "content", pp)
    val reads = Seq(("r1", "xx yy zz ww")).toDF("id", "content")
    val res = graft.classify.Classify.classifyMultiFilter(spark, reads,
      "id", "content", Seq(dbA, dbB),
      graft.classify.ClassifyParams(relCutoff = 0.2))
    val m = graft.classify.Classify.allMatches(res)
      .collect().map(r => (r.getString(1), r.getInt(2))).toMap
    val n = graft.core.Hashing.shingles("xx yy zz ww", 3, 3).length
    // shared appears in both filters; A's copy holds the full read -> max=n
    assert(m("shared") == n, s"got $m expected shared=$n")
    assert(!m.contains("tB"))
  }

  test("multi-filter level: 16 concurrent partitions == 1 partition") {
    // one broadcast merged db serves every task thread of the executor;
    // per-filter cutoffs and an LCA exercise the whole per-read path
    val dbA = SketchBuild.build(spark, corpus.filter(hash($"repo") % 2 === 0),
      "repo", "content", p)
    val dbB = SketchBuild.build(spark, corpus.filter(hash($"path") % 3 === 0),
      "repo", "content", p)
    val targets = (dbA.targets ++ dbB.targets).distinct
    val lca = graft.core.Lca.build(
      targets.map(t => t -> s"g${math.abs(t.hashCode % 7)}").toMap ++
        (0 until 7).map(g => s"g$g" -> "root"), "root")
    val reads = corpus.select($"path".as("id"), $"content")
    def run(parts: Int) = Classify.classifyMultiFilter(spark,
      reads.repartition(parts), "id", "content", Seq(dbA, dbB),
      ClassifyParams(relCutoff = 0.25), Some(lca), Seq(0.2, 0.5)).collect()
    def rows(rs: Array[graft.classify.ReadResult]) = rs.map(r => (r.read_id,
      r.n_hashes, r.matches.map(m => s"${m.target}:${m.count}").mkString(","),
      r.assignment, r.unique, r.skipped, r.discarded_filter,
      r.discarded_fpr).toString).sorted
    val res1 = run(1)
    assert(res1.length == 2000)
    assert(res1.count(_.matches.length > 1) > 100, "multi-matches expected")
    val one = rows(res1)
    val many = rows(run(16))
    assert(many.sameElements(one),
      many.zip(one).filter { case (a, b) => a != b }.take(3).mkString("\n"))
  }

  test("paired shingles == union of mates' shingle sets") {
    import org.apache.spark.sql.functions._
    val df = Seq(("aa bb cc", "cc dd ee")).toDF("c1", "c2")
    val got = df.select(graft.spark.GraftFunctions
      .pairedShingles(col("c1"), col("c2"), 3, 3).as("hs"))
      .head().getAs[scala.collection.Seq[Long]](0).toArray
    val expect = graft.core.Hashing.sortedDistinct(
      graft.core.Hashing.shingles("aa bb cc", 3, 3) ++
        graft.core.Hashing.shingles("cc dd ee", 3, 3))
    assert(got.sameElements(expect))
  }

  test("lazy two-level: store roundtrip, classify == in-memory, shards on demand") {
    val two = SketchBuild.buildTwoLevel(spark, corpus, "repo", "content", p)
    val dir = java.nio.file.Files.createTempDirectory("graft_lazy").toString
    graft.io.SketchStore.saveTwoLevel(spark, two, dir)
    val lazyDb = graft.io.SketchStore.loadTwoLevelLazy(spark, dir)
    assert(lazyDb.loadedShards == 0)
    // broadcast footprint = coarse only
    assert(lazyDb.sizeBytes < two.sizeBytes)
    val reads = corpus.limit(100).withColumn("id", $"path")
    val a = Classify.allMatches(Classify.classify(spark, reads,
      "id", "content", two, ClassifyParams(relCutoff = 0.25)))
      .collect().map(_.toString).sorted
    val b = Classify.allMatches(Classify.classify(spark, reads,
      "id", "content", lazyDb, ClassifyParams(relCutoff = 0.25)))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // driver-side direct probe loads only the groups it needs
    val row = corpus.select("content").head()
    val hs = graft.core.Hashing.shingles(row.getString(0), p.k, p.w, p.seed)
    val counts = new Array[Int](lazyDb.targets.length)
    lazyDb.probe(hs, counts, math.max(1, hs.length))
    assert(lazyDb.loadedShards >= 1)
  }

  test("loadAny on a two-level store is store-backed: no shard before " +
      "the first probe, classify == flat") {
    val flat = SketchBuild.build(spark, corpus, "repo", "content", p)
    val two = SketchBuild.buildTwoLevel(spark, corpus, "repo", "content", p)
    val dir = java.nio.file.Files.createTempDirectory("graft_loadany").toString
    graft.io.SketchStore.saveTwoLevel(spark, two, dir)
    val blobReads = graft.io.SketchStore.shardBlobReads.get()
    val loaded = graft.io.SketchStore.loadAny(spark, dir)
    assert(graft.io.SketchStore.shardBlobReads.get() == blobReads,
      "loading must read no shard blob")
    val handle = loaded
    assert(!handle.isResident && handle.loadedShards == 0)
    val reads = corpus.limit(120).withColumn("id", $"path")
    val cp = ClassifyParams(relCutoff = 0.25)
    def all(db: graft.build.ProbeDb) = Classify.allMatches(
      Classify.classify(spark, reads, "id", "content", db, cp))
      .collect().map(_.toString).sorted
    assert(all(handle).sameElements(all(flat)))
    assert(handle.loadedShards > 0, "probing fetched the working set")
  }

  test("two-level probe prunes: zero FN survives group pruning") {
    val two = SketchBuild.buildTwoLevel(spark, corpus, "repo", "content", p)
    val row = corpus.select("content", "repo").head()
    val hs = graft.core.Hashing.shingles(row.getString(0), p.k, p.w, p.seed)
    val counts = new Array[Int](two.targets.length)
    two.probe(hs, counts, hs.length) // cutoff = full coverage
    val ownBin = two.targetIndex(row.getString(1))
    // summed split-bin count >= n (sibling-bin FPs can only add)
    assert(counts(ownBin) >= hs.length)
  }

  test("BinLayout.slices: exact per-group subsets; unknown targets route " +
      "nowhere") {
    import graft.build.BinLayout
    val hs = Array.tabulate(500)(i => graft.core.Hashing.hashLong(i, 5L))
    // "one" is split-free; "wide" spans bins 60..139, i.e. groups 0..2
    val bins = Map("one" -> ((3, 1)), "wide" -> ((60, 80)))
    val one = BinLayout.slices(bins, "one", hs).toList
    assert(one.size == 1 && one.head.grp == 0 && (one.head.hs eq hs))
    assert(BinLayout.slices(bins, "absent", hs).isEmpty)
    val wide = BinLayout.slices(bins, "wide", hs).toList
    assert(wide.map(_.grp).sorted == List(0, 1, 2))
    wide.foreach { s =>
      assert(s.base == 60 && s.split == 80)
      assert(s.hs.forall(h => (60 + BinLayout.routeBin(h, 80)) / 64 == s.grp))
    }
    assert(wide.flatMap(_.hs).sorted == hs.toList.sorted)
  }

  test("two-level build survives a whole 64-bin group with zero hashes") {
    // >64 single-bin targets where the name-sorted TAIL (its own group)
    // has content shorter than k: those bins route nothing, the group gets
    // no shard row, and the build must materialize an empty shard instead
    // of leaving a null (crash pre-fix)
    val rows = (0 until 70).map { i =>
      val t = f"t$i%02d"
      val content = if (i >= 64) "" else s"content-of-$t-" * 5
      (t, content)
    }
    val df = rows.toDF("repo", "content")
    val two = SketchBuild.buildTwoLevel(spark, df, "repo", "content", p)
    assert(two.sizeBytes > 0) // walks every shard — NPEs on null
    val res = Classify.allMatches(Classify.classify(spark,
      df.withColumn("id", col("repo")), "id", "content", two,
      ClassifyParams(relCutoff = 1.0, fprQuery = 1.0)))
    val hits = res.collect().map(r => (r.getString(0), r.getString(1)))
    // every non-empty doc still self-hits; empty docs are skipped
    (0 until 64).foreach(i => assert(hits.contains((f"t$i%02d", f"t$i%02d"))))
    assert(!hits.exists(_._2 >= "t64"))
  }

  /** Per-target counts of `SketchDb.probe`, recomputed by brute force on
    * the stitched flat filter: a group survives when the db has no coarse
    * level, or when the read's coarse count for it reaches the cutoff (1
    * for a group-spanning layout); a target counts, per technical bin in a
    * surviving group, the hashes that bin contains. */
  private def bruteCounts(db: SketchDb, hs: Array[Long],
      cutoff: Int): Array[Int] = {
    val flat = db.ibf
    val l = db.layout
    val effCutoff = if (l.anyGroupSpanning) 1 else cutoff
    val survives = Array.tabulate(l.numGroups)(g => db.coarse == null ||
      hs.count(h => db.coarse.containsInBins(h, g, g + 1)) >= effCutoff)
    Array.tabulate(db.targets.length) { t =>
      (l.base(t) until l.base(t) + l.split(t)).filter(b => survives(b / 64))
        .map(b => hs.count(h => flat.containsInBins(h, b, b + 1))).sum
    }
  }

  private def survivorCount(db: SketchDb, hs: Array[Long], cutoff: Int): Int =
    if (db.coarse == null) db.layout.numGroups
    else (0 until db.layout.numGroups).count(g =>
      hs.count(h => db.coarse.containsInBins(h, g, g + 1)) >= cutoff)

  test("probe kernels: counts == brute force per technical bin, with 0, 1 " +
      "and several surviving groups, coarse or not") {
    val rnd = new scala.util.Random(11)
    def text(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // 150 one-bin targets over 3 groups; "t061x" sorts at bin 62 and is
    // big enough to split across the group-0/group-1 boundary
    val small = (0 until 150).map(i => (f"t$i%03d", text(300)))
    val pp = IbfParams(k = 8, w = 10, maxFp = 0.01)
    val twoDb = SketchBuild.buildTwoLevel(spark, small.toDF("repo", "content"),
      "repo", "content", pp)
    val withSplit = small :+ (("t061x", text(60000)))
    val flatDb = SketchBuild.build(spark, withSplit.toDF("repo", "content"),
      "repo", "content", pp)
    val oneGroupDb = SketchBuild.build(spark,
      small.take(40).toDF("repo", "content"), "repo", "content", pp)
    assert(twoDb.coarse != null && twoDb.layout.numGroups == 3 &&
      !twoDb.layout.anyGroupSpanning)
    assert(flatDb.coarse == null && flatDb.layout.numGroups >= 3)
    val big = flatDb.targetIndex("t061x")
    assert(flatDb.layout.base(big) / 64 !=
      (flatDb.layout.base(big) + flatDb.layout.split(big) - 1) / 64,
      "the split target must cross a group boundary")
    assert(oneGroupDb.coarse == null && oneGroupDb.layout.numGroups == 1)

    val reads = small.indices.filter(_ % 7 == 3).map(small(_)._2) ++
      Seq(withSplit.last._2.substring(0, 2000), text(300))
    val survivors = scala.collection.mutable.Set.empty[Int]
    for (db <- Seq(twoDb, flatDb, oneGroupDb); read <- reads) {
      val hs = graft.core.Hashing.shingles(read, pp.k, pp.w, pp.seed)
      for (cutoff <- Seq(1, hs.length)) {
        val counts = new Array[Int](db.targets.length)
        db.probe(hs, counts, cutoff)
        val expect = bruteCounts(db, hs, cutoff)
        assert(counts.sameElements(expect), s"cutoff $cutoff: " +
          db.targets.indices.filter(t => counts(t) != expect(t)).take(5)
            .map(t => s"${db.targets(t)} ${counts(t)} != ${expect(t)}")
            .mkString(", "))
        if (db eq twoDb) survivors += survivorCount(db, hs, cutoff)
      }
    }
    assert(survivors.contains(0) && survivors.contains(1) &&
      survivors.exists(_ > 1), s"surviving-group counts seen: $survivors")
  }
}
