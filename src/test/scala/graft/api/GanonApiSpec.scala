package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, TwoLevelDb}
import graft.classify.ClassifyParams
import graft.spark.SparkTestSession
import graft.synth.Corpus

/** End-to-end through the verb facade — the "reference user switches over"
  * workflow: build -> save -> load -> classify -> reassign -> report -> table. */
class GanonApiSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val corpus = Corpus.df(spark, 250, numRepos = 10, partitions = 4)
    .cache()
  private val p = IbfParams(k = 8, w = 12, maxFp = 0.01)

  test("full ganon workflow through the facade") {
    // build + persist + reload (flat)
    val db = Ganon.build(spark, corpus, "repo", "content", p)
    val dir = java.nio.file.Files.createTempDirectory("graft_api").toString
    Ganon.save(spark, db, dir)
    val loaded = Ganon.load(spark, dir)
    assert(loaded.targets.sameElements(db.targets))

    // taxonomy for LCA
    val tax = corpus.select($"repo".as("node"), $"lang".as("parent"))
      .distinct()
      .union(corpus.select($"lang".as("node"), lit("root").as("parent")).distinct())
      .withColumn("rank", lit("auto")).withColumn("name", col("node"))
      .withColumn("genome_size", lit(1L))

    // classify
    val out = Ganon.classify(spark, corpus.withColumn("id", $"path"),
      "id", "content", loaded, ClassifyParams(relCutoff = 0.25), Some(tax))
    val n = corpus.count()
    assert(out.one.count() == n) // zero FN -> everything classified
    assert(out.sta.first().getAs[Long]("seqs_classified") == n)
    assert(out.all.count() ==
      out.rep.agg(sum("matches")).first().getLong(0))

    // reassign multi-matches
    val one2 = Ganon.reassign(spark, out.all)
    assert(one2.select("read_id").distinct().count() == n)

    // report over root -> lang -> repo
    val lineage = corpus.select($"repo", $"lang").distinct()
      .select($"repo".as("node"),
        array(lit("root"), $"lang", $"repo").as("lineage"))
      .union(corpus.select($"lang".as("node"),
        array(lit("root"), $"lang").as("lineage")).distinct())
      .union(Seq(("root", Array("root"))).toDF("node", "lineage"))
    val counts = one2.groupBy($"target".as("node"))
      .agg(count(lit(1)).as("direct_count"))
    val tre = Ganon.report(counts, lineage)
    val root = tre.filter($"node" === "root").first()
    assert(root.getAs[Long]("cumulative") == n)

    // table: sample = lang, node = repo
    val rep = corpus.groupBy($"lang".as("sample"), $"repo".as("node"))
      .agg(count(lit(1)).as("count"))
    val nodes = corpus.select("repo").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val piv = Ganon.table(rep, nodes)
    assert(piv.count() == corpus.select("lang").distinct().count())
  }

  test("facade: buildToStore + updateStored + paired + batch verbs") {
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    val dir = "/tmp/graft_api_b2s"
    deleteRec(new java.io.File(dir))
    val big = Ganon.buildToStore(spark, corpus, "repo", "content", dir, p)
    assert(big.targets.length == 10)
    val repos = corpus.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    val upd = Ganon.updateStored(spark, dir, null, "repo", "content",
      removeTargets = Seq(repos.last))
    assert(upd.targets.length == 9 && !upd.targets.contains(repos.last))

    // paired: halves of content. w>k means a half's MINIMIZER set is not
    // a subset of the full text's (window boundaries shift at the cut), so
    // full containment can't be asserted — a loose cutoff is the
    // guaranteed regime (the subset property holds only for w==k, which
    // q51 exercises byte-exactly)
    val paired = corpus.withColumn("id", $"path")
      .select($"id", $"repo",
        expr("substring(content, 1, cast(length(content)/2 as int))").as("c1"),
        expr("substring(content, cast(length(content)/2 as int)+1, length(content))").as("c2"))
    val pOut = Ganon.classifyPaired(spark, paired, "id", "c1", "c2", big,
      ClassifyParams(relCutoff = 0.25, fprQuery = 1.0))
    assert(pOut.sta.first().getAs[Long]("seqs_classified") == corpus.count())

    // batch manifest: two single-end sample files -> per-sample rep
    val mdir = "/tmp/graft_api_manifest"
    deleteRec(new java.io.File(mdir))
    corpus.limit(40).select($"path".as("id"), $"content")
      .write.parquet(s"$mdir/a.parquet")
    corpus.orderBy($"path".desc).limit(40).select($"path".as("id"), $"content")
      .write.parquet(s"$mdir/b.parquet")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$mdir/m.tsv"),
      s"sA\t$mdir/a.parquet\nsB\t$mdir/b.parquet\n")
    val manifest = graft.io.Formats.readBatchManifest(spark, s"$mdir/m.tsv")
    val (res, rep, sta) = Ganon.classifyBatch(spark, manifest, "id",
      "content", big, ClassifyParams(relCutoff = 0.25))
    assert(res.select("sample").distinct().count() == 2)
    assert(rep.select("sample").distinct().count() == 2)
    assert(sta.count() == 2 &&
      sta.agg(sum("seq_classified")).first().getLong(0) == 80L)

    // compaction verbs: the removal above left masked holes; advise ->
    // compact (one content scan over survivors) -> advise clean; GC then
    // reclaims the superseded generations' blobs
    val pre = Ganon.compactionAdvised(spark, dir)
    assert(pre.holeFrac > 0.0)
    val keep = corpus.filter($"repo" =!= repos.last)
    val compacted = Ganon.compactStored(spark, dir, keep, "repo", "content")
    assert(compacted.targets.length == 9)
    assert(Ganon.compactionAdvised(spark, dir).holeFrac == 0.0)
    val (gcFiles, gcBytes) = Ganon.gcStore(spark, dir, keepGens = 1)
    assert(gcFiles > 0 && gcBytes > 0)
    // the store still classifies after GC (current snapshot untouched)
    val reloaded = Ganon.load(spark, dir)
    assert(reloaded.targets.length == 9)

    // saving a store-backed handle EXPORTS its pinned snapshot: the copy
    // is a fresh self-contained store that classifies identically
    val expDir = "/tmp/graft_api_export"
    deleteRec(new java.io.File(expDir))
    Ganon.save(spark, compacted, expDir)
    val exported = Ganon.load(spark, expDir)
    assert(exported.targets.sorted.sameElements(compacted.targets.sorted))
    val probe = corpus.limit(30).select($"path".as("id"), $"content")
    def hits(db: graft.build.ProbeDb) =
      Ganon.classify(spark, probe, "id", "content", db,
        ClassifyParams(relCutoff = 0.25)).one
        .select("read_id", "target").collect().map(r => (r.getString(0),
          r.getString(1))).toSet
    assert(hits(exported) == hits(compacted))
    // exporting onto the source store itself is refused
    val err = intercept[IllegalArgumentException] {
      Ganon.save(spark, compacted, dir)
    }
    assert(err.getMessage.contains("source store itself"))
  }

  test("facade: PAIRED batch manifest hashes the mates' union") {
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    val mdir = "/tmp/graft_api_paired_manifest"
    deleteRec(new java.io.File(mdir))
    // w == k so gram sets are exact: each read's mates carry DISJOINT
    // halves of its content; classifying on mate 1 alone could never reach
    // full containment of the own bin, so relCutoff = 1.0 passing for all
    // reads proves the union actually includes mate 2
    val pk = IbfParams(k = 8, w = 8, maxFp = 1e-5)
    val reads = corpus.limit(40).select($"path".as("id"), $"repo", $"content")
      .cache()
    val db = Ganon.build(spark, reads, "repo", "content", pk)
    reads.select($"id",
        expr("substring(content, 1, cast(length(content)/2 as int))")
          .as("content"))
      .write.parquet(s"$mdir/m1.parquet")
    reads.select($"id",
        expr("substring(content, cast(length(content)/2 as int)+1, length(content))")
          .as("content"))
      .write.parquet(s"$mdir/m2.parquet")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$mdir/m.tsv"),
      s"sP\t$mdir/m1.parquet\t$mdir/m2.parquet\n")
    val manifest = graft.io.Formats.readBatchManifest(spark, s"$mdir/m.tsv")
    val (res, _, sta) = Ganon.classifyBatch(spark, manifest, "id",
      "content", db, ClassifyParams(relCutoff = 1.0, fprQuery = 1.0))
    assert(sta.first().getAs[Long]("seq_classified") == 40L)
    // the per-read hash set must equal the mates' distinct union
    val nh = res.select("read_id", "n_hashes").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val texts = reads.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    nh.foreach { case (id, n) =>
      val full = texts(id)
      val cut = full.length / 2
      val union = graft.core.Hashing.sortedDistinct(
        graft.core.Hashing.shingles(full.substring(0, cut), 8, 8) ++
          graft.core.Hashing.shingles(full.substring(cut), 8, 8))
      assert(n == union.length, s"read $id")
    }
    reads.unpersist()
  }

  test("two-level store roundtrip classifies identically") {
    val two = Ganon.build(spark, corpus, "repo", "content", p, twoLevel = true)
    val dir = java.nio.file.Files.createTempDirectory("graft_api2").toString
    Ganon.save(spark, two, dir)
    val loaded = Ganon.load(spark, dir)
    assert(loaded.isInstanceOf[TwoLevelDb])
    val reads = corpus.limit(60).withColumn("id", $"path")
    val a = Ganon.classify(spark, reads, "id", "content", two)
      .all.collect().map(_.toString).sorted
    val b = Ganon.classify(spark, reads, "id", "content", loaded)
      .all.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("facade: pinStore keeps a generation through gcStoreReport") {
    val dir = java.nio.file.Files.createTempDirectory("graft_apipin").toString
    new java.io.File(dir).delete()
    val db1 = Ganon.buildToStore(spark,
      corpus.filter($"repo" === "repo-1"), "repo", "content", dir, p)
    val pin = Ganon.pinStore(spark, dir, 1)
    Ganon.updateStored(spark, dir,
      corpus.filter($"repo" === "repo-2"), "repo", "content")
    Ganon.updateStored(spark, dir,
      corpus.filter($"repo" === "repo-3"), "repo", "content")
    val r = Ganon.gcStoreReport(spark, dir, keepGens = 1)
    assert(r.pinnedKept == Seq(1))
    assert(new java.io.File(s"$dir/gen_1").exists())
    Ganon.unpinStore(spark, dir, pin)
    val r2 = Ganon.gcStoreReport(spark, dir, keepGens = 1)
    assert(r2.pinnedKept.isEmpty && !new java.io.File(s"$dir/gen_1").exists())
    db1.hashCode() // silence unused warning; the pin is the protagonist
    ()
  }
}
