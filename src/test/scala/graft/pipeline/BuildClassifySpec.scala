package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, SketchBuild}
import graft.classify.{Classify, ClassifyParams}
import graft.core.{Hashing, Lca}
import graft.spark.SparkTestSession
import graft.synth.Corpus

/**
 * End-to-end build+classify invariants — the Spark analog of the
 * reference's GanonBuild/GanonClassify test layers:
 * zero false negatives (GanonBuild.test.cpp:54-100), FP <= bound
 * (:44-51), golden hand-countable shingles (GanonClassify.test.cpp:253-269),
 * cross-output consistency (:147-168), resumable checkpoints, and the
 * sha256 row invariant from BASELINE.json.
 */
class BuildClassifySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val corpus = Corpus.df(spark, 400, numRepos = 12, partitions = 4)
    .cache()
  private val params = IbfParams(k = 8, w = 12, maxFp = 0.01, hllP = 14)
  private lazy val db = SketchBuild.build(spark, corpus, "repo", "content", params)

  test("build: every target becomes a bin; plan respects maxFp") {
    val repos = corpus.select("repo").distinct().count()
    assert(db.targets.length == repos)
    assert(db.plan.expectedMaxFp <= params.maxFp * 1.1)
  }

  test("classify: zero false negatives against own bin") {
    val withId = corpus.withColumn("rid", concat($"repo", lit("#"), $"path"))
    val res = Classify.classify(spark, withId, "rid", "content", db)
    val all = Classify.allMatches(res)
    val n = withId.count()
    val selfHits = all
      .filter(expr("substring_index(read_id, '#', 1) = target")).count()
    assert(selfHits == n, s"$selfHits self hits != $n reads")
  }

  test("multibyte content: the skip check counts BYTES like the shingle window") {
    // 5 CJK chars = 15 UTF-8 bytes: >= w=12 bytes so it MUST classify;
    // a character-based check (5 < 12) would wrongly skip it
    val df = Seq(("cjk", "漢字漢字漢"),
      ("ascii", "abcdefghijklmnopqrstuvwxyz")).toDF("repo", "content")
    val db2 = SketchBuild.build(spark, df, "repo", "content", params)
    val res = Classify.classify(spark,
      df.withColumn("rid", $"repo"), "rid", "content", db2)
    val m = res.collect().map(r => r.read_id -> r).toMap
    assert(!m("cjk").skipped, "45-byte CJK read was skipped on char length")
    assert(m("cjk").assignment == "cjk")
  }

  test("stats/.sta on EMPTY input: zero row, not null sums") {
    val res = Classify.classify(spark,
      corpus.limit(0).withColumn("rid", $"path"), "rid", "content", db)
    val s = Classify.stats(res).head()
    assert(!s.anyNull)
    assert(s.getLong(0) == 0 && s.getLong(5) == 0)
    val sta = Classify.staReport(res).head()
    assert(!sta.anyNull)
    assert(sta.getAs[Long]("seq_processed") == 0 &&
      sta.getAs[Long]("kmers_matched") == 0)
  }

  test("classify: golden hand-countable — repeated token content") {
    // period-5 content "ab cd ab cd ..." has tiny distinct shingle count;
    // a doc of pure repeats must match only bins containing that pattern
    val tiny = Seq(
      ("r1", "xy " * 40),
      ("r2", "zq " * 40),
      ("r3", ("xy " * 20) + ("zq " * 20))).toDF("repo", "content")
    val p = IbfParams(k = 3, w = 3, maxFp = 0.001)
    val tinyDb = SketchBuild.build(spark, tiny, "repo", "content", p)
    val res = Classify.classify(spark, tiny.withColumn("id", $"repo"),
      "id", "content", tinyDb, ClassifyParams(relCutoff = 0.9))
    val one = Classify.oneAssignments(res)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(one("r1") == "r1" || one("r1") == "r3") // r3 contains xy-shingles too
    // r1's shingles ("xy ","y x"," xy") are all inside r3's content as well:
    // so r1 must match both r1 and r3 at cutoff 0.9... but r3's boundary
    // shingles differ. The hard assertion: r1 never matches r2.
    val allRows = Classify.allMatches(res).collect()
    assert(!allRows.exists(r => r.getString(0) == "r1" && r.getString(1) == "r2"))
    assert(!allRows.exists(r => r.getString(0) == "r2" && r.getString(1) == "r1"))
  }

  test("classify: rel-cutoff monotonicity (higher cutoff, fewer matches)") {
    val loose = Classify.allMatches(Classify.classify(spark,
      corpus.limit(100).withColumn("id", $"path"), "id", "content", db,
      ClassifyParams(relCutoff = 0.1))).count()
    val strict = Classify.allMatches(Classify.classify(spark,
      corpus.limit(100).withColumn("id", $"path"), "id", "content", db,
      ClassifyParams(relCutoff = 0.9))).count()
    assert(strict <= loose)
    assert(strict >= 100) // own bin always survives (coverage 1.0)
  }

  test("cross-output consistency: all/one/unclassified partition the reads") {
    val ds = corpus.limit(200).withColumn("id", $"path")
    val res = Classify.classify(spark, ds, "id", "content", db,
      ClassifyParams(relCutoff = 0.25)).cache()
    val n = ds.count()
    val one = Classify.oneAssignments(res).count()
    val unc = Classify.unclassified(res).count()
    val skipped = res.filter(_.skipped).count()
    assert(one + unc + skipped == n)
    val allRows = Classify.allMatches(res).count()
    val repSum = Classify.report(res).agg(sum("matches")).first().getLong(0)
    assert(allRows == repSum)
  }

  test(".rep sink: writeRepTsv writes the report as a headed TSV that reads " +
      "back equal") {
    val res = Classify.classify(spark, corpus.limit(100), "path", "content", db)
    val rep = Classify.report(res).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    graft.io.Formats.writeRepTsv(rep, s"$dir/rep")
    val files = new java.io.File(s"$dir/rep").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, "one TSV file")
    val lines = scala.io.Source.fromFile(files.head, "UTF-8").getLines().toList
    assert(lines.head == rep.columns.mkString("\t"))
    val back = spark.read.option("sep", "\t").option("header", "true")
      .schema(rep.schema).csv(s"$dir/rep")
    assert(back.collect().toSet == rep.collect().toSet)
    assert(lines.size == rep.count() + 1)
    rep.unpersist()
  }

  test(".sta report: 18 reference columns, internally consistent counters") {
    val ds = corpus.limit(200).withColumn("id", $"path")
    // strict rel-filter (keep only the max-count match) forces discards on
    // multi-matching reads — the counter the reference tracks per thread
    val res = Classify.classify(spark, ds, "id", "content", db,
      ClassifyParams(relCutoff = 0.1, relFilter = 0.0)).cache()
    val sta = Classify.staReport(res, "sampleX", "lvl1").head()
    assert(sta.getAs[String]("prefix") == "sampleX")
    assert(sta.getAs[Long]("seq_processed") == 200)
    assert(sta.getAs[Long]("seq_classified") +
      sta.getAs[Long]("seq_unclassified") == 200)
    assert(sta.getAs[Long]("seq_unique_matches") +
      sta.getAs[Long]("seq_multiple_matches") ==
      sta.getAs[Long]("seq_classified"))
    assert(sta.getAs[Double]("seq_classified_perc") <= 100.0)
    assert(sta.getAs[Long]("kmers_matched") <=
      sta.getAs[Long]("kmers_from_classified_seqs") * 64) // <= bins x n
    assert(sta.getAs[Double]("kmers_matched_perc") >= 0.0)
    assert(sta.schema.fieldNames.length == 18)
    // loose run discards nothing; strict rel-filter discards something
    val loose = Classify.staReport(Classify.classify(spark, ds, "id",
      "content", db, ClassifyParams(relCutoff = 0.1))).head()
    assert(loose.getAs[Long]("dis_matches_rel_filter") == 0)
    assert(sta.getAs[Long]("dis_matches_rel_filter") >=
      loose.getAs[Long]("dis_matches_rel_filter"))
  }

  test("split-bin build: FP bound holds on absent probes") {
    val probes = Array.tabulate(100000)(i => Hashing.hashLong(i + (1L << 45)))
    val counts = db.ibf.bulkCount(probes)
    db.targets.indices.foreach { b =>
      val fp = counts(b).toDouble / probes.length
      assert(fp <= 2 * params.maxFp, s"bin $b realized fp=$fp")
    }
  }

  test("checkpoint: build resumes from persisted passes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val db1 = SketchBuild.build(spark, corpus, "repo", "content", params, Some(dir))
    // second run must read the checkpoints (delete the input to prove it)
    val db2 = SketchBuild.build(spark, corpus.limit(0), "repo", "content",
      params, Some(dir))
    assert(db1.targets.sameElements(db2.targets))
    assert(db1.ibf.words.sameElements(db2.ibf.words))
  }

  test("checkpoint: CHANGED params invalidate the resume (no stale stitch)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    SketchBuild.build(spark, corpus, "repo", "content", params, Some(dir))
    // same dir, different maxFp: the params fingerprint must force a
    // recompute — a silent reuse would stitch shards sized for 0.01 into
    // a 0.001 plan
    val strict = params.copy(maxFp = 0.001)
    val db2 = SketchBuild.build(spark, corpus, "repo", "content", strict,
      Some(dir))
    assert(db2.plan.expectedMaxFp <= strict.maxFp * 1.1)
    assert(db2.plan.bitsPerBin >
      SketchBuild.build(spark, corpus, "repo", "content", params).plan.bitsPerBin)
  }

  test("sha256 row invariant: content never mutated through the pipeline") {
    val before = corpus.select(sha2($"content", 256).as("h"))
      .orderBy("h").collect().map(_.getString(0))
    // run the full pipeline, then re-hash the same source rows
    Classify.classify(spark, corpus.withColumn("id", $"path"),
      "id", "content", db).count()
    val after = corpus.select(sha2($"content", 256).as("h"))
      .orderBy("h").collect().map(_.getString(0))
    assert(before.sameElements(after))
    assert(corpus.withColumn("h2", sha2($"content", 256))
      .filter($"h2" =!= $"content_sha").count() == 0)
  }

  test("lca resolution: multi-match resolves to ancestor") {
    val parents = corpus.select("repo", "lang").distinct().collect()
      .flatMap(r => Seq(r.getString(0) -> r.getString(1), r.getString(1) -> "root"))
      .toMap
    val lca = Lca.build(parents, "root")
    val res = Classify.classify(spark, corpus.limit(100).withColumn("id", $"path"),
      "id", "content", db, ClassifyParams(relCutoff = 0.2), Some(lca))
    val multi = res.filter(r => !r.unique && r.assignment != null).collect()
    multi.foreach { r =>
      val langs = r.matches.map(m => parents(m.target)).distinct
      if (langs.length == 1) assert(r.assignment == langs.head ||
        r.matches.exists(_.target == r.assignment))
      else assert(r.assignment == "root")
    }
  }
}
