package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, SketchBuild}
import graft.classify.{Classify, ClassifyParams}
import graft.metrics.TaskMetricsCollector
import graft.spark.SparkTestSession
import graft.streaming.StreamClassify
import graft.synth.Corpus

class StoreStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val corpus = Corpus.df(spark, 200, numRepos = 8, partitions = 4)
    .cache()
  private lazy val db = SketchBuild.build(spark, corpus, "repo", "content",
    IbfParams(k = 8, w = 12, maxFp = 0.01))

  test("sketch store: save/load roundtrip preserves the db") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    SketchStore.save(spark, db, dir)
    val back = SketchStore.load(spark, dir)
    assert(back.targets.sameElements(db.targets))
    assert(back.targetHashes.sameElements(db.targetHashes))
    assert(back.ibf.words.sameElements(db.ibf.words))
    assert(back.plan.bitsPerBin == db.plan.bitsPerBin)
    assert(back.params.k == db.params.k && back.params.w == db.params.w)
    // loaded db classifies identically
    val a = Classify.allMatches(Classify.classify(spark,
      corpus.limit(50).withColumn("id", $"path"), "id", "content", db))
      .collect().map(_.toString).sorted
    val b = Classify.allMatches(Classify.classify(spark,
      corpus.limit(50).withColumn("id", $"path"), "id", "content", back))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("a legacy flat-layout store loads resident and classifies like " +
      "the db it came from") {
    // > 64 targets, so the one manifest filter splits into several groups
    val rnd = new scala.util.Random(3)
    val docs = (0 until 90).map(i =>
      (f"t$i%02d", Array.fill(200)(('a' + rnd.nextInt(26)).toChar).mkString))
      .toDF("repo", "content")
    val p = IbfParams(k = 8, w = 12, maxFp = 0.01)
    val built = SketchBuild.build(spark, docs, "repo", "content", p)
    assert(built.layout.numGroups == 2)
    // the flat layout as the store wrote it before the grouped one: the
    // whole filter in the manifest row, no shard blobs
    val dir = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val gd = SketchStore.genDir(dir, 1)
    ParquetMeta.writeBins(conf, new org.apache.hadoop.fs.Path(s"$gd/bins.parquet"),
      built.targets.indices.map(i => (built.targets(i), built.targetHashes(i),
        built.layout.base(i), built.layout.split(i))))
    ParquetMeta.writeManifestRow(conf,
      new org.apache.hadoop.fs.Path(s"$gd/manifest.parquet"),
      ParquetMeta.ManifestRow(SketchStore.FormatVersion, 1, "flat", p.k, p.w,
        p.seed, p.maxFp, p.hllP, p.minContentLen, p.sizingMode,
        built.plan.bitsPerBin, built.plan.numHashes, built.plan.maxHashesBin,
        built.plan.numBins, Array.empty[Int], built.ibf.toBytes))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "CURRENT"),
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val legacy = SketchStore.load(spark, dir)
    assert(legacy.isResident && legacy.coarse == null)
    assert(legacy.ibf.words.sameElements(built.ibf.words))
    // saving converts it to the grouped layout, which loads store-backed
    val dir2 = java.nio.file.Files.createTempDirectory("graft_legacy2").toString
    SketchStore.save(spark, legacy, dir2)
    val converted = SketchStore.load(spark, dir2)
    assert(!converted.isResident)
    def all(d: graft.build.ProbeDb) = Classify.allMatches(Classify.classify(
      spark, docs.withColumn("id", $"repo"), "id", "content", d,
      ClassifyParams(relCutoff = 0.25))).collect().map(_.toString).sorted
    val expect = all(built)
    assert(expect.length >= 90)
    assert(all(legacy).sameElements(expect))
    assert(all(converted).sameElements(expect))
  }

  test("task metrics: per-partition rows captured and dumpable") {
    val c = TaskMetricsCollector.attach(spark)
    corpus.limit(100).count()
    // listener bus is async; poll briefly
    val deadline = System.nanoTime() + 5_000_000_000L
    while (c.snapshot.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(c.snapshot.nonEmpty)
    assert(c.totals("tasks") > 0)
    val f = java.nio.file.Files.createTempFile("graft_metrics", ".jsonl")
    c.dump(f.toString)
    val lines = java.nio.file.Files.readAllLines(f)
    assert(lines.size() == c.snapshot.size)
    assert(lines.get(0).contains("\"partition\""))
  }

  test("streaming classify: micro-batch probe equals batch classify") {
    // stage the corpus as a parquet dir and stream it back
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    corpus.select($"path", $"content").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = StreamClassify.matchesStream(spark, stream, "path", "content", db,
      ClassifyParams(relCutoff = 0.25))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("graft_sc_test").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("graft_sc_test")
      .collect().map(_.toString).sorted
    val batch = Classify.allMatches(Classify.classify(spark,
      corpus.select($"path", $"content"), "path", "content", db,
      ClassifyParams(relCutoff = 0.25))).collect().map(_.toString).sorted
    assert(streamed.sameElements(batch))
  }

  test("streaming state: running KLL quantiles track the exact prefix " +
      "within the sketch's rank-error bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val b1 = Array.fill(4000)(("a", math.pow(rnd.nextDouble(), 2) * 1e4))
    val b2 = Array.fill(6000)(("a", rnd.nextDouble() * 1e4))
    val qs = Array(0.1, 0.5, 0.9)
    val k = 256
    val ms = MemoryStream[(String, Double)]
    val out = StreamClassify.runningQuantiles(spark,
        ms.toDF().toDF("g", "v"), "g", "v", qs, k)
      .toDF("g", "est", "n")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("graft_rq_test").start()
    ms.addData(b1.toSeq: _*); q.processAllAvailable()
    ms.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    // final row = the 10k-value prefix; compare each estimate's rank in
    // the exact sorted data against its target rank (the KLL guarantee is
    // on RANK error, not value error)
    val fin = spark.table("graft_rq_test").orderBy(desc("n")).head()
    assert(fin.getAs[Long]("n") == 10000L)
    val est = fin.getAs[scala.collection.Seq[Double]]("est")
    val exact = (b1 ++ b2).map(_._2).sorted
    val bound = graft.core.sketch.Kll.empty(k).rankErrorBound + 1e-9
    qs.zip(est).foreach { case (qq, e) =>
      val rank = exact.count(_ <= e).toDouble / exact.length
      assert(math.abs(rank - qq) <= bound + 2.0 / exact.length,
        s"q=$qq est=$e rank=$rank bound=$bound")
    }
  }

  test("running quantiles: values that cast to null are dropped, not " +
      "a stream-killing NPE") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)] // string-typed value column
    val out = StreamClassify.runningQuantiles(spark,
        ms.toDF().toDF("g", "v"), "g", "v", Array(0.5))
      .toDF("g", "est", "n")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("graft_rq_null").start()
    ms.addData(("a", "1.0"), ("a", "n/a"), ("a", "3.0"), ("a", null))
    q.processAllAvailable(); q.stop()
    val fin = spark.table("graft_rq_null").orderBy(desc("n")).head()
    assert(fin.getAs[Long]("n") == 2L) // only the two numeric rows counted
  }

  test("legacy root-manifest store gets a format-upgrade error, not " +
      "\"nothing was ever committed\"") {
    val dir = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/manifest.parquet"))
    val e = intercept[IllegalStateException] {
      SketchStore.loadAny(spark, dir)
    }
    assert(e.getMessage.contains("pre-generation format"))
  }

  test("streaming state: running CMS frequencies carry the eps*N " +
      "overestimate-only bound across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq(("a", "x x y z"), ("a", "x y"), ("b", "q q q"))
    val b2 = Seq(("a", "x z z w"), ("b", "q r"))
    val probes = Array("x", "z", "q", "absent")
    val ms = MemoryStream[(String, String)]
    val out = StreamClassify.runningFrequency(spark,
        ms.toDF().toDF("g", "txt"), "g", "txt", probes,
        eps = 0.001, delta = 0.001)
      .toDF("g", "est", "n")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("graft_rf_test").start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val fin = spark.table("graft_rf_test")
      .groupBy("g").agg(max(struct($"n", $"est")).as("f"))
      .select($"g", $"f.est", $"f.n")
      .collect().map(r => r.getString(0) ->
        (r.getAs[scala.collection.Seq[Long]](1), r.getLong(2))).toMap
    val all = b1 ++ b2
    def exact(g: String, tok: String) = all.filter(_._1 == g)
      .map(_._2.split(" ").count(_ == tok)).sum.toLong
    def totalN(g: String) = all.filter(_._1 == g)
      .map(_._2.split(" ").length).sum.toLong
    Seq("a", "b").foreach { g =>
      val (est, n) = fin(g)
      assert(n == totalN(g))
      val slack = math.ceil(0.001 * n).toLong
      probes.zipWithIndex.foreach { case (tok, i) =>
        val ex = exact(g, tok)
        assert(est(i) >= ex && est(i) <= ex + slack,
          s"g=$g tok=$tok est=${est(i)} exact=$ex")
      }
    }
  }

  test("streaming state: running HLL distinct survives micro-batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val out = StreamClassify.runningDistinct(spark,
        ms.toDF().toDF("t", "content"), "t", "content", k = 8, w = 8)
      .toDF("target", "est", "n_reads")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("graft_rd_test").start()
    val b1 = Seq(("a", "abcdefghij"), ("a", "abcdefgh"), ("b", "0123456789"))
    val b2 = Seq(("a", "abcdefghij-XYZWVUT"), ("b", "0123456789"))
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // final state per target = union across BOTH batches (state persisted)
    val fin = spark.table("graft_rd_test")
      .groupBy("target").agg(max(struct($"n_reads", $"est")).as("f"))
      .select($"target", $"f.est", $"f.n_reads")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = (b1 ++ b2).groupBy(_._1).map { case (t, rows) =>
      t -> rows.flatMap(r => graft.core.Hashing.shingles(r._2, 8, 8)).distinct.size
    }
    // tiny cardinalities: HLL at p=14 is exact here
    assert(fin("a")._1 == exact("a") && fin("b")._1 == exact("b"))
    assert(fin("a")._2 == 3 && fin("b")._2 == 2)
  }

  test("streaming state: checkpoint RESTART resumes exactly (north-rule " +
      "resumability, streaming side)") {
    // run 1 processes file 1 and stops; a NEW query over the same
    // checkpointLocation must (a) skip the already-processed file and
    // (b) recover the HLL state store, so file 2's update carries file 1's
    // contributions — n_reads and the distinct estimate prove both
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ck_src").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ck_out").toString
    val b1 = Seq(("a", "abcdefghij"), ("a", "abcdefgh"), ("b", "0123456789"))
    val b2 = Seq(("a", "abcdefghij-XYZWVUT"))
    b1.toDF("t", "content").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // the memory sink can't recover from a checkpoint; foreachBatch can —
    // each batch's updated rows append to a parquet log
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = StreamClassify.runningDistinct(spark, stream, "t", "content",
          k = 8, w = 8)
        .toDF("target", "est", "n_reads")
        .writeStream.outputMode("update")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            b.write.mode("append").parquet(outDir); ()
        }
        .option("checkpointLocation", ckDir)
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(spark.read.parquet(outDir).count() == 2) // both targets updated
    b2.toDF("t", "content").coalesce(1).write.mode("append").parquet(srcDir)
    run()
    val all = spark.read.parquet(outDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // run 2 processed ONLY file 2 (already-processed files skipped): one
    // new row, for 'a' — and its state includes file 1's contributions
    assert(all.length == 3)
    val exactA = (b1 ++ b2).filter(_._1 == "a")
      .flatMap(r => graft.core.Hashing.shingles(r._2, 8, 8)).distinct.size
    val aFinal = all.filter(r => r._1 == "a" && r._3 == 3)
    assert(aFinal.length == 1,
      "n_reads must count file-1 rows recovered from the state store")
    assert(aFinal.head._2 == exactA,
      "estimate must include the pre-restart state")
  }

  test("streaming dedup: first-occurrence per digest across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val out = StreamClassify.dedupStream(ms.toDF().toDF("id", "text"), "text")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("graft_dedup_test").start()
    // duplicate "aaa" WITHIN batch 1 and AGAIN in batch 2 (state must
    // suppress the cross-batch repeat too)
    ms.addData((1L, "aaa"), (2L, "bbb"), (3L, "aaa")); q.processAllAvailable()
    ms.addData((4L, "aaa"), (5L, "ccc")); q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft_dedup_test")
      .select("text").collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("aaa", "bbb", "ccc"))
  }

  test("observed metrics ride the action with no extra pass") {
    val res = graft.classify.Classify.classify(spark,
      corpus.limit(80).withColumn("id", $"path"), "id", "content", db)
    val (df, obs) = graft.classify.Classify.observed(res)
    val n = df.count() // the only action
    val m = obs.get
    assert(m("seqs_processed") == n)
    assert(m("seqs_classified").asInstanceOf[Long] == n) // zero FN
    assert(m("total_matches").asInstanceOf[Long] >= n)
  }

  test("formats: input-file TSV scan with defaulted targets") {
    val tmp = java.nio.file.Files.createTempFile("graft_if", ".tsv")
    java.nio.file.Files.writeString(tmp,
      "/data/a.fa\tT1\nb.fa\n/x/c.fa\tT3\tnodeX\tspecY\tnameZ\n")
    val df = Formats.readInputFile(spark, tmp.toString)
    // sorted by file: "/data/a.fa" < "/x/c.fa" < "b.fa"
    val rows = df.orderBy("file").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("T1", "T3", "b.fa"))
    assert(rows(1).getString(2) == "nodeX")
  }

  test("formats: batch-reads manifest (prefix \\t file1 [\\t file2])") {
    val tmp = java.nio.file.Files.createTempFile("graft_bm", ".tsv")
    java.nio.file.Files.writeString(tmp,
      "sampleA\t/r/a1.fq\t/r/a2.fq\nsampleB\t/r/b.fq\n")
    val df = Formats.readBatchManifest(spark, tmp.toString)
    val rows = df.orderBy("sample").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "sampleA" &&
      rows(0).getString(2) == "/r/a2.fq")
    assert(rows(1).getString(0) == "sampleB" && rows(1).isNullAt(2))
  }
}
