package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, SketchBuild}
import graft.classify.{Classify, ClassifyParams}
import graft.spark.SparkTestSession
import graft.streaming.StreamClassify
import graft.synth.Corpus

/**
 * Live-store streaming classify: a long-running stream must pick up
 * `updateStored` commits at micro-batch boundaries (the reference reloads
 * its filter file per run, GanonClassify.cpp:949-986; a stream is the
 * "many runs" shape), while each individual batch is classified by exactly
 * one committed generation.
 */
class StreamLiveStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cp = ClassifyParams(relCutoff = 0.25)

  test("live-store stream: batches follow generation commits, each batch " +
      "classified by exactly one generation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Corpus.df(spark, 120, numRepos = 6, partitions = 4).cache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_livestore").toString
    SketchBuild.buildToStore(spark, corpus, "repo", "content", dir,
      IbfParams(k = 8, w = 8, maxFp = 1e-5))

    // content for a target that does NOT exist at generation 1
    val zContent = "ZYXWVUTSRQPONMLKJIHGFEDCBA" * 4
    val files = corpus.select($"repo", $"path", $"content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // two files of different repos and like length joined: a read
    // matching both
    val a = files.head
    val b = files.filter(_._1 != a._1).minBy(f => math.abs(f._3.length - a._3.length))
    val probeRows = files.take(20).map(f => (f._2, f._3)) ++
      Seq(("mixprobe", a._3 + b._3), ("zprobe", zContent))

    val ms = MemoryStream[(String, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Array[String])]
    val schemas = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.types.StructType]
    val q = StreamClassify.classifyLiveStore(spark,
        ms.toDF().toDF("id", "content"), "id", "content", dir, cp) {
        (out, batchId, gen) =>
          schemas += out.schema
          got += ((batchId, gen,
            out.collect().map(_.toString).sorted))
      }
      .start()

    // batch 0 + 1 run on generation 1 (no update between them)
    ms.addData(probeRows.take(10): _*); q.processAllAvailable()
    ms.addData(probeRows.slice(10, 15): _*); q.processAllAvailable()

    // commit generation 2: add the z-target
    SketchBuild.updateStored(spark, dir,
      Seq(("zrepo", zContent)).toDF("repo", "content"), "repo", "content")

    // batch 2 runs on generation 2 and must see the new target; it also
    // holds the two-repo read
    ms.addData(probeRows.drop(15): _*); q.processAllAvailable()
    q.stop()

    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq((0L, 1), (1L, 1), (2L, 2)))

    // each batch's answer == batch-mode classify against a fresh load of
    // the generation that classified it
    def batchAnswer(rows: Seq[(String, String)],
        db: graft.build.ProbeDb): Array[String] =
      Classify.allMatches(Classify.classify(spark,
          rows.toDF("id", "content"), "id", "content", db, cp))
        .collect().map(_.toString).sorted
    // generation 2 is CURRENT now; reconstruct generation 1's answer from
    // an equivalent fresh build (gen-1 blobs still on disk but the public
    // loader reads CURRENT — the in-memory build is the oracle)
    val db1 = SketchBuild.build(spark, corpus, "repo", "content",
      IbfParams(k = 8, w = 8, maxFp = 1e-5))
    val db2 = SketchStore.loadAny(spark, dir)
    assert(got(0)._3.sameElements(batchAnswer(probeRows.take(10), db1)))
    assert(got(1)._3.sameElements(batchAnswer(probeRows.slice(10, 15), db1)))
    assert(got(2)._3.sameElements(batchAnswer(probeRows.drop(15), db2)))

    // every batch has the schema of the batch-mode .all: names, types and
    // nullability
    val want = Classify.allMatches(Classify.classify(spark,
      probeRows.toSeq.toDF("id", "content"), "id", "content", db2, cp)).schema
    assert(schemas.size == 3 && schemas.forall(_ == want),
      s"${schemas.map(_.treeString)} vs ${want.treeString}")
    // the two-repo read lists both repos, one of them at match_order 1
    assert(got(2)._3.count(_.startsWith("[mixprobe,")) >= 2 &&
      got(2)._3.exists(s => s.startsWith("[mixprobe,") && s.endsWith(",1]")),
      got(2)._3.filter(_.contains("mixprobe")).mkString("; "))

    // the z-probe resolves to the added target at generation 2 only
    assert(got(2)._3.exists(s => s.contains("zprobe") && s.contains("zrepo")))
    assert(!got.take(2).exists(_._3.exists(_.contains("zrepo"))))
  }

  test("continuous ingest: streamed build/update generations equal a " +
      "fresh build over the union; gc bounds generations") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Corpus.df(spark, 90, numRepos = 6, partitions = 4)
      .select($"repo", $"path", $"content").cache()
    val rows = corpus.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // batch 1: first 4 repos; batch 2: grows 2 of them + adds the rest;
    // batch 3: more rows for every repo — exercises create, grow, append
    val repos = rows.map(_._1).distinct.sorted
    val b1 = rows.filter(r => repos.take(4).contains(r._1) &&
      math.abs(r._2.hashCode) % 2 == 0)
    val b2 = rows.filter(r => !b1.contains(r) &&
      math.abs(r._2.hashCode) % 3 != 0)
    val b3 = rows.filter(r => !b1.contains(r) && !b2.contains(r))
    assert(b1.nonEmpty && b2.nonEmpty && b3.nonEmpty)

    val p = IbfParams(k = 8, w = 8, maxFp = 1e-5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ingest").toString
    new java.io.File(dir).delete() // buildToStore wants to create it

    val ms = MemoryStream[(String, String, String)]
    val q = StreamClassify.ingestForeachBatch(spark,
        ms.toDF().toDF("repo", "path", "content"), "repo", "content", dir,
        p, gcKeepGens = Some(2))
      .start()
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    ms.addData(b3: _*); q.processAllAvailable()
    q.stop()

    val conf = spark.sparkContext.hadoopConfiguration
    assert(SketchStore.currentGeneration(conf, dir).contains(3))
    // gc kept only the last 2 generations' shard dirs
    val shardDirs = new java.io.File(dir).list().toSeq
      .filter(_.startsWith("shards_v")).sorted
    assert(shardDirs == Seq("shards_v2", "shards_v3"))

    // final store classifies exactly like a fresh build over all rows
    val ingested = SketchStore.loadAny(spark, dir)
    val fresh = graft.build.SketchBuild.build(spark, corpus, "repo",
      "content", p)
    def ans(db: graft.build.ProbeDb) = Classify.allMatches(
        Classify.classify(spark, corpus, "path", "content", db, cp))
      .collect().map(_.toString).sorted
    assert(ans(ingested).sameElements(ans(fresh)))
  }

  test("broadcast reuse: a second micro-batch on the same generation " +
      "fetches ZERO shard blobs (executor cache stays warm)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Corpus.df(spark, 80, numRepos = 4, partitions = 4).cache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_warm").toString
    SketchBuild.buildToStore(spark, corpus, "repo", "content", dir,
      IbfParams(k = 8, w = 8, maxFp = 1e-5))
    val probe = corpus.select($"path".as("id"), $"content").limit(5)
      .collect().map(r => (r.getString(0), r.getString(1)))

    val ms = MemoryStream[(String, String)]
    val q = StreamClassify.classifyLiveStore(spark,
        ms.toDF().toDF("id", "content"), "id", "content", dir, cp) {
        (out, _, _) => out.count(); ()
      }.start()
    ms.addData(probe: _*); q.processAllAvailable()
    val afterFirst = SketchStore.shardBlobReads.get()
    assert(afterFirst > 0) // the first batch did fetch shards
    // SAME rows again, same generation: every group they touch is already
    // resident in the broadcast handle's executor cache — zero fetches
    ms.addData(probe: _*); q.processAllAvailable()
    q.stop()
    assert(SketchStore.shardBlobReads.get() == afterFirst,
      "second batch on the same generation re-fetched shard blobs — " +
        "the per-generation broadcast is not being reused")
  }

  test("a sink that never materializes its batch fails THAT batch with " +
      "the contract message, not a destroyed-broadcast error later") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Corpus.df(spark, 40, numRepos = 4, partitions = 2).cache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lazysink").toString
    SketchBuild.buildToStore(spark, corpus, "repo", "content", dir,
      IbfParams(k = 8, w = 8, maxFp = 1e-5))
    val probe = corpus.select($"path".as("id"), $"content").limit(3)
      .collect().map(r => (r.getString(0), r.getString(1)))

    // sinks that materialize only through count() or only through a write
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_lazysink_out").toString + "/out"
    var counted = 0L
    Seq[DataFrame => Unit](
      out => counted += out.count(),
      out => out.write.mode("append").parquet(outDir)
    ).foreach { materialize =>
      val ms = MemoryStream[(String, String)]
      val q = StreamClassify.classifyLiveStore(spark,
          ms.toDF().toDF("id", "content"), "id", "content", dir, cp) {
          (out, _, _) => materialize(out)
        }.start()
      try { ms.addData(probe: _*); q.processAllAvailable() }
      finally q.stop()
    }
    assert(counted > 0)
    assert(spark.read.parquet(outDir).count() == counted)

    val ms = MemoryStream[(String, String)]
    var held: DataFrame = null
    val q = StreamClassify.classifyLiveStore(spark,
        ms.toDF().toDF("id", "content"), "id", "content", dir, cp) {
        (out, _, _) => held = out // lazy sink: holds the plan, runs nothing
      }.start()
    ms.addData(probe: _*)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("MATERIALIZING")),
      s"expected the sink-contract message, got: ${messages(e)}")
  }

  test("query termination releases the final generation's broadcast") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Corpus.df(spark, 40, numRepos = 4, partitions = 2).cache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_release").toString
    SketchBuild.buildToStore(spark, corpus, "repo", "content", dir,
      IbfParams(k = 8, w = 8, maxFp = 1e-5))
    val probe = corpus.select($"path".as("id"), $"content").limit(3)
      .collect().map(r => (r.getString(0), r.getString(1)))

    val ms = MemoryStream[(String, String)]
    val (writer, state) = StreamClassify.classifyLiveStoreTracked(spark,
        ms.toDF().toDF("id", "content"), "id", "content", dir, cp) {
        (out, _, _) => out.count(); ()
      }
    val q = writer.start()
    ms.addData(probe: _*); q.processAllAvailable()
    assert(state.dbB != null, "a batch ran, so a generation is broadcast")
    q.stop()
    // the listener fires asynchronously on the listener bus
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!state.released && System.nanoTime() < deadline) Thread.sleep(50)
    assert(state.released, "onQueryTerminated must destroy the final " +
      "generation's broadcast")
    assert(state.dbB == null)
  }

  test("restarting the same live-classify writer after stop reloads the " +
      "generation instead of reusing the destroyed broadcast") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Corpus.df(spark, 40, numRepos = 4, partitions = 2).cache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_restart").toString
    SketchBuild.buildToStore(spark, corpus, "repo", "content", dir,
      IbfParams(k = 8, w = 8, maxFp = 1e-5))
    val probe = corpus.select($"path".as("id"), $"content").limit(3)
      .collect().map(r => (r.getString(0), r.getString(1)))

    val ms = MemoryStream[(String, String)]
    var batches = 0
    val (writer, state) = StreamClassify.classifyLiveStoreTracked(spark,
        ms.toDF().toDF("id", "content"), "id", "content", dir, cp) {
        (out, _, _) => out.count(); batches += 1
      }
    val q1 = writer.start()
    ms.addData(probe: _*); q1.processAllAvailable(); q1.stop()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!state.released && System.nanoTime() < deadline) Thread.sleep(50)
    assert(state.released && state.dbB == null && state.gen == -1)

    // SAME writer, no new store commit in between: the first batch of
    // the second run must re-broadcast, not NPE on the destroyed handle
    state.released = false
    val q2 = writer.start()
    ms.addData(probe: _*); q2.processAllAvailable(); q2.stop()
    assert(batches == 2, "second run must classify its batch")
    val deadline2 = System.nanoTime() + 10_000_000_000L
    while (!state.released && System.nanoTime() < deadline2) Thread.sleep(50)
    assert(state.released, "second stop must release again (hook re-registers)")
  }

  test("composition: an ingest stream and a classify stream share one " +
      "store; the classifier picks up each ingested generation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Corpus.df(spark, 80, numRepos = 4, partitions = 4)
      .select($"repo", $"path", $"content").cache()
    val rows = corpus.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val repos = rows.map(_._1).distinct.sorted
    val (r1, r2) = rows.partition(r => repos.take(2).contains(r._1))

    val p = IbfParams(k = 8, w = 8, maxFp = 1e-5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compose").toString
    new java.io.File(dir).delete()

    val ingestMs = MemoryStream[(String, String, String)]
    val ingest = StreamClassify.ingestForeachBatch(spark,
      ingestMs.toDF().toDF("repo", "path", "content"), "repo", "content",
      dir, p).start()
    // first commit must exist before the classify stream's first batch
    ingestMs.addData(r1: _*); ingest.processAllAvailable()

    val classifyMs = MemoryStream[(String, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Set[String])]
    val classify = StreamClassify.classifyLiveStore(spark,
        classifyMs.toDF().toDF("id", "content"), "id", "content", dir, cp) {
        (out, _, gen) =>
          seen += ((gen,
            out.select("target").distinct()
              .collect().map(_.getString(0)).toSet))
      }.start()

    // probe one read from EACH half; only the ingested half's repo matches
    val probe1 = Seq((r1.head._2, r1.head._3), (r2.head._2, r2.head._3))
    classifyMs.addData(probe1: _*); classify.processAllAvailable()
    // second ingest commit, then the same probes against generation 2
    ingestMs.addData(r2: _*); ingest.processAllAvailable()
    classifyMs.addData(probe1: _*); classify.processAllAvailable()
    ingest.stop(); classify.stop()

    assert(seen.map(_._1).toSeq == Seq(1, 2))
    assert(seen(0)._2.contains(r1.head._1) && !seen(0)._2.contains(r2.head._1))
    assert(seen(1)._2.contains(r1.head._1) && seen(1)._2.contains(r2.head._1))
  }
}
