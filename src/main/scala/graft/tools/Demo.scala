package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.build.{IbfParams, SketchBuild}
import graft.classify.{Classify, ClassifyParams}
import graft.core.Lca
import graft.report.Report
import graft.synth.Corpus

/**
 * End-to-end smoke driver (also the /verify surface): synthesize a corpus,
 * build the sketch db, classify the corpus against itself, print the report
 * and invariant checks. Exercises every stage through the public API.
 *
 * Run: sbt -batch "runMain graft.tools.Demo [rows]"
 */
object Demo {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 2000L
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpus = Corpus.df(spark, rows, numRepos = 32, partitions = 8).cache()
    println(s"[demo] corpus rows=${corpus.count()} " +
      s"repos=${corpus.select("repo").distinct().count()}")
    corpus.groupBy("lang").count().orderBy("lang").show(20, truncate = false)

    // build: bins = repo; "two" as arg(1) exercises the HIBF-like layout
    val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
    val db: graft.build.ProbeDb =
      if (args.length > 1 && args(1) == "two")
        SketchBuild.buildTwoLevel(spark, corpus, "repo", "content", p)
      else SketchBuild.build(spark, corpus, "repo", "content", p)
    println(s"[demo] db bins=${db.targets.length} " +
      s"h=${db.plan.numHashes} cap=${db.plan.maxHashesBin} bins=${db.plan.numBins} " +
      f"expFp=${db.plan.expectedMaxFp}%.5f ibfBytes=${db.sizeBytes}")

    // taxonomy root -> lang -> repo, LCA
    val parents = corpus.select("repo", "lang").distinct().collect()
      .flatMap(r => Seq(r.getString(0) -> r.getString(1), r.getString(1) -> "root"))
      .toMap
    val lca = Lca.build(parents, "root")

    // classify corpus against itself: every row MUST hit its own repo bin
    val results = Classify.classify(spark, corpus.withColumn("rid",
        concat(col("repo"), lit("#"), col("path"))),
      "rid", "content", db, ClassifyParams(relCutoff = 0.25), Some(lca)).cache()

    val all = Classify.allMatches(results)
    val one = Classify.oneAssignments(results)
    val rep = Classify.report(results)
    val n = results.count()
    val selfHit = all.filter(
      expr("substring_index(read_id, '#', 1) = target")).count()
    val classified = one.count()
    println(s"[demo] reads=$n selfHit=$selfHit classified=$classified " +
      s"unclassified=${Classify.unclassified(results).count()}")
    rep.orderBy(desc("matches")).show(10, truncate = false)

    // sanity-check analog (GanonClassify.test.cpp:147-168): .all rows ==
    // sum(matches), every read hits its own bin (zero FN)
    require(selfHit == n, s"zero-false-negative violated: $selfHit != $n")
    val repSum = rep.agg(sum("matches")).first().getLong(0)
    val allCnt = all.count()
    require(repSum == allCnt, s".rep matches $repSum != .all rows $allCnt")

    // report rollup over root -> lang -> repo: lineage by walking parents up
    def lineageOf(n: String): Array[String] = {
      var cur = n; var acc = List(n)
      while (cur != "root" && parents.contains(cur)) {
        cur = parents(cur); acc = cur :: acc
      }
      if (acc.head != "root") ("root" :: acc).toArray else acc.toArray
    }
    val allNodes = (parents.keySet ++ parents.values + "root").toSeq.sorted
    val lineage = spark.createDataFrame(allNodes.map(n => (n, lineageOf(n))))
      .toDF("node", "lineage")
    val counts = one.groupBy(col("target").as("node"))
      .agg(count(lit(1)).as("direct_count"))
    Report.tree(counts, lineage).show(12, truncate = false)

    println("[demo] OK")
    spark.stop()
  }
}
