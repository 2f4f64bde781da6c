package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftTestAccess
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec,
  ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, SketchBuild}
import graft.classify.{Classify, ClassifyParams}
import graft.core.Lca
import graft.spark.{GraftFunctions, ShinglesExpr, SparkTestSession}

/** Physical-plan properties the engine's design relies on: every classify
  * entry point is one map-only probe over the shingle projection, the
  * split-free build evaluates the shingle kernel once per scan, and LSH
  * candidate generation plans no Window. */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val p = IbfParams(k = 4, w = 6, maxFp = 0.01)

  /** Equal-length random texts, one per target, read back from parquet so
    * the plans start at a file scan as in production. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 24).map { i =>
      (s"t$i", i.toLong, s"s${i % 3}",
        Array.fill(300)("ACGT"(rnd.nextInt(4))).mkString,
        Array.fill(120)("ACGT"(rnd.nextInt(4))).mkString)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    rows.toDF("target", "id", "sample", "content", "mate")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def shingleCount(plan: SparkPlan): Int =
    plan.expressions.map(_.collect { case s: ShinglesExpr => s }.size).sum

  /** One MapPartitions; below it exactly one Project, which evaluates the
    * shingle kernel over a file scan; no Exchange anywhere. */
  private def assertProbeShape(name: String, ds: Dataset[_]): Unit = {
    val plan = ds.queryExecution.executedPlan
    val tree = s"$name:\n${plan.treeString}"
    val mps = collect(plan) { case m: MapPartitionsExec => m }
    assert(mps.size == 1, tree)
    assert(collect(plan) { case e: Exchange => e }.isEmpty, tree)
    val projects = mps.head.collect { case pr: ProjectExec => pr }
    assert(projects.size == 1, tree)
    assert(shingleCount(projects.head) > 0, tree)
    assert(projects.head.collectLeaves().forall(_.isInstanceOf[FileSourceScanExec]),
      tree)
  }

  test("every classify entry point plans as one MapPartitions over the " +
    "shingle Project, no Exchange") {
    val db = SketchBuild.build(spark, docs, "target", "content", p)
    val db2 = SketchBuild.build(spark, docs.filter($"id" % 2 === 0), "target",
      "content", p)
    val lca = Some(Lca.build(
      (0 until 24).map(i => s"t$i" -> s"g${i % 4}").toMap ++
        (0 until 4).map(g => s"g$g" -> "root"), "root"))
    val cp = ClassifyParams()
    Seq[(String, Dataset[_])](
      "classify" -> Classify.classify(spark, docs, "id", "content", db, cp, lca),
      "classifyB" -> Classify.classifyB(spark, docs, "id", "content",
        spark.sparkContext.broadcast(db), cp),
      "classifyPaired" -> Classify.classifyPaired(spark, docs, "id",
        "content", "mate", db, cp, lca),
      "classifyBySample" -> Classify.classifyBySample(spark, docs, "sample",
        "id", "content", db, cp, lca),
      "classifyBySample paired" -> Classify.classifyBySample(spark, docs,
        "sample", "id", "content", db, cp, None, Some("mate")),
      "classifyMultiFilter" -> Classify.classifyMultiFilter(spark, docs,
        "id", "content", Seq(db, db2), cp, lca, Seq(0.3, 0.6))
    ).foreach { case (name, ds) => assertProbeShape(name, ds) }
  }

  test("split-free SketchBuild.build evaluates graft_shingles once per scan") {
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception)
          : Unit = ()
    }
    docs.count() // the fixture's own write/read stays out of the capture
    GraftTestAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val db = try {
      val built = SketchBuild.build(spark, docs, "target", "content", p)
      GraftTestAccess.drain(spark.sparkContext)
      built
    } finally spark.listenerManager.unregister(listener)
    assert(db.layout.split.forall(_ == 1), "fixture must be split-free")
    val hashing = plans.toSeq.flatMap { plan =>
      val n = collect(plan) { case node => shingleCount(node) }.sum
      if (n == 0) None
      else Some((n, collect(plan) { case s: FileSourceScanExec => s }.size,
        plan.treeString))
    }
    // pass 1 (HLL sizing) and pass 2 (shard aggregation)
    assert(hashing.size == 2, hashing.map(_._3).mkString("\n"))
    hashing.foreach { case (n, scans, tree) =>
      assert(n == scans, s"$n kernel evaluations over $scans scans:\n$tree")
    }
  }

  test("Dedup.minhashPairs plans no Window") {
    val df = (0 until 200).map(i => (i.toLong, s"tok${i % 17} tok${i % 5} x$i"))
      .toDF("id", "text")
      .select($"id", GraftFunctions.tokenHashes($"text").as("hs"))
    Seq(0.9, 1.0).foreach { threshold =>
      val pairs = graft.ops.Dedup.minhashPairs(spark, df, 64, 8, threshold)
      pairs.collect()
      val tree = pairs.queryExecution.executedPlan.treeString
      assert(!tree.contains("Window"), s"threshold $threshold:\n$tree")
    }
  }
}
