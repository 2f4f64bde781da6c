package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec,
  GenerateExec, MapPartitionsExec, ProjectExec, QueryExecution,
  SerializeFromObjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, ScalaAggregator}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, SketchBuild, SketchDb}
import graft.classify.{Classify, ClassifyParams}
import graft.core.Lca
import graft.spark.{GraftFunctions, ShinglesExpr, SparkTestSession}
import graft.spark.udaf.SketchAgg
import graft.streaming.StreamClassify

/** Physical-plan properties the engine's design relies on: every classify
  * entry point is one map-only probe over the shingle projection, a build
  * plans one content scan that evaluates the shingle kernel once per file
  * scan whether or not a target splits, no sketch writer plans a join,
  * only a two-level build folds a coarse filter, and LSH candidate
  * generation plans no Window. */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val p = IbfParams(k = 4, w = 6, maxFp = 0.01)

  /** Random texts read back from parquet so the plans start at a file
    * scan as in production: `n` rows per target "t<i>" for each (i, n). */
  private def parquetDocs(rowsPerTarget: Seq[(Int, Int)]): DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = for ((i, n) <- rowsPerTarget; j <- 0 until n) yield
      (s"t$i", i * 1000L + j, s"s${i % 3}",
        Array.fill(300)("ACGT"(rnd.nextInt(4))).mkString,
        Array.fill(120)("ACGT"(rnd.nextInt(4))).mkString)
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    rows.toDF("target", "id", "sample", "content", "mate")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Equal-length texts, one per target: a split-free layout. */
  private lazy val docs: DataFrame = parquetDocs((0 until 24).map(_ -> 1))

  /** The same, with target t0 holding 40 texts: it splits. */
  private lazy val splitDocs: DataFrame =
    parquetDocs((0 until 24).map(i => i -> (if (i == 0) 40 else 1)))

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

  /** `body`'s result and the executed plans of every query it ran in
    * session `on`. */
  private def withPlans[T](body: => T,
      on: org.apache.spark.sql.SparkSession = spark): (T, Seq[SparkPlan]) = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception)
          : Unit = ()
    }
    docs.count() // the fixtures' own write/read stays out of the capture
    splitDocs.count()
    GraftTestAccess.drain(spark.sparkContext)
    on.listenerManager.register(listener)
    val out = try {
      val built = body
      GraftTestAccess.drain(spark.sparkContext)
      built
    } finally on.listenerManager.unregister(listener)
    (out, plans.synchronized(plans.toSeq))
  }

  /** The plans of `plans` that evaluate the shingle kernel, each with its
    * kernel count, scan count and tree. */
  private def kernelPlans(plans: Seq[SparkPlan]): Seq[(Int, Int, String)] =
    plans.flatMap { plan =>
      val n = collect(plan) { case node => shingleCount(node) }.sum
      if (n == 0) None
      else Some((n, collect(plan) { case s: FileSourceScanExec => s }.size,
        plan.treeString))
    }

  test("a classifyLiveStore micro-batch sink plans no object serializer, " +
      "generator or MapPartitions, and the batch plans the kernel once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_live")
      .toString
    SketchBuild.buildToStore(spark, docs, "target", "content", dir, p)
    val reads = docs.select($"id".cast("string"), $"content").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // every logical node planned while the strategy is installed, with
    // its kernel count: the planner asks each strategy about each node
    val planned = ArrayBuffer.empty[Int]
    val recorder = new SparkStrategy {
      override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
        planned.synchronized {
          planned += plan.expressions.map(_.collect { case s: ShinglesExpr => s }.size).sum
        }
        Nil
      }
    }
    val ms = MemoryStream[(String, String)]
    var rows = 0L
    // the stream plans in its own clone of the session
    var streamSession: org.apache.spark.sql.SparkSession = null
    val q = StreamClassify.classifyLiveStore(spark, ms.toDF().toDF("id", "content"),
        "id", "content", dir, ClassifyParams()) { (out, _, _) =>
      streamSession = out.sparkSession
      rows += out.collect().length
    }.start()
    try {
      // the first batch loads and broadcasts the generation; the second
      // is the steady state
      ms.addData(reads.take(12): _*); q.processAllAvailable()
      val before = rows
      val (_, plans) = withPlans({
        streamSession.experimental.extraStrategies = Seq(recorder)
        try { ms.addData(reads.drop(12): _*); q.processAllAvailable() }
        finally streamSession.experimental.extraStrategies = Nil
      }, on = streamSession)
      assert(rows > before, "the sink saw no match rows")
      assert(plans.nonEmpty, "no sink plan captured")
      plans.foreach { plan =>
        val objectOps = collect(plan) {
          case n @ (_: DeserializeToObjectExec | _: SerializeFromObjectExec |
              _: GenerateExec | _: MapPartitionsExec) => n.nodeName
        }
        assert(objectOps.isEmpty, s"$objectOps in:\n${plan.treeString}")
      }
      assert(planned.sum == 1, s"kernel planned ${planned.sum} times")
    } finally q.stop()
  }

  test("SketchBuild.build evaluates graft_shingles once per scan, any split") {
    Seq(docs -> false, splitDocs -> true).foreach { case (fixture, split) =>
      Seq[(String, () => SketchDb)](
        "build" -> (() => SketchBuild.build(spark, fixture, "target", "content", p)),
        "buildTwoLevel" -> (() =>
          SketchBuild.buildTwoLevel(spark, fixture, "target", "content", p))
      ).foreach { case (name, run) =>
        val (db, plans) = withPlans(run())
        assert(db.layout.split.exists(_ > 1) == split,
          s"fixture must ${if (split) "" else "not "}split")
        // one content scan feeds both passes: one plan evaluates the
        // kernel, once per file scan
        val hashing = kernelPlans(plans)
        assert(hashing.size == 1, s"$name:\n" + hashing.map(_._3).mkString("\n"))
        hashing.foreach { case (n, scans, tree) =>
          assert(n == scans, s"$name: $n kernel evaluations over $scans scans:\n$tree")
        }
      }
    }
  }

  test("no shard-pass plan of any sketch writer holds a join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_store")
      .toString + "/store"
    val grow = splitDocs.filter($"target" === "t1")
    // a join planned on RDDs (no SQL plan) shows as a CoGroupedRDD
    val rddNames = ArrayBuffer.empty[String]
    val stages = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        rddNames.synchronized { rddNames ++= e.stageInfo.rddInfos.map(_.name) }
    }
    spark.sparkContext.addSparkListener(stages)
    val (_, plans) = try withPlans {
      val flat = SketchBuild.build(spark, splitDocs, "target", "content", p)
      SketchBuild.buildTwoLevel(spark, splitDocs, "target", "content", p)
      SketchBuild.update(spark, flat, grow, "target", "content", Seq("t2"))
      SketchBuild.buildToStore(spark, splitDocs, "target", "content", dir, p)
      SketchBuild.updateStored(spark, dir, grow, "target", "content",
        Seq("t2"))
      SketchBuild.compactStored(spark, dir,
        splitDocs.filter($"target" =!= "t2"), "target", "content")
    } finally spark.sparkContext.removeSparkListener(stages)
    // each writer's one content scan, then its folds
    assert(kernelPlans(plans).size == 6, s"${kernelPlans(plans).size} scans")
    plans.foreach { plan =>
      assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty,
        plan.treeString)
    }
    assert(rddNames.nonEmpty && !rddNames.exists(_.contains("CoGrouped")),
      rddNames.distinct.mkString(", "))
  }

  test("a flat build aggregates shards only; a two-level build adds the " +
      "coarse union Bloom") {
    // the shard pass's own rows, as a checkpointed build saves them:
    // (grp, shard, coarse)
    def shardRows(twoLevel: Boolean): Seq[(Int, Array[Byte], Array[Byte])] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_plan_ckpt")
        .toString
      val db =
        if (twoLevel) SketchBuild.buildTwoLevel(spark, splitDocs, "target",
          "content", p, Some(dir))
        else SketchBuild.build(spark, splitDocs, "target", "content", p,
          Some(dir))
      assert((db.coarse != null) == twoLevel)
      spark.read.parquet(s"$dir/pass2_group_shards")
        .as[(Int, Array[Byte], Array[Byte])].collect().toSeq
    }
    val flat = shardRows(twoLevel = false)
    val two = shardRows(twoLevel = true)
    assert(flat.nonEmpty && flat.forall(r => r._2 != null && r._3 == null),
      flat.map(r => (r._1, r._3 == null)))
    assert(two.map(_._1).sorted == flat.map(_._1).sorted)
    assert(two.forall(r => r._2 != null && r._3 != null &&
      graft.core.sketch.Bloom.fromBytes(r._3).cardinalityBitsSet > 0))
    // the coarse level changes no fine bit
    val flatShards = flat.map(r => r._1 -> r._2.toSeq).toMap
    two.foreach(r => assert(r._2.toSeq == flatShards(r._1), s"group ${r._1}"))
  }

  test("a sketch groupBy plans ObjectHashAggregate partial -> exchange -> " +
      "final over HashSketchAgg, with no ScalaAggregator") {
    GraftFunctions.register(spark)
    // the aggregate was named HashSketchAgg when it held only the hash
    // sketches; it is SketchAgg now, and the quantile and band-cap
    // aggregates must plan the same way
    val df = (0 until 200).map(i => (s"g${i % 5}", s"tok${i % 17} tok${i % 5} x$i",
        i.toLong, math.sqrt(i.toDouble)))
      .toDF("g", "text", "id", "v")
      .select($"g", GraftFunctions.tokenHashes($"text").as("hs"), $"id", $"v")
    df.createOrReplaceTempView("t_plan_sketch")
    val qs = Array(0.25, 0.5)
    Seq(
      "api" -> df.groupBy("g").agg(GraftFunctions.hllCount($"hs"),
        GraftFunctions.hllSketch($"hs"), GraftFunctions.bloomSketch($"hs", 4096, 3),
        GraftFunctions.cmsSketch($"hs"), GraftFunctions.kllSketch($"v"),
        GraftFunctions.kllQuantiles($"v", qs), GraftFunctions.tdigestSketch($"v"),
        GraftFunctions.tdigestQuantiles($"v", qs), GraftFunctions.minKIds($"id", 8)),
      "sql" -> spark.sql("select g, graft_hll_count(hs), graft_hll_sketch(hs), " +
        "graft_cms_sketch(hs), graft_kll_sketch(v), graft_min_k_ids(id) " +
        "from t_plan_sketch group by g")
    ).foreach { case (name, q) =>
      assert(q.collect().length == 5, name)
      val plan = q.queryExecution.executedPlan
      val tree = s"$name:\n${plan.treeString}"
      val aggs = collect(plan) { case a: ObjectHashAggregateExec => a }
      assert(aggs.size == 2, tree)
      def modes(a: ObjectHashAggregateExec) = a.aggregateExpressions.map(_.mode).toSet
      val top = aggs.find(a => modes(a) == Set(Final)).getOrElse(fail(tree))
      val exchanges = collect(top) { case e: Exchange => e }
      assert(exchanges.size == 1, tree)
      val below = collect(exchanges.head) { case a: ObjectHashAggregateExec => a }
      assert(below.size == 1 && modes(below.head) == Set(Partial), tree)
      assert(aggs.forall(_.aggregateExpressions.forall(
        _.aggregateFunction.isInstanceOf[SketchAgg[_]])), tree)
      assert(collect(plan) { case n => n.expressions.flatMap(_.collect {
        case s: ScalaAggregator[_, _, _] => s }) }.flatten.isEmpty, tree)
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
