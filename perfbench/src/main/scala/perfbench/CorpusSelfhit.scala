package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{IbfParams, ProbeDb, SketchBuild, SketchDb}
import graft.classify.{Classify, ClassifyParams}
import graft.synth.Corpus

/**
 * `corpus_selfhit`: `synth.Corpus` (64 repos, 20% megarepo skew), a flat
 * `SketchBuild.build` by repo, then `Classify.classify` of the same files
 * at relCutoff 0.25 — the headline shape of earlier rounds. Chosen because
 * it loads the shingle kernel most (three full-content scans per lap) and
 * `ReadResult` encoding (every file matches every repo, 64 matches per
 * read), while the flat db stays small enough for per-core cache.
 */
object CorpusSelfhit {
  val Files = 40000
  val Params: IbfParams = IbfParams(k = 19, w = 31, maxFp = 0.01)
  val Cp: ClassifyParams = ClassifyParams(relCutoff = 0.25)

  final case class Counts(reads: Long, matches: Long, unique: Long,
      unclassified: Long, discFilter: Long, discFpr: Long, hashes: Long)

  def corpus(spark: SparkSession, seed: Long): DataFrame =
    Corpus.df(spark, Files, numRepos = 64, seed = seed, partitions = 16)
      .select("repo", "path", "content")

  def classifyCounts(spark: SparkSession, df: DataFrame, idCol: String,
      contentCol: String, db: ProbeDb): Counts = {
    val r = Classify.classify(spark, df, idCol, contentCol, db, Cp).toDF()
      .agg(count(lit(1)), sum(size(col("matches"))),
        sum(when(col("unique"), 1L).otherwise(0L)),
        sum(when(col("assignment").isNull, 1L).otherwise(0L)),
        sum(col("discarded_filter")), sum(col("discarded_fpr")),
        sum(col("n_hashes")))
      .first()
    Counts(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    var df: DataFrame = null
    ctx.setup {
      if (df != null) df.unpersist(blocking = true)
      df = corpus(spark, ctx.seed).cache()
      df.count()
    }

    def lap(): (SketchDb, Double, Double, Counts) = {
      val t0 = System.nanoTime()
      val db = tr.span("build")(SketchBuild.build(spark, df, "repo", "content",
        Params))
      val t1 = System.nanoTime()
      val c = tr.span("classify")(classifyCounts(spark, df, "path", "content", db))
      val t2 = System.nanoTime()
      (db, (t1 - t0) / 1e9, (t2 - t1) / 1e9, c)
    }

    // warm-up laps: JIT, codegen and the reference counts; lap times keep
    // falling over the first laps
    val (_, _, _, ref) = ctx.warmup { lap(); lap() }
    println(s"[selfhit] files=$Files $ref")
    ctx.counts = Some(ref.toString)
    val laps = scala.collection.mutable.ArrayBuffer.empty[(SketchDb, Double, Double, Counts)]
    val t0 = System.nanoTime()
    var i = 0
    while (ctx.measuring(t0, i, minTries = 3)) {
      ctx.lap(i)(lap()).foreach(laps += _)
      i += 1
    }
    require(laps.nonEmpty, "no lap succeeded")
    val builds = laps.map(_._2).toSeq
    val classifies = laps.map(_._3).toSeq
    ctx.e2e("items_per_s") =
      Stats.median(laps.map(l => Files / (l._2 + l._3)).toSeq)
    ctx.e2e("op_ms") = Stats.median(classifies) * 1e3
    println(f"[selfhit] laps=${laps.length} build median=${Stats.median(builds)}%.3f s " +
      f"classify median=${Stats.median(classifies)}%.3f s; laps (build+classify) " +
      laps.map(l => f"${l._2}%.2f+${l._3}%.2f").mkString(" "))

    val db = laps.last._1
    ctx.checks.check("selfhit: counts repeat exactly in every lap",
      laps.forall(_._4 == ref), laps.map(_._4).distinct.mkString("; "))
    val missed = Classify.classify(spark, df, "path", "content", db, Cp).toDF()
      .select(col("read_id").as("path"), col("matches.target").as("ts"))
      .join(df.select("path", "repo"), "path")
      .filter(!array_contains(col("ts"), col("repo"))).count()
    ctx.checks.check("selfhit: every file's own repo is in its matches",
      missed == 0 && ref.reads == Files, s"missed=$missed reads=${ref.reads}")

    if (ctx.trace) {
      layers(ctx, df, db, Stats.median(builds), Stats.median(classifies), ref)
      scaling(ctx, df, Files / Stats.median(laps.map(l => l._2 + l._3).toSeq))
    }
  }

  private def layers(ctx: Ctx, df: DataFrame, db: SketchDb, buildS: Double,
      classifyS: Double, c: Counts): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    Probes.buildPasses(ctx, df, "repo", Params, buildS)
    ctx.layer("build.db_bytes") = db.sizeBytes.toDouble
    ctx.layer("build.bins") = db.plan.numBins.toDouble
    ctx.layer("build.fpr_realized_to_planned") = Probes.fprRatio(db, ctx.seed)
    ctx.layer("build_files_per_s") = Files / buildS
    ctx.layer("index_bytes_per_file") = db.sizeBytes.toDouble / Files

    Probes.probeSplit(ctx, df, db, Cp.relCutoff, classifyS)
    ctx.layer("classify_reads_per_s") = Files / classifyS
    Probes.putCounts(ctx, c.reads, c.matches, c.unique, c.unclassified,
      c.discFilter, c.discFpr)
  }

  /** Throughput at 4 cores over 4 times the throughput at 1 core: one
    * lap in a fresh single-core session after the 4-core laps. */
  private def scaling(ctx: Ctx, df4: DataFrame, filesPerS4: Double): Unit = {
    df4.unpersist(blocking = true)
    ctx.drain()
    Session.stop()
    val s1 = Session.start(1, ctx.workDir.resolve("local1"))
    val df = corpus(s1, ctx.seed).cache()
    df.count()
    val r = ctx.ops.timed("lap@local[1]") {
      val db = SketchBuild.build(s1, df, "repo", "content", Params)
      classifyCounts(s1, df, "path", "content", db)
    }
    r.foreach { case (_, s) =>
      ctx.layer("scaling_eff_1to4") = filesPerS4 / (4 * Files / s)
      println(f"[selfhit] local[1] lap $s%.3f s; scaling_eff_1to4=" +
        f"${ctx.layer("scaling_eff_1to4")}%.3f")
    }
  }
}

/** Layer probes shared by the workloads that build and classify. Their
  * spans are named `probe.*`, outside the phase names, so engine figures
  * per phase average only the workload's own calls. */
object Probes {
  /** Random absent hashes probed to measure a db's false-positive rate. */
  val FprProbes = 20000

  /** Time `probeOnly` over `reads` against `db`; the rest of `classifyS`,
    * one full classify of the same reads, is result encoding. */
  def probeSplit(ctx: Ctx, reads: DataFrame, db: ProbeDb, relCutoff: Double,
      classifyS: Double): Unit = {
    val tr = ctx.tracer
    val (hashes, probeS) = Stats.time(tr.span("probe.classify_only")(
      probeOnly(ctx.spark, reads, "content", db, relCutoff)))
    ctx.drain()
    val probeRun = tr.spans.reverseIterator.find(_.name == "probe.classify_only")
      .map(s => tr.engine(s, ctx.listener).runS).getOrElse(probeS)
    ctx.layer("classify.probe_only_s") = probeS
    ctx.layer("classify.encode_s") = classifyS - probeS
    ctx.layer("classify.probe_ns_per_hash") = probeRun * 1e9 / math.max(1L, hashes)
  }

  /** Shingles plus `ProbeDb.probe` alone, in a `mapPartitions`, with no
    * thresholds and no result encoding; returns the hashes probed. */
  def probeOnly(spark: SparkSession, df: DataFrame, contentCol: String,
      db: ProbeDb, relCutoff: Double): Long = {
    import spark.implicits._
    val p = db.params
    val dbB = spark.sparkContext.broadcast(db)
    try df.select(graft.spark.ShinglesExpr.col(
        coalesce(col(contentCol), lit("")), p.k, p.w, p.seed).as("hs"))
      .as[Array[Long]]
      .mapPartitions { it =>
        val d = dbB.value
        val counts = new Array[Int](d.targets.length)
        var n = 0L
        it.foreach { hs =>
          java.util.Arrays.fill(counts, 0)
          d.probe(hs, counts, math.max(1, math.ceil(hs.length * relCutoff).toInt))
          n += hs.length
        }
        Iterator.single(n)
      }.reduce(_ + _)
    finally dbB.destroy()
  }

  /** Time the build's pass 1 (`targetCardinalities`) and driver sizing
    * (`SketchBuild.plan`) alone; the shard pass is the rest of `buildS`. */
  def buildPasses(ctx: Ctx, df: DataFrame, targetCol: String, p: IbfParams,
      buildS: Double): Unit = {
    val tr = ctx.tracer
    val (cards, pass1) = Stats.time(tr.span("probe.build_pass1")(
      SketchBuild.targetCardinalities(df, targetCol, "content", p).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq))
    val (_, planS) = Stats.time(tr.span("probe.build_plan")(
      SketchBuild.plan(cards, p)))
    ctx.layer("build.pass1_s") = pass1
    ctx.layer("build.plan_s") = planS
    ctx.layer("build.shard_s") = buildS - pass1 - planS
  }

  /** Realized false-positive rate of random absent hashes per target,
    * over the planned split-corrected rate. Cutoff 0 probes every group of
    * a two-level db, so its coarse filter does not hide fine-bin hits. */
  def fprRatio(db: ProbeDb, seed: Long): Double = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val t = db.targets.length
    val counts = new Array[Int](t)
    var hits = 0L
    (0 until FprProbes).foreach { _ =>
      java.util.Arrays.fill(counts, 0)
      db.probe(Array(rnd.nextLong()), counts, 0)
      hits += counts.sum
    }
    val planned = (0 until t).map(db.binFpr).sum / t
    (hits.toDouble / (FprProbes.toLong * t)) / planned
  }

  def putCounts(ctx: Ctx, reads: Long, matches: Long, unique: Long,
      unclassified: Long, discFilter: Long, discFpr: Long): Unit = {
    val r = math.max(1L, reads).toDouble
    ctx.layer("classify.matches_per_read") = matches / r
    ctx.layer("classify.unique_ratio") = unique / r
    ctx.layer("classify.unclassified_ratio") = unclassified / r
    ctx.layer("classify.discard_filter") = discFilter.toDouble
    ctx.layer("classify.discard_fpr") = discFpr.toDouble
  }
}
