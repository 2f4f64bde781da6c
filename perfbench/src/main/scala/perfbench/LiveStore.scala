package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.api.Ganon
import graft.build.{IbfParams, ProbeDb}
import graft.classify.{ClassifyParams, Em}
import graft.core.Hashing
import graft.io.SketchStore

/**
 * Seeded generator of the `live_store` inputs: targets with their own
 * content, and read micro-batches cut from them.
 *
 * Target t has [[FilesPerTarget]] files of random ACGT text. File 0 is
 * shared with the sibling strain t^1, so reads cut from it match both
 * (multi-matches for EM); the other files are the target's own (unique
 * matches). Each batch mixes unmutated fragments, mutated fragments (a few
 * substitutions) and foreign reads that come from no target.
 */
object LiveCorpus {
  val Targets = 2048
  val FilesPerTarget = 4
  val FileLen = 1024
  val ReadLen = 150
  val ReadsPerBatch = 400
  val FragmentShare = 0.6
  val MutatedShare = 0.2 // the rest is foreign
  val Substitutions = 3

  private val Bases = "ACGT".toCharArray

  def name(t: Int): String = f"t$t%05d"

  /** `len` pseudo-random bases, a pure function of `key`. */
  def bases(key: Long, len: Int): String = {
    val cs = new Array[Char](len)
    var h = 0L
    var i = 0
    while (i < len) {
      if ((i & 31) == 0) h = Hashing.mix64(key + (i >>> 5) * 0x9E3779B97F4A7C15L)
      cs(i) = Bases(((h >>> ((i & 31) * 2)) & 3).toInt)
      i += 1
    }
    new String(cs)
  }

  def file(seed: Long, t: Int, f: Int): String =
    if (f == 0) bases(Hashing.mix64(seed ^ (0x51L << 40) ^ (t / 2).toLong), FileLen)
    else bases(Hashing.mix64(seed ^ (t.toLong << 8) ^ f), FileLen)

  /** (target, path, content) rows of targets [from, until). */
  def files(spark: SparkSession, seed: Long, from: Int, until: Int,
      partitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(from.toLong * FilesPerTarget, until.toLong * FilesPerTarget, 1,
      partitions).map { i =>
      val t = (i / FilesPerTarget).toInt
      val f = (i % FilesPerTarget).toInt
      (name(t), s"${name(t)}/f$f", file(seed, t, f))
    }.toDF("target", "path", "content")
  }

  /** Root-first lineage of every target below `until`:
    * root / genus (64 targets) / species (2 strains) / target. */
  def lineage(spark: SparkSession, until: Int): DataFrame = {
    import spark.implicits._
    val nodes = (0 until until).flatMap { t =>
      val g = s"g${t / 64}"
      val s = s"s${t / 2}"
      Seq(name(t) -> Array("root", g, s, name(t)), s -> Array("root", g, s),
        g -> Array("root", g))
    } :+ ("root" -> Array("root"))
    nodes.distinctBy(_._1).toDF("node", "lineage")
  }

  /** One read: id "<batch>-<i>-<kind>-<target>" where kind is f (own
    * file), s (shared file), m (mutated) or x (foreign). */
  final case class Read(id: String, content: String, kind: Char, target: Int)

  def batch(seed: Long, b: Int, live: IndexedSeq[Int]): Seq[Read] = {
    val rnd = new scala.util.Random(Hashing.mix64(seed * 1000003L + b))
    (0 until ReadsPerBatch).map { i =>
      val u = rnd.nextDouble()
      if (u < FragmentShare + MutatedShare) {
        val t = live(rnd.nextInt(live.length))
        val f = rnd.nextInt(FilesPerTarget)
        val off = rnd.nextInt(FileLen - ReadLen + 1)
        val frag = file(seed, t, f).substring(off, off + ReadLen)
        if (u < FragmentShare) {
          val kind = if (f == 0) 's' else 'f'
          Read(s"$b-$i-$kind-${name(t)}", frag, kind, t)
        } else {
          val cs = frag.toCharArray
          (0 until Substitutions).foreach { _ =>
            val p = rnd.nextInt(ReadLen)
            cs(p) = Bases((Bases.indexOf(cs(p)) + 1 + rnd.nextInt(3)) & 3)
          }
          Read(s"$b-$i-m-${name(t)}", new String(cs), 'm', t)
        }
      } else
        Read(s"$b-$i-x-none", bases(Hashing.mix64(seed ^ 0x7FL ^ (b.toLong << 20) ^ i),
          ReadLen), 'x', -1)
    }
  }
}

/**
 * `live_store`: `buildToStore` over ~2k targets with their own content,
 * then a closed loop with one client that pushes fixed-size read
 * micro-batches through `Ganon.classifyLiveStore`; after every few batches
 * it commits an update (adds a slice of new targets, removes one) and
 * reclaims old generations, so writes sit beside reads. The run ends with
 * `Em.reassign` and `Ganon.report` over the accumulated `.all`. Chosen
 * because it exercises io, streaming, two-level pruning, EM and report,
 * with short reads and few matches, so the kernel and encode shares are
 * small, and a store larger than per-core cache.
 */
object LiveStore {
  import LiveCorpus._

  val Params: IbfParams = IbfParams(k = 19, w = 31, maxFp = 0.01)
  val Cp: ClassifyParams = ClassifyParams(relCutoff = 0.25)
  val BatchesPerCommit = 6
  val AddPerCommit = 8

  final case class Match(readId: String, target: String, count: Long, order: Int)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = ctx.workDir.resolve("store").toString

    var df: DataFrame = null
    ctx.setup {
      if (df != null) df.unpersist(blocking = true)
      df = files(spark, ctx.seed, 0, Targets).cache()
      df.count()
    }
    // the store the loop reads; cold (JIT, codegen), so the traced run
    // times a second build for the build figures
    ctx.ops.timed("buildToStore")(
      Ganon.buildToStore(spark, df, "target", "content", dir, Params))
      .getOrElse(throw new IllegalStateException("buildToStore failed"))

    val live = mutable.ArrayBuffer.from(0 until Targets)
    var nextTarget = Targets
    val got = mutable.Map.empty[Long, (Int, Array[Match])]
    val progress = mutable.ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]
    val progressListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.synchronized { if (e.progress.numInputRows > 0) progress += e.progress.durationMs }
    }
    spark.streams.addListener(progressListener)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val q = Ganon.classifyLiveStore(spark, ms.toDF().toDF("id", "content"),
        "id", "content", dir, Cp) { (out, batchId, gen) =>
      val rows = out.collect().map(r => Match(r.getString(0), r.getString(1),
        r.getAs[Number](2).longValue, r.getAs[Number](3).intValue))
      got.synchronized { got(batchId) = (gen, rows) }
    }.option("checkpointLocation", ctx.workDir.resolve("ckpt").toString).start()

    // the reads of every batch that completed
    val sent = mutable.ArrayBuffer.empty[Seq[Read]]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val commitS = mutable.ArrayBuffer.empty[Double]
    val gcS = mutable.ArrayBuffer.empty[Double]
    val commitBytes = mutable.ArrayBuffer.empty[Double]
    var readsDone = 0L
    var b = 0
    def push(): Unit = {
      val reads = batch(ctx.seed, b, live.toIndexedSeq)
      b += 1
      ctx.ops.timed(s"batch#$b")(tr.span("stream_batch") {
        tr.current.foreach(tr.alias(_, q.runId.toString))
        ms.addData(reads.map(r => (r.id, r.content)): _*)
        q.processAllAvailable()
      }).foreach { case (_, s) =>
        batchMs += s * 1e3
        readsDone += reads.length
        sent += reads
      }
    }
    def commit(c: Int): Unit = {
      val rnd = new scala.util.Random(ctx.seed * 31 + c)
      val remove = live(rnd.nextInt(live.length))
      val add = files(spark, ctx.seed, nextTarget, nextTarget + AddPerCommit, 2)
      val before = dirBytes(dir)
      ctx.ops.timed(s"commit#$c")(tr.span("commit")(
        Ganon.updateStored(spark, dir, add, "target", "content", Seq(name(remove)))))
        .foreach { case (_, s) =>
          commitS += s
          commitBytes += (dirBytes(dir) - before).toDouble
          live -= remove
          live ++= (nextTarget until nextTarget + AddPerCommit)
          nextTarget += AddPerCommit
        }
      ctx.ops.timed(s"gc#$c")(tr.span("gc")(Ganon.gcStore(spark, dir, keepGens = 2)))
        .foreach { case (_, s) => gcS += s }
    }

    def round(c: Int): Unit = {
      (0 until BatchesPerCommit).foreach(_ => push())
      commit(c)
    }

    // warm-up round: loads the first generation and JITs the probe and
    // the commit path; batch latency keeps falling over the first rounds,
    // so without it the median would depend on how many rounds fit
    ctx.warmup(round(0))
    batchMs.clear(); commitS.clear(); gcS.clear(); commitBytes.clear()
    readsDone = 0L
    val roundWall = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var rounds = 0
    while (ctx.measuring(t0, rounds, minTries = 2)) {
      val r0 = System.nanoTime()
      ctx.lap(rounds)(round(rounds + 1))
      roundWall += (System.nanoTime() - r0) / 1e9
      rounds += 1
    }
    q.stop()
    spark.streams.removeListener(progressListener)
    ctx.e2e("items_per_s") = readsDone / roundWall.sum
    ctx.e2e("op_ms") = Stats.median(batchMs.toSeq)
    println(f"[live] rounds=$rounds batches=${batchMs.length} reads=$readsDone " +
      f"batch p50=${Stats.median(batchMs.toSeq)}%.1f ms commit median=" +
      f"${if (commitS.isEmpty) Double.NaN else Stats.median(commitS.toSeq)}%.3f s")

    // batches before the third commit (the warm-up round and the two
    // rounds every run makes) see the same generations in every run, so
    // their counts must repeat exactly across runs of one seed
    val fixed = got.toSeq.filter(_._1 < 3 * BatchesPerCommit).flatMap(_._2._2)
    ctx.counts = Some(s"batches < ${3 * BatchesPerCommit}: " +
      s"matches=${fixed.length} reads=${fixed.map(_.readId).distinct.length} " +
      s"kmers=${fixed.map(_.count).sum}")
    println(s"[live] counts of ${ctx.counts.get}")

    // ---- output checks over every batch sent ---------------------------
    val handle = SketchStore.loadTwoLevelLazy(spark, dir)
    val matchesOf = got.values.flatMap(_._2).groupBy(_.readId)
    val all = sent.flatten
    val fragments = all.filter(r => r.kind == 'f' || r.kind == 's')
    val missed = fragments.count(r =>
      !matchesOf.get(r.id).exists(_.exists(_.target == name(r.target))))
    ctx.checks.check("live: every unmutated fragment matches its true target",
      missed == 0 && got.size >= sent.length,
      s"missed=$missed of ${fragments.length}; batches seen=${got.size} sent=${sent.length}")
    val foreign = all.filter(_.kind == 'x')
    val falseHits = foreign.count(r => matchesOf.contains(r.id))
    val boundByN = mutable.Map.empty[Int, Double]
    val expected = foreign.map { r =>
      val n = Hashing.shinglesBytes(r.content.getBytes("UTF-8"), Params.k,
        Params.w, Params.seed).length
      boundByN.getOrElseUpdate(n, falseMatchBound(handle, n))
    }.sum
    val allowed = expected + 3 * math.sqrt(expected) + 1
    ctx.checks.check("live: foreign false matches within the planned-FPR bound",
      falseHits <= allowed,
      f"false=$falseHits of ${foreign.length}, bound=$allowed%.2f")
    val nMatches = all.map(r => matchesOf.get(r.id).map(_.size).getOrElse(0))
    val unique = nMatches.count(_ == 1)
    val multi = nMatches.count(_ > 1)
    val unc = nMatches.count(_ == 0)
    println(f"[live] realized mix over ${all.length} reads: unique=" +
      f"${unique.toDouble / all.length}%.3f multi=${multi.toDouble / all.length}%.3f " +
      f"unclassified=${unc.toDouble / all.length}%.3f")
    ctx.checks.check("live: reads of shared files are multi-matches",
      all.filter(_.kind == 's').forall(r =>
        !live.contains(r.target ^ 1) || matchesOf.get(r.id).exists(_.size > 1)) ||
        all.count(_.kind == 's') == 0)

    // ---- reassign and report over the accumulated .all -----------------
    val allDf = got.values.flatMap(_._2).toSeq
      .map(m => (m.readId, m.target, m.count, m.order))
      .toDF("read_id", "target", "kmer_count", "match_order").cache()
    allDf.count()
    val reassigned = ctx.ops.timed("reassign")(tr.span("reassign")(
      Em.reassign(spark, allDf).collect()))
    reassigned.foreach { case (rows, s) =>
      ctx.layer("reassign_s") = s
      ctx.layer("classify.reassign_s") = s
      val readIds = rows.map(_.getString(0))
      ctx.checks.check("live: reassign gives one target per classified read",
        readIds.length == readIds.distinct.length &&
          readIds.length == matchesOf.size &&
          rows.forall(r => matchesOf(r.getString(0)).exists(_.target == r.getString(1))),
        s"assigned=${readIds.length} classified=${matchesOf.size}")
      val counts = rows.groupBy(_.getString(1)).toSeq
        .map { case (t, rs) => (t, rs.length.toLong) }.toDF("node", "direct_count")
      val lin = lineage(spark, nextTarget)
      ctx.ops.timed("report")(tr.span("report")(Ganon.report(counts, lin).collect()))
        .foreach { case (tree, rs) =>
          ctx.layer("report.tree_s") = rs
          ctx.layer("report.rows") = tree.length.toDouble
          val root = tree.find(_.getString(0) == "root").map(_.getLong(3))
          ctx.checks.check("live: report root counts every reassigned read",
            root.contains(rows.length.toLong), s"root=$root reads=${rows.length}")
        }
    }

    if (ctx.trace) {
      // a warm build of the same targets into a scratch store
      val rebuilt = ctx.workDir.resolve("rebuilt").toString
      ctx.ops.timed("buildToStore (warm)")(tr.span("build")(
        Ganon.buildToStore(spark, df, "target", "content", rebuilt, Params)))
        .foreach { case (_, buildS) =>
          ctx.layer("build_files_per_s") = Targets * FilesPerTarget / buildS
          ctx.layer("index_bytes_per_file") =
            dirBytes(rebuilt).toDouble / (Targets * FilesPerTarget)
          Probes.buildPasses(ctx, df, "target", Params, buildS)
        }
      ctx.layer("batch_p50_ms") = Stats.median(batchMs.toSeq)
      ctx.layer("batch_p90_ms") = Stats.quantile(batchMs.toSeq, 0.9)
      if (commitS.nonEmpty) {
        ctx.layer("commit_s") = Stats.median(commitS.toSeq)
        ctx.layer("io.commit_bytes_written") = Stats.median(commitBytes.toSeq)
      }
      if (gcS.nonEmpty) ctx.layer("io.gc_s") = Stats.median(gcS.toSeq)
      ctx.layer("io.store_bytes") = dirBytes(dir).toDouble
      ctx.drain()
      progress.synchronized {
        def med(k: String) = Stats.median(progress.toSeq.map(m =>
          Option(m.get(k)).map(_.doubleValue).getOrElse(0.0)))
        if (progress.nonEmpty) {
          ctx.layer("streaming.query_planning_ms") = med("queryPlanning")
          ctx.layer("streaming.add_batch_ms") = med("addBatch")
          ctx.layer("streaming.wal_commit_ms") = med("walCommit")
        }
      }
      ctx.layer("streaming.rotations") =
        (got.values.map(_._1).toSet.size - 1).toDouble
      layers(ctx, dir, all.take(8 * ReadsPerBatch).toSeq)
    }
  }

  /** Expected false matches of one foreign read with `n` hashes: over all
    * targets, the chance that at least the cutoff of its hashes are false
    * positives, at the highest planned per-target rate. */
  def falseMatchBound(db: ProbeDb, n: Int): Double =
    if (n == 0) 0.0
    else {
      val pMax = db.targets.indices.map(db.binFpr).max
      db.targets.length *
        binomTail(n, math.max(1, math.ceil(n * Cp.relCutoff).toInt), pMax)
    }

  private def binomTail(n: Int, k: Int, p: Double): Double =
    (k to n).map { i =>
      math.exp(logChoose(n, i) + i * math.log(p) + (n - i) * math.log1p(-p))
    }.sum

  private def logChoose(n: Int, k: Int): Double =
    (1 to k).map(i => math.log((n - k + i).toDouble / i)).sum

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Layer split on a fixed set of reads against the final generation:
    * store load, probe alone, full classify and shard loads. */
  private def layers(ctx: Ctx, dir: String, reads: Seq[Read]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    val readDf = reads.map(r => (r.id, r.content)).toDF("id", "content").cache()
    readDf.count()
    val (handle, loadS) = Stats.time(tr.span("io.load")(
      SketchStore.loadTwoLevelLazy(spark, dir)))
    ctx.layer("io.load_s") = loadS
    // the first probe loads the shards this read set touches; the timed
    // calls below then see the same warm cache
    Probes.probeOnly(spark, readDf, "content", handle, Cp.relCutoff)
    ctx.layer("io.shard_loads") = handle.loadedShards.toDouble
    ctx.layer("io.shard_load_ratio") =
      handle.loadedShards.toDouble / handle.layout.numGroups
    ctx.layer("io.resident_mb") = handle.residentBytes / 1e6
    val (c, classifyS) = Stats.time(tr.span("classify")(
      CorpusSelfhit.classifyCounts(spark, readDf, "id", "content", handle)))
    Probes.probeSplit(ctx, readDf, handle, Cp.relCutoff, classifyS)
    ctx.layer("classify_reads_per_s") = reads.length / classifyS
    Probes.putCounts(ctx, c.reads, c.matches, c.unique, c.unclassified,
      c.discFilter, c.discFpr)
    ctx.layer("build.fpr_realized_to_planned") = Probes.fprRatio(handle, ctx.seed)
    ctx.layer("build.db_bytes") = ctx.layer.getOrElse("io.store_bytes", 0.0)
    ctx.layer("build.bins") = handle.plan.numBins.toDouble
  }
}
