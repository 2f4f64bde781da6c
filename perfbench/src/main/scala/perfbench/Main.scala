package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State shared by one run of one workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val workDir: Path) {
  import Ctx.SetupReps
  val ops = new Ops
  val checks = new Checks
  val listener = new EngineListener
  spark.sparkContext.addSparkListener(listener)
  val tracer = new Tracer(spark, trace, s"r$seed")
  /** End-to-end values (untraced runs) and per-layer values (traced runs),
    * by the names in [[Metrics]]. */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Wall seconds of each measured lap, by whether it was traced. */
  val lapWalls = mutable.Map(true -> mutable.ArrayBuffer.empty[Double],
    false -> mutable.ArrayBuffer.empty[Double])
  /** Counts of the run that depend only on the seed and the program; the
    * workload sets them, [[Main]] compares them with earlier runs. */
  var counts: Option[String] = None

  /** Run the workload's set-up [[Ctx.SetupReps]] times and record the
    * median as `setup_s`; returns the last set-up's value. Set-up failures
    * abort the run: nothing can be measured without inputs. */
  def setup[A](f: => A): A = {
    var last: Option[A] = None
    val times = (0 until SetupReps).flatMap { rep =>
      ops.timed(s"setup#$rep")(f).map { case (a, s) => last = Some(a); s }
    }
    require(times.length == SetupReps && last.isDefined, "set-up failed")
    e2e("setup_s") = Stats.median(times)
    last.get
  }

  /** Whether a timed loop started at `t0Ns` goes on after `tries`
    * attempts: at least `minTries`, then until `seconds` have passed. Three
    * failed operations end it early, so laps that fail at once cannot spin
    * until the time is up. */
  def measuring(t0Ns: Long, tries: Int, minTries: Int): Boolean =
    tries < minTries ||
      ((System.nanoTime() - t0Ns) / 1e9 < seconds && ops.failed < 3)

  /** A measured lap: traced laps alternate with untraced ones when
    * tracing, so the same run gives the tracing overhead. */
  def lap[A](i: Int)(f: => A): Option[A] = {
    val traced = trace && i % 2 == 1
    tracer.on = traced
    val r = ops.timed(s"lap#$i")(if (traced) tracer.span("lap")(f) else f)
    tracer.on = trace
    r.map { case (a, s) => lapWalls(traced) += s; a }
  }

  /** Warm-up work: never traced, so spans describe measured work only. */
  def warmup[A](f: => A): A = {
    tracer.on = false
    try f finally tracer.on = trace
  }

  /** Drain the listener bus so task metrics of finished jobs are visible. */
  def drain(): Unit =
    SparkSession.getActiveSession.foreach(s =>
      org.apache.spark.PerfbenchAccess.drain(s.sparkContext))
}

object Ctx {
  /** Set-ups a run makes; `setup_s` is their median. */
  val SetupReps = 3
}

/**
 * One workload of the benchmark per run:
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *     --work-dir <dir> --commit <sha> --source-hash <sha256>
 *
 * Every argument is required. `--work-dir` is emptied and used for the
 * run's scratch files; its parent keeps the span files and the counts of
 * earlier runs. `--commit` and `--source-hash` name the measured code.
 *
 * The last line of standard output is one JSON object with `correct`,
 * `attempted`, `failed` and `metrics`: the end-to-end metrics untraced,
 * the per-layer metrics traced. The exit code is non-zero when an output
 * check fails.
 */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "corpus_selfhit" -> CorpusSelfhit.run,
    "live_store" -> LiveStore.run,
    "sketch_aggs" -> SketchAggsWorkload.run)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, {
      System.err.println(s"missing argument --$k")
      sys.exit(2)
    })
    val workload = arg("workload")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of " +
        Workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val workDir = Paths.get(arg("work-dir")).toAbsolutePath
    val commit = arg("commit")
    val sourceHash = arg("source-hash")
    deleteTree(workDir)
    Files.createDirectories(workDir)

    val spark = Session.start(4, workDir)
    println("[fingerprint] " + Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_kb" -> memTotalKb.toString,
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} " +
        sys.props("java.runtime.version")),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> Json.str(spark.version),
      "master" -> Json.str(spark.sparkContext.master),
      "git_commit" -> Json.str(commit),
      "source_sha256" -> Json.str(sourceHash))))

    val ctx = new Ctx(spark, seed, seconds, trace, workDir)
    val started = System.nanoTime()
    val crashed =
      try { run(ctx); None }
      catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }
    crashed.foreach(m => ctx.checks.check("workload completed", cond = false, m))
    ctx.counts.foreach(c => checkRepeat(ctx, workDir.getParent.resolve("counts")
      .resolve(s"$workload-seed$seed-$sourceHash.txt"), c))
    ctx.drain()
    if (trace) Traces.finish(ctx, workload, (System.nanoTime() - started) / 1e9)
    ctx.layer("failed_ops_ratio") =
      ctx.ops.failed.toDouble / math.max(1L, ctx.ops.attempted)
    ctx.layer("peak_exec_mem_mb") = ctx.listener.peakExecMemBytes / 1e6
    Session.stop()
    deleteTree(workDir)

    val names = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (trace) ctx.layer else ctx.e2e
    // every end-to-end metric must have been measured; per-layer metrics
    // of a layer the workload does not call read 0
    if (!trace) {
      val missing = names.map(_._1).filterNot(n =>
        values.get(n).exists(v => v > 0 && !v.isInfinite))
      ctx.checks.check("every end-to-end metric measured", missing.isEmpty,
        missing.mkString(", "))
    }
    names.foreach { case (n, unit) =>
      println(f"[${if (trace) "layer" else "e2e"}] $n%-34s ${values.getOrElse(n, 0.0)}%.6g $unit")
    }
    val correct = ctx.checks.ok
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, ctx.ops.attempted).toString,
      "failed" -> ctx.ops.failed.toString,
      "metrics" -> Json.obj(names.map { case (n, unit) =>
        n -> Json.obj(Seq("value" -> Json.num(values.getOrElse(n, 0.0)),
          "unit" -> Json.str(unit)))
      }))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Counts that depend only on the seed and the program must read the
    * same in every run of one seed of one source tree: the first correct
    * run records them, later runs compare. */
  private def checkRepeat(ctx: Ctx, record: Path, counts: String): Unit = {
    if (Files.exists(record)) {
      val first = new String(Files.readAllBytes(record), "UTF-8")
      ctx.checks.check("counts repeat exactly across runs of this seed",
        first == counts, s"first run: $first; this run: $counts")
    } else if (ctx.checks.ok) {
      Files.createDirectories(record.getParent)
      val tmp = Files.createTempFile(record.getParent, "counts", ".tmp")
      Files.write(tmp, counts.getBytes("UTF-8"))
      Files.move(tmp, record, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      println(s"[check] counts recorded for later runs of this seed: $counts")
    }
  }

  private def memTotalKb: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemTotal:") =>
          l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }
}

object Session {
  /** Shuffle partitions and default parallelism of every session. */
  val Partitions = 8

  /** A local Spark session whose scratch files stay under `workDir`. */
  def start(cores: Int, workDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.default.parallelism", Partitions.toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpointLocation",
        workDir.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = SparkSession.getActiveSession.foreach(_.stop())
}

/** The metric catalogue; BENCHMARK.json lists the same names and units. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "1/s",
    "op_ms" -> "ms")

  val EnginePhases: Seq[String] =
    Seq("build", "classify", "stream_batch", "commit", "reassign", "report",
      "sketch")
  val EngineFields: Seq[(String, String)] = Seq(
    "tasks" -> "count", "run_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "peak_mem_mb" -> "MB",
    "driver_gap_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    // workload-level figures, reported from the traced run
    "build_files_per_s" -> "1/s",
    "classify_reads_per_s" -> "1/s",
    "scaling_eff_1to4" -> "ratio",
    "batch_p50_ms" -> "ms",
    "batch_p90_ms" -> "ms",
    "commit_s" -> "s",
    "reassign_s" -> "s",
    "sketch_rows_per_s" -> "1/s",
    "index_bytes_per_file" -> "B",
    "peak_exec_mem_mb" -> "MB",
    "failed_ops_ratio" -> "ratio",
    // core
    "core.shingle_mb_per_s" -> "MB/s",
    "core.kmer_mb_per_s" -> "MB/s",
    "core.hashes_per_kb" -> "count",
    "core.merge_ns.hll" -> "ns",
    "core.merge_ns.cms" -> "ns",
    "core.merge_ns.kll" -> "ns",
    "core.merge_ns.tdigest" -> "ns",
    // build
    "build.pass1_s" -> "s",
    "build.plan_s" -> "s",
    "build.shard_s" -> "s",
    "build.db_bytes" -> "B",
    "build.bins" -> "count",
    "build.fpr_realized_to_planned" -> "ratio",
    // classify
    "classify.probe_only_s" -> "s",
    "classify.encode_s" -> "s",
    "classify.probe_ns_per_hash" -> "ns",
    "classify.matches_per_read" -> "count",
    "classify.unique_ratio" -> "ratio",
    "classify.unclassified_ratio" -> "ratio",
    "classify.discard_filter" -> "count",
    "classify.discard_fpr" -> "count",
    "classify.reassign_s" -> "s",
    // io
    "io.load_s" -> "s",
    "io.gc_s" -> "s",
    "io.commit_bytes_written" -> "B",
    "io.store_bytes" -> "B",
    "io.shard_loads" -> "count",
    "io.shard_load_ratio" -> "ratio",
    "io.resident_mb" -> "MB",
    // streaming
    "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.rotations" -> "count",
    // report
    "report.tree_s" -> "s",
    "report.rows" -> "count",
    // spark
    "spark.hll_s" -> "s",
    "spark.cms_s" -> "s",
    "spark.kll_tdigest_s" -> "s",
    "spark.bloom_s" -> "s",
    "spark.buffer_shuffle_mb" -> "MB",
    "spark.err_to_bound.hll" -> "ratio",
    "spark.err_to_bound.cms" -> "ratio",
    "spark.err_to_bound.kll" -> "ratio",
    "spark.err_to_bound.tdigest" -> "ratio",
    // the trace itself
    "trace.overhead_s" -> "s",
    "trace.reconcile_ratio" -> "ratio") ++
    (for (p <- EnginePhases; (f, u) <- EngineFields)
      yield s"engine.$p.$f" -> u)
}
