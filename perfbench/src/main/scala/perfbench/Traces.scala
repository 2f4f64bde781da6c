package perfbench

import graft.core.Hashing
import graft.core.sketch.{CountMin, Hll, Kll, TDigest}
import graft.synth.Corpus

/** What a traced run adds: the core-kernel probes every workload shares,
  * engine attribution per phase, the span file, self times, the
  * reconciliation of layer spans with lap wall time, and the tracing
  * overhead. */
object Traces {

  def finish(ctx: Ctx, workload: String, runWall: Double): Unit = {
    core(ctx)
    val tr = ctx.tracer
    val spans = tr.spans
    // engine attribution: the spans named after each phase, averaged per
    // span so runs with different numbers of traced laps compare
    Metrics.EnginePhases.foreach { phase =>
      val top = spans.filter(_.name == phase)
      if (top.nonEmpty) {
        val aggs = top.map(s => (s, tr.engine(s, ctx.listener)))
        val n = top.length.toDouble
        def put(f: String, v: Double): Unit = ctx.layer(s"engine.$phase.$f") = v
        put("tasks", aggs.map(_._2.tasks.length).sum / n)
        put("run_s", aggs.map(_._2.runS).sum / n)
        put("cpu_s", aggs.map(_._2.cpuS).sum / n)
        put("gc_s", aggs.map(_._2.gcS).sum / n)
        put("shuffle_mb", aggs.map(_._2.shuffleMb).sum / n)
        put("spill_mb", aggs.map(_._2.spillMb).sum / n)
        put("peak_mem_mb", aggs.map(_._2.peakMemMb).max)
        put("driver_gap_s", aggs.map { case (s, a) =>
          tr.driverGapSeconds(s, a) }.sum / n)
      }
    }

    // self time per span name
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      println(f"[span] $name%-24s n=${ss.length}%3d " +
        f"wall=${ss.map(_.seconds).sum}%9.4f s self=${ss.map(tr.selfSeconds).sum}%9.4f s")
    }

    // layer spans directly under a lap must add up to the lap's wall
    val laps = spans.filter(_.name == "lap")
    if (laps.nonEmpty) {
      val ratios = laps.map { l =>
        spans.filter(_.parent == l.id).map(_.seconds).sum / l.seconds }
      val r = Stats.median(ratios)
      ctx.layer("trace.reconcile_ratio") = r
      val gap = 1.0 - r
      println(f"[trace] layer spans cover ${r * 100}%.1f%% of lap wall; " +
        (if (math.abs(gap) <= 0.10) "reconciled within 10%"
         else f"gap ${gap * 100}%.1f%% is harness time between layer calls " +
           "(result checks and input slicing on the driver)"))
    }
    val traced = ctx.lapWalls(true)
    val untraced = ctx.lapWalls(false)
    if (traced.nonEmpty && untraced.nonEmpty) {
      ctx.layer("trace.overhead_s") =
        Stats.median(traced.toSeq) - Stats.median(untraced.toSeq)
      println(f"[trace] overhead ${ctx.layer("trace.overhead_s")}%.4f s per lap " +
        f"(traced median ${Stats.median(traced.toSeq)}%.4f s over ${traced.length}, " +
        f"untraced ${Stats.median(untraced.toSeq)}%.4f s over ${untraced.length})")
    }
    val out = ctx.workDir.getParent.resolve("traces")
      .resolve(s"$workload-seed${ctx.seed}.jsonl")
    tr.write(out, ctx.listener)
    println(f"[trace] ${spans.length} spans written to $out (run wall $runWall%.2f s)")
  }

  /** Single-threaded `core` probes on fixed content: the shingle kernel,
    * the raw k-mer hash, and one merge of each sketch type. */
  private def core(ctx: Ctx): Unit = {
    val bytes = (0 until 4000).map(i => Corpus.contentOf(i.toLong, "scala",
      ctx.seed, 120).getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val mb = bytes.map(_.length.toLong).sum / 1e6
    def best(reps: Int)(f: => Long): (Double, Long) = {
      f // warm the JIT
      val rs = (0 until reps).map { _ =>
        val t0 = System.nanoTime(); val out = f
        ((System.nanoTime() - t0) / 1e9, out)
      }
      (Stats.median(rs.map(_._1)), rs.head._2)
    }
    val (tSh, nHashes) = best(5)(bytes.map(b =>
      Hashing.shinglesBytes(b, 19, 31).length.toLong).sum)
    val (tK, _) = best(5)(bytes.map(b =>
      Hashing.kmerHashesBytes(b, 19).length.toLong).sum)
    ctx.layer("core.shingle_mb_per_s") = mb / tSh
    ctx.layer("core.kmer_mb_per_s") = mb / tK
    ctx.layer("core.hashes_per_kb") = nHashes / (mb * 1e3)

    val rnd = new scala.util.Random(ctx.seed)
    def mergeNs[S](mk: () => S, fill: (S, Int) => Unit, merge: (S, S) => S)
        : Double = {
      val parts = (0 until 64).map { j => val s = mk(); fill(s, j); s }
      val reps = 5
      val ts = (0 until reps).map { _ =>
        var acc = mk()
        val t0 = System.nanoTime()
        parts.foreach(p => acc = merge(acc, p))
        (System.nanoTime() - t0).toDouble / parts.length
      }
      Stats.median(ts.drop(1))
    }
    ctx.layer("core.merge_ns.hll") = mergeNs[Hll](() => Hll.empty(14),
      (s, _) => (0 until 2000).foreach(_ => s.add(rnd.nextLong())),
      (a, b) => a.merge(b))
    ctx.layer("core.merge_ns.cms") = mergeNs[CountMin](
      () => CountMin.empty(7, 8192),
      (s, _) => (0 until 2000).foreach(_ => s.add(rnd.nextInt(5000).toLong)),
      (a, b) => a.merge(b))
    ctx.layer("core.merge_ns.kll") = mergeNs[Kll](() => Kll.empty(200),
      (s, _) => (0 until 2000).foreach(_ => s.add(rnd.nextDouble())),
      (a, b) => a.merge(b))
    ctx.layer("core.merge_ns.tdigest") = mergeNs[TDigest](
      () => TDigest.empty(100.0),
      (s, _) => (0 until 2000).foreach(_ => s.add(rnd.nextDouble())),
      (a, b) => a.merge(b))
  }
}
