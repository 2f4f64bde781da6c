package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.sketch.{Bloom, CountMin, Kll, TDigest}
import graft.spark.GraftFunctions
import graft.synth.Corpus

/**
 * `sketch_aggs`: HLL, count-min, KLL, t-digest and Bloom UDAF queries over
 * `synth.Corpus`, grouped at 8 (lang), 64 (repo) and ~2k (repo x 32
 * buckets) keys, against exact answers computed during set-up. Chosen
 * because it bypasses build, classify and the store: it isolates the
 * `spark/udaf` buffers and `core/sketch` merges, so optimisations of the
 * other layers should show no change here.
 */
object SketchAggsWorkload {
  val Rows = 20000
  val HllP = 12
  val CmsDepth = 5
  val KllK = 200
  val TdCompression = 100.0
  val BloomCapacity = 3000L
  /** False-positive rate the filters are sized for at [[BloomCapacity]]. */
  val BloomFpr = 0.01
  val BloomBits: Long = Bloom.optimalBits(BloomCapacity, BloomFpr)
  val BloomHashes: Int = Bloom.optimalHashes(BloomBits, BloomCapacity)
  val Quantiles: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
  /** Grouping column and count-min width (narrower where groups are many,
    * so the aggregation buffers stay bounded). */
  val Groupings: Seq[(String, Int)] = Seq("k8" -> 4096, "k64" -> 2048, "k2k" -> 256)
  /** Keys of the ~2k grouping whose frequencies are checked exactly. */
  val SampledKeys = 32

  final case class Exact(distinct: Map[(String, String), Set[Long]],
      freq: Map[(String, String), Map[Long, Long]],
      total: Map[(String, String), Long],
      values: Map[(String, String), Array[Double]])

  def input(ctx: Ctx): DataFrame =
    Corpus.df(ctx.spark, Rows, numRepos = 64, seed = ctx.seed, partitions = 16)
      .select(col("lang").as("k8"), col("repo").as("k64"),
        concat(col("repo"), lit("_"), pmod(xxhash64(col("path")), lit(32)))
          .as("k2k"),
        GraftFunctions.tokenHashes(col("content")).as("hs"),
        GraftFunctions.tokenHashesMultiset(col("content")).as("hsm"),
        (octet_length(col("content")) +
          (xxhash64(col("path")).bitwiseAND(0xFFFF) / 65536.0)).as("v"))

  def exact(df: DataFrame): Exact = {
    val sampled = df.select("k2k").distinct().collect().map(_.getString(0))
      .sorted.take(SampledKeys).toSet
    def keep(g: String, k: String) = g != "k2k" || sampled(k)
    val distinct = mutable.Map.empty[(String, String), Set[Long]]
    val freq = mutable.Map.empty[(String, String), Map[Long, Long]]
    Groupings.foreach { case (g, _) =>
      val keys = if (g == "k2k") df.filter(col(g).isin(sampled.toSeq: _*)) else df
      keys.select(col(g), explode(col("hsm")).as("h")).groupBy(g, "h").count()
        .collect().groupBy(_.getString(0)).foreach { case (k, rs) =>
          freq((g, k)) = rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
          distinct((g, k)) = rs.map(_.getLong(1)).toSet
        }
    }
    val rows = df.select("k8", "k64", "k2k", "v").collect()
    val values = Groupings.flatMap { case (g, _) =>
      rows.groupBy(_.getAs[String](g)).map { case (k, rs) =>
        (g, k) -> rs.map(_.getDouble(3)).sorted }
    }.toMap
    // distinct counts for every key (HLL checks all of them)
    val counts = Groupings.flatMap { case (g, _) =>
      df.select(col(g), explode(col("hs")).as("h")).groupBy(g)
        .agg(countDistinct("h")).collect().map(r => (g, r.getString(0)) -> r.getLong(1))
    }.toMap
    Exact(distinct.toMap, freq.toMap.filter { case ((g, k), _) => keep(g, k) },
      counts, values)
  }

  final case class Pass(seconds: Map[String, Double], queries: Int, at64: Double,
      hll: Map[(String, String), Long], cms: Map[(String, String), Array[Byte]],
      quant: Map[(String, String), (Array[Byte], Array[Byte])],
      bloom: Map[(String, String), Array[Byte]])

  def run(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    var df: DataFrame = null
    ctx.setup {
      if (df != null) df.unpersist(blocking = true)
      df = input(ctx).cache()
      df.count()
    }
    // the checker's exact answers: computed once, outside every timing
    val ex = exact(df)

    def collectBy(g: String, agg: org.apache.spark.sql.Column): Array[Row] =
      df.groupBy(g).agg(agg).collect()

    // one pass is one `sketch` span; each query in it is a `spark.<kind>` span
    def pass(): Pass = tr.span("sketch") {
      val secs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def q[A](kind: String)(f: => A): A = {
        val (a, s) = Stats.time(tr.span(s"spark.$kind")(f))
        secs(kind) += s
        a
      }
      val hll = mutable.Map.empty[(String, String), Long]
      val cms = mutable.Map.empty[(String, String), Array[Byte]]
      val quant = mutable.Map.empty[(String, String), (Array[Byte], Array[Byte])]
      val bloom = mutable.Map.empty[(String, String), Array[Byte]]
      var at64 = 0.0
      Groupings.foreach { case (g, width) =>
        val g0 = System.nanoTime()
        q("hll")(collectBy(g, GraftFunctions.hllCount(col("hs"), HllP)))
          .foreach(r => hll((g, r.getString(0))) = r.getLong(1))
        q("cms")(collectBy(g, GraftFunctions.cmsSketch(col("hsm"), CmsDepth, width)))
          .foreach(r => cms((g, r.getString(0))) = r.getAs[Array[Byte]](1))
        q("kll_tdigest")(df.groupBy(g).agg(GraftFunctions.kllSketch(col("v"), KllK),
          GraftFunctions.tdigestSketch(col("v"), TdCompression)).collect())
          .foreach(r => quant((g, r.getString(0))) =
            (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
        q("bloom")(collectBy(g, GraftFunctions.bloomSketch(col("hs"), BloomBits,
          BloomHashes))).foreach(r => bloom((g, r.getString(0))) = r.getAs[Array[Byte]](1))
        if (g == "k64") at64 = (System.nanoTime() - g0) / 1e9
      }
      Pass(secs.toMap, 4 * Groupings.length, at64, hll.toMap, cms.toMap, quant.toMap, bloom.toMap)
    }

    // UDAF queries need a few repetitions before their times settle
    ctx.warmup((0 until 3).foreach(_ => pass()))
    val passes = mutable.ArrayBuffer.empty[Pass]
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (ctx.measuring(t0, i, minTries = 3)) {
      val p0 = System.nanoTime()
      ctx.lap(i)(pass()).foreach { p =>
        passes += p
        walls += (System.nanoTime() - p0) / 1e9
      }
      i += 1
    }
    require(passes.nonEmpty, "no pass succeeded")
    val nQueries = passes.head.queries
    val rowsPerS = Stats.median(walls.toSeq.map(w => Rows.toDouble * nQueries / w))
    ctx.e2e("items_per_s") = rowsPerS
    // one operation: the four sketch queries grouped at 64 keys (query
    // latencies cluster by kind and key count, so a median over all of them
    // would jump between clusters)
    ctx.e2e("op_ms") = Stats.median(passes.map(_.at64 * 1e3).toSeq)
    println(f"[aggs] passes=${passes.length} queries/pass=$nQueries " +
      f"pass median=${Stats.median(walls.toSeq)}%.3f s walls=${walls.map(w => f"$w%.2f").mkString(",")}")

    ctx.counts = Some(s"hll_sum=${passes.head.hll.values.sum} " +
      s"bloom_bits=${passes.head.bloom.values.map(b =>
        Bloom.fromBytes(b).cardinalityBitsSet).sum}")
    println(s"[aggs] counts: ${ctx.counts.get}")
    val errs = check(ctx, ex, passes.head)
    val first = passes.head
    ctx.checks.check("aggs: HLL, count-min and Bloom results repeat exactly in every pass",
      passes.forall(p => p.hll == first.hll &&
        sameBytes(p.cms, first.cms) && sameBytes(p.bloom, first.bloom)))

    if (ctx.trace) {
      ctx.layer("sketch_rows_per_s") = rowsPerS
      Seq("hll", "cms", "kll_tdigest", "bloom").foreach { k =>
        ctx.layer(s"spark.${k}_s") = Stats.median(passes.map(_.seconds(k)).toSeq)
      }
      errs.foreach { case (k, v) => ctx.layer(s"spark.err_to_bound.$k") = v }
      ctx.drain()
      val tracedPasses = tr.spans.filter(_.name == "sketch")
      if (tracedPasses.nonEmpty)
        ctx.layer("spark.buffer_shuffle_mb") = Stats.median(
          tracedPasses.map(s => tr.engine(s, ctx.listener).shuffleMb))
    }
  }

  private def sameBytes(a: Map[(String, String), Array[Byte]],
      b: Map[(String, String), Array[Byte]]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) }

  /** Check one pass against the exact answers; returns observed error over
    * the published bound, per sketch. */
  private def check(ctx: Ctx, ex: Exact, p: Pass): Map[String, Double] = {
    val c = ctx.checks
    // HLL: relative error within 3 standard errors, 1.04/sqrt(m). That
    // bound holds per estimate with ~99.7% confidence, so on the ~2k-key
    // grouping the share of keys beyond it may be up to 0.27% (plus
    // binomial slack); on 8 and 64 keys every key must be within it.
    val hllBound = 3 * 1.04 / math.sqrt((1 << HllP).toDouble)
    val hllRel = p.hll.map { case (k, est) =>
      k -> math.abs(est - ex.total(k)).toDouble / math.max(1L, ex.total(k)) }
    val wide = hllRel.filter(_._1._1 == "k2k").values
    val wideOver = wide.count(_ > hllBound)
    val wideAllowed = 0.0027 * wide.size + 3 * math.sqrt(0.0027 * wide.size) + 1
    val hllErr = hllRel.values.max
    c.check("aggs: HLL relative error <= 3*1.04/sqrt(m) at its confidence",
      hllRel.forall { case ((g, _), e) => g == "k2k" || e <= hllBound } &&
        wideOver <= wideAllowed && p.hll.size == ex.total.size,
      f"max=$hllErr%.4f bound=$hllBound%.4f keys=${p.hll.size} " +
        f"beyond on ~2k keys=$wideOver allowed=$wideAllowed%.1f")

    // count-min: never under; over by more than eps*N on at most a delta share
    var cmsWorst = 0.0
    var under = 0
    var over = 0
    var keys = 0
    var delta = 0.0
    ex.freq.foreach { case (k, fr) =>
      val cm = CountMin.fromBytes(p.cms(k))
      val n = fr.values.sum
      delta = cm.delta
      fr.foreach { case (h, exactN) =>
        val e = cm.estimate(h)
        keys += 1
        if (e < exactN) under += 1
        val err = (e - exactN) / (cm.eps * n)
        if (err > 1) over += 1
        cmsWorst = math.max(cmsWorst, err)
      }
    }
    val allowedOver = delta * keys + 3 * math.sqrt(delta * keys) + 1
    c.check("aggs: count-min never under-counts and stays within eps*N at 1-delta",
      under == 0 && over <= allowedOver,
      f"under=$under over=$over allowed=$allowedOver%.1f items=$keys")

    // KLL and t-digest: rank error of each quantile within the bound
    def rankErr(sorted: Array[Double], q: Double, est: Double): Double = {
      val lo = java.util.Arrays.stream(sorted).filter(_ < est).count().toDouble / sorted.length
      val hi = java.util.Arrays.stream(sorted).filter(_ <= est).count().toDouble / sorted.length
      if (q < lo) lo - q else if (q > hi) q - hi else 0.0
    }
    var kllWorst = 0.0
    var tdWorst = 0.0
    p.quant.foreach { case (k, (kb, tb)) =>
      val vs = ex.values(k)
      val kll = Kll.fromBytes(kb)
      val td = TDigest.fromBytes(tb)
      val slack = 1.0 / vs.length
      Quantiles.foreach { q =>
        kllWorst = math.max(kllWorst,
          rankErr(vs, q, kll.quantile(q)) / (kll.rankErrorBound + slack))
        tdWorst = math.max(tdWorst,
          rankErr(vs, q, td.quantile(q)) / (TDigest.rankErrorBound(TdCompression) + slack))
      }
    }
    c.check("aggs: KLL rank error within bound on every key", kllWorst <= 1.0,
      f"worst error/bound=$kllWorst%.3f")
    c.check("aggs: t-digest rank error within bound on every key", tdWorst <= 1.0,
      f"worst error/bound=$tdWorst%.3f")

    // Bloom: no false negatives; each filter's set bits within 6 standard
    // deviations of the count its members give; false positives within
    // the planned rate, which holds for any filter at or below capacity.
    // The closed-form rate at a filter's own load (~2e-6 here) is not a
    // bound of the double-hashed filter: at that rate the realized one
    // reads about twice as high, so it is printed, not checked.
    val rnd = new scala.util.Random(ctx.seed)
    val trials = 20000
    var fn = 0L
    var fp = 0L
    var probes = 0L
    var idealFp = 0.0
    var worstZ = 0.0
    var overCapacity = 0
    ex.distinct.foreach { case (k, members) =>
      val bl = Bloom.fromBytes(p.bloom(k))
      fn += members.count(h => !bl.contains(h))
      val m = BloomBits.toDouble
      val a = BloomHashes * members.size / m
      val bits = m * -math.expm1(-a)
      val sd = math.sqrt(m * math.exp(-a) * (1 - (1 + a) * math.exp(-a)))
      worstZ = math.max(worstZ, math.abs(bl.cardinalityBitsSet - bits) / math.max(1.0, sd))
      if (members.size > BloomCapacity) overCapacity += 1
      val before = probes
      (0 until trials).foreach { _ =>
        val h = rnd.nextLong()
        if (!members(h)) {
          probes += 1
          if (bl.contains(h)) fp += 1
        }
      }
      idealFp += (probes - before) * Bloom.falsePositiveRate(BloomBits, BloomHashes, members.size.toLong)
    }
    val plannedFp = BloomFpr * probes
    c.check("aggs: Bloom has no false negatives and set bits as its members give",
      fn == 0 && worstZ <= 6 && overCapacity == 0,
      f"fn=$fn worst |set bits - expected|/sd=$worstZ%.2f over capacity=$overCapacity")
    c.check("aggs: Bloom false positives within the planned rate",
      fp <= plannedFp + 3 * math.sqrt(plannedFp) + 1,
      f"fp=$fp of $probes planned=$plannedFp%.0f closed form at load=$idealFp%.1f")

    Map("hll" -> hllErr / hllBound, "cms" -> cmsWorst, "kll" -> kllWorst,
      "tdigest" -> tdWorst)
  }
}
