package graft.classify

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * EM reassignment of multi-match reads (capability of ganon reassign,
 * src/ganon/reassign.py:8-224): initialize target probabilities from
 * unique-match counts, then iterate
 *   argmax-assign each multi-match read -> recount per target -> new probs
 * until the L1 prob change < threshold or maxIter (default 10,
 * src/ganon/config.py:770-776).
 *
 * Scale shape: the multi-match relation is grouped ONCE into one row per
 * read carrying its candidate array (bounded by matches-per-read), with
 * targets INTERNED to dense int ids in the same pass. Each EM iteration is
 * then a map-only argmax over those rows (probs broadcast as a flat
 * Array[Double] indexed by target id — 8 B/target instead of a boxed
 * string-keyed map, an array load instead of a hash probe per candidate)
 * followed by a per-target count that picks its shape by |targets|:
 * below 64k a plain groupBy+collect (map-side partial agg, trivial
 * collect, fastest at reference-test scale); above it a SHUFFLE-FREE
 * depth-2 treeAggregate of dense per-partition Array[Long]s, so the
 * driver merges a few pre-combined arrays instead of boxing |targets|
 * Rows per iteration (the 10^7-target ceiling the unconditional
 * groupBy+collect had). Nothing rescans or reshuffles the full match
 * relation inside the loop; at 10^7 targets the per-iteration broadcast
 * is ~80 MB, not the ~1 GB a string map would cost. Measured at 10^6
 * targets / 2x10^6 multi-match reads, local[8]: 3 EM iterations in
 * ~28 s wall including the one-time grouping pass (tools/EmScale).
 * Tie-break: the reference keeps the FIRST listed match (reassign.py:
 * 227-241 — np.argmax returns the first max index). When the input
 * carries Classify.allMatches' `match_order` column (the read's bin
 * order), ties resolve on it exactly; without it the stable fallback is
 * (score desc, target asc).
 */
object Em {

  /**
   * @param all the `.all` relation (read_id, target, kmer_count); read_ids
   *            with exactly one match get weight-1 priors
   * @return (read_id, target, kmer_count: Long) final assignment per read
   */
  def reassign(spark: SparkSession, all: DataFrame, maxIter: Int = 10,
      threshold: Double = 0.001): DataFrame = {
    // first-listed order: present when the caller fed allMatches output
    val ordCol =
      if (all.columns.contains("match_order")) col("match_order").cast("long")
      else lit(0L)
    val matches = all
      .select(col("read_id"), col("target"),
        col("kmer_count").cast("long").as("kmer_count"), ordCol.as("ord"))
      .persist()
    val nMatches = matches.groupBy("read_id")
      .agg(count(lit(1)).as("n_m"))
    val withN = matches.join(broadcast(nMatches.filter(col("n_m") === 1)),
      Seq("read_id"), "left")
    val uniques = withN.filter(col("n_m").isNotNull)
      .select("read_id", "target", "kmer_count")
    // intern targets to dense ints, SORTED so tid order == lexicographic
    // order (the tie-break below compares tids where it used to compare
    // target strings). |targets| rows collected once — loop-invariant.
    val allTargets = matches.select("target").distinct()
      .collect().map(_.getString(0)).sorted
    val n = allTargets.length
    val tIdxB = spark.sparkContext.broadcast(
      allTargets.iterator.zipWithIndex.toMap)
    val namesB = spark.sparkContext.broadcast(allTargets)

    // group each multi-match read's candidates ONCE into compact
    // primitive-array rows (read_id, tids, counts, orders), interning the
    // target in the same pass; the loop never touches strings again. The
    // loop only needs per-target COUNTS, so it scans these rows map-side
    // (no per-iteration encode, no groupBy exchange) and the full
    // (read_id, pick) assignment materializes exactly once after
    // convergence — with the same probs the final iteration used
    val intern = udf((t: String) => tIdxB.value(t))
    val compactRdd = withN.filter(col("n_m").isNull)
      .groupBy("read_id")
      .agg(collect_list(struct(intern(col("target")).as("tid"),
        col("kmer_count"), col("ord"))).as("ms"))
      .rdd.map { r =>
        val ms = r.getSeq[Row](1)
        val m = ms.length
        val ts = new Array[Int](m); val cs = new Array[Long](m)
        val os = new Array[Long](m)
        var i = 0
        while (i < m) {
          val e = ms(i)
          ts(i) = e.getInt(0); cs(i) = e.getLong(1); os(i) = e.getLong(2)
          i += 1
        }
        (r.get(0), ts, cs, os)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // init probs from unique counts (+1 smoothing so zero-unique targets
    // can still attract reads, as reassign.py's eps does)
    // unique-match counts are loop-invariant: collect once (|targets| rows)
    val uniqueCounts = new Array[Long](n)
    uniques.groupBy("target").agg(count(lit(1)).as("c"))
      .collect().foreach(r =>
        uniqueCounts(tIdxB.value(r.getString(0))) = r.getLong(1))
    def normalized(totals: Array[Double]): Array[Double] = {
      val z = totals.sum
      totals.map(_ / z)
    }
    var probs = normalized(uniqueCounts.map(_ + 1.0))

    // probs the most recent EXECUTED iteration assigned with — the final
    // materialized assignment must use these, not the post-update probs
    // (the initial probs when no iteration runs)
    var probsUsed = probs
    var iter = 0
    var diff = Double.MaxValue
    while (iter < maxIter && diff > threshold) {
      val pB = spark.sparkContext.broadcast(probs)
      probsUsed = probs
      // per-target counts of this iteration's argmax assignment, computed
      // DIRECTLY over the compact candidate rows: one map-side job per
      // iteration folding picks into a dense Array[Long] — no per-read
      // assignment row is encoded, shuffled or collected inside the loop
      // (the assignment itself is only needed ONCE, after convergence).
      // Two merge regimes, same answer:
      // - SMALL |targets| (< 64k): rdd.aggregate — the driver merges
      //   numPartitions dense arrays of n longs (tiny), one job, no
      //   shuffle stage at all.
      // - LARGE |targets|: treeAggregate depth 2, so the driver merges a
      //   handful of pre-combined arrays instead of one per partition
      //   (the 10^7-target shape; see tools/EmScale).
      val seqOp = (a0: Array[Long],
          row: (Any, Array[Int], Array[Long], Array[Long])) => {
        val a = if (a0 == null) new Array[Long](n) else a0
        val (_, ts, cs, os) = row
        val i = argmax(ts, cs, os, pB.value)
        if (i >= 0) a(ts(i)) += 1
        a
      }
      val combOp = (a: Array[Long], b: Array[Long]) =>
        if (a == null) b
        else if (b == null) a
        else {
          var i = 0
          while (i < n) { a(i) += b(i); i += 1 }
          a
        }
      val agg =
        if (n < 65536) compactRdd.aggregate(null: Array[Long])(seqOp, combOp)
        else compactRdd.treeAggregate(null: Array[Long])(seqOp, combOp,
          depth = 2)
      val counts = if (agg == null) new Array[Long](n) else agg
      pB.destroy()
      val newProbs = normalized(Array.tabulate(n)(t =>
        counts(t) + uniqueCounts(t) + 1.0))
      // L1 distance between consecutive normalized prob vectors — one pass
      diff = {
        var s = 0.0; var t = 0
        while (t < n) { s += math.abs(newProbs(t) - probs(t)); t += 1 }
        s
      }
      probs = newProbs
      iter += 1
    }
    // materialize the assignment ONCE, with the probs the last executed
    // iteration used — identical rows to materializing every iteration —
    // restoring string targets on the way out (one lookup per ASSIGNED
    // read, not per candidate)
    val liveB = spark.sparkContext.broadcast(probsUsed)
    val picks = compactRdd.flatMap { case (id, ts, cs, os) =>
      val i = argmax(ts, cs, os, liveB.value)
      if (i < 0) None else Some(Row(id, namesB.value(ts(i)), cs(i)))
    }
    val schema = StructType(Seq(matches.schema("read_id"),
      StructField("target", StringType), StructField("kmer_count", LongType)))
    // sever the broadcast dependencies before destroying them (otherwise
    // one prob-array broadcast leaks per reassign() call on a long-lived
    // session): eager localCheckpoint materializes the assignment, so no
    // recompute can ever dereference a destroyed value; `uniques` never
    // referenced them
    val assigned = spark.createDataFrame(picks, schema).localCheckpoint(true)
    liveB.destroy()
    val result = uniques.unionByName(assigned)
    compactRdd.unpersist(); matches.unpersist()
    tIdxB.destroy(); namesB.destroy()
    result
  }

  /** The read's EM pick: index of the candidate maximizing
    * count × p(target), ties by first-listed order, then tid asc (== target
    * asc by the sorted interning); -1 for no candidate. */
  private def argmax(ts: Array[Int], cs: Array[Long], os: Array[Long],
      p: Array[Double]): Int = {
    var bi = -1; var bt = -1; var bs = -1.0; var bo = Long.MaxValue
    var i = 0
    while (i < ts.length) {
      val t = ts(i); val o = os(i)
      val s = cs(i) * p(t)
      val better = s > bs || (s == bs &&
        (o < bo || (o == bo && (bt < 0 || t < bt))))
      if (better) { bi = i; bs = s; bt = t; bo = o }
      i += 1
    }
    bi
  }

  /** EM `.one` plus the rewritten `.rep` (reference reassign.py:180-224:
    * after EM the report's lca column becomes reassigned − unique). Returns
    * (one, rep) where rep = (target, unique_reads, lca_reads, matches):
    * unique_reads from single-match reads, lca_reads = EM-reassigned multis,
    * matches = total `.all` rows per target. */
  def reassignWithRep(spark: SparkSession, all: DataFrame, maxIter: Int = 10,
      threshold: Double = 0.001): (DataFrame, DataFrame) = {
    val one = reassign(spark, all, maxIter, threshold).persist()
    val nM = all.groupBy("read_id").agg(count(lit(1)).as("n_m"))
    val uniqueReads = all.join(broadcast(nM.filter(col("n_m") === 1)), Seq("read_id"))
      .groupBy("target").agg(count(lit(1)).as("unique_reads"))
    val assignedAll = one.groupBy("target").agg(count(lit(1)).as("assigned"))
    val matches = all.groupBy("target").agg(count(lit(1)).as("matches"))
    val rep = matches
      .join(assignedAll, Seq("target"), "left")
      .join(uniqueReads, Seq("target"), "left")
      .na.fill(0L, Seq("assigned", "unique_reads"))
      .withColumn("lca_reads", col("assigned") - col("unique_reads"))
      .select("target", "unique_reads", "lca_reads", "matches")
    (one, rep)
  }
}
