package graft.classify

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder,
  GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import graft.build.{IbfParams, ProbeDb}
import graft.core.{Lca, MathFns}
import graft.spark.{GraftFunctions, ShinglesExpr}

/** Per-read thresholds — same semantics & defaults as the reference
  * (rel-cutoff GanonClassify.cpp:492-495/:718-724, rel-filter :756-762,
  * fpr-query :497-501, counter clamp :45-49/:674, defaults
  * src/ganon/config.py:597-613). */
final case class ClassifyParams(
    relCutoff: Double = 0.25,
    relFilter: Double = 1.0,    // 1.0 = keep all surviving matches
    fprQuery: Double = 1e-5,
    maxHashesPerRead: Int = 65535, // uint16 counter-overflow skip semantics
    minLen: Int = 0)

final case class MatchRow(target: String, count: Int)

/** One read's classification result: the `.all` matches plus the resolved
  * `.one` assignment (unique target or LCA node) and the per-read discard
  * counters feeding the `.sta` report (GanonClassify.cpp:153-181 Rep). */
final case class ReadResult(
    read_id: String,
    n_hashes: Int,
    matches: Array[MatchRow],
    assignment: String,  // null if unclassified
    unique: Boolean,
    skipped: Boolean,
    discarded_filter: Int = 0,  // matches dropped by rel-filter
    discarded_fpr: Int = 0)     // matches dropped by fpr-query

/**
 * The classify query: broadcast-probe of every read's shingle set against
 * the interleaved Bloom sketch — Spark shape of ganon-classify's per-read
 * loop (src/ganon-classify/GanonClassify.cpp:630-832). The probe is
 * map-side-only against the broadcast db; because all of a read's matches
 * materialize inside one task, rel-filter / fpr-query / unique-vs-LCA
 * resolution run per-row with ZERO shuffles — the first exchange in the
 * whole classify plan is the report aggregation.
 */
object Classify {

  /**
   * Classify `reads` (columns idCol, contentCol) against `db`.
   * Returns the per-read results dataset (one row per read).
   */
  def classify(spark: SparkSession, reads: DataFrame, idCol: String,
      contentCol: String, db: ProbeDb, cp: ClassifyParams = ClassifyParams(),
      lcaOpt: Option[Lca] = None): Dataset[ReadResult] =
    classifyB(spark, reads, idCol, contentCol, spark.sparkContext.broadcast(db),
      cp, lcaOpt)

  /** [[classify]] over a CALLER-OWNED broadcast. Repeated calls with the
    * SAME broadcast (e.g. every micro-batch of a stream) reuse the one
    * deserialized db instance per executor, so a lazy handle's shard cache
    * survives across batches — re-broadcasting per batch would re-fetch
    * every touched shard each time. The caller manages the broadcast's
    * lifetime (destroy it when rotating to a new store generation). */
  def classifyB(spark: SparkSession, reads: DataFrame, idCol: String,
      contentCol: String, dbB: Broadcast[ProbeDb],
      cp: ClassifyParams = ClassifyParams(),
      lcaOpt: Option[Lca] = None): Dataset[ReadResult] =
    classifyReads(spark, reads, idCol, contentCol, None, dbB, cp, lcaOpt)

  /**
   * Paired-read classify (GanonClassify.cpp:695-700; reference test
   * GanonClassify.test.cpp:319-336): both mates hash independently, the
   * read's minimizer set is the distinct UNION, and every threshold
   * (rel-cutoff n_hashes, counter-overflow skip) applies to that union.
   * `len` is the combined byte length: a pair too short for any shingle
   * falls through to the n_hashes == 0 skip, matching the reference's
   * per-mate window rule.
   */
  def classifyPaired(spark: SparkSession, reads: DataFrame, idCol: String,
      content1Col: String, content2Col: String, db: ProbeDb,
      cp: ClassifyParams = ClassifyParams(),
      lcaOpt: Option[Lca] = None): Dataset[ReadResult] =
    classifyReads(spark, reads, idCol, content1Col, Some(content2Col),
      spark.sparkContext.broadcast(db), cp, lcaOpt)

  private def classifyReads(spark: SparkSession, reads: DataFrame,
      idCol: String, contentCol: String, content2Col: Option[String],
      dbB: Broadcast[ProbeDb], cp: ClassifyParams,
      lcaOpt: Option[Lca]): Dataset[ReadResult] = {
    import spark.implicits._
    probeStage(spark,
      readProjection(reads, idCol, contentCol, content2Col, dbB.value.params)
        .as[(String, Int, Array[Long])], dbB, cp, lcaOpt) {
      case ((id, len, hs), one) => one(id, len, hs)
    }
  }

  /** `allMatches(classifyB(...))` as one pass over InternalRows, for the
    * per-micro-batch live-store path: the shingle projection's rows go
    * straight through the partition classifier into `.all` rows, with no
    * `ReadResult` serializer, `posexplode` or second row pass to analyze
    * and plan per batch. Same rows and schema as the Dataset path;
    * `executed` gains 1 per executed partition. */
  private[graft] def allMatchesB(reads: DataFrame, idCol: String,
      contentCol: String, dbB: Broadcast[ProbeDb], cp: ClassifyParams,
      executed: LongAccumulator): DataFrame = {
    val rows = readProjection(reads, idCol, contentCol, None,
      dbB.value.params).queryExecution.toRdd
    val out = rows.mapPartitions { iter =>
      executed.add(1L)
      val one = partitionClassifier(dbB, cp, None)
      iter.flatMap { r =>
        // toRdd reuses its row buffers: copy the id before it outlives r.
        // It rides beside the result, of which only the matches are read
        val id = if (r.isNullAt(0)) null else r.getUTF8String(0).clone()
        val ms = one(null, r.getInt(1), r.getArray(2).toLongArray()).matches
        Iterator.tabulate(ms.length) { i =>
          InternalRow(id, UTF8String.fromString(ms(i).target), ms(i).count, i)
        }
      }
    }
    GraftColumnBridge.internalCreateDataFrame(reads.sparkSession, out,
      allMatchesSchema)
  }

  /** Schema of [[allMatches]]. */
  private val allMatchesSchema = StructType(Seq(
    StructField("read_id", StringType),
    StructField("target", StringType),
    StructField("kmer_count", IntegerType),
    StructField("match_order", IntegerType, nullable = false)))

  /** The one read projection: `lead` columns, then (read_id, len, hs). The
    * shingles run inside whole-stage codegen (native expression), so the
    * probe receives primitive long[] — no boxing anywhere. With a mate
    * column `hs` is the mates' distinct union and `len` their combined
    * byte length; a null mate degrades to single-end. The params come
    * from the db being probed (a broadcast's driver-local value — no
    * fetch), so they can never drift from it. */
  private def readProjection(reads: DataFrame, idCol: String,
      contentCol: String, content2Col: Option[String], p: IbfParams,
      lead: Column*): DataFrame = {
    def content(c: String) = coalesce(col(c), lit(""))
    def len(c: String) = coalesce(octet_length(col(c)), lit(0))
    val (lenCol, hsCol) = content2Col match {
      case None => (len(contentCol),
        ShinglesExpr.col(content(contentCol), p.k, p.w, p.seed))
      case Some(c2) => (len(contentCol) + len(c2),
        GraftFunctions.pairedShingles(content(contentCol), content(c2),
          p.k, p.w, p.seed))
    }
    reads.select(lead ++ Seq(col(idCol).cast("string").as("read_id"),
      lenCol.as("len"), hsCol.as("hs")): _*)
  }

  /** The one probe stage: a map-only pass over the projected rows against
    * the broadcast db, counts scratch allocated once per partition. `emit`
    * turns a row and the partition's classifier into an output row.
    * This is the only place the LCA is broadcast, and only when there is
    * one: every streaming live-store batch (and most batch calls) has
    * none, and a per-call broadcast of None would leak one handle per
    * micro-batch on a long-lived stream, since the result is lazy and the
    * broadcast can only be destroyed when the result is dead. With an
    * LCA the broadcast is real (Euler/RMQ arrays) and lives as long as
    * the returned Dataset — one per classify call, not per batch, because
    * the cascade paths reuse the level's Dataset. */
  private def probeStage[I, O: Encoder](spark: SparkSession, rows: Dataset[I],
      dbB: Broadcast[ProbeDb], cp: ClassifyParams, lcaOpt: Option[Lca])(
      emit: (I, (String, Int, Array[Long]) => ReadResult) => O): Dataset[O] = {
    val lcaB = lcaOpt.map(spark.sparkContext.broadcast(_))
    rows.mapPartitions { iter =>
      val one = partitionClassifier(dbB, cp, lcaB)
      iter.map(emit(_, one))
    }
  }

  /** One partition's classifier: the broadcast values and a `counts`
    * scratch fetched and allocated once, shared by every read of the
    * partition. Every probe emitter goes through it. */
  private def partitionClassifier(dbB: Broadcast[ProbeDb], cp: ClassifyParams,
      lcaB: Option[Broadcast[Lca]]): (String, Int, Array[Long]) => ReadResult = {
    val d = dbB.value
    val lca = lcaB.map(_.value)
    val counts = new Array[Int](d.targets.length)
    (id, len, hs) => classifyOne(id, len, hs, d, cp, lca, counts)
  }

  private[classify] def classifyOne(id: String, contentLen: Int,
      hs: Array[Long], d: ProbeDb, cp: ClassifyParams, lca: Option[Lca],
      counts: Array[Int]): ReadResult = {
    if (contentLen < math.max(cp.minLen, d.params.w))
      return ReadResult(id, 0, Array.empty, null, unique = false, skipped = true)
    val n = hs.length
    if (n == 0 || n > cp.maxHashesPerRead) // counter-overflow skip (uint16 rule)
      return ReadResult(id, n, Array.empty, null, unique = false, skipped = true)

    // rel-cutoff: count >= max(1, ceil(n * relCutoff)) — known BEFORE the
    // probe, so two-level layouts can prune whole shards with it
    val cutoff = math.max(1, math.ceil(n * cp.relCutoff).toInt)
    java.util.Arrays.fill(counts, 0)
    d.probe(hs, counts, cutoff)
    var maxC = 0; var minC = Int.MaxValue; var nSurv = 0
    var b = 0
    while (b < counts.length) {
      var c = counts(b)
      if (c > n) { c = n; counts(b) = n } // split-bin style clamp at n_hashes
      if (c >= cutoff) {
        nSurv += 1
        if (c > maxC) maxC = c
        if (c < minC) minC = c
      } else counts(b) = 0
      b += 1
    }
    if (nSurv == 0)
      return ReadResult(id, n, Array.empty, null, unique = false, skipped = false)

    // rel-filter: keep count >= maxC - ceil((maxC - minC) * relFilter)
    val relThresh = maxC - math.ceil((maxC - minC) * cp.relFilter).toInt
    // nSurv bounds the survivors — exact-size scratch, no growable buffer
    val out = new Array[MatchRow](nSurv)
    var nOut = 0
    var disFilter = 0
    var disFpr = 0
    val fprLogs = d.binFprLogs
    b = 0
    while (b < counts.length) {
      val c = counts(b)
      if (c > 0) {
        if (c >= relThresh) {
          // fpr-query: discard if P(Binom(n, p_bin) > c) > fprQuery — the
          // reference computes q = 1 - sum_{i<=c} (GanonClassify.cpp:589-600),
          // so a full-containment match (c == n) always survives (q = 0)
          if (MathFns.binomTailAtMost(n.toLong, c + 1L, d.binFpr(b),
              fprLogs(2 * b), fprLogs(2 * b + 1), cp.fprQuery)) {
            out(nOut) = MatchRow(d.targets(b), c); nOut += 1
          }
          else disFpr += 1
        } else disFilter += 1
      }
      b += 1
    }
    if (nOut == 0)
      return ReadResult(id, n, Array.empty, null, unique = false,
        skipped = false, disFilter, disFpr)
    val matches = if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut)
    if (matches.length == 1)
      ReadResult(id, n, matches, matches(0).target, unique = true,
        skipped = false, disFilter, disFpr)
    else {
      val node = lca match {
        case Some(t) => t.lcaAll(matches.map(_.target).toSeq)
        case None =>
          // manual argmax by (count, target) — maxBy allocates a tuple
          // per element on the per-read hot path
          var best = matches(0)
          var i = 1
          while (i < matches.length) {
            val m = matches(i)
            if (m.count > best.count ||
              (m.count == best.count && m.target > best.target)) best = m
            i += 1
          }
          best.target
      }
      ReadResult(id, n, matches, node, unique = false, skipped = false,
        disFilter, disFpr)
    }
  }

  /** `.all` relation: (read_id, target, kmer_count, match_order) —
    * GanonClassify.cpp:1289-1306. `match_order` is the position of the
    * match in the read's match list (the reference's bin order), carried
    * so EM can reproduce the FIRST-LISTED tie-break (reassign.py:227-241)
    * instead of inventing an order Spark rows don't have. */
  def allMatches(results: Dataset[ReadResult]): DataFrame = {
    results.toDF()
      .select(col("read_id"), posexplode(col("matches")).as(Seq("ord", "m")))
      .select(col("read_id"), col("m.target").as("target"),
        col("m.count").as("kmer_count"), col("ord").as("match_order"))
  }

  /** `.one` relation: the resolved per-read assignment. */
  def oneAssignments(results: Dataset[ReadResult]): DataFrame = {
    results.toDF()
      .filter(col("assignment").isNotNull)
      .select(col("read_id"), col("assignment").as("target"),
        col("unique"), col("n_hashes"))
  }

  /** `.rep` analog: per-target report (matches, unique reads, lca reads) —
    * GanonClassify.cpp:834-863. One shuffle (the groupBy). */
  def report(results: Dataset[ReadResult]): DataFrame = {
    val spark = results.sparkSession
    val all = allMatches(results)
      .groupBy("target").agg(count(lit(1)).as("matches"))
    val one = oneAssignments(results)
      .groupBy("target").agg(
        sum(when(col("unique"), 1L).otherwise(0L)).as("unique_reads"),
        sum(when(col("unique"), 0L).otherwise(1L)).as("lca_reads"))
    all.join(one, Seq("target"), "full_outer").na.fill(0L,
      Seq("matches", "unique_reads", "lca_reads"))
  }

  /** Unclassified reads (`.unc` analog) — anti-join shape. */
  def unclassified(results: Dataset[ReadResult]): DataFrame =
    results.toDF().filter(col("assignment").isNull && !col("skipped"))
      .select("read_id")

  /** `.sta` analog (GanonClassify.cpp:1130-1218): one-row run statistics.
    * Single aggregation over the per-read results — no extra pass. */
  def stats(results: Dataset[ReadResult]): DataFrame = {
    results.toDF().agg(
      count(lit(1)).as("seqs_processed"),
      zsum(when(col("assignment").isNotNull, 1L).otherwise(0L)).as("seqs_classified"),
      zsum(when(col("unique"), 1L).otherwise(0L)).as("seqs_unique"),
      zsum(when(col("assignment").isNotNull && !col("unique"), 1L).otherwise(0L))
        .as("seqs_multi"),
      zsum(when(col("skipped"), 1L).otherwise(0L)).as("seqs_skipped"),
      coalesce(sum(size(col("matches"))).cast("long"), lit(0L)).as("total_matches"),
      zsum(col("n_hashes").cast("long")).as("total_hashes"),
      coalesce(round(avg(size(col("matches"))), 4), lit(0.0)).as("avg_matches_per_seq"))
  }

  // sums over ZERO rows are SQL null — coalesce to 0 so an empty input
  // yields the reference's all-zero .sta row, not nulls (:1199 writes 0s)
  private def zsum(c: org.apache.spark.sql.Column) = coalesce(sum(c), lit(0L))

  /** The nine .sta aggregates, shared by the single-run and per-sample
    * variants. */
  private def staAggCols: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("seq_processed"),
    zsum(when(col("assignment").isNotNull, 1L).otherwise(0L)).as("seq_classified"),
    zsum(when(col("unique"), 1L).otherwise(0L)).as("seq_unique_matches"),
    coalesce(sum(size(col("matches"))).cast("long"), lit(0L)).as("matches"),
    zsum(col("discarded_filter").cast("long")).as("dis_matches_rel_filter"),
    zsum(col("discarded_fpr").cast("long")).as("dis_matches_fpr_query"),
    zsum(col("n_hashes").cast("long")).as("kmers_proccessed"),
    zsum(when(col("assignment").isNotNull, col("n_hashes").cast("long"))
      .otherwise(0L)).as("kmers_from_classified_seqs"),
    zsum(aggregate(col("matches"), lit(0L),
      (acc, m) => acc + m.getField("count"))).as("kmers_matched"))

  /** Full 18-column `.sta` row (GanonClassify.cpp:1130-1218
    * write_stats_db/write_stats): per (prefix, hierarchy_label) statistics
    * with the reference's exact column names and percentage semantics.
    * One aggregation pass. */
  def staReport(results: Dataset[ReadResult], prefix: String = "sample",
      hierarchyLabel: String = "1"): DataFrame =
    staProject(results.toDF().agg(staAggCols.head, staAggCols.tail: _*),
      lit(prefix), hierarchyLabel)

  private def staProject(agg: DataFrame,
      prefixCol: org.apache.spark.sql.Column,
      hierarchyLabel: String): DataFrame = {
    // seq_processed floored at 1 "to not report nan on divisions" (:1199)
    val sp = greatest(col("seq_processed").cast("double"), lit(1.0))
    agg.select(
      prefixCol.as("prefix"),
      lit(hierarchyLabel).as("hierarchy_label"),
      col("seq_processed"),
      (col("seq_processed") - col("seq_classified")).as("seq_unclassified"),
      col("seq_classified"),
      round(col("seq_classified") / sp * 100, 6).as("seq_classified_perc"),
      col("seq_unique_matches"),
      round(col("seq_unique_matches") / sp * 100, 6).as("seq_unique_matches_perc"),
      (col("seq_classified") - col("seq_unique_matches")).as("seq_multiple_matches"),
      round((col("seq_classified") - col("seq_unique_matches")) / sp * 100, 6)
        .as("seq_multiple_matches_perc"),
      col("matches"),
      round(when(col("seq_classified") > 0,
        col("matches") / col("seq_classified").cast("double")).otherwise(0.0), 6)
        .as("avg_matches_ref_seq"),
      col("dis_matches_rel_filter"),
      col("dis_matches_fpr_query"),
      col("kmers_proccessed"),
      col("kmers_matched"),
      col("kmers_from_classified_seqs"),
      round(when(col("kmers_matched") > 0,
        col("kmers_matched") / col("kmers_from_classified_seqs").cast("double")
          * 100).otherwise(0.0), 6).as("kmers_matched_perc"))
  }

  /**
   * Multi-sample classify — the reference's batch-manifest run
   * (GanonClassify.cpp:289-351; per-prefix outputs :834-863): `reads`
   * carries a sample column (e.g. from Formats.readBatchManifest's
   * `sample`) that rides through the per-read probe, so ONE job classifies
   * every sample instead of re-running per prefix. Returns the per-read
   * results with `sample` as the leading column; feed [[reportBySample]] /
   * [[staBySample]] for the per-prefix `.rep`/`.sta`.
   */
  /** @param content2Col optional paired mate column: when set, each read
    *        hashes to the mates' distinct UNION (classifyPaired semantics);
    *        rows with a null mate degrade to single-end. */
  def classifyBySample(spark: SparkSession, reads: DataFrame,
      sampleCol: String, idCol: String, contentCol: String, db: ProbeDb,
      cp: ClassifyParams = ClassifyParams(),
      lcaOpt: Option[Lca] = None,
      content2Col: Option[String] = None): DataFrame = {
    import spark.implicits._
    probeStage(spark,
      readProjection(reads, idCol, contentCol, content2Col, db.params,
        col(sampleCol).cast("string").as("sample"))
        .as[(String, String, Int, Array[Long])],
      spark.sparkContext.broadcast(db), cp, lcaOpt) {
      case ((sample, id, len, hs), one) => (sample, one(id, len, hs))
    }.toDF("sample", "r")
      .select(col("sample"), col("r.*"))
  }

  /** Per-sample `.rep`: (sample, target, matches, unique_reads, lca_reads)
    * — the reference's per-prefix report rows in one aggregation
    * (GanonClassify.cpp:834-863). */
  def reportBySample(results: DataFrame): DataFrame = {
    val all = results
      .select(col("sample"), explode(col("matches")).as("m"))
      .groupBy(col("sample"), col("m.target").as("target"))
      .agg(count(lit(1)).as("matches"))
    val one = results.filter(col("assignment").isNotNull)
      .groupBy(col("sample"), col("assignment").as("target"))
      .agg(
        sum(when(col("unique"), 1L).otherwise(0L)).as("unique_reads"),
        sum(when(col("unique"), 0L).otherwise(1L)).as("lca_reads"))
    all.join(one, Seq("sample", "target"), "full_outer")
      .na.fill(0L, Seq("matches", "unique_reads", "lca_reads"))
  }

  /** Per-sample 18-column `.sta` (prefix = the sample value), one
    * aggregation over all samples. */
  def staBySample(results: DataFrame, hierarchyLabel: String = "1"): DataFrame =
    staProject(
      results.groupBy(col("sample").as("prefix_key"))
        .agg(staAggCols.head, staAggCols.tail: _*),
      col("prefix_key"), hierarchyLabel)
      .drop("prefix_key")

  /**
   * Multi-filter level (GanonClassify.cpp:528-539): probe SEVERAL dbs in
   * one hierarchy level; a target matched by more than one filter keeps its
   * MAX count. All dbs must share shingling params. The level is one
   * broadcast [[MergedProbeDb]] through the same probe stage as
   * [[classify]] — still zero shuffles.
   */
  /**
   * @param perFilterCutoff optional per-db rel-cutoff overrides (the
   *        reference allows a different cutoff per filter within one
   *        hierarchy level, GanonClassify.cpp:353-401); empty = every
   *        filter uses cp.relCutoff. rel-filter and fpr-query stay
   *        level-wide, applied after the max-count merge.
   */
  def classifyMultiFilter(spark: SparkSession, reads: DataFrame, idCol: String,
      contentCol: String, dbs: Seq[ProbeDb],
      cp: ClassifyParams = ClassifyParams(),
      lcaOpt: Option[Lca] = None,
      perFilterCutoff: Seq[Double] = Nil): Dataset[ReadResult] = {
    require(dbs.nonEmpty)
    require(dbs.forall(d => d.params.k == dbs.head.params.k &&
      d.params.w == dbs.head.params.w && d.params.seed == dbs.head.params.seed),
      "multi-filter dbs must share shingling params")
    require(perFilterCutoff.isEmpty || perFilterCutoff.length == dbs.length,
      "one cutoff per filter")
    val rels =
      if (perFilterCutoff.isEmpty) Array.fill(dbs.length)(cp.relCutoff)
      else perFilterCutoff.toArray
    // the merged pass re-checks at the LOOSEST cutoff; per-filter strictness
    // is enforced inside the merged probe before the max-count merge
    val cpEff = cp.copy(relCutoff = rels.min)
    classifyB(spark, reads, idCol, contentCol,
      spark.sparkContext.broadcast(new MergedProbeDb(dbs.toArray, rels)),
      cpEff, lcaOpt)
  }

  /** View over several dbs: union of targets; per-target count = MAX across
    * member filters, each filter's matches pre-thresholded at ITS
    * rel-cutoff (first filter wins the tax entry on collisions, like
    * the reference's ordered merge). */
  private[classify] final class MergedProbeDb(dbs: Array[ProbeDb],
      rels: Array[Double]) extends ProbeDb {
    val targets: Array[String] = {
      val seen = new scala.collection.mutable.LinkedHashSet[String]
      dbs.foreach(_.targets.foreach(seen += _))
      seen.toArray
    }
    private val idx: Map[String, Int] = targets.zipWithIndex.toMap
    // per-db local target index -> merged index, precomputed once (on the
    // driver, then broadcast) so probe never hashes strings
    private val globalOf: Array[Array[Int]] =
      dbs.map(d => d.targets.map(idx))
    val targetHashes: Array[Long] = {
      val out = new Array[Long](targets.length)
      dbs.reverse.foreach { d => // first db wins -> apply in reverse
        d.targets.indices.foreach(i => out(idx(d.targets(i))) = d.targetHashes(i))
      }
      out
    }
    // per-merged-target max FPR across member filters (conservative),
    // precomputed so fpr-query reads a scalar per surviving match
    private val fprOf: Array[Double] = {
      val out = new Array[Double](targets.length)
      dbs.indices.foreach { di =>
        val d = dbs(di)
        d.targets.indices.foreach { i =>
          val g = globalOf(di)(i)
          out(g) = math.max(out(g), d.binFpr(i))
        }
      }
      out
    }
    // one broadcast instance serves every task on an executor, so the
    // scratch buffer (sized for the largest member filter) is per thread
    @transient private lazy val scratch: ThreadLocal[Array[Int]] = {
      val n = dbs.iterator.map(_.targets.length).max
      ThreadLocal.withInitial(() => new Array[Int](n))
    }
    def params: graft.build.IbfParams = dbs.head.params
    def plan: graft.build.IbfPlan = dbs.head.plan
    def binFpr(bin: Int): Double = fprOf(bin)
    def probe(hashes: Array[Long], counts: Array[Int], cutoff: Int): Unit = {
      var di = 0
      while (di < dbs.length) {
        val d = dbs(di)
        val g = globalOf(di)
        val nLocal = d.targets.length
        val dCut = math.max(cutoff,
          math.max(1, math.ceil(hashes.length * rels(di)).toInt))
        val local = scratch.get()
        java.util.Arrays.fill(local, 0, nLocal, 0)
        d.probe(hashes, local, dCut)
        var i = 0
        while (i < nLocal) {
          // per-filter cutoff applies BEFORE the max-count merge
          if (local(i) >= dCut && local(i) > counts(g(i)))
            counts(g(i)) = local(i)
          i += 1
        }
        di += 1
      }
    }
    def sizeBytes: Long = dbs.map(_.sizeBytes).sum
  }

  /** Attach the .sta counters as OBSERVED metrics (zero extra pass —
    * collected piggyback on whatever action the caller runs; the Spark
    * analog of the reference's thread-summed Total counters,
    * GanonClassify.cpp:197-247). Returns (instrumented DF, observation). */
  def observed(results: Dataset[ReadResult])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    // coalesce: sums over zero rows are SQL null (same guard as stats())
    val df = results.toDF().observe(obs,
      count(lit(1)).as("seqs_processed"),
      coalesce(sum(when(col("assignment").isNotNull, 1L).otherwise(0L)),
        lit(0L)).as("seqs_classified"),
      coalesce(sum(when(col("skipped"), 1L).otherwise(0L)), lit(0L))
        .as("seqs_skipped"),
      coalesce(sum(size(col("matches"))).cast("long"), lit(0L))
        .as("total_matches"))
    (df, obs)
  }

  /**
   * Hierarchy cascade (GanonClassify.cpp:811-831): classify against each
   * level's db in order; reads unresolved at level i feed level i+1.
   * Expressed as an iterative filter on the per-read result dataset —
   * no anti-join shuffle needed because assignment status is row-local.
   *
   * The RETURNED DataFrame is persisted (it must be materialized before
   * the per-level caches it derives from are released); call
   * `.unpersist()` on it when done to free the storage.
   */
  def cascade(spark: SparkSession, reads: DataFrame, idCol: String,
      contentCol: String, levels: Seq[(String, ProbeDb)],
      cp: ClassifyParams = ClassifyParams(),
      lcaOpt: Option[Lca] = None): DataFrame =
    cascadePerLevel(spark, reads, idCol, contentCol,
      levels.map { case (label, db) => (label, db, cp) }, lcaOpt)

  /** Cascade with PER-LEVEL ClassifyParams — the reference allows each
    * hierarchy label its own rel-cutoff / rel-filter / fpr-query
    * (GanonClassify.cpp:353-401 parse_hierarchy). One shared taxonomy/LCA
    * across levels; see [[cascadePerLevelTax]] for per-level taxonomies. */
  def cascadePerLevel(spark: SparkSession, reads: DataFrame, idCol: String,
      contentCol: String, levels: Seq[(String, ProbeDb, ClassifyParams)],
      lcaOpt: Option[Lca] = None): DataFrame =
    cascadePerLevelTax(spark, reads, idCol, contentCol,
      levels.map { case (label, db, cp) => (label, db, cp, lcaOpt) })

  /** Cascade with PER-LEVEL params AND per-level taxonomy/LCA — the
    * reference loads each hierarchy level's own filter-specific tax and
    * builds its LCA per level (GanonClassify.cpp:1470-1515): a level over
    * assembly bins resolves multi-matches against the assembly taxonomy
    * while a later lang-level runs max-count or its own tree. A level's
    * `None` falls back to the max-count tie-break. */
  def cascadePerLevelTax(spark: SparkSession, reads: DataFrame, idCol: String,
      contentCol: String,
      levels: Seq[(String, ProbeDb, ClassifyParams, Option[Lca])]): DataFrame = {
    var remaining = reads
    var acc: Option[DataFrame] = None
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    levels.foreach { case (label, db, cp, lcaOpt) =>
      val res = classify(spark, remaining, idCol, contentCol, db, cp, lcaOpt)
        .toDF().persist()
      cached += res
      val classified = res.filter(col("assignment").isNotNull)
        .withColumn("hierarchy", lit(label))
      acc = Some(acc.map(_.unionByName(classified)).getOrElse(classified))
      val rest = res.filter(col("assignment").isNull).select("read_id")
      remaining = remaining.join(rest,
        remaining(idCol).cast("string") === rest("read_id"), "left_semi")
    }
    // materialize before releasing the per-level caches (they fed the
    // cascade's anti-join chain; leaking them would pin executor memory)
    val out = acc.getOrElse(spark.emptyDataFrame).persist()
    out.count()
    cached.foreach(_.unpersist())
    out
  }
}
