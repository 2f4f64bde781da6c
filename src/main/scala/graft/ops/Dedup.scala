package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.MinHash
import graft.spark.GraftFunctions

/**
 * Deduplication operators for the training-data pipeline layer.
 *
 * Scale design: exact dedup is a hash-groupBy on a 256-bit content digest
 * (shuffle on the digest, never on the content). MinHash near-dup is the
 * shingle->signature->band->bucket-join pipeline: candidate generation
 * shuffles only (band_key, doc_id), pairs are verified with exact Jaccard
 * inside the bucket join — no all-pairs product ever forms. Mega-buckets
 * (skew) are capped with the truncation count observable via accumulator;
 * overflow members of saturated buckets are near-identical and covered by
 * exact dedup (signature-prefix salting would bound buckets too, but it
 * zeroes recall for pairs whose signatures differ).
 */
object Dedup {

  /** Exact duplicate groups by content digest. Returns one row per
    * duplicate-set member with its canonical (min) id. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("id"),
      sha2(col(contentCol), 256).as("digest"))
    val groups = keyed.groupBy("digest")
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("dup_count"))
    keyed.join(groups, Seq("digest"))
      .select(col("id"), col("canonical_id"), col("dup_count"))
  }

  /**
   * MinHash + banded LSH near-duplicate pairs over a hash-set column,
   * verified with exact Jaccard. Detection probability for a pair at
   * Jaccard J is 1-(1-J^r)^b (r rows/band, b bands); J == 1 pairs are
   * found with probability 1 (identical signatures).
   *
   * @param hashSets (id: Long, hs: Array[Long]) — sorted-distinct sets
   * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold
   */
  def minhashPairs(spark: SparkSession, hashSets: DataFrame, numPerms: Int,
      bands: Int, threshold: Double, maxBucket: Int = 10000,
      oph: Boolean = true): DataFrame = {
    val sigCol =
      if (oph) GraftFunctions.minhashSignature(col("hs"), numPerms)
      else GraftFunctions.minhashSignatureKPerm(col("hs"), numPerms)
    val keyed =
      if (threshold >= 1.0)
        // DEGENERATE banding at threshold 1.0: J = 1 requires identical
        // hash sets, and identical sets carry identical FULL signatures —
        // so one bucket per whole signature (b = 1, r = numPerms) has the
        // same found-with-probability-1 guarantee as any banding, with
        // none of the J < 1 candidates a per-band bucket admits (those
        // could never pass the >= 1.0 verify; measured 4.2M -> ~10^3
        // candidate pairs on the sf0.1 corpus). Signature collisions of
        // unequal sets still reach the exact-Jaccard verify and are
        // rejected there.
        hashSets.withColumn("sig", sigCol)
          .withColumn("band", xxhash64(col("sig")))
          .select(col("band"), col("id"))
      else hashSets
        .withColumn("sig", sigCol)
        .withColumn("band",
          explode(GraftFunctions.lshBandKeys(col("sig"), bands)))
        .select(col("band"), col("id"))

    // candidate generation carries ONLY (band, id): the hash sets join back
    // just for the surviving pairs. Mega-buckets (saturated vocab / skew)
    // are capped at maxBucket members via the minKIds AGGREGATION — one
    // partially-aggregated shuffle, no window sort exchange, and a hot band
    // ships at most maxBucket ids per map partition. Truncation stays
    // OBSERVABLE (salting band keys by a signature prefix would bound
    // buckets too, but it zeroes recall for pairs whose signatures differ —
    // capping loses only saturated-bucket members, which are
    // near-identical and caught by exact dedup). Identical docs share
    // identical signatures, hence identical kept-id sets: a J == 1 pair is
    // only lost if the pair itself straddles the cap, i.e. a dup GROUP
    // larger than maxBucket.
    val (cappedA, cappedB) =
      cappedBuckets(spark, keyed, "band", maxBucket,
        "lsh_dropped_bucket_members")
    val candidates = cappedA.as("a").join(cappedB.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    // null hash sets (null text rows) carry the empty-set signature, so
    // they bucket together; exact Jaccard treats them as the empty set
    val jac = udf((a: Array[Long], b: Array[Long]) => MinHash.exactJaccard(
      if (a == null) Array.emptyLongArray else a,
      if (b == null) Array.emptyLongArray else b))
    val hsA = hashSets.select(col("id").as("doc_a"), col("hs").as("hs_a"))
    val hsB = hashSets.select(col("id").as("doc_b"), col("hs").as("hs_b"))
    candidates
      .join(hsA, Seq("doc_a")).join(hsB, Seq("doc_b"))
      .withColumn("jaccard", jac(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Shared band-cap: aggregate each bucket to its maxBucket smallest ids
    * (graft.spark.udaf.MinKSpec), return the exploded
    * (keyCol, id) frame twice — side A counts dropped members into an
    * accumulator, side B is the pure twin for the self-join (the join
    * duplicates its child subtree, so a counting udf on both sides would
    * double-count; task retries can still overcount, as with any
    * transformation-stage accumulator). */
  private[ops] def cappedBuckets(spark: SparkSession, keyed: DataFrame,
      keyCol: String, maxBucket: Int, accName: String)
      : (DataFrame, DataFrame) = {
    val dropped = spark.sparkContext.longAccumulator(accName)
    val noteDrop = udf((d: Long) => { if (d > 0) dropped.add(d); true })
      .asNondeterministic() // side effect: the optimizer must not clone it
    val aggd = keyed.groupBy(keyCol)
      .agg(GraftFunctions.minKIds(col("id"), maxBucket).as("mk"))
    val a = aggd.filter(noteDrop(col("mk.dropped")))
      .select(col(keyCol), explode(col("mk.ids")).as("id"))
    val b = aggd.select(col(keyCol), explode(col("mk.ids")).as("id"))
    (a, b)
  }

  /** SimHash near-dup: pairs within `maxHamming` of each other, blocked by
    * 16-bit bands of the 64-bit simhash (any pair with <= 3 differing
    * bands shares at least one exact band — pigeonhole for maxHamming<=3).
    * Buckets are capped at maxBucket members (same discipline and
    * observability as [[minhashPairs]]): a popular band value (near-empty
    * docs, boilerplate) would otherwise form a quadratic self-join cell.
    * Identical-simhash groups share ALL four bands and identical kept-id
    * sets, so a hamming-0 pair is only lost if its GROUP exceeds
    * maxBucket — those members are exact-dedup territory. */
  def simhashPairs(spark: SparkSession, tokenSets: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming <= 3, "16-bit x4 blocking guarantees recall only for <=3")
    val sh = tokenSets
      .withColumn("simhash", GraftFunctions.simhash(col("hs")))
      .select("id", "simhash")
    val banded = sh.select(col("id"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band_no"),
          shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("band_val"))): _*))
        .as("b"))
    val (cappedA, cappedB) =
      cappedBuckets(spark, banded, "b", maxBucket,
        "simhash_dropped_bucket_members")
    // unlike minhash (whose verify payload is the full hash-set array),
    // the simhash verify payload is ONE long — attach it to both capped
    // sides BEFORE the bucket self-join and filter hamming INSIDE the
    // join stage, so the correlated-band candidate blowup (3.2M pairs on
    // the sf0.1 planted corpus) is cut to the survivors before any
    // exchange — the old shape shuffled every candidate through a
    // dropDuplicates and joined the simhashes back on afterwards. No
    // broadcast HINT on sh: it is corpus-sized (16 B/doc) — the planner
    // broadcasts it while it fits and falls back to a shuffle join of
    // O(n) skinny rows at scale, where a forced broadcast would hit the
    // 8 GB relation cap
    val ham = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
    val withA = cappedA.join(
      sh.select(col("id"), col("simhash").as("sh_a")), Seq("id"))
    val withB = cappedB.join(
      sh.select(col("id"), col("simhash").as("sh_b")), Seq("id"))
    withA.as("x").join(withB.as("y"),
        col("x.b") === col("y.b") && col("x.id") < col("y.id"))
      .withColumn("hamming", ham(col("x.sh_a"), col("y.sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        col("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /**
   * CLUSTER RESOLUTION over a near-dup pair relation: connected
   * components by iterative min-label propagation — the step a real
   * dedup pipeline needs between pair generation ([[minhashPairs]] /
   * [[simhashPairs]] / [[Ann.lshNearDupPairs]]) and "keep one doc per
   * duplicate cluster" (a is a near-dup of b, b of c ⇒ a,b,c are ONE
   * cluster even when a~c was never emitted).
   *
   * Returns (id, rep): every vertex of the pair relation labeled with
   * its component's MINIMUM id (deterministic representative).
   *
   * Scale shape: each iteration is one shuffle join (E rows) + a
   * min-aggregate, with `localCheckpoint` cutting the lineage so the
   * plan stays O(1) deep; iterations needed = the component DIAMETER,
   * which for duplicate clusters is small (near-clique groups from
   * banding; long chains only from gradual drift). The loop CONVERGES
   * (stops when no label changed) and `maxIter` is the runaway bound —
   * on hitting it the method throws rather than return a partially
   * merged labeling that would silently keep duplicate docs.
   */
  def connectedComponents(spark: SparkSession, pairs: DataFrame,
      idA: String = "doc_a", idB: String = "doc_b",
      maxIter: Int = 30): DataFrame = {
    val edges = pairs
      .select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
    // both directions once, reused every iteration
    val und = edges.unionByName(
        edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    var labels = und.select(col("a").as("id")).distinct()
      .withColumn("rep", col("id"))
      .localCheckpoint(true)
    // the CHECKPOINTED frame of the current iteration — unpersist targets
    // this (unpersisting a derived select would be a no-op)
    var liveCk = labels
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // each vertex offers its current rep to every neighbor; a vertex
      // keeps the min of its own rep and all offers
      val offers = und
        .join(labels.withColumnRenamed("id", "a"), Seq("a"))
        .groupBy(col("b").as("id")).agg(min(col("rep")).as("offer"))
      // the changed-label count piggybacks on the checkpoint
      // materialization job via an accumulator (the separate
      // filter+count used to cost one extra pass over the labels per
      // iteration). Task retries can only OVERcount, which is safe for
      // the convergence test: a retry of a zero-changed partition still
      // adds zero, so `changed == 0` is never reported spuriously.
      val changedAcc = spark.sparkContext.longAccumulator("cc_changed")
      val noteChanged = udf((c: Boolean) => { if (c) changedAcc.add(1L); true })
        .asNondeterministic() // side effect: the optimizer must not clone it
      val next = labels.join(offers, Seq("id"), "left")
        .select(col("id"),
          least(col("rep"), coalesce(col("offer"), col("rep"))).as("rep"),
          (least(col("rep"), coalesce(col("offer"), col("rep"))) <
            col("rep")).as("ch"))
        .filter(noteChanged(col("ch")))
        .select("id", "rep")
        .localCheckpoint(true)
      changed = changedAcc.value
      // the superseded iteration's checkpointed blocks are dead the moment
      // `next` is materialized (eager checkpoint above) — release them, or
      // a long-lived session accumulates one cached RDD per iteration
      // (the final iteration's checkpoint stays live: the caller holds it)
      liveCk.unpersist()
      liveCk = next
      labels = next
      it += 1
    }
    und.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
          "a component's diameter exceeds the bound; raise maxIter")
    labels
  }

  /**
   * Keep ONE document per duplicate cluster: every doc gets its cluster
   * representative (itself when it appears in no pair) and a `kept` flag
   * (true iff it IS the representative, so the survivor set is
   * deterministic). The representative is the cluster's minimum id
   * AMONG THE DOCS PRESENT: when `docs` is a slice of the corpus the
   * pairs were generated on (a partition being rewritten, a source
   * split), a cluster whose global minimum fell outside the slice is
   * re-rooted to its smallest present member instead of silently losing
   * ALL its members from the kept-set — every cluster with at least one
   * present doc keeps exactly one.
   */
  def keepOnePerCluster(spark: SparkSession, docs: DataFrame, idCol: String,
      pairs: DataFrame, idA: String = "doc_a", idB: String = "doc_b")
      : DataFrame = {
    val comps = connectedComponents(spark, pairs, idA, idB)
    // a null id (or an id that nulls out under the long cast) has no
    // identity to dedup by: drop it explicitly — otherwise the isolated
    // pass-through below would emit a (null, null, null) row whose
    // kept flag is neither true nor false
    val ids = docs.select(col(idCol).cast("long").as("id"))
      .na.drop(Seq("id"))
    // only docs that appear in a pair need component bookkeeping; the
    // (typically corpus-sized) isolated remainder passes through with
    // rep = id and NO shuffle beyond the join against the small comps
    // relation — re-rooting must never cost a full-corpus groupBy
    val paired = ids.join(comps, Seq("id")) // (id, rep): paired & present
    val reps = paired.groupBy("rep").agg(min(col("id")).as("minPresent"))
    val rerooted = paired.join(reps, Seq("rep"))
      .select(col("id"), col("minPresent").as("rep"))
    val isolated = ids.join(comps.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("rep"))
    rerooted.unionByName(isolated)
      .select(col("id").as(idCol), col("rep"))
      .withColumn("kept", col(idCol) === col("rep"))
  }
}
