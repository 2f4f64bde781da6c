package graft.build

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Hashing
import graft.core.sketch.{Bloom, InterleavedBloom}
import graft.spark.GraftFunctions

/** Shingling + filter-sizing parameters (role of ganon's IBFConfig,
  * src/utils/include/utils/IBFConfig.hpp:5-41). `sizingMode` mirrors the
  * reference's five optimal_hashes modes (GanonBuild.cpp:565-616). */
final case class IbfParams(
    k: Int = 19,
    w: Int = 31, // reference defaults: -k 19 -w 31 (config.py); w>k shrinks
                 // the per-row hash set ~2/(w-k+2) with the same guarantees
    seed: Long = Hashing.DefaultSeed,
    maxFp: Double = 0.01,
    hllP: Int = 14,
    minContentLen: Int = 0,
    sizingMode: String = "avg")

/** Driver-side sizing result (role of ganon's IBFConfig after
  * optimal_hashes, src/ganon-build/GanonBuild.cpp:428-616): numBins is the
  * TECHNICAL bin count (targets split at maxHashesBin capacity). */
final case class IbfPlan(
    numBins: Int,
    bitsPerBin: Long,
    numHashes: Int,
    maxHashesBin: Long,
    expectedMaxFp: Double)

/**
 * Technical-bin layout: target i owns bins [base(i), base(i)+split(i)) —
 * the role of ganon's bin_map (GanonBuild.cpp:619-653 create_bin_map_hash).
 * The reference slices each target's hash list by index ranges; we route by
 * hash VALUE (`routeBin`) so the assignment is a pure per-hash function —
 * computable on any executor without materializing the sorted list.
 */
final case class BinLayout(base: Array[Int], split: Array[Int], numBins: Int)
    extends Serializable {
  def numGroups: Int = (numBins + 63) / 64
  /** Does any target span a 64-bin group boundary? (limits coarse pruning) */
  lazy val anyGroupSpanning: Boolean = base.indices.exists { i =>
    (base(i) / 64) != ((base(i) + split(i) - 1) / 64)
  }
}

object BinLayout {
  private val RouteSeed = 0xC2B2AE3D27D4EB4FL

  /** Which of a target's `split` bins hash `h` lives in — deterministic,
    * uniform, independent of the shingle seed. */
  @inline def routeBin(h: Long, split: Int): Int =
    if (split == 1) 0
    else java.lang.Long.remainderUnsigned(
      Hashing.mix64(h ^ RouteSeed), split.toLong).toInt

  def fromCounts(counts: Array[Long], maxHashesBin: Long): BinLayout = {
    val split = counts.map(c =>
      math.max(1L, (math.max(1L, c) + maxHashesBin - 1) / maxHashesBin).toInt)
    val base = new Array[Int](counts.length)
    var acc = 0
    var i = 0
    while (i < counts.length) { base(i) = acc; acc += split(i); i += 1 }
    BinLayout(base, split, acc)
  }
}

/** Broadcastable probe side of the classify join: a [[SketchDb]] or a
  * view over several — Classify is layout-agnostic. `counts`
  * passed to probe are PER TARGET (split technical bins already summed,
  * GanonClassify.cpp:517-527 semantics; clamping at n_hashes happens in
  * the classifier). */
trait ProbeDb extends Serializable {
  def targets: Array[String]
  def targetHashes: Array[Long]
  def params: IbfParams
  def plan: IbfPlan
  /** Split-corrected expected FPR of target `t` (GanonClassify.cpp:968-979:
    * 1 - (1 - fp_bin)^n_bins_target over the average per-bin load). */
  def binFpr(t: Int): Double
  /** Count hash membership per TARGET into `counts` (len >= targets.length).
    * `cutoff` is the per-read threshold known BEFORE probing — a coarse
    * level uses it to prune whole groups (the reference's HIBF pushdown,
    * hierarchical_interleaved_bloom_filter.hpp:433-460). */
  def probe(hashes: Array[Long], counts: Array[Int], cutoff: Int): Unit
  def sizeBytes: Long
  @transient lazy val targetIndex: Map[String, Int] = targets.zipWithIndex.toMap
}

/** Minimal serializable Hadoop-configuration carrier for executor-side
  * filesystem access (Hadoop's `Configuration` is Writable, not
  * Serializable). */
final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/**
 * The sketch database: the target->technical-bins layout over one
 * interleaved SHARD per 64-bin group (role of ganon's serialized
 * (IBFConfig, hashes_count, bin_map, ibf) — GanonBuild.cpp:251-288),
 * plus an OPTIONAL coarse IBF over the groups (the HIBF-like top level,
 * hierarchical_interleaved_bloom_filter.hpp:87-171). `build` leaves the
 * coarse out; `buildTwoLevel`, `buildToStore` and `compactStored` build it.
 *
 * PROBE. Without a coarse level every group survives; with one, a group
 * survives when its coarse count reaches the read's cutoff. The coarse
 * bin of group g holds the union of the hashes routed into the group, so
 * coarseCount(g) >= count(any member bin) and skipping a group below the
 * cutoff loses nothing. When a split target spans groups its total count
 * is divided between coarse bins, so full-cutoff pruning is only safe for
 * span-free layouts; otherwise only zero-hit groups are skipped. The
 * kernel follows the survivor count: ONE survivor (every read of a
 * one-group db) takes the shard's one-word lazy kernel
 * (`InterleavedBloom.bulkCount1`); more derive every hash's probe rows
 * once and sweep the survivors group-major (`countAtRowsMatrix1`).
 *
 * Where shard g comes from is the only other thing that varies:
 *  - RESIDENT (`build`, `buildTwoLevel`, `update`, a legacy flat store):
 *    `shards` holds every group's filter and ships with the broadcast, so
 *    no probe ever touches a store.
 *  - STORE-BACKED (`buildToStore`, `updateStored`, `compactStored`,
 *    `SketchStore.loadAny`/`loadTwoLevelLazy`): `shards` is null; only the
 *    coarse filter and the bin metadata ship with the broadcast, and each
 *    executor fetches a group's shard from the sketch store ON FIRST PROBE
 *    of that group and caches it. With coarse pruning, shards for groups a
 *    workload never hits are never read — executor memory is bounded by
 *    the WORKING SET of groups, not the database size (the HIBF lazy-load
 *    story; the reference keeps the whole HIBF resident,
 *    GanonClassify.cpp:949-986) — and `maxCacheBytes` bounds even the
 *    working set: past it, the least-recently-probed shard is evicted (a
 *    shifting workload over a 500 GB store no longer resident-sets every
 *    shard it ever touched). SIZE THE BOUND ABOVE THE WORKLOAD'S
 *    INSTANTANEOUS working set: eviction granularity is per probe, so a
 *    bound below what one saturating sweep needs degrades to a blob
 *    re-fetch+parse per (read, evicted group) — the bound protects memory
 *    across workload SHIFTS, it is not a magic way to probe a store bigger
 *    than the reads' own reach.
 *
 * SNAPSHOT PINNING: a store-backed handle carries its generation's
 * per-group blob pointers (`shardGens`), and updates never mutate
 * committed blobs — only write the next generation's — so the handle
 * keeps reading exactly the bits it was loaded with even while the store
 * is updated underneath it.
 *
 * `readShard` resolves through the Hadoop FileSystem API, so the store can
 * live on file://, hdfs:// or any mounted FS. The SESSION's Hadoop
 * configuration rides along serialized — a fresh `Configuration()` on the
 * executor would drop every `spark.hadoop.*` setting (object-store
 * credentials, HA nameservice mappings) and break the first shard fetch.
 */
final class SketchDb private (
    val coarse: InterleavedBloom,          // bins = groups; null: no coarse
    val targets: Array[String],            // target index -> name
    val targetHashes: Array[Long],         // target index -> distinct hashes
    val layout: BinLayout,
    val params: IbfParams,
    val plan: IbfPlan,
    shards: Array[InterleavedBloom],       // resident shards, or null
    val storeDir: String,                  // null for a resident db
    val generation: Int,
    val shardGens: Array[Int],
    hadoopConf: SerializableHadoopConf,
    maxCacheBytes: Long) extends ProbeDb {

  private val groupCutoffSafe = !layout.anyGroupSpanning

  // split-free and hole-free: technical bin b IS target b, so a probe
  // counts straight into the per-target counts
  private val isFlat: Boolean = layout.numBins == targets.length

  /** Every shard ships with this db (nothing is read from a store). */
  def isResident: Boolean = shards != null

  // per-target split-corrected fp, precomputed once per executor
  @transient private lazy val fprByTarget: Array[Double] =
    Array.tabulate(targets.length) { t =>
      val s = layout.split(t)
      val c = math.max(1L, targetHashes(t))
      val perBin = (c + s - 1) / s
      val single = Bloom.falsePositiveRate(plan.bitsPerBin, plan.numHashes, perBin)
      Bloom.splitCorrectedFpr(single, s)
    }

  def binFpr(t: Int): Double = fprByTarget(t)

  // per-thread scratch (the broadcast db is shared across tasks in one
  // executor; per-read allocation would churn the TLAB): technical-bin
  // counts, coarse group counts, and a grow-on-demand position matrix
  // (n_hashes x numHashes ints)
  @transient private lazy val techScratch: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](layout.numBins))
  @transient private lazy val gcScratch: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](layout.numGroups))
  @transient private lazy val rowScratch: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](1024 * plan.numHashes))
  private def rowMatrix(n: Int): Array[Int] = {
    var m = rowScratch.get()
    if (m.length < n * plan.numHashes) {
      m = new Array[Int](n * plan.numHashes)
      rowScratch.set(m)
    }
    m
  }

  /** Fold technical-bin counts into per-target counts (+=). */
  private def foldToTargets(tech: Array[Int], counts: Array[Int]): Unit = {
    var t = 0
    while (t < targets.length) {
      val b0 = layout.base(t)
      val n = layout.split(t)
      var acc = 0
      var s = 0
      while (s < n) { acc += tech(b0 + s); s += 1 }
      counts(t) += acc
      t += 1
    }
  }

  def probe(hashes: Array[Long], counts: Array[Int], cutoff: Int): Unit = {
    val gc = if (coarse == null) null else coarseCounts(hashes)
    val effCutoff = if (groupCutoffSafe) cutoff else 1
    var survivors = 0
    var last = -1
    var g = 0
    while (g < layout.numGroups) {
      if (gc == null || gc(g) >= effCutoff) { survivors += 1; last = g }
      g += 1
    }
    if (survivors == 0) return
    val tech = if (isFlat) counts else clearedTech()
    // the first probe of a store-backed group fetches its shard. The
    // sweep and the coarse count stay out of line: inlined into this
    // method they cost the one-survivor path ~8% per hash (in-process
    // microbenchmark, one group of corpus_selfhit's size, 4-CPU box)
    if (survivors == 1) shard(last).bulkCount1(hashes, tech, last * 64)
    else sweep(hashes, gc, effCutoff, tech)
    if (tech ne counts) foldToTargets(tech, counts)
  }

  private def coarseCounts(hashes: Array[Long]): Array[Int] = {
    val c = gcScratch.get()
    java.util.Arrays.fill(c, 0)
    coarse.bulkCount(hashes, c)
    c
  }

  private def clearedTech(): Array[Int] = {
    val t = techScratch.get()
    java.util.Arrays.fill(t, 0)
    t
  }

  /** Every shard shares (bitsPerBin, numHashes): derive each hash's probe
    * rows ONCE into a matrix, then sweep the surviving shards GROUP-MAJOR
    * (one shard's ~bitsPerBin/8-byte word array stays cache-resident for
    * the whole hash sweep; a hash-major walk across shards thrashes). */
  private def sweep(hashes: Array[Long], gc: Array[Int], effCutoff: Int,
      tech: Array[Int]): Unit = {
    val rows = rowMatrix(hashes.length)
    InterleavedBloom.probeRowsAll(hashes, plan.bitsPerBin, plan.numHashes,
      rows)
    var g = 0
    while (g < layout.numGroups) {
      if (gc == null || gc(g) >= effCutoff)
        shard(g).countAtRowsMatrix1(rows, hashes.length, tech, g * 64)
      g += 1
    }
  }

  /** Union-membership FPR probe for target `t` (any of its split bins,
    * across every group they span). */
  def containsTarget(hash: Long, t: Int): Boolean = {
    val lo = layout.base(t)
    val hi = lo + layout.split(t)
    (lo / 64 to (hi - 1) / 64).exists { g =>
      shard(g).containsInBins(hash, math.max(lo, g * 64) - g * 64,
        math.min(hi, g * 64 + 64) - g * 64)
    }
  }

  /** The whole fine level as ONE flat filter over every technical bin (a
    * store-backed db fetches every shard). */
  def ibf: InterleavedBloom =
    InterleavedBloom.stitch(Array.tabulate(layout.numGroups)(shard),
      layout.numBins)

  /** Broadcast footprint: the coarse filter plus the resident shards (a
    * store-backed db ships the coarse only; shards are fetched per
    * executor on demand). */
  def sizeBytes: Long =
    (if (coarse == null) 0L else coarse.sizeBytes) +
      (if (shards == null) 0L else shards.map(_.sizeBytes).sum)

  @transient private lazy val shardCache =
    new java.util.concurrent.atomic.AtomicReferenceArray[InterleavedBloom](
      layout.numGroups)
  // LRU bookkeeping: a coarse monotonic clock stamped per access (lazySet —
  // no fence on the probe hot path) + resident-byte accounting. Eviction
  // only runs on load (rare), where a synchronized scan over numGroups is
  // cheap.
  @transient private lazy val lastAccess =
    new java.util.concurrent.atomic.AtomicLongArray(layout.numGroups)
  @transient private lazy val accessClock =
    new java.util.concurrent.atomic.AtomicLong()
  @transient private lazy val cachedBytes =
    new java.util.concurrent.atomic.AtomicLong()

  // recency stamps exist only to pick eviction victims; with an unbounded
  // cache (the default) nothing ever evicts, so skip the per-(read, group)
  // accessClock.incrementAndGet on the probe hot path entirely — a full
  // RMW on one shared cache line across all probe threads is real money
  // at millions of probes/second on a wide executor
  private val lruBounded = maxCacheBytes != Long.MaxValue

  /** Group g's shard: resident, cached, or fetched from the store. */
  private[graft] def shard(g: Int): InterleavedBloom =
    if (shards != null) shards(g) else cachedShard(g)

  private def cachedShard(g: Int): InterleavedBloom = {
    var s = shardCache.get(g)
    if (s == null) {
      s = readShard(g)
      // stamp recency BEFORE publishing so an eviction scan never picks
      // the in-flight shard as the zero-stamped "oldest" entry, and
      // account the bytes BEFORE the CAS so a racing evictor's
      // subtraction can never precede this addition (that ordering would
      // leave `cachedBytes` permanently overcounting an evicted shard and
      // degrade the cache toward per-probe refetches)
      if (lruBounded) lastAccess.lazySet(g, accessClock.incrementAndGet())
      cachedBytes.addAndGet(s.sizeBytes)
      if (shardCache.compareAndSet(g, null, s)) {
        if (cachedBytes.get() > maxCacheBytes) evictLru(keep = g)
      } else {
        // CAS lost: another thread cached it first — back out our
        // accounting; the locally read shard is correct either way
        cachedBytes.addAndGet(-s.sizeBytes)
      }
    }
    if (lruBounded) lastAccess.lazySet(g, accessClock.incrementAndGet())
    s
  }

  private def evictLru(keep: Int): Unit = synchronized {
    while (cachedBytes.get() > maxCacheBytes) {
      var victim = -1
      var oldest = Long.MaxValue
      var g = 0
      while (g < layout.numGroups) {
        if (g != keep && shardCache.get(g) != null) {
          val a = lastAccess.get(g)
          if (a < oldest) { oldest = a; victim = g }
        }
        g += 1
      }
      if (victim < 0) return // only the just-loaded shard is resident
      val s = shardCache.getAndSet(victim, null)
      if (s != null) cachedBytes.addAndGet(-s.sizeBytes)
    }
  }

  private def readShard(g: Int): InterleavedBloom =
    graft.io.SketchStore.readShardBlob(hadoopConf.value, storeDir,
      shardGens, g).getOrElse(SketchDb.emptyShard(layout, plan, g))

  /** How many shards this JVM holds (observability/tests): every group of
    * a resident db, the fetched ones of a store-backed db. */
  def loadedShards: Int =
    if (shards != null) shards.length
    else (0 until layout.numGroups).count(shardCache.get(_) != null)

  /** Shard bytes this JVM holds (a store-backed db's are bounded by
    * maxCacheBytes). */
  def residentBytes: Long =
    if (shards != null) shards.map(_.sizeBytes).sum else cachedBytes.get()
}

object SketchDb {
  /** A db whose every shard is in memory (no store behind it); `coarse`
    * may be null. */
  def resident(coarse: InterleavedBloom, shards: Array[InterleavedBloom],
      targets: Array[String], targetHashes: Array[Long], layout: BinLayout,
      params: IbfParams, plan: IbfPlan): SketchDb =
    new SketchDb(coarse, targets, targetHashes, layout, params, plan,
      shards, null, 0, Array.empty[Int], null, Long.MaxValue)

  /** A handle on generation `generation` of the store at `storeDir`;
    * `shardGens(g)` names the generation owning group g's blob. Every
    * handle carries the session's Hadoop configuration and honors its
    * per-executor resident-shard-byte bound
    * (`spark.graft.shard.cache.bytes`, LRU eviction past it; default
    * unbounded) — a handle returned by buildToStore/updateStored obeys the
    * same bound as a loaded one. */
  def stored(spark: SparkSession, coarse: InterleavedBloom,
      targets: Array[String], targetHashes: Array[Long], layout: BinLayout,
      params: IbfParams, plan: IbfPlan, storeDir: String, generation: Int,
      shardGens: Array[Int]): SketchDb =
    new SketchDb(coarse, targets, targetHashes, layout, params, plan,
      null, storeDir, generation, shardGens,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration),
      spark.conf.getOption("spark.graft.shard.cache.bytes")
        .map(_.toLong).getOrElse(Long.MaxValue))

  /** Group g's all-empty shard: a group that routed zero hashes (no shard
    * row at build time, or the NoBlobGen sentinel in a store). A blob
    * MISSING under a real pointer throws inside readShardBlob instead — a
    * gc'd pinned generation must fail fast, not silently lose its
    * matches. */
  private[graft] def emptyShard(layout: BinLayout, plan: IbfPlan,
      g: Int): InterleavedBloom =
    InterleavedBloom.empty(math.min(64, layout.numBins - g * 64),
      plan.bitsPerBin, plan.numHashes)
}

/**
 * Distributed build (Spark shape of ganon-build's two thread pools,
 * src/ganon-build/GanonBuild.cpp:752-921):
 *
 *   pass 1  groupBy(target).agg(hll(shingles))   -> per-target cardinalities
 *   driver  Sizing.optimalHashes: capacity simulation + split-bin layout
 *   pass 2  route hashes to 64-bin groups map-side, groupBy(grp) building
 *           one interleaved SHARD per group on executors
 *   driver  keep the G shards as the db's groups (a header re-window
 *           per shard — no OR-merging, no transposing, no per-partition
 *           partials on the driver)
 *
 * Shuffle discipline: per-row-deduped hash subsets shuffle exactly once,
 * keyed by group. When numGroups >= parallelism the aggregation is
 * exchange-free-complete (one task per group, no partial blobs); below
 * that, map-side partials are bounded by numGroups x shardBytes per task.
 * Mega-target skew is structurally gone: every technical bin holds at most
 * ~maxHashesBin hashes, so reducers are load-balanced by construction
 * (the salting idea, but derived from the same split-bin plan the
 * reference uses — GanonBuild.cpp:619-653).
 *
 * Checkpointing: with `checkpointDir`, each pass persists its result
 * parquet and is skipped on re-run (resumability per the north rule;
 * role of ganon's save_state markers, src/ganon/util.py:138-143).
 */
object SketchBuild {

  /** The (target, hs) shingle projection both passes consume. */
  private def hashedProjection(df: DataFrame, targetCol: String,
      contentCol: String, p: IbfParams): DataFrame = {
    val base =
      if (p.minContentLen > 0) df.filter(octet_length(col(contentCol)) >= p.minContentLen)
      else df
    base.select(col(targetCol).as("target"),
      GraftFunctions.shingles(col(contentCol), p.k, p.w, p.seed).as("hs"))
  }

  /** Pass-1 result: (target, n_hashes estimate). */
  def targetCardinalities(df: DataFrame, targetCol: String, contentCol: String,
      p: IbfParams): DataFrame =
    targetCardinalitiesHashed(hashedProjection(df, targetCol, contentCol, p), p)

  private def targetCardinalitiesHashed(hashed: DataFrame,
      p: IbfParams): DataFrame =
    hashed.groupBy("target")
      .agg(GraftFunctions.hllCount(col("hs"), p.hllP).as("n_hashes"))

  /** Driver-side sizing via the capacity simulation; 5% headroom on the bin
    * size covers the HLL estimate error (1.04/sqrt(2^p)) so the realized FP
    * stays within budget even when pass 1 undersized a bin. */
  def plan(cards: Seq[(String, Long)], p: IbfParams): (IbfPlan, BinLayout) = {
    require(cards.nonEmpty, "no targets to build")
    val counts = cards.map(_._2).toArray
    val s = Sizing.optimalHashes(p.maxFp, counts, p.sizingMode)
    val bits = ((math.ceil(s.binSizeBits * 1.05).toLong + 63) / 64) * 64
    val layout = BinLayout.fromCounts(counts, s.maxHashesBin)
    val (maxFpReal, _) =
      Sizing.trueFalsePositive(counts, s.maxHashesBin, bits, s.hashFunctions)
    (IbfPlan(layout.numBins, bits, s.hashFunctions, s.maxHashesBin, maxFpReal),
      layout)
  }

  /** One resident db: a shard per 64-bin group, no coarse level (every
    * group survives every probe). */
  def build(spark: SparkSession, df: DataFrame, targetCol: String,
      contentCol: String, p: IbfParams = IbfParams(),
      checkpointDir: Option[String] = None): SketchDb =
    buildResident(spark, df, targetCol, contentCol, p, checkpointDir,
      twoLevel = false)

  /**
   * Two-level build: the SAME single pass also aggregates one coarse
   * union-Bloom per 64-bin group (no third scan over the content, no
   * bin re-extraction), so probes prune groups below the read's cutoff.
   */
  def buildTwoLevel(spark: SparkSession, df: DataFrame, targetCol: String,
      contentCol: String, p: IbfParams = IbfParams(),
      checkpointDir: Option[String] = None): SketchDb =
    buildResident(spark, df, targetCol, contentCol, p, checkpointDir,
      twoLevel = true)

  private def buildResident(spark: SparkSession, df: DataFrame,
      targetCol: String, contentCol: String, p: IbfParams,
      checkpointDir: Option[String], twoLevel: Boolean): SketchDb = {
    val (cards, thePlan, layout, binsDf) =
      planAndShard(spark, df, targetCol, contentCol, p, checkpointDir,
        twoLevel)
    val nGroups = layout.numGroups
    val shards = new Array[InterleavedBloom](nGroups)
    val coarseBins = binsDf.collect().toSeq.flatMap { r =>
      // re-window the 64-wide shard to the group's real bin count
      val g = r.getInt(0)
      shards(g) = windowed(
        InterleavedBloom.fromBytes(r.getAs[Array[Byte]]("shard")), g,
        layout.numBins)
      if (twoLevel) Some((g, Bloom.fromBytes(r.getAs[Array[Byte]]("coarse"))))
      else None
    }
    // groups whose targets routed ZERO hashes (all content empty/filtered)
    // produce no shard row: materialize empty shards so probe/sizeBytes
    // see zero-count bins
    shards.indices.foreach { g =>
      if (shards(g) == null) shards(g) = SketchDb.emptyShard(layout, thePlan, g)
    }
    SketchDb.resident(if (twoLevel) coarseOf(coarseBins, nGroups) else null,
      shards, cards.map(_._1).toArray, cards.map(_._2).toArray, layout, p,
      thePlan)
  }

  /** The shared two-pass pipeline with the pass-2 result left DISTRIBUTED:
    * one row per touched 64-bin group (grp, shard[, coarse]). */
  private def planAndShard(spark: SparkSession, df: DataFrame,
      targetCol: String, contentCol: String, p: IbfParams,
      checkpointDir: Option[String], twoLevel: Boolean)
      : (Seq[(String, Long)], IbfPlan, BinLayout, DataFrame) = {
    import spark.implicits._

    val hashed = hashedProjection(df, targetCol, contentCol, p)

    // ---- pass 1 (or resume) ----
    val tag = paramsTag(p) + s";target=$targetCol;content=$contentCol;two=$twoLevel"
    val cardsDf = checkpointed(spark, checkpointDir, "pass1_cardinalities",
        tag) {
      targetCardinalitiesHashed(hashed, p)
    }
    val cards = cardsDf.as[(String, Long)].collect().sortBy(_._1).toSeq
    val (thePlan, layout) = plan(cards, p)

    // ---- pass 2 (or resume): route -> one shard per 64-bin group ----
    val binsDf = checkpointed(spark, checkpointDir, "pass2_group_shards",
        tag) {
      shardPass(spark, hashed, thePlan, entriesOf(cards, layout),
        if (twoLevel) Some(coarseSizing(cards, layout, p.maxFp)) else None)
    }
    (cards, thePlan, layout, binsDf)
  }

  /** Bin-map entries (target, base, split) of a planned layout. */
  private def entriesOf(cards: Seq[(String, Long)],
      layout: BinLayout): Seq[(String, Int, Int)] =
    cards.indices.map(i => (cards(i)._1, layout.base(i), layout.split(i)))

  /** Coarse-filter sizing (bits, hashes) for a two-level layout: each
    * group's union is at most the sum of the full hash sets of the targets
    * touching it (span superset). The coarse fp is deliberately LOOSER
    * than the fine one — a coarse FP only costs an extra shard probe,
    * never a result FP — and at 0.05 the resident top level costs ~6.2
    * bits/element vs 14.4 at 0.001, so the broadcast shrinks ~2.3x. */
  private def coarseSizing(cards: Seq[(String, Long)], layout: BinLayout,
      maxFp: Double): (Long, Int) = {
    val groupLoad = new Array[Long](layout.numGroups)
    cards.indices.foreach { t =>
      val g0 = layout.base(t) / 64
      val g1 = (layout.base(t) + layout.split(t) - 1) / 64
      (g0 to g1).foreach(g => groupLoad(g) += cards(t)._2)
    }
    val maxN = math.max(1L, (groupLoad.max * 1.05).toLong)
    val coarseFp = math.max(0.05, maxFp)
    val m = Bloom.optimalBits(maxN, coarseFp)
    (m, math.min(16, Bloom.optimalHashes(m, maxN)))
  }

  /** A 64-wide aggregated shard re-windowed to group g's real bin count
    * (<=64-bin shards always carry bitsPerBin words, so this is a pure
    * header change). */
  private def windowed(full: InterleavedBloom, g: Int,
      numBins: Int): InterleavedBloom =
    new InterleavedBloom(math.min(64, numBins - g * 64), full.bitsPerBin,
      full.numHashes, full.words)

  /** The coarse filter stitched from per-group union Blooms (all-empty
    * when no group received a hash). */
  private def coarseOf(bins: Seq[(Int, Bloom)], nGroups: Int): InterleavedBloom =
    if (bins.nonEmpty) InterleavedBloom.fromBins(bins, nGroups)
    else InterleavedBloom.empty(nGroups, 64L, 1)

  /**
   * Build DIRECTLY into the sketch store with driver memory bounded by
   * coarse + metadata: each 64-bin group's shard blob is written to
   * `dir/shards/grp_<g>.bin` straight from the executor that aggregated it
   * (the Spark shape of the reference's stream-to-disk filter save,
   * GanonBuild.cpp:251-288 — at its published 299-501 GB database scale,
   * docs/default_databases.md:29-76, a driver-resident assembly would OOM);
   * only the per-group COARSE blobs (the broadcast working set) return to
   * the driver. The build writes a NEW generation (blobs into
   * `shards_v<N>/`, committed by flipping CURRENT last), so a rebuild over
   * an existing store never disturbs readers pinned to the old snapshot
   * and a crash leaves the old generation fully loadable. Returns the
   * store-backed db over the store just written — no shard array ever
   * materializes on the driver.
   */
  def buildToStore(spark: SparkSession, df: DataFrame, targetCol: String,
      contentCol: String, dir: String, p: IbfParams = IbfParams(),
      checkpointDir: Option[String] = None,
      commitTag: Option[(String, Long)] = None): SketchDb = {
    val (cards, thePlan, layout, binsDf) =
      planAndShard(spark, df, targetCol, contentCol, p, checkpointDir,
        twoLevel = true)
    storeGeneration(spark, dir, p, cards, thePlan, layout, binsDf,
      commitTag = commitTag)
  }

  /** The executor-blob-writing tail shared by [[buildToStore]] and
    * [[compactStored]]: claim the next generation, stream every group's
    * (re-windowed) shard blob from the executor that aggregated it, stitch
    * the coarse filter driver-side, commit the manifest. */
  private def storeGeneration(spark: SparkSession, dir: String, p: IbfParams,
      cards: Seq[(String, Long)], thePlan: IbfPlan, layout: BinLayout,
      binsDf: DataFrame, basedOnGen: Option[Int] = None,
      commitTag: Option[(String, Long)] = None): SketchDb = {
    import spark.implicits._
    val numBins = layout.numBins
    val nGroups = layout.numGroups
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    // When the plan was derived FROM an existing generation (compaction),
    // claim exactly base+1 — claimGeneration's under-lock CURRENT re-read
    // then fails fast if a concurrent update committed after the manifest
    // was read. Claiming CURRENT+1 here instead would silently discard
    // that interleaved commit (lost update: the compacted store would be
    // built from stale metadata). Fresh builds have no base to go stale.
    val gen = basedOnGen match {
      case Some(base) => base + 1
      case None => graft.io.SketchStore
        .currentGeneration(conf.value, dir).getOrElse(0) + 1
    }
    graft.io.SketchStore.claimGeneration(conf.value, dir, gen)
    graft.io.SketchStore.releaseClaimOnFailure(conf.value, dir, gen) {
    val shardDir = graft.io.SketchStore.shardDirOf(dir, gen)
    graft.io.SketchStore.clearClaimedShardDir(conf.value, shardDir)
    // ONE action: write each group's (re-windowed) shard blob executor-side,
    // return only (grp, coarseBlob) — the driver-bounded metadata
    val coarseRows = binsDf
      .select(col("grp"), col("shard"), col("coarse"))
      .as[(Int, Array[Byte], Array[Byte])]
      .mapPartitions { iter =>
        iter.map { case (g, blob, coarseBlob) =>
          graft.io.SketchStore.writeShardBlob(conf.value, shardDir, g,
            windowed(InterleavedBloom.fromBytes(blob), g, numBins).toBytes)
          (g, coarseBlob)
        }
      }.collect()
    // untouched groups (all content empty/filtered) get the NoBlobGen
    // sentinel: readers probe them as all-empty bins, so NO blob is
    // written — the old driver-serial empty-blob loop was one filesystem
    // round-trip per untouched group, 100k round-trips on a sparse
    // 100k-group store
    val present = coarseRows.map(_._1).toSet
    val shardGens = Array.tabulate(nGroups)(g =>
      if (present(g)) gen else graft.io.SketchStore.NoBlobGen)
    val coarse = coarseOf(
      coarseRows.toSeq.map { case (g, cb) => (g, Bloom.fromBytes(cb)) },
      nGroups)
    val db = SketchDb.stored(spark, coarse, cards.map(_._1).toArray,
      cards.map(_._2).toArray, layout, p, thePlan, dir, gen, shardGens)
    graft.io.SketchStore.writeManifest(spark, db, dir, gen, shardGens,
      commitTag)
    db
    } // releaseClaimOnFailure
  }

  /** The routed shard aggregation over the (target, hs) projection for the
    * given bin-map entries (target, base, split). Returns one row per
    * touched 64-bin group (grp, shard), plus the group's coarse union Bloom
    * (`coarse`) when `coarse` gives its (bits, hashes); each of
    * `maskGroups` also gets a row, with a null shard when no hash routed
    * to it. The shuffle is as wide as the groups the entries and
    * `maskGroups` span: every group for a build, only the touched ones for
    * an update. */
  private def shardPass(spark: SparkSession, hashed: DataFrame,
      thePlan: IbfPlan, entries: Seq[(String, Int, Int)],
      coarse: Option[(Long, Int)], maskGroups: Seq[Int] = Nil): DataFrame = {
    import spark.implicits._
    val layoutDf = broadcast(
      spark.createDataFrame(entries).toDF("target", "base", "split"))
    val parts = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val numGroups = (entries.flatMap { case (_, b, n) =>
      b / 64 to (b + n - 1) / 64 } ++ maskGroups).distinct.size

    // SPLIT-FREE layouts (every target fits one technical bin — the common
    // case whenever maxHashesBin covers the largest target): a row's whole
    // hash set lands in the single group base/64, so routing is a pure
    // column function — no per-row UDF invoke, tuple allocation or
    // generic explode on the build hot path (guide §4: built-ins over
    // closures). Split layouts keep the per-hash routing UDF below;
    // either path feeds IbfShardAgg, which re-routes per hash anyway.
    // NOTE: no row-level empty-hs filter here — a predicate on `hs` gets
    // pushed through the shingle projection by substitution and re-runs
    // the kernel per row (asserted by PlanShapeSpec); empty slices
    // are instead ignored by IbfShardAgg and never-fed groups drop via
    // the null-shard filter after the aggregation.
    val anySplit = entries.exists(_._3 > 1)
    val routedDelta =
      if (!anySplit)
        hashed.join(layoutDf, Seq("target"))
          .select(shiftright(col("base"), 6).as("grp"), col("base"),
            col("split"), col("hs"))
      else {
        // per-(row x spanned-group) hash subsets, computed map-side so the
        // one shuffle carries exactly the per-row-deduped hashes
        val route = udf((hs: Array[Long], base: Int, split: Int) => {
          if (hs == null || hs.isEmpty) Array.empty[(Int, Array[Long])]
          else if (split == 1) Array((base / 64, hs))
          else {
            val byGrp = scala.collection.mutable.LinkedHashMap
              .empty[Int, scala.collection.mutable.ArrayBuilder.ofLong]
            var i = 0
            while (i < hs.length) {
              val bin = base + BinLayout.routeBin(hs(i), split)
              byGrp.getOrElseUpdate(bin / 64,
                new scala.collection.mutable.ArrayBuilder.ofLong) += hs(i)
              i += 1
            }
            byGrp.iterator.map { case (g, b) => (g, b.result()) }.toArray
          }
        })
        hashed
          .join(layoutDf, Seq("target"))
          .select(col("base"), col("split"),
            explode(route(col("hs"), col("base"), col("split"))).as("r"))
          .select(col("r._1").as("grp"), col("base"), col("split"),
            col("r._2").as("hs"))
      }
    // one hash-less slice per mask group: it lands in the group's
    // aggregation, so the group comes out even when no delta reaches it
    val routed =
      if (maskGroups.isEmpty) routedDelta
      else routedDelta.unionByName(maskGroups
        .map(g => (g, g * 64, 1, null: Array[Long]))
        .toDF("grp", "base", "split", "hs"))
    // enough groups -> exchange-free complete aggregation (one task per
    // group, zero partial blobs); few groups -> map-side partials are
    // cheap (numGroups x shardBytes per task) and keep input parallelism
    // (coalescing the map side to the core count was measured neutral
    // here — lz4 absorbs the duplicate partial buffers — and costs scan
    // balance on SMT-capped cores, so input parallelism wins)
    val pre =
      if (numGroups >= parts) routed.repartition(numGroups, col("grp"))
      else routed
    val aggCols =
      GraftFunctions.ibfShard(col("grp"), col("base"), col("split"),
        col("hs"), thePlan.bitsPerBin, thePlan.numHashes).as("shard") ::
      coarse.map { case (bits, h) =>
        GraftFunctions.bloomSketch(col("hs"), bits, h).as("coarse")
      }.toList
    // a null shard marks a group that never received a non-empty slice
    // (all its targets' content empty/filtered): drop it, preserving the
    // untouched-group semantics (NoBlobGen sentinel / implicit empty),
    // unless it is a mask group
    val keep =
      if (maskGroups.isEmpty) col("shard").isNotNull
      else col("shard").isNotNull || col("grp").isin(maskGroups: _*)
    pre.groupBy("grp").agg(aggCols.head, aggCols.tail: _*).filter(keep)
  }

  /**
   * Incremental update of a built db (capability of `ganon update`,
   * reference src/ganon/build_update.py:157, tests/ganon/integration/
   * test_update.py): add new targets / new content and drop targets
   * WITHOUT rebuilding untouched bins.
   *
   * The plan (bitsPerBin, numHashes, maxHashesBin) is frozen: new targets
   * get fresh technical bins appended after the current layout (split at
   * the same capacity), removed targets have their bin columns zeroed
   * (bins stay allocated — compaction would re-route every surviving
   * hash), and rows for EXISTING targets route into their existing bins.
   * Only the touched 64-bin groups are re-aggregated; the untouched
   * filter columns are copied bit-for-bit. If an existing target grows
   * past its planned capacity its realized FP drifts above budget — the
   * returned plan's expectedMaxFp reports the drift; rebuild to recover.
   */
  def update(spark: SparkSession, db: SketchDb, addDf: DataFrame,
      targetCol: String, contentCol: String,
      removeTargets: Seq[String] = Nil): SketchDb = {
    val hashedOpt =
      Option(addDf).map(hashedProjection(_, targetCol, contentCol, db.params))
    val a = appendLayout(spark, db, hashedOpt, removeTargets)
    // aggregate the delta into the groups it touches, then apply every
    // group on the driver; old shards are read through the db's own
    // accessor, so a store-backed db updates too
    val delta = hashedOpt.filter(_ => a.delta.nonEmpty)
      .map(deltaShards(spark, db, _, a.delta, Nil).collect())
      .getOrElse(Array.empty)
    val deltaOf = delta.map { case (g, shard, _) => g -> shard }.toMap
    val numBins = a.layout.numBins
    val shards = Array.tabulate(a.layout.numGroups) { g =>
      val old = if (g < db.layout.numGroups) Some(db.shard(g)) else None
      val mask = a.masks.getOrElse(g, Array.empty[(Int, Int)])
      // the mask zeroes in place: never in the old db's own shard
      applyGroup(g, if (mask.isEmpty) old else old.map(o => new InterleavedBloom(
          o.numBins, o.bitsPerBin, o.numHashes, o.words.clone())),
        deltaOf.getOrElse(g, null), mask, numBins)
        .map(windowed(_, g, numBins))
        .getOrElse(SketchDb.emptyShard(a.layout, a.plan, g))
    }
    SketchDb.resident(
      coarseWith(db.coarse, a.layout.numGroups,
        delta.map { case (g, _, c) => (g, c) }),
      shards, a.targets, a.counts, a.layout, db.params, a.plan)
  }

  /** The frozen-plan layout append shared by [[update]] and
    * [[updateStored]]: `targets`/`counts`/`layout`/`plan` of the updated
    * db, the bin-map entries the delta routes through (`delta`, empty
    * without additions) and, per group, the group-local bin ranges
    * [lo, hi) of the removed targets (`masks`). */
  private final case class Appended(targets: Array[String],
      counts: Array[Long], layout: BinLayout, plan: IbfPlan,
      delta: Seq[(String, Int, Int)], masks: Map[Int, Array[(Int, Int)]])

  /** Pass 1 on the delta only, then the frozen-plan append: survivors
    * keep their bases, removed targets' bins stay allocated as masked
    * holes, new targets get fresh bins after the current layout (split at
    * the planned capacity), and rows for existing targets route into
    * their existing bins. */
  private def appendLayout(spark: SparkSession, db: SketchDb,
      hashedOpt: Option[DataFrame], removeTargets: Seq[String]): Appended = {
    import spark.implicits._
    val removeSet = removeTargets.toSet
    val unknown = removeSet.filterNot(db.targetIndex.contains)
    require(unknown.isEmpty,
      s"removeTargets not in the db: ${unknown.toSeq.sorted.mkString(", ")}")
    val addCards = hashedOpt
      .map(h => targetCardinalitiesHashed(h, db.params)
        .as[(String, Long)].collect().sortBy(_._1).toSeq)
      .getOrElse(Seq.empty[(String, Long)])
    require(addCards.forall(c => !removeSet.contains(c._1)),
      "cannot add and remove the same target")
    val (existingAdds, newAdds) =
      addCards.partition(c => db.targetIndex.contains(c._1))

    val survivors = db.targets.indices.filterNot(i => removeSet(db.targets(i)))
    var nextBin = db.layout.numBins
    val newEntries = newAdds.map { case (t, c) =>
      val split = math.max(1L, (math.max(1L, c) + db.plan.maxHashesBin - 1) /
        db.plan.maxHashesBin).toInt
      val e = (t, nextBin, split)
      nextBin += split
      e
    }
    val addByTarget = existingAdds.toMap
    val counts =
      (survivors.map(i => db.targetHashes(i) +
        addByTarget.getOrElse(db.targets(i), 0L)) ++ newAdds.map(_._2)).toArray
    val layout = BinLayout(
      (survivors.map(db.layout.base) ++ newEntries.map(_._2)).toArray,
      (survivors.map(db.layout.split) ++ newEntries.map(_._3)).toArray,
      nextBin)
    def entryOf(t: String): (String, Int, Int) = {
      val i = db.targetIndex(t)
      (t, db.layout.base(i), db.layout.split(i))
    }
    val delta = existingAdds.map(c => entryOf(c._1)) ++ newEntries
    val (maxFpReal, _) = Sizing.trueFalsePositive(
      counts.map(math.max(1L, _)), db.plan.maxHashesBin, db.plan.bitsPerBin,
      db.plan.numHashes)
    // removal = per-group bin-column masks over the OLD layout (bases are
    // frozen, so they hold in the new one too)
    val masks = removeSet.toSeq.sorted.map(entryOf).flatMap { case (_, b0, n) =>
      (b0 / 64 to (b0 + n - 1) / 64).map(g =>
        g -> ((math.max(0, b0 - g * 64), math.min(64, b0 + n - g * 64))))
    }.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toArray }
    Appended((survivors.map(db.targets) ++ newAdds.map(_._1)).toArray,
      counts, layout,
      db.plan.copy(numBins = nextBin, expectedMaxFp = maxFpReal),
      delta, masks)
  }

  /** The delta's shard pass for an update of `db`: (grp, shard, coarse
    * union — null without a coarse level) per touched group, plus a
    * null-shard row per `maskGroups` group the delta misses. */
  private def deltaShards(spark: SparkSession, db: SketchDb,
      hashed: DataFrame, entries: Seq[(String, Int, Int)],
      maskGroups: Seq[Int]): Dataset[(Int, Array[Byte], Array[Byte])] = {
    import spark.implicits._
    val coarse = Option(db.coarse).map(c => (c.bitsPerBin, c.numHashes))
    shardPass(spark, hashed, db.plan, entries, coarse, maskGroups)
      .select(col("grp"), col("shard"),
        if (coarse.isDefined) col("coarse")
        else lit(null).cast("binary").as("coarse"))
      .as[(Int, Array[Byte], Array[Byte])]
  }

  /** The one per-group delta apply of [[update]] and [[updateStored]]:
    * zero the group's removed bin ranges `mask` in `old` (IN PLACE — pass
    * a private copy), OR the aggregated `delta` shard in (null: mask only)
    * and re-window it to the group's bin count in the updated layout
    * (`numBins`; appends extending the last old group only widen the
    * header). None when the group has neither an old shard nor a delta. */
  private def applyGroup(g: Int, old: Option[InterleavedBloom],
      delta: Array[Byte], mask: Array[(Int, Int)],
      numBins: Int): Option[InterleavedBloom] = {
    old.foreach(o => mask.foreach { case (lo, hi) => o.zeroBins(lo, hi) })
    if (delta == null) old
    else {
      val d = windowed(InterleavedBloom.fromBytes(delta), g, numBins)
      old.foreach { o =>
        var i = 0
        while (i < d.words.length) { d.words(i) |= o.words(i); i += 1 }
      }
      Some(d)
    }
  }

  /** `coarse` re-strided to `nGroups` groups with the delta groups' union
    * Blooms ORed in (a Bloom cannot forget, so removals leave it an upper
    * bound); null without a coarse level. */
  private def coarseWith(coarse: InterleavedBloom, nGroups: Int,
      unions: Seq[(Int, Array[Byte])]): InterleavedBloom =
    if (coarse == null) null
    else {
      // the coarse's word columns, re-stitched into the wider group space
      val out = InterleavedBloom.stitch(
        Array.tabulate(coarse.wordsPerRow)(coarse.group), nGroups)
      unions.foreach { case (g, cb) =>
        if (cb != null) out.orBin(g, Bloom.fromBytes(cb))
      }
      out
    }

  /**
   * Incremental update of a STORED two-level db — the O(delta) case the
   * shard layout was built for (`ganon update` on the layout you actually
   * run at scale; reference src/ganon/build_update.py:157): only the
   * 64-bin groups touched by added/removed targets have their
   * `grp_<g>.bin` blobs rewritten; untouched shards are never read.
   *
   * Same frozen-plan semantics as [[update]]: new targets get fresh bins
   * appended (split at the planned capacity), removed targets' bin columns
   * are zeroed in their shard blobs, existing targets' new content routes
   * into their existing bins. Removal cannot delete from the COARSE filter
   * (a Bloom has no removal) — coarse counts stay an upper bound, so
   * pruning remains lossless and removed groups are merely probed once
   * before their zeroed fine bins report nothing.
   *
   * Work split: the delta aggregation is distributed and shuffles only
   * into the groups the commit touches (delta groups plus masked groups),
   * so its task count follows the delta, not the store's width. Each
   * touched group's mask + OR-merge + rewrite happens on the executor that
   * aggregated it, all in one job; removal-ONLY groups (masked but
   * receiving no delta) ride in that job as null-shard rows — removing a
   * mega-target split across thousands of groups never funnels blob I/O
   * through the driver. The manifest commits last.
   *
   * SNAPSHOT ISOLATION: the update reads generation N's blobs and writes
   * only `shards_v<N+1>/`, flipping CURRENT after the new manifest lands —
   * committed blobs are never mutated. A store-backed db loaded before (or
   * DURING) the update keeps serving generation N's exact bits; loads
   * after the flip see N+1. Concurrent updates are excluded by the
   * generation lock (the second claimant fails fast). A crash mid-update
   * leaves CURRENT at N — the store stays loadable and correct.
   */
  def updateStored(spark: SparkSession, dir: String, addDf: DataFrame,
      targetCol: String, contentCol: String,
      removeTargets: Seq[String] = Nil,
      commitTag: Option[(String, Long)] = None): SketchDb = {
    import spark.implicits._
    val db0 = graft.io.SketchStore.loadAny(spark, dir)
    require(!db0.isResident, s"$dir holds a legacy flat-layout store, " +
      "which has no shard blobs to rewrite: load it, update() it in memory " +
      "and save the result as a new store")
    val p = db0.params
    // pass 1 on the delta only; the same projection feeds the shard pass
    val hashedOpt =
      Option(addDf).map(hashedProjection(_, targetCol, contentCol, p))
    val a = appendLayout(spark, db0, hashedOpt, removeTargets)
    val nGroupsNew = a.layout.numGroups
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val hconf = spark.sparkContext.hadoopConfiguration

    // claim the NEXT generation and write only into its shard dir; the old
    // generation's blobs are read-only inputs (snapshot isolation)
    val gens0 = db0.shardGens
    val oldNumGroups = db0.layout.numGroups
    val gen = db0.generation + 1
    graft.io.SketchStore.claimGeneration(hconf, dir, gen)
    graft.io.SketchStore.releaseClaimOnFailure(hconf, dir, gen) {
    val newShardDir = graft.io.SketchStore.shardDirOf(dir, gen)
    graft.io.SketchStore.clearClaimedShardDir(hconf, newShardDir)

    // 1. ONE executor job rewrites every touched group: delta groups come
    //    out of the shard pass, masked groups ride along as null-shard
    //    rows. Each row's executor reads the OLD blob (pinned generation),
    //    applies the group (no driver-side blob I/O) and writes the NEW
    //    generation's blob; only the written groups and their coarse deltas
    //    return to the driver
    val numBinsNew = a.layout.numBins
    val maskB = spark.sparkContext.broadcast(a.masks)
    val masked = a.masks.keys.toSeq.sorted
    val rows: Option[Dataset[(Int, Array[Byte], Array[Byte])]] =
      hashedOpt.filter(_ => a.delta.nonEmpty) match {
        case Some(h) => Some(deltaShards(spark, db0, h, a.delta, masked))
        case None if masked.nonEmpty =>
          Some(masked.map(g => (g, null: Array[Byte], null: Array[Byte])).toDS())
        case None => None
      }
    val written: Array[(Int, Array[Byte])] = rows.map(_.mapPartitions { iter =>
      val masks = maskB.value
      iter.flatMap { case (g, blob, coarseBlob) =>
        val old =
          if (g < oldNumGroups)
            graft.io.SketchStore.readShardBlob(conf.value, dir, gens0, g)
          else None
        // a masked sentinel group has no old blob and no delta: nothing to
        // write, so its pointer keeps the sentinel
        applyGroup(g, old, blob, masks.getOrElse(g, Array.empty), numBinsNew)
          .map { sh =>
            graft.io.SketchStore.writeShardBlob(conf.value, newShardDir, g,
              sh.toBytes)
            (g, if (blob == null) null else coarseBlob)
          }
      }
    }.collect()).getOrElse(Array.empty)
    // the one consumer of the mask has completed — destroy the broadcast
    // now rather than leaking one per update on a long-lived session
    maskB.destroy()

    // 2. per-group generation pointers: groups whose blob was WRITTEN this
    //    generation point at it; untouched groups keep their old pointers
    //    (the O(delta) property — nothing is copied or hard-linked)
    val writtenSet = written.map(_._1).toSet
    val gens1 = Array.tabulate(nGroupsNew) { g =>
      if (writtenSet(g)) gen
      else if (g < gens0.length) gens0(g)
      // appended group with no delta rows: no blob on disk — the sentinel
      // says so explicitly, so readers probe it as empty instead of
      // mistaking it for a lost blob (which fails fast)
      else graft.io.SketchStore.NoBlobGen
    }

    // 3. manifest + CURRENT flip LAST (the commit point)
    val db = SketchDb.stored(spark,
      coarseWith(db0.coarse, nGroupsNew, written.toSeq), a.targets, a.counts,
      a.layout, p, a.plan, dir, gen, gens1)
    graft.io.SketchStore.writeManifest(spark, db, dir, gen, gens1, commitTag)
    db
    } // releaseClaimOnFailure
  }

  /** Degradation report of a stored two-level db after update cycles:
    * `holeFrac` = fraction of allocated technical bins that are masked
    * holes (removed targets' bins stay allocated — updateStored cannot
    * re-route survivors), `fpDrift` = realized expectedMaxFp over the
    * configured budget (grown targets exceed their planned capacity), and
    * whether either crosses its threshold — the [[compactStored]] trigger.
    * Metadata-only: no blob is read. */
  final case class CompactionStats(holeFrac: Double, fpDrift: Double,
      advised: Boolean)

  def compactionAdvised(spark: SparkSession, dir: String,
      holeFracMax: Double = 0.3, fpDriftMax: Double = 2.0): CompactionStats = {
    val m = graft.io.SketchStore.readManifest(spark, dir)
    val live = m.layout.split.map(_.toLong).sum
    val holeFrac = 1.0 - live.toDouble / math.max(1, m.layout.numBins)
    val fpDrift = m.plan.expectedMaxFp / m.params.maxFp
    CompactionStats(holeFrac, fpDrift,
      holeFrac > holeFracMax || fpDrift > fpDriftMax)
  }

  /**
   * Compact a stored two-level db (capability of the reference's layout
   * rebuild on update, src/ganon/build_update.py:157): squeeze the masked
   * holes removed targets leave behind, re-fit bin capacity to the
   * CURRENT cardinalities (clearing any expectedMaxFp drift from grown
   * targets), and re-derive the coarse filter from the surviving hash
   * sets (a Bloom cannot forget, so coarse staleness otherwise grows
   * unboundedly across update cycles — SURVEY §2; [[compactionAdvised]]
   * is the trigger). Pass 1 is SKIPPED — the sizing reuses the manifest's
   * per-target cardinalities — so compaction costs ONE content scan (the
   * re-shard), half a fresh build. The result commits as the next
   * generation of the same store: pinned readers keep their snapshot,
   * and [[graft.io.SketchStore.gcGenerations]] reclaims the old layout.
   *
   * `df` must hold the content of exactly the store's CURRENT targets
   * (`targetCol` matching the manifest's target set): rows for unknown
   * targets are ignored by the shard rout(e)ing join, and a target absent
   * from `df` would come back with empty bins.
   */
  def compactStored(spark: SparkSession, dir: String, df: DataFrame,
      targetCol: String, contentCol: String): SketchDb =
    compactStoredFrom(spark, dir, df, targetCol, contentCol,
      graft.io.SketchStore.readManifest(spark, dir))

  /** [[compactStored]] body, split at the manifest read so the
    * stale-manifest race (an update committing between the read and the
    * generation claim) is deterministically testable. */
  private[graft] def compactStoredFrom(spark: SparkSession, dir: String,
      df: DataFrame, targetCol: String, contentCol: String,
      m: graft.io.SketchStore.Manifest): SketchDb = {
    val p = m.params
    // fresh plan from the manifest's survivor cardinalities: holes gone,
    // capacity re-fit, split counts re-derived
    val cards = m.targets.zip(m.counts).sortBy(_._1).toSeq
    val (thePlan, layout) = plan(cards, p)
    val binsDf = shardPass(spark, hashedProjection(df, targetCol, contentCol, p),
      thePlan, entriesOf(cards, layout),
      Some(coarseSizing(cards, layout, p.maxFp)))
    storeGeneration(spark, dir, p, cards, thePlan, layout, binsDf,
      basedOnGen = Some(m.generation))
  }

  /** Resume guard: a checkpoint is only valid for the PARAMS that produced
    * it. The fingerprint is written next to the data and checked on
    * resume — a changed maxFp/k/w/seed recomputes instead of silently
    * stitching stale shards into a differently-sized plan. (Same INPUT
    * data per checkpointDir remains the caller's contract, as with any
    * path-keyed checkpoint.) */
  private def paramsTag(p: IbfParams): String =
    s"k=${p.k};w=${p.w};seed=${p.seed};maxFp=${p.maxFp};hllP=${p.hllP};" +
      s"minLen=${p.minContentLen};mode=${p.sizingMode}"

  private def checkpointed(spark: SparkSession, dir: Option[String],
      stage: String, tag: String)(make: => DataFrame): DataFrame = dir match {
    case None => make
    case Some(d) =>
      val path = s"$d/$stage"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      val ok = new org.apache.hadoop.fs.Path(path + "/_SUCCESS")
      val tagPath = new org.apache.hadoop.fs.Path(path + "/_PARAMS")
      val tagMatches = fs.exists(tagPath) && {
        val in = fs.open(tagPath)
        try {
          val buf = new Array[Byte](fs.getFileStatus(tagPath).getLen.toInt)
          in.readFully(0, buf)
          new String(buf, java.nio.charset.StandardCharsets.UTF_8) == tag
        } finally in.close()
      }
      if (!fs.exists(ok) || !tagMatches) {
        make.write.mode("overwrite").parquet(path)
        val out = fs.create(tagPath, true)
        try out.write(tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      spark.read.parquet(path)
  }
}
