package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.build.{BinLayout, IbfParams, IbfPlan, SketchDb}
import graft.core.sketch.InterleavedBloom

/**
 * GENERATION-VERSIONED persistence of the sketch database (role of the
 * reference's cereal-serialized filter file, ganon
 * src/ganon-build/GanonBuild.cpp:251-288 and its load path
 * GanonClassify.cpp:949-986 — the reference commits a whole new filter
 * file atomically; this store does the same per 64-bin shard group, with
 * per-group generation pointers so an update stays O(delta)).
 *
 * Layout under `dir`:
 *   CURRENT                  committed generation number (the ONLY commit
 *                            point: temp-write + atomic rename-OVERWRITE)
 *   LOCK_gen_<N>             exclusive writer claim while generation N is
 *                            being produced (create-without-overwrite)
 *   gen_<N>/bins.parquet     (target, n_hashes, base, split) — the bin map
 *   gen_<N>/manifest.parquet (version, generation, layout, params, plan,
 *                            shard_gens, ibf=serialized coarse — empty
 *                            for a db without a coarse level)
 *   shards_v<N>/grp_<g>.bin  raw blobs WRITTEN BY generation N
 *
 * Snapshot isolation: `shard_gens(g)` names the generation whose
 * `shards_v<gen>/grp_<g>.bin` is group g's current blob. A writer never
 * mutates an existing blob — updates write only into `shards_v<N+1>/` and
 * flip CURRENT last — so a reader (or a long-lived store-backed
 * [[SketchDb]] handle) that loaded generation N keeps reading exactly
 * generation N's bits for its whole lifetime, even across concurrent
 * updates. A crash mid-update leaves CURRENT at N: the store stays
 * loadable and correct, and the partial `shards_v<N+1>` garbage is
 * invisible (GC'able).
 * Superseded generations are reclaimed by [[gcGenerations]] after a
 * configurable grace of pinned snapshots.
 *
 * Bin metadata stays relational (queryable/joinable); bit-matrices ride as
 * raw per-group blobs — the executor-side lazy-load unit (one open+read
 * per group, no parquet machinery inside tasks), written straight from
 * executors by `SketchBuild.buildToStore` / `updateStored`.
 */
object SketchStore {

  val FormatVersion = 6

  // ---- generation plumbing -------------------------------------------------

  private def currentPath(dir: String) = new Path(s"$dir/CURRENT")
  private def lockPath(dir: String, gen: Int) = new Path(s"$dir/LOCK_gen_$gen")
  private[graft] def genDir(dir: String, gen: Int) = s"$dir/gen_$gen"
  private def shardDirOf(dir: String, gen: Int) = s"$dir/shards_v$gen"

  /** The committed generation, if the dir holds a store. */
  def currentGeneration(conf: Configuration, dir: String): Option[Int] =
    readSmall(conf, currentPath(dir)).map(_.trim.toInt)

  /** A small control file's whole content (UTF-8); None when it does not
    * exist. The one read behind CURRENT, ingest markers, pins and build
    * checkpoint tags. */
  private[graft] def readSmall(conf: Configuration, p: Path): Option[String] = {
    val in =
      try Some(p.getFileSystem(conf).open(p))
      catch { case _: java.io.FileNotFoundException => None }
    in.map(s => try new String(s.readAllBytes(), UTF_8) finally s.close())
  }

  /** The one atomic publish of this store: write into a uniquely named tmp
    * sibling of `dest` (`.<name>.<uuid>.tmp`, the shape gc's `.grp_*` and
    * `.pin_*` sweeps reclaim), then OVERWRITE-rename it onto `dest`
    * (FileContext, atomic on HDFS and posix). Concurrent writers of one
    * path (task retries, speculative attempts) never interleave bytes, and
    * a racing reader sees the old file or the new one, never a partial or
    * missing one. A failed rename removes the tmp and goes to `onFailure`,
    * the caller's rule; by default it propagates. */
  private def publish(conf: Configuration, dest: Path,
      onFailure: (FileSystem, Throwable) => Unit = (_, e) => throw e)(
      write: java.io.OutputStream => Unit): Unit = {
    val fs = dest.getFileSystem(conf)
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try write(out) finally out.close()
    try FileContext.getFileContext(dest.toUri, conf)
      .rename(tmp, dest, Options.Rename.OVERWRITE)
    catch {
      case e: Throwable =>
        fs.delete(tmp, false)
        onFailure(fs, e)
    }
  }

  /** Claim exclusive authorship of generation `gen` (create-no-overwrite of
    * the lock file). A held lock means another writer is producing this
    * generation RIGHT NOW — or crashed mid-write; since the two are
    * indistinguishable from the filesystem, the error says how to recover
    * ([[releaseStaleLocks]] once no writer is running). */
  private[graft] def claimGeneration(conf: Configuration, dir: String,
      gen: Int): Unit = {
    val lock = lockPath(dir, gen)
    val fs = lock.getFileSystem(conf)
    fs.mkdirs(new Path(dir))
    def alreadyClaimed(e: java.io.IOException): Nothing =
      throw new IllegalStateException(
        s"generation $gen of sketch store $dir is already claimed by " +
          "another writer (concurrent build/update in flight, or a " +
          "crashed one). If no writer is running, call " +
          "SketchStore.releaseStaleLocks(spark, dir) and retry.", e)
    try fs.create(lock, false).close()
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        alreadyClaimed(e)
      case e: java.io.IOException =>
        // a filesystem that signals exists-collisions with a bare
        // IOException vs a REAL I/O fault (connection reset, safe-mode,
        // permissions): only report "claimed" when the lock is actually
        // there — misdiagnosing an outage as a claim sends the operator
        // to releaseStaleLocks, which cannot help
        if (try fs.exists(lock) catch { case _: java.io.IOException => false })
          alreadyClaimed(e)
        else throw e
    }
    // post-claim staleness check: a writer that loaded the SAME base
    // generation may have committed this gen and released its lock between
    // our load and our claim — the lock file is recreatable, so the claim
    // alone can't see that. CURRENT only advances under this very lock, so
    // holding it makes the re-read race-free: CURRENT >= gen means our
    // snapshot is stale and writing would mutate a COMMITTED generation.
    if (currentGeneration(conf, dir).exists(_ >= gen)) {
      fs.delete(lock, false)
      throw new IllegalStateException(
        s"sketch store $dir advanced to generation >= $gen while this " +
          "writer was preparing (a concurrent update committed first); " +
          "reload the store and retry against the new snapshot")
    }
  }

  private def releaseLock(conf: Configuration, dir: String, gen: Int): Unit = {
    val lock = lockPath(dir, gen)
    lock.getFileSystem(conf).delete(lock, false)
  }

  /** Drop lock files of UNCOMMITTED generations (gen > CURRENT) — the
    * residue of crashed writers. Only call when no writer is running. */
  def releaseStaleLocks(spark: SparkSession, dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = currentGeneration(conf, dir).getOrElse(0)
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) return 0
    val stale = fs.listStatus(d).map(_.getPath).filter { p =>
      p.getName.startsWith("LOCK_gen_") &&
        p.getName.stripPrefix("LOCK_gen_").toInt > cur
    }
    stale.foreach(fs.delete(_, false))
    stale.length
  }

  // ---- the one generation commit ---------------------------------------------

  /**
   * Commit one new generation of the store at `dir` — the write protocol
   * of every store writer (`buildToStore`, `updateStored`, `compactStored`,
   * [[save]]):
   *
   *  1. pick the generation: `basedOn + 1` for a writer planned from a
   *     generation it read, so an interleaved commit since that read fails
   *     the claim instead of being silently discarded (a lost update);
   *     CURRENT + 1 for a writer with no base (a fresh build, a save);
   *  2. claim it, and clear its shard dir: a crashed earlier attempt's
   *     partial blobs go, so any blob at this generation's paths during
   *     the job was written by a duplicate attempt of THIS job, hence has
   *     identical bytes (the invariant [[writeShardBlob]] relies on);
   *  3. run `blobs(gen, shardDir)`, the caller's blob job, which returns
   *     the store-backed db of the new generation;
   *  4. write bins + manifest + ingest marker into the fresh `gen_<gen>/`
   *     (never an overwrite of live metadata), then flip CURRENT (the one
   *     commit point) and release the claim.
   *
   * Any failure releases the claim before it propagates: the lock guards
   * an UNCOMMITTED generation this process claimed, and the next claimant
   * clears its partial output, so a transient job failure never turns
   * into write-unavailability. `ingestTag` = (ingestId, batchId) of the
   * stream batch this generation applies (see [[writeIngestMarker]]).
   */
  private[graft] def commitGeneration(spark: SparkSession, dir: String,
      basedOn: Option[Int], ingestTag: Option[(String, Long)] = None)(
      blobs: (Int, String) => SketchDb): SketchDb = {
    val conf = spark.sparkContext.hadoopConfiguration
    val gen = basedOn.getOrElse(currentGeneration(conf, dir).getOrElse(0)) + 1
    claimGeneration(conf, dir, gen)
    try {
      val shardDir = new Path(shardDirOf(dir, gen))
      val fs = shardDir.getFileSystem(conf)
      if (fs.exists(shardDir)) fs.delete(shardDir, true)
      val db = blobs(gen, shardDir.toString)
      // control-plane write: a handful of rows — direct driver parquet I/O
      // (ParquetMeta), not a scheduled Spark job per file; the ~100 ms/job
      // scheduler latency was the commit-latency floor for streaming ingest
      val gd = genDir(dir, gen)
      ParquetMeta.writeBins(conf, new Path(s"$gd/bins.parquet"),
        db.targets.indices.map { i =>
          (db.targets(i), db.targetHashes(i), db.layout.base(i),
            db.layout.split(i))
        })
      ParquetMeta.writeManifestRow(conf, new Path(s"$gd/manifest.parquet"),
        ParquetMeta.ManifestRow(FormatVersion, gen, "two", db.params.k,
          db.params.w, db.params.seed, db.params.maxFp, db.params.hllP,
          db.params.minContentLen, db.params.sizingMode, db.plan.bitsPerBin,
          db.plan.numHashes, db.plan.maxHashesBin, db.plan.numBins,
          db.shardGens,
          if (db.coarse == null) Array.emptyByteArray else db.coarse.toBytes))
      writeIngestMarker(conf, dir, gen, ingestTag)
      publish(conf, currentPath(dir))(_.write(gen.toString.getBytes(UTF_8)))
      releaseLock(conf, dir, gen)
      db
    } catch {
      case e: Throwable =>
        try releaseLock(conf, dir, gen)
        catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    }
  }

  // ---- ingest commit log -----------------------------------------------------

  private def ingestMarkerPath(dir: String, gen: Int) =
    new Path(s"${genDir(dir, gen)}/INGEST_COMMIT")

  /** Write the ingest-commit marker for `gen`. Runs BEFORE the CURRENT
    * flip, so the marker is atomic with the generation it describes: a
    * crash between a store commit and the stream's own checkpoint commit
    * leaves a marker the replayed batch will see. The marker holds ONE
    * `id\tbatch` LINE PER ingestId (newest commit last): generation
    * N-1's entries, plus this id's entry merged to the max applied batch
    * when `tag` is set — two interleaved logical ingest streams each keep
    * their own progress, so stream B's commit can never erase stream A's
    * replay protection, and a non-ingest commit (manual
    * update/compact/rebuild interleaved with an ingest stream) carries the
    * entries forward, so `gen_<CURRENT>/` always holds the latest applied
    * batches even when ingest generations have been gc'd. */
  private def writeIngestMarker(conf: Configuration, dir: String, gen: Int,
      tag: Option[(String, Long)]): Unit = {
    val prev =
      if (gen > 1) readMarkerEntries(conf, ingestMarkerPath(dir, gen - 1))
      else Nil
    val entries = tag.fold(prev) { case (id, batch) =>
      require(!id.contains('\t') && !id.contains('\n'),
        s"ingest id must not contain tab/newline: $id")
      prev.filterNot(_._1 == id) :+
        ((id, math.max(batch, prev.toMap.getOrElse(id, Long.MinValue))))
    }
    if (entries.nonEmpty) {
      val dest = ingestMarkerPath(dir, gen)
      val out = dest.getFileSystem(conf).create(dest, true)
      try out.write(entries.map { case (i, b) => s"$i\t$b" }.mkString("\n")
        .getBytes(UTF_8))
      finally out.close()
    }
  }

  private def readMarkerEntries(conf: Configuration,
      p: Path): Seq[(String, Long)] =
    readSmall(conf, p).toSeq.flatMap(_.split('\n').toSeq).map(_.trim)
      .filter(_.nonEmpty).flatMap { line =>
        val i = line.lastIndexOf('\t')
        if (i < 0) None else Some((line.substring(0, i),
          line.substring(i + 1).toLong))
      }

  /** The (ingestId, batchId) of the newest stream batch applied to this
    * store, if any (the marker's last line). For the replay check itself
    * use [[ingestCommits]] — the skip must be scoped to ITS OWN ingestId,
    * or an interleaved second stream's commit would defeat it. */
  def lastIngestCommit(conf: Configuration, dir: String): Option[(String, Long)] =
    currentGeneration(conf, dir).flatMap { gen =>
      readMarkerEntries(conf, ingestMarkerPath(dir, gen)).lastOption
    }

  /** Per-ingestId newest applied batch — one entry per logical ingest
    * stream that ever committed to this store. */
  def ingestCommits(conf: Configuration, dir: String): Map[String, Long] =
    currentGeneration(conf, dir) match {
      case None => Map.empty
      case Some(gen) =>
        readMarkerEntries(conf, ingestMarkerPath(dir, gen)).toMap
    }

  /**
   * Write a db into `dir` as a fresh, self-contained store generation:
   * per-group shard blobs plus the manifest, which carries the coarse
   * filter when the db has one. A resident db writes its shards from the
   * driver; a store-backed db copies its PINNED snapshot — every referenced blob is
   * re-homed under the ONE new generation (per-group generation pointers
   * collapse to it). The manifest commits last — the usual CURRENT-flip
   * discipline, so a crashed save leaves `dir` unchanged-or-previous,
   * never torn.
   *
   * Store-backed blob copies run one task per group on executors as
   * bounded-buffer stream copies (no whole-blob byte[], so >2 GB groups
   * are fine): a 300+ GB store exports at cluster width while the driver
   * moves only the manifest. The source is never mutated, and because the
   * copy reads the handle's per-group generation POINTERS (not the
   * source's CURRENT), a concurrent update to the source store cannot
   * tear the exported snapshot — this is "back up the exact bits this
   * handle serves". Saving a handle onto its own store is an error: that
   * snapshot already lives there.
   */
  def save(spark: SparkSession, db: SketchDb, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val nG = db.layout.numGroups
    if (!db.isResident) {
      // fully-qualified comparison (scheme + authority + resolved path): a
      // relative spelling of the source dir must not slip past the guard,
      // and the same path on two DIFFERENT filesystems is a legitimate
      // cross-filesystem backup, not a self-export
      def qualified(d: String) = {
        val p = new Path(d); p.getFileSystem(conf).makeQualified(p)
      }
      require(qualified(dir) != qualified(db.storeDir),
        s"export destination ${qualified(dir)} is the source store itself " +
          "— the snapshot already lives there; pick a different directory")
    }
    commitGeneration(spark, dir, basedOn = None) { (gen, shardDir) =>
      val shardGens =
        if (db.isResident) {
          (0 until nG).foreach(g =>
            writeShardBlob(conf, shardDir, g, db.shard(g).toBytes))
          Array.fill(nG)(gen)
        } else {
          copyPinnedBlobs(spark, db, shardDir)
          // blob-less groups keep their sentinel — pointing them at the
          // new generation would read as "blob lost"
          db.shardGens.map(v => if (v == NoBlobGen) NoBlobGen else gen)
        }
      SketchDb.stored(spark, db.coarse, db.targets, db.targetHashes,
        db.layout, db.params, db.plan, dir, gen, shardGens)
    }
  }

  def saveTwoLevel(spark: SparkSession, db: SketchDb, dir: String): Unit =
    save(spark, db, dir)

  /** Stream-copy every blob a store-backed handle pins into `destShardDir`
    * (one task per group; NoBlobGen groups are legitimately blob-less). */
  private def copyPinnedBlobs(spark: SparkSession, db: SketchDb,
      destShardDir: String): Unit = {
    val srcDir = db.storeDir
    val srcGens = db.shardGens
    val nG = db.layout.numGroups
    val hc = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(0 until nG,
        math.min(nG, spark.sparkContext.defaultParallelism)).foreach { g =>
      if (srcGens(g) != NoBlobGen) {
        val c = hc.value
        val src = new Path(s"$srcDir/shards_v${srcGens(g)}/grp_$g.bin")
        val srcFs = src.getFileSystem(c)
        val len =
          try srcFs.getFileStatus(src).getLen
          catch {
            case e: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"shard blob $src missing during snapshot export — the " +
                  "handle's generation was gc'd underneath it", e)
          }
        val dest = new Path(s"$destShardDir/grp_$g.bin")
        val in = srcFs.open(src)
        try publish(c, dest, unlessBlobCommitted(dest, len))(out =>
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, false))
        finally in.close()
      }
    }
  }

  // ---- blobs ---------------------------------------------------------------

  /** Publish group g's blob. A blob path is deterministic per (generation,
    * group), so duplicate attempts of the writing job publish identical
    * bytes. */
  private[graft] def writeShardBlob(conf: Configuration,
      shardDir: String, g: Int, bytes: Array[Byte]): Unit = {
    val dest = new Path(s"$shardDir/grp_$g.bin")
    publish(conf, dest, unlessBlobCommitted(dest, bytes.length))(
      _.write(bytes))
    shardBlobWrites.incrementAndGet()
  }

  /** A blob's failure rule: a failed rename is forgiven ONLY when `dest`
    * is positively confirmed as the bytes we meant to write (same length;
    * content is deterministic per path). Any other dest is stale or
    * foreign: the failure surfaces rather than silently serving old bits
    * under a new manifest. */
  private def unlessBlobCommitted(dest: Path, expectedLen: Long)(
      fs: FileSystem, e: Throwable): Unit =
    if (!(fs.exists(dest) && fs.getFileStatus(dest).getLen == expectedLen))
      throw new java.io.IOException(s"failed to commit shard blob $dest", e)

  /** Per-group generation-pointer sentinel: the group LEGITIMATELY has no
    * blob (an updateStored-appended group that received zero delta
    * hashes). Distinguishes "probe as all-empty bins" from a blob that
    * SHOULD exist but is gone (superseded generation gc'd under a pinned
    * handle, or store corruption) — the latter must fail fast, never
    * silently classify as if the group were empty. */
  private[graft] final val NoBlobGen = -1

  /** Read group g's blob through its generation pointer. None ONLY for
    * the [[NoBlobGen]] sentinel (legitimately blob-less group); a missing
    * file under a real pointer THROWS — serving empty bins there would
    * silently drop every match the group held. Streams into the word
    * array in chunks, so blobs past 2 GB (plausible per-group at the
    * reference's 300-500 GB database scale) never need one giant byte[]. */
  private[graft] def readShardBlob(conf: Configuration, dir: String,
      shardGens: Array[Int], g: Int): Option[InterleavedBloom] =
    if (shardGens(g) == NoBlobGen) None
    else {
      val path = new Path(s"${shardDirOf(dir, shardGens(g))}/grp_$g.bin")
      val in =
        try path.getFileSystem(conf).open(path)
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"shard blob grp_$g.bin missing at generation ${shardGens(g)} " +
                s"under $dir — a superseded generation was gc'd while a " +
                "handle was still pinned to it (raise gcGenerations " +
                "keepGens), or the store is corrupt", e)
        }
      shardBlobReads.incrementAndGet()
      try Some(readIbfStream(in)) finally in.close()
    }

  /** JVM-wide count of shard-blob fetches (observability: in local mode
    * it proves cache-warmth claims — e.g. a live-store stream reusing one
    * broadcast per generation fetches each shard ONCE across
    * micro-batches, not once per batch). */
  val shardBlobReads = new java.util.concurrent.atomic.AtomicLong()

  /** JVM-wide count of shard blobs written (observability: in local mode
    * it proves a commit rewrites only the groups it touches). */
  val shardBlobWrites = new java.util.concurrent.atomic.AtomicLong()

  /** Chunked deserialization of [[InterleavedBloom.toBytes]]' layout
    * (20-byte header + little-endian longs) from a positioned stream. */
  private def readIbfStream(in: org.apache.hadoop.fs.FSDataInputStream)
      : InterleavedBloom = {
    val hdr = new Array[Byte](20)
    in.readFully(hdr)
    val hb = java.nio.ByteBuffer.wrap(hdr)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val numBins = hb.getInt(); val bitsPerBin = hb.getLong()
    val numHashes = hb.getInt(); val n = hb.getInt()
    val words = new Array[Long](n)
    val chunkWords = 1 << 19 // 4 MB chunks
    val buf = new Array[Byte](chunkWords * 8)
    var w = 0
    while (w < n) {
      val take = math.min(chunkWords, n - w)
      in.readFully(buf, 0, take * 8)
      val bb = java.nio.ByteBuffer.wrap(buf, 0, take * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < take) { words(w + i) = bb.getLong(); i += 1 }
      w += take
    }
    new InterleavedBloom(numBins, bitsPerBin, numHashes, words)
  }

  // ---- load ----------------------------------------------------------------

  private[graft] final case class Manifest(
      params: IbfParams, layout: BinLayout, plan: IbfPlan,
      targets: Array[String], counts: Array[Long], ibfBytes: Array[Byte],
      layoutKind: String, generation: Int, shardGens: Array[Int])

  private[graft] def readManifest(spark: SparkSession, dir: String): Manifest = {
    val conf = spark.sparkContext.hadoopConfiguration
    val gen = currentGeneration(conf, dir).getOrElse {
      // a ROOT-level manifest without CURRENT is a store from a pre-
      // generation format version, not an empty dir — say so instead of
      // the misleading "nothing was ever committed"
      if (new Path(s"$dir/manifest.parquet").getFileSystem(conf)
          .exists(new Path(s"$dir/manifest.parquet")))
        throw new IllegalStateException(
          s"$dir holds a store in a pre-generation format (manifest at " +
            s"the dir root, no CURRENT pointer) — unsupported by format " +
            s"version $FormatVersion; rebuild it with the current code")
      throw new IllegalStateException(
        s"$dir is not a sketch store (no CURRENT pointer) — nothing was " +
          "ever committed here, or the build crashed before its first " +
          "commit; rebuild it")
    }
    val gd = genDir(dir, gen)
    // direct driver parquet reads (no Spark job per metadata file); the
    // reader also handles directory-shaped metadata written by older
    // df.write-based generations
    val m = ParquetMeta.readManifestRow(conf,
      new Path(s"$gd/manifest.parquet"))
    require(m.version == FormatVersion, s"unsupported version ${m.version}")
    // hllP/minContentLen/sizingMode must round-trip too: update() on a
    // loaded db re-runs pass 1 with these params
    val params = IbfParams(k = m.k, w = m.w, seed = m.seed, maxFp = m.maxFp,
      hllP = m.hllP, minContentLen = m.minContentLen,
      sizingMode = m.sizingMode)
    val bins = ParquetMeta.readBins(conf, new Path(s"$gd/bins.parquet"))
      .sortBy(_._3)
    val numBins = m.numBins
    val layout = BinLayout(bins.map(_._3), bins.map(_._4), numBins)
    val plan = IbfPlan(numBins, m.bitsPerBin, m.numHashes, m.maxHashesBin,
      graft.build.Sizing.trueFalsePositive(bins.map(_._2), m.maxHashesBin,
        m.bitsPerBin, m.numHashes)._1)
    Manifest(params, layout, plan, bins.map(_._1), bins.map(_._2),
      m.ibf, m.layout, gen, m.shardGens)
  }

  /** Load the committed generation as a store-backed [[SketchDb]]: the
    * driver/broadcast footprint is coarse + metadata, and executors fetch
    * each group's blob (through its PINNED generation pointer) on first
    * probe and cache it, so no load materializes every blob on the driver
    * (at a 300+ GB store that is an OOM, not a load).
    * `spark.graft.shard.cache.bytes` bounds the per-executor resident
    * shard bytes (LRU eviction); default unbounded. A store written in the
    * legacy `flat` layout (the whole filter in the manifest row) loads
    * resident, its filter split into group shards. */
  def loadAny(spark: SparkSession, dir: String): SketchDb = {
    val m = readManifest(spark, dir)
    m.layoutKind match {
      case "two" =>
        SketchDb.stored(spark,
          if (m.ibfBytes.isEmpty) null else InterleavedBloom.fromBytes(m.ibfBytes),
          m.targets, m.counts, m.layout, m.params, m.plan, dir, m.generation,
          m.shardGens)
      case "flat" =>
        val ibf = InterleavedBloom.fromBytes(m.ibfBytes)
        SketchDb.resident(null, Array.tabulate(m.layout.numGroups)(ibf.group),
          m.targets, m.counts, m.layout, m.params, m.plan)
      case other => throw new IllegalArgumentException(s"unknown layout $other")
    }
  }

  def load(spark: SparkSession, dir: String): SketchDb = loadAny(spark, dir)

  def loadTwoLevelLazy(spark: SparkSession, dir: String): SketchDb =
    loadAny(spark, dir)

  // ---- pins ------------------------------------------------------------------

  private def pinsDir(dir: String) = new Path(s"$dir/pins")

  /**
   * Register a reader PIN on generation `gen`: [[gcGenerations]] keeps a
   * pinned generation fully readable (its metadata and every blob it
   * references) no matter how far CURRENT advances — the cooperative
   * alternative to sizing `keepGens` for the slowest reader. A long-lived
   * store-backed [[graft.build.SketchDb]] handle pins its own
   * `generation` when it will outlive the gc grace window, and MUST
   * [[unpin]] when done (a leaked pin blocks reclamation of that one
   * generation until an operator deletes `pins/pin_<id>`; gc reports what
   * it skipped, so a leak is visible, never silent). Returns the pin id.
   */
  def pin(conf: Configuration, dir: String, gen: Int): String = {
    val id = java.util.UUID.randomUUID().toString
    // published, never written in place: a concurrent gc (e.g. an ingest
    // stream's per-commit gc) must never list a visible-but-still-empty pin
    publish(conf, new Path(pinsDir(dir), s"pin_$id"))(
      _.write(gen.toString.getBytes(UTF_8)))
    id
  }

  /** Release a pin taken by [[pin]]. Idempotent. */
  def unpin(conf: Configuration, dir: String, pinId: String): Unit = {
    val p = new Path(pinsDir(dir), s"pin_$pinId")
    p.getFileSystem(conf).delete(p, false)
  }

  /** Generations currently pinned by registered readers (deduplicated).
    * Only committed `pin_*` files count — `.pin_*.tmp` residue of a
    * crashed [[pin]] is invisible (and empty/garbled files are a store
    * bug worth failing loudly on, since commits are rename-atomic). */
  def pinnedGenerations(conf: Configuration, dir: String): Seq[Int] = {
    val d = pinsDir(dir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("pin_"))
      // a pin released between the listing and its read drops out
      .flatMap(readSmall(conf, _)).map(_.trim.toInt).distinct.sorted
  }

  // ---- GC ------------------------------------------------------------------

  /** What [[gcGenerationsReport]] did: files/bytes freed, plus the
    * generations OLDER than the keep window that were kept anyway because
    * a registered [[pin]] references them. */
  final case class GcReport(files: Long, bytes: Long, pinnedKept: Seq[Int])

  /** Reclaim superseded generations, keeping the last `keepGens` SNAPSHOTS
    * fully readable (their gen_<v> metadata and every blob any of them
    * references — a pinned [[SketchDb]] handle loaded up to keepGens-1
    * generations ago keeps working). Everything older, and every blob no
    * kept snapshot references, is deleted — EXCEPT generations registered
    * in the pin directory ([[pin]]), which stay readable regardless of
    * age and are reported in [[GcReport.pinnedKept]]. Also sweeps
    * orphaned `.grp_*.tmp` files in committed shard dirs (residue of
    * executor attempts that lost the commit rename race after their
    * generation committed — no committed reader ever references a tmp
    * path). Run it after updates once unpinned in-flight readers have
    * drained past the grace window. */
  def gcGenerations(spark: SparkSession, dir: String,
      keepGens: Int = 2): (Long, Long) = {
    val r = gcGenerationsReport(spark, dir, keepGens)
    (r.files, r.bytes)
  }

  def gcGenerationsReport(spark: SparkSession, dir: String,
      keepGens: Int = 2): GcReport = {
    require(keepGens >= 1, "must keep at least the current generation")
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = currentGeneration(conf, dir)
      .getOrElse(return GcReport(0L, 0L, Nil))
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val oldest = math.max(1, cur - keepGens + 1)
    // pins inside the keep window are covered anyway; pins on uncommitted
    // generations (> cur) reference nothing reclaimable
    val pinnedOld = pinnedGenerations(conf, dir)
      .filter(v => v >= 1 && v < oldest)
    val pinnedSet = pinnedOld.toSet
    // union of (gen, group) blob references across kept + pinned snapshots
    val needed = ((oldest to cur) ++ pinnedOld).flatMap { v =>
      val mp = new Path(s"${genDir(dir, v)}/manifest.parquet")
      if (!fs.exists(mp)) Nil
      else ParquetMeta.readShardGens(conf, mp).zipWithIndex
    }.toSet
    var files = 0L
    var bytes = 0L
    fs.listStatus(d).map(_.getPath).foreach { p =>
      val name = p.getName
      if (name.startsWith("gen_")) {
        val v = name.stripPrefix("gen_").toInt
        if (v < oldest && !pinnedSet(v)) {
          bytes += fs.getContentSummary(p).getLength
          files += 1
          fs.delete(p, true)
        }
      } else if (name.startsWith("shards_v")) {
        val v = name.stripPrefix("shards_v").toInt
        if (v <= cur) fs.listStatus(p).foreach { st =>
          val bn = st.getPath.getName
          if (bn.matches("grp_\\d+\\.bin")) {
            val g = bn.stripPrefix("grp_").stripSuffix(".bin").toInt
            if (!needed((v, g))) {
              files += 1
              bytes += st.getLen
              fs.delete(st.getPath, false)
            }
          } else if (bn.startsWith(".") && bn.endsWith(".tmp")) {
            // a committed generation's leftover tmp (e.g. a speculative
            // duplicate attempt that lost the rename race mid-write):
            // unreferenced by construction, reclaim it
            files += 1
            bytes += st.getLen
            fs.delete(st.getPath, false)
          }
        }
        if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, true)
      } else if (name == "pins") {
        // residue of a pin() that crashed between create and rename:
        // invisible to pinnedGenerations but otherwise immortal. Unlike
        // shard tmps (provably dead once their generation committed), a
        // pin tmp has no commit point to gate on — an IN-FLIGHT pin()
        // looks identical to a crashed one — so only sweep tmps older
        // than a grace window no healthy create-to-rename gap can reach
        val grace = 10 * 60 * 1000L
        val now = System.currentTimeMillis()
        fs.listStatus(p).foreach { st =>
          val bn = st.getPath.getName
          if (bn.startsWith(".pin_") && bn.endsWith(".tmp") &&
              now - st.getModificationTime > grace) {
            files += 1
            bytes += st.getLen
            fs.delete(st.getPath, false)
          }
        }
      } else if (name.startsWith("LOCK_gen_") &&
          name.stripPrefix("LOCK_gen_").toInt <= cur) {
        fs.delete(p, false) // committed generations never hold a live lock
      }
    }
    GcReport(files, bytes, pinnedOld)
  }
}
