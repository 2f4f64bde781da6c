package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, Trigger}
import org.apache.spark.sql.Row

import graft.build.ProbeDb
import graft.classify.{Classify, ClassifyParams}
import graft.core.Hashing
import graft.core.sketch.Hll

/**
 * Structured-Streaming classify mode: the reference's pipelined
 * reader -> classifier -> writer thread dataflow (ganon
 * GanonClassify.cpp:1426-1441, bounded SafeQueues) maps onto micro-batches
 * probing the broadcast sketch. The probe is stateless/map-only, so any
 * output mode works and no watermark is required (the reference has no
 * event time either — SURVEY.md §2.9).
 */
object StreamClassify {

  /** Per-micro-batch classification: returns a streaming DataFrame of
    * (read_id, target, kmer_count). */
  def matchesStream(spark: SparkSession, stream: DataFrame, idCol: String,
      contentCol: String, db: ProbeDb,
      cp: ClassifyParams = ClassifyParams()): DataFrame = {
    // Classify.classify is plan-level (select + mapPartitions) — it applies
    // unchanged to a streaming child plan
    Classify.allMatches(
      Classify.classify(spark, stream, idCol, contentCol, db, cp))
  }

  /**
   * Streaming exact dedup: keep the FIRST occurrence of each content
   * digest across micro-batches (the training-pipeline dedup gate, run
   * continuously). The dedup key is the BINARY 32-byte sha-256 (not its
   * 64-char hex), so state is one 32-byte key per distinct content —
   * content bytes never enter the state store. With a watermark the state
   * is BOUNDED (`dropDuplicatesWithinWatermark`): duplicates separated by
   * more than the watermark re-emit, the standard tradeoff for unbounded
   * streams; without one, dedup is exact and state grows with distinct
   * content. Use outputMode("append").
   */
  def dedupStream(stream: DataFrame, contentCol: String,
      tsCol: Option[String] = None,
      watermark: Option[String] = None): DataFrame = {
    require(tsCol.isDefined == watermark.isDefined,
      "tsCol and watermark must be supplied together — a lone watermark " +
        "would silently fall back to UNBOUNDED dedup state")
    val keyed = stream.withColumn("digest", unhex(sha2(col(contentCol), 256)))
    (tsCol, watermark) match {
      case (Some(ts), Some(wm)) =>
        keyed.withColumn("__ts", col(ts).cast("timestamp"))
          .withWatermark("__ts", wm)
          .dropDuplicatesWithinWatermark("digest")
          .drop("__ts")
      case _ => keyed.dropDuplicates("digest")
    }
  }

  /**
   * Streaming hierarchy CASCADE — the reference's per-level barriers
   * (GanonClassify.cpp:1461-1639) run per micro-batch: reads are
   * independent rows and level barriers are intra-read, so the streaming
   * answer over any prefix equals the batch cascade over the same rows.
   * Implemented with foreachBatch so the BATCH cascade code runs verbatim
   * inside each micro-batch (one code path to verify, zero semantic
   * drift); `sink` receives each batch's cascade output (persisted — the
   * sink need not cache) and the batch id. Start the returned writer and
   * the per-level dbs ride along broadcast as in batch mode.
   */
  def cascadeForeachBatch(spark: SparkSession, stream: DataFrame,
      idCol: String, contentCol: String,
      levels: Seq[(String, ProbeDb, ClassifyParams,
        Option[graft.core.Lca])])(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val out = Classify.cascadePerLevelTax(spark, batch.toDF(), idCol,
        contentCol, levels)
      try sink(out, batchId) finally out.unpersist()
      ()
    }

  /**
   * Streaming classify against a LIVE generation-versioned store: each
   * micro-batch re-resolves the store's CURRENT pointer and classifies
   * with the newest committed generation, so a long-running stream picks
   * up `updateStored`/`compactStored` commits at batch boundaries — the
   * one freshness gap snapshot pinning leaves open (a pinned handle NEVER
   * sees updates, by design; a stream should). Generation rotation is the
   * ONLY refresh trigger, and it is atomic at a batch boundary: one batch
   * is classified entirely by one generation, never a mix.
   *
   * Each batch is one pass over InternalRows (`Classify.allMatchesB`):
   * the shingle projection's rows go through the partition classifier
   * straight into `.all` rows (read_id, target, kmer_count, match_order),
   * so the batch plans no object serializer, generator or second row pass.
   *
   * Broadcast discipline: ONE broadcast per generation, reused across
   * batches, so each executor's lazy shard cache persists between
   * micro-batches instead of re-fetching every touched shard per batch;
   * the superseded generation's broadcast is destroyed at rotation —
   * foreachBatch bodies run synchronously, so every batch that used it
   * has already completed and no in-flight task can still hold it.
   *
   * `sink` receives (batch output, batchId, generation that classified
   * it) and must MATERIALIZE the output before returning (write/collect/
   * count): a rotation in a later batch destroys the prior generation's
   * broadcast, invalidating any still-unmaterialized plan built on it.
   * The contract is ENFORCED: a sink that returns without ever running
   * its batch's plan fails that batch with a message saying so, instead
   * of a baffling destroyed-broadcast error at some later rotation.
   * The batch answer equals batch-mode classify against a fresh load
   * of the same generation — proved by `StreamLiveStoreSpec` and driver
   * row q69.
   *
   * The final generation's broadcast is released when the owning query
   * TERMINATES (a `StreamingQueryListener` keyed to the query id observed
   * from inside the stream thread) — without that hook a long-lived
   * session leaks one db broadcast per stopped stream.
   */
  def classifyLiveStore(spark: SparkSession, stream: DataFrame,
      idCol: String, contentCol: String, storeDir: String,
      cp: ClassifyParams = ClassifyParams())(
      sink: (DataFrame, Long, Int) => Unit): DataStreamWriter[Row] =
    classifyLiveStoreTracked(spark, stream, idCol, contentCol, storeDir,
      cp)(sink)._1

  /** Rotation state of one [[classifyLiveStore]] stream, exposed so tests
    * can observe the termination-time broadcast release. */
  private[graft] final class LiveStoreState {
    // mutations guarded by `this.synchronized` (microbatch thread rotates,
    // listener-bus thread releases); fields stay volatile too so unlocked
    // OBSERVERS (tests) read coherently
    @volatile private[graft] var gen: Int = -1
    @volatile private[graft] var dbB:
      org.apache.spark.broadcast.Broadcast[ProbeDb] = null
    /** runId of the stream run that currently OWNS the state — a late
      * termination event from a superseded run must not release the
      * broadcast the new run is using. */
    @volatile private[graft] var activeRun: String = null
    @volatile private[graft] var released = false
  }

  private[graft] def classifyLiveStoreTracked(spark: SparkSession,
      stream: DataFrame, idCol: String, contentCol: String, storeDir: String,
      cp: ClassifyParams = ClassifyParams())(
      sink: (DataFrame, Long, Int) => Unit)
      : (DataStreamWriter[Row], LiveStoreState) = {
    val state = new LiveStoreState
    // counts EXECUTED partitions of each batch's output plan — the cheap
    // observable that distinguishes "sink materialized" from "sink only
    // held the lazy plan"
    val execAcc = spark.sparkContext.longAccumulator("graft.live.exec")
    val writer = stream.writeStream.foreachBatch {
        (batch: Dataset[Row], batchId: Long) =>
      // the run id is only knowable from inside the stream execution
      // thread: StreamExecution sets the spark JOB GROUP to runId (the
      // cancel key the engine itself uses). RESTARTS of the same writer
      // get a fresh runId, so ownership transfers run to run and a
      // restart racing the previous run's (asynchronous) termination
      // event can never have its broadcast destroyed under it. If a
      // future Spark stops setting the group this degrades to
      // never-releasing (a bounded leak), never to a wrong destroy —
      // the spec's released assertion would catch the regression.
      val runId = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      val conf = spark.sparkContext.hadoopConfiguration
      val cur = graft.io.SketchStore.currentGeneration(conf, storeDir)
        .getOrElse(throw new IllegalStateException(
          s"$storeDir has no committed generation"))
      // FIRST lock section: ownership + hook registration + staleness
      // check. Kept FAST — the listener takes this same lock on the
      // session's shared listener-bus thread, so holding it across a
      // store load (loadAny) or a blocking destroy would stall every
      // listener in the session and can drop events
      val needRotate = state.synchronized {
        if (runId != null && runId != state.activeRun) {
          // this run takes ownership and registers ITS release hook
          state.activeRun = runId
          state.released = false
          val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
            import org.apache.spark.sql.streaming.StreamingQueryListener._
            override def onQueryStarted(e: QueryStartedEvent): Unit = ()
            override def onQueryProgress(e: QueryProgressEvent): Unit = ()
            override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
              if (e.runId.toString == runId) {
                spark.streams.removeListener(this)
                val toDestroy = state.synchronized {
                  // release only if no newer run took the state over
                  if (state.activeRun == runId) {
                    val b = state.dbB
                    state.dbB = null
                    state.gen = -1
                    state.activeRun = null
                    b
                  } else null
                }
                if (toDestroy != null) toDestroy.destroy()
                if (state.activeRun == null) state.released = true
              }
          }
          spark.streams.addListener(l)
        }
        cur != state.gen
      }
      val (dbForBatch, genForBatch) =
        if (!needRotate) state.synchronized((state.dbB, state.gen))
        else {
          // rotation work OUTSIDE the lock: loadAny does driver store
          // I/O and broadcast/destroy can block. Only this query's
          // microbatch thread rotates, so the gen can't change under us;
          // the one competitor is our own termination listener (stop()
          // mid-batch), handled by the ownership re-check at swap time
          val db = graft.io.SketchStore.loadAny(spark, storeDir)
          val fresh = spark.sparkContext.broadcast[ProbeDb](db)
          val old = state.synchronized {
            if (state.activeRun != runId) {
              // terminated during the load: the batch is dead anyway —
              // don't leak the broadcast we just made
              fresh.destroy()
              throw new IllegalStateException(
                "classifyLiveStore query terminated during generation " +
                  "rotation")
            }
            val o = state.dbB
            state.dbB = fresh
            state.gen = cur
            o
          }
          if (old != null) old.destroy()
          (fresh, cur)
        }
      val before = execAcc.value
      val out = Classify.allMatchesB(batch.toDF(), idCol, contentCol,
        dbForBatch, cp, execAcc)
      sink(out, batchId, genForBatch)
      // happy path (sink ran the plan) costs nothing extra; the batch
      // check on the raw input runs only when no task ever executed
      if (execAcc.value == before && !batch.isEmpty)
        throw new IllegalStateException(
          "classifyLiveStore sink returned without MATERIALIZING its " +
            "batch (write/collect/count it before returning): a later " +
            "generation rotation destroys this batch's broadcast, " +
            "invalidating the still-unexecuted plan")
      ()
    }
    (writer, state)
  }

  /**
   * Continuous INGEST: build/extend a generation-versioned store FROM a
   * stream — the write-side twin of [[classifyLiveStore]] (one stream
   * ingests, another classifies live; together they are the reference's
   * rebuild-and-rerun cycle, `build_update.py:157`, running continuously).
   * The first non-empty micro-batch creates the store (`buildToStore`);
   * every later one commits an O(batch) `updateStored` generation —
   * existing targets grow, new targets append, so the final store equals
   * a fresh build over the union of all batches (the update-equivalence
   * invariant, driver rows q34/q50/q56, applied per batch). Empty batches
   * commit nothing. `gcKeepGens` (if set) reclaims superseded generations
   * after each commit, keeping the last K readable for pinned readers —
   * without it a long-running ingest accumulates one generation per
   * batch.
   *
   * EXACTLY-ONCE: each committed generation records the (ingestId,
   * batchId) that produced it in its manifest dir, atomically with the
   * CURRENT flip — the store is its own commit log. A batch REPLAYED
   * after a crash between the store commit and the stream's checkpoint
   * commit finds its own id already recorded and is skipped
   * ([[ingestBatch]]), so a replay can never double-append a new
   * target's bins. `ingestId` scopes the log: batchIds are only
   * monotonic within ONE stream/checkpoint, so give each logical ingest
   * stream (fresh checkpoint dir) its own id — reusing an id across
   * different checkpoints would mistake the new stream's early batches
   * for replays.
   *
   * `gcKeepGens` must be >= 2: a concurrent [[classifyLiveStore]] reader
   * re-reads CURRENT only at batch START, so keep=1 could gc the
   * generation an in-flight classify micro-batch is still probing the
   * moment this stream commits the next one (a one-batch exposure race).
   */
  def ingestForeachBatch(spark: SparkSession, stream: DataFrame,
      targetCol: String, contentCol: String, storeDir: String,
      p: graft.build.IbfParams = graft.build.IbfParams(),
      gcKeepGens: Option[Int] = None,
      ingestId: String = "ingest"): DataStreamWriter[Row] = {
    gcKeepGens.foreach(k => require(k >= 2,
      s"gcKeepGens=$k: must keep >= 2 generations — a live classify " +
        "stream sharing this store re-reads CURRENT only at batch start, " +
        "so keep=1 can reclaim the generation an in-flight classify " +
        "micro-batch is still pinned to"))
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      ingestBatch(spark, batch.toDF(), targetCol, contentCol, storeDir, p,
        gcKeepGens, ingestId, batchId)
      ()
    }
  }

  /** Apply ONE ingest micro-batch idempotently: skipped (returns false)
    * when the store already records a commit for this `ingestId` at
    * `batchId` or later — the crash-replay case — and otherwise committed
    * as a new generation tagged (ingestId, batchId). Public so recovery
    * tooling (and tests) can replay a batch deterministically; the
    * streaming path [[ingestForeachBatch]] is this per batch. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, targetCol: String,
      contentCol: String, storeDir: String,
      p: graft.build.IbfParams = graft.build.IbfParams(),
      gcKeepGens: Option[Int] = None, ingestId: String = "ingest",
      batchId: Long): Boolean = {
    // the reader-race floor holds on THIS public entry point too, not
    // just the streaming wrapper — recovery tooling replaying a batch
    // with keep=1 would race a live classifier exactly the same way
    gcKeepGens.foreach(k => require(k >= 2,
      s"gcKeepGens=$k: must keep >= 2 generations (one-batch live-reader " +
        "race; see ingestForeachBatch)"))
    val conf = spark.sparkContext.hadoopConfiguration
    // id-SCOPED replay check: the commit log records one entry per
    // ingestId, so an interleaved second stream's commit cannot erase
    // this stream's progress and let a crash-replay double-append
    val applied = graft.io.SketchStore.ingestCommits(conf, storeDir)
      .get(ingestId)
    if (applied.exists(_ >= batchId))
      false // replay of an already-committed batch: the no-op exactly-once path
    else {
      val b = batch.persist()
      try {
        if (b.isEmpty) false
        else {
          val exists = graft.io.SketchStore
            .currentGeneration(conf, storeDir).isDefined
          val tag = Some((ingestId, batchId))
          if (exists)
            graft.build.SketchBuild.updateStored(spark, storeDir, b,
              targetCol, contentCol, commitTag = tag)
          else
            graft.build.SketchBuild.buildToStore(spark, b, targetCol,
              contentCol, storeDir, p, commitTag = tag)
          gcKeepGens.foreach(k =>
            graft.io.SketchStore.gcGenerations(spark, storeDir, k))
          true
        }
      } finally { b.unpersist(); () }
    }
  }

  /**
   * Per-group RUNNING quantile estimate (KLL as `mapGroupsWithState`
   * state) — the quantile twin of [[runningDistinct]], covering the north
   * star's file-size/shingle-count quantile sketches on the streaming
   * side. Each micro-batch folds its rows' values into the group's KLL;
   * the emitted estimates carry the sketch's rank-error bound against the
   * exact prefix distribution, and merge associativity makes the running
   * answer independent of micro-batch boundaries. State is O(k log n)
   * doubles per group. Use with outputMode("update").
   */
  def runningQuantiles(spark: SparkSession, stream: DataFrame,
      groupCol: String, valueCol: String, qs: Array[Double], k: Int = 200)
      : Dataset[(String, Array[Double], Long)] = {
    import spark.implicits._
    val quantiles = qs.clone()
    stream
      // try_cast + null guard: nulls and malformed values (e.g. a
      // non-numeric string, which ANSI cast would turn into a
      // stream-killing exception) drop out instead of NPE-ing the
      // primitive-Double encoder; a valueless row carries no rank
      // information, so dropping matches the batch sketches
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).try_cast("double").as("v"))
      .filter(col("v").isNotNull)
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Array[Byte], Long), (String, Array[Double], Long)](
        GroupStateTimeout.NoTimeout) { (g, rows, state) =>
        val (bytes, n0) = state.getOption
          .getOrElse((graft.core.sketch.Kll.empty(k).toBytes, 0L))
        val kll = graft.core.sketch.Kll.fromBytes(bytes)
        var n = n0
        rows.foreach { case (_, v) => kll.add(v); n += 1 }
        state.update((kll.toBytes, n))
        (g, quantiles.map(kll.quantile), n)
      }
  }

  /**
   * Per-group RUNNING frequency estimates (count-min as
   * `mapGroupsWithState` state) — the frequency leg of the streaming
   * sketch trio (HLL distinct / KLL quantiles / CMS counts). Each
   * micro-batch folds its rows' key hashes into the group's CMS; the
   * output reports the running estimate for each of the caller's
   * `probeKeys` (the monitoring shape: "track these patterns per
   * stream"), carrying the CMS guarantee against the exact prefix —
   * exact ≤ estimate ≤ exact + eps·N at confidence 1−delta, N = total
   * keys folded so far. State is depth×width longs per group, independent
   * of stream length. Use with outputMode("update").
   */
  def runningFrequency(spark: SparkSession, stream: DataFrame,
      groupCol: String, keysCol: String, probeKeys: Array[String],
      eps: Double = 0.0005, delta: Double = 0.001)
      : Dataset[(String, Array[Long], Long)] = {
    import spark.implicits._
    val probeHashes = probeKeys.map(Hashing.hashString(_))
    // token MULTISET hashes (distinct = false — a counting consumer fed
    // the deduped form would undercount); codegen expression, byte-exact
    // with Hashing.hashString on the probe side
    stream
      .select(col(groupCol).cast("string").as("g"),
        graft.spark.TokenHashesExpr.col(coalesce(col(keysCol), lit("")),
          distinct = false).as("hs"))
      .as[(String, Array[Long])]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (String, Array[Long], Long)](
        GroupStateTimeout.NoTimeout) { (g, rows, state) =>
        val cms = state.getOption
          .map(graft.core.sketch.CountMin.fromBytes)
          .getOrElse(graft.core.sketch.CountMin.forGuarantee(eps, delta))
        rows.foreach { case (_, hs) =>
          var i = 0
          while (i < hs.length) { cms.add(hs(i)); i += 1 }
        }
        state.update(cms.toBytes)
        (g, probeHashes.map(cms.estimate), cms.total)
      }
  }

  /**
   * Per-target RUNNING distinct-shingle estimate via custom streaming
   * state (`KeyValueGroupedDataset.mapGroupsWithState`): the group state
   * is a serialized mergeable HLL; each micro-batch folds its rows'
   * shingle hashes in and emits the updated (target, estimate, n_reads).
   * Because the sketch is merge-associative, the running estimate is
   * independent of micro-batch boundaries — the streaming answer over any
   * prefix equals the batch answer over the same rows, and checkpoint
   * resume reconstructs it exactly. State size is 2^p bytes per target,
   * independent of stream length (the reason a sketch, not a set, is the
   * right streaming state at 10^12 files). Use with outputMode("update").
   */
  def runningDistinct(spark: SparkSession, stream: DataFrame,
      targetCol: String, contentCol: String, k: Int, w: Int, p: Int = 14,
      seed: Long = Hashing.DefaultSeed): Dataset[(String, Long, Long)] = {
    import spark.implicits._
    val sh = graft.spark.ShinglesExpr.col(
      coalesce(col(contentCol), lit("")), k, w, seed)
    stream
      .select(col(targetCol).cast("string").as("target"), sh.as("hs"))
      .as[(String, Array[Long])]
      .groupByKey(_._1)
      .mapGroupsWithState[(Array[Byte], Long), (String, Long, Long)](
        GroupStateTimeout.NoTimeout) { (target, rows, state) =>
        val (bytes, n0) = state.getOption
          .getOrElse((Hll.empty(p).toBytes, 0L))
        val hll = Hll.fromBytes(bytes)
        var n = n0
        rows.foreach { case (_, hs) => hll.addAll(hs); n += 1 }
        state.update((hll.toBytes, n))
        (target, hll.estimate, n)
      }
  }
}
