package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{IbfParams, ProbeDb, SketchBuild, SketchDb, TwoLevelDb}
import graft.classify.{Classify, ClassifyParams, Em, ReadResult}
import graft.core.Lca
import graft.io.{Formats, SketchStore}
import graft.report.{Report, Table}

/**
 * The verb-level facade: one entry point per reference command
 * (ganon's dispatcher src/ganon/ganon.py:14-52 routes build-custom /
 * classify / reassign / report / table). A reference user maps their
 * workflow 1:1:
 *
 *   ganon build-custom --input-file F     -> Ganon.build(spark, df, ...)
 *   ganon classify -d db -r reads         -> Ganon.classify(...)
 *   ganon reassign                        -> Ganon.reassign(...)
 *   ganon report                          -> Ganon.report(...)
 *   ganon table                           -> Ganon.table(...)
 *
 * plus save/load for the sketch database (the .ibf/.hibf files).
 */
object Ganon {

  /** All outputs of one classify run (the .all/.one/.rep/.unc/.sta files). */
  final case class ClassifyOutput(
      results: Dataset[ReadResult],
      all: DataFrame, one: DataFrame, rep: DataFrame,
      unc: DataFrame, sta: DataFrame)

  /** ganon build-custom: group `df` rows by `targetCol`, sketch `contentCol`.
    * `twoLevel` selects the HIBF-like layout (ganon's --hibf). */
  def build(spark: SparkSession, df: DataFrame, targetCol: String,
      contentCol: String, params: IbfParams = IbfParams(),
      twoLevel: Boolean = false, checkpointDir: Option[String] = None): ProbeDb =
    if (twoLevel)
      SketchBuild.buildTwoLevel(spark, df, targetCol, contentCol, params,
        checkpointDir = checkpointDir)
    else SketchBuild.build(spark, df, targetCol, contentCol, params,
      checkpointDir)

  /** Build straight INTO the store (databases bigger than driver memory):
    * shard blobs stream from executors, the driver holds coarse+metadata,
    * and the returned lazy db probes the store on demand. */
  def buildToStore(spark: SparkSession, df: DataFrame, targetCol: String,
      contentCol: String, dir: String, params: IbfParams = IbfParams(),
      checkpointDir: Option[String] = None): ProbeDb =
    SketchBuild.buildToStore(spark, df, targetCol, contentCol, dir, params,
      checkpointDir)

  /** ganon update on a STORED two-level db: O(touched-groups) blob
    * rewrites committed as the next generation (readers pinned to the old
    * snapshot keep serving it); returns the refreshed lazy db. */
  def updateStored(spark: SparkSession, dir: String, addDf: DataFrame,
      targetCol: String, contentCol: String,
      removeTargets: Seq[String] = Nil): ProbeDb =
    SketchBuild.updateStored(spark, dir, addDf, targetCol, contentCol,
      removeTargets)

  /** Layout compaction after update cycles (the reference rebuilds its
    * layout on update): squeeze removed targets' masked holes, re-fit
    * capacity, re-derive the coarse — one content scan, committed as the
    * next generation. [[compactionAdvised]] is the metadata-only trigger. */
  def compactStored(spark: SparkSession, dir: String, df: DataFrame,
      targetCol: String, contentCol: String): ProbeDb =
    SketchBuild.compactStored(spark, dir, df, targetCol, contentCol)

  def compactionAdvised(spark: SparkSession, dir: String)
      : SketchBuild.CompactionStats =
    SketchBuild.compactionAdvised(spark, dir)

  /** Reclaim superseded store generations, keeping the last `keepGens`
    * snapshots readable for pinned readers. Returns (files, bytes) freed. */
  def gcStore(spark: SparkSession, dir: String, keepGens: Int = 2): (Long, Long) =
    SketchStore.gcGenerations(spark, dir, keepGens)

  /** [[gcStore]] with the full report: files/bytes freed plus the
    * generations older than the keep window that survived because a
    * registered reader pin references them. */
  def gcStoreReport(spark: SparkSession, dir: String, keepGens: Int = 2)
      : SketchStore.GcReport =
    SketchStore.gcGenerationsReport(spark, dir, keepGens)

  /** Register a reader PIN on a loaded handle's generation: gc keeps it
    * fully readable no matter how far CURRENT advances. Pair with
    * [[unpinStore]] when the handle is released — gc reports (never
    * silently honors) leaked pins. */
  def pinStore(spark: SparkSession, dir: String, generation: Int): String =
    SketchStore.pin(spark.sparkContext.hadoopConfiguration, dir, generation)

  def unpinStore(spark: SparkSession, dir: String, pinId: String): Unit =
    SketchStore.unpin(spark.sparkContext.hadoopConfiguration, dir, pinId)

  /** ganon classify --paired: mates' distinct-union hash set per read. */
  def classifyPaired(spark: SparkSession, reads: DataFrame, idCol: String,
      content1Col: String, content2Col: String, db: ProbeDb,
      params: ClassifyParams = ClassifyParams(),
      taxonomy: Option[DataFrame] = None): ClassifyOutput =
    outputs(Classify.classifyPaired(spark, reads, idCol, content1Col,
      content2Col, db, params, lcaOf(taxonomy)))

  /** ganon classify over a batch manifest: one job, per-sample .rep/.sta.
    * Returns (per-read results with `sample`, per-sample rep, per-sample
    * sta). */
  def classifyBatch(spark: SparkSession, manifest: DataFrame, idCol: String,
      contentCol: String, db: ProbeDb,
      params: ClassifyParams = ClassifyParams(),
      taxonomy: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val reads = Formats.readsFromManifest(spark, manifest, idCol, contentCol)
    // paired manifest rows carry their mate in content2 (null for
    // single-end rows, which degrade to mate-1-only hashing) — the read's
    // hash set is the mates' distinct union, as in classifyPaired. Purely
    // single-end manifests keep the codegen single-shingle fast path.
    val hasPaired =
      !manifest.filter(org.apache.spark.sql.functions.col("file2").isNotNull)
        .isEmpty
    val res = Classify.classifyBySample(spark, reads, "sample", idCol,
      contentCol, db, params, lcaOf(taxonomy),
      content2Col = if (hasPaired) Some("content2") else None)
    (res, Classify.reportBySample(res), Classify.staBySample(res))
  }

  /** ganon classify as a LONG-RUNNING stream against a live store: each
    * micro-batch classifies with the store's newest committed generation,
    * picking up [[updateStored]]/[[compactStored]] commits at batch
    * boundaries (see [[graft.streaming.StreamClassify.classifyLiveStore]]
    * for the broadcast-per-generation discipline). `sink` receives each
    * batch's `.all` matches, the batch id, and the generation that
    * classified it; start the returned writer. */
  def classifyLiveStore(spark: SparkSession, stream: DataFrame,
      idCol: String, contentCol: String, storeDir: String,
      params: ClassifyParams = ClassifyParams())(
      sink: (DataFrame, Long, Int) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamClassify.classifyLiveStore(spark, stream, idCol,
      contentCol, storeDir, params)(sink)

  /** Continuous ingest: ganon build/update driven by a stream — first
    * non-empty batch creates the store, later ones commit O(batch)
    * update generations. EXACTLY-ONCE: each commit records its
    * (ingestId, batchId) atomically with the generation, so a
    * crash-replayed micro-batch is skipped instead of double-appending
    * (see [[graft.streaming.StreamClassify.ingestForeachBatch]] for the
    * full contract — give each logical stream/checkpoint its own
    * `ingestId`, and keep gcKeepGens >= 2 when a live reader shares the
    * store). The write-side twin of [[classifyLiveStore]]. */
  def ingestStream(spark: SparkSession, stream: DataFrame,
      targetCol: String, contentCol: String, storeDir: String,
      params: graft.build.IbfParams = graft.build.IbfParams(),
      gcKeepGens: Option[Int] = None, ingestId: String = "ingest")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamClassify.ingestForeachBatch(spark, stream,
      targetCol, contentCol, storeDir, params, gcKeepGens, ingestId)

  /** Persist a db as a new store generation in `dir`. A store-backed
    * [[graft.build.TwoLevelDb]] handle EXPORTS its pinned snapshot (a
    * consistent backup of exactly the bits the handle serves, immune to
    * concurrent updates of the source store); saving it back onto its own
    * store directory is an error — that snapshot already lives there. */
  def save(spark: SparkSession, db: ProbeDb, dir: String): Unit = db match {
    case flat: SketchDb => SketchStore.save(spark, flat, dir)
    case two: TwoLevelDb => SketchStore.saveTwoLevel(spark, two, dir)
    case other =>
      throw new IllegalArgumentException(
        s"cannot save a ${other.getClass.getSimpleName}: only SketchDb and " +
          "TwoLevelDb persist via save")
  }

  def load(spark: SparkSession, dir: String): ProbeDb =
    SketchStore.loadAny(spark, dir)

  /** ganon classify: one db or a hierarchy of (label, db) levels. */
  def classify(spark: SparkSession, reads: DataFrame, idCol: String,
      contentCol: String, db: ProbeDb,
      params: ClassifyParams = ClassifyParams(),
      taxonomy: Option[DataFrame] = None): ClassifyOutput =
    outputs(Classify.classify(spark, reads, idCol, contentCol, db, params,
      lcaOf(taxonomy)))

  /** The LCA over a `.tax` table (first-wins merge, rooted at "root"). */
  private def lcaOf(taxonomy: Option[DataFrame]): Option[Lca] =
    taxonomy.map(tax => Lca.build(Formats.taxToParents(tax), "root"))

  /** The .all/.one/.rep/.unc/.sta relations of one per-read result. */
  private def outputs(res: Dataset[ReadResult]): ClassifyOutput =
    ClassifyOutput(res, Classify.allMatches(res), Classify.oneAssignments(res),
      Classify.report(res), Classify.unclassified(res), Classify.stats(res))

  /** ganon reassign: EM over the .all relation -> final .one. */
  def reassign(spark: SparkSession, all: DataFrame, maxIter: Int = 10,
      threshold: Double = 0.001): DataFrame =
    Em.reassign(spark, all, maxIter, threshold)

  /** ganon report: cumulative tree from per-node counts + lineage
    * (optionally size-corrected). */
  def report(counts: DataFrame, lineage: DataFrame,
      sizes: Option[DataFrame] = None, minCount: Double = 0,
      topPercentile: Double = 0): DataFrame = {
    var tre = Report.tree(counts, lineage)
    sizes.foreach(sz => tre = Report.sizeCorrection(tre, sz))
    if (minCount > 0) {
      val total = counts.agg(coalesce(sum("direct_count"), lit(0L)))
        .first().getLong(0)
      tre = Report.minCountFilter(tre, minCount, total)
    }
    if (topPercentile > 0) tre = Report.topPercentilePerRank(tre, topPercentile)
    tre
  }

  /** ganon table: samples x nodes pivot from long-form (sample,node,count). */
  def table(rep: DataFrame, nodes: Seq[String], percentage: Boolean = false,
      topK: Int = 0, minFrequency: Int = 0): DataFrame = {
    var r = rep
    if (minFrequency > 0) r = Table.minFrequency(r, minFrequency)
    if (topK > 0) r = Table.topKPerSample(r, topK)
    Table.pivot(r, nodes, percentage)
  }
}
