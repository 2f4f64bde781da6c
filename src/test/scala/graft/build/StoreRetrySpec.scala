package graft.build

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ParquetMeta, SketchStore}

/** Local filesystem that, while armed, fails a task's FIRST attempt at
  * its second group-blob tmp create (`.grp_<g>.*.tmp`), after the attempt
  * has published one blob. The retry then republishes that blob onto an
  * existing one, the duplicate-attempt path the OVERWRITE rename is there
  * for, and each task fails at most once, which the `local[4,2]` retry
  * budget absorbs. */
class FailFirstBlobCreateFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FailFirstBlobCreateFs.onCreate(this, f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object FailFirstBlobCreateFs {
  @volatile var armed = false
  /** Creates failed on purpose. */
  val injected = new AtomicInteger()
  /** Blob tmps created while the blob itself already existed. */
  val republished = new AtomicInteger()
  private val started = ConcurrentHashMap.newKeySet[Long]()
  private val BlobTmp = """\.(grp_\d+)\..*\.tmp""".r

  def onCreate(fs: LocalFileSystem, f: Path): Unit = f.getName match {
    case BlobTmp(grp) if armed =>
      if (fs.exists(new Path(f.getParent, s"$grp.bin")))
        republished.incrementAndGet()
      val task = TaskContext.get()
      if (task != null && task.attemptNumber() == 0 &&
          !started.add(task.taskAttemptId())) {
        injected.incrementAndGet()
        throw new java.io.IOException(s"injected create failure: $f")
      }
    case _ => ()
  }
}

/** Retry safety of the store writers: under task retries (`local[4,2]`)
  * and a filesystem that fails each task's first attempt partway through
  * its blob writes, every writer commits exactly what a fault-free run
  * commits. Runs in
  * its own forked JVM (build.sbt `Test / testGrouping`): the session's
  * Hadoop conf installs the faulty filesystem, which the shared test
  * session must not see. */
class StoreRetrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-retry-test")
      // one shard-pass reducer (the pass is min(max(default parallelism,
      // shuffle partitions), groups) wide) and one slice for a handle's
      // blob copy: every writer has a task that writes more than one
      // blob, so the injected fault can fire
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.default.parallelism", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[FailFirstBlobCreateFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  private def files(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }

  /** buildToStore, updateStored (add + remove), compactStored, then save
    * of a store-backed handle, into `root`/store and `root`/export. Returns
    * the (failures injected, blobs republished) during each writer. */
  private def runWriters(root: String): Seq[(String, (Int, Int))] = {
    val docs = graft.synth.Corpus.df(spark, 600, numRepos = 150,
      partitions = 4)
    val repos = docs.select("repo").distinct().orderBy("repo")
      .collect().map(_.getString(0))
    val (addRepo, rmRepo) = (repos.head, repos.last)
    val p = IbfParams(k = 19, w = 31, maxFp = 1e-4)
    val store = s"$root/store"
    def step(writer: String)(body: => Any): (String, (Int, Int)) = {
      import FailFirstBlobCreateFs.{injected, republished}
      val (i0, r0) = (injected.get(), republished.get())
      body
      writer -> ((injected.get() - i0, republished.get() - r0))
    }
    Seq(
      step("buildToStore")(SketchBuild.buildToStore(spark,
        docs.filter(col("repo") =!= addRepo), "repo", "content", store, p)),
      step("updateStored")(SketchBuild.updateStored(spark, store,
        docs.filter(col("repo") === addRepo), "repo", "content",
        removeTargets = Seq(rmRepo))),
      step("compactStored")(SketchBuild.compactStored(spark, store,
        docs.filter(col("repo") =!= rmRepo), "repo", "content")),
      step("save")(SketchStore.save(spark,
        SketchStore.loadAny(spark, store), s"$root/export")))
  }

  /** Everything a store commits: CURRENT, every generation's manifest row
    * and bins, and every blob's bytes, keyed by relative path. */
  private def committed(dir: String): Map[String, Seq[Any]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new java.io.File(dir)
    files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      def flat(x: Any): Any = x match {
        case a: Array[_] => a.toSeq
        case o => o
      }
      if (rel == "CURRENT")
        Some(rel -> Seq(new String(java.nio.file.Files.readAllBytes(f.toPath))))
      else if (rel.matches("shards_v\\d+/grp_\\d+\\.bin"))
        Some(rel -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      else if (rel.matches("gen_\\d+/manifest\\.parquet"))
        Some(rel -> ParquetMeta.readManifestRow(conf, new Path(f.getPath))
          .productIterator.map(flat).toSeq)
      else if (rel.matches("gen_\\d+/bins\\.parquet"))
        Some(rel -> ParquetMeta.readBins(conf, new Path(f.getPath)).toSeq)
      else None
    }.toMap
  }

  test("store writers commit the fault-free generations under injected " +
      "blob-create failures") {
    val base = "/tmp/graft_retry"
    deleteRec(new java.io.File(base))
    val clean = runWriters(s"$base/clean")
    assert(clean.forall(_._2 == ((0, 0))))
    FailFirstBlobCreateFs.armed = true
    val faulty =
      try runWriters(s"$base/faulty") finally FailFirstBlobCreateFs.armed = false
    faulty.foreach { case (writer, (failed, republished)) =>
      assert(failed > 0, s"$writer ran without an injected failure")
      assert(republished > 0, s"$writer's retries republished no blob")
    }
    for (d <- Seq("store", "export")) {
      val (c, f) = (s"$base/clean/$d", s"$base/faulty/$d")
      val want = committed(c)
      assert(want.keySet.exists(_.startsWith("shards_v")) &&
        want.keySet.exists(_.endsWith("manifest.parquet")))
      assert(committed(f) == want, s"$d differs from the fault-free run")
      assert(!files(new java.io.File(f)).exists(_.getName.startsWith("LOCK_gen_")),
        s"$d keeps a generation lock")
      SketchStore.gcGenerations(spark, f)
      val residue = files(new java.io.File(f)).map(_.getPath)
        .filter(n => n.endsWith(".tmp") || n.endsWith(".tmp.crc"))
      assert(residue.isEmpty, s"tmp residue gc does not sweep: $residue")
    }
    deleteRec(new java.io.File(base))
  }
}
