package graft.io

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkTestSession

/** The store control plane moved from df.write/spark.read jobs to direct
  * driver parquet I/O (ParquetMeta) — these tests pin the FORMAT contract
  * both ways: Spark still reads what ParquetMeta writes (same paths, same
  * column names/types), and ParquetMeta still reads directory-shaped
  * metadata written by the old df.coalesce(1).write path. */
class ParquetMetaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private val row = ParquetMeta.ManifestRow(
    version = 6, generation = 3, layout = "two", k = 8, w = 12,
    seed = 0x8F3F73B5CF1C9ADEL, maxFp = 0.01, hllP = 14, minContentLen = 0,
    sizingMode = "avg", bitsPerBin = 4096L, numHashes = 3,
    maxHashesBin = 1000L, numBins = 130,
    shardGens = Array(3, -1, 2), ibf = Array[Byte](1, 2, 3, 4, 5))

  private val bins = Seq(("a", 10L, 0, 1), ("b", 2000L, 1, 2), ("c", 5L, 3, 1))

  test("manifest row round-trips through ParquetMeta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    val p = new Path(s"$dir/manifest.parquet")
    ParquetMeta.writeManifestRow(conf, p, row)
    val r = ParquetMeta.readManifestRow(conf, p)
    assert(r.copy(shardGens = null, ibf = null) ==
      row.copy(shardGens = null, ibf = null))
    assert(r.shardGens.toSeq == row.shardGens.toSeq)
    assert(r.ibf.toSeq == row.ibf.toSeq)
  }

  test("Spark reads ParquetMeta-written manifest and bins (format compat)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    ParquetMeta.writeManifestRow(conf, new Path(s"$dir/manifest.parquet"), row)
    ParquetMeta.writeBins(conf, new Path(s"$dir/bins.parquet"), bins)
    val m = spark.read.parquet(s"$dir/manifest.parquet").head()
    assert(m.getAs[Int]("version") == 6)
    assert(m.getAs[String]("layout") == "two")
    assert(m.getAs[Long]("bits_per_bin") == 4096L)
    assert(m.getAs[scala.collection.Seq[Int]]("shard_gens") == Seq(3, -1, 2))
    assert(m.getAs[Array[Byte]]("ibf").toSeq == Seq[Byte](1, 2, 3, 4, 5))
    val b = spark.read.parquet(s"$dir/bins.parquet")
      .collect().map(r => (r.getAs[String]("target"), r.getAs[Long]("n_hashes"),
        r.getAs[Int]("base"), r.getAs[Int]("split"))).sortBy(_._3)
    assert(b.toSeq == bins)
  }

  test("ParquetMeta reads legacy directory-shaped spark-written metadata") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    Seq((row.version, row.generation, row.layout, row.k, row.w, row.seed,
      row.maxFp, row.hllP, row.minContentLen, row.sizingMode, row.bitsPerBin,
      row.numHashes, row.maxHashesBin, row.numBins, row.shardGens, row.ibf))
      .toDF("version", "generation", "layout", "k", "w", "seed", "max_fp",
        "hll_p", "min_content_len", "sizing_mode", "bits_per_bin",
        "num_hashes", "max_hashes_bin", "num_bins", "shard_gens", "ibf")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest.parquet")
    bins.toDF("target", "n_hashes", "base", "split")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bins.parquet")
    val r = ParquetMeta.readManifestRow(conf, new Path(s"$dir/manifest.parquet"))
    assert(r.copy(shardGens = null, ibf = null) ==
      row.copy(shardGens = null, ibf = null))
    assert(r.shardGens.toSeq == row.shardGens.toSeq)
    assert(r.ibf.toSeq == row.ibf.toSeq)
    val b = ParquetMeta.readBins(conf, new Path(s"$dir/bins.parquet"))
      .sortBy(_._3)
    assert(b.toSeq == bins)
  }

  test("empty shard_gens (flat layout) round-trips as an empty array") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    val p = new Path(s"$dir/manifest.parquet")
    ParquetMeta.writeManifestRow(conf, p,
      row.copy(layout = "flat", shardGens = Array.empty[Int]))
    assert(ParquetMeta.readManifestRow(conf, p).shardGens.isEmpty)
  }

  test("projected shard_gens read == readManifestRow(...).shardGens " +
      "(flat, two-level, sentinel-bearing, legacy-written)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    Seq("flat" -> Array.empty[Int], "two" -> Array(3, 3, 3),
        "sentinel" -> Array(3, -1, 2)).foreach { case (name, gens) =>
      val p = new Path(s"$dir/$name/manifest.parquet")
      ParquetMeta.writeManifestRow(conf, p, row.copy(
        layout = if (name == "flat") "flat" else "two", shardGens = gens))
      val full = ParquetMeta.readManifestRow(conf, p).shardGens
      assert(full.toSeq == gens.toSeq)
      assert(ParquetMeta.readShardGens(conf, p).toSeq == full.toSeq, name)
    }
    // Spark-written metadata declares its columns optional
    val legacy = new Path(s"$dir/legacy/manifest.parquet")
    legacyManifest(Seq(row)).coalesce(1).write.parquet(legacy.toString)
    assert(ParquetMeta.readShardGens(conf, legacy).toSeq ==
      ParquetMeta.readManifestRow(conf, legacy).shardGens.toSeq)
  }

  private def legacyManifest(rows: Seq[ParquetMeta.ManifestRow]) = {
    import spark.implicits._
    rows.map(r => (r.version, r.generation, r.layout, r.k, r.w, r.seed,
      r.maxFp, r.hllP, r.minContentLen, r.sizingMode, r.bitsPerBin,
      r.numHashes, r.maxHashesBin, r.numBins, r.shardGens, r.ibf))
      .toDF("version", "generation", "layout", "k", "w", "seed", "max_fp",
        "hll_p", "min_content_len", "sizing_mode", "bits_per_bin",
        "num_hashes", "max_hashes_bin", "num_bins", "shard_gens", "ibf")
  }

  /** A legacy multi-part manifest directory, one row per part file. */
  private def multiPart(rows: ParquetMeta.ManifestRow*): Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    val p = new Path(s"$dir/manifest.parquet")
    rows.zipWithIndex.foreach { case (r, i) =>
      ParquetMeta.writeManifestRow(conf, new Path(p, f"part-$i%05d.parquet"), r)
    }
    p
  }

  test("multi-part manifest: identical rows read as that row") {
    val p = multiPart(row, row.copy(shardGens = row.shardGens.clone(),
      ibf = row.ibf.clone()))
    val r = ParquetMeta.readManifestRow(conf, p)
    assert(r.copy(shardGens = null, ibf = null) ==
      row.copy(shardGens = null, ibf = null))
    assert(r.shardGens.toSeq == row.shardGens.toSeq)
    assert(ParquetMeta.readShardGens(conf, p).toSeq == row.shardGens.toSeq)
  }

  test("multi-part manifest: rows that disagree are an error") {
    val p = multiPart(row, row.copy(shardGens = Array(3, 4, 2)))
    val e = intercept[IllegalArgumentException] {
      ParquetMeta.readManifestRow(conf, p)
    }
    assert(e.getMessage.contains("disagree"))
    intercept[IllegalArgumentException](ParquetMeta.readShardGens(conf, p))
  }

  test("multi-part manifest: zero rows keep the row-count message") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    val p = s"$dir/manifest.parquet"
    legacyManifest(Seq(row)).limit(0).coalesce(1).write.parquet(p)
    val e = intercept[IllegalArgumentException] {
      ParquetMeta.readManifestRow(conf, new Path(p))
    }
    assert(e.getMessage.contains("holds 0 rows"))
  }
}
