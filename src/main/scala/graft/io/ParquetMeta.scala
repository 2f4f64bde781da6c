package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/**
 * Driver-direct parquet I/O for the store's CONTROL PLANE (bins + manifest,
 * a handful of rows per generation): writing/reading these through
 * `spark.read`/`df.write` schedules a full Spark job per file — ~100 ms of
 * scheduler latency each, paid on EVERY store commit, load and gc manifest
 * scan. At streaming-ingest cadence that job latency IS the commit
 * latency, and the guide's driver rule (§5: the driver should do almost no
 * data work — and symmetrically, tiny metadata ops should not be cluster
 * jobs) points the other way: metadata is O(1) driver I/O.
 *
 * The on-disk format is unchanged — standard parquet at the same paths
 * with the same column names/types, so Spark (and DuckDB) still read
 * these files, and this reader still reads directory-shaped metadata
 * written by older generations via `df.write.parquet` (part-files under a
 * `.parquet` directory).
 */
private[graft] object ParquetMeta {

  private val BinsSchema = MessageTypeParser.parseMessageType(
    """message bins {
      |  required binary target (STRING);
      |  required int64 n_hashes;
      |  required int32 base;
      |  required int32 split;
      |}""".stripMargin)

  private val ManifestSchema = MessageTypeParser.parseMessageType(
    """message manifest {
      |  required int32 version;
      |  required int32 generation;
      |  required binary layout (STRING);
      |  required int32 k;
      |  required int32 w;
      |  required int64 seed;
      |  required double max_fp;
      |  required int32 hll_p;
      |  required int32 min_content_len;
      |  required binary sizing_mode (STRING);
      |  required int64 bits_per_bin;
      |  required int32 num_hashes;
      |  required int64 max_hashes_bin;
      |  required int32 num_bins;
      |  required group shard_gens (LIST) {
      |    repeated group list {
      |      required int32 element;
      |    }
      |  }
      |  required binary ibf;
      |}""".stripMargin)

  /** Everything one generation's manifest row carries. */
  final case class ManifestRow(
      version: Int, generation: Int, layout: String, k: Int, w: Int,
      seed: Long, maxFp: Double, hllP: Int, minContentLen: Int,
      sizingMode: String, bitsPerBin: Long, numHashes: Int,
      maxHashesBin: Long, numBins: Int, shardGens: Array[Int],
      ibf: Array[Byte])

  private def writer(conf: Configuration, file: Path,
      schema: org.apache.parquet.schema.MessageType) = {
    val fs = file.getFileSystem(conf)
    if (fs.exists(file)) fs.delete(file, true) // replace dir-shaped legacy
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  /** The data files behind a metadata path: the path itself, or the
    * part-files inside it when it is a legacy directory-shaped write. */
  private def partFiles(conf: Configuration, path: Path): Seq[Path] = {
    val fs = path.getFileSystem(conf)
    val st = fs.getFileStatus(path)
    if (!st.isDirectory) Seq(path)
    else fs.listStatus(path).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .sortBy(_.getName.toString).toSeq
  }

  private def readGroups(conf: Configuration, path: Path,
      support: GroupReadSupport = new GroupReadSupport()): Vector[Group] = {
    val out = Vector.newBuilder[Group]
    partFiles(conf, path).foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetReader
        .builder(support, f).withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) { out += g; g = r.read() }
      } finally r.close()
    }
    out.result()
  }

  /** Reads only the named top-level column, typed as the FILE declares it
    * (legacy Spark writers mark columns optional where ParquetMeta writes
    * required), so the other column chunks are never decoded. */
  private final class Projection(field: String) extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      new ReadSupport.ReadContext(new MessageType(file.getName,
        file.getType(file.getFieldIndex(field))))
    }
  }

  /** The one logical row of a manifest: a legacy multi-part directory may
    * repeat it across part files, which is fine as long as every copy
    * agrees. */
  private def oneRow[T](path: Path, rows: Seq[T])(same: (T, T) => Boolean): T = {
    require(rows.nonEmpty, s"manifest at $path holds 0 rows")
    require(rows.tail.forall(same(rows.head, _)),
      s"manifest at $path holds ${rows.length} rows that disagree")
    rows.head
  }

  def writeBins(conf: Configuration, path: Path,
      rows: Seq[(String, Long, Int, Int)]): Unit = {
    val w = writer(conf, path, BinsSchema)
    try {
      val f = new SimpleGroupFactory(BinsSchema)
      rows.foreach { case (target, nHashes, base, split) =>
        val g = f.newGroup()
        g.add("target", target)
        g.add("n_hashes", nHashes)
        g.add("base", base)
        g.add("split", split)
        w.write(g)
      }
    } finally w.close()
  }

  def readBins(conf: Configuration, path: Path)
      : Array[(String, Long, Int, Int)] =
    readGroups(conf, path).map { g =>
      (g.getString("target", 0), g.getLong("n_hashes", 0),
        g.getInteger("base", 0), g.getInteger("split", 0))
    }.toArray

  def writeManifestRow(conf: Configuration, path: Path,
      m: ManifestRow): Unit = {
    val w = writer(conf, path, ManifestSchema)
    try {
      val f = new SimpleGroupFactory(ManifestSchema)
      val g = f.newGroup()
      g.add("version", m.version)
      g.add("generation", m.generation)
      g.add("layout", m.layout)
      g.add("k", m.k)
      g.add("w", m.w)
      g.add("seed", m.seed)
      g.add("max_fp", m.maxFp)
      g.add("hll_p", m.hllP)
      g.add("min_content_len", m.minContentLen)
      g.add("sizing_mode", m.sizingMode)
      g.add("bits_per_bin", m.bitsPerBin)
      g.add("num_hashes", m.numHashes)
      g.add("max_hashes_bin", m.maxHashesBin)
      g.add("num_bins", m.numBins)
      val sg = g.addGroup("shard_gens")
      m.shardGens.foreach(v => sg.addGroup("list").add("element", v))
      g.add("ibf", org.apache.parquet.io.api.Binary.fromConstantByteArray(m.ibf))
      w.write(g)
    } finally w.close()
  }

  // index-based list access tolerates legacy writers' inner field names
  private def shardGensOf(g: Group): Array[Int] = {
    val sgIdx = g.getType.getFieldIndex("shard_gens")
    if (g.getFieldRepetitionCount(sgIdx) == 0) Array.empty[Int]
    else {
      val sg = g.getGroup(sgIdx, 0)
      Array.tabulate(sg.getFieldRepetitionCount(0))(i =>
        sg.getGroup(0, i).getInteger(0, 0))
    }
  }

  def readManifestRow(conf: Configuration, path: Path): ManifestRow = {
    val rows = readGroups(conf, path).map { g =>
      ManifestRow(
        g.getInteger("version", 0), g.getInteger("generation", 0),
        g.getString("layout", 0), g.getInteger("k", 0), g.getInteger("w", 0),
        g.getLong("seed", 0), g.getDouble("max_fp", 0),
        g.getInteger("hll_p", 0), g.getInteger("min_content_len", 0),
        g.getString("sizing_mode", 0), g.getLong("bits_per_bin", 0),
        g.getInteger("num_hashes", 0), g.getLong("max_hashes_bin", 0),
        g.getInteger("num_bins", 0), shardGensOf(g),
        g.getBinary("ibf", 0).getBytes)
    }
    oneRow(path, rows) { (a, b) =>
      a.copy(shardGens = null, ibf = null) ==
        b.copy(shardGens = null, ibf = null) &&
        a.shardGens.sameElements(b.shardGens) && a.ibf.sameElements(b.ibf)
    }
  }

  /** A manifest's `shard_gens` alone — the gc path's read, which must not
    * decode the filter bytes every kept generation's row carries. */
  def readShardGens(conf: Configuration, path: Path): Array[Int] =
    oneRow(path, readGroups(conf, path, new Projection("shard_gens"))
      .map(shardGensOf))(_ sameElements _)
}
