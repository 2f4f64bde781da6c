package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: run ONE SparkEntry query against an SF dir and print its row
  * count, its wall time (plan + collect) and whether every row's `ok`
  * column (the invariant-oracle convention) holds — the fast inner loop
  * while authoring or timing a driver row, without the full `graft.Verify`
  * sweep.
  * Usage: runMain graft.RunOne <sfDir> q69_stream_live */
object RunOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val rows = df.collect()
    val wallS = (System.nanoTime() - t0) / 1e9
    println(f"ROWS=${rows.length} WALL_S=$wallS%.3f")
    val okIdx = df.schema.fieldNames.indexOf("ok")
    if (okIdx >= 0) println(s"ALL_OK=${rows.forall(_.getBoolean(okIdx))}")
  }
}
