package graft

import org.apache.spark.sql.SparkSession

/**
 * Optimization-round measurement harness (guide §1). Bench.scala is frozen
 * for the driver contract, so the per-query iteration loop lives here:
 *
 *   sbt "runMain graft.BenchExtra [queryPrefix ...]"
 *
 * - Times each selected SparkEntry query with the SAME action as Bench
 *   (`.count()` + `clearCache` after timing) so numbers are comparable,
 *   but runs `reps` times per query (SPARK_GRAFT_EXTRA_REPS, default 2)
 *   and reports min + all samples.
 * - SPARK_GRAFT_EXTRA_NOOP=1 switches the action to the noop sink
 *   (guide §1.4) which computes every column — useful to isolate a
 *   projection cost that `count()` lets the optimizer prune.
 * - SPARK_GRAFT_EXTRA_PLANDIR=<dir> additionally writes
 *   <dir>/<query>.txt with `.explain("formatted")` for each query.
 *
 * Prints one JSON line: {"queries_min":{...},"queries_samples":{...}};
 * a failed rep is sampled as -1.0 and left out of `queries_min`.
 */
object BenchExtra {
  /** A query's fastest successful rep; a failed rep is recorded as a
    * negative sample and never counts, so a query whose every rep failed
    * has no minimum (emitted as `null`). */
  def queryMin(samples: Seq[Double]): Option[Double] =
    samples.filter(_ >= 0).minOption

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt
    val useNoop = sys.env.get("SPARK_GRAFT_EXTRA_NOOP").contains("1")
    val planDir = sys.env.get("SPARK_GRAFT_EXTRA_PLANDIR")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wanted = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      args.isEmpty || args.exists(n.startsWith)
    }
    planDir.foreach(d => new java.io.File(d).mkdirs())

    val results = wanted.map { case (name, fn) =>
      planDir.foreach { d =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val w = new java.io.PrintWriter(s"$d/$name.txt")
          try w.write(txt) finally w.close()
          spark.catalog.clearCache()
        } catch { case e: Throwable =>
          System.err.println(s"[benchx] explain $name failed: ${e.getMessage}")
        }
      }
      val samples = (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val ok = try {
          val df = fn(spark, sfDir)
          if (useNoop) df.write.format("noop").mode("overwrite").save()
          else df.count()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[benchx] $name failed: ${e.getMessage}"); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(null)
        if (ok) dt else -1.0
      }
      name -> samples
    }
    def f(d: Double): String = "%.4f".format(d)
    val mins = results.map { case (k, v) =>
      "\"" + k + "\":" + queryMin(v).map(f).getOrElse("null")
    }.mkString("{", ",", "}")
    val all = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.flatMap(r => queryMin(r._2)).sum
    println(s"""{"metric":"extra","total_min":${f(total)},""" +
      s""""queries_min":$mins,"queries_samples":$all,"sf":"$sfDir",""" +
      s""""noop":$useNoop,"reps":$reps}""")
    spark.stop()
  }
}
