package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction

import graft.core.{Hashing, MinHash, SimHash}
import graft.spark.udaf.{AggSpec, BloomSpec, CmsSpec, HllSpec, KllSpec, MinKSpec,
  SketchAgg, TDigestSpec}

/**
 * Column-function surface of the engine. The shingle/token hashing runs as
 * a tight per-row loop (the reference's per-read minimizer hashing,
 * ganon src/ganon-classify/GanonClassify.cpp:646-650) inside a Scala UDF
 * returning `Array[Long]` — arrays are folded directly into sketch
 * aggregation buffers, never exploded row-per-hash.
 */
object GraftFunctions {

  // ---- scalar / array functions ----------------------------------------

  /** Native Catalyst expression (no boxing, codegen) — see [[ShinglesExpr]]. */
  def shingles(content: Column, k: Int, w: Int,
      seed: Long = Hashing.DefaultSeed): Column =
    ShinglesExpr.col(content, k, w, seed)

  /** Native Catalyst expression — see [[TokenHashesExpr]]. */
  def tokenHashes(text: Column, seed: Long = Hashing.DefaultSeed): Column =
    TokenHashesExpr.col(text, seed)

  /** Token MULTISET hashes (no per-row dedup) — feed frequency sketches
    * with this one; the distinct form would undercount repeats. */
  def tokenHashesMultiset(text: Column,
      seed: Long = Hashing.DefaultSeed): Column =
    TokenHashesExpr.col(text, seed, distinct = false)

  val hash64Udf: UserDefinedFunction =
    udf((s: String) => if (s == null) 0L else Hashing.hashString(s))

  def hash64(c: Column): Column = hash64Udf(c)

  /** MinHash signature of a row's shingle set — one-permutation hashing
    * with rotation densification (one mix64 per element, not numPerms). */
  def minhashSignature(hashes: Column, numPerms: Int,
      seed: Long = Hashing.DefaultSeed): Column =
    MinhashSigExpr.col(hashes, numPerms, seed, oph = true)

  /** The k-independent-permutations variant (reference estimator for the
    * OPH fast path in tests). */
  def minhashSignatureKPerm(hashes: Column, numPerms: Int,
      seed: Long = Hashing.DefaultSeed): Column =
    MinhashSigExpr.col(hashes, numPerms, seed, oph = false)

  /** LSH band keys for a MinHash signature. Null-tolerant: a null
    * signature (user-supplied column) yields no band keys, so the row
    * simply never enters a bucket instead of NPE-ing the job. */
  def lshBandKeys(sig: Column, bands: Int): Column = {
    val f = udf((s: Array[Long]) =>
      if (s == null) Array.empty[Long] else MinHash.bandKeys(s, bands))
    f(sig)
  }

  /** Paired-read shingles (GanonClassify.cpp:695-700): union of both mates'
    * minimizer sets, kept in the engine's unsigned-sorted-distinct form. */
  def pairedShingles(c1: Column, c2: Column, k: Int, w: Int,
      seed: Long = Hashing.DefaultSeed): Column = {
    val mergeUdf = udf((a: Array[Long], b: Array[Long]) =>
      Hashing.sortedDistinct(
        (Option(a).getOrElse(Array.emptyLongArray) ++
          Option(b).getOrElse(Array.emptyLongArray))))
    mergeUdf(shingles(c1, k, w, seed), shingles(c2, k, w, seed))
  }

  /** 64-bit SimHash of a row's token-hash set. */
  val simhashUdf: UserDefinedFunction =
    udf((hs: Array[Long]) => if (hs == null) 0L else SimHash.simhash(hs))

  def simhash(tokenHashes: Column): Column = simhashUdf(tokenHashes)

  // ---- sketch aggregations ---------------------------------------------

  def hllCount(hashes: Column, p: Int = 14): Column =
    SketchAgg.col(hashes, HllSpec(p, count = true))

  def hllSketch(hashes: Column, p: Int = 14): Column =
    SketchAgg.col(hashes, HllSpec(p, count = false))

  def bloomSketch(hashes: Column, numBits: Long, numHashes: Int): Column =
    SketchAgg.col(hashes, BloomSpec(numBits, numHashes))

  /** Band-cap primitive: k smallest ids per group + dropped count
    * (struct<ids: array<bigint>, dropped: bigint>) — see
    * [[graft.spark.udaf.MinKSpec]]. */
  def minKIds(id: Column, k: Int): Column =
    SketchAgg.col(id, MinKSpec(k))

  def cmsSketch(hashes: Column, depth: Int = 7, width: Int = 8192): Column =
    SketchAgg.col(hashes, CmsSpec(depth, width))

  def kllSketch(value: Column, k: Int = 256): Column =
    SketchAgg.col(value, KllSpec(k))

  def kllQuantiles(value: Column, qs: Array[Double], k: Int = 256): Column =
    SketchAgg.col(value, KllSpec(k, Some(qs.toSeq)))

  def tdigestSketch(value: Column, compression: Double = 100.0): Column =
    SketchAgg.col(value, TDigestSpec(compression))

  def tdigestQuantiles(value: Column, qs: Array[Double],
      compression: Double = 100.0): Column =
    SketchAgg.col(value, TDigestSpec(compression, Some(qs.toSeq)))

  // ---- SQL registration --------------------------------------------------

  // SQL literal args arrive as whatever numeric type the parser chose
  // (42 is Int, 42L is Long): coerce instead of asInstanceOf, which would
  // throw ClassCastException on the "wrong" literal width
  // non-foldable args (a column reference for k/seed) must fail with the
  // intended message, not an obscure unbound-reference exception from eval
  private def evalIntArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a numeric literal, got non-foldable ${e.sql}")
    e.eval() match {
      case n: java.lang.Number => n.intValue()
      case x => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $x")
    }
  }
  private def evalLongArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Long = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a numeric literal, got non-foldable ${e.sql}")
    e.eval() match {
      case n: java.lang.Number => n.longValue()
      case x => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $x")
    }
  }
  private def evalBoolArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Boolean = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a boolean literal, got non-foldable ${e.sql}")
    e.eval() match {
      case b: java.lang.Boolean => b
      case x => throw new IllegalArgumentException(
        s"$what must be a boolean literal, got $x")
    }
  }

  /** A SQL sketch function over one column, its parameters fixed. */
  private def registerSketch[B](spark: SparkSession, spec: AggSpec[B]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(spec.name,
      es => {
        if (es.length != 1) throw new IllegalArgumentException(
          s"${spec.name} takes one ${spec.inputType.simpleString} argument, got ${es.length}")
        SketchAgg(es.head, spec)
      },
      "scala_udf")

  /** Register the engine's functions for spark.sql use. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_shingles",
      es => ShinglesExpr(es.head,
        evalIntArg(es(1), "k"), evalIntArg(es(2), "w"),
        if (es.length > 3) evalLongArg(es(3), "seed") else Hashing.DefaultSeed),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_token_hashes",
      es => TokenHashesExpr(es.head,
        if (es.length > 1) evalLongArg(es(1), "seed") else Hashing.DefaultSeed,
        distinct = es.length <= 2 || evalBoolArg(es(2), "distinct")),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash_sig",
      es => MinhashSigExpr(es.head, evalIntArg(es(1), "numPerms"),
        if (es.length > 2) evalLongArg(es(2), "seed") else Hashing.DefaultSeed,
        oph = es.length <= 3 || evalBoolArg(es(3), "oph")),
      "scala_udf")
    spark.udf.register("graft_hash64", hash64Udf)
    spark.udf.register("graft_simhash", simhashUdf)
    spark.udf.register("graft_band_keys",
      udf((s: Array[Long], bands: Int) =>
        if (s == null) Array.empty[Long] else MinHash.bandKeys(s, bands)))
    registerSketch(spark, HllSpec(14, count = true))
    registerSketch(spark, HllSpec(14, count = false))
    registerSketch(spark, CmsSpec(7, 8192))
    registerSketch(spark, KllSpec(256))
    // registration fixes the parameters, so the SQL surface carries the
    // library default cap (10000); a different maxBucket needs the Scala
    // API (GraftFunctions.minKIds(col, k)) or a re-registration under
    // another name
    registerSketch(spark, MinKSpec(10000))
  }
}
