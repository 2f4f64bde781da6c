package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Hashing
import graft.core.sketch.{Bloom, CountMin, HashSketch, Hll}
import graft.spark.udaf.{BloomSpec, CmsSpec, HllSpec, SketchBuf, SketchSpec}

/**
 * The sparse-first sketch aggregate against one core fold: whatever the
 * partitioning, the hash-map or sort-based aggregation path, and whether a
 * buffer densified map-side, in a merge or only at the end, every group's
 * bytes equal one `add` of all its hashes into an empty sketch.
 */
class HashSketchAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // every spec densifies past the same 128 pending hashes
  private val Limit = 128
  private val hllCount = HllSpec(10, count = true)
  private val hllSketch = HllSpec(10, count = false)
  private val bloom = BloomSpec(64L * Limit, 3)
  private val cms = CmsSpec(2, Limit / 2)

  /** One core fold of `hs` into `spec`'s empty sketch. */
  private def fold[S <: HashSketch[S]](spec: SketchSpec[S], hs: Seq[Long]): S = {
    val s = spec.empty
    hs.foreach(s.add)
    s
  }

  private def bytesOf(spec: SketchSpec[_], v: Any): Seq[Byte] = v match {
    case b: Array[Byte] => b.toSeq
    case l: Long => BigInt(l).toByteArray.toSeq
    case other => fail(s"${spec.name}: unexpected result $other")
  }

  /** Groups of hashes around the limit, as (group, row) with repeats across
    * rows so count-min sees a multiset: below, at and on both sides of the
    * limit, far above it, one large row among small ones (a dense partial
    * beside sparse ones) and a group holding a null array. */
  private lazy val fixture: Seq[(String, Array[Long])] = {
    def rows(g: String, sizes: Seq[Int]): Seq[(String, Array[Long])] =
      sizes.zipWithIndex.map { case (n, r) =>
        g -> Array.tabulate(n)(j => Hashing.hashLong((r * 7 + j) % 97 + g.hashCode * 1000L, 11L))
      }
    def total(g: String, n: Int) = rows(g, Seq.fill(n / 8)(8) ++ Seq(n % 8).filter(_ > 0))
    total("below", 40) ++ total("limit-1", Limit - 1) ++ total("limit", Limit) ++
      total("limit+1", Limit + 1) ++ total("far", 10 * Limit) ++
      rows("mixed", 2 * Limit +: Seq.fill(12)(5)) ++
      rows("nulls", Seq(9, 9)) :+ ("nulls" -> null)
  }

  private lazy val fixtureDf: DataFrame = fixture.toDF("g", "hs").cache()

  private val specs: Seq[SketchSpec[_]] =
    Seq(hllCount, hllSketch, bloom, cms)

  private def aggCol(spec: SketchSpec[_]): Column = spec match {
    case s: HllSpec if s.count => GraftFunctions.hllCount($"hs", s.p)
    case s: HllSpec => GraftFunctions.hllSketch($"hs", s.p)
    case s: BloomSpec => GraftFunctions.bloomSketch($"hs", s.numBits, s.numHashes)
    case s: CmsSpec => GraftFunctions.cmsSketch($"hs", s.depth, s.width)
  }

  private def expected(spec: SketchSpec[_], hs: Seq[Long]): Seq[Byte] = spec match {
    case s: HllSpec => bytesOf(s, s.result(fold(s, hs)))
    case s: BloomSpec => bytesOf(s, s.result(fold(s, hs)))
    case s: CmsSpec => bytesOf(s, s.result(fold(s, hs)))
  }

  private def checkGroups(what: String, df: DataFrame): Unit = {
    val got = df.groupBy("g").agg(aggCol(hllCount), specs.tail.map(aggCol): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    val want = fixture.groupBy(_._1)
    assert(got.keySet == want.keySet, what)
    want.foreach { case (g, rows) =>
      val hs = rows.flatMap(r => Option(r._2).toSeq.flatten)
      specs.zipWithIndex.foreach { case (spec, i) =>
        val equal = bytesOf(spec, got(g).get(i + 1)) == expected(spec, hs)
        assert(equal, s"$what: ${spec.name} of group $g (${hs.size} hashes)")
      }
    }
  }

  test("grouped sketches equal one core fold at 1, 3 and 16 partitions, " +
    "hash-map and sort-based aggregation") {
    Seq(1, 3, 16).foreach { p =>
      checkGroups(s"$p partitions", fixtureDf.repartition(p))
    }
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try Seq(1, 3, 16).foreach { p =>
      checkGroups(s"$p partitions, sort-based fallback", fixtureDf.repartition(p))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("an empty input gives the empty sketch; no group gives no row") {
    val empty = fixtureDf.filter(lit(false))
    val row = empty.agg(aggCol(hllCount), specs.tail.map(aggCol): _*).collect()
    assert(row.length == 1)
    assert(row.head.getLong(0) == 0L)
    assert(row.head.getAs[Array[Byte]](1).toSeq == Hll.empty(10).toBytes.toSeq)
    assert(row.head.getAs[Array[Byte]](2).toSeq ==
      Bloom.empty(bloom.numBits, bloom.numHashes).toBytes.toSeq)
    assert(row.head.getAs[Array[Byte]](3).toSeq ==
      CountMin.empty(cms.depth, cms.width).toBytes.toSeq)
    assert(empty.groupBy("g").agg(aggCol(hllSketch)).collect().isEmpty)
  }

  test("a Scala UDF's Array[Long] and an array<int> are cast, not refused; " +
    "null elements add nothing") {
    val toArr = udf((xs: Seq[Long]) => xs.toArray)
    val ints = Seq(Seq(1, 2, 3), Seq(3, 4)).toDF("xs")
    val viaUdf = ints.select(toArr($"xs".cast("array<bigint>")).as("hs"))
      .agg(GraftFunctions.hllSketch($"hs", 10)).head().getAs[Array[Byte]](0)
    val viaCast = ints.agg(GraftFunctions.hllSketch($"xs", 10))
      .head().getAs[Array[Byte]](0)
    val want = fold(hllSketch, Seq(1L, 2L, 3L, 3L, 4L)).toBytes.toSeq
    val withNulls = Seq(Seq[java.lang.Long](1L, 2L, null, 3L), Seq[java.lang.Long](null, 3L, 4L))
      .toDF("hs").agg(GraftFunctions.hllSketch($"hs", 10)).head().getAs[Array[Byte]](0)
    val (udfOk, castOk, nullOk) =
      (viaUdf.toSeq == want, viaCast.toSeq == want, withNulls.toSeq == want)
    assert(udfOk && castOk && nullOk,
      s"via Scala UDF $udfOk, via array<int> $castOk, with null elements $nullOk")
  }

  /** A buffer that has seen `hs`, folded row by row. */
  private def buf[S <: HashSketch[S]](spec: SketchSpec[S], hs: Array[Long]): SketchBuf[S] = {
    val b = new SketchBuf(spec)
    hs.grouped(7).foreach(r => b.addAll(UnsafeArrayData.fromPrimitiveArray(r), skipNulls = false))
    b
  }

  private def roundTrip[S <: HashSketch[S]](b: SketchBuf[S]): SketchBuf[S] =
    SketchBuf.fromBytes(b.spec, b.toBytes)

  private def hashes(n: Int, salt: Long): Array[Long] =
    Array.tabulate(n)(i => Hashing.hashLong(i % 53, salt))

  private def bufferMerges[S <: HashSketch[S]](spec: SketchSpec[S]): Unit = {
    def same(b: SketchBuf[S], hs: Array[Long], what: String): Unit = {
      val equal = b.sketch.toBytes.toSeq == fold(spec, hs.toSeq).toBytes.toSeq
      assert(equal, s"${spec.name}: $what")
    }
    Seq(Limit - 1, Limit, Limit + 1).foreach { n =>
      val hs = hashes(n, n)
      val b = buf(spec, hs)
      assert(b.isDense == (n > Limit), s"${spec.name}: n=$n dense=${b.isDense}")
      val rt = roundTrip(b)
      assert(rt.isDense == b.isDense && rt.pendingCount == b.pendingCount)
      same(rt, hs, s"round trip at n=$n")
      same(b, hs, s"fold at n=$n")
      // sparse + sparse: the pending lists of two halves cross the limit
      // exactly when the whole does
      val (l, r) = hs.splitAt(n / 2)
      val ss = roundTrip(buf(spec, l)).merge(roundTrip(buf(spec, r)))
      assert(ss.isDense == (n > Limit), s"${spec.name}: sparse+sparse at n=$n")
      same(ss, hs, s"sparse+sparse at n=$n")
      // sparse + dense and dense + sparse; the merged-in buffer is unchanged
      val big = hashes(Limit + 1, 99)
      val dense = roundTrip(buf(spec, big))
      val denseBytes = dense.toBytes.toSeq
      val sd = roundTrip(buf(spec, l)).merge(dense)
      val denseKept = dense.toBytes.toSeq == denseBytes
      assert(denseKept, s"${spec.name}: merge changed its input")
      same(sd, l ++ big, s"sparse+dense at n=$n")
      val sparse = roundTrip(buf(spec, r))
      val sparseBytes = sparse.toBytes.toSeq
      val ds = roundTrip(buf(spec, big)).merge(sparse)
      val sparseKept = sparse.toBytes.toSeq == sparseBytes
      assert(sparseKept, s"${spec.name}: merge changed its input")
      same(ds, big ++ r, s"dense+sparse at n=$n")
      same(roundTrip(ds), big ++ r, s"dense round trip at n=$n")
    }
  }

  test("buffers round-trip and merge to one fold at limit-1, limit and limit+1") {
    bufferMerges(hllSketch)
    bufferMerges(bloom)
    bufferMerges(cms)
  }
}
