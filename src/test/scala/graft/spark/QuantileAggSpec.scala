package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.sketch.{Kll, MinK, TDigest}
import graft.spark.udaf.{AggSpec, KllSpec, MinKSpec, TDigestSpec}

/**
 * KLL, t-digest and the band-cap heap as native aggregates. Their buffers
 * cross the exchange in their own bytes, so the property Kryo gave for
 * free is checked here: a buffer read back from its bytes folds, merges
 * and serializes exactly as one that never crossed. In Spark, the results
 * keep their rank bounds at any partitioning and through the sort-based
 * fallback, equal one core fold at one partition, and keep the result
 * types and empty-input values the typed `Aggregator`s had.
 */
class QuantileAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(17)
  private def doubles(n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian() * 100)

  /** `spec`'s buffer after `vs`, one update each. */
  private def fold[B](spec: AggSpec[B], vs: Seq[Any]): B = {
    val b = spec.newBuffer()
    vs.foreach(v => spec.update(b, v, nullElems = false))
    b
  }

  private def crossed[B](spec: AggSpec[B], b: B): B = spec.deserialize(spec.serialize(b))

  private def bytesOf(v: Any): Seq[Any] = v match {
    case b: Array[Byte] => b.toSeq
    case a: org.apache.spark.sql.catalyst.util.ArrayData =>
      a.toDoubleArray().toSeq.map(java.lang.Double.doubleToRawLongBits)
    case r: org.apache.spark.sql.catalyst.InternalRow =>
      r.getArray(0).toLongArray().toSeq :+ r.getLong(1)
    case other => fail(s"unexpected result $other")
  }

  /**
   * Every fixture buffer, crossed and not, then given the same further
   * values and merged with (and into) the same other buffer: the two
   * sides' bytes and results are equal after each step. Each step runs on
   * fresh buffers and is observed only at its end, since observing a
   * t-digest (`serialize`, `eval`) may flush it.
   */
  private def transparent[B](spec: AggSpec[B], fixtures: Seq[(String, () => B)],
      more: Seq[Any]): Unit = fixtures.foreach { case (what, make) =>
    def run(cross: Boolean, steps: Int): B = {
      def x(b: B): B = if (cross) crossed(spec, b) else b
      val b = x(make())
      if (steps >= 1) more.foreach(v => spec.update(b, v, false))
      if (steps == 2) spec.merge(b, x(fold(spec, more.reverse)))
      else if (steps == 3) spec.merge(fold(spec, more.reverse), x(b))
      else b
    }
    Seq("read back", "further updates", "merged with another buffer",
        "merged into another buffer").zipWithIndex.foreach { case (step, i) =>
      val (a, b) = (run(cross = false, i), run(cross = true, i))
      val same = spec.serialize(a).toSeq == spec.serialize(b).toSeq &&
        bytesOf(spec.eval(a)) == bytesOf(spec.eval(b))
      assert(same, s"${spec.name} $what: $step")
    }
  }

  test("KLL buffers read back from their bytes continue as the original " +
      "at n = 0, 1, k-1, k and 5k") {
    val k = 32
    val spec = KllSpec(k)
    val fixtures = Seq(0, 1, k - 1, k, 5 * k).map { n =>
      val vs = doubles(n).toSeq
      s"n=$n" -> (() => fold(spec, vs))
    }
    transparent(spec, fixtures, doubles(3 * k).toSeq)
    transparent(KllSpec(k, Some(Seq(0.1, 0.5, 0.99))), fixtures, doubles(40).toSeq)
  }

  test("t-digest buffers keep their pending values across the exchange: " +
      "0, 1, 63, 64 and 65 pending, with and without centroids") {
    val spec = TDigestSpec(50.0)
    val fixtures = for {
      prefix <- Seq(0, 300)
      pending <- Seq(0, 1, 63, 64, 65)
    } yield {
      val (pre, vs) = (doubles(prefix).toSeq, doubles(pending).toSeq)
      s"prefix=$prefix pending=$pending" -> (() => {
        val td = fold(spec, pre)
        td.centroidCount // flushes: the pending values below are all there is
        vs.foreach(td.add(_))
        td
      })
    }
    transparent(spec, fixtures, doubles(150).toSeq)
    transparent(TDigestSpec(50.0, Some(Seq(0.01, 0.5, 0.9))), fixtures, doubles(70).toSeq)
    // the exchange form differs from the flushing public one exactly when
    // values are pending
    val td = fixtures.last._2()
    assert(TDigest.fromBufferBytes(td.toBufferBytes).toBytes.toSeq == td.toBytes.toSeq)
  }

  test("band-cap heaps read back from their bytes continue as the original " +
      "below, at and above k") {
    val k = 8
    val spec = MinKSpec(k)
    val fixtures = Seq(5, k, 30).map { n =>
      val ids = Seq.fill(n)(rnd.nextLong())
      s"n=$n" -> (() => fold(spec, ids))
    }
    assert(fixtures.last._2().dropped == 22)
    transparent(spec, fixtures, Seq.fill(20)(rnd.nextLong()))
  }

  /** Groups of doubles and ids: one value, a few, and thousands. */
  private lazy val rows: Seq[(String, Double, Long)] = {
    val sizes = Seq("one" -> 1, "few" -> 31, "mid" -> 700, "big" -> 6000)
    sizes.flatMap { case (g, n) =>
      (0 until n).map(i => (g, rnd.nextGaussian() * 1000 + i % 97, rnd.nextLong()))
    }
  }
  private lazy val rowsDf: DataFrame = rows.toDF("g", "v", "id").repartition(5).cache()
  // the rows in their partition order, the order one task folds them in
  private lazy val ordered: Seq[Row] = rowsDf.collect().toSeq
  private val qs = Array(0.01, 0.1, 0.5, 0.9, 0.99)

  private def aggs: Seq[Column] = Seq(
    GraftFunctions.kllSketch($"v", 64), GraftFunctions.tdigestSketch($"v", 100.0),
    GraftFunctions.kllQuantiles($"v", qs, 64), GraftFunctions.tdigestQuantiles($"v", qs, 100.0),
    GraftFunctions.minKIds($"id", 16))

  private def checkBounds(what: String, df: DataFrame, exact: Boolean): Unit = {
    val got = df.groupBy("g").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getString(0) -> r).toMap
    val byGroup = ordered.groupBy(_.getString(0))
    assert(got.keySet == byGroup.keySet, what)
    byGroup.foreach { case (g, rs) =>
      val vs = rs.map(_.getDouble(1))
      val sorted = vs.sorted.toArray
      val r = got(g)
      val kll = Kll.fromBytes(r.getAs[Array[Byte]](1))
      val td = TDigest.fromBytes(r.getAs[Array[Byte]](2))
      val slack = 1.0 / sorted.length
      def rankErr(q: Double, est: Double): Double = {
        val lo = sorted.count(_ < est).toDouble / sorted.length
        val hi = sorted.count(_ <= est).toDouble / sorted.length
        if (q < lo) lo - q else if (q > hi) q - hi else 0.0
      }
      val kq = r.getAs[scala.collection.Seq[Double]](3)
      val tq = r.getAs[scala.collection.Seq[Double]](4)
      qs.zipWithIndex.foreach { case (q, i) =>
        assert(kq(i) == kll.quantile(q) && tq(i) == td.quantile(q), s"$what $g q=$q")
        assert(rankErr(q, kq(i)) <= kll.rankErrorBound + slack, s"$what kll $g q=$q")
        assert(rankErr(q, tq(i)) <= TDigest.rankErrorBound(100.0) + slack,
          s"$what tdigest $g q=$q")
      }
      assert(kll.n == vs.size, s"$what kll n of $g")
      val mk = r.getAs[Row](5)
      val ids = rs.map(_.getLong(2)).sorted
      assert(mk.getAs[scala.collection.Seq[Long]](0) == ids.take(16) &&
        mk.getLong(1) == math.max(0, ids.size - 16), s"$what min-k of $g")
      if (exact) {
        // one task folds every value in order; the final merges its one
        // buffer into an empty one, which keeps the empty KLL's compaction
        // flags and replays a digest's centroids
        val coreKll = Kll.empty(64); vs.foreach(coreKll.add)
        val coreTd = TDigest.empty(100.0); vs.foreach(coreTd.add(_))
        val kllSame = r.getAs[Array[Byte]](1).sameElements(Kll.empty(64).merge(coreKll).toBytes)
        val tdSame = r.getAs[Array[Byte]](2).sameElements(
          TDigest.empty(100.0).merge(coreTd).toBytes)
        assert(kllSame && tdSame, s"$what bytes of $g: kll $kllSame, tdigest $tdSame")
      }
    }
  }

  test("grouped KLL, t-digest and min-k keep their bounds at 1, 3 and 16 " +
      "partitions and through the sort-based fallback; one partition " +
      "equals a core fold") {
    Seq(1, 3, 16).foreach { p =>
      val df = if (p == 1) rowsDf.coalesce(1) else rowsDf.repartition(p)
      checkBounds(s"$p partitions", df, exact = p == 1)
    }
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try Seq(1, 3, 16).foreach { p =>
      val df = if (p == 1) rowsDf.coalesce(1) else rowsDf.repartition(p)
      checkBounds(s"$p partitions, sort-based fallback", df, exact = false)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("result types, nullability and empty-input results are the typed " +
      "Aggregators'; a null input adds nothing") {
    GraftFunctions.register(spark)
    // the typed Aggregators' result schemas, as their encoders gave them
    val binary = DataType.fromJson("\"binary\"")
    val doubles = DataType.fromJson(
      """{"type":"array","elementType":"double","containsNull":false}""")
    val minK = DataType.fromJson("""{"type":"struct","fields":[
      {"name":"ids","type":{"type":"array","elementType":"long","containsNull":false},
       "nullable":true,"metadata":{}},
      {"name":"dropped","type":"long","nullable":false,"metadata":{}}]}""")
    val df = Seq(("a", 1.5, 1L), ("a", 2.5, 2L), ("b", 3.5, 3L)).toDF("g", "v", "id")
    df.createOrReplaceTempView("t_quantile_surface")
    val want = Seq(binary, binary, doubles, doubles, minK)
    val api = df.groupBy("g").agg(aggs.head, aggs.tail: _*).schema.fields.tail
    val sql = spark.sql("select graft_kll_sketch(v), graft_min_k_ids(id) " +
      "from t_quantile_surface group by g").schema.fields
    (api.toSeq.zip(want) ++ sql.toSeq.zip(Seq(binary, minK))).foreach { case (f, t) =>
      assert(f.dataType == t && f.nullable, f.toString)
    }

    // empty global aggregate: the typed zero, finished
    val empty = df.filter(lit(false)).agg(aggs.head, aggs.tail: _*).head()
    assert(empty.getAs[Array[Byte]](0).toSeq == Kll.empty(64).toBytes.toSeq)
    assert(empty.getAs[Array[Byte]](1).toSeq == TDigest.empty(100.0).toBytes.toSeq)
    Seq(2, 3).foreach { i =>
      val q = empty.getAs[scala.collection.Seq[Double]](i)
      assert(q.size == qs.length && q.forall(_.isNaN), q)
    }
    assert(empty.getAs[Row](4) == Row(Seq.empty[Long], 0L))

    // null values are skipped, as by Spark's own aggregates and the hash
    // sketches' null arrays
    val withNulls = Seq[(String, java.lang.Double, java.lang.Long)](
      ("a", 1.5, 1L), ("a", null, null), ("a", 2.5, 2L)).toDF("g", "v", "id")
    val nonNull = df.filter($"g" === "a")
    def results(d: DataFrame) = d.agg(aggs.head, aggs.tail: _*).head().toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }
    assert(results(withNulls) == results(nonNull))
  }
}
