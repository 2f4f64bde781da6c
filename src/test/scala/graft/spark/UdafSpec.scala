package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Hashing
import graft.core.sketch.{CountMin, Hll, Kll}

/**
 * Exact-oracle equivalence of the sketch UDAFs inside real Spark plans,
 * plus partition-split invariance (the distributed form of the ScalaCheck
 * merge properties) — the north-rule "verified against exact Spark SQL
 * answers" requirement.
 */
class UdafSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def hashDs(n: Int) = {
    // one array per row, 20 hashes each, ~30% duplicates across rows
    (0 until n).map { i =>
      Array.tabulate(20)(j => Hashing.hashLong((i * 13 + j) % (n * 14L), 7L))
    }.toDF("hs")
  }

  test("hll udaf: estimate within bound; invariant across partitionings") {
    val df = hashDs(2000).cache()
    val exact = df.select(explode($"hs").as("h")).distinct().count()
    val ests = Seq(1, 3, 16).map { p =>
      df.repartition(p).agg(GraftFunctions.hllCount($"hs", 12)).first().getLong(0)
    }
    assert(ests.distinct.size == 1, s"partitioning changed the estimate: $ests")
    val bound = 3 * 1.04 / math.sqrt(4096.0)
    assert(math.abs(ests.head - exact).toDouble / exact <= bound)
    df.unpersist()
  }

  test("hll udaf groupBy: per-group sketches match per-group exact") {
    val df = (0 until 1000).map { i =>
      (s"g${i % 5}", Array.tabulate(10)(j => Hashing.hashLong(i * 10L + j % 7, 3L)))
    }.toDF("g", "hs").cache()
    val est = df.groupBy("g").agg(GraftFunctions.hllCount($"hs", 14).as("e"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = df.select($"g", explode($"hs").as("h")).distinct()
      .groupBy("g").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(est(g) - n).toDouble / n <= 3 * 1.04 / 128.0 + 0.01,
        s"group $g: est=${est(g)} exact=$n")
    }
    df.unpersist()
  }

  test("hll sketch udaf: per-group sketches merge to the one-pass count") {
    GraftFunctions.register(spark)
    val df = hashDs(1500).withColumn("g", pmod($"hs"(0), lit(4L))).cache()
    df.createOrReplaceTempView("t_hll")
    val whole = df.agg(GraftFunctions.hllCount($"hs", 14)).first().getLong(0)
    def merged(sketches: Seq[Array[Byte]]): Long =
      sketches.map(Hll.fromBytes).reduce(_.merge(_)).estimate
    val api = df.groupBy("g").agg(GraftFunctions.hllSketch($"hs", 14))
      .collect().map(_.getAs[Array[Byte]](1)).toSeq
    val sql = spark.sql("select graft_hll_sketch(hs) from t_hll group by g")
      .collect().map(_.getAs[Array[Byte]](0)).toSeq
    assert(api.size == 4 && sql.size == 4)
    assert(merged(api) == whole && merged(sql) == whole,
      s"one pass $whole, merged api ${merged(api)}, merged sql ${merged(sql)}")
    df.unpersist()
  }

  test("cms udaf: never under, within eps*N, split-invariant") {
    val df = hashDs(500).cache()
    val bytes = Seq(1, 4, 11).map { p =>
      df.repartition(p).agg(GraftFunctions.cmsSketch($"hs", 5, 2048))
        .first().getAs[Array[Byte]](0)
    }
    val sketches = bytes.map(CountMin.fromBytes)
    assert(sketches.map(_.counts.toSeq).distinct.size == 1,
      "CMS counters differ across partitionings")
    val cms = sketches.head
    val exact = df.select(explode($"hs").as("h")).groupBy("h").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    exact.foreach { case (h, c) =>
      val e = cms.estimate(h)
      assert(e >= c && e <= c + cms.eps * cms.total, s"h=$h c=$c e=$e")
    }
    df.unpersist()
  }

  test("kll udaf: quantiles near exact percentiles, any partitioning") {
    val df = (1 to 50000).map(i => math.sqrt(i.toDouble)).toDF("v").cache()
    val qs = Array(0.1, 0.5, 0.9)
    Seq(1, 4).foreach { p =>
      val got = df.repartition(p)
        .agg(GraftFunctions.kllQuantiles($"v", qs, 256))
        .first().getAs[scala.collection.Seq[Double]](0)
      val exact = df.stat.approxQuantile("v", qs, 0.0) // exact when rel=0
      qs.indices.foreach { i =>
        val rank = df.filter($"v" <= got(i)).count() / 50000.0
        assert(math.abs(rank - qs(i)) <= 0.03,
          s"p=$p q=${qs(i)} est=${got(i)} (exact ${exact(i)}) rank=$rank")
      }
    }
    df.unpersist()
  }

  test("bloom udaf: zero FN through a real aggregation") {
    val df = hashDs(300).cache()
    val bytes = df.agg(GraftFunctions.bloomSketch($"hs", 1 << 16, 5))
      .first().getAs[Array[Byte]](0)
    val bloom = graft.core.sketch.Bloom.fromBytes(bytes)
    val all = df.select(explode($"hs").as("h")).distinct()
      .collect().map(_.getLong(0))
    assert(bloom.countContained(all) == all.length)
    df.unpersist()
  }

  test("expressions agree with core hashing on non-ASCII content") {
    val texts = Seq("héllo wörld 中文 héllo", "ASCII only text", "αβγ δ  εζ")
    val df = texts.toDF("text")
      .select(GraftFunctions.tokenHashes($"text").as("th"),
        GraftFunctions.shingles($"text", 4, 6).as("sh"))
      .collect()
    texts.zip(df).foreach { case (t, row) =>
      val thExpr = row.getAs[scala.collection.Seq[Long]](0).toArray
      val thCore = graft.core.Hashing.tokenHashes(t)
      assert(thExpr.sameElements(thCore), s"token hash mismatch for '$t'")
      val shExpr = row.getAs[scala.collection.Seq[Long]](1).toArray
      val shCore = graft.core.Hashing.shingles(t, 4, 6)
      assert(shExpr.sameElements(shCore), s"shingle mismatch for '$t'")
    }
  }

  test("token multiset hashes keep repeats and match hashString per token") {
    val texts = Seq("x x y  z x", "héllo héllo wörld", "", "single")
    val rows = texts.toDF("text")
      .select(GraftFunctions.tokenHashesMultiset($"text").as("mh"))
      .collect()
    texts.zip(rows).foreach { case (t, row) =>
      val got = row.getAs[scala.collection.Seq[Long]](0).toArray
      val want = t.split("\\s+").filter(_.nonEmpty)
        .map(graft.core.Hashing.hashString(_))
      // multiset semantics: ORDER and REPEATS preserved, no dedup
      assert(got.sameElements(want), s"multiset hash mismatch for '$t'")
    }
  }

  test("token hashes of token-dense text (more tokens than len/4)") {
    val rnd = new scala.util.Random(5)
    val ws = " \t\n\r\f\u000b"
    val texts = Seq("a", "a b", "a b c", " a b c ", "x\ty\nz\rq\fw\u000bv",
      "a  b   c", (0 until 10000).map(i => ('a' + i % 26).toChar).mkString(" "),
      Array.fill(5000)(s"${('a' + rnd.nextInt(3)).toChar}" +
        ws(rnd.nextInt(ws.length))).mkString)
    val rows = texts.toDF("text")
      .select(GraftFunctions.tokenHashes($"text").as("th"),
        GraftFunctions.tokenHashesMultiset($"text").as("mh"))
      .collect()
    texts.zip(rows).foreach { case (t, row) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      val th = row.getAs[scala.collection.Seq[Long]](0).toArray
      val mh = row.getAs[scala.collection.Seq[Long]](1).toArray
      val what = s"'${t.take(20)}' (${t.length} bytes)"
      assert(th.sameElements(graft.core.Hashing.tokenHashes(t)), what)
      assert(mh.length == toks.length, what)
      assert(mh.sameElements(toks.map(graft.core.Hashing.hashString(_))), what)
    }
  }

  test("null and empty content flow through the pipeline without error") {
    val df = Seq((1L, "normal content here"), (2L, ""), (3L, null))
      .toDF("id", "text")
    val out = df.select($"id",
      GraftFunctions.shingles(coalesce($"text", lit("")), 4, 6).as("sh"))
      .collect().sortBy(_.getLong(0))
    assert(out(0).getAs[scala.collection.Seq[Long]](1).nonEmpty)
    assert(out(1).getAs[scala.collection.Seq[Long]](1).isEmpty)
    assert(out(2).getAs[scala.collection.Seq[Long]](1).isEmpty)
  }

  test("sql registration works end-to-end") {
    GraftFunctions.register(spark)
    spark.createDataset(Seq("alpha beta gamma alpha")).toDF("text")
      .createOrReplaceTempView("t_reg")
    val arr = spark.sql(
      "select graft_shingles(text, 4, 4), graft_token_hashes(text) from t_reg")
      .first()
    assert(arr.getAs[scala.collection.Seq[Long]](0).nonEmpty)
    assert(arr.getAs[scala.collection.Seq[Long]](1).size == 3) // distinct tokens
    // optional 3rd arg: distinct=false keeps the multiset (4 tokens)
    val multi = spark.sql(
      s"select graft_token_hashes(text, ${graft.core.Hashing.DefaultSeed}L," +
        " false) from t_reg").first()
    assert(multi.getAs[scala.collection.Seq[Long]](0).size == 4)
  }

  test("sql: minhash signature + band keys + min-k agg round the lsh loop") {
    GraftFunctions.register(spark)
    spark.createDataset(Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
        (3L, "delta epsilon zeta")))
      .toDF("id", "text").createOrReplaceTempView("t_lsh")
    val rows = spark.sql(
      """select id, graft_band_keys(
        |  graft_minhash_sig(graft_token_hashes(text), 32), 8) as bands
        |from t_lsh""".stripMargin)
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Long]](1)).toMap
    assert(rows(1L) == rows(2L)) // identical sets -> identical band keys
    assert(rows(1L) != rows(3L))
    val mk = spark.sql(
      """select b.band, graft_min_k_ids(t.id) as mk
        |from t_lsh t, lateral (select explode(graft_band_keys(
        |  graft_minhash_sig(graft_token_hashes(t.text), 32), 8)) as band) b
        |group by b.band""".stripMargin)
      .collect()
    assert(mk.forall(_.getAs[org.apache.spark.sql.Row]("mk")
      .getAs[Long]("dropped") == 0L))
  }

  test("sql seed literals: int/long widths coerce; token seed is honored") {
    GraftFunctions.register(spark)
    spark.createDataset(Seq("alpha beta gamma alpha")).toDF("text")
      .createOrReplaceTempView("t_reg2")
    // 42 parses as IntegerType, 42L would be LongType — both must work
    val a = spark.sql(
      "select graft_shingles(text, 4, 4, 42), graft_token_hashes(text, 42)" +
        " from t_reg2").first()
    val b = spark.sql(
      "select graft_shingles(text, 4, 4, CAST(42 AS BIGINT))," +
        " graft_token_hashes(text, CAST(42 AS BIGINT)) from t_reg2").first()
    assert(a.getAs[scala.collection.Seq[Long]](0) ==
      b.getAs[scala.collection.Seq[Long]](0))
    assert(a.getAs[scala.collection.Seq[Long]](1) ==
      b.getAs[scala.collection.Seq[Long]](1))
    // a non-default seed must actually change the token hashes
    val d = spark.sql("select graft_token_hashes(text) from t_reg2").first()
    assert(a.getAs[scala.collection.Seq[Long]](1) !=
      d.getAs[scala.collection.Seq[Long]](0))
  }
}
