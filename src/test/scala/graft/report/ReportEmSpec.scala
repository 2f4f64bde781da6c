package graft.report

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.classify.Em
import graft.spark.SparkTestSession

class ReportEmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("report.tree: cumulative rollup golden") {
    val counts = Seq(("a/x", 3L), ("a/y", 2L), ("b/z", 5L))
      .toDF("node", "direct_count")
    val lineage = Seq(
      ("root", Array("root")),
      ("a", Array("root", "a")), ("b", Array("root", "b")),
      ("a/x", Array("root", "a", "a/x")), ("a/y", Array("root", "a", "a/y")),
      ("b/z", Array("root", "b", "b/z"))).toDF("node", "lineage")
    val tre = Report.tree(counts, lineage)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(tre("root") == 10 && tre("a") == 5 && tre("b") == 5)
    assert(tre("a/x") == 3 && tre("b/z") == 5)
  }

  test("report filters: min-count dual semantics + top percentile") {
    val counts = Seq(("a/x", 60L), ("a/y", 30L), ("b/z", 10L))
      .toDF("node", "direct_count")
    val lineage = Seq(
      ("root", Array("root")),
      ("a", Array("root", "a")), ("b", Array("root", "b")),
      ("a/x", Array("root", "a", "a/x")), ("a/y", Array("root", "a", "a/y")),
      ("b/z", Array("root", "b", "b/z"))).toDF("node", "lineage")
    val tre = Report.tree(counts, lineage).cache()
    // fractional: keep cumulative >= 0.2*100
    assert(Report.minCountFilter(tre, 0.2, 100).count() == 4) // root,a,a/x,a/y(30>=20)
    // absolute
    assert(Report.minCountFilter(tre, 60, 100)
      .collect().map(_.getString(0)).toSet == Set("root", "a/x", "a", "b").filter(n =>
        Map("root" -> 100L, "a" -> 90L, "a/x" -> 60L, "b" -> 10L)(n) >= 60))
  }

  test("table: pivot + topk + percentage") {
    val rep = Seq(("s1", "a", 3L), ("s1", "b", 1L), ("s2", "a", 2L))
      .toDF("sample", "node", "count")
    val piv = Table.pivot(rep, Seq("a", "b")).orderBy("sample").collect()
    assert(piv(0).getLong(1) == 3 && piv(0).getLong(2) == 1)
    assert(piv(1).getLong(1) == 2 && piv(1).getLong(2) == 0)
    val pct = Table.pivot(rep, Seq("a", "b"), percentage = true)
      .orderBy("sample").collect()
    assert(math.abs(pct(0).getDouble(1) - 75.0) < 1e-9)
    val top = Table.topKPerSample(rep, 1)
      .collect().map(r => (r.getString(1), r.getString(0))).toSet
    assert(top == Set(("a", "s1"), ("a", "s2")))
  }

  test("table: trimZeros drops dead rows and columns") {
    val piv = Seq(("s1", 3L, 0L), ("s2", 2L, 0L), ("s3", 0L, 0L))
      .toDF("sample", "a", "b")
    val out = Table.trimZeros(piv, Seq("a", "b"))
    assert(out.columns.toSeq == Seq("sample", "a"))
    assert(out.collect().map(_.getString(0)).toSet == Set("s1", "s2"))
  }

  test("report: maxCountFilter dual semantics") {
    val tre = Seq(("a", 90L), ("b", 15L), ("c", 5L)).toDF("node", "cumulative")
    assert(Report.maxCountFilter(tre, 20, 100)
      .collect().map(_.getString(0)).toSet == Set("b", "c"))
    assert(Report.maxCountFilter(tre, 0.1, 100)
      .collect().map(_.getString(0)).toSet == Set("c"))
  }

  test("table: trimZeros handles node names containing dots (file basenames)") {
    val piv = Seq(("s1", 3L, 0L), ("s2", 1L, 0L))
      .toDF("sample", "data.txt", "empty.bin")
    val out = Table.trimZeros(piv, Seq("data.txt", "empty.bin"))
    assert(out.columns.toSeq == Seq("sample", "data.txt"))
    assert(out.count() == 2)
  }

  test("table: minMaxCount dual semantics — exactly 1 is a no-op (table.py:200-209)") {
    val rep = Seq(("s1", "a", 60L), ("s1", "b", 30L), ("s1", "c", 10L))
      .toDF("sample", "node", "count")
    // reference's `> 1` / `< 1` branches both skip v == 1
    assert(Table.minMaxCount(rep, minCount = 1).count() == 3)
    assert(Table.minMaxCount(rep, maxCount = 1).count() == 3)
    assert(Table.minMaxCount(rep, minCount = 30).collect()
      .map(_.getString(1)).toSet == Set("a", "b"))
    assert(Table.minMaxCount(rep, minCount = 0.25).collect()
      .map(_.getString(1)).toSet == Set("a", "b"))
  }

  test("em: reassigns multi-matches toward the unique-evidence target") {
    // r1,r2,r3 unique to A; r4,r5 unique to B... and m1..m4 match both
    // with equal counts — EM must send them all to the majority target A
    val all = Seq(
      ("r1", "A", 10), ("r2", "A", 10), ("r3", "A", 10), ("r4", "B", 10),
      ("m1", "A", 5), ("m1", "B", 5),
      ("m2", "A", 5), ("m2", "B", 5),
      ("m3", "A", 5), ("m3", "B", 5)).toDF("read_id", "target", "kmer_count")
    val out = Em.reassign(spark, all, maxIter = 10, threshold = 1e-6)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("r1") == "A" && out("r4") == "B")
    assert(out("m1") == "A" && out("m2") == "A" && out("m3") == "A")
    assert(out.size == 7) // every read assigned exactly once
  }

  test("em: deterministic tie-break (first by stable order)") {
    val all = Seq(
      ("m1", "A", 5), ("m1", "B", 5),
      ("m2", "B", 5), ("m2", "A", 5)).toDF("read_id", "target", "kmer_count")
    val out = Em.reassign(spark, all)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // no unique evidence: equal probs -> tie-break target asc -> A for both
    assert(out("m1") == "A" && out("m2") == "A")
  }

  test("em: .rep rewrite — lca column = reassigned - unique (reassign.py:180-224)") {
    val all = Seq(
      ("u1", "A", 9),                    // unique A
      ("u2", "B", 9),                    // unique B
      ("m1", "A", 5), ("m1", "B", 4),    // multi -> EM
      ("m2", "A", 5), ("m2", "B", 4))
      .toDF("read_id", "target", "kmer_count")
    val (one, rep) = Em.reassignWithRep(spark, all)
    val r = rep.collect()
      .map(x => (x.getString(0), (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // unique_reads from single-match reads; lca = EM-assigned multis;
    // matches = raw .all rows per target
    assert(r("A")._1 == 1 && r("B")._1 == 1)
    assert(r("A")._2 + r("B")._2 == 2)           // both multis reassigned
    assert(r("A")._3 == 3 && r("B")._3 == 3)
    // conservation: every read appears exactly once in .one
    assert(one.select("read_id").distinct().count() == one.count())
    assert(one.count() == 4)
  }

  test("em: every read of .all comes back exactly once at maxIter 0, 1 " +
      "and the default") {
    val rnd = new scala.util.Random(5)
    // 40 unique-match reads and 60 multi-match reads over 4 targets
    val rows = (0 until 100).flatMap { r =>
      val ts = if (r < 40) Seq(s"t${r % 4}")
        else rnd.shuffle(Seq("t0", "t1", "t2", "t3")).take(2 + r % 3)
      ts.map(t => (s"r$r", t, 1 + rnd.nextInt(9)))
    }
    val all = rows.toDF("read_id", "target", "kmer_count")
    val cands = rows.groupBy(_._1).map { case (r, ms) => r -> ms.map(_._2).toSet }
    Seq(Some(0), Some(1), None).foreach { maxIter =>
      val out = maxIter.map(m => Em.reassign(spark, all, maxIter = m))
        .getOrElse(Em.reassign(spark, all))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(out.map(_._1).sorted.sameElements(cands.keys.toSeq.sorted),
        s"maxIter $maxIter: ${out.length} rows for ${cands.size} reads")
      assert(out.forall { case (r, t) => cands(r)(t) }, s"maxIter $maxIter")
    }
  }
}
