package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, IbfPlan, ProbeDb}
import graft.classify.{Classify, ClassifyParams}
import graft.core.{Hashing, MathFns, ReferenceTail}
import graft.spark.SparkTestSession

/** A db in which target t holds a hash with probability `hitRate`
  * (decided by a mix of the hash and t) while claiming `binFpr(t) =
  * fprs(t)`: every read's counts scatter around n·hitRate, so targets with
  * a low claimed FPR pass the fpr-query and those near the hit rate fail
  * it, and which side a middle target lands on varies read by read. */
final class RateDb(fprs: Array[Double], hitRate: Double, val params: IbfParams)
    extends ProbeDb {
  val targets: Array[String] = Array.tabulate(fprs.length)(t => s"t$t")
  val targetHashes: Array[Long] = Array.fill(fprs.length)(1000L)
  def plan: IbfPlan = IbfPlan(fprs.length, 1024, 1, 1000, fprs.max)
  def binFpr(t: Int): Double = fprs(t)
  private val below = (hitRate * 1024).toLong
  def hits(h: Long, t: Int): Boolean =
    (Hashing.hashLong(h, t.toLong) >>> 54) < below
  def probe(hashes: Array[Long], counts: Array[Int], cutoff: Int): Unit =
    for (t <- targets.indices; h <- hashes) if (hits(h, t)) counts(t) += 1
  def sizeBytes: Long = 0L
}

/** The fpr-query's kept-vs-discarded split through the full classify
  * stage, against the reference binomial tail. */
class FprQuerySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fpr-query keeps exactly the matches the reference tail keeps, " +
      "per read and per target") {
    val p = IbfParams(k = 8, w = 8)
    val fprs = Array(0.05, 0.1, 0.15, 0.2, 0.22, 0.25, 0.3, 0.4)
    val db = new RateDb(fprs, hitRate = 0.3, p)
    val cp = ClassifyParams(relCutoff = 0.0, relFilter = 1.0, fprQuery = 1e-5)
    val rnd = new scala.util.Random(11)
    val reads = (0 until 40).map { i =>
      (s"r$i", Array.fill(60 + rnd.nextInt(400))(
        ('a' + rnd.nextInt(26)).toChar).mkString)
    }
    val got = Classify.classify(spark, reads.toDF("id", "content"), "id",
      "content", db, cp).collect().map(r => r.read_id -> r).toMap
    var splitReads = 0
    for ((id, content) <- reads) {
      val hs = Hashing.shingles(content, p.k, p.w, p.seed)
      val n = hs.length
      val (kept, dropped) = db.targets.indices.flatMap { t =>
        val c = math.min(n, hs.count(db.hits(_, t)))
        if (c == 0) None
        else Some(db.targets(t) ->
          (ReferenceTail.binomTailUpper(n, c + 1L, fprs(t)) <= cp.fprQuery))
      }.partition(_._2)
      val r = got(id)
      assert(r.n_hashes == n, id)
      assert(r.matches.map(_.target).toSet == kept.map(_._1).toSet,
        s"$id (n=$n): kept ${r.matches.map(_.target).mkString(",")}, " +
          s"reference ${kept.map(_._1).mkString(",")}")
      assert(r.discarded_fpr == dropped.size, id)
      assert(r.discarded_filter == 0, id)
      if (kept.nonEmpty && dropped.nonEmpty) splitReads += 1
    }
    // the read set must exercise both sides of the threshold
    assert(splitReads >= 10, s"only $splitReads reads split by fpr-query")
  }

  test("binomTailAtMost decides as the reference tail on an (n, k, p, " +
      "fprQuery) grid dense at q = fprQuery") {
    val ns = Seq(1L, 2L, 5L, 10L, 31L, 64L, 144L, 151L, 500L, 1000L, 4096L,
      65535L, 65536L)
    val ps = Seq(1e-300, 1e-12, 1e-9, 1e-6, 1e-3, 0.01, 0.0137, 0.05, 0.1,
      0.25, 0.5, 0.9, 0.99)
    var cases = 0
    var undecidedKeeps = 0
    for (n <- ns; p <- ps) {
      val mode = math.floor((n + 1) * p).toLong
      val ks = (Seq(0L, 1L, 2L, mode - 2, mode - 1, mode, mode + 1, mode + 2,
        mode + 5, n / 4, n / 2, 3 * n / 4, n - 1, n, n + 1) ++
        (1 to 6).map(j => mode + (math.sqrt(n * p) * j).toLong))
        .filter(_ >= 0).distinct
      for (k <- ks) {
        val q = ReferenceTail.binomTailUpper(n, k, p)
        val near = (1 to 10).flatMap(j => Seq(q * (1 + j * 1e-7),
          q * (1 - j * 1e-7)))
        val bounds = Seq(0.0, 1e-300, 1e-9, 1e-5, 0.01, 0.5, 1.0, 1.5, q,
          math.nextUp(q), math.nextDown(q), q * (1 + 2e-6), q * (1 - 2e-6),
          q * 2, q / 2) ++ near
        for (b <- bounds) {
          val want = q <= b
          val got = MathFns.binomTailAtMost(n, k, p, math.log(p),
            math.log1p(-p), b)
          assert(got == want, s"binomTailAtMost($n, $k, $p, $b) = $got; " +
            s"reference tail $q")
          if (want && b < q * (1 + 1e-6)) undecidedKeeps += 1
          cases += 1
        }
      }
    }
    assert(cases > 10000, cases)
    // the grid holds keeps within the margin above q, which no early exit
    // may settle
    assert(undecidedKeeps > 1000, undecidedKeeps)
  }
}
