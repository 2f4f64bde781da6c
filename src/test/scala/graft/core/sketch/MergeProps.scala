package graft.core.sketch

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.core.Hashing

/**
 * ScalaCheck property tests: sketch merge is associative/commutative and
 * split-invariant across ARBITRARY partitionings of the input — the
 * north-rule requirement, and the algebra Spark's two-phase aggregation
 * (partial per partition, merge in reduce) depends on. Mirrors what the
 * reference trusts implicitly of its thread-local map sums
 * (ganon src/ganon-classify/GanonClassify.cpp:475-490).
 */
object MergeProps extends Properties("sketch-merge") {

  private val genHashes: Gen[Array[Long]] =
    Gen.chooseNum(0, 2000).flatMap { n =>
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map { seed =>
        Array.tabulate(n)(i => Hashing.hashLong(i.toLong, seed))
      }
    }

  /** Split xs into 1..8 contiguous chunks at arbitrary cut points. */
  private val genSplit: Gen[(Array[Long], List[Array[Long]])] =
    for {
      xs <- genHashes
      nCuts <- Gen.chooseNum(0, 7)
      cuts <- Gen.listOfN(nCuts, Gen.chooseNum(0, math.max(0, xs.length)))
    } yield {
      val points = (0 +: cuts.sorted :+ xs.length).distinct.sorted
      val chunks = points.zip(points.tail).map { case (a, b) => xs.slice(a, b) }
      (xs, chunks)
    }

  property("hll: split-invariant merge == bulk insert") = forAll(genSplit) {
    case (xs, chunks) =>
      val bulk = Hll.empty(10); bulk.addAll(xs)
      val merged = chunks.map { c => val h = Hll.empty(10); h.addAll(c); h }
        .foldLeft(Hll.empty(10))(_.merge(_))
      merged.registers.sameElements(bulk.registers)
  }

  property("hll: merge commutative") = forAll(genHashes, genHashes) { (a, b) =>
    val x = Hll.empty(10); x.addAll(a)
    val y = Hll.empty(10); y.addAll(b)
    val x2 = Hll.empty(10); x2.addAll(a)
    val y2 = Hll.empty(10); y2.addAll(b)
    x.merge(y).registers.sameElements(y2.merge(x2).registers)
  }

  property("bloom: split-invariant merge (OR) == bulk insert") =
    forAll(genSplit) { case (xs, chunks) =>
      val m = 4096L; val h = 3
      val bulk = Bloom.empty(m, h); bulk.addAll(xs)
      val merged = chunks.map { c => val b = Bloom.empty(m, h); b.addAll(c); b }
        .foldLeft(Bloom.empty(m, h))(_.merge(_))
      merged.words.sameElements(bulk.words)
    }

  property("cms: split-invariant merge (sum) == bulk insert") =
    forAll(genSplit) { case (xs, chunks) =>
      val bulk = CountMin.empty(4, 512)
      xs.foreach(bulk.add(_))
      val merged = chunks.map { c =>
        val s = CountMin.empty(4, 512); c.foreach(s.add(_)); s
      }.foldLeft(CountMin.empty(4, 512))(_.merge(_))
      merged.counts.sameElements(bulk.counts) && merged.total == bulk.total
    }

  private val genDoubles: Gen[Array[Double]] =
    Gen.chooseNum(0, 3000).flatMap { n =>
      Gen.chooseNum(1L, Long.MaxValue).map { seed =>
        Array.tabulate(n) { i =>
          (Hashing.hashLong(i.toLong, seed) & Long.MaxValue).toDouble / Long.MaxValue
        }
      }
    }

  property("kll: merged sketch keeps n exact and rank error bounded") =
    forAll(genDoubles, Gen.chooseNum(1, 8)) { (xs, nChunks) =>
      val k = 128
      val chunkSize = math.max(1, xs.length / nChunks)
      val merged = xs.grouped(chunkSize).map { c =>
        val s = Kll.empty(k); c.foreach(s.add); s
      }.foldLeft(Kll.empty(k))(_.merge(_))
      val nOk = merged.n == xs.length
      val rankOk = if (xs.isEmpty) true else {
        val sorted = xs.sorted
        Seq(0.25, 0.5, 0.75).forall { q =>
          val est = merged.quantile(q)
          val below = sorted.count(_ <= est).toDouble / sorted.length
          math.abs(below - q) <= math.max(merged.rankErrorBound, 3.0 / xs.length)
        }
      }
      Prop(nOk && rankOk) :| s"n=${merged.n}/${xs.length}"
    }

  property("minK: split-invariant merge == single-pass k-smallest + dropped") =
    forAll(genSplit, Gen.chooseNum(1, 64)) { case ((xs, chunks), k) =>
      def fold(vs: Array[Long]): MinK = { val m = MinK.empty(k); vs.foreach(m.add); m }
      val bulk = fold(xs)
      val parts = chunks.map(c => fold(c))
      val merged = parts.reverse.foldLeft(MinK.empty(k))(_.merge(_))
      val expect = xs.distinct.sorted.take(k) // ids are distinct by construction
      Prop(merged.ids.sameElements(bulk.ids) &&
        bulk.ids.sameElements(expect.take(bulk.ids.length)) &&
        bulk.ids.length == math.min(k, xs.length) &&
        merged.dropped == bulk.dropped &&
        bulk.dropped == math.max(0, xs.length - k)) :|
        s"n=${xs.length} k=$k kept=${bulk.ids.length} dropped=${bulk.dropped}"
    }

  property("ibf shard: split-invariant OR-merge == bulk insert, routed bins") =
    forAll(genSplit, Gen.chooseNum(1, 62)) { case ((xs, chunks), split) =>
      import graft.build.{BinLayout, GroupFold}
      // a buffer holds at most 256 + 4096 / 64 = 320 hashes sparse, so
      // genSplit's chunks fall on both sides of the limit
      def fold() = new GroupFold(256, 2, Some((4096L, 2)))
      def slice(hs: Array[Long]) = BinLayout.Slice(0, 2, split, hs)
      // bulk: everything through one buffer
      val bulk = fold().addSlice(slice(xs))
      // split: one buffer per chunk, merged in arbitrary (reversed) order
      val parts = chunks.map(c => fold().addSlice(slice(c)))
      val forms = parts.map(b => if (b.isDense) 'd' else 's').mkString
      val merged = parts.reverse.foldLeft(fold())(_ or _)
      val ((bs, bu), (ms, mu)) = (bulk.blobs, merged.blobs)
      val same = if (xs.isEmpty) bs == null && ms == null
        else java.util.Arrays.equals(bs, ms) && java.util.Arrays.equals(bu, mu)
      // every hash routed in [2, 2+split), present in its bin and the union
      val routedOk = xs.isEmpty || {
        val (shard, union) = (InterleavedBloom.fromBytes(ms), Bloom.fromBytes(mu))
        xs.forall { h =>
          shard.bulkCount(Array(h)).apply(2 + BinLayout.routeBin(h, split)) >= 1 &&
            union.contains(h)
        }
      }
      Prop.classify(forms.distinct.length == 2, "sparse and dense parts")(
        Prop(same && routedOk) :| s"n=${xs.length} split=$split forms=$forms")
    }
}
