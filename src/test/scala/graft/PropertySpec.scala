package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ccd.Ccd
import graft.streaming.DocStreams

/** Property-based checks over the pure JVM kernels — the fixture
  * suites pin specific corpora; these pin the ALGEBRA on randomized
  * inputs (most valuable for the proofs the engine leans on: the
  * containment-prefix pigeonhole, the merge-scan intersection, the
  * signature bit bounds). Uses raw ScalaCheck generators with a fixed
  * seed (scalatestplus isn't on the offline resolver), so every run
  * sees the same 300 cases per property — deterministic CI, no flaky
  * shrinking.
  */
class PropertySpec extends AnyFunSuite {

  /** 300 deterministic samples of a generator (seeded; None-skips
    * filtered). Each generator POSITION gets its own disjoint seed
    * stream — zipping two runs of the SAME seed sequence would make
    * every pair (x, x) and the two-sided properties vacuous (the
    * round-7 review caught exactly that). */
  private def samples[T](g: Gen[T], n: Int = 300, lane: Int = 0): Seq[T] =
    (0 until n).flatMap(i =>
      g(Gen.Parameters.default, Seed(42L + lane * 1000003L + i)))

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    samples(ga, lane = 0).zip(samples(gb, lane = 1))
      .foreach { case (a, b) => f(a, b) }

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])
      (f: (A, B, C) => Unit): Unit =
    samples(ga, lane = 0).lazyZip(samples(gb, lane = 1))
      .lazyZip(samples(gc, lane = 2))
      .foreach { case (a, b, c) => f(a, b, c) }

  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    samples(ga).foreach(f)

  private val longSet: Gen[Set[Long]] =
    Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 60L)).map(_.toSet))

  test("interCount equals set-intersection cardinality on sorted distinct arrays") {
    forAll(longSet, longSet) { (a: Set[Long], b: Set[Long]) =>
      val got = DocStreams.interCount(a.toArray.sorted, b.toArray.sorted)
      assert(got == (a intersect b).size)
    }
  }

  test("prefLen is within [1, n] and matches the closed form") {
    forAll(Gen.chooseNum(1, 10000), Gen.choose(0.05, 1.0)) { (n: Int, t: Double) =>
      val p = DocStreams.prefLen(n, t)
      assert(p >= 1 && p <= n, s"prefLen($n, $t) = $p out of range")
      // the slacked ceil may sit one below the raw ceil only at
      // float-boundary products; never above (recall-safe direction)
      assert(p >= n - math.ceil(n * t).toInt + 1)
      assert(p <= n - math.ceil(n * t).toInt + 2)
    }
  }

  test("containment-prefix pigeonhole: a qualifying pair always collides " +
      "on a prefix element") {
    // The recall proof d12 and its streaming twin rest on, checked
    // directly: if C(A→B) = |A∩B|/|A| >= t, then A's first
    // prefLen(|A|, t) elements IN SORTED ORDER (any fixed total order
    // works; id order is what the streaming twin uses) intersect B.
    var qualifying = 0
    forAll(longSet, longSet, Gen.choose(0.3, 1.0)) {
      (a: Set[Long], b: Set[Long], t: Double) =>
        val c = (a intersect b).size.toDouble / a.size
        if (c >= t) {
          qualifying += 1
          val prefix = a.toArray.sorted.take(DocStreams.prefLen(a.size, t))
          assert(prefix.exists(b.contains),
            s"pigeonhole violated: C=$c >= t=$t but prefix misses B " +
              s"(|A|=${a.size}, prefLen=${DocStreams.prefLen(a.size, t)})")
        }
    }
    assert(qualifying >= 30,
      s"vacuous property run: only $qualifying of 300 cases qualified")
  }

  test("ahash60Of stays inside 60 bits and is deterministic") {
    forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) {
      (bytes: List[Byte]) =>
        val p = bytes.toArray
        val h = ext.Multimodal.StubDecoders.ahash60Of(p)
        assert((h >>> 60) == 0L, s"signature overflows 60 bits: $h")
        assert(h == ext.Multimodal.StubDecoders.ahash60Of(p))
    }
  }

  test("budgetOf is unit or 2*unit for every source name") {
    forAll(Gen.alphaNumStr, Gen.chooseNum(1L, 1000000L)) {
      (src: String, unit: Long) =>
        val b = DocStreams.budgetOf(src, unit)
        assert(b == unit || b == 2 * unit)
    }
  }

  test("minhash family constants stay inside exact signed-64 for 36-bit ids") {
    // The CLAUDE.md hash-width rule, pinned mechanically over the REAL
    // family (Dedup.minhashA/B — not a copy that could drift): every
    // (a_i·x + b_i) with x < 2^36 must stay below Long.MaxValue so the
    // mod-P arithmetic is exact in BOTH engines. A widened shingle id
    // or a larger multiplier family breaks this loudly here, not as a
    // silent cross-engine hash divergence.
    val maxX = (1L << 36) - 1
    (0 until ext.Dedup.NumHashes).foreach { i =>
      assert(BigInt(ext.Dedup.minhashA(i)) * maxX + ext.Dedup.minhashB(i)
          < BigInt(Long.MaxValue),
        s"minhash $i: a*x+b exceeds signed-64 at x = 2^36-1")
    }
  }

  test("CCD window: running sums solve bit-for-bit like olsFit, variogram is the fresh median") {
    // The equivalence `Ccd.detect`'s bit-exact output rests on: a
    // window grown through arbitrary `until` steps must solve exactly
    // as a from-scratch fit over the same rows, at every harmonic
    // width, and its sorted differences must give a fresh sort's median.
    val window = for {
      n <- Gen.chooseNum(Ccd.MinObs, 160)
      start <- Gen.chooseNum(720000, 740000)
      gaps <- Gen.listOfN(n, Gen.chooseNum(1, 40))
      // ties (repeated values) exercise the sorted insert's equal keys
      ys <- Gen.listOfN(n, Gen.frequency(3 -> Gen.chooseNum(0, 5000), 1 -> Gen.const(1200)))
      from <- Gen.chooseNum(0, 5)
      steps <- Gen.nonEmptyListOf(Gen.chooseNum(1, 12))
    } yield (gaps.scanLeft(start)(_ + _).tail.map(_.toDouble).toArray,
      ys.map(_.toDouble).toArray, from, steps)
    def bits(xs: Array[Double]) = xs.map(java.lang.Double.doubleToRawLongBits).toSeq
    forAll(window) { case (ts, ys, from, steps) =>
      val bands = Array(ys, ys.reverse)
      val w = new Ccd.Window(ts.map(Ccd.designRow(_)), bands, from)
      var until = from
      steps.foreach { s =>
        until = math.min(ts.length, until + s)
        w.extendTo(until)
        bands.indices.foreach { k =>
          val band = bands(k).slice(from, until)
          for (nHarm <- 1 to Ccd.Harmonics) {
            val want = Ccd.olsFit(ts.slice(from, until), band, nHarm)
            assert(bits(w.coefs(k, 2 + 2 * nHarm)) == bits(want),
              s"band $k, [$from, $until), p = ${2 + 2 * nHarm}")
          }
          val diffs = band.sliding(2).collect { case Array(a, b) => math.abs(b - a) }
            .toArray.sorted
          val median = if (diffs.isEmpty) 0.0 else diffs(diffs.length / 2)
          assert(w.variogram(k) == median, s"band $k variogram, [$from, $until)")
        }
      }
    }
  }

  // ---- Spark-based randomized invariants (one job each, 300 random
  // rows per run — the per-case cost of a Spark job makes per-sample
  // forAll impractical; a single randomized frame covers the algebra).

  test("twoLevelCum equals the per-source scan at every shard width") {
    import SparkTestSession._
    import spark.implicits._
    // random frontier: gappy doc_ids (shards unevenly filled), skewed
    // sources (source 0 takes half the rows), random token counts
    val rows = samples(Gen.zip(
      Gen.chooseNum(0L, 5000L), Gen.chooseNum(0, 5), Gen.chooseNum(0, 900)))
      .map { case (id, s, n) =>
        (id, s"src${if (s >= 3) 0 else s}", n.toLong) }
      .distinctBy(_._1)
    val frontier = rows.toDF("doc_id", "source", "n_tok")
    // JVM reference: running sum per source in doc_id order
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.sortBy(_._1).foldLeft((0L, List.empty[(Long, Long)])) {
        case ((acc, out), (id, _, n)) => (acc + n, (id, acc + n) :: out)
      }._2
    }.toMap
    for (width <- Seq(1L, 7L, 64L, 1000000000L)) {
      val got = ext.Text.twoLevelCum(frontier, width)
        .select(col("doc_id"), col("cum")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"two-level sum diverges at shardWidth=$width")
    }
  }

  test("quantize/dequantize roundtrip error is bounded by scale/2") {
    import SparkTestSession._
    import spark.implicits._
    val vecGen = Gen.chooseNum(1, 64).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-10.0, 10.0)))
    val vecs = samples(vecGen, 150).zipWithIndex
      .map { case (v, i) => (i.toLong, v) } :+
      (9999L, List(3.25, 3.25, 3.25)) // constant vector: scale = 0 path
    val df = vecs.toDF("vec_id", "v")
    val rt = ext.Similarity.dequantize(
      ext.Similarity.quantize(df, "v"), "v")
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.foreach { case (id, orig) =>
      val back = rt(id)
      val scale = if (orig.max == orig.min) 0.0 else (orig.max - orig.min) / 255.0
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o - b) <= scale / 2 + 1e-9,
          s"vec $id: |$o - $b| exceeds scale/2 = ${scale / 2}")
      }
    }
  }
}
