package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ccd.{Ccd, CcdOps}

/** Unit + invariant tests for the CCD math (mirrors the reference's
  * pyccd contract tests, test/test_pyccd.py). */
class CcdSpec extends AnyFunSuite {

  /** Deterministic pseudo-noise in [-amp, amp]. */
  private def noise(i: Int, band: Int, amp: Double): Double = {
    val x = math.sin(i * 12.9898 + band * 78.233) * 43758.5453
    (x - math.floor(x) - 0.5) * 2 * amp
  }

  /** 16-day cadence series over ~4 years with an optional step at
    * `stepAt` (ordinal). */
  private def series(stepAt: Option[Int], n: Int = 90, amp: Double = 20.0)
      : (Array[Int], Array[Array[Int]], Array[Int]) = {
    val dates = Array.tabulate(n)(i => 730000 + i * 16)
    val bands = Array.tabulate(Ccd.NumBands) { b =>
      dates.zipWithIndex.map { case (d, i) =>
        val seasonal = 1000.0 + 100 * b +
          300.0 * math.cos(2 * math.Pi * d / Ccd.YearDays)
        val step = stepAt.filter(d >= _).map(_ => 2000.0).getOrElse(0.0)
        (seasonal + step + noise(i, b, amp)).round.toInt
      }
    }
    val qas = Array.fill(n)(0)
    (dates, bands, qas)
  }

  test("stable series yields exactly one open segment") {
    val (d, b, q) = series(None)
    val r = Ccd.detect(d, b, q)
    assert(r.changeModels.size == 1)
    val m = r.changeModels.head
    assert(m.changeProbability == 0.0)
    assert(m.startDay == d.min && m.endDay == d.max)
    assert(m.bands.length == 7)
    assert(r.processingMask.forall(_ == 1))
  }

  test("step change yields two segments with a break near the step") {
    val step = 730000 + 45 * 16
    val (d, b, q) = series(Some(step))
    val r = Ccd.detect(d, b, q)
    assert(r.changeModels.size == 2, s"got ${r.changeModels.size} segments")
    val first = r.changeModels.head
    assert(first.changeProbability == 1.0)
    assert(math.abs(first.breakDay - step) <= 32,
      s"break at ${first.breakDay}, step at $step")
    assert(first.bands.exists(bm => math.abs(bm.magnitude) > 1000),
      "magnitude should reflect the 2000-unit step")
  }

  test("segments are time-ordered and non-overlapping") {
    val (d, b, q) = series(Some(730000 + 40 * 16))
    val ms = Ccd.detect(d, b, q).changeModels
    ms.sliding(2).foreach {
      case Seq(a, c) => assert(a.endDay < c.startDay)
      case _ =>
    }
    ms.foreach(m => assert(m.startDay <= m.endDay))
  }

  test("too few clear observations -> no models, mask still aligned") {
    val (d, b, _) = series(None, n = 8)
    val r = Ccd.detect(d, b, Array.fill(8)(0))
    assert(r.changeModels.isEmpty)
    assert(r.processingMask.length == 8)
  }

  test("cloudy observations are masked out") {
    val (d, b, q) = series(None)
    // poison half the QA values
    val qas = q.zipWithIndex.map { case (_, i) => if (i % 2 == 0) 255 else 0 }
    val r = Ccd.detect(d, b, qas)
    assert(r.processingMask.count(_ == 1) == d.length / 2)
  }

  test("harmonic fit recovers a clean seasonal signal") {
    val ts = Array.tabulate(60)(i => 730000.0 + i * 16)
    val ys = ts.map(t => 500.0 + 2.0 * (t - 730000) / 365.2425 +
      100.0 * math.cos(2 * math.Pi * t / Ccd.YearDays))
    val coefs = Ccd.olsFit(ts, ys)
    val resid = ts.zip(ys).map { case (t, y) =>
      val row = Ccd.designRow(t)
      y - row.indices.map(i => row(i) * coefs(i)).sum
    }
    assert(resid.map(math.abs).max < 1.0, "clean signal should fit near-exactly")
  }

  /** One seeded ARD-shaped pixel: ~16-day cadence with jitter, a
    * seasonal signal, Gaussian noise, a +1500 step at each index in
    * `breaks`, and a `cloudy` share of non-clear QA values. */
  private def seeded(seed: Long, n: Int, breaks: Seq[Int] = Nil,
      cloudy: Double = 0.0): (Array[Int], Array[Array[Int]], Array[Int]) = {
    val rnd = new scala.util.Random(seed)
    val dates = Array.tabulate(n)(i => 730000 + i * 16 + rnd.nextInt(8))
    val bands = Array.tabulate(Ccd.NumBands) { b =>
      Array.tabulate(n) { i =>
        val seasonal = 800.0 + 150 * b +
          (200.0 + 20 * b) * math.cos(2 * math.Pi * dates(i) / Ccd.YearDays)
        val step = 1500.0 * breaks.count(i >= _)
        (seasonal + step + 25.0 * rnd.nextGaussian()).round.toInt
      }
    }
    val qas = Array.tabulate(n)(_ =>
      if (rnd.nextDouble() < cloudy) Array(2, 4, 255)(rnd.nextInt(3)) else 0)
    (dates, bands, qas)
  }

  /** MD5 over every field of `detect`'s output, doubles as raw bits. */
  private def fingerprint(results: Seq[Ccd.CcdResult]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(java.io.OutputStream.nullOutputStream(), md))
    def bits(d: Double): Unit = out.writeLong(java.lang.Double.doubleToRawLongBits(d))
    results.foreach { r =>
      out.writeInt(r.changeModels.size)
      r.changeModels.foreach { m =>
        out.writeInt(m.startDay); out.writeInt(m.endDay); out.writeInt(m.breakDay)
        bits(m.changeProbability); out.writeInt(m.curveQa)
        m.bands.foreach { bm =>
          bits(bm.magnitude); bits(bm.rmse); bits(bm.intercept)
          out.writeInt(bm.coefficients.length); bm.coefficients.foreach(bits)
        }
      }
      out.writeInt(r.processingMask.length); out.write(r.processingMask)
    }
    out.flush()
    md.digest().map("%02x".format(_)).mkString
  }

  test("detect output is bit-exact over a seeded series family (kernel pin)") {
    // Pins EVERY field of the kernel's output — the c01 golden hash
    // covers only days, curqa and n_obs. A change to the fitting
    // arithmetic that moves any rmse, coefficient or magnitude by one
    // ulp fails here. Regenerate the constant only for an intentional
    // change to the kernel's numbers.
    val family: Seq[(Array[Int], Array[Array[Int]], Array[Int])] =
      (1 to 8).map(s => seeded(s, 120)) ++                          // stable
      (1 to 8).map(s => seeded(100 + s, 120, Seq(30 + 7 * s))) ++   // one break
      (1 to 3).map(s => seeded(200 + s, 600,                        // several breaks
        Seq(90 + 10 * s, 230, 380 - 5 * s, 500))) ++
      Seq(seeded(250, 600)) ++                                      // paper-scale stable
      (1 to 6).map(s => seeded(300 + s, 120, Seq(70), cloudy = 0.1)) ++ // ~10% non-clear
      (1 to 4).map { s =>                                           // duplicate dates
        val (d, b, q) = seeded(400 + s, 120, Seq(60))
        (Array.tabulate(d.length)(i => if (i % 9 == 4) d(i - 1) else d(i)), b, q)
      } ++
      (1 to 4).map { s =>                                           // descending input
        val (d, b, q) = seeded(500 + s, 120, Seq(50), cloudy = 0.1)
        (d.reverse, b.map(_.reverse), q.reverse)
      } ++
      Seq(seeded(600, 11), seeded(601, 40, cloudy = 0.8))           // < MinObs clear
    val results = family.map { case (d, b, q) => Ccd.detect(d, b, q) }
    assert(results.map(_.changeModels.size).sum > family.size,
      "family should exercise breaks, not only open segments")
    val fp = fingerprint(results)
    assert(fp == "38b44c8b46fb547e9dc17852c54e453f", s"kernel fingerprint drifted: $fp")
  }

  test("c01 sf0.001 output matches the pinned golden hash (kernel regression guard)") {
    // The flagship query has no SQL oracle (rows-only at the driver
    // gate) and c02 checks only invariants — this pins the FULL c01
    // output at sf0.001 so a numeric regression that preserves row
    // count and invariants still fails loudly. Regenerate the constant
    // only for an intentional kernel change.
    import SparkTestSession._
    val rows = SparkEntry.queries("c01_ccd_segments")(spark, sf)
      .collect()
      .map { r =>
        Seq("cx", "px", "sday", "eday", "bday", "curqa", "n_obs")
          .map(f => String.valueOf(r.getAs[Any](f))).mkString("|")
      }
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(md == "aedad63dedd0acfcff77b933e53070e8",
      s"c01 golden hash drifted: $md (${rows.length} rows)")
  }

  test("c03 NDVI stats are bounded and internally consistent") {
    import SparkTestSession.{spark, sf}
    val rows = SparkEntry.queries("c03_spectral_index")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nValid = r.getAs[Int]("n_valid")
      val nPos = r.getAs[Int]("n_pos")
      assert(nPos >= 0 && nPos <= nValid)
      if (nValid > 0) {
        val lo = r.getAs[Double]("ndvi_min")
        val hi = r.getAs[Double]("ndvi_max")
        assert(lo <= hi)
        assert(lo >= -1.0 && hi <= 1.0, "normalized difference is bounded")
        assert((nPos > 0) == (hi > 0.0), "n_pos agrees with the max")
      }
    }
  }

  test("ordinal/ISO round trip matches Python date.fromordinal") {
    assert(CcdOps.ordinalToIso(1) == "0001-01-01")
    assert(CcdOps.ordinalToIso(719163) == "1970-01-01")
    assert(CcdOps.ordinalToIso(730000) == "1999-09-03")
    assert(CcdOps.isoToOrdinal("1999-09-03") == 730000)
  }
}
