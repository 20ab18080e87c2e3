package graft.ccd

/** Continuous Change Detection (CCDC) — pure Scala, deterministic.
  *
  * Re-implements the behavioral contract the reference outsources to
  * the external `lcmap-pyccd` package (pinned at reference
  * setup.py:32; invoked at ccdc/pyccd.py:168; result shape unpacked at
  * ccdc/pyccd.py:106-148): per-pixel QA-filtered observations →
  * harmonic regression per spectral band → residual-based change
  * scoring → time segments, each with per-band
  * {magnitude, rmse, coefficients, intercept}.
  *
  * Algorithmic parity with pyccd's Zhu & Woodcock 2014 internals is
  * explicitly not required (SURVEY.md §7.4.1) — the invariants that ARE
  * honored: ≥1 model per evaluated pixel (empty default, reference
  * ccdc/pyccd.py:99-103), segments non-overlapping and time-ordered,
  * processing mask aligned 1:1 with the input dates, ordinal-day
  * input / model fields per band.
  *
  * Each segment's growing window keeps its normal equations and its
  * sorted successive differences as running state ([[Window]]), so a
  * refit adds only the new observations instead of rebuilding the sums
  * from the segment start. The output is bit-identical to refitting
  * from scratch: rows enter every sum in index order, exactly as a
  * rebuild adds them, and smaller harmonic models read a prefix of the
  * full-width sums.
  *
  * Everything here is per-pixel independent — the distributed form is a
  * `Dataset.flatMap` (graft.ccd.CcdOps), which keeps this the single
  * non-codegen stage of the pipeline (SURVEY.md §7.4.5).
  */
object Ccd {

  val NumBands = 7
  /** Minimum clear observations to fit a model at all. */
  val MinObs = 12
  /** Consecutive anomalous observations that confirm a break. */
  val Peek = 6
  /** Change threshold: chi-square 0.99 quantile, 7 degrees of freedom
    * (one normalized residual per band). */
  val ChangeThreshold = 18.475
  /** Harmonic pairs in the regression (annual, semi-annual, tri-annual). */
  val Harmonics = 3
  /** Days per tropical year — harmonic period. */
  val YearDays = 365.2425
  /** RMSE floor so constant (zero-variance) series don't divide by ~0. */
  val MinRmse = 1.0

  /** Per-band fitted model. `coefficients` = [slope, cos1, sin1, cos2,
    * sin2, cos3, sin3] (7 values); intercept separate — mirrors the
    * reference's separate coef-array + intercept fields
    * (ccdc/pyccd.py:64-77). */
  case class BandModel(magnitude: Double, rmse: Double,
      coefficients: Array[Double], intercept: Double)

  /** One time segment. Band order: blue, green, red, nir, swir1,
    * swir2, thermal. */
  case class ChangeModel(startDay: Int, endDay: Int, breakDay: Int,
      changeProbability: Double, curveQa: Int, bands: Array[BandModel])

  /** detect() output: fitted segments + per-input-date processing mask
    * (1 = used, 0 = filtered), aligned to the dates as given. */
  case class CcdResult(changeModels: Seq[ChangeModel], processingMask: Array[Byte])

  /** QA values treated as usable observations (clear land / water —
    * cfmask convention used by the ARD QA band). */
  def clearQa(qa: Int): Boolean = qa == 0 || qa == 1 || qa == 66 || qa == 322

  // ---------------------------------------------------------------- //

  /** Model complexity grows with window length, pyccd-style: a 12-obs
    * window cannot support 8 parameters without overfitting (tiny rmse
    * → spurious breaks). */
  private[graft] def harmonicsFor(n: Int): Int =
    if (n < 18) 1 else if (n < 24) 2 else Harmonics

  /** Harmonic design row for ordinal day t: [1, t/365, cos/sin pairs]. */
  private[graft] def designRow(t: Double, nHarm: Int = Harmonics): Array[Double] = {
    val row = new Array[Double](2 + 2 * nHarm)
    row(0) = 1.0
    row(1) = t / YearDays
    var k = 1
    while (k <= nHarm) {
      val w = 2.0 * math.Pi * k * t / YearDays
      row(2 * k) = math.cos(w)
      row(2 * k + 1) = math.sin(w)
      k += 1
    }
    row
  }

  /** Columns of the full harmonic design row. */
  private val FullP = 2 + 2 * Harmonics
  /** Ridge added to AᵀA's diagonal (a copy of it) before each solve. */
  private val Ridge = 1e-8

  /** Ordinary least squares via normal equations + tiny ridge for
    * numerical stability; deterministic Gaussian elimination. The
    * from-scratch reference for [[Window]]'s running sums: `detect`
    * never calls it. */
  private[graft] def olsFit(ts: Array[Double], ys: Array[Double],
      nHarm: Int = Harmonics): Array[Double] = {
    val p = 2 + 2 * nHarm
    val ata = Array.ofDim[Double](p, p)
    val aty = new Array[Double](p)
    ts.indices.foreach { i =>
      val row = designRow(ts(i), Harmonics)
      var a = 0
      while (a < p) {
        aty(a) += row(a) * ys(i)
        var b = 0
        while (b < p) { ata(a)(b) += row(a) * row(b); b += 1 }
        a += 1
      }
    }
    var d = 0
    while (d < p) { ata(d)(d) += Ridge; d += 1 }
    solve(ata, aty)
  }

  /** In-place Gaussian elimination with partial pivoting. */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      val diag = a(col)(col)
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / diag
        var c = col
        while (c < n) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](n)
    var r2 = n - 1
    while (r2 >= 0) {
      var s = b(r2)
      var c = r2 + 1
      while (c < n) { s -= a(r2)(c) * x(c); c += 1 }
      x(r2) = s / a(r2)(r2)
      r2 -= 1
    }
    x
  }

  /** Dot of fitted coefs with the first coefs.length columns of a
    * precomputed full-width design row. */
  private def predictRow(coefs: Array[Double], row: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < coefs.length) { s += coefs(i) * row(i); i += 1 }
    s
  }

  /** Regression state of one segment's growing window [from, until),
    * kept up to date one observation at a time so a refit costs one
    * small solve per band instead of a pass that rebuilds the sums:
    *   - the full-width AᵀA (upper triangle; the band-independent
    *     part, built once for all bands),
    *   - Aᵀy per band,
    *   - per band, the successive differences |y(i) − y(i−1)| kept
    *     sorted by insertion — the variogram's median is an index.
    *
    * A refit here is bit-identical to a fit from scratch over the same
    * window. Each sum entry receives the same products in the same
    * order: rows are added in index order, never removed, and
    * row(a)·row(b) = row(b)·row(a) exactly, so the mirrored lower
    * triangle holds the values a full build would. A smaller harmonic
    * model reads the top-left p×p prefix, whose entries are exactly
    * the sums a p-wide build makes. The ridge goes onto a copy before
    * `solve`, never into the running sums. The sorted differences are
    * the same multiset a fresh sort yields, so the median is the same
    * element. */
  private[graft] final class Window(rows: Array[Array[Double]],
      bands: Array[Array[Double]], from: Int) {
    private val ata = Array.ofDim[Double](FullP, FullP)
    private val aty = Array.ofDim[Double](bands.length, FullP)
    private val diffs = Array.fill(bands.length)(new Array[Double](2 * MinObs))
    private var until = from

    /** Add observations [until, end) in index order. */
    def extendTo(end: Int): Unit =
      while (until < end) {
        val row = rows(until)
        var a = 0
        while (a < FullP) {
          val ra = row(a)
          val ataA = ata(a)
          var b = a
          while (b < FullP) { ataA(b) += ra * row(b); b += 1 }
          a += 1
        }
        var k = 0
        while (k < bands.length) {
          val ys = bands(k)
          val atyK = aty(k)
          a = 0
          while (a < FullP) { atyK(a) += row(a) * ys(until); a += 1 }
          if (until > from) insertDiff(k, math.abs(ys(until) - ys(until - 1)))
          k += 1
        }
        until += 1
      }

    /** Insert into band k's sorted differences (there are until−from−1). */
    private def insertDiff(k: Int, d: Double): Unit = {
      val count = until - from - 1
      if (count == diffs(k).length) diffs(k) = java.util.Arrays.copyOf(diffs(k), 2 * count)
      val sorted = diffs(k)
      var lo = 0
      var hi = count
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) <= d) lo = mid + 1 else hi = mid
      }
      System.arraycopy(sorted, lo, sorted, lo + 1, count - lo)
      sorted(lo) = d
    }

    /** Band k's OLS coefficients for the first `p` design columns. */
    def coefs(k: Int, p: Int): Array[Double] = {
      val m = Array.ofDim[Double](p, p)
      var a = 0
      while (a < p) {
        var b = 0
        while (b < p) { m(a)(b) = if (a <= b) ata(a)(b) else ata(b)(a); b += 1 }
        m(a)(a) += Ridge
        a += 1
      }
      solve(m, java.util.Arrays.copyOf(aty(k), p))
    }

    /** Robust per-band noise floor: median absolute successive
      * difference — a temporal variogram like pyccd's adjusted rmse,
      * so an overfit small-window rmse can't trigger spurious breaks. */
    def variogram(k: Int): Double = {
      val count = until - from - 1
      if (count <= 0) 0.0 else diffs(k)(count / 2)
    }

    /** Extend to `end` (windows only grow) and fit every band over
      * [from, end): the coefficients and the rmse floored by the
      * variogram and MinRmse. */
    def fit(end: Int): Array[(Array[Double], Double)] = {
      extendTo(end)
      val p = 2 + 2 * harmonicsFor(end - from)
      Array.tabulate(bands.length) { k =>
        val ys = bands(k)
        val c = coefs(k, p)
        var sse = 0.0
        var i = from
        while (i < end) {
          val r = ys(i) - predictRow(c, rows(i))
          sse += r * r
          i += 1
        }
        val olsRmse = math.sqrt(sse / math.max(1, (end - from) - c.length))
        (c, math.max(math.max(olsRmse, variogram(k)), MinRmse))
      }
    }
  }

  /** Normalized residual score of observation i under the fits:
    * sum over bands of (residual / rmse)^2. */
  private def score(fits: Array[(Array[Double], Double)],
      rows: Array[Array[Double]], bands: Array[Array[Double]], i: Int): Double = {
    var s = 0.0
    var b = 0
    while (b < NumBands) {
      val (coefs, rmse) = fits(b)
      val r = (bands(b)(i) - predictRow(coefs, rows(i))) / rmse
      s += r * r
      b += 1
    }
    s
  }

  private def toModel(fits: Array[(Array[Double], Double)],
      magnitudes: Array[Double], ts: Array[Double],
      startIdx: Int, endIdx: Int, breakDay: Int,
      chprob: Double, nObs: Int): ChangeModel = {
    val bms = fits.indices.map { b =>
      val (coefs, rmse) = fits(b)
      // Pad to the full 7-term shape (slope + 3 cos/sin pairs) so the
      // persisted coef arrays have a uniform length regardless of the
      // adaptive model complexity used for the fit.
      BandModel(magnitudes(b), rmse,
        coefs.drop(1).padTo(2 * Harmonics + 1, 0.0), coefs(0))
    }.toArray
    ChangeModel(ts(startIdx).toInt, ts(endIdx).toInt, breakDay, chprob,
      if (nObs >= 2 * MinObs) 8 else 4, bms)
  }

  /** Run change detection over one pixel's parallel-array time series.
    *
    * @param dates ordinal days (any order; reference feeds descending)
    * @param bands 7 spectral series aligned to dates
    * @param qas   QA series aligned to dates
    */
  def detect(dates: Array[Int], bands: Array[Array[Int]], qas: Array[Int]): CcdResult = {
    require(bands.length == NumBands, s"expected $NumBands bands, got ${bands.length}")
    // Sort ascending by date, keep first observation per day, QA-filter.
    val order = dates.indices.sortBy(dates(_))
    val keptIdx = {
      val seen = scala.collection.mutable.HashSet.empty[Int]
      order.filter { i =>
        clearQa(qas(i)) && seen.add(dates(i))
      }.toArray
    }
    val mask = new Array[Byte](dates.length)
    keptIdx.foreach(i => mask(i) = 1)

    if (keptIdx.length < MinObs) return CcdResult(Nil, mask)

    val ts = keptIdx.map(dates(_).toDouble)
    val obs = bands.map(series => keptIdx.map(series(_).toDouble))
    val n = ts.length
    // Full-width design rows, computed once per series: every fit,
    // score, and residual below reuses these (smaller harmonic models
    // read a prefix), eliminating repeated trig — the hot cost of the
    // refit cadence.
    val rows = ts.map(designRow(_, Harmonics))

    val models = scala.collection.mutable.ArrayBuffer.empty[ChangeModel]
    var segStart = 0
    while (segStart < n) {
      if (n - segStart < MinObs) {
        // Tail too short for a model: dropped (the processing mask
        // still records that the observations were used).
        segStart = n
      } else {
        val fitEnd = segStart + MinObs // exclusive
        val window = new Window(rows, obs, segStart)
        var fits = window.fit(fitEnd)
        var broke = false
        var i = fitEnd
        var anomalyRun = 0
        var firstAnomaly = -1
        while (i < n && !broke) {
          if (score(fits, rows, obs, i) > ChangeThreshold) {
            if (anomalyRun == 0) firstAnomaly = i
            anomalyRun += 1
            if (anomalyRun >= Peek) {
              // Confirmed break at firstAnomaly.
              val lastGood = firstAnomaly - 1
              val mags = Array.tabulate(NumBands) { b =>
                val (coefs, _) = fits(b)
                val rs = (firstAnomaly until firstAnomaly + Peek)
                  .map(j => obs(b)(j) - predictRow(coefs, rows(j)))
                rs.sorted.apply(rs.length / 2) // median residual
              }
              models += toModel(fits, mags, ts, segStart, lastGood,
                ts(firstAnomaly).toInt, 1.0, lastGood - segStart + 1)
              segStart = firstAnomaly
              broke = true
            }
            i += 1
          } else {
            anomalyRun = 0
            firstAnomaly = -1
            // Grow the stable window; refit on a deterministic cadence.
            i += 1
            if ((i - fitEnd) % 4 == 0) {
              fits = window.fit(i)
            }
          }
        }
        if (!broke) {
          // Open final segment to the last observation.
          fits = window.fit(n)
          val mags = Array.fill(NumBands)(0.0)
          models += toModel(fits, mags, ts, segStart, n - 1,
            ts(n - 1).toInt, 0.0, n - segStart)
          segStart = n
        }
      }
    }
    CcdResult(models.toSeq, mask)
  }
}
