package graft.ccd

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.types.{ArdRow, ChipRec, PixelRec, Segment}

/** Dataset-level CCD operators: the chip→pixel expansion's downstream
  * twin — pixel→segments (reference: flatMap(pyccd.detect) at
  * ccdc/pyccd.py:183) — plus the chip/pixel/segment sink projections
  * (ccdc/chip.py:25-36, ccdc/pixel.py:24-35, ccdc/segment.py:59-70).
  */
object CcdOps {

  /** Python `date.fromordinal(n).isoformat()` equivalent (reference
    * ccdc/pyccd.py:113-115): proleptic ordinal 1 = 0001-01-01.
    * Python ordinal of 1970-01-01 is 719163. */
  def ordinalToIso(ordinal: Int): String =
    LocalDate.ofEpochDay(ordinal.toLong - 719163L).toString

  def isoToOrdinal(iso: String): Int =
    (LocalDate.parse(iso).toEpochDay + 719163L).toInt

  /** Parse an ISO8601 acquired range "start/end" into ordinal bounds
    * (reference F5: acquired() default at ccdc/core.py:41-50). */
  def acquiredRange(acquired: String): (Int, Int) = {
    val Array(a, b) = acquired.split("/", 2)
    (isoToOrdinal(a), isoToOrdinal(b))
  }

  /** Format one detection result as persisted segment rows. Mirrors
    * ccdc/pyccd.py:106-148 field-for-field, including the ≥1-row
    * empty default (ccdc/pyccd.py:99-103: sday=eday=bday=ordinal 1). */
  def format(row: ArdRow, result: Ccd.CcdResult): Seq[Segment] = {
    val isoDates = row.dates.map(ordinalToIso)
    val mask = Some(result.processingMask.toSeq)
    if (result.changeModels.isEmpty) {
      Seq(Segment(row.cx, row.cy, row.px, row.py,
        sday = ordinalToIso(1), eday = ordinalToIso(1), bday = ordinalToIso(1),
        chprob = None, curqa = None,
        None, None, None, None, None, None, None,
        None, None, None, None, None, None, None,
        None, None, None, None, None, None, None,
        None, None, None, None, None, None, None,
        dates = isoDates, mask = mask, rfrawp = None))
    } else {
      result.changeModels.map { cm =>
        def bm(i: Int) = cm.bands(i)
        def mag(i: Int) = Some(bm(i).magnitude.toFloat)
        def rmse(i: Int) = Some(bm(i).rmse.toFloat)
        def coef(i: Int) = Some(bm(i).coefficients.toSeq.map(_.toFloat))
        def intr(i: Int) = Some(bm(i).intercept.toFloat)
        Segment(row.cx, row.cy, row.px, row.py,
          sday = ordinalToIso(cm.startDay), eday = ordinalToIso(cm.endDay),
          bday = ordinalToIso(cm.breakDay),
          chprob = Some(cm.changeProbability.toFloat),
          curqa = Some(cm.curveQa),
          mag(0), mag(1), mag(2), mag(3), mag(4), mag(5), mag(6),
          rmse(0), rmse(1), rmse(2), rmse(3), rmse(4), rmse(5), rmse(6),
          coef(0), coef(1), coef(2), coef(3), coef(4), coef(5), coef(6),
          intr(0), intr(1), intr(2), intr(3), intr(4), intr(5), intr(6),
          dates = isoDates, mask = mask, rfrawp = None)
      }
    }
  }

  /** Pixel → segments expansion: the typed flatMap that is the one
    * non-codegen stage of the change-detection plan. */
  def detect(ds: Dataset[ArdRow]): Dataset[Segment] = {
    import ds.sparkSession.implicits._
    ds.flatMap { row =>
      val bands = Array(row.blues, row.greens, row.reds, row.nirs,
        row.swir1s, row.swir2s, row.thermals).map(_.toArray)
      format(row, Ccd.detect(row.dates.toArray, bands, row.qas.toArray))
    }
  }

  /** Chip sink projection (reference ccdc/chip.py:25-36): one row per
    * chip with its acquisition dates. */
  def chipRecords(segments: Dataset[Segment]): Dataset[ChipRec] = {
    import segments.sparkSession.implicits._
    // max over the array column (lexicographic) — a deterministic pick
    // where dropDuplicates would keep whichever pixel's row a partition
    // surfaced first (pixels of a chip can have differing date sets).
    segments.select(col("cx"), col("cy"), col("dates"))
      .groupBy(col("cx"), col("cy"))
      .agg(max(col("dates")).as("dates"))
      .as[ChipRec]
  }

  /** Pixel sink projection (reference ccdc/pixel.py:24-35). */
  def pixelRecords(segments: Dataset[Segment]): Dataset[PixelRec] = {
    import segments.sparkSession.implicits._
    segments.select(col("cx"), col("cy"), col("px"), col("py"), col("mask"))
      .dropDuplicates("cx", "cy", "px", "py")
      .as[PixelRec]
  }

  /** Segment sink projection (reference ccdc/segment.py:59-70): the
    * persisted segment columns (drops dates/mask/rfrawp duplication). */
  def segmentRecords(segments: Dataset[Segment]): DataFrame =
    segments.drop("dates", "mask", "rfrawp")
      .dropDuplicates("cx", "cy", "px", "py", "sday", "eday")
}
