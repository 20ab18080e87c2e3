package graft.types

/** Typed row models for the CCDC pipeline, mirroring the reference's
  * declared StructTypes (reference: ccdc/timeseries.py:33-55 for
  * ard/aux, ccdc/pyccd.py:39-81 for segments, ccdc/chip.py:15-22,
  * ccdc/pixel.py:14-21, ccdc/tile.py:16-25 for product records).
  *
  * Dates deliberately stay ISO-8601 *strings* in the persisted segment
  * and chip rows for schema parity with the reference
  * (ccdc/pyccd.py:45-47, ccdc/chip.py:15-22); all filtering/compare
  * logic uses ordinal ints internally and formats late (SURVEY.md
  * §7.4.2). A pixel's date list and processing mask live once, on its
  * [[CcdPixel]] row, never on its segments.
  */

/** Per-pixel ARD spectral time series — parallel arrays, element i of
  * every array aligned to dates(i), dates descending.
  * Reference: ccdc/timeseries.py:33-45, example :104-115. */
case class ArdRow(
    cx: Int, cy: Int, px: Int, py: Int,
    dates: Seq[Int],
    blues: Seq[Int], greens: Seq[Int], reds: Seq[Int], nirs: Seq[Int],
    swir1s: Seq[Int], swir2s: Seq[Int], thermals: Seq[Int],
    qas: Seq[Int])

/** Per-pixel auxiliary raster series (DEM, trends labels, ...).
  * Reference: ccdc/timeseries.py:46-55. */
case class AuxRow(
    cx: Int, cy: Int, px: Int, py: Int,
    dates: Seq[Int],
    dem: Option[Seq[Float]],
    trends: Seq[Int],
    aspect: Option[Seq[Int]],
    posidex: Option[Seq[Float]],
    slope: Option[Seq[Float]],
    mpw: Option[Seq[Int]])

/** One fitted CCD time segment for one pixel — exactly the 37-field row
  * the segment table persists (the reference's ccdc/pyccd.py:39-81
  * without the per-pixel dates/mask and the prediction-only rfrawp;
  * field-by-field population at ccdc/pyccd.py:106-148). Band prefixes:
  * bl/gr/re/ni/s1/s2/th. */
case class Segment(
    cx: Int, cy: Int, px: Int, py: Int,
    sday: String, eday: String, bday: String,
    chprob: Option[Float], curqa: Option[Int],
    blmag: Option[Float], grmag: Option[Float], remag: Option[Float],
    nimag: Option[Float], s1mag: Option[Float], s2mag: Option[Float],
    thmag: Option[Float],
    blrmse: Option[Float], grrmse: Option[Float], rermse: Option[Float],
    nirmse: Option[Float], s1rmse: Option[Float], s2rmse: Option[Float],
    thrmse: Option[Float],
    blcoef: Option[Seq[Float]], grcoef: Option[Seq[Float]],
    recoef: Option[Seq[Float]], nicoef: Option[Seq[Float]],
    s1coef: Option[Seq[Float]], s2coef: Option[Seq[Float]],
    thcoef: Option[Seq[Float]],
    blint: Option[Float], grint: Option[Float], reint: Option[Float],
    niint: Option[Float], s1int: Option[Float], s2int: Option[Float],
    thint: Option[Float])

/** One pixel's change-detection result: its ordinal acquisition dates,
  * its processing mask (aligned to `dates`) and its ≥1 segments. The
  * chip, pixel and segment products are projections of these rows. */
case class CcdPixel(
    cx: Int, cy: Int, px: Int, py: Int,
    dates: Seq[Int],
    mask: Seq[Byte],
    segments: Seq[Segment])

/** Per-chip acquisition-date record (reference: ccdc/chip.py:15-22). */
case class ChipRec(cx: Int, cy: Int, dates: Seq[String])

/** Per-pixel processing-mask record (reference: ccdc/pixel.py:14-21). */
case class PixelRec(cx: Int, cy: Int, px: Int, py: Int, mask: Seq[Byte])

/** Per-tile trained model (reference: ccdc/tile.py:16-25): `model` is
  * the model itself, a base64 zip of spark.ml's saved directory, where
  * it once held the path of a `model/` directory; a `StringType`, as
  * the reference's blob was. */
case class TileRec(tx: Int, ty: Int, name: String, model: String,
    updated: String)
