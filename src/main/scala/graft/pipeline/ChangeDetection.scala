package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ccd.CcdOps
import graft.grid.Grid
import graft.types.{ArdRow, CcdPixel}

/** The `changedetection` product pipeline (reference entry
  * ccdc/cli.py:25-48 → ccdc/core.py:78-124), as ONE Spark plan.
  *
  * The reference chunked the tile into driver-loop batches
  * (partition_all at ccdc/core.py:98-108) because each task fetched
  * over HTTP; with a Parquet source the whole tile is a single
  * declarative plan — Catalyst handles partitioning, AQE balances it
  * (SURVEY.md §3.1 "new-engine shape" + §7.4.5).
  */
object ChangeDetection {

  /** Restrict an ARD dataset to the chips of the tile containing
    * (x, y) — geometry-driven partition pruning (the reference's
    * tile→chip enumeration, ccdc/grid.py:23-53). `number` caps the
    * chip worklist (reference cli.py:30 `-n`, "testing only"):
    * row-major order, so the cap is deterministic. */
  def tileScope(ard: Dataset[ArdRow], x: Double, y: Double,
      number: Int = Int.MaxValue): Dataset[ArdRow] = {
    val spark = ard.sparkSession
    import spark.implicits._
    val chipIds = Grid.tileOf(x, y).chips.take(number).toDF("cx", "cy")
    ard.join(broadcast(chipIds), Seq("cx", "cy"), "left_semi").as[ArdRow]
  }

  /** Restrict every pixel series to observations inside an ISO8601
    * `acquired` range "start/end" (reference F5: the -a flag threaded
    * through chip fetch, ccdc/core.py:41-50 + ccdc/timeseries.py:63).
    * Pixels left with no observations drop out entirely. */
  def acquiredWindow(ard: Dataset[ArdRow], acquired: String): Dataset[ArdRow] = {
    val spark = ard.sparkSession
    import spark.implicits._
    val (lo, hi) = CcdOps.acquiredRange(acquired)
    ard.map { r =>
      val keep = r.dates.zipWithIndex.collect {
        case (d, i) if d >= lo && d <= hi => i
      }
      def sel(xs: Seq[Int]): Seq[Int] = keep.map(xs)
      r.copy(dates = sel(r.dates), blues = sel(r.blues),
        greens = sel(r.greens), reds = sel(r.reds), nirs = sel(r.nirs),
        swir1s = sel(r.swir1s), swir2s = sel(r.swir2s),
        thermals = sel(r.thermals), qas = sel(r.qas))
    }.filter(_.dates.nonEmpty)
  }

  /** Detect changes and land the three product tables.
    * Returns (chips, pixels, segments) row counts landed by THIS batch
    * (the output table may hold other tiles' rows under upsert). */
  def run(ard: Dataset[ArdRow], outDir: String): (Long, Long, Long) = {
    val detected: Dataset[CcdPixel] = CcdOps.detect(ard)
      .persist(StorageLevel.MEMORY_AND_DISK) // reused by 3 sinks (ccdc/core.py:68-72)
    try {
      val chips = CcdOps.chipRecords(detected)
      val pixels = CcdOps.pixelRecords(detected)
      val segs = CcdOps.segmentRecords(detected)
      // Chip-prefix partitioned: a later run of another tile (or a
      // re-run of this one) replaces exactly the chips it carries —
      // the reference's chip-keyed Cassandra upsert (schema.cql:142).
      // A tile batch always contains whole chips, so partition-level
      // replacement == chip-level last-write-wins.
      // Count the frames this batch landed, not the whole output table:
      // the sink is a per-chip upsert, so the table may also hold other
      // tiles' earlier partitions that this run did not touch. The
      // counts are taken by the writes themselves (Landed.write).
      val nChips = Landed.write(chips.toDF(), s"$outDir/chip",
        Seq("cx", "cy"), Seq("cx", "cy"))
      val nPixels = Landed.write(pixels.toDF(), s"$outDir/pixel",
        Seq("cx", "cy", "px", "py"), Seq("cx", "cy"))
      val nSegs = Landed.write(segs, s"$outDir/segment",
        Seq("cx", "cy", "px", "py", "sday", "eday"), Seq("cx", "cy"))
      (nChips, nPixels, nSegs)
    } finally detected.unpersist()
  }
}
