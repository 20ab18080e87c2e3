package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ccd.CcdOps
import graft.types.ArdRow

/** CCD change detection exposed through the driver's query gate.
  *
  * The driver's tables carry no rasters, so the pixel series derive
  * deterministically FROM the provided data: each supplier becomes a
  * "pixel" whose observation dates are its lineitem ship dates and
  * whose bands are integer transforms of shipment quantities/prices.
  * Everything is a pure function of the input tables — rows are stable
  * across runs, which is what the rows-only check (no DuckDB oracle:
  * CCD isn't SQL-expressible) verifies. The real point is that the
  * flagship operator — assemble → map(ccd) → explode(segments) — runs and
  * is benchmarked at every scale factor.
  */
object CcdQueries {

  /** Python-ordinal day of a timestamp column (CcdOps.ordinalToIso's
    * inverse, in column form): days since 1970-01-01 plus 719163.
    * Goes through DateType so it works for TIMESTAMP and TIMESTAMP_NTZ. */
  private def ordinalOf(ts: org.apache.spark.sql.Column) =
    (datediff(ts.cast("date"), to_date(lit("1970-01-01"))) + lit(719163)).cast("int")

  /** One ArdRow per supplier from its lineitem history. */
  def supplierSeries(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[ArdRow] = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
      .select(
        col("l_suppkey"),
        ordinalOf(col("l_shipdate")).as("date"),
        (col("l_quantity") * 100).cast("int").as("blue"),
        (col("l_extendedprice") / 10).cast("int").as("green"),
        (col("l_discount") * 10000).cast("int").as("red"),
        (col("l_tax") * 10000).cast("int").as("nir"),
        (col("l_orderkey") % 1000).cast("int").as("swir1"),
        (col("l_partkey") % 1000).cast("int").as("swir2"),
        col("l_linenumber").cast("int").as("thermal"))
    li.groupBy(col("l_suppkey"))
      .agg(sort_array(collect_list(struct(col("date"), col("blue"),
        col("green"), col("red"), col("nir"), col("swir1"), col("swir2"),
        col("thermal")))).as("o"))
      .select(
        col("l_suppkey").cast("int").as("cx"),
        lit(0).as("cy"),
        col("l_suppkey").cast("int").as("px"),
        lit(0).as("py"),
        col("o.date").as("dates"),
        col("o.blue").as("blues"),
        col("o.green").as("greens"),
        col("o.red").as("reds"),
        col("o.nir").as("nirs"),
        col("o.swir1").as("swir1s"),
        col("o.swir2").as("swir2s"),
        col("o.thermal").as("thermals"),
        transform(col("o.date"), _ => lit(0)).as("qas"))
      .as[ArdRow]
  }

  /** c01/c02's one frame: a row per segment, carrying its pixel's
    * series length and mask length off the pixel row. */
  private def supplierSegments(s: SparkSession, dir: String): DataFrame =
    CcdOps.detect(supplierSeries(s, dir))
      .select(size(col("dates")).as("n_obs"), size(col("mask")).as("n_mask"),
        explode(col("segments")).as("seg"))
      .select(col("seg.*"), col("n_obs"), col("n_mask"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship CCDC operator over table-derived pixel series. Output:
    // per-segment key columns + fitted-window metadata (deterministic;
    // rows-only checked — the regression math has no SQL oracle; c02
    // below is its hash-checked invariant surface, and CcdSpec pins a
    // golden hash of this full output).
    "c01_ccd_segments" -> ((s, dir) => {
      supplierSegments(s, dir)
        .select(col("cx"), col("px"), col("sday"), col("eday"),
          col("bday"), col("curqa"), col("n_obs"))
    }),

    // DuckDB-checkable invariant projection of c01 (the CCD kernel's
    // oracle surface): per supplier, the contracts the kernel must
    // hold — ≥1 segment (empty-default contract, reference
    // ccdc/pyccd.py:99-103), every fitted segment inside the series'
    // shipdate bounds, n_obs = series length on every row, mask length
    // = n_obs. Emitted as exact values/flags the oracle recomputes
    // from `lineitem` alone; any kernel regression flips a flag (or
    // shifts n_obs) and breaks the hash match.
    "c02_ccd_invariants" -> ((s, dir) => {
      val seg = supplierSegments(s, dir)
      val per = seg.groupBy(col("cx"))
        .agg(count(lit(1)).as("n_seg"),
          // Empty-default rows (sday = eday = ordinal 1) are exempt
          // from the bounds contract; conditional min/max skips them.
          min(when(col("sday") =!= "0001-01-01", to_date(col("sday"))))
            .as("nd_min_sday"),
          max(when(col("eday") =!= "0001-01-01", to_date(col("eday"))))
            .as("nd_max_eday"),
          min(col("n_obs")).as("min_nobs"), max(col("n_obs")).as("max_nobs"),
          min((col("n_mask") === col("n_obs")).cast("int")).as("mask_ok"))
      val li = Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey").cast("int").as("cx"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_shipdate").cast("date")).as("lo"),
          max(col("l_shipdate").cast("date")).as("hi"))
      // Left join FROM lineitem: a supplier the kernel dropped
      // entirely must surface as seg_ok = 0, not vanish from the join.
      li.join(per, Seq("cx"), "left")
        .select(col("cx"),
          coalesce(col("max_nobs"), lit(0)).as("n_obs"),
          (coalesce(col("n_seg"), lit(0L)) >= 1).cast("int").as("seg_ok"),
          coalesce(col("nd_min_sday") >= col("lo") &&
            col("nd_max_eday") <= col("hi"), lit(true)).cast("int").as("bounds_ok"),
          coalesce((col("min_nobs") === col("n_rows") &&
            col("max_nobs") === col("n_rows")).cast("int"), lit(0)).as("nobs_ok"),
          coalesce(col("mask_ok"), lit(0)).as("mask_ok"))
    }),

    // Spectral index (NDVI = (nir−red)/(nir+red)) over the ASSEMBLED
    // band arrays — the reference domain's per-observation raster math
    // as row-local `zip_with` algebra on the series rows (no second
    // shuffle past the series gather). Reductions are restricted to
    // order-independent ones (min/max/count) so the doubles hash-match
    // the oracle's row-wise recompute; n_pos tests nir > red, which
    // equals ndvi > 0 whenever the denominator is nonzero (bands are
    // nonnegative). Zero-denominator observations are NULL and
    // excluded, not divide-by-zero.
    "c03_spectral_index" -> ((s, dir) => {
      supplierSeries(s, dir).toDF()
        .select(col("cx"),
          zip_with(col("nirs"), col("reds"), (n, r) =>
            when(n + r =!= 0, (n - r).cast("double") / (n + r))).as("nd"))
        .select(col("cx"),
          array_min(filter(col("nd"), _.isNotNull)).as("ndvi_min"),
          array_max(filter(col("nd"), _.isNotNull)).as("ndvi_max"),
          size(filter(col("nd"), _.isNotNull)).as("n_valid"),
          size(filter(col("nd"), x => x.isNotNull && x > 0)).as("n_pos"))
    })
  )

  /** c01's regression math is not SQL-expressible (rows-only check);
    * c02 recomputes the invariant surface from `lineitem` assuming the
    * kernel honors its contracts — flags are constant-1 and n_obs is
    * the supplier's row count exactly when it does. */
  val oracle: Map[String, String] = Map(
    "c02_ccd_invariants" ->
      """SELECT CAST(l_suppkey AS INTEGER) AS cx,
        |  CAST(COUNT(*) AS INTEGER) AS n_obs,
        |  1 AS seg_ok, 1 AS bounds_ok, 1 AS nobs_ok, 1 AS mask_ok
        |FROM lineitem GROUP BY l_suppkey""".stripMargin,
    // Row-wise recompute of c03's array-path NDVI: same truncating
    // int casts as supplierSeries, conditional aggregation so a
    // supplier whose every observation has nir + red = 0 still emits
    // a (NULL-stat) row like the Spark side.
    "c03_spectral_index" ->
      """WITH b AS (
        |  SELECT CAST(l_suppkey AS INTEGER) AS cx,
        |    CAST(trunc(l_discount * 10000) AS INTEGER) AS red,
        |    CAST(trunc(l_tax * 10000) AS INTEGER) AS nir
        |  FROM lineitem)
        |SELECT cx,
        |  MIN(CASE WHEN nir + red <> 0
        |      THEN CAST(nir - red AS DOUBLE) / (nir + red) END) AS ndvi_min,
        |  MAX(CASE WHEN nir + red <> 0
        |      THEN CAST(nir - red AS DOUBLE) / (nir + red) END) AS ndvi_max,
        |  CAST(COUNT(CASE WHEN nir + red <> 0 THEN 1 END) AS INTEGER) AS n_valid,
        |  CAST(COUNT(CASE WHEN nir + red <> 0 AND nir > red THEN 1 END)
        |    AS INTEGER) AS n_pos
        |FROM b GROUP BY cx""".stripMargin
  )
}
