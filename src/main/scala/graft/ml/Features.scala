package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training/classification feature assembly (reference
  * ccdc/features.py).
  *
  * The reference's `densify` Python UDF (ccdc/udfs.py:7-21) packed 33
  * columns into a dense ML vector, taking `first(x)` of any
  * array-valued argument. Here: `element_at(c, 1)` projections (pure
  * Catalyst, codegen'd) + `VectorAssembler` — no UDF in the plan.
  *
  * The label and the 33 scalar columns are ONE `select` over the join:
  * every later action (and every pass of an ML fit) analyzes and
  * optimizes the plan again before it runs, and a `withColumn` per
  * column would stack 34 `Project`s for it to collapse each time.
  */
object Features {

  /** Feature column order — significant, mirrors
    * ccdc/features.py:33-37 exactly. */
  val columns: Seq[String] = Seq(
    "blmag", "grmag", "remag", "nimag", "s1mag", "s2mag", "thmag",
    "blrmse", "grrmse", "rermse", "nirmse", "s1rmse", "s2rmse", "thrmse",
    "blcoef", "grcoef", "recoef", "nicoef", "s1coef", "s2coef", "thcoef",
    "blint", "grint", "reint", "niint", "s1int", "s2int", "thint",
    "dem", "aspect", "slope", "mpw", "posidex")

  private val arrayCols = Set(
    "blcoef", "grcoef", "recoef", "nicoef", "s1coef", "s2coef", "thcoef",
    "dem", "aspect", "slope", "mpw", "posidex")

  private val keys = Seq("cx", "cy", "px", "py", "sday", "eday")

  /** aux ⋈ ccd on pixel key, label = trends[0], features = 33-vector
    * (a null or missing value is 0.0). Reference: ccdc/features.py:6-17
    * (join), :40-50 (label), :53-63 (features), :66-82 (selection). */
  def dataframe(aux: DataFrame, ccd: DataFrame): DataFrame = {
    val joined = aux.join(ccd, Seq("cx", "cy", "px", "py"), "inner")
    val scalars = columns.map { c =>
      val v = if (arrayCols(c)) element_at(col(c), 1) else col(c)
      coalesce(v.cast("double"), lit(0.0)).as(s"f_$c")
    }
    val flat = joined.select(keys.map(col) ++
      (element_at(col("trends"), 1).cast("double").as("label") +: scalars): _*)
    new VectorAssembler()
      .setInputCols(columns.map(c => s"f_$c").toArray)
      .setOutputCol("features")
      .transform(flat)
      .select((keys :+ "label" :+ "features").map(col): _*)
  }
}
