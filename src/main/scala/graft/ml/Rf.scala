package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.{StringIndexer, VectorIndexer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Random-forest training & classification (reference
  * ccdc/randomforest.py — identical spark.ml stages).
  */
object Rf {

  /** StringIndexer → VectorIndexer → RF(numTrees). Reference pins
    * numTrees=500, maxCategories=8 (ccdc/randomforest.py:36-39);
    * numTrees is a parameter so tests can train small forests. The
    * pipeline and its stages carry fixed uids, so a saved model
    * depends on the fit alone. */
  def pipeline(numTrees: Int = 500): Pipeline = {
    val lindex = new StringIndexer("rf_label_index")
      .setInputCol("label").setOutputCol("label_index")
      .setHandleInvalid("keep")
    val findex = new VectorIndexer("rf_feature_index")
      .setInputCol("features").setOutputCol("feature_index")
      .setMaxCategories(8)
    val rf = new RandomForestClassifier("rf_forest")
      .setLabelCol("label_index").setFeaturesCol("feature_index")
      .setNumTrees(numTrees).setSeed(42L)
    new Pipeline("rf_pipeline").setStages(Array(lindex, findex, rf))
  }

  /** Train over a features dataframe; None when no training rows
    * (reference guard, ccdc/randomforest.py:73-75).
    *
    * The fit is eager and scoped, so `fdf` is cached for exactly its
    * duration: the emptiness guard, both indexer fits and RF's
    * metadata, split and bagging passes each run an action over it,
    * and uncached each would re-execute aux ⋈ segments from Parquet.
    * The cache is released before returning on every path. */
  def train(fdf: DataFrame, numTrees: Int = 500): Option[PipelineModel] = {
    val cached = fdf.persist(StorageLevel.MEMORY_AND_DISK)
    try if (cached.isEmpty) None else Some(pipeline(numTrees).fit(cached))
    finally cached.unpersist()
  }

  /** model.transform → keyed raw predictions (reference
    * ccdc/randomforest.py:90-103). */
  def classify(model: PipelineModel, fdf: DataFrame): DataFrame =
    model.transform(fdf)
      .select("cx", "cy", "px", "py", "sday", "eday", "rawPrediction")
      .withColumnRenamed("rawPrediction", "rfrawp")

  /** Vector → plain float array + chipx/chipy/pixelx/pixely renames
    * (reference dedensify, ccdc/randomforest.py:106-123 — an RDD
    * round-trip there; a single codegen'd projection here). */
  def dedensify(classified: DataFrame): DataFrame =
    classified.select(
      col("cx").as("chipx"), col("cy").as("chipy"),
      col("px").as("pixelx"), col("py").as("pixely"),
      col("sday"), col("eday"),
      vector_to_array(col("rfrawp")).cast("array<float>").as("rfrawp"))
}
