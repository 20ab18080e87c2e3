package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.Base64
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.util.GraftMlBridge
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ccd.CcdOps
import graft.ml.{Features, Rf}
import graft.sources.Sink
import graft.types.{AuxRow, TileRec}

/** The `classification` product pipeline (reference entry
  * ccdc/cli.py:51-74 → ccdc/core.py:156-251): train a land-cover RF on
  * the 3×3 tile neighborhood, then classify the tile's segments.
  *
  * The reference's apply/save stages were present but commented out
  * (ccdc/core.py:190-240); here both halves are live (SURVEY.md §3.2
  * counts the capability).
  */
object Classification {

  /** Restrict every aux pixel series to observations inside an ISO8601
    * `acquired` range "start/end" — the classification verb's -a flag
    * (reference ccdc/cli.py:62 threads it into the timeseries.aux
    * fetch, ccdc/core.py:127-153). Trimming the parallel arrays first
    * means `trends[0]` is the first observation INSIDE the window,
    * exactly what the reference's bounded fetch produced. Pixels left
    * with no observations drop out. */
  def acquiredWindow(aux: Dataset[AuxRow], acquired: String): Dataset[AuxRow] = {
    val spark = aux.sparkSession
    import spark.implicits._
    val (lo, hi) = CcdOps.acquiredRange(acquired)
    aux.map { r =>
      val keep = r.dates.zipWithIndex.collect {
        case (d, i) if d >= lo && d <= hi => i
      }
      def int(xs: Seq[Int]): Seq[Int] = keep.map(xs)
      def flt(xs: Option[Seq[Float]]): Option[Seq[Float]] = xs.map(keep.map(_))
      r.copy(dates = int(r.dates), dem = flt(r.dem), trends = int(r.trends),
        aspect = r.aspect.map(keep.map(_)), posidex = flt(r.posidex),
        slope = flt(r.slope), mpw = r.mpw.map(keep.map(_)))
    }.filter(_.dates.nonEmpty)
  }

  /** Training-segment window filter. Segment days are ISO strings for
    * schema parity; bounds arrive as ordinals and are formatted to ISO
    * for the compare — lexicographic order == chronological order for
    * ISO dates, which avoids the reference's latent string-vs-int
    * comparison (ccdc/randomforest.py:69; SURVEY.md §7.4.2). */
  def windowFilter(segments: DataFrame, msday: Int, meday: Int): DataFrame =
    segments.filter(col("sday") >= CcdOps.ordinalToIso(msday) &&
      col("eday") <= CcdOps.ordinalToIso(meday))

  /** Train: aux (label rasters) + segments → features → RF model.
    * Reference: ccdc/randomforest.py:42-87. */
  def train(aux: Dataset[AuxRow], segments: DataFrame,
      msday: Int, meday: Int, numTrees: Int = 500): Option[PipelineModel] = {
    val usable = aux
      .filter(!element_at(col("trends"), 1).isin(0, 9)) // ccdc/randomforest.py:64
      .toDF()
    val windowed = windowFilter(segments, msday, meday)
    val fdf = Features.dataframe(usable, windowed)
    Rf.train(fdf, numTrees)
  }

  /** Tile-level training entry (reference ccdc/core.py:156-189 via
    * grid.training, ccdc/grid.py:69-89): training data = the 3×3 tile
    * neighborhood's chips. Both inputs are scoped with a broadcast
    * semi-join on the chip ids — geometry-driven partition pruning. */
  def trainForTile(spark: SparkSession, aux: Dataset[AuxRow],
      segments: DataFrame, x: Double, y: Double, msday: Int, meday: Int,
      numTrees: Int = 500): Option[PipelineModel] = {
    import spark.implicits._
    val chipIds = broadcast(
      graft.grid.Grid.trainingChips(x, y).toDF("cx", "cy"))
    val auxScoped = aux.join(chipIds, Seq("cx", "cy"), "left_semi")
      .as[AuxRow]
    val segScoped = segments.join(chipIds, Seq("cx", "cy"), "left_semi")
    train(auxScoped, segScoped, msday, meday, numTrees)
  }

  /** Tile-level classification entry (reference ccdc/core.py:190-240,
    * completed): classify exactly the containing tile's chips. */
  def classifyTile(model: PipelineModel, aux: Dataset[AuxRow],
      segments: DataFrame, x: Double, y: Double): DataFrame = {
    val spark = aux.sparkSession
    import spark.implicits._
    val chipIds = broadcast(
      graft.grid.Grid.classificationChips(x, y).toDF("cx", "cy"))
    classify(model,
      aux.join(chipIds, Seq("cx", "cy"), "left_semi").as[AuxRow],
      segments.join(chipIds, Seq("cx", "cy"), "left_semi"))
  }

  /** Persist a tile's trained model (reference: tile records,
    * ccdc/tile.py:16-43 + the driver-side write at ccdc/core.py:222-230
    * — S8's single-row literal source + S6 typed sink). The row carries
    * the model itself, as the reference's did: `model` is the fitted
    * pipeline in spark.ml's own directory format, written without a
    * Spark job (see [[modelBlob]]), so the tile lands in one write.
    * Dynamic partition overwrite on the full (tx, ty, name) identity
    * gives the per-key last-write-wins upsert the reference's CQL PK
    * provided — saving tile B must not erase tile A's record. */
  def saveTile(spark: SparkSession, model: PipelineModel, tx: Int, ty: Int,
      name: String, updated: String, outDir: String): Unit = {
    import spark.implicits._
    Seq(TileRec(tx, ty, name, modelBlob(model), updated)).toDF()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("tx", "ty", "name")
      .parquet(s"$outDir/tile")
  }

  /** Load a tile's model back (round-trip of saveTile): the keyed read
    * of its row, then the blob decoded. A row whose `model` is not a
    * blob fails naming the tile and the model. */
  def loadTile(spark: SparkSession, outDir: String, tx: Int, ty: Int,
      name: String): Option[PipelineModel] = {
    import spark.implicits._
    val ids = Seq((tx, ty)).toDF("tx", "ty")
    Sink.readKeyed(spark, s"$outDir/tile", ids, Seq("tx", "ty"))
      .filter(col("name") === name)
      .collect().headOption
      .map { r =>
        try modelOf(r.getAs[String]("model"))
        catch { case NonFatal(e) => throw new IllegalStateException(
          s"tile ($tx, $ty) model '$name': not a model blob", e) }
      }
  }

  /** The fitted pipeline as one string: spark.ml's own writer saves it
    * to a temp directory in local saving mode (plain files, no Spark
    * job), and the directory is zipped — entries in sorted order with a
    * fixed entry time and save stamps zeroed, so equal models give
    * equal blobs — and base64-encoded (the reference's tile blob is a
    * `StringType`). Java serialization of a `PipelineModel` does not
    * round-trip. */
  private def modelBlob(model: PipelineModel): String =
    withTempDir { root =>
      GraftMlBridge.localSaving(model.write.save(root.toString))
      val files = Using.resource(Files.walk(root))(
        _.iterator.asScala.filter(Files.isRegularFile(_)).toVector)
        .map(p => root.relativize(p).iterator.asScala.mkString("/") -> p)
        .sortBy(_._1)
      val bytes = new ByteArrayOutputStream
      Using.resource(new ZipOutputStream(bytes)) { zip =>
        files.foreach { case (entry, p) =>
          val e = new ZipEntry(entry)
          e.setTimeLocal(LocalDateTime.of(1980, 1, 1, 0, 0))
          zip.putNextEntry(e)
          zip.write(zeroStamps(Files.readAllBytes(p)))
          zip.closeEntry()
        }
      }
      Base64.getEncoder.encodeToString(bytes.toByteArray)
    }

  /** spark.ml stamps each metadata record, the trees' too, with the
    * time of the save, and gives each fitted tree a random uid. Both
    * are zeroed in place, the stamp padded with JSON whitespace, so the
    * length that prefixes a record in the binary array files stays the
    * same. */
  private def zeroStamps(bytes: Array[Byte]): Array[Byte] = {
    val uids = """("uid":"\w+_)[0-9a-f]{12}"""".r.replaceAllIn(
      new String(bytes, ISO_8859_1), m => m.group(1) + "0" * 12 + "\"")
    """"timestamp":(\d+)""".r.replaceAllIn(uids,
      m => "\"timestamp\":0" + " " * (m.group(1).length - 1)).getBytes(ISO_8859_1)
  }

  /** Inverse of [[modelBlob]]: unzip into a temp directory and load it
    * with spark.ml's reader in local saving mode. */
  private def modelOf(blob: String): PipelineModel =
    withTempDir { root =>
      val zip = new ZipInputStream(
        new ByteArrayInputStream(Base64.getDecoder.decode(blob)))
      val entries = Using.resource(zip) { z =>
        Iterator.continually(z.getNextEntry).takeWhile(_ != null).map { e =>
          val p = root.resolve(e.getName).normalize()
          require(p.startsWith(root), s"entry ${e.getName} leaves the model")
          Files.createDirectories(p.getParent)
          Files.copy(z, p)
        }.size
      }
      require(entries > 0, "no zip entries")
      GraftMlBridge.localSaving(PipelineModel.load(root.toString))
    }

  /** `f` over a fresh directory (not yet created) inside a temp
    * directory that is deleted afterwards on every path. */
  private def withTempDir[T](f: Path => T): T = {
    val tmp = Files.createTempDirectory("graft-model")
    try f(tmp.resolve("model"))
    finally Using.resource(Files.walk(tmp))(
      _.iterator.asScala.toVector.reverse.foreach(Files.delete))
  }

  /** Classify: segments (sday/eday ≥ epoch guard, reference
    * ccdc/core.py:200) + aux → features → predictions, dedensified.
    * The reference joined predictions back onto their segments (J4,
    * ccdc/segment.py:103-116); here every prediction row already
    * carries its segment row's six keys, so that join could only
    * repeat rows that the product write's dedup then drops. */
  def classify(model: PipelineModel, aux: Dataset[AuxRow],
      segments: DataFrame): DataFrame = {
    // Strict: excludes the empty-default placeholder segments
    // (sday=eday=0001-01-01, all model fields null — ccdc/pyccd.py:99-103),
    // which would otherwise classify on all-zero features.
    val eligible = segments.filter(
      col("sday") > CcdOps.ordinalToIso(1) && col("eday") > CcdOps.ordinalToIso(1))
    val fdf = Features.dataframe(aux.toDF(), eligible)
    Rf.dedensify(Rf.classify(model, fdf))
  }
}
