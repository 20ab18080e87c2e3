package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ccd.Ccd
import graft.functions.{CosineSimilarity, RpProject, SqDistLong, TopKAgg}

/** Layer probes of the traced run, timed by the harness outside the
  * passes:
  *   - `scan_s`: a full-column scan of every input through [[Tables]]
  *   - `kernel_us_per_pixel`: the public `Ccd.detect` on one thread
  *     over a fixed sample of the workload's generated series
  *   - `<kernel>_ns_per_row`: each native expression of
  *     `graft.functions` as a projection over the generated inputs
  */
object Probes {

  val KernelSample = 64
  val KernelRows = 200000

  def apply(spark: SparkSession, workload: String, data: String,
      tracer: Tracer): Map[String, Any] = {
    tracer.on = true
    tracer.newTrace()
    try tracer.span("probes") {
      val scan = tracer.span("sources.scan")(scanAll(spark, data))
      val tables = Harness.inputs(data).map(p => new File(p).getName)
      val kernels: Map[String, Double] = tracer.span("functions") {
        val corpus = if (tables.contains("documents.parquet")) corpusKernels(spark, data)
          else Map.empty[String, Double]
        val vectors = if (tables.contains("embeddings.parquet")) vectorKernels(spark, data)
          else Map.empty[String, Double]
        corpus ++ vectors
      }
      val ccd = if (workload == "ccdc_tile")
        Map("kernel_us_per_pixel" -> tracer.span("ccd.detect")(ccdKernel(Harness.ardGen(data))))
      else Map.empty
      Map("scan_s" -> scan, "functions" -> kernels) ++ ccd
    } finally tracer.on = false
  }

  private def seconds[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Every column of every input folded through xxhash64, so no column
    * is pruned from the scan. */
  def scanAll(spark: SparkSession, data: String): Double =
    Harness.inputs(data).map { path =>
      val name = new File(path).getName.stripSuffix(".parquet")
      seconds {
        val df = if (Tables.names.contains(name)) Tables(spark, data, name)
          else spark.read.parquet(path)
        df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).collect()
      }
    }.sum

  def ccdKernel(g: ArdGen): Double = {
    val rows = (0 until KernelSample).map(p => g.ardRow(p.toLong))
    val inputs = rows.map { r =>
      (r.dates.toArray, Array(r.blues, r.greens, r.reds, r.nirs, r.swir1s,
        r.swir2s, r.thermals).map(_.toArray), r.qas.toArray)
    }
    val runs = (0 until 3).map { _ =>
      seconds(inputs.foreach { case (d, b, q) => Ccd.detect(d, b, q) })
    }
    runs.sorted.apply(1) * 1e6 / KernelSample
  }

  /** ns per row of `kernel` over `df` (cached, `KernelRows` rows): the
    * median of three timed folds. */
  private def perRow(df: DataFrame, kernel: Column, agg: Boolean = false): Double = {
    val n = df.count().toDouble
    val runs = (0 until 3).map { _ =>
      seconds {
        if (agg) df.groupBy(col("label")).agg(kernel.as("k")).collect()
        else df.select(kernel.as("k")).agg(count(col("k"))).collect()
      }
    }
    runs.sorted.apply(1) * 1e9 / n
  }

  private def replicate(df: DataFrame): DataFrame = {
    val n = df.count().max(1L)
    val copies = math.max(1L, KernelRows / n)
    val out = df.crossJoin(df.sparkSession.range(copies).withColumnRenamed("id", "copy"))
      .drop("copy").cache()
    out.count()
    out
  }

  def corpusKernels(spark: SparkSession, data: String): Map[String, Double] = {
    val sets = replicate(graft.ext.Dedup.minhashSets(spark, data).select(col("xs")))
    try Map("minhash_all" -> perRow(sets, graft.ext.Dedup.minhashAllCol(col("xs"))))
    finally sets.unpersist()
  }

  def vectorKernels(spark: SparkSession, data: String): Map[String, Double] = {
    val emb = Tables(spark, data, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val q = emb.orderBy(col("vec_id")).limit(1).collect().head.getSeq[Double](2)
    val qv = typedLit(q)
    val qi = typedLit(q.map(x => math.round(x * 1000)))
    val df = replicate(emb.withColumn("vi",
      transform(col("v"), x => (x * 1000).cast("bigint").cast("long"))))
    try Map(
      "rp_project" -> perRow(df, RpProject.rpProject(col("v"))),
      "cosine_sim" -> perRow(df, CosineSimilarity.cosineSim(col("v"), qv)),
      "sq_dist_long" -> perRow(df, SqDistLong.sqDist(col("vi"), qi)),
      "top_k" -> perRow(df, TopKAgg.topK(
        struct(CosineSimilarity.cosineSim(col("v"), qv).as("s"), col("vec_id")), 10),
        agg = true))
    finally df.unpersist()
  }
}
