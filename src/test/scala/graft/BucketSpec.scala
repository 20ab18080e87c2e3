package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.ExactSearch
import graft.sources.Sink

class BucketSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Run `body` with broadcast joins off, so a sort-merge plan is the
    * only alternative to a shuffle and the bucketing claim is provable
    * (a broadcast join contains no Exchange hashpartitioning either,
    * which would make the assertions vacuous). */
  private def withoutBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("co-bucketed tables join without any exchange") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Sink.writeBucketed(li, "li_b", 8, Seq("l_orderkey"))
    Sink.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_b", 8, Seq("l_orderkey"))
    withoutBroadcast {
      val joined = spark.table("li_b").join(spark.table("o_b"), Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan must actually use the bucket layout:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() ==
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
    }
  }

  test("fingerprint-bucketed corpus dedups without any exchange") {
    // The 100 TB ingest story for d01: land documents with their
    // normalized-text fingerprint as a bucketed column, and every
    // recurring exact-dedup groupBy(fp) reads the bucket layout
    // instead of shuffling the corpus — dedup becomes a map-side
    // aggregate over co-located buckets.
    val docs = Tables(spark, sf, "documents").select(col("doc_id"),
      md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
    Sink.writeBucketed(docs, "docs_fp_b", 8, Seq("fp"))
    val deduped = spark.table("docs_fp_b")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    val plan = deduped.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"scan must use the bucket layout:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"dedup over the bucketed corpus must not shuffle:\n$plan")
    assert(deduped.count() == docs.select(col("fp")).distinct().count())
  }

  test("bucketed product tables: segment join pixel runs with zero exchange") {
    // The J4-shaped product join (segment rows ⋈ per-pixel masks on the
    // pixel key) over tables landed with Sink.writeBucketed — the
    // co-location the reference's Cassandra partition keys provided,
    // visible to Catalyst: neither side shuffles, at any scale.
    import spark.implicits._
    val segments = ccd.CcdOps.detect(SyntheticArd(spark, 8))
    val segs = ccd.CcdOps.segmentRecords(segments)
    val pix = ccd.CcdOps.pixelRecords(segments).toDF()
      .selectExpr("cx", "cy", "px", "py", "size(mask) as n_mask")
    val keys = Seq("cx", "cy", "px", "py")
    Sink.writeBucketed(segs, "seg_b", 4, keys)
    Sink.writeBucketed(pix, "pix_b", 4, keys)
    withoutBroadcast {
      val joined = spark.table("seg_b").join(spark.table("pix_b"), keys)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan must actually use the bucket layout:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed product join must not shuffle:\n$plan")
      assert(joined.count() == segs.count(),
        "every segment row must find its pixel mask row")
    }
  }

  test("int8 quantization round-trips within scale/2 and preserves NN ranking") {
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val deq = ExactSearch.dequantize(ExactSearch.quantize(e, "v"), "v")
    val err = e.as("a").join(deq.as("b"), Seq("vec_id"))
      .select(aggregate(zip_with(col("a.v"), col("b.v"),
        (x, y) => abs(x - y)), lit(0.0),
        (acc, x) => greatest(acc, x)).as("maxerr"))
      .agg(max("maxerr")).head().getDouble(0)
    // range ~[-0.3, 0.3] → scale ~0.6/255 → error bound ~0.0012
    assert(err < 0.01, s"quantization error too large: $err")
    // top-1 neighbor of vec 0 unchanged under quantization
    def nn1(df: org.apache.spark.sql.DataFrame): Long = {
      val q = df.filter(col("vec_id") === 0).select(col("v").as("qv"))
      df.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id"),
          graft.functions.CosineSimilarity.cosineSim(col("qv"), col("v")).as("c"))
        .orderBy(col("c").desc, col("vec_id").asc).head().getLong(0)
    }
    assert(nn1(e) == nn1(deq), "top-1 neighbor should survive int8 quantization")
  }
}
