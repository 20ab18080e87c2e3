package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Session(cpus = 4)
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query has an oracle or is explicitly rows-only") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("all queries run and are non-empty at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("q01 aggregates are exact-decimal stable") {
    val df = fnRun("q01_pricing_summary")
    val row = df.filter(df("l_returnflag") === "A").collect()
    assert(row.nonEmpty)
    // decimal-exact sums come back as clean 2-dp doubles
    val sumQty = row.head.getAs[Double]("sum_qty")
    assert((sumQty * 100).round / 100.0 == sumQty)
  }

  test("q06 topk returns exactly 10 descending") {
    val rows = fnRun("q06_topk").collect().map(_.getAs[Double]("o_totalprice"))
    assert(rows.length == 10)
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
  }

  test("groupedGather keeps suppliers as a sorted array<string> (library shape)") {
    // q09 only exercises the concat_ws wrapper; pin the first-class
    // array-returning schema the Scaladoc promises (ADVICE r2).
    val df = ops.Relational.groupedGather(
      Tables(spark, sf, "supplier"), Tables(spark, sf, "nation"))
    val supField = df.schema("suppliers").dataType
    assert(supField ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false),
      s"suppliers must stay array<string>, got $supField")
    val row = df.orderBy("n_name").head()
    val sups = row.getAs[scala.collection.Seq[String]]("suppliers")
    assert(sups == sups.sorted, "suppliers array must be sorted ascending")
    assert(row.getAs[Long]("n_sup") == sups.length)
  }

  test("q10 window rank bounded at 3 per customer") {
    val df = fnRun("q10_window_rank")
    val maxRn = df.agg(org.apache.spark.sql.functions.max("rn")).head.getInt(0)
    assert(maxRn <= 3)
  }

  test("q23 cube emits all four grouping-set levels with consistent totals") {
    import org.apache.spark.sql.functions._
    val rows = fnRun("q23_cube").collect()
    val byGid = rows.groupBy(_.getAs[Int]("gid"))
    assert(byGid.keySet == Set(0, 1, 2, 3), s"got gids ${byGid.keySet}")
    assert(byGid(3).length == 1, "exactly one grand-total row")
    val grand = byGid(3).head.getAs[Long]("n")
    assert(byGid(1).map(_.getAs[Long]("n")).sum == grand, "flag marginals sum to total")
    assert(byGid(2).map(_.getAs[Long]("n")).sum == grand, "status marginals sum to total")
    assert(byGid(0).map(_.getAs[Long]("n")).sum == grand, "cells sum to total")
  }

  test("q25 running total is monotone per customer and ends at the customer sum") {
    import org.apache.spark.sql.functions._
    val rows = fnRun("q25_running_total").collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    rows.values.foreach { g =>
      val ordered = g.sortBy(_.getAs[Int]("nth_order"))
      assert(ordered.map(_.getAs[Int]("nth_order")).sameElements(1 to g.length))
      val runs = ordered.map(_.getAs[Double]("running_spend"))
      assert(runs.zip(runs.tail).forall { case (a, b) => b >= a },
        "running spend must be nondecreasing (prices are positive)")
    }
  }

  test("q24 pivot columns partition each flag's quantity exactly") {
    import org.apache.spark.sql.functions._
    val pivoted = fnRun("q24_pivot").collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("qty_f") + r.getAs[Double]("qty_o"))).toMap
    val direct = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("tot"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("tot")).toMap
    assert(pivoted.keySet == direct.keySet)
    // exact: both sides are decimal-accumulated before the one cast to double
    pivoted.foreach { case (k, v) => assert(v == direct(k), s"$k: $v != ${direct(k)}") }
  }

  private def fnRun(name: String) = SparkEntry.queries(name)(spark, sf)
}
