package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression

/** SparkSessionExtensions hook exposing graft's native expressions to
  * SQL. Attach with the session builder's
  * `withExtensions(new GraftExtensions)` or with
  * `spark.sql.extensions=graft.functions.GraftExtensions`, after
  * which `SELECT cosine_sim(a, b)` parses anywhere SQL does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.cosineSimDescriptor)
    e.injectFunction(GraftExtensions.topKDescriptor)
    e.injectFunction(GraftExtensions.sortedIntersectCountDescriptor)
    e.injectFunction(GraftExtensions.sqDistLongDescriptor)
    e.injectFunction(GraftExtensions.nearestIdDescriptor)
    e.injectFunction(GraftExtensions.pqAdcDescriptor)
    e.injectFunction(GraftExtensions.qlog2Descriptor)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)))

  /** `top_k(struct_expr, k)` in SQL — k must be an integer literal
    * (it sizes the bounded heap at plan time). */
  val topKDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("top_k"),
    new ExpressionInfo(classOf[TopKAgg].getName, "top_k"),
    (children: Seq[Expression]) => children match {
      case Seq(e, Literal(k: Int, org.apache.spark.sql.types.IntegerType)) =>
        TopKAgg(e, k)
      case _ => throw new IllegalArgumentException(
        "top_k(expr, k) requires a literal integer k")
    })

  val sortedIntersectCountDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sorted_intersect_count"),
    new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
    (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1)))

  // The three integer-vector expressions document their edge behavior
  // in the usage string because it DIVERGES from the composable
  // zip_with/element_at folds they are otherwise bit-identical to:
  // those would yield NULL on a length mismatch / out-of-range code,
  // while these skip the excess elements — internal callers always
  // pass well-formed inputs, but an ad-hoc SQL user must not mistake
  // the truncated sum for the full one.
  val sqDistLongDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sq_dist_long"),
    new ExpressionInfo(classOf[SqDistLong].getName, null, "sq_dist_long",
      "sq_dist_long(x, y) - exact int64 squared L2 distance between two " +
        "array<bigint>. If the arrays differ in length, the excess " +
        "elements of the longer one are IGNORED (the equivalent " +
        "aggregate(zip_with(...)) fold would return NULL instead).", ""),
    (children: Seq[Expression]) => SqDistLong(children(0), children(1)))

  val nearestIdDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nearest_id"),
    new ExpressionInfo(classOf[NearestId].getName, null, "nearest_id",
      "nearest_id(x, cents) - cid of the centroid in " +
        "cents: array<struct<cid int, m array<bigint>>> nearest to " +
        "x: array<bigint> by exact int64 squared L2; ties break to the " +
        "lowest cid. Returns NULL on an empty centroid array; per-centroid " +
        "distances ignore excess elements on a length mismatch (see " +
        "sq_dist_long).", ""),
    (children: Seq[Expression]) => NearestId(children(0), children(1)))

  val pqAdcDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_adc"),
    new ExpressionInfo(classOf[PqAdcLookup].getName, null, "pq_adc",
      "pq_adc(codes, qt) - asymmetric-distance sum over " +
        "codes: array<int> and qt: array<array<bigint>>: " +
        "sum of qt[s][codes[s]] for each subspace s. Subspaces beyond " +
        "either array's length and out-of-range codes are SKIPPED " +
        "(the equivalent element_at fold would return NULL).", ""),
    (children: Seq[Expression]) => PqAdcLookup(children(0), children(1)))

  val qlog2Descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("qlog2"),
    new ExpressionInfo(classOf[QLog2].getName, null, "qlog2",
      "qlog2(x) - quantized fixed-point base-2 log of a positive bigint: " +
        s"~floor(2^${QLog2.FracBits} * log2(x)) by an exact integer " +
        "shift-square recurrence, bit-identical across engines (no " +
        "float ln). Returns NULL for x <= 0.", ""),
    (children: Seq[Expression]) => QLog2(children(0)))

  /** Imperative registration for an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Seq(cosineSimDescriptor, topKDescriptor, sortedIntersectCountDescriptor,
      sqDistLongDescriptor, nearestIdDescriptor, pqAdcDescriptor,
      qlog2Descriptor).foreach { d =>
      spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
    }
}
