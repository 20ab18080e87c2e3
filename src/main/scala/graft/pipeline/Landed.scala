package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.Sink

/** A verb's product write that also reports how many rows it carried.
  *
  * The count is an `Observation` on the frame being written, filled by
  * the write job itself — a separate `count()` would re-run the frame's
  * whole plan (shuffles included) once more per product. It counts the
  * frame THIS batch lands, never the output table, which under the
  * sink's per-chip upsert may also hold other tiles' partitions.
  * Verb-local on purpose: [[Sink.write]] is shared with the store
  * queries, which have no use for the count. */
private[graft] object Landed {

  def write(df: DataFrame, path: String, pk: Seq[String],
      partitionCols: Seq[String]): Long = {
    val rows = Observation()
    Sink.write(df.observe(rows, count(lit(1)).as("rows")), path, pk,
      partitionCols)
    rows.get("rows").asInstanceOf[Long]
  }
}
