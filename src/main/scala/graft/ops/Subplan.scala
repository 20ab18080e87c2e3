package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Shared-subplan materialization for DAG-shaped queries.
  *
  * Spark plans are trees: a DataFrame referenced N times in one query
  * is re-evaluated N times — exchange reuse only deduplicates
  * *identical* exchange subtrees, which distinct projections or AQE
  * broadcast conversion break. The dedup/near-dup queries (d02, d03,
  * d05) reference their gathered per-doc sets 4–8 times, and round 3's
  * bench showed exactly that: the corpus-wide tokenize/explode/shuffle
  * — the widest stage of the whole engine — ran 8× per d02 invocation
  * (16 parquet scans of `documents`).
  *
  * [[once]] cuts the DAG at the small, per-document frontier: an EAGER
  * `localCheckpoint` runs the shared pipeline exactly one time and
  * pins its result (one row per doc, ~50 longs — orders of magnitude
  * smaller than the exploded shingles it replaces) in the block
  * manager at MEMORY_AND_DISK. Every downstream reference reads the
  * checkpointed partitions; the final plan's leaves are `ExistingRDD`,
  * zero parquet re-scans (PlanSpec pins this).
  *
  * A checkpoint needs two readers. One eager job and one block-manager
  * copy buy nothing when a single plan reads the result: that plan
  * could compute the rows itself. So a frame is checkpointed where it
  * is read at least twice, by the caller that reuses it, and a loop
  * checkpoints each round's input — which the round reads again —
  * not its output, so the final round stays lazy for whoever reads
  * it. PlanSpec's checkpoint census fails on any checkpoint a
  * registered query makes that is read fewer than twice;
  * `Sink.write`'s guard against overwriting the files it reads is
  * its only exemption.
  *
  * Lifecycle: unlike `Dataset.persist` — whose CacheManager entry
  * holds the plan strongly and therefore pins executor storage until
  * an explicit `unpersist` that a lazily-returned plan can never issue
  * — a localCheckpoint's backing RDD is released by Spark's
  * ContextCleaner as soon as the returned DataFrame becomes
  * unreachable and the driver GCs. Callers just drop the reference.
  *
  * At 1000-executor scale: localCheckpoint trades lineage for speed —
  * a lost executor loses its slice and fails the job rather than
  * recomputing. For a multi-hour 100 TB run swap [[once]] for a
  * reliable `checkpoint()` to the cluster FS; the query topology is
  * unchanged.
  */
object Subplan {

  /** Evaluate `df` exactly once, now, and return a DataFrame whose
    * plan reads the materialized partitions instead of re-deriving
    * them. A frame that already IS a checkpoint comes back unchanged —
    * a second checkpoint would only copy the same rows in one more
    * eager job. See object doc for lifecycle and failure semantics. */
  def once(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case r: LogicalRDD if r.rdd.isCheckpointed => df
    case _ => df.localCheckpoint()
  }
}
