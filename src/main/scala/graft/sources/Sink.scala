package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Parquet storage layer — the swap for the reference's Cassandra
  * tables (reference ccdc/cassandra.py:30-63; SURVEY.md S4-S7).
  *
  * The reference relied on CQL primary keys for last-write-wins upsert
  * (resources/schema.cql:142); Parquet has no PK, so writes
  * `dropDuplicates` on the product key before landing (SURVEY.md
  * §7.4.4). Reads restricted to an id set are expressed as joins the
  * optimizer turns into broadcast semi-joins — the same shape the
  * reference built by hand (ccdc/chip.py:39-51).
  */
object Sink {

  /** Schema-conforming write (reference S5/S6), with the reference's
    * per-key last-write-wins upsert when `partitionCols` is given.
    *
    * The reference's Cassandra PK (chip-keyed, schema.cql:142) upserted
    * per row; Parquet's unit of replacement is a partition directory,
    * so the upsert granularity here is the `partitionCols` key prefix:
    * with `partitionOverwriteMode=dynamic`, a batch replaces exactly
    * the partitions it contains rows for and leaves every other key's
    * data untouched. Callers must send whole key-groups per batch
    * (a tile run always carries complete chips, so chip-prefix
    * partitioning reproduces the reference's chip-level upsert).
    *
    * With `partitionCols` empty the write is a FULL REFRESH of `path`
    * — a second batch erases rows not in it. Use that only for
    * tables rebuilt wholesale.
    *
    * A full refresh deletes `path` before its job starts, so a `df`
    * that reads files under `path` is materialized first (SourcesSpec
    * "a write that reads its own path lands the rows it read"). A
    * dynamic partition overwrite needs no such guard: Spark stages its
    * output and replaces the touched partitions only at job commit,
    * after every task has read its input, so an upsert may merge a
    * batch into the stored rows of the partitions it touches straight
    * from the store (SourcesSpec "a partitioned upsert that reads its
    * own partition runs no checkpoint").
    */
  def write(df: DataFrame, path: String, pk: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    val src =
      if (partitionCols.isEmpty && readsUnder(df, path)) graft.ops.Subplan.once(df)
      else df
    val deduped = if (pk.nonEmpty) src.dropDuplicates(pk) else src
    if (partitionCols.nonEmpty)
      deduped.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*)
        .parquet(path)
    else deduped.write.mode("overwrite").parquet(path)
  }

  /** Whether any input file of `df` lies under `path`, compared as
    * qualified Hadoop paths. */
  private def readsUnder(df: DataFrame, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val dir = fs.makeQualified(new Path(path))
    df.inputFiles.exists(f => Iterator.iterate(fs.makeQualified(new Path(f)))(_.getParent)
      .takeWhile(_ != null).contains(dir))
  }

  /** Bucketed managed-table write (SURVEY.md §7.4.5: product tables
    * bucketed by chip key). A join between two tables bucketed the
    * same way on the same keys runs with NO exchange on either side —
    * the co-location the reference's Cassandra partition keys gave it,
    * but visible to Catalyst. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], pk: Seq[String] = Nil): Unit = {
    // Unqualified current-database names only: the orphan cleanup below
    // derives the managed location from the table name, which is wrong
    // for `db.table` qualified names (location $warehouse/db.db/table).
    require(!table.contains("."),
      s"writeBucketed takes an unqualified table name, got '$table'")
    val spark = df.sparkSession
    // Check BEFORE dropping: if the catalog tracked the table, DROP
    // handles its data per managed/external semantics and we must not
    // touch the directory ourselves. Only when the catalog never knew
    // the table is a leftover warehouse directory an orphan (previous
    // session died between write and metadata) that we may clear.
    val existed = spark.catalog.tableExists(table)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (!existed) {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(
        s"$warehouse/${table.toLowerCase(java.util.Locale.ROOT)}")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val deduped = if (pk.nonEmpty) df.dropDuplicates(pk) else df
    deduped.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Keyed read: scan restricted to the requested ids (reference S7 —
    * `ids.join(table, keys, "inner")`). `ids` is small (chip worklist),
    * so it broadcasts; left_semi when only restriction is wanted. */
  def readKeyed(spark: SparkSession, path: String, ids: DataFrame,
      keys: Seq[String]): DataFrame =
    spark.read.parquet(path).join(broadcast(ids), keys, "left_semi")
}
