package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table catalog over a driver-provided scale-factor directory
  * (see /root/repo/TESTDATA.md). The storage swap for the reference's
  * Cassandra reads (reference: ccdc/cassandra.py:30-42 → SURVEY.md S4):
  * columnar Parquet gives us predicate pushdown + column pruning for free,
  * which the reference's DSV1 Cassandra scan only partially had.
  *
  * At 100 TB these reads become multi-file partitioned datasets; nothing
  * here assumes a single file — `spark.read.parquet(dir)` handles both.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts arrives in whatever physical shape the generator chose
    // for that fixture: TIMESTAMP(NANOS) — which Spark 4 only reads as
    // a long (spark.sql.legacy.parquet.nanosAsLong) — or naive
    // TIMESTAMP(MICROS), which Spark infers as TIMESTAMP_NTZ. Both
    // normalize to ONE engine-facing type, session-tz TIMESTAMP
    // ([[Session]] sets nanosAsLong and pins the session tz to UTC
    // for every main and the specs), so every
    // downstream unix_micros/window/watermark sees identical values:
    // the nanos path truncates with exact integer `div` like DuckDB's
    // own ns→µs read; the NTZ cast reinterprets the wall-clock in UTC
    // exactly as DuckDB treats the same naive column.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) if name == "events" =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) if name == "events" =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
