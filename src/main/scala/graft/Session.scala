package graft

import org.apache.spark.sql.SparkSession

/** The one engine session: every main and the specs build theirs here,
  * so none can drift from the config the engine's answers depend on.
  *
  *   - `local[cpus]` with shuffle partitions = cpus
  *   - session time zone UTC and `spark.sql.legacy.parquet.nanosAsLong`:
  *     [[Tables]] normalizes `events.ts` to session-tz TIMESTAMP, and a
  *     TIMESTAMP(NANOS) fixture only reads (as a long) under nanosAsLong
  *   - AQE on, UI off, log level WARN
  *
  * SessionSpec fails if any other file builds a SparkSession.
  */
object Session {
  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** The core count the mains run at: `SPARK_GRAFT_CPUS`, else the
    * JVM's available processors. */
  def cpus: Int = parseCpus(sys.env.get(CpusVar))

  /** A value that is not a positive integer fails here, naming the
    * variable, rather than as a bare NumberFormatException or a
    * `local[abc]` master. */
  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CpusVar must be a positive integer, got '$s'"))
  }

  def apply(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
