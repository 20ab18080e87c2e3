package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional
  * trailing args restrict to named queries (dev loop: re-check two new
  * queries at sf1 without re-running the 40-minute exhaustive-oracle
  * family). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // A typo'd name silently matching nothing would produce an empty
    // dump that check.py passes vacuously — fail loudly instead.
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    // A restricted run whose names all lack oracleSql entries would dump
    // parquet that check.py then passes vacuously (no oracle rows to
    // compare) — the silent-green mode the unknown-name guard exists to
    // prevent. Warn per name; fail only if NOTHING in the set is checked.
    val unchecked = only -- SparkEntry.oracleSql.keySet
    unchecked.foreach(n => System.err.println(
      s"[verify] WARNING: $n has no oracleSql entry - the oracle compare will skip it"))
    require(only.isEmpty || (only -- unchecked).nonEmpty,
      s"none of the requested queries has an oracle - the compare would pass vacuously")
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
