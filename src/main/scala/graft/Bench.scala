package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session(cpus)
    // Warmup: touch every table (parquet footers, scan codegen, JIT)
    // and run one cheap query so first-query session overhead isn't
    // attributed to whichever query the map yields first.
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => }
    }
    try SparkEntry.queries("q12_case_when")(spark, sfDir).count()
    catch { case _: Throwable => }
    // Deterministic sorted order (not map-hash order) and best-of-2 per
    // query, so a one-off GC/compaction burst can't brand a single query
    // 10× slow. A failed query reports -1 (never a partial elapsed time)
    // so a breakage can't masquerade as a timing improvement; total sums
    // successful queries only.
    val n = 2
    // Honest-window mode (SPARK_GRAFT_BENCH_FULL=1): the default
    // times fn(...).count(), and ColumnPruning drops TRAILING window/
    // projection operators whose outputs count() never reads (t14/
    // t18/q25/q27 partially measure their frontier) — consistent
    // across rounds AND the anchor, so default ratios stay
    // apples-to-apples. Full mode instead folds EVERY output column
    // through xxhash64 into one sum, so nothing prunes and the
    // window costs become measured numbers; it writes its record to
    // bench/last_full.json so the canonical default artifact is
    // never clobbered by a full-mode run. Known limit: xxhash64
    // rejects MAP-typed columns, so a future map-emitting query would
    // break in full mode only (none of the registered queries emit
    // one). collect() on the single global-fold row forces the hash
    // unambiguously — count() would leave the fold prunable in
    // theory. The fold is BIT_XOR, not SUM: summing uniform 64-bit
    // hashes overflows almost immediately, and under ANSI mode
    // (Spark 4's default) that is an ARITHMETIC_OVERFLOW error, not a
    // wrap — XOR is order-free and cannot overflow. XOR alone cancels
    // even multiplicities (duplicating every row leaves it fixed), so
    // the fold pairs it with count(*) — multiplicity changes move the
    // count even when they cannot move the xor.
    val full = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      if (full) {
        import org.apache.spark.sql.functions.{col, expr, xxhash64}
        df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
          .agg(expr("bit_xor(h)"), expr("count(*)")).collect()
      } else df.count()
    // Jobs the timed passes launch (the warmup's are not counted).
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        try { evaluate(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val mode = if (full) ",\"mode\":\"full\"" else ""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n":$n$mode,"sf":"$sfDir"}"""
    // Land the JSON line as files FIRST, then print it: the one-line
    // JSON is ~7 KB at 162 queries, so a truncated stdout tail can
    // never recover it (VERDICT r17 #1b) — the machine-readable record
    // must never depend on tail capture (VERDICT r4 #3). Two files per run: the historical mode file
    // (last.json / last_full.json) AND a per-core-count file
    // (last_c<cpus>.json), so the driver's second invocation at a
    // lower core count stops clobbering the 32-core record (VERDICT
    // r17 "Next round" #2). Best-effort — a read-only CWD must not
    // fail the bench itself.
    val dir = java.nio.file.Paths.get("bench")
    var target = dir // the path the failure message names
    try {
      java.nio.file.Files.createDirectories(dir)
      target = dir.resolve(if (full) "last_full.json" else "last.json")
      java.nio.file.Files.writeString(target, line + "\n")
      target = dir.resolve(if (full) s"last_full_c$cpus.json" else s"last_c$cpus.json")
      java.nio.file.Files.writeString(target, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $target: ${e.getMessage}")
    }
    println(line)
    // stop() drains the listener bus, so the job count below is whole.
    spark.stop()
    // The last stdout line: a summary short enough for any tail capture
    // (the full line above is ~7 KB) — total, failures, per-family
    // subtotals by query-name prefix, and the timed passes' job count.
    val families = results.filter(_._2 >= 0).groupBy(_._1.take(1)).toSeq
      .sortBy(_._1).map { case (f, rs) => s""""$f":${rs.map(_._2).sum}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""failed":${results.count(_._2 < 0)},"families":$families,""" +
      s""""jobs":${jobs.get},"n":$n$mode,"sf":"$sfDir"}""")
  }
}
