package graft

/** Plan-audit utility: print the formatted physical plan of one (or
  * every) registered query. Usage:
  *
  *   runMain graft.Explain <sfDir> [queryName]
  *
  * This is how PLANS.md entries are produced; keeping it a main means
  * the audit loop ("is this still the plan I'd want at 100 TB?") is one
  * command, not a test-failure printout. The plans come from the
  * bench's session config ([[Session]]: `local[cpus]`, shuffle
  * partitions = cpus, AQE on), so they are the plans `Bench` runs at
  * the same `SPARK_GRAFT_CPUS`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session()
    val names = args.drop(1) match {
      case Array() => SparkEntry.queries.keys.toSeq.sorted
      case more    => more.toSeq
    }
    try names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(q) =>
          println(s"==== $n ====")
          q(spark, sfDir).explain("formatted")
        case None =>
          System.err.println(s"unknown query '$n'; valid names:\n  " +
            SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      }
    } finally spark.stop()
  }
}
