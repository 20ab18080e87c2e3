package graft

import org.apache.spark.sql.SparkSession

import graft.grid.Grid
import graft.pipeline.{ChangeDetection, Classification, Landed}
import graft.types.{ArdRow, AuxRow}

/** The user-facing CLI — the reference's entire entry surface is these
  * two verbs (reference ccdc/cli.py:25-74; README.rst:17-24), mirrored
  * flag-for-flag:
  *
  * {{{
  * changedetection -x X -y Y [-a ISO/ISO] [-n NUMBER] [-c CHUNK]
  *                 --ard PATH --out PATH
  * classification  -x X -y Y -s MSDAY -e MEDAY [-a ISO/ISO]
  *                 --aux PATH --segments PATH --out PATH [--trees N]
  * }}}
  *
  * Deviations, by design: the reference resolved storage through a
  * Chipmunk HTTP service and Cassandra; here ARD/aux/segment tables are
  * explicit parquet paths (`--ard`/`--aux`/`--segments`/`--out`).
  * `-c chunk_size` is accepted and ignored — the reference chunked the
  * tile into driver-loop batches because every task fetched over HTTP;
  * this engine runs the whole tile as one declarative plan
  * (SURVEY.md §3.1), so there is nothing to chunk.
  */
object Cli {

  sealed trait Cmd
  final case class ChangeDetectionCmd(x: Double, y: Double, acquired: String,
      number: Int, ard: String, out: String) extends Cmd
  final case class ClassificationCmd(x: Double, y: Double, msday: Int,
      meday: Int, acquired: String, aux: String, segments: String,
      out: String, trees: Int) extends Cmd

  /** Reference default: full proleptic range up to today
    * (ccdc/core.py:41-50). */
  def defaultAcquired: String = "0001-01-01/" + java.time.LocalDate.now()

  private val usage =
    """usage:
      |  changedetection -x X -y Y [-a ISO/ISO] [-n NUMBER] [-c CHUNK] --ard PATH --out PATH
      |  classification  -x X -y Y -s MSDAY -e MEDAY [-a ISO/ISO] --aux PATH --segments PATH --out PATH [--trees N]
      |""".stripMargin

  private val cdFlags = Set("x", "y", "a", "acquired", "n", "number",
    "c", "chunk_size", "ard", "out")
  private val clFlags = Set("x", "y", "s", "e", "a", "acquired",
    "aux", "segments", "out", "trees")

  /** Pure flag parser (testable without a session). Long and short
    * forms both accepted, reference-style (`-x` == `--x`). Unknown
    * flags and malformed numbers are errors, not silent defaults. */
  def parse(args: Seq[String]): Either[String, Cmd] = {
    def opts(rest: Seq[String], known: Set[String],
        acc: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Seq() => Right(acc)
        case Seq(flag, value, tail @ _*) if flag.startsWith("-") =>
          val name = flag.dropWhile(_ == '-')
          if (known(name)) opts(tail, known, acc + (name -> value))
          else Left(s"unknown option '$flag'\n$usage")
        case Seq(other, _*) => Left(s"unexpected argument '$other'\n$usage")
      }
    def req(m: Map[String, String], k: String): Either[String, String] =
      m.get(k).toRight(s"missing required option -$k\n$usage")
    def dbl(k: String, v: String): Either[String, Double] =
      v.toDoubleOption.toRight(s"option -$k expects a number, got '$v'\n$usage")
    def int(k: String, v: String): Either[String, Int] =
      v.toIntOption.toRight(s"option -$k expects an integer, got '$v'\n$usage")
    args match {
      case Seq("changedetection", rest @ _*) =>
        for {
          m <- opts(rest, cdFlags, Map.empty)
          x <- req(m, "x").flatMap(dbl("x", _))
          y <- req(m, "y").flatMap(dbl("y", _))
          n <- int("n", m.getOrElse("n", m.getOrElse("number", "2500")))
          ard <- req(m, "ard"); out <- req(m, "out")
        } yield ChangeDetectionCmd(x, y,
          m.getOrElse("a", m.getOrElse("acquired", defaultAcquired)),
          n, ard, out)
      case Seq("classification", rest @ _*) =>
        for {
          m <- opts(rest, clFlags, Map.empty)
          x <- req(m, "x").flatMap(dbl("x", _))
          y <- req(m, "y").flatMap(dbl("y", _))
          s <- req(m, "s").flatMap(int("s", _))
          e <- req(m, "e").flatMap(int("e", _))
          trees <- int("trees", m.getOrElse("trees", "500"))
          aux <- req(m, "aux"); seg <- req(m, "segments")
          out <- req(m, "out")
        } yield ClassificationCmd(x, y, s, e,
          m.getOrElse("a", m.getOrElse("acquired", defaultAcquired)),
          aux, seg, out, trees)
      case Seq(verb, _*) => Left(s"unknown verb '$verb'\n$usage")
      case _ => Left(usage)
    }
  }

  /** Execute a parsed command; returns landed product row counts. */
  def run(cmd: Cmd, spark: SparkSession): Map[String, Long] = {
    import spark.implicits._
    cmd match {
      case ChangeDetectionCmd(x, y, acquired, number, ard, out) =>
        val scoped = ChangeDetection.acquiredWindow(
          ChangeDetection.tileScope(
            spark.read.parquet(ard).as[ArdRow], x, y, number), acquired)
        val (chips, pixels, segs) = ChangeDetection.run(scoped, out)
        Map("chips" -> chips, "pixels" -> pixels, "segments" -> segs)
      case ClassificationCmd(x, y, msday, meday, acquired, aux, segments, out, trees) =>
        val auxDs = Classification.acquiredWindow(
          spark.read.parquet(aux).as[AuxRow], acquired)
        val segs = spark.read.parquet(segments)
        Classification.trainForTile(spark, auxDs, segs, x, y,
            msday, meday, trees) match {
          case None => Map("predictions" -> 0L)
          case Some(model) =>
            val tile = Grid.tileOf(x, y)
            Classification.saveTile(spark, model, tile.ulx.toInt,
              tile.uly.toInt, s"rf-$msday-$meday",
              java.time.Instant.now().toString, out)
            val preds = Classification.classifyTile(model, auxDs, segs, x, y)
            // This run's landed rows, as changedetection reports: the
            // prediction table may also hold other tiles' chips.
            Map("predictions" -> Landed.write(preds, s"$out/prediction",
              Seq("chipx", "chipy", "pixelx", "pixely", "sday", "eday"),
              Seq("chipx", "chipy")))
        }
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) =>
      System.err.println(err)
      sys.exit(2)
    case Right(cmd) =>
      val spark = Session()
      try {
        val counts = run(cmd, spark)
        println(counts.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" "))
      } finally spark.stop()
  }
}
