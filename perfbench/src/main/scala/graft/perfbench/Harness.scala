package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Cli, SparkEntry}
import graft.ccd.{Ccd, CcdOps}

/** The benchmark's JVM side: one workload, one seed's generated inputs.
  *
  * {{{
  * Harness --generate 1 --data DIR --work DIR     # write ARD + aux only
  * Harness --workload W --data DIR --work DIR --seconds S --trace 0|1
  * }}}
  *
  * A run sets the session up once, timed from JVM start (session,
  * footers of every input, one warm-up query), then runs a cold pass
  * (no workload call and no store built in this JVM before it) and
  * closed-loop warm passes until `--seconds` have passed, with at
  * least [[MinWarm]] of them. Every call's wall time, its landed output
  * and any failure go into `record.json` under the work directory;
  * `perfbench/run.py` checks the answers and turns the record into
  * metrics. With `--trace 1` a [[Tracer]] records spans, jobs and
  * stages; after an untraced warm-up pass, warm passes alternate traced
  * and untraced (their difference is the tracing overhead), and the
  * layer probes (kernel timings, input scans, and on query_mix two
  * untraced calls of the curation chain) run after the passes.
  */
object Harness {

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String, default: Int): Int = args.get(k).map(_.toInt).getOrElse(default)
  }

  /** Warm passes that always run (more run while `--seconds` have not
    * passed). A traced run runs three: an untraced warm-up, a traced
    * pass and an untraced one. */
  val MinWarm = 1
  val MinWarmTraced = 3

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One call into the engine. `run` gets the pass output directory
    * and returns counts for the record; `check` (untimed, after the
    * call) returns the reasons its answer is wrong. */
  final case class Op(name: String, module: String,
      run: String => Map[String, Long],
      check: (String, Map[String, Long]) => Seq[String] = (_, _) => Nil)

  /** Random-forest size of the classification verb: the reference's 500
    * trees would make the verb's RF training, not the pipeline, the
    * workload; job count does not depend on it. */
  val Trees = 5

  /** query_mix: one pass calls, through each module's `queries` map,
    * a relational join-aggregate, an event sessionizer, MinHash LSH and
    * a bucketed-store exact dedup, TF-IDF, and an IVF index that is
    * built into a SessionStore, read, and upserted (written back). */
  val mixQueries: Seq[(String, String)] = Seq(
    "q13" -> "", "e04" -> "", "d03" -> "", "d18" -> "", "t12" -> "",
    "s15" -> "search", "s18" -> "maintain")

  /** The curation chain (t43) alone costs about as much as the rest of
    * a query_mix pass, more than the benchmark's time budget leaves, so
    * it runs only in traced runs, twice after the passes: a first call
    * in this JVM, then a repeat. */
  val curationQuery = "t43"

  def main(argv: Array[String]): Unit = {
    val opts = Opts(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val code = try {
      if (opts.args.contains("generate")) generate(opts)
      else if (opts.args.contains("selfcheck")) selfcheck(opts)
      else run(opts)
      0
    } catch { case NonFatal(e) =>
      e.printStackTrace()
      1
    }
    sys.exit(code)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def ardGen(data: String): ArdGen = {
    val p = json.readTree(Paths.get(data, "ard_params.json").toFile)
    ArdGen(p.get("seed").asLong(), p.get("chips").asInt(), p.get("rows").asInt(),
      p.get("obs").asInt(), p.get("break_every").asInt())
  }

  /** The ccdc_tile inputs: ARD and aux Parquet under the data dir, with
    * a fixed partition count so the files do not depend on the box. */
  def generate(opts: Opts): Unit = {
    val data = opts("data")
    val spark = session(opts.int("cpus", 4), opts("work"))
    try {
      val g = ardGen(data)
      g.ard(spark, 8).write.mode("overwrite").parquet(s"$data/ard")
      g.aux(spark, 2).write.mode("overwrite").parquet(s"$data/aux")
    } finally spark.stop()
  }

  /** Call-site attribution on a tiny input: one checkpoint, one sink
    * write and one store build, each in its own span; the tracer's JSON
    * lands in `selfcheck.json` for selfcheck.py to assert on. */
  def selfcheck(opts: Opts): Unit = {
    val work = opts("work")
    val spark = session(2, work)
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    tracer.on = true
    tracer.newTrace()
    try {
      val df = spark.range(100).toDF("id")
      tracer.span("selfcheck") {
        tracer.span("checkpoint")(graft.ops.Subplan.once(df).count())
        tracer.span("sink")(graft.sources.Sink.write(df, s"$work/sink", Seq("id")))
        tracer.span("store")(graft.sources.SessionStore
          .storedOrBuild(spark, "selfcheck", work, Seq("id"))(df).count())
      }
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      json.writeValue(Paths.get(work, "selfcheck.json").toFile, tracer.toRecord)
    } finally spark.stop()
  }

  def inputs(data: String): Seq[String] =
    Option(new java.io.File(data).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") || Set("ard", "aux")(f.getName))
      .map(_.getPath).sorted

  /** Session, footers of every input and one warm-up query, timed
    * from JVM start: (session, seconds). */
  def setUp(opts: Opts): (SparkSession, Double) = {
    val data = opts("data")
    val ins = inputs(data)
    require(ins.nonEmpty, s"no inputs under $data")
    val spark = session(opts.int("cpus", 4), opts("work"))
    ins.foreach(p => spark.read.parquet(p).schema)
    spark.read.parquet(ins.head).count()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - jvmStart) / 1000.0)
  }

  def run(opts: Opts): Unit = {
    val work = opts("work")
    val data = opts("data")
    val workload = opts("workload")
    val cpus = opts.int("cpus", 4)
    val traced = opts.int("trace", 0) == 1
    val seconds = opts("seconds").toDouble
    val minWarm = if (traced) MinWarmTraced else MinWarm
    val record = mutable.LinkedHashMap.empty[String, Any]
    record("workload") = workload
    record("cpus") = cpus
    record("heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)

    val (spark, setupS) = setUp(opts)
    record("setup_s") = setupS

    val tracer = new Tracer
    if (traced) spark.sparkContext.addSparkListener(tracer)
    val w = Workload(spark, workload, data)
    val curation = if (traced && workload == "query_mix")
      Seq(w.query(curationQuery, "")) else Nil
    record("oracle") = w.oracle(w.ops ++ curation)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(kind: String, tracedPass: Boolean, ops: Seq[Op] = w.ops): Unit = {
      val idx = passes.size
      val out = s"$work/out/p$idx"
      // Start every pass from a collected heap, so garbage left by the
      // set-up or the previous pass's checks is not collected inside it.
      System.gc()
      if (tracedPass) {
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        tracer.on = true
        tracer.newTrace()
      }
      val t0 = System.nanoTime()
      val started = System.currentTimeMillis()
      val calls = tracer.span(s"pass $idx $kind") {
        ops.map { op =>
          val c0 = System.nanoTime()
          val (counts, error) =
            try (tracer.span(s"${op.module} ${op.name}")(op.run(out)), None)
            catch { case NonFatal(e) => (Map.empty[String, Long], Some(e.toString)) }
          val secs = (System.nanoTime() - c0) / 1e9
          (op, counts, error, secs)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracedPass) {
        // Every event of the pass's jobs is delivered while tracing is on.
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        tracer.on = false
      }
      // Checks run after the pass so they never count as its time.
      passes += Map("pass" -> idx, "kind" -> kind, "traced" -> tracedPass,
        "start_ms" -> started, "wall_s" -> wall, "out" -> out,
        "ops" -> calls.map { case (op, counts, error, secs) =>
          val problems = error.toSeq ++
            (if (error.isEmpty) op.check(out, counts) else Nil)
          Map("name" -> op.name, "module" -> op.module, "s" -> secs,
            "counts" -> counts, "errors" -> problems)
        })
    }

    pass("cold", traced)
    val warmStart = System.nanoTime()
    var warm = 0
    while (warm < minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      // In a traced run, warm passes after the first (a JIT warm-up)
      // alternate traced and untraced.
      pass("warm", traced && warm % 2 == 1)
      warm += 1
    }
    curation.foreach(op => Seq("probe_cold", "probe_warm").foreach(pass(_, false, Seq(op))))
    record("passes") = passes.toSeq

    if (traced) {
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      record("probes") = Probes(spark, workload, data, tracer)
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      record("tracer") = tracer.toRecord
    }
    record("vm_hwm_kb") = vmHwmKb()
    json.writeValue(Paths.get(work, "record.json").toFile, record)
    spark.stop()
  }

  def vmHwmKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}

/** A workload's operations per pass and the oracle SQL of its queries. */
final case class Workload(spark: SparkSession, name: String, data: String) {
  import Harness.Op

  private val registered = SparkEntry.queries
  private val owners: Seq[(String, Set[String])] = Seq(
    "ops.Relational" -> graft.ops.Relational.queries.keySet,
    "ext.Events" -> graft.ext.Events.queries.keySet,
    "ext.Dedup" -> graft.ext.Dedup.queries.keySet,
    "ext.Text" -> graft.ext.Text.queries.keySet,
    "ext.Curation" -> graft.ext.Curation.queries.keySet,
    "ext.Similarity" -> graft.ext.Similarity.queries.keySet)

  /** Registered key for a short query id (`q13` → `q13_join_groupby`). */
  def key(short: String): String =
    registered.keys.filter(_.startsWith(short + "_")).toSeq.sorted.headOption
      .getOrElse(throw new IllegalArgumentException(s"no registered query $short"))

  def module(key: String): String =
    owners.find(_._2(key)).map(_._1).getOrElse("unknown")

  /** A registered query called through its module's map, its result
    * landed as Parquet under the pass directory. */
  def query(short: String, phase: String): Op = {
    val k = key(short)
    val fn = registered(k)
    val mod = module(k) + (if (phase.isEmpty) "" else "." + phase)
    Op(k, mod, out => {
      fn(spark, data).write.mode("overwrite").parquet(s"$out/$k")
      Map.empty
    })
  }

  private lazy val ard = Harness.ardGen(data)

  def ops: Seq[Op] = name match {
    case "ccdc_tile" => ccdcOps
    case "query_mix" => Harness.mixQueries.map { case (q, phase) => query(q, phase) }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def oracle(calls: Seq[Op]): Map[String, String] =
    calls.map(_.name).flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap

  /** The paper's two verbs through the CLI entry, on the generated tile:
    * changedetection over every generated chip, then classification of
    * the landed segments with a model trained on the aux labels. */
  private def ccdcOps: Seq[Op] = {
    val x = ard.x.toString
    val y = ard.y.toString
    def cli(args: String*): Map[String, Long] =
      Cli.run(Cli.parse(args).fold(e => throw new IllegalArgumentException(e), identity), spark)
    Seq(
      Op("changedetection", "pipeline.changedetection",
        out => cli("changedetection", "-x", x, "-y", y,
          "--ard", s"$data/ard", "--out", s"$out/products"),
        (out, counts) => CcdCheck(spark, ard, s"$out/products").detection(counts)),
      Op("classification", "pipeline.classification",
        out => cli("classification", "-x", x, "-y", y, "-s", "1", "-e", "800000",
          "--aux", s"$data/aux", "--segments", s"$out/products/segment",
          "--out", s"$out/products", "--trees", Harness.Trees.toString),
        (out, counts) => CcdCheck(spark, ard, s"$out/products").classification(counts)))
  }
}

/** Answer checks for the ccdc_tile verbs against the generator's
  * planted truth. */
final case class CcdCheck(spark: SparkSession, g: ArdGen, products: String) {

  private lazy val segments = spark.read.parquet(s"$products/segment")
    .select("cx", "cy", "px", "py", "sday", "bday").collect()
    .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)),
      (r.getString(4), r.getString(5))))

  def detection(counts: Map[String, Long]): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(name: String, want: Long): Unit =
      if (!counts.get(name).contains(want)) problems += s"$name ${counts.get(name)} != $want"
    expect("chips", g.chips)
    expect("pixels", g.pixels)
    expect("segments", segments.length)
    val byPixel = segments.groupBy { case ((cx, cy, px, py), _) => g.pixelOf(cx, cy, px, py) }
    if (byPixel.size != g.pixels) problems += s"${byPixel.size} pixels have segments"
    var stableBad = 0
    var missed = 0
    byPixel.foreach { case (p, segs) =>
      g.planted(p) match {
        case None => if (segs.length != 1) stableBad += 1
        case Some(k) =>
          // Distance in clear observations between the planted
          // observation and each reported break day.
          val clouds = g.cloudy(p)
          val rank = clouds.scanLeft(0)((n, c) => if (c) n else n + 1)
          val found = segs.exists { case (_, (_, bday)) =>
            val i = java.util.Arrays.binarySearch(g.dates, CcdOps.isoToOrdinal(bday))
            i >= 0 && math.abs(rank(i) - rank(k)) <= Ccd.Peek
          }
          if (!found) missed += 1
      }
    }
    if (stableBad > 0) problems += s"$stableBad stable pixels without exactly one segment"
    if (missed > 0) problems += s"$missed planted breaks not found within ${Ccd.Peek} observations"
    problems.toSeq
  }

  def classification(counts: Map[String, Long]): Seq[String] = {
    val eligible = segments.count { case (_, (sday, _)) => sday > CcdOps.ordinalToIso(1) }
    if (counts.get("predictions").contains(eligible.toLong)) Nil
    else Seq(s"predictions ${counts.get("predictions")} != eligible segments $eligible")
  }
}
