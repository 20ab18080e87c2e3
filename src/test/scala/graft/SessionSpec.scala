package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]] is the one place a session is configured: its core-count
  * parse, the config the shared test session gets from it, and a guard
  * that no other file builds a session of its own. */
class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset falls back to the available processors, \"4\" is 4") {
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Session.parseCpus(Some("4")) == 4)
  }

  test("SPARK_GRAFT_CPUS: a value that is not a positive integer names the variable and value") {
    Seq("0", "-2", "abc").foreach { v =>
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$v'"),
        e.getMessage)
    }
  }

  test("the shared test session carries the Session config at 4 cpus") {
    val spark = SparkTestSession.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("graft/Session.scala is the only file that builds a SparkSession") {
    // Assembled so this file does not match itself.
    val builder = ("SparkSession" + """\s*\.\s*[Bb]uilder""").r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"$r not found under ${Paths.get("").toAbsolutePath}"))
    def scalaFiles(root: Path): List[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = roots.flatMap(scalaFiles).map { p =>
      p.toString -> builder.findAllIn(new String(Files.readAllBytes(p), UTF_8)).size
    }.filter(_._2 > 0).toMap
    assert(hits == Map("src/main/scala/graft/Session.scala" -> 1),
      s"build the session with graft.Session instead: $hits")
  }
}
