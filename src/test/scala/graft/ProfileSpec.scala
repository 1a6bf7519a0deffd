package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** The session factory and the profiler's modes, on the shared test
  * session.
  */
class ProfileSpec extends SparkSpec {

  test("select matches gates by prefix, in suite order") {
    val gates = Profile.select(Seq("q14_star", "q27_date")).map(_.name)
    assert(gates == Seq("q14_star_join", "q27_date_dim"))
    assert(Profile.select(Seq("qv")).map(_.name).forall(_.startsWith("qv")))
  }

  test("select names every prefix that matched no gate") {
    val e = intercept[IllegalArgumentException](
      Profile.select(Seq("q14", "nope_a", "nope_b")))
    assert(e.getMessage.contains("nope_a") && e.getMessage.contains("nope_b"))
    assert(!e.getMessage.contains("q14"))
  }

  test("plan writes a header and a physical plan per gate") {
    val out = Files.createTempFile("graft-plan", ".txt")
    try {
      val text = Profile.plan(spark, sfDir, out.toString,
        Profile.select(Seq("q14_star_join")))
      assert(text.contains("===== q14_star_join ====="))
      assert(text.contains("== Physical Plan =="))
      assert(!text.contains("ERROR:"))
      assert(Files.readString(out) == text)
    } finally Files.deleteIfExists(out)
  }

  test("stages records the instrumented pass's stages") {
    val Seq((name, stages)) =
      Profile.stages(spark, sfDir, Profile.select(Seq("q14_star_join")))
    assert(name == "q14_star_join")
    assert(stages.nonEmpty)
    assert(stages.forall(s => s.taskMs >= 0 && s.tasks > 0))
  }

  test("Session.local(cores) sets the master and the shuffle width") {
    val s = Session.local(4)
    assert(s eq spark)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("only Session.scala builds a SparkSession in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val builders = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toList)
    assert(builders == List("Session.scala"))
  }
}
