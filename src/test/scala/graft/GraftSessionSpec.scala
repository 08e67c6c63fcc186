package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The one session builder: its conf reaches the session, and no other
  * file in the tree builds a session by hand. Every `spark.graft.*` key
  * the engine reads is documented in README's knob table, and nothing
  * else is.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.builder(n) sets n shuffle partitions, UTC and the codegen cache") {
    val spark = GraftSession.builder(2).getOrCreate()
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    } finally spark.stop()
  }

  test("GraftSession.builder routes the file scheme to LocalFs from the start") {
    val spark = GraftSession.builder(1).getOrCreate()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      graft.streaming.LocalFs.hadoopConf.foreach { case (k, v) => assert(hc.get(k) == v, k) }
    } finally spark.stop()
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no source file outside GraftSession.scala calls the raw session builder") {
    // Split so this file does not match its own scan.
    val needle = "SparkSession" + ".builder()"
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap(scalaFiles)
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder(cpus), not $needle: " +
        offenders.mkString(", "))
  }

  test("spark.graft.* keys read in src/main == README's Configuration knobs table") {
    // A key is "read" when a string literal in src/main starts with it.
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
    val read = scalaFiles("src/main/scala")
      .flatMap(p => literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    val row = "^\\| `(spark\\.graft\\.[^`]+)`".r
    val documented = Files.readString(Paths.get("README.md"))
      .split("\n## Configuration knobs\n", 2)(1).split("\n## ", 2)(0)
      .linesIterator.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(read.nonEmpty)
    assert(read -- documented == Set.empty, "read in src/main but missing from README")
    assert(documented -- read == Set.empty, "in README but read nowhere in src/main")
  }
}
