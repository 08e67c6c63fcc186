package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The one session builder: its conf reaches the session, and no other
  * file in the tree builds a session by hand.
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

  test("no source file outside GraftSession.scala calls the raw session builder") {
    // Split so this file does not match its own scan.
    val needle = "SparkSession" + ".builder()"
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap(scalaFiles)
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder(cpus), not $needle: " +
        offenders.mkString(", "))
  }
}
