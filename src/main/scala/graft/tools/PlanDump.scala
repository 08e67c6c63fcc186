package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/r16/<query>_<suffix>.txt).
  * Unlike graft.Plans (PLANS.md, executedPlan.toString), this emits the
  * FORMATTED mode the optimization guide reads (numbered operators,
  * PushedFilters/ReadSchema detail) and is parameterized for ad-hoc
  * before/after captures.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> q1 q2 ..."
  * The plan is captured AFTER collect() so AQE's final plan is shown.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val scope = graft.ops.CacheScope.begin(spark)
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.collect() // settle AQE on the final plan
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } finally {
        scope.release()
        spark.sharedState.cacheManager.clearCache()
      }
    }
    spark.stop()
  }
}
