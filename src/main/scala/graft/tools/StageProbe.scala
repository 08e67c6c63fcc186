package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

import scala.collection.mutable

/** Per-stage empirical profile of a declared query (r17, guide §1.1):
  * runs a named query warm, then once instrumented, printing every
  * stage's task count, total/max task time, shuffle read/write bytes and
  * GC — the empirical loop's "which stage, and is it fetch, compute or
  * too-few-tasks" answer without the UI. Jobs are also counted: a
  * query's sequential-barrier floor shows up here as job count × fixed
  * overhead.
  *
  * Usage: sbt -batch "runMain graft.tools.StageProbe <sfDir> q1 [q2 ...]"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.queries("agg_pricing")(spark, sfDir).count() // warm session

    names.foreach { name =>
      // Warm pass (stages, codegen, staging) outside instrumentation.
      val scope0 = graft.ops.CacheScope.begin(spark)
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      scope0.release(); spark.sharedState.cacheManager.clearCache()

      final case class St(id: Int, name: String, tasks: Int, runMs: Long,
          wallMs: Long, shRead: Long, shWrite: Long, gcMs: Long, submitted: Long)
      val stages = mutable.ArrayBuffer.empty[St]
      var jobs = 0
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          synchronized { jobs += 1 }
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          synchronized {
            val si = sc.stageInfo
            val tm = si.taskMetrics
            val sub = si.submissionTime.getOrElse(0L)
            stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(60),
              si.numTasks, tm.executorRunTime,
              si.completionTime.getOrElse(sub) - sub,
              tm.shuffleReadMetrics.totalBytesRead,
              tm.shuffleWriteMetrics.bytesWritten, tm.jvmGCTime, sub)
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val scope = graft.ops.CacheScope.begin(spark)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      scope.release(); spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let the listener bus drain
      println(f"[stageprobe] $name  warm=$dt%.2f s  jobs=$jobs  stages=${stages.size}")
      val t0s = if (stages.isEmpty) 0L else stages.map(_.submitted).min
      stages.sortBy(_.submitted).foreach { s =>
        println(f"  stage ${s.id}%4d @${s.submitted - t0s}%5d wall=${s.wallMs}%5d tasks=${s.tasks}%4d run=${s.runMs}%6d ms gc=${s.gcMs}%4d shR=${s.shRead / 1024}%7d K shW=${s.shWrite / 1024}%7d K  ${s.name}")
      }
    }
    spark.stop()
  }
}
