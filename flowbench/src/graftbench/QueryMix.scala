package graftbench

import scala.collection.mutable

import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import graft.ops.CacheScope

/** The analytic workload: a fixed query list over the sf0.1 tables, each
  * sample in its own cache arena (scope release and `clearCache` outside
  * the timed window, as `graft.Bench` does). One untimed pass builds the
  * staged state and writes every result for the fingerprint check; timed
  * passes then run until the window closes, each pass in a seeded order.
  */
object QueryMix {
  val Relational: Seq[String] = Seq("agg_pricing", "sql_q3")
  val Iter: Seq[String] = Seq("graph_lpa", "graph_modularity", "graph_louvain1")
  val All: Seq[String] = Relational ++ Iter

  /** Timed passes per window at least, so every query's median has three
    * samples even when one pass outlasts the window.
    */
  val MinPasses = 3

  /** One query execution, with its construction, planning and execution
    * times.
    */
  final case class Sample(name: String, pass: Int, ms: Double, rows: Long,
      error: Option[String], constructMs: Double = 0, planMs: Double = 0,
      executeMs: Double = 0)

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(All)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val results = ctx.runDir.resolve("results")
    val problems = mutable.ArrayBuffer.empty[String]

    def arena[T](body: => T): T = {
      val scope = CacheScope.begin(spark)
      try body
      finally {
        sc.clearJobGroup()
        scope.release()
        spark.sharedState.cacheManager.clearCache()
      }
    }

    // Untimed first pass: staging, codegen, JIT; results kept for the check.
    val first = order(ctx.seed, 0).map { name =>
      arena {
        val t0 = System.nanoTime()
        val out = try {
          fns(name)(spark, ctx.sfDir).write.mode("overwrite").parquet(results.resolve(name).toString)
          None
        } catch { case e: Throwable => Some(brief(e)) }
        val ms = (System.nanoTime() - t0) / 1e6
        val rows = if (out.isEmpty) spark.read.parquet(results.resolve(name).toString).count() else -1L
        Sample(name, 0, ms, rows, out)
      }
    }
    val setupS = ctx.sinceLaunchS()
    val expectedRows = first.filter(_.error.isEmpty).map(s => s.name -> s.rows).toMap

    // A sample runs the query's own physical plan to its last row, every
    // column computed (the plan the first pass wrote; an aggregate on top
    // would let column pruning drop work), and counts the rows on the way.
    // Construction, planning and execution are timed apart; spans are
    // recorded only when traced.
    def timed(name: String, pass: Int): Sample = arena {
      val unit = s"$name:$pass"
      ctx.trace.span("query", unit) { id =>
        val t0 = System.nanoTime()
        try {
          val df = ctx.trace.span("query.construct", unit, id) { _ =>
            sc.setJobGroup(s"c:$unit", name)
            fns(name)(spark, ctx.sfDir)
          }
          val t1 = System.nanoTime()
          val qe = df.queryExecution
          ctx.trace.span("query.plan", unit, id) { _ => qe.executedPlan }
          val t2 = System.nanoTime()
          val n = ctx.trace.span("query.execute", unit, id) { _ =>
            sc.setJobGroup(s"x:$unit", name)
            SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.count())
          }
          val t3 = System.nanoTime()
          Sample(name, pass, (t3 - t0) / 1e6, n, None,
            (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
        } catch {
          case e: Throwable => Sample(name, pass, (System.nanoTime() - t0) / 1e6, -1L, Some(brief(e)))
        }
      }
    }

    var pass = 0
    def window(seconds: Double, after: Sample => Unit = _ => ()): Seq[Sample] = {
      val out = mutable.ArrayBuffer.empty[Sample]
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val first = pass + 1
      do {
        pass += 1
        order(ctx.seed, pass).foreach { n => val s = timed(n, pass); after(s); out += s }
      } while (System.nanoTime() < end || pass - first + 1 < MinPasses)
      out.toSeq
    }

    val plain = window(ctx.seconds)
    val counters = new ExecCounters
    var persistedBytes = 0L
    var persistedRdds = 0
    val traced =
      if (!ctx.trace.enabled) Nil
      else {
        sc.addSparkListener(counters)
        ctx.trace.on = true
        try window(ctx.seconds, _ => {
          val info = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
          persistedBytes = math.max(persistedBytes, info.map(i => i.memSize + i.diskSize).sum)
          persistedRdds = math.max(persistedRdds, info.length)
        })
        finally sc.removeSparkListener(counters)
      }

    // ------------------------------------------------------------- check
    val all = first ++ plain ++ traced
    var failed = 0L
    all.foreach { s =>
      s.error match {
        case Some(e) =>
          failed += 1
          problems += s"${s.name} (pass ${s.pass}) failed: $e"
        case None if s.pass > 0 && !expectedRows.get(s.name).contains(s.rows) =>
          failed += 1
          problems += s"${s.name} (pass ${s.pass}) returned ${s.rows} rows, first pass wrote " +
            expectedRows.get(s.name).map(_.toString).getOrElse("nothing")
        case None => ()
      }
    }
    val wrongCounts = all.exists(s => s.error.isEmpty && s.pass > 0 &&
      expectedRows.get(s.name).exists(_ != s.rows))

    // ------------------------------------------------------------- metrics
    def medians(ss: Seq[Sample], f: Sample => Double): Map[String, Double] =
      ss.filter(_.error.isEmpty).groupBy(_.name).map { case (n, xs) => n -> Stats.median(xs.map(f)) }
    val med = medians(plain, _.ms)
    val ok = plain.filter(_.error.isEmpty)
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "success_ratio" -> (1.0 - failed.toDouble / all.size),
      "throughput_per_s" -> ok.size / (ok.map(_.ms).sum / 1000.0),
      "latency_ms" -> Stats.geomean(med.values.toSeq))
    val detail = mutable.LinkedHashMap[String, Any](
      "query.relational_s" -> Relational.flatMap(med.get).sum / 1000.0,
      "query.iter_s" -> Iter.flatMap(med.get).sum / 1000.0,
      "query.geomean_ms" -> metrics("latency_ms"),
      "failed_ratio" -> failed.toDouble / all.size,
      "passes_timed" -> plain.map(_.pass).distinct.size,
      "query_ms" -> med,
      "first_pass_ms" -> first.map(s => s.name -> s.ms).toMap)

    if (ctx.trace.enabled && traced.nonEmpty) {
      val passes = traced.map(_.pass).distinct.size
      def phase(f: Sample => Double) = medians(traced, f).values.sum
      val groups = counters.keys
      val constructUnits = groups.filter(_.startsWith("c:")).map(counters.counts)
      val units = groups.filter(g => g.startsWith("c:") || g.startsWith("x:")).map(counters.counts)
      metrics ++= Map(
        "query.construct_ms" -> phase(_.constructMs),
        "query.plan_ms" -> phase(_.planMs),
        "query.execute_ms" -> phase(_.executeMs),
        "query.construct_jobs" -> constructUnits.map(_.jobs).sum.toDouble / passes,
        "stage.first_pass_extra_ms" ->
          first.filter(s => s.error.isEmpty && med.contains(s.name)).map(s => s.ms - med(s.name)).sum,
        "stage.persisted_bytes" -> persistedBytes.toDouble,
        "stage.persisted_rdds" -> persistedRdds.toDouble,
        "trace.overhead_ratio" -> {
          val tmed = medians(traced, _.ms)
          val both = tmed.keySet.intersect(med.keySet).toSeq
          both.map(tmed).sum / both.map(med).sum
        })
      metrics ++= Ingest.execMetrics(units, traced.map(_.ms).sum, ctx.cores, passes)
    }
    Outcome(metrics.toMap, detail.toMap, all.size.toLong, failed, !wrongCounts, problems.toSeq)
  }

  private def brief(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}"
  }
}
