package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one run needs: the session, the workload's arguments, and where
  * it may write.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Trace,
    runDir: Path, sfDir: String, cores: Int, launchMs: Long) {
  /** Seconds since the benchmark process launched the JVM. */
  def sinceLaunchS(): Double = (System.currentTimeMillis() - launchMs) / 1000.0

  /** Map a wall-clock instant (epoch ms) onto the `System.nanoTime` axis. */
  def wallToNano(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L
}

/** A workload's measurements: metrics by name, detail for people, and the
  * operation counts behind `failed_ratio`.
  */
final case class Outcome(metrics: Map[String, Double], detail: Map[String, Any],
    attempted: Long, failed: Long, correct: Boolean, problems: Seq[String])

/** Entry point of the benchmark JVM.
  *
  * {{{
  * Main run --workload W --seed N --seconds S --trace 0|1 --run-dir D --sf-dir F --launch-ms T
  * Main oracle-sql --sf-dir F --out FILE     (the query list's DuckDB SQL)
  * Main selftest --run-dir D
  * }}}
  * `run` writes `result.json` (and, traced, `spans.jsonl`) into the run
  * directory; `run.py` turns it into the benchmark's output line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = args.headOption match {
      case Some("run") => run(opts)
      case Some("oracle-sql") => oracleSql(opts)
      case Some("selftest") => SelfTest.run(Paths.get(opts("run-dir")))
      case other =>
        System.err.println(s"unknown mode $other")
        2
    }
    System.out.flush()
    System.exit(code)
  }

  def session(cores: Int, runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("flowbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(o: Map[String, String]): Int = {
    val workload = o("workload")
    val runDir = Paths.get(o("run-dir"))
    Files.createDirectories(runDir)
    val cores = Runtime.getRuntime.availableProcessors()
    val trace = new Trace(o.getOrElse("trace", "0") == "1")
    val spark = session(cores, runDir)
    val ctx = Ctx(spark, o("seed").toLong, o("seconds").toDouble, trace, runDir,
      o.getOrElse("sf-dir", ""), cores, o("launch-ms").toLong)
    val out = workload match {
      case "ingest_parquet" | "ingest_fanout" => Ingest.run(ctx, workload)
      case "query_mix" => QueryMix.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spans = if (trace.enabled) trace.write(runDir.resolve("spans.jsonl")) else 0
    spark.stop()
    val metrics = out.metrics + ("mem.rss_peak_mb" -> Stats.rssPeakMb())
    val json = Json.render(Map(
      "workload" -> workload,
      "metrics" -> metrics,
      "detail" -> out.detail,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "correct" -> out.correct,
      "problems" -> out.problems,
      "spans" -> spans))
    Files.writeString(runDir.resolve("result.json"), json)
    0
  }

  /** DuckDB SQL for the queries of the mix that have an oracle. */
  private def oracleSql(o: Map[String, String]): Int = {
    val sf = o("sf-dir")
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => QueryMix.All.contains(k) }
      .map { case (k, v) => k -> v.replace("{sfDir}", sf) }
    Files.writeString(Paths.get(o("out")), Json.render(sql))
    0
  }
}
