package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Config-driven pipeline assembly — the nf2pq operating model (SURVEY
  * §1.1: a static TOML-style `nf2pq.conf` names listeners, output dir,
  * rotation interval, ClickHouse target). A reference user ports their
  * conf file and gets the same topology on Spark:
  *
  * {{{
  * [listener.primary]
  * port = 2055
  * partitions = 4
  *
  * [listener.backup]
  * host = 10.0.0.2
  * port = 2056
  *
  * [parquet]
  * dir = /data/flows
  * checkpoint = /ckpt/flows
  * interval = 60 seconds
  *
  * [clickhouse]
  * url = jdbc:clickhouse://ch:8123/netflow
  * table = flows
  * checkpoint = /ckpt/ch
  * }}}
  *
  * Listeners union into one packet stream → decode → every configured
  * sink. On a cluster you run one FlowApp per receiver host; the parquet
  * layout (date/hour partitions) is union-friendly downstream.
  */
object FlowApp {

  /** Minimal TOML-subset parser: `[section]` headers, `key = value`
    * pairs, `#` comments, optional double quotes around values. No
    * dependency, no types — values stay strings, consumers convert.
    * Repeated `[listener.X]` sections define one listener each.
    */
  def parseConfig(text: String): Map[String, Map[String, String]] = {
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, String]]
    var section = ""
    // Comment strip is quote-aware: '#' inside "..." is value content
    // (passwords, URLs), not a comment.
    def stripComment(raw: String): String = {
      val sb = new StringBuilder
      var inQ = false
      var i = 0
      while (i < raw.length && (raw(i) != '#' || inQ)) {
        if (raw(i) == '"') inQ = !inQ
        sb += raw(i)
        i += 1
      }
      sb.toString
    }
    text.linesIterator.foreach { raw =>
      val line = stripComment(raw).trim
      if (line.nonEmpty) {
        if (line.startsWith("[") && line.endsWith("]")) {
          section = line.substring(1, line.length - 1).trim
          out.getOrElseUpdate(section, scala.collection.mutable.LinkedHashMap.empty)
        } else line.indexOf('=') match {
          case -1 => throw new IllegalArgumentException(s"bad config line: $raw")
          case i =>
            val k = line.substring(0, i).trim
            val v0 = line.substring(i + 1).trim
            val v = if (v0.length >= 2 && v0.startsWith("\"") && v0.endsWith("\""))
              v0.substring(1, v0.length - 1) else v0
            out.getOrElseUpdate(section,
              scala.collection.mutable.LinkedHashMap.empty).put(k, v)
        }
      }
    }
    out.map { case (s, kv) => s -> kv.toMap }.toMap
  }

  /** One unified packet stream from every `[listener.*]` section. */
  def packetStream(spark: SparkSession,
      config: Map[String, Map[String, String]]): DataFrame = {
    val listeners = config.collect {
      case (name, kv) if name.startsWith("listener.") || name == "listener" => kv
    }.toSeq
    require(listeners.nonEmpty, "config has no [listener.*] section")
    listeners.map { kv =>
      kv.foldLeft(spark.readStream.format("udp-flows")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
    }.reduce(_ unionByName _)
  }

  /** Collector mode: templates outlive the micro-batch (see
    * FlowPipeline.TemplateStore), scoped by the listener endpoints as the
    * source itself reads them (`UdpFlowSource.endpointKey`: its defaults
    * and its case-insensitive option keys), so two FlowApps on different
    * endpoints keep separate template worlds.
    */
  def templateScope(config: Map[String, Map[String, String]]): String =
    "flowapp:" + config.collect {
      case (name, kv) if name.startsWith("listener.") || name == "listener" =>
        UdpFlowSource.endpointKey(new CaseInsensitiveStringMap(kv.asJava))
    }.toSeq.sorted.mkString(",")

  private def req(kv: Map[String, String], section: String, key: String): String =
    kv.getOrElse(key,
      throw new IllegalArgumentException(s"[$section] needs $key"))

  private def chSink(c: Map[String, String]): ClickHouseFlowSink =
    new ClickHouseFlowSink(req(c, "clickhouse", "url"),
      c.getOrElse("table", "flows"),
      c.getOrElse("user", ""), c.getOrElse("password", ""),
      c.getOrElse("batch_size", "10000").toInt,
      c.getOrElse("create_table", "true").toBoolean)

  /** Assemble and start the configured topology; returns the running
    * queries. Caller owns awaitTermination/stop.
    *
    * With BOTH sinks configured, ONE streaming query fans each
    * micro-batch out to parquet and ClickHouse via foreachBatch — a
    * second streaming query would need its own udp-flows stream on the
    * same endpoint, which the source forbids (commit-trim races). The
    * trade-off vs the native parquet sink: foreachBatch parquet appends
    * are at-least-once on retry rather than exactly-once file commits.
    */
  def start(spark: SparkSession,
      config: Map[String, Map[String, String]]): Seq[StreamingQuery] = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    LocalFs.install(spark)
    val flows = FlowPipeline.decode(packetStream(spark, config),
      Some(templateScope(config)))
    (config.get("parquet"), config.get("clickhouse")) match {
      case (Some(p), Some(c)) =>
        val dir = req(p, "parquet", "dir")
        val sink = chSink(c)
        val q = FlowPipeline.withDateHour(flows.toDF())
          .writeStream
          .foreachBatch { (df: DataFrame, id: Long) =>
            val batch = df.persist()
            try {
              batch.write.mode("append").partitionBy("date", "hour").parquet(dir)
              sink.write(batch.drop("date", "hour"), id)
            } finally { batch.unpersist(); () }
          }
          .option("checkpointLocation", req(p, "parquet", "checkpoint"))
          .trigger(Trigger.ProcessingTime(p.getOrElse("interval", "60 seconds")))
          .outputMode(OutputMode.Append())
          .start()
        Seq(q)
      case (Some(p), None) =>
        Seq(FlowPipeline.startParquetSink(flows, req(p, "parquet", "dir"),
          req(p, "parquet", "checkpoint"), p.getOrElse("interval", "60 seconds")))
      case (None, Some(c)) =>
        Seq(FlowPipeline.startForeachBatchSink(flows, chSink(c),
          req(c, "clickhouse", "checkpoint"),
          c.getOrElse("interval", "60 seconds")))
      case (None, None) =>
        throw new IllegalArgumentException(
          "config has no sink section ([parquet]/[clickhouse])")
    }
  }

  def start(spark: SparkSession, configText: String): Seq[StreamingQuery] =
    start(spark, parseConfig(configText))
}
