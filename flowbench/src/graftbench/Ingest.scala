package graftbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.file.{Files, Path}
import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.{ClickHouseFlowSink, FlowApp, FlowPipeline, NetFlowCodec, UdpFlowSource}

/** The two ingest workloads: a seeded exporter fleet feeds `udp-flows`
  * (injection path, `socket=false`) in a closed loop — round r+1 is
  * injected only after the micro-batch holding round r has committed.
  *
  *  - ingest_parquet: `FlowPipeline.decode(packets, Some(scope))` →
  *    `FlowPipeline.startParquetSink`, large rounds.
  *  - ingest_fanout: `FlowApp.start` with `[parquet]` and `[clickhouse]`
  *    sections (the JDBC URL is in-memory Derby), small rounds.
  */
object Ingest {
  /** Rounds injected before timing starts (the first is the template boot). */
  val WarmRounds = 15
  private val CommitTimeoutMs = 60000L

  /** Records the progress of the one streaming query and lets the
    * generator wait for the commit covering a given source offset.
    */
  final class Progress extends StreamingQueryListener {
    private val lock = new ReentrantLock()
    private val advanced = lock.newCondition()
    private var committed = 0L
    private var commitNs = 0L
    val events = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress)]

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      lock.lock()
      try advanced.signalAll() finally lock.unlock()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      val p = e.progress
      lock.lock()
      try {
        events += now -> p
        p.sources.headOption.flatMap(s => Option(s.endOffset))
          .flatMap(o => scala.util.Try(o.trim.toLong).toOption)
          .foreach { end =>
            if (end > committed) { committed = end; commitNs = now }
          }
        advanced.signalAll()
      } finally lock.unlock()
    }

    /** Wait until the source offset `seq` is committed; the commit's
      * listener arrival time, or -1 on timeout / query death.
      */
    def awaitCommitted(seq: Long, q: StreamingQuery): Long = {
      val deadline = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(CommitTimeoutMs)
      lock.lock()
      try {
        while (committed < seq) {
          if (!q.isActive || System.nanoTime() > deadline) return -1L
          advanced.await(50, TimeUnit.MILLISECONDS)
        }
        commitNs
      } finally lock.unlock()
    }

    def snapshot: Seq[(Long, StreamingQueryProgress)] = {
      lock.lock()
      try events.toList finally lock.unlock()
    }
  }

  final case class RoundStat(round: Int, recvUs: Long, injectNs: Long, commitNs: Long,
      records: Int)

  def run(ctx: Ctx, workload: String): Outcome = {
    val spark = ctx.spark
    val fanout = workload == "ingest_fanout"
    val sim = new ExporterSim(ctx.seed, SimConfig.forWorkload(workload))
    val dir = ctx.runDir.resolve(workload)
    val outDir = dir.resolve("flows").toString
    val port = 9000 + (ctx.seed % 1000).toInt.abs
    val key = s"127.0.0.1:$port"
    UdpFlowSource.clear(key)
    val derbyUrl = s"jdbc:derby:memory:flowbench$port;create=true"
    val table = "FLOWS"

    val progress = new Progress
    spark.streams.addListener(progress)
    val query: StreamingQuery = ctx.trace.span("stream.start", workload) { _ =>
      if (fanout) {
        createDerbyTable(derbyUrl, table, idempotent = false)
        val conf = FlowApp.parseConfig(
          s"""[listener.main]
             |host = 127.0.0.1
             |port = $port
             |socket = false
             |partitions = ${ctx.cores}
             |
             |[parquet]
             |dir = $outDir
             |checkpoint = ${dir.resolve("ckpt")}
             |interval = 0 seconds
             |
             |[clickhouse]
             |url = "$derbyUrl"
             |table = $table
             |create_table = false
             |""".stripMargin)
        FlowApp.start(spark, conf).head
      } else {
        val packets = spark.readStream.format("udp-flows")
          .option("host", "127.0.0.1").option("port", port.toString)
          .option("socket", "false").option("partitions", ctx.cores.toString)
          .load()
        val flows = FlowPipeline.decode(packets, Some(s"flowbench:$key"))
        FlowPipeline.startParquetSink(flows, outDir, dir.resolve("ckpt").toString,
          "0 seconds")
      }
    }

    // ---------------------------------------------------------------- loop
    val truth = mutable.Map.empty[String, Truth]
    var seq = 0L
    var r = 0
    var stalled = false
    def injectRound(): Option[RoundStat] = ctx.trace.span("round", s"round:$r") { id =>
      val (dgs, t) = sim.round(r)
      val recvUs = System.currentTimeMillis() * 1000L
      val t0 = System.nanoTime()
      ctx.trace.span("source.inject", s"round:$r", id) { _ =>
        dgs.foreach(d => UdpFlowSource.inject(key, recvUs, d.peer, d.payload))
      }
      seq += dgs.length
      t.foreach { case (peer, x) => truth(peer) = truth.getOrElse(peer, Truth.zero) + x }
      val done = ctx.trace.span("stream.await_commit", s"round:$r", id) { _ =>
        progress.awaitCommitted(seq, query)
      }
      if (done < 0) { stalled = true; None }
      else {
        r += 1
        Some(RoundStat(r - 1, recvUs, t0, done, dgs.map(_.records).sum))
      }
    }
    def window(seconds: Double): Seq[RoundStat] = {
      val out = mutable.ArrayBuffer.empty[RoundStat]
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (!stalled && System.nanoTime() < end) injectRound().foreach(out += _)
      out.toSeq
    }

    val warm = mutable.ArrayBuffer.empty[RoundStat]
    val streamS = ctx.sinceLaunchS()
    while (!stalled && r < WarmRounds) injectRound().foreach(warm += _)
    val setupS = ctx.sinceLaunchS()

    val plain = window(ctx.seconds)
    val counters = new ExecCounters
    val traced =
      if (!ctx.trace.enabled) Nil
      else {
        spark.sparkContext.addSparkListener(counters)
        ctx.trace.on = true
        try window(ctx.seconds)
        finally spark.sparkContext.removeSparkListener(counters)
      }
    val failure = query.exception.map(_.toString)
    query.stop()
    spark.streams.removeListener(progress)
    UdpFlowSource.clear(key)

    // ----------------------------------------------------- read back, check
    val problems = mutable.ArrayBuffer.empty[String]
    failure.foreach(f => problems += s"stream failed: $f")
    if (stalled) problems += s"stream stalled: round $r not committed in ${CommitTimeoutMs / 1000} s"
    val stored = spark.read.parquet(outDir)
    val perExporter = aggregate(stored)
    // Records lost count as failed; an exporter whose stored rows do not
    // add up to what it sent fails with all its records.
    val lost = mutable.Map.empty[String, Long]
    val mismatched = mutable.Set.empty[String]
    truth.foreach { case (peer, t) =>
      val s = perExporter.getOrElse(peer, Truth.zero)
      if (s.count > t.count || s.bytes > t.bytes || s.packets > t.packets ||
          (s.count == t.count && s != t)) {
        mismatched += peer
        problems += s"exporter $peer: stored $s, sent $t"
      } else if (s.count < t.count) lost(peer) = t.count - s.count
    }
    (perExporter.keySet -- truth.keySet).foreach { peer =>
      mismatched += peer
      problems += s"exporter $peer: ${perExporter(peer)} stored, never sent"
    }
    if (lost.nonEmpty)
      problems += s"records lost against simulator truth: " +
        lost.toSeq.sortBy(_._1).map { case (p, n) => s"$p=$n" }.mkString(", ")
    if (fanout) {
      val jdbc = derbyAggregate(derbyUrl, table)
      val differ = (jdbc.keySet ++ perExporter.keySet).filter(k => jdbc.get(k) != perExporter.get(k))
      if (differ.nonEmpty)
        problems += s"Derby table disagrees with Parquet output for ${differ.toSeq.sorted.mkString(", ")}"
      mismatched ++= differ
    }

    // Records of the untraced window, told apart by their receive time.
    val committedTimed = if (plain.isEmpty) 0L else stored
      .filter(col("recv_ts") >= lit(new Timestamp(plain.head.recvUs / 1000L)) &&
        col("recv_ts") <= lit(new Timestamp(plain.last.recvUs / 1000L)))
      .count()
    val lat = plain.map(s => (s.commitNs - s.injectNs) / 1e6)
    val files = parquetFiles(Path.of(outDir))
    val storedCount = perExporter.values.map(_.count).sum
    val attempted = truth.values.map(_.count).sum
    val failed = math.min(attempted, (lost -- mismatched).values.sum +
      mismatched.toSeq.map(p => truth.get(p).map(_.count).getOrElse(0L)).sum)

    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "success_ratio" -> (if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted),
      "throughput_per_s" -> committedTimed / wallS(plain),
      "latency_ms" -> Stats.quantile(lat, 0.5),
      "sink.parquet_bytes_per_record" ->
        files.map(Files.size).sum.toDouble / math.max(1L, storedCount))
    val detail = mutable.LinkedHashMap[String, Any](
      "ingest.records_per_s" -> metrics("throughput_per_s"),
      "ingest.batch_p50_ms" -> Stats.quantile(lat, 0.5),
      "ingest.batch_p90_ms" -> Stats.quantile(lat, 0.9),
      "ingest.bytes_per_record" -> metrics("sink.parquet_bytes_per_record"),
      "failed_ratio" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "batches_timed" -> plain.size,
      "records_timed" -> committedTimed,
      "records_per_batch" -> Stats.median(plain.map(_.records.toDouble)),
      "exporters" -> truth.size,
      "rounds_total" -> r,
      "stream_started_s" -> streamS,
      "warm_round_ms" -> warm.map(s => ((s.commitNs - s.injectNs) / 1e5).round / 10.0),
      "timed_round_ms" -> plain.map(s => ((s.commitNs - s.injectNs) / 1e5).round / 10.0))

    if (ctx.trace.enabled && plain.nonEmpty && traced.nonEmpty) {
      val layer = layers(ctx, sim, progress.snapshot, counters,
        plain, traced, files.size, derbyUrl)
      metrics ++= layer
    }
    Outcome(metrics.toMap, detail.toMap, attempted, failed, mismatched.isEmpty, problems.toSeq)
  }

  // ------------------------------------------------------------ per-layer
  private def layers(ctx: Ctx, sim: ExporterSim,
      events: Seq[(Long, StreamingQueryProgress)], counters: ExecCounters,
      plain: Seq[RoundStat], traced: Seq[RoundStat], files: Int,
      derbyUrl: String): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    // Progress of the micro-batches that ran in the traced window.
    val (tFrom, tUntil) = (traced.head.injectNs, traced.last.commitNs)
    val tracedBatches = events.filter { case (ns, p) =>
      ns >= tFrom && ns <= tUntil && p.numInputRows > 0
    }.map(_._2)
    tracedBatches.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val startNs = ctx.wallToNano(start.toEpochMilli)
      var at = startNs
      val trig = ctx.trace.add("stream.trigger", startNs,
        startNs + dur(p, "triggerExecution") * 1000000L, 0L, s"batch:${p.batchId}")
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = dur(p, k) * 1000000L
          ctx.trace.add(s"stream.$k", at, at + d, trig, s"batch:${p.batchId}")
          at += d
        }
    }
    def medDur(k: String) = Stats.median(tracedBatches.map(dur(_, k).toDouble))
    m("source.latest_offset_ms") = medDur("latestOffset")
    m("source.get_batch_ms") = medDur("getBatch")
    m("stream.add_batch_ms") = medDur("addBatch")
    m("stream.query_planning_ms") = medDur("queryPlanning")
    m("stream.wal_commit_ms") = medDur("walCommit")
    m("stream.commit_offsets_ms") = medDur("commitOffsets")
    m("stream.trigger_ms") = medDur("triggerExecution")

    val batchKeys = tracedBatches.map(p => s"batch:${p.batchId}")
    val units = batchKeys.map(counters.counts)
    m("stream.jobs_per_batch") = Stats.median(units.map(_.jobs.toDouble))
    m("stream.tasks_per_batch") = Stats.median(units.map(_.tasks.toDouble))
    m("source.partition_skew") = Stats.median(units.flatMap { u =>
      u.recordsRead.toSeq.sortBy(_._1).headOption.map { case (_, rs) =>
        rs.max.toDouble / (rs.sum.toDouble / rs.length)
      }
    })
    m("app.batch_persist_bytes") = Stats.median(batchKeys.map(counters.persistedBytes(_).toDouble))
    m("sink.parquet_files_per_batch") =
      files.toDouble / math.max(1, events.count(_._2.numInputRows > 0))
    val triggerMs = tracedBatches.map(dur(_, "triggerExecution").toDouble).sum
    m ++= execMetrics(units, triggerMs, ctx.cores, per = units.size)

    // Layer probes, after the stream has stopped.
    val lastRound = traced.last.round
    m ++= decodeProbe(ctx, sim, 0 to lastRound)
    m ++= sinkProbes(ctx, sim, lastRound + 1, derbyUrl)
    m ++= socketProbe(ctx, sim)
    val overhead = wallS(traced) / math.max(1, traced.map(_.records).sum) /
      (wallS(plain) / math.max(1, plain.map(_.records).sum))
    m("trace.overhead_ratio") = overhead
    m.toMap
  }

  private[graftbench] def execMetrics(units: Seq[ExecCounters#Counts], wallMs: Double,
      cores: Int, per: Int): Map[String, Double] = {
    val n = math.max(1, per).toDouble
    val taskMs = units.flatMap(_.taskMs.map(_.toDouble))
    Map(
      "exec.jobs" -> units.map(_.jobs).sum / n,
      "exec.stages" -> units.map(_.stages).sum / n,
      "exec.tasks" -> units.map(_.tasks).sum / n,
      "exec.task_p50_ms" -> (if (taskMs.isEmpty) 0.0 else Stats.median(taskMs)),
      "exec.busy_share" -> units.map(_.runMs).sum / math.max(1.0, wallMs * cores),
      "exec.gc_ms" -> units.map(_.gcMs).sum / n,
      "exec.shuffle_read_bytes" -> units.map(_.shuffleRead).sum / n,
      "exec.shuffle_write_bytes" -> units.map(_.shuffleWrite).sum / n,
      "exec.spill_bytes" -> units.map(_.spill).sum / n)
  }

  /** Single-thread `NetFlowCodec.decode` over the run's datagrams, batch by
    * batch as the decode stage sees them: each batch cut into the source's
    * positional input partitions, every partition starting from the
    * template state as it stood when the batch began (the order in which
    * concurrent partition tasks snapshot the shared template store when
    * none has written back yet), changes written back after.
    */
  def decodeProbe(ctx: Ctx, sim: ExporterSim, rounds: Range): Map[String, Double] = {
    val batches = rounds.map(sim.round(_)._1)
    val encoded = batches.map(_.map(_.records.toLong).sum).sum
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    var store = Map.empty[NetFlowCodec.TemplateKey, NetFlowCodec.Template]
    var decoded = 0L
    var beforeTemplate = 0L
    var otherErrors = 0L
    val a0 = mx.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    ctx.trace.span("decode.replay", "probe") { _ =>
      batches.foreach { dgs =>
        val snapshot = store
        dgs.grouped(math.max(1, dgs.length / ctx.cores)).foreach { part =>
          var templates = snapshot
          part.foreach { d =>
            val res = NetFlowCodec.decode(d.peer, 0L, d.payload, templates)
            templates = res.templates
            decoded += res.records.size
            res.errors.foreach { e =>
              if (e.contains("before template")) beforeTemplate += 1 else otherErrors += 1
            }
          }
          store = store ++ templates.filter { case (k, v) => !snapshot.get(k).contains(v) }
        }
      }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val alloc = mx.getThreadAllocatedBytes(tid) - a0
    Map(
      "decode.records_per_s" -> decoded / dt,
      "decode.alloc_bytes_per_record" -> alloc.toDouble / math.max(1L, decoded),
      "decode.yield" -> decoded.toDouble / math.max(1L, encoded),
      "decode.errors" -> (beforeTemplate + otherErrors).toDouble,
      "decode.errors.before_template" -> beforeTemplate.toDouble,
      "decode.errors.other" -> otherErrors.toDouble)
  }

  /** Batch-mode decode + partitioned Parquet write of one round, and
    * `ClickHouseFlowSink.write` of that decoded round into Derby with
    * `idempotent` off and on.
    */
  private def sinkProbes(ctx: Ctx, sim: ExporterSim, round: Int,
      derbyUrl: String): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val scope = s"flowbench-probe:${ctx.seed}"
    // The probe's template scope learns the fleet's templates first, as the
    // running collector had.
    val announce = sim.exporters.filter(_.version != 5).map(_.joinRound).distinct
    val seedRows = announce.flatMap(r => sim.round(r)._1.filter(_.records == 0))
      .map(d => (new Timestamp(0L), d.peer, d.payload))
    FlowPipeline.decode(seedRows.toDF("recv_ts", "peer", "payload"), Some(scope)).count()
    val dgs = sim.round(round)._1
    val packets = dgs.toSeq.map(d => (new Timestamp(ExporterSim.BaseMs), d.peer, d.payload))
      .toDF("recv_ts", "peer", "payload")
    val out = ctx.runDir.resolve("probe-parquet").toString
    val parquetMs = (1 to 5).map { i =>
      ctx.trace.span("sink.parquet_write", s"probe:$i") { _ =>
        val t0 = System.nanoTime()
        FlowPipeline.decode(packets, Some(scope)).toDF()
          .withColumn("date", date_format(col("start_ts"), "yyyy-MM-dd"))
          .withColumn("hour", date_format(col("start_ts"), "HH"))
          .write.mode("append").partitionBy("date", "hour").parquet(out)
        (System.nanoTime() - t0) / 1e6
      }
    }
    val batch = FlowPipeline.decode(packets, Some(scope)).toDF().persist()
    val rows = batch.count()
    createDerbyTable(derbyUrl, "PROBE_PLAIN", idempotent = false)
    createDerbyTable(derbyUrl, "PROBE_IDEM", idempotent = true)
    val plainSink = new ClickHouseFlowSink(derbyUrl, "PROBE_PLAIN", createTable = false)
    val idemSink = new ClickHouseFlowSink(derbyUrl, "PROBE_IDEM", createTable = false,
      idempotent = true)
    val (plainMs, idemMs) = (1 to 3).map { i =>
      def time(name: String, sink: ClickHouseFlowSink) =
        ctx.trace.span(name, s"probe:$i") { _ =>
          val t0 = System.nanoTime()
          sink.write(batch, i.toLong)
          (System.nanoTime() - t0) / 1e6
        }
      (time("sink.jdbc_write", plainSink), time("sink.jdbc_write_idempotent", idemSink))
    }.unzip
    batch.unpersist()
    val jdbcMs = Stats.median(plainMs)
    Map(
      "sink.parquet_write_ms" -> Stats.median(parquetMs),
      "sink.jdbc_write_ms" -> jdbcMs,
      "sink.jdbc_rows_per_s" -> rows / (jdbcMs / 1000.0),
      "sink.jdbc_idempotent_ratio" -> Stats.median(idemMs) / jdbcMs)
  }

  /** Receive layer alone: one thread sends datagrams to a `socket=true`
    * stream on localhost at a fixed pace; packets/s received and the share
    * lost.
    */
  private def socketProbe(ctx: Ctx, sim: ExporterSim): Map[String, Double] = {
    val spark = ctx.spark
    val RatePps = 20000
    val Seconds = 1.0
    val port = { val s = new DatagramSocket(0, InetAddress.getLoopbackAddress); try s.getLocalPort finally s.close() }
    val progress = new Progress
    spark.streams.addListener(progress)
    val q = spark.readStream.format("udp-flows")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("partitions", ctx.cores.toString).load()
      .writeStream.format("noop")
      .option("checkpointLocation", ctx.runDir.resolve("socket-ckpt").toString)
      .trigger(Trigger.ProcessingTime(0L)).start()
    val payloads = sim.round(1)._1.map(_.payload)
    val sock = new DatagramSocket()
    val to = InetAddress.getLoopbackAddress
    def send(i: Int): Unit = {
      val p = payloads(i % payloads.length)
      sock.send(new DatagramPacket(p, p.length, to, port))
    }
    def received: Long = progress.snapshot.map(_._2.numInputRows).sum
    try {
      // Until the receiver is bound and one batch has gone through.
      var i = 0
      val bindDeadline = System.nanoTime() + 20000000000L
      while (received == 0L && System.nanoTime() < bindDeadline) { send(i); i += 1; Thread.sleep(20) }
      val before = received
      val total = (RatePps * Seconds).toInt
      val t0 = System.nanoTime()
      ctx.trace.span("source.socket_send", "probe") { _ =>
        var k = 0
        while (k < total) {
          val due = t0 + (k.toLong * 1000000000L) / RatePps
          while (System.nanoTime() < due) Thread.onSpinWait()
          send(k); k += 1
        }
      }
      val sendS = (System.nanoTime() - t0) / 1e9
      // Drain: wait until the stream has taken in every datagram the
      // receiver buffered, or nothing more arrives for a second.
      var last = -1L
      var now = received
      while (now != last) { last = now; Thread.sleep(1000); now = received }
      val got = (now - before).toDouble
      Map("source.socket_pps" -> got / sendS,
        "source.socket_loss_ratio" -> math.max(0.0, 1.0 - got / total))
    } finally {
      sock.close()
      q.stop()
      spark.streams.removeListener(progress)
    }
  }

  // ------------------------------------------------------------- helpers
  private def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  private def wallS(rs: Seq[RoundStat]): Double =
    if (rs.isEmpty) Double.NaN else (rs.last.commitNs - rs.head.injectNs) / 1e9

  private def aggregate(df: DataFrame): Map[String, Truth] =
    df.groupBy("exporter").agg(count(lit(1)), sum("bytes"), sum("packets")).collect()
      .map(r => r.getString(0) -> Truth(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  private def derbyAggregate(url: String, table: String): Map[String, Truth] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT exporter, COUNT(*), SUM(bytes), SUM(packets) FROM $table GROUP BY exporter")
      val out = mutable.Map.empty[String, Truth]
      while (rs.next()) out(rs.getString(1)) = Truth(rs.getLong(2), rs.getLong(3), rs.getLong(4))
      out.toMap
    } finally c.close()
  }

  /** The flow table in ANSI DDL (ClickHouse DDL does not run on Derby). */
  private def createDerbyTable(url: String, table: String, idempotent: Boolean): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      s"""CREATE TABLE $table (
         |recv_ts TIMESTAMP, exporter VARCHAR(64), domain BIGINT,
         |start_ts TIMESTAMP, end_ts TIMESTAMP, duration_ms BIGINT,
         |src_addr VARCHAR(64), dst_addr VARCHAR(64), src_port INT,
         |dst_port INT, protocol INT, tcp_flags INT, packets BIGINT,
         |bytes BIGINT, in_if INT, out_if INT, src_as BIGINT, dst_as BIGINT,
         |next_hop VARCHAR(64), tos INT, raw BLOB${if (idempotent) ", graft_batch_id BIGINT" else ""})"""
        .stripMargin.replace("\n", " "))
    finally c.close()
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !p.toString.contains("_spark_metadata")
      }.toList finally s.close()
    }
}
