package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{FlowPipeline, FlowRecord, NetFlowCodec, PacketSlice, UdpFlowSource, UdpMicroBatchStream, UdpOffset}

/** End-to-end streaming tests: the UDP DSv2 source feeding the decode
  * stage, watermark late-data eviction, stateful flow expiry, streaming
  * dedup, and the time-rotated parquet sink.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def tmp(prefix: String): String = tmpDir(prefix).toString

  /** Minimal v5 packet with one record (see NetFlowCodecSpec for layout). */
  private def v5Packet(srcPort: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(24 + 48).order(ByteOrder.BIG_ENDIAN)
    buf.putShort(5).putShort(1).putInt(1000).putInt(1700000000).putInt(0)
      .putInt(1).put(0.toByte).put(0.toByte).putShort(0)
    buf.putInt(0x0A000001).putInt(0x0A000002).putInt(0)
      .putShort(1).putShort(2).putInt(1).putInt(100).putInt(500).putInt(600)
      .putShort(srcPort.toShort).putShort(80.toShort)
      .put(0.toByte).put(2.toByte).put(6.toByte).put(0.toByte)
      .putShort(0).putShort(0).put(0.toByte).put(0.toByte).putShort(0)
    buf.array()
  }

  test("udp source (injected) → decode stage → flow records") {
    val key = "0.0.0.0:9995"
    UdpFlowSource.clear(key)
    (0 until 5).foreach { i =>
      UdpFlowSource.inject(key, 1700000000000000L + i, "10.9.9.9", v5Packet(1000 + i))
    }
    val packets = spark.readStream.format("udp-flows")
      .option("port", "9995").option("socket", "false").load()
    val flows = FlowPipeline.decode(packets)
    val q = flows.writeStream.format("memory").queryName("udp_flows")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT src_port, src_addr, bytes FROM udp_flows ORDER BY src_port")
      .collect()
    assert(got.length == 5)
    assert(got.head.getInt(0) == 1000 && got.head.getString(1) == "10.0.0.1")
    assert(got.forall(_.getLong(2) == 100L))
    UdpFlowSource.clear(key)
  }

  test("udp source over a real socket receives datagrams") {
    val port = 19995
    val key = s"0.0.0.0:$port"
    UdpFlowSource.clear(key)
    val packets = spark.readStream.format("udp-flows")
      .option("port", port.toString).load()
    val q = FlowPipeline.decode(packets)
      .writeStream.format("memory").queryName("udp_live")
      .outputMode(OutputMode.Append()).start()
    try {
      val sock = new java.net.DatagramSocket()
      val addr = java.net.InetAddress.getByName("127.0.0.1")
      (0 until 3).foreach { i =>
        val p = v5Packet(2000 + i)
        sock.send(new java.net.DatagramPacket(p, p.length, addr, port))
      }
      sock.close()
      // Poll until the receiver thread + micro-batches drain the datagrams.
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < 3 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) FROM udp_live").head().getLong(0)
      }
      assert(n == 3)
    } finally { q.stop(); UdpFlowSource.clear(key) }
  }

  test("watermark drops late rows from windowed aggregation state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(sum("v").as("total"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("total"))
    val q = agg.writeStream.format("memory").queryName("wm_agg")
      .outputMode(OutputMode.Append()).start()

    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    input.addData((ts(0), 1L), (ts(1), 2L))   // both in window [22:10, 22:15)
    q.processAllAvailable()
    input.addData((ts(30), 5L))               // advances watermark to min 20
    q.processAllAvailable()                   // [0,5) closes and emits
    input.addData((ts(1), 100L))              // LATE: behind watermark → dropped
    q.processAllAvailable()
    input.addData((ts(60), 7L))               // closes [30,35)
    q.processAllAvailable()
    val rows = spark.sql("SELECT ws, total FROM wm_agg ORDER BY ws").collect()
    val byWs = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // First window emitted once with the on-time sum only; late +100 never lands.
    assert(byWs(1700000000L / 300 * 300) == 3L)
    q.stop()
  }

  test("stateful flow expiry emits aggregate after idle timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FlowPipeline.PacketObs]
    def obs(key: String, min: Int, pkts: Long, bytes: Long) =
      FlowPipeline.PacketObs(key, new Timestamp(1700000000000L + min * 60000L), pkts, bytes)

    val expired = FlowPipeline.expireFlows(input.toDS(), idleMs = 5 * 60000L,
      watermarkDelay = "0 seconds")
    val q = expired.writeStream.format("memory").queryName("expired")
      .outputMode(OutputMode.Append()).start()

    input.addData(obs("f1", 0, 2, 200), obs("f1", 2, 3, 300))
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM expired").head().getLong(0) == 0L)
    input.addData(obs("f2", 30, 1, 50)) // watermark jumps past f1's idle deadline
    q.processAllAvailable()
    input.addData(obs("f2", 31, 1, 50)) // one more batch so the timeout fires
    q.processAllAvailable()
    val rows = spark.sql("SELECT flow_key, packets, bytes FROM expired").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      .contains(("f1", 5L, 500L)))
    q.stop()
  }

  test("stream-stream interval join with watermarks") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF().toDF("user", "cts").withWatermark("cts", "10 minutes")
    val b = buys.toDF().toDF("buser", "bts").withWatermark("bts", "10 minutes")
    // purchase attributed to a click within the preceding 30 minutes
    val joined = c.join(b,
      col("user") === col("buser") &&
        col("bts") >= col("cts") && col("bts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    clicks.addData((1L, ts(0)), (2L, ts(5)))
    buys.addData((1L, ts(10)))          // within 30 min of user 1's click → match
    q.processAllAvailable()
    buys.addData((2L, ts(50)))          // 45 min after user 2's click → no match
    clicks.addData((3L, ts(60)))        // advance watermark
    buys.addData((3L, ts(61)))
    q.processAllAvailable()
    val got = spark.sql("SELECT user FROM ssj").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L))
    q.stop()
  }

  test("streaming ingest dedup: stream-static anti-join admits only novel docs") {
    // The incremental-dedup operating mode as a STREAM: candidate docs
    // arrive continuously, the standing corpus is a (static) table, and
    // only documents not already in the corpus pass the admission
    // filter. Exactly IncrementalDedup.classify's exact layer, run
    // per micro-batch by the stream-static anti-join.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "existing corpus document one"),
      (2L, "existing corpus document two")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val admitted = graft.ops.IncrementalDedup.admitNovel(
      input.toDF().toDF("doc_id", "text"), corpus)
    val q = admitted.writeStream.format("memory").queryName("admit")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      (10L, "existing corpus document one"),   // dup of corpus → dropped
      (11L, "a genuinely new document"))       // novel → admitted
    q.processAllAvailable()
    input.addData(
      (12L, "existing corpus document two"),   // dup → dropped
      (13L, "another new document entirely"),  // novel → admitted
      (14L, "a genuinely new document"))       // dup of a STREAM doc, not
                                               // corpus → still admitted
                                               // (stream-internal dedup is
                                               // dropDuplicates' job)
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM admit").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(11L, 13L, 14L), s"admission filter wrong: $got")
    q.stop()
  }

  test("semantic admission filter: in-range vectors dropped, novel admitted per batch") {
    // admitNovel's embedding twin: per micro-batch, the asymmetric
    // sign-LSH probe flags stream vectors with a corpus neighbor at
    // cosine >= tau; only novel vectors reach the sink. Stream-internal
    // near-dups are explicitly NOT this filter's job (same non-goal as
    // the exact layer).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = 8
    def unit(i: Int): Array[Float] =
      Array.tabulate(dim)(j => if (j == i) 1f else 0f)
    val corpus = Seq((1L, unit(0)), (2L, unit(1))).toDF("vec_id", "embedding")
    val p = graft.ops.Sketches.LshParams(nbits = 6, tables = 10, probe = 1)
    // r14: the DEEP-BIT gate parameterization (nbits 12, tables 8 = the
    // LshTauProbe-measured nbits-12 edge ×4 — AdmitRateProbe's 5.6×
    // throughput winner) must admit the same set as the shallow one.
    val p12 = graft.ops.Sketches.LshParams(nbits = 12, tables = 8, probe = 1)
    // All corpus-side forms must admit the identical set: recompute-
    // per-batch (default — growing corpus picked up without restart)
    // and stageCorpus = true (anchors persisted once — the production
    // standing-corpus form), at both bit depths.
    for ((staged, pp) <- Seq((false, p), (true, p), (true, p12))) {
      val input = MemoryStream[(Long, Array[Float])]
      val got = scala.collection.mutable.ArrayBuffer[Long]()
      val q = graft.ops.IncrementalDedup.admitNovelSemantic(
          input.toDF().toDF("vec_id", "embedding"), corpus, pp, tau = 0.6,
          stageCorpus = staged) {
        (batch, _) =>
          val ids = batch.select("vec_id").collect().map(_.getLong(0))
          got.synchronized { got ++= ids }
      }.start()
      // near-but-not-identical corpus-2 neighbor: cosine ~ 0.98 >= tau
      val near2 = Array.tabulate(dim)(j =>
        if (j == 1) 0.98f else if (j == 2) 0.2f else 0f)
      input.addData((10L, unit(0)), (11L, unit(3))) // 10 = corpus dup, 11 novel
      q.processAllAvailable()
      input.addData((12L, near2), (13L, unit(3)))   // 12 near corpus → dropped;
                                                    // 13 dups a STREAM doc only
                                                    // → still admitted
      q.processAllAvailable()
      q.stop()
      assert(got.sorted.toSeq == Seq(11L, 13L),
        s"semantic admission wrong (staged=$staged, p=$pp): $got")
    }
  }

  test("streaming dropDuplicates matches the declared batch dedup shape") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val dedup = input.toDF().toDF("user_id", "event_type", "value")
      .dropDuplicates("user_id", "event_type", "value")
    val q = dedup.writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, "click", 1.0), (1L, "click", 1.0), (2L, "view", 2.0))
    q.processAllAvailable()
    input.addData((1L, "click", 1.0), (2L, "view", 3.0)) // dup across batches
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM dd").head().getLong(0) == 3L)
    q.stop()
  }

  test("dropDuplicatesWithinWatermark bounds dedup state and re-admits after eviction") {
    // VERDICT r14 #5: plain streaming dropDuplicates (above) keeps key
    // state FOREVER — correct, but unbounded at ingest scale. The
    // watermark-bounded form is the production ingest dedup: duplicates
    // arriving within the watermark delay of the first sighting are
    // dropped, and once the watermark passes the key's expiry the state
    // is EVICTED — so a late re-occurrence is admitted again. Both
    // halves are pinned here: the within-delay drop (the dedup
    // guarantee) and the post-eviction re-admission (the bounded-state
    // trade, the semantic difference from the unbounded form).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val dedup = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("user_id")
    val q = dedup.writeStream.format("memory").queryName("ddw")
      .outputMode(OutputMode.Append()).start()
    // Batch 1: key 1 twice within the delay (dup dropped), key 2 once.
    input.addData((1L, t(10)), (1L, t(15)), (2L, t(12)))
    q.processAllAvailable()
    // Batch 2: advance the watermark to 90 s — far past key 1's expiry
    // (last sighting 15 s + 10 s delay), so its state is evicted.
    input.addData((9L, t(100)))
    q.processAllAvailable()
    // Batch 3: key 1 re-arrives at 95 s (not late vs the 90 s
    // watermark, state gone) → admitted AGAIN.
    input.addData((1L, t(95)))
    q.processAllAvailable()
    val counts = spark.sql("SELECT user_id, count(*) FROM ddw GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 1L, 9L -> 1L),
      s"watermark-bounded dedup semantics wrong: $counts")
    // The unbounded form above would have emitted key 1 exactly once —
    // re-admission is the price of bounded state, paid only for gaps
    // longer than the declared watermark delay.
    q.stop()
  }

  test("time-rotated parquet sink writes date/hour partition directories") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "0.0.0.0:9996"
    UdpFlowSource.clear(key)
    UdpFlowSource.inject(key, 1700000000000000L, "10.9.9.8", v5Packet(1))
    val packets = spark.readStream.format("udp-flows")
      .option("port", "9996").option("socket", "false").load()
    val out = tmp("flow-sink")
    val q = FlowPipeline.startParquetSink(FlowPipeline.decode(packets),
      out, tmp("flow-ckpt"), interval = "1 seconds")
    q.processAllAvailable()
    q.stop()
    val files = Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
    // v5Packet: boot = 1700000000000 - 1000, start = boot + 500 → 2023-11-14 22:xx UTC
    assert(files.exists(_.contains("date=2023-11-14")), files.mkString("\n"))
    assert(files.exists(f => f.contains("hour=") && f.endsWith(".parquet")))
    val back = spark.read.parquet(out)
    assert(back.count() == 1 && back.select("src_port").head().getInt(0) == 1)
    UdpFlowSource.clear(key)
  }

  test("checkpoint recovery: restart resumes offsets, file sink stays exactly-once") {
    val key = "0.0.0.0:9998"
    UdpFlowSource.clear(key)
    val out = tmp("ck-out")
    val ckpt = tmp("ck-ckpt")
    def runOnce(): Unit = {
      val packets = spark.readStream.format("udp-flows")
        .option("port", "9998").option("socket", "false").load()
      val q = graft.streaming.FlowPipeline.decode(packets).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    (0 until 3).foreach(i =>
      UdpFlowSource.inject(key, 1700000000000000L + i, "10.9.9.6", v5Packet(4000 + i)))
    runOnce()
    (3 until 5).foreach(i =>
      UdpFlowSource.inject(key, 1700000000000000L + i, "10.9.9.6", v5Packet(4000 + i)))
    runOnce()
    val ports = spark.read.parquet(out).select("src_port")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ports == Seq(4000, 4001, 4002, 4003, 4004)) // all five, no dups
    UdpFlowSource.clear(key)
  }

  test("crash recovery: ungraceful mid-batch failure, rotating sink stays exactly-once") {
    // The last untested nf2pq operating-model property: a collector that
    // DIES mid-write must neither duplicate nor lose flows after restart.
    // Batch 2 is poisoned — a task-level throw while the ROTATED parquet
    // sink (date/hour partitions) is mid-batch — so its file-sink
    // transaction never commits; the restart replays the batch from the
    // checkpointed source offsets and commits it exactly once.
    import spark.implicits._
    val key = "0.0.0.0:9959"
    UdpFlowSource.clear(key)
    val out = tmp("crash-out")
    val ckpt = tmp("crash-ckpt")
    def packets() = spark.readStream.format("udp-flows")
      .option("port", "9959").option("socket", "false").load()
    // batch 1: clean, committed
    (0 until 3).foreach(i =>
      UdpFlowSource.inject(key, 1700000000000000L + i, "10.9.9.4", v5Packet(8000 + i)))
    val q1 = FlowPipeline.startParquetSink(FlowPipeline.decode(packets()),
      out, ckpt, interval = "1 seconds")
    q1.processAllAvailable(); q1.stop()
    // batch 2: the decode→sink pipeline crashes ON the second new row —
    // after the task already processed 8003, i.e. genuinely mid-batch.
    (3 until 5).foreach(i =>
      UdpFlowSource.inject(key, 1700000000000000L + i, "10.9.9.4", v5Packet(8000 + i)))
    val poisoned = FlowPipeline.decode(packets()).map { r =>
      if (r.src_port == 8004)
        throw new RuntimeException("poison: simulated mid-batch crash")
      r
    }
    val q2 = FlowPipeline.startParquetSink(poisoned, out, ckpt, interval = "1 seconds")
    val crashed =
      try { q2.processAllAvailable(); false }
      catch { case _: Throwable => true }
    assert(crashed, "poisoned batch should have failed the query")
    try q2.stop() catch { case _: Throwable => () }
    // Mid-crash invariant: only batch 1 is visible through the sink's
    // _spark_metadata commit log, even if the aborted task left orphan
    // part-files in the partition directories.
    val mid = spark.read.parquet(out).select("src_port")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(mid == Seq(8000, 8001, 8002), s"uncommitted batch leaked: $mid")
    // restart the CLEAN pipeline on the same checkpoint: batch 2 replays
    val q3 = FlowPipeline.startParquetSink(FlowPipeline.decode(packets()),
      out, ckpt, interval = "1 seconds")
    q3.processAllAvailable(); q3.stop()
    val ports2 = spark.read.parquet(out).select("src_port")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ports2 == Seq(8000, 8001, 8002, 8003, 8004),
      s"expected exactly-once recovery, got $ports2") // no dups, no loss
    UdpFlowSource.clear(key)
  }

  test("FlowApp: conf parses, assembles listeners→decode→parquet, rows land") {
    import graft.streaming.FlowApp
    val conf = FlowApp.parseConfig(
      """# nf2pq-shaped config
        |[listener.primary]
        |port = 9971           # injected, no socket in tests
        |socket = false
        |
        |[listener.backup]
        |port = 9972
        |socket = false
        |
        |[parquet]
        |dir = "__DIR__"
        |checkpoint = __CKPT__
        |interval = 1 seconds
        |""".stripMargin
        .replace("__DIR__", tmp("app-out"))
        .replace("__CKPT__", tmp("app-ckpt")))
    assert(conf("listener.primary")("port") == "9971")
    assert(conf("listener.backup")("socket") == "false")
    val outDir = conf("parquet")("dir")

    val k1 = "0.0.0.0:9971"
    val k2 = "0.0.0.0:9972"
    UdpFlowSource.clear(k1); UdpFlowSource.clear(k2)
    UdpFlowSource.inject(k1, 1700000000000000L, "10.1.1.1", v5Packet(7001))
    UdpFlowSource.inject(k2, 1700000000000001L, "10.1.1.2", v5Packet(7002))
    val qs = FlowApp.start(spark, conf)
    assert(qs.size == 1) // parquet sink only
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    // Both listeners' packets decoded into the one sink.
    val ports = spark.read.parquet(outDir).select("src_port")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ports == Seq(7001, 7002))
    UdpFlowSource.clear(k1); UdpFlowSource.clear(k2)
  }

  test("FlowApp template scope reads listener options as the source does (case-insensitive)") {
    import graft.streaming.FlowApp
    val conf = FlowApp.parseConfig(
      """[listener.a]
        |Port = 2056
        |HOST = 10.0.0.7
        |
        |[listener.b]
        |port = 2057
        |""".stripMargin)
    // The scope names the endpoints the source binds, not the defaults.
    assert(FlowApp.templateScope(conf) == "flowapp:0.0.0.0:2057,10.0.0.7:2056")
    val table = new UdpFlowSource().getTable(null, null,
      java.util.Map.of("Port", "2056", "HOST", "10.0.0.7"))
    assert(table.name() == "udp-flows:10.0.0.7:2056")
  }

  test("decodeErrors surfaces malformed packets instead of dropping them") {
    import spark.implicits._
    val ts = new Timestamp(1700000000000L)
    val packets = Seq(
      (ts, "10.6.6.6", v5Packet(7300)),          // good
      (ts, "10.6.6.7", Array[Byte](0, 99, 1)),   // unsupported version
      (ts, "10.6.6.8", Array[Byte](5.toByte))    // short packet
    ).toDF("recv_ts", "peer", "payload")
    assert(FlowPipeline.decode(packets).count() == 1)
    val errs = FlowPipeline.decodeErrors(packets).collect()
    assert(errs.length == 2)
    assert(errs.exists(_.contains("unsupported version")))
    assert(errs.exists(_.contains("short packet")))
  }

  /** v9 packet carrying an options template + one sampled data record:
    * options template 500 (scope System/4B + samplingInterval 34/4B),
    * data template 260 (srcPort 7/2B + octets 1/4B), one record each.
    * Shared by the capstone and FlowApp-loop tests.
    */
  private def v9WithOptions(srcPort: Int, bytes: Int, sampling: Int): Array[Byte] = {
    val ot = ByteBuffer.allocate(4 + 6 + 8).order(ByteOrder.BIG_ENDIAN)
    ot.putShort(1).putShort((4 + 6 + 8).toShort)
      .putShort(500.toShort).putShort(4.toShort).putShort(4.toShort)
      .putShort(1.toShort).putShort(4.toShort)
      .putShort(34.toShort).putShort(4.toShort)
    val od = ByteBuffer.allocate(4 + 8).order(ByteOrder.BIG_ENDIAN)
    od.putShort(500.toShort).putShort(12.toShort).putInt(0).putInt(sampling)
    val t = ByteBuffer.allocate(4 + 4 + 8).order(ByteOrder.BIG_ENDIAN)
    t.putShort(0).putShort(16.toShort).putShort(260.toShort).putShort(2.toShort)
      .putShort(7.toShort).putShort(2.toShort).putShort(1.toShort).putShort(4.toShort)
    val d = ByteBuffer.allocate(4 + 6).order(ByteOrder.BIG_ENDIAN)
    d.putShort(260.toShort).putShort(10.toShort)
      .putShort(srcPort.toShort).putInt(bytes)
    val body = ot.array() ++ od.array() ++ t.array() ++ d.array()
    val pkt = ByteBuffer.allocate(20 + body.length).order(ByteOrder.BIG_ENDIAN)
    pkt.putShort(9).putShort(4).putInt(1000).putInt(1700000000).putInt(1).putInt(7)
    pkt.put(body)
    pkt.array()
  }

  /** v9 packet carrying ONLY template 260 (srcPort 7/2B + octets 1/4B). */
  private def v9TemplateOnly(): Array[Byte] = {
    val t = ByteBuffer.allocate(4 + 4 + 8).order(ByteOrder.BIG_ENDIAN)
    t.putShort(0).putShort(16.toShort).putShort(260.toShort).putShort(2.toShort)
      .putShort(7.toShort).putShort(2.toShort).putShort(1.toShort).putShort(4.toShort)
    val pkt = ByteBuffer.allocate(20 + 16).order(ByteOrder.BIG_ENDIAN)
    pkt.putShort(9).putShort(1).putInt(1000).putInt(1700000000).putInt(1).putInt(7)
    pkt.put(t.array())
    pkt.array()
  }

  /** v9 packet carrying ONLY a data record for template 260. */
  private def v9DataOnly(srcPort: Int, bytes: Int): Array[Byte] = {
    val d = ByteBuffer.allocate(4 + 6).order(ByteOrder.BIG_ENDIAN)
    d.putShort(260.toShort).putShort(10.toShort)
      .putShort(srcPort.toShort).putInt(bytes)
    val pkt = ByteBuffer.allocate(20 + 10).order(ByteOrder.BIG_ENDIAN)
    pkt.putShort(9).putShort(1).putInt(1000).putInt(1700000000).putInt(2).putInt(7)
    pkt.put(d.array())
    pkt.array()
  }

  test("v9 templates persist across micro-batches (collector template cache)") {
    // The collector operating model: exporters send templates
    // PERIODICALLY, so a data record routinely lands in a later
    // micro-batch than its template. Without the TemplateStore scope the
    // per-batch decode must drop it (pure mode — the batch/replay
    // contract); with the scope it decodes, matching a real collector's
    // process-lifetime template cache.
    import spark.implicits._
    // One endpoint per query (the source forbids two streams on one
    // endpoint — last-wins eviction): cached mode on 9958, pure on 9957,
    // identical injections.
    val scope = "test-tmpl:9958"
    val kC = "0.0.0.0:9958"
    val kP = "0.0.0.0:9957"
    UdpFlowSource.clear(kC); UdpFlowSource.clear(kP)
    FlowPipeline.TemplateStore.clear(scope)
    def packets(port: Int) = spark.readStream.format("udp-flows")
      .option("port", port.toString).option("socket", "false").load()
    val cached = FlowPipeline.decode(packets(9958), Some(scope))
      .toDF().writeStream.format("memory").queryName("tmpl_cached")
      .outputMode(OutputMode.Append()).start()
    val pure = FlowPipeline.decode(packets(9957))
      .toDF().writeStream.format("memory").queryName("tmpl_pure")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: the template, alone
      UdpFlowSource.inject(kC, 1700000000000000L, "10.9.9.3", v9TemplateOnly())
      UdpFlowSource.inject(kP, 1700000000000000L, "10.9.9.3", v9TemplateOnly())
      cached.processAllAvailable(); pure.processAllAvailable()
      // batch 2: a data record for it — no template in this batch
      UdpFlowSource.inject(kC, 1700000000000001L, "10.9.9.3", v9DataOnly(9100, 77))
      UdpFlowSource.inject(kP, 1700000000000001L, "10.9.9.3", v9DataOnly(9100, 77))
      cached.processAllAvailable(); pure.processAllAvailable()
      val got = spark.sql("SELECT src_port, bytes FROM tmpl_cached").collect()
      assert(got.length == 1 && got.head.getInt(0) == 9100
        && got.head.getLong(1) == 77L,
        s"cached decode missed the cross-batch data record: ${got.toSeq}")
      // pure mode must NOT decode it (template state is per-batch) — and
      // the error stream names the reason
      assert(spark.sql("SELECT * FROM tmpl_pure").count() == 0)
      val errs = FlowPipeline.decodeErrors(
        Seq((new Timestamp(1700000000001L), "10.9.9.3", v9DataOnly(9100, 77)))
          .toDF("recv_ts", "peer", "payload")).collect()
      assert(errs.exists(_.toLowerCase.contains("template")), errs.toSeq)
    } finally {
      cached.stop(); pure.stop()
      FlowPipeline.TemplateStore.clear(scope)
      UdpFlowSource.clear(kC); UdpFlowSource.clear(kP)
    }
  }

  test("durable template state: restart from checkpoint decodes WITHOUT a template refresh") {
    // TemplateStore (the JVM-cache mode) honestly documents that a
    // restart empties the cache until the exporter's periodic template
    // refresh. decodeDurable closes that gap: templates are MANAGED
    // state (transformWithState, RocksDB store), restored from the
    // checkpoint on restart. Script: batch 1 carries ONLY the template;
    // the query is stopped (a restart — the new run loads state from
    // checkpoint files, not JVM memory); batch 2 carries ONLY a data
    // record, which must decode from the restored template.
    import spark.implicits._
    val key = "0.0.0.0:9960"
    UdpFlowSource.clear(key)
    val out = tmp("tmpl-durable-out")
    val ckpt = tmp("tmpl-durable-ckpt")
    // transformWithState needs a multi-column-family store (RocksDB);
    // set on the shared session for this test only, so every other
    // stateful test runs on the default store FlowApp uses.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def packets() = spark.readStream.format("udp-flows")
        .option("port", "9960").option("socket", "false").load()
      // run 1: template only
      UdpFlowSource.inject(key, 1700000000000000L, "10.9.9.5", v9TemplateOnly())
      val q1 = FlowPipeline.startParquetSink(
        FlowPipeline.decodeDurable(packets()), out, ckpt, interval = "1 seconds")
      q1.processAllAvailable(); q1.stop()
      // (no parquet read here: the template-only batch emits zero flows,
      // so the sink dir has no data files yet and schema inference would
      // throw — the final read asserts batch 1 contributed nothing.)
      // run 2 (the restart): data record only — no template in this run
      UdpFlowSource.inject(key, 1700000000000001L, "10.9.9.5", v9DataOnly(9100, 77))
      val q2 = FlowPipeline.startParquetSink(
        FlowPipeline.decodeDurable(packets()), out, ckpt, interval = "1 seconds")
      q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(out).select("src_port", "bytes").collect()
      assert(got.length == 1 && got.head.getInt(0) == 9100
        && got.head.getLong(1) == 77L,
        s"restored-state decode failed: ${got.toSeq}")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      UdpFlowSource.clear(key)
    }
  }

  test("capstone: decode → de-sample → top-talkers via the custom TopK operator") {
    // The composed nf2pq-and-beyond pipeline in one pass: v9 packets
    // carrying sampling options, flows de-sampled per exporter, then the
    // top-2 flows by (de-sampled) bytes per exporter on TopKPerGroupExec.
    import spark.implicits._
    val ts = new Timestamp(1700000000000L)
    val packets = Seq(
      (ts, "10.5.0.1", v9WithOptions(1001, 100, 100)), // exporter A, 1-in-100
      (ts, "10.5.0.1", v9WithOptions(1002, 300, 100)),
      (ts, "10.5.0.1", v9WithOptions(1003, 200, 100)),
      (ts, "10.5.0.2", v9WithOptions(2001, 500, 10))   // exporter B, 1-in-10
    ).toDF("recv_ts", "peer", "payload")

    val flows = FlowPipeline.decode(packets)
    val opts = FlowPipeline.decodeOptions(packets)
    val desampled = FlowPipeline.desample(flows, opts)
    val top = org.apache.spark.sql.graft.native.top_k_per_group(
        desampled.select("exporter", "src_port", "bytes"),
        Seq("exporter"), Seq(col("bytes").desc, col("src_port").asc), 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(top == Set(
      ("10.5.0.1", 1002, 30000L), // 300 × 100
      ("10.5.0.1", 1003, 20000L), // 200 × 100 (port 1001 cut by k=2)
      ("10.5.0.2", 2001, 5000L))) // 500 × 10
  }

  test("packet replay from parquet capture decodes identically, batch and stream") {
    // Backfill story: raw packet envelopes captured to parquet re-decode
    // through the SAME FlowPipeline.decode, as a batch frame or a file
    // stream — no separate replay code path to maintain.
    import spark.implicits._
    val ts = new Timestamp(1700000000000L)
    val captured = Seq(
      (ts, "10.3.3.3", v5Packet(7200)),
      (new Timestamp(1700000001000L), "10.3.3.4", v5Packet(7201)))
      .toDF("recv_ts", "peer", "payload")
    val dir = tmp("pkt-capture")
    captured.write.mode("overwrite").parquet(dir)

    val live = FlowPipeline.decode(captured)
      .collect().map(r => (r.exporter, r.src_port)).toSet
    val batchReplay = FlowPipeline.decode(spark.read.parquet(dir))
      .collect().map(r => (r.exporter, r.src_port)).toSet
    val q = FlowPipeline.decode(
        spark.readStream.schema(graft.streaming.FlowSchema.packetSchema).parquet(dir))
      .toDF().writeStream.format("memory").queryName("pkt_replay")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamReplay = spark.table("pkt_replay")
      .collect().map(r => (r.getString(1), r.getInt(8))).toSet

    assert(live == Set(("10.3.3.3", 7200), ("10.3.3.4", 7201)))
    assert(batchReplay == live && streamReplay == live)
  }

  test("FlowApp dual-sink: one query fans micro-batches to parquet AND jdbc") {
    import graft.streaming.FlowApp
    val url = "jdbc:derby:memory:appchdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE APPFLOWS (
        |recv_ts TIMESTAMP, exporter VARCHAR(64), domain BIGINT,
        |start_ts TIMESTAMP, end_ts TIMESTAMP, duration_ms BIGINT,
        |src_addr VARCHAR(64), dst_addr VARCHAR(64), src_port INT,
        |dst_port INT, protocol INT, tcp_flags INT, packets BIGINT,
        |bytes BIGINT, in_if INT, out_if INT, src_as BIGINT, dst_as BIGINT,
        |next_hop VARCHAR(64), tos INT, raw BLOB)""".stripMargin.replace("\n", " "))
    conn.close()
    val outDir = tmp("app2-out")
    val conf = FlowApp.parseConfig(
      s"""[listener.main]
         |port = 9973
         |socket = false
         |
         |[parquet]
         |dir = $outDir
         |checkpoint = ${tmp("app2-ckpt")}
         |interval = 1 seconds
         |
         |[clickhouse]
         |url = "$url"        # '#' safe inside quotes
         |table = APPFLOWS
         |create_table = false
         |""".stripMargin)
    assert(conf("clickhouse")("url") == url)
    val key = "0.0.0.0:9973"
    UdpFlowSource.clear(key)
    UdpFlowSource.inject(key, 1700000000000000L, "10.2.2.2", v5Packet(7100))
    val qs = FlowApp.start(spark, conf)
    assert(qs.size == 1) // ONE query, both sinks (endpoint allows one stream)
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    assert(spark.read.parquet(outDir).count() == 1)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "APPFLOWS").load()
    assert(back.count() == 1 && back.select("src_port").head().getInt(0) == 7100)
    UdpFlowSource.clear(key)
  }

  test("FlowApp loop: UDP v9 + options → per-batch desample → partitioned parquet → read-back equals pre-encode truth") {
    // The full nf2pq operating loop in one test: config-assembled UDP
    // listener → v9 decode (flows AND options templates from the same
    // stream) → per-micro-batch desample against the persisted options
    // table (the desampleEachBatch snapshot shape) → date/hour-partitioned
    // parquet (the rotation layout) → read back → the per-exporter
    // aggregation equals the same aggregation computed from the
    // pre-encode records. Closes the last seam between the streaming
    // surface and the batch surface: what went in as synthetic flow
    // tuples comes back out of the parquet table de-sampled and intact.
    import graft.streaming.FlowApp
    import graft.streaming.NetFlowCodec
    // Pre-encode truth: (exporter, src_port, raw bytes, sampling 1-in-N)
    val truth = Seq(
      ("10.7.0.1", 4001, 100L, 100L), ("10.7.0.1", 4002, 250L, 100L),
      ("10.7.0.2", 5001, 40L, 10L), ("10.7.0.2", 5002, 60L, 10L))
    val key = "0.0.0.0:9974"
    UdpFlowSource.clear(key)
    truth.zipWithIndex.foreach { case ((peer, port, b, samp), i) =>
      UdpFlowSource.inject(key, 1700000000000000L + i, peer,
        v9WithOptions(port, b.toInt, samp.toInt))
    }
    val conf = FlowApp.parseConfig(
      """[listener.loop]
        |port = 9974
        |socket = false
        |""".stripMargin)
    val outDir = tmp("loop-flows")
    val optsDir = tmp("loop-opts")
    val q = FlowApp.packetStream(spark, conf)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = batch.sparkSession
        val raw = batch.persist()
        try {
          // options land in their own table first; the flow desample then
          // snapshot-reads it — a reconfigured interval takes effect at
          // the next trigger, exactly the desampleEachBatch contract
          FlowPipeline.decodeOptions(raw).write.mode("append").parquet(optsDir)
          val snapshot = s.read.schema(
            org.apache.spark.sql.Encoders.product[NetFlowCodec.OptionsRecord].schema)
            .parquet(optsDir)
            .as[NetFlowCodec.OptionsRecord](
              org.apache.spark.sql.Encoders.product[NetFlowCodec.OptionsRecord])
          FlowPipeline.desample(FlowPipeline.decode(raw), snapshot)
            .withColumn("date", date_format(col("start_ts"), "yyyy-MM-dd"))
            .withColumn("hour", date_format(col("start_ts"), "HH"))
            .write.mode("append").partitionBy("date", "hour").parquet(outDir)
        } finally { raw.unpersist(); () }
      }
      .option("checkpointLocation", tmp("loop-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val back = spark.read.parquet(outDir)
    val got = back.groupBy("exporter")
      .agg(count(lit(1)).as("n"), sum("bytes").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = truth.groupBy(_._1).map { case (exp, rows) =>
      (exp, rows.size.toLong, rows.map(t => t._3 * t._4).sum)
    }.toSet
    assert(got == want) // de-sampled byte totals match the pre-encode records
    // per-flow values survive the loop too, not just the rollup
    val ports = back.select("src_port", "bytes").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSet
    assert(ports == truth.map(t => t._2 -> t._3 * t._4).toSet)
    // and the sink really used the rotation layout (one export window →
    // exactly one date/hour partition directory pair)
    assert(back.select("date", "hour").distinct().count() == 1)
    UdpFlowSource.clear(key)
  }

  test("options records de-sample flow counters per exporter") {
    import spark.implicits._
    val ts = new Timestamp(1700000000000L)
    def flow(exp: String, bytes: Long, pkts: Long) = FlowRecord(
      recv_ts = ts, exporter = exp, domain = 9L, start_ts = ts, end_ts = ts,
      duration_ms = 0L, src_addr = "10.0.0.1", dst_addr = "10.0.0.2",
      src_port = 1, dst_port = 2, protocol = 6, tcp_flags = 0,
      packets = pkts, bytes = bytes, in_if = 0, out_if = 0,
      src_as = 0L, dst_as = 0L, next_hop = null, tos = 0,
      raw = Array.emptyByteArray)
    val flows = Seq(flow("10.0.0.1", 500L, 5L), flow("10.0.0.9", 70L, 7L)).toDS()
    // Only exporter 10.0.0.1 advertises sampling (1 in 100, v9 IE 34).
    val opts = Seq(NetFlowCodec.OptionsRecord("10.0.0.1", 9L, 500,
      Map(1 -> 0L), Map(34 -> 100L, 35 -> 2L))).toDS()
    val out = FlowPipeline.desample(flows, opts)
      .select("exporter", "bytes", "packets", "sampling_interval")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(out == Seq(
      ("10.0.0.1", 50000L, 500L, 100L), // de-sampled ×100
      ("10.0.0.9", 70L, 7L, 1L)))       // no options → ×1 passthrough
  }

  test("udp source: a restarted query's new stream evicts the dead one (last-wins)") {
    val key = "0.0.0.0:9909"
    UdpFlowSource.clear(key)
    def mkStream() = new UdpMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("port", "9909", "socket", "false")))
    val first = mkStream()
    UdpFlowSource.inject(key, 1700000000000000L, "10.1.1.1", Array[Byte](1, 2))
    assert(first.latestOffset().asInstanceOf[UdpOffset].seq == 1L)
    // Driver-side restart: Spark builds the new run's stream while the
    // failed run never got to stop() — must not wedge the endpoint.
    val second = mkStream()
    assert(second.latestOffset().asInstanceOf[UdpOffset].seq == 1L)
    // The evicted stream fails loudly instead of racing commit-trim.
    intercept[IllegalStateException](first.latestOffset())
    intercept[IllegalStateException](first.commit(UdpOffset(1L)))
    // The dead run's late stop() must not deregister the new owner.
    first.stop()
    assert(second.latestOffset().asInstanceOf[UdpOffset].seq == 1L)
    second.stop()
    UdpFlowSource.clear(key)
  }

  test("udp source: seqdir persists committed offsets across a simulated JVM restart") {
    val key = "0.0.0.0:9908"
    val seqDir = tmp("udp-seq")
    def mkStream() = new UdpMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("port", "9908", "socket", "false", "seqdir", seqDir)))
    UdpFlowSource.clear(key)
    val first = mkStream()
    (0 until 3).foreach(i =>
      UdpFlowSource.inject(key, 1700000000000000L + i, "10.1.1.1", Array[Byte](i.toByte)))
    first.commit(UdpOffset(3L)) // trims + persists seq 3
    first.stop()
    // Simulated process death: in-memory buffers gone entirely.
    UdpFlowSource.clear(key)
    val second = mkStream() // restores seq 3 from seqdir
    assert(second.latestOffset().asInstanceOf[UdpOffset].seq == 3L)
    // New traffic continues monotonic numbering after the restored seq.
    UdpFlowSource.inject(key, 1700000000000099L, "10.1.1.1", Array[Byte](9))
    assert(second.latestOffset().asInstanceOf[UdpOffset].seq == 4L)
    val rows = second.planInputPartitions(UdpOffset(3L), UdpOffset(4L))
    assert(rows.length == 1)
    second.stop()
    UdpFlowSource.clear(key)
  }

  test("udp source: a batch is cut into one slice per 128 KiB of payload, at most `partitions`") {
    val key = "0.0.0.0:9907"
    UdpFlowSource.clear(key)
    val stream = new UdpMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("port", "9907", "socket", "false", "partitions", "4")))
    var seq = 0L
    // Injects `count` datagrams of `size` bytes as one batch, plans it and
    // returns the slice count; the slices must hold the batch in order.
    def slices(count: Int, size: Int): Int = {
      val from = seq
      val sent = (0 until count).map { i =>
        val row = (1700000000000000L + seq, s"10.1.2.$i", Array.fill[Byte](size)(i.toByte))
        UdpFlowSource.inject(key, row._1, row._2, row._3)
        seq += 1
        (row._1, row._2, row._3.toSeq)
      }
      val parts = stream.planInputPartitions(UdpOffset(from), UdpOffset(seq))
      stream.commit(UdpOffset(seq))
      val got = parts.toSeq.flatMap(_.asInstanceOf[PacketSlice].rows.toSeq
        .map { case (us, peer, payload) => (us, peer, payload.toSeq) })
      assert(got == sent, s"$count x $size B: slices do not concatenate to the batch")
      assert(parts.length <= 4)
      parts.length
    }
    try {
      assert(slices(13, 1000) == 1)       // 13 KB
      assert(slices(13, 48 * 1000) == 4)  // 624 KB: capped at partitions
      assert(slices(10, 30 * 1000) == 3)  // 300 KB
    } finally {
      stream.stop()
      UdpFlowSource.clear(key)
    }
  }

  test("udp source: a joiner's template and data in one small batch all decode with partitions=4") {
    // FlowApp's decode path. Each batch carries a new exporter's v9
    // template followed by 7 data packets; a batch this small is one
    // slice, so the template decodes before its data in the same task.
    // If a trigger fires mid-injection, the template lands in an earlier
    // batch and the TemplateStore scope carries it, so that race cannot
    // fail the test. Limit: a batch above one slice (128 KiB) is still
    // cut by position and can split an exporter's template from its data
    // (ROADMAP direction 1).
    import spark.implicits._
    val key = "0.0.0.0:9906"
    val scope = "test-joiner:9906"
    UdpFlowSource.clear(key)
    FlowPipeline.TemplateStore.clear(scope)
    val packets = spark.readStream.format("udp-flows")
      .option("port", "9906").option("socket", "false")
      .option("partitions", "4").load()
    val q = FlowPipeline.decode(packets, Some(scope))
      .toDF().writeStream.format("memory").queryName("joiner_flows")
      .outputMode(OutputMode.Append()).start()
    try {
      (0 until 20).foreach { b =>
        val peer = s"10.77.0.$b"
        UdpFlowSource.inject(key, 1700000000000000L + b * 8, peer, v9TemplateOnly())
        (0 until 7).foreach { i =>
          UdpFlowSource.inject(key, 1700000000000001L + b * 8 + i, peer,
            v9DataOnly(9000 + b * 7 + i, 100 + i))
        }
        q.processAllAvailable()
      }
      val got = spark.sql("SELECT exporter, src_port FROM joiner_flows")
        .as[(String, Int)].collect().toSet
      val want = (0 until 20).flatMap(b =>
        (0 until 7).map(i => (s"10.77.0.$b", 9000 + b * 7 + i))).toSet
      val lost = want -- got
      assert(lost.isEmpty && got.size == 140,
        s"${lost.size} of 140 records lost, e.g. ${lost.toSeq.sorted.take(5)}")
    } finally {
      q.stop()
      FlowPipeline.TemplateStore.clear(scope)
      UdpFlowSource.clear(key)
    }
  }

  test("desampleEachBatch: streaming flows join an options snapshot per micro-batch") {
    import spark.implicits._
    val ts = new Timestamp(1700000000000L)
    def flow(exp: String, bytes: Long, pkts: Long) = FlowRecord(
      recv_ts = ts, exporter = exp, domain = 9L, start_ts = ts, end_ts = ts,
      duration_ms = 0L, src_addr = "10.0.0.1", dst_addr = "10.0.0.2",
      src_port = 1, dst_port = 2, protocol = 6, tcp_flags = 0,
      packets = pkts, bytes = bytes, in_if = 0, out_if = 0,
      src_as = 0L, dst_as = 0L, next_hop = null, tos = 0,
      raw = Array.emptyByteArray)
    val dir = tmp("flows-in")
    Seq(flow("10.0.0.1", 500L, 5L), flow("10.0.0.9", 70L, 7L)).toDS()
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[FlowRecord].schema)
      .parquet(dir).as[FlowRecord]
    val opts = Seq(NetFlowCodec.OptionsRecord("10.0.0.1", 9L, 500,
      Map(1 -> 0L), Map(34 -> 100L, 35 -> 2L)))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = FlowPipeline.desampleEachBatch(stream,
        s => { import s.implicits._; opts.toDS() }) { (df, _) =>
        df.select("exporter", "bytes").collect()
          .foreach(r => got.add((r.getString(0), r.getLong(1))))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(got.iterator().hasNext)
    val byExp = got.toArray(Array.empty[(String, Long)]).toMap
    assert(byExp == Map("10.0.0.1" -> 50000L, "10.0.0.9" -> 70L))
  }

  test("foreachBatch FlowSink collects micro-batches (ClickHouse-shaped path)") {
    val key = "0.0.0.0:9997"
    UdpFlowSource.clear(key)
    (0 until 3).foreach(i =>
      UdpFlowSource.inject(key, 1700000000000000L + i, "10.9.9.7", v5Packet(3000 + i)))
    val packets = spark.readStream.format("udp-flows")
      .option("port", "9997").option("socket", "false").load()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val sink = new FlowPipeline.FlowSink {
      override def write(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
        got.add(batch.count())
    }
    val q = FlowPipeline.startForeachBatchSink(FlowPipeline.decode(packets),
      sink, tmp("fb-ckpt"), interval = "1 seconds")
    q.processAllAvailable()
    q.stop()
    assert(got.stream().mapToLong(identity(_)).sum() == 3L)
    UdpFlowSource.clear(key)
  }

  test("idempotent ClickHouse sink: epoch replay replaces, never duplicates") {
    // foreachBatch is at-least-once: Spark re-runs a failed epoch with
    // the SAME batchId. The idempotent sink mode must make that replay
    // exactly-once-on-success — delete-then-insert keyed on graft_batch_id —
    // including the nasty case where the first attempt died mid-insert
    // and left PARTIAL rows behind. Derby exercises the identical ANSI
    // SQL path the ClickHouse deployment runs (VERDICT r9 task 6).
    import spark.implicits._
    import graft.streaming.ClickHouseFlowSink
    val url = "jdbc:derby:memory:idemdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE IDEMFLOWS (exporter VARCHAR(64), bytes BIGINT, graft_batch_id BIGINT)")
    conn.close()
    val sink = new ClickHouseFlowSink(url, "IDEMFLOWS",
      createTable = false, idempotent = true)
    def rows(): Seq[(String, Long, Long)] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery("SELECT exporter, bytes, graft_batch_id FROM IDEMFLOWS")
        Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
          .toList
      } finally c.close()
    }
    val e7 = Seq(("10.1.1.1", 100L), ("10.1.1.2", 200L), ("10.1.1.3", 300L))
      .toDF("exporter", "bytes")
    sink.write(e7, 7L)
    assert(rows().size == 3)
    // Full replay of the same epoch (post-commit crash before the
    // checkpoint advanced): identical content, no duplicates.
    sink.write(e7, 7L)
    assert(rows().sorted == e7.collect().map(r =>
      (r.getString(0), r.getLong(1), 7L)).toSeq.sorted)
    // Mid-insert crash: a partial row from a dead attempt of epoch 8
    // sits in the table; the retry must REPLACE it, not append to it.
    val c2 = java.sql.DriverManager.getConnection(url)
    c2.createStatement().execute(
      "INSERT INTO IDEMFLOWS VALUES ('10.9.9.9', 1, 8)")
    c2.close()
    val e8 = Seq(("10.2.2.1", 400L), ("10.2.2.2", 500L)).toDF("exporter", "bytes")
    sink.write(e8, 8L)
    val after = rows()
    assert(after.count(_._3 == 8L) == 2 && !after.exists(_._1 == "10.9.9.9"))
    // And a NEW epoch appends without touching committed ones.
    sink.write(Seq(("10.3.3.1", 600L)).toDF("exporter", "bytes"), 9L)
    val fin = rows()
    assert(fin.size == 6 && fin.count(_._3 == 7L) == 3 && fin.count(_._3 == 9L) == 1)
  }

  test("DSIR quality gate: stream admission set == the batch sample_dsir rule") {
    // admitNovel's QUALITY twin: the 4096-bucket DSIR model, built once
    // from the standing corpus, compiles into the streaming plan as a
    // literal map — the gate is a stateless append-mode filter (no
    // join, no state, no foreachBatch). The pin: streaming the corpus's
    // own documents through the gate admits EXACTLY the set the batch
    // DsirGate.admissions RELATIVE rule (wu > thr·n_tok) selects —
    // driver-side Math.log quantization and Spark-side ln agree
    // unit-for-unit.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("source", "doc_id", "lang", "text")
    val expected = graft.ops.DsirGate
      .admissions(corpus, col("lang") === "en")
      .filter(col("admitted"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty && expected.size < corpus.count(),
      s"degenerate fixture: ${expected.size} admitted")
    val (m, kc, thr) = graft.ops.DsirGate.model(corpus, col("lang") === "en")
    val docs = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.DsirGate
      .admitTargetLike(input.toDF().toDF("doc_id", "text"), m, kc, thr)
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode(OutputMode.Append()).start()
    val (half1, half2) = docs.splitAt(docs.size / 2)
    input.addData(half1); q.processAllAvailable()
    input.addData(half2); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM dsir_gate").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == expected, s"stream gate drifted from the batch rule: " +
      s"got ${got.size}, expected ${expected.size}")
    q.stop()
  }
}
