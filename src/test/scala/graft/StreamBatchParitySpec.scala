package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Proof that the declared (batch) event-time queries are the same plans
  * the engine runs under `readStream` (SURVEY §2.9): run each windowed
  * aggregation as a real streaming query over `events.parquet` and
  * compare against the declared batch result row-for-row.
  */
class StreamBatchParitySpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  /** The file stream source wants a directory of files — stage the events
    * parquet into one.
    */
  private lazy val eventsDir: String = {
    val dir = tmpDir("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  /** events as an unbounded source: same files, readStream, then the
    * same canonicalization batch reads get (ts ns BIGINT + ts_us) — the
    * stream schema must be the RAW file schema, not the normalized one.
    */
  private def eventStream(): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$sf/events.parquet").schema
    Tables.normalizeEvents(
      spark.readStream.schema(rawSchema).parquet(eventsDir))
  }

  private def runToCompletion(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("tumbling window agg: readStream result == declared batch result") {
    val stream = eventStream()
      .groupBy(window(col("ts_us"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dec2(sum(Q.dec2(col("value")))).as("sumv"))
      .select(unix_timestamp(col("window.start")).as("day_s"),
        col("event_type"), col("n"), col("sumv"))
    // Same emission contract as the declared query: decimal internals,
    // DOUBLE at the edge (the cast is streaming-safe — plain projection).
    runToCompletion(SparkEntry.emitDoubles(stream), "sb_tumbling", OutputMode.Complete())
    val got = sortedRows(spark.sql("SELECT * FROM sb_tumbling"))
    val want = sortedRows(SparkEntry.queries("stream_tumbling")(spark, sf))
    assert(got == want)
  }

  test("session window agg: readStream result == declared batch result") {
    val stream = eventStream()
      .groupBy(session_window(col("ts_us"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("ts_us")).as("last_ts"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_s"),
        unix_timestamp(col("last_ts")).as("end_s"),
        col("n"))
    runToCompletion(stream, "sb_session", OutputMode.Complete())
    val got = sortedRows(spark.sql("SELECT * FROM sb_session"))
    val want = sortedRows(SparkEntry.queries("stream_session")(spark, sf))
    assert(got == want)
  }

  test("streaming scan detector: sketched distinct peers == same batch plan") {
    // flow_scan_detect's in-code note says the 100 TB / streaming form
    // swaps the exact two-phase distinct for a mergeable sketch — here
    // that swap RUNS: the same flow-address rollup with
    // approx_count_distinct (exact distinct and chained aggregations
    // are both unsupported in streaming aggs), as a real readStream,
    // compared row-for-row against the identical batch plan. HLL is
    // deterministic on identical data, so equality is exact.
    def rollup(ev: DataFrame): DataFrame =
      graft.queries.Extra12.withFlowAddrs(ev)
        .groupBy(window(col("ts_us"), "1 day"), col("src_addr"))
        .agg(approx_count_distinct("dst_addr").as("n_dst"),
          count(lit(1)).as("n_flows"))
        .select(unix_timestamp(col("window.start")).as("day_s"),
          col("src_addr"), col("n_dst"), col("n_flows"))
    runToCompletion(rollup(eventStream()), "sb_scan", OutputMode.Complete())
    val got = sortedRows(spark.sql("SELECT * FROM sb_scan"))
    val want = sortedRows(rollup(Tables.events(spark, sf)))
    assert(got == want)
  }

  test("CDC upsert via foreachBatch: streamed change apply == declared merge_upsert") {
    // merge_upsert is the batch twin of a streaming CDC apply. Replay the
    // SAME synthesized change set (Extra4.upsertChanges — bit-identical
    // decimals) through a MemoryStream in seq-ordered micro-batches; each
    // foreachBatch applies latest-wins-within-batch upsert/delete to a
    // state table (last writer wins across batches = global seq order).
    // The final state, aggregated the same way, must equal the declared
    // batch query row-for-row.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = graft.queries.Extra4.upsertBase(spark, sf)
    val changes = graft.queries.Extra4.upsertChanges(base)
      .as[(Long, Int, String, java.math.BigDecimal, Int)].collect()
    assert(changes.nonEmpty)

    def applyCdc(state: DataFrame, batch: DataFrame): DataFrame = {
      val w = Window.partitionBy("key").orderBy(col("seq").desc, col("op"))
      val latest = batch
        .select(col("key"), col("seq"), col("op"),
          col("new_bal").cast(DecimalType(18, 2)).as("new_bal"),
          col("nk").as("i_nk"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn", "seq")
      val kept = state.join(latest, Seq("key"), "left")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("key"), col("nk"),
          coalesce(col("new_bal"), col("bal")).as("bal"))
      // Proper MERGE semantics: any surviving change row whose key is
      // absent from the state inserts (the fixture only exercises 'I'
      // here, but upsert must not depend on that).
      val inserted = latest.filter(col("op") =!= "D")
        .join(state, Seq("key"), "left_anti")
        .select(col("key"), col("i_nk").as("nk"), col("new_bal").as("bal"))
      kept.union(inserted)
    }

    // key/nk/bal state; localCheckpoint per batch truncates the growing
    // join lineage (same discipline as ops.Components).
    @volatile var state = base.select(col("c_custkey").as("key"),
      col("c_nationkey").as("nk"), col("bal")).localCheckpoint()
    @volatile var nBatches = 0
    val ms = MemoryStream[(Long, Int, String, java.math.BigDecimal, Int)]
    val q = ms.toDF().toDF("key", "seq", "op", "new_bal", "nk")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          state = applyCdc(state, batch).localCheckpoint()
          nBatches += 1
        }
      }
      .start()
    // One micro-batch per seq epoch — the stream arrives in commit order.
    Seq(1, 2, 3).foreach { epoch =>
      ms.addData(changes.filter(_._2 == epoch).toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(nBatches >= 3, s"expected one applied micro-batch per epoch, got $nBatches")

    val got = sortedRows(SparkEntry.emitDoubles(
      state.groupBy("nk")
        .agg(count(lit(1)).as("n_rows"), Q.dec2(sum("bal")).as("sum_bal"))
        .select(col("nk").as("c_nationkey"), col("n_rows"), col("sum_bal"))))
    val want = sortedRows(SparkEntry.queries("merge_upsert")(spark, sf))
    assert(got == want)
  }

  test("sliding window agg: readStream result == declared batch result") {
    val stream = eventStream()
      .groupBy(window(col("ts_us"), "1 day", "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dec2(sum(Q.dec2(col("value")))).as("sumv"))
      .select(unix_timestamp(col("window.start")).as("win_s"),
        col("event_type"), col("n"), col("sumv"))
    runToCompletion(SparkEntry.emitDoubles(stream), "sb_sliding", OutputMode.Complete())
    val got = sortedRows(spark.sql("SELECT * FROM sb_sliding"))
    val want = sortedRows(SparkEntry.queries("stream_sliding")(spark, sf))
    assert(got == want)
  }

  test("stateful vc*p counter via flatMapGroupsWithState == declared seq_pattern") {
    // The scale path for seq_pattern (which concentrates a user's whole
    // history into one collect_list row): a per-user state machine with
    // O(1) state — (pending-view flag, funnel count, event count) — that
    // never materializes the sequence. Equivalence to the regex: a
    // leftmost non-overlapping 'vc*p' match exists exactly when a 'p'
    // arrives while some 'v' has been seen with only {v, c} characters
    // since (the LAST such v has only c's before the p, which is the
    // match the regex backtracks to); counting resets at the consumed
    // 'p', and any other character breaks every pending 'v'. Run it as a
    // real streaming query; per-user (n_events, n_funnels) must equal
    // the declared batch query row-for-row.
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val stream = eventStream()
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[FunnelEv], state: GroupState[SeqPatState]) => {
          var st = state.getOption.getOrElse(SeqPatState(sawV = false, 0L, 0L))
          // within-batch order is shuffle order — replay in event time
          // ((ts, event_id) is a total order; one file → one batch, so
          // cross-batch order isn't exercised here)
          evs.toVector.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            st = st.copy(nEvents = st.nEvents + 1)
            e.event_type.take(1) match {
              case "v" => st = st.copy(sawV = true)
              case "c" => // clicks keep any pending view alive
              case "p" =>
                if (st.sawV) st = st.copy(sawV = false, nFunnels = st.nFunnels + 1)
              case _ => st = st.copy(sawV = false) // any other char breaks the run
            }
          }
          state.update(st)
          Iterator.single((uid, st.nEvents, st.nFunnels))
        })
      .toDF("user_id", "n_events", "n_funnels")
    runToCompletion(stream, "sb_seqpat", OutputMode.Update())
    val got = sortedRows(spark.sql(
      "SELECT user_id, n_events, n_funnels FROM sb_seqpat"))
    val want = sortedRows(SparkEntry.queries("seq_pattern")(spark, sf)
      .select("user_id", "n_events", "n_funnels"))
    assert(got == want)
  }

  test("stateful funnel via flatMapGroupsWithState == declared funnel_conversion") {
    // The declared batch funnel (min view → min click strictly after →
    // min purchase strictly after) is exactly what a per-user streaming
    // stage machine computes when events arrive in event-time order:
    // sorted replay hits the first view (= min), then the first
    // strictly-later click (= min click > t1), then purchase. Run the
    // machine as a real streaming query and compare stage counts.
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val stream = eventStream()
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelStages]) => {
          var st = state.getOption.getOrElse(FunnelStages(-1L, -1L, -1L))
          // within-batch order is shuffle order — replay in event time
          // ((ts, event_id) is a total order; the file source feeds
          // batches in file order so cross-batch order is monotone here)
          evs.toVector.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if st.t1 < 0 => st = st.copy(t1 = e.ts)
              case "click" if st.t1 >= 0 && st.t2 < 0 && e.ts > st.t1 =>
                st = st.copy(t2 = e.ts)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 && e.ts > st.t2 =>
                st = st.copy(t3 = e.ts)
              case _ =>
            }
          }
          state.update(st)
          Iterator.single((uid, st.t1 >= 0, st.t2 >= 0, st.t3 >= 0))
        })
      .toDF("user_id", "s1", "s2", "s3")
    runToCompletion(stream, "sb_funnel", OutputMode.Update())
    // one emitted row per user per batch; the last row carries the final
    // state — with AvailableNow over one file there is exactly one batch
    val got = sortedRows(spark.sql(
      """SELECT CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |FROM sb_funnel""".stripMargin))
    val want = sortedRows(SparkEntry.queries("funnel_conversion")(spark, sf))
    assert(got == want)
  }
}

/** Typed rows for the stateful-funnel parity test (top-level: Encoders
  * for local classes capture the enclosing test scope).
  */
final case class FunnelEv(user_id: Long, event_type: String, ts: Long,
    event_id: Long)
final case class FunnelStages(t1: Long, t2: Long, t3: Long)

/** O(1)-per-user state for the vc*p sequence-pattern machine. */
final case class SeqPatState(sawV: Boolean, nEvents: Long, nFunnels: Long)
