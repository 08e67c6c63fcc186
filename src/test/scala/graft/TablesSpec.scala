package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Loader canonicalization guards. The round-8 regression: a driver data
  * refresh switched `events.ts` from ns-INT64 to µs-TIMESTAMP_NTZ and the
  * then-unconditional `ts div 1000` failed analysis, erroring all 22
  * events-table queries. `Tables.normalizeEvents` must present the ONE
  * canonical shape (`ts` BIGINT epoch-ns + `ts_us` TIMESTAMP) under
  * either physical encoding — pinned here on synthetic frames of both
  * encodings carrying the same instants, plus the real fixture.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // Whole-µs instants (ns multiples of 1000): the µs encoding cannot
  // carry sub-µs payload, so equivalence is defined on this domain.
  private val instantsNs = Seq(
    1704067200000000000L, // 2024-01-01T00:00:00Z
    1704070800123456000L, // +1h, fractional µs payload
    1706738232194062000L) // near the fixture max

  test("both events.ts encodings normalize to the same (ts ns, ts_us) rows") {
    import spark.implicits._
    val nsDf = instantsNs.toDF("ts")
    val usDf = instantsNs.map(_ / 1000).toDF("us")
      .select(expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
    val a = Tables.normalizeEvents(nsDf)
    val b = Tables.normalizeEvents(usDf)
    // Third plausible refresh encoding (VERDICT r9's robustness note):
    // adjusted-to-UTC µs, which Spark reads as TimestampType (LTZ)
    // rather than NTZ. It flows through the generic branch, where
    // cast(timestamp as timestamp) is the identity — pinned here as
    // HANDLED, not merely loud, alongside the two shipped encodings.
    val ltzDf = instantsNs.map(_ / 1000).toDF("us")
      .select(expr("timestamp_micros(us)").as("ts"))
    val c = Tables.normalizeEvents(ltzDf)
    for (df <- Seq(a, b, c)) {
      assert(df.schema("ts").dataType == LongType, df.schema.treeString)
      assert(df.schema("ts_us").dataType == TimestampType, df.schema.treeString)
    }
    val rowsA = a.select("ts", "ts_us").collect().map(_.toString).sorted.toSeq
    val rowsB = b.select("ts", "ts_us").collect().map(_.toString).sorted.toSeq
    val rowsC = c.select("ts", "ts_us").collect().map(_.toString).sorted.toSeq
    assert(rowsA == rowsB)
    assert(rowsA == rowsC)
    // And the ns BIGINT is the true epoch value, not a re-zoned one.
    assert(rowsA.head.contains(instantsNs.min.toString))
  }

  test("normalizeEvents REJECTS un-pinned ts encodings by name " +
    "(closed whitelist, VERDICT r10 #7)") {
    // A fourth refresh encoding (INT32 seconds, DOUBLE epoch, ISO
    // STRING, DATE) must fail loudly at load, not flow through a generic
    // cast branch and surface as a silent unit/zone shift in every
    // events oracle. ms-INT64 (same physical type as ns-INT64) is the
    // one type-invisible alias — since r12 the LongType branch's per-row
    // ns-epoch magnitude guard catches it too (next test).
    import spark.implicits._
    for (bad <- Seq(
        Seq(1704067200).toDF("ts"),                    // INT32 seconds
        Seq(1.704067200e9).toDF("ts"),                 // DOUBLE epoch
        Seq("2024-01-01T00:00:00Z").toDF("ts"),        // ISO string
        Seq(1704067200L).toDF("s")
          .select(expr("cast(timestamp_seconds(s) as date)").as("ts")))) {
      val e = intercept[IllegalArgumentException](Tables.normalizeEvents(bad))
      assert(e.getMessage.contains("unsupported events.ts encoding"),
        e.getMessage)
      assert(e.getMessage.contains("normalizeEvents"), e.getMessage)
    }
  }

  test("normalizeEvents REJECTS ms/us/s-encoded INT64 by magnitude " +
    "(the type-invisible alias, VERDICT r11 #4)") {
    // A RAW int64 in non-ns units has the SAME Spark type as the pinned
    // ns encoding, so the whitelist can't see it — without the guard,
    // every event lands unit-shifted (ms: x10^6 toward 1970) and the
    // failure surfaces rounds later as an oracle hash diff. The LongType
    // branch's per-row band check [2000, 2100) in ns must raise the
    // named error on the first action instead. Null ts passes (data
    // question, not an encoding one); in-band ns rows are untouched.
    import spark.implicits._
    val inst = 1704067200000000000L // 2024-01-01T00:00:00Z in ns
    for (bad <- Seq(
        Seq(inst / 1000000L).toDF("ts"),  // ms-INT64
        Seq(inst / 1000L).toDF("ts"),     // µs-INT64 (unannotated)
        Seq(inst / 1000000000L).toDF("ts"))) { // s-INT64
      val e = intercept[Exception] {
        Tables.normalizeEvents(bad).collect()
      }
      // raise_error surfaces as SparkRuntimeException wrapping the
      // message; match on the named substring, not the class.
      assert(e.getMessage.contains("outside the ns-epoch band"),
        s"wrong failure for ${bad.head()}: ${e.getMessage}")
    }
    // Null ts is not an encoding problem: flows through as null.
    val withNull = Seq(Some(inst), None).toDF("ts")
    val out = Tables.normalizeEvents(withNull).collect()
    assert(out.length == 2 && out.exists(_.isNullAt(0)))
  }

  test("the shipped events fixture loads to the canonical schema") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == LongType, ev.schema.treeString)
    assert(ev.schema("ts_us").dataType == TimestampType, ev.schema.treeString)
    // ts and ts_us agree: rebuilding µs from the ns BIGINT matches ts_us
    // on every row (0 mismatches) — whichever encoding the fixture ships.
    val bad = ev.filter(
      expr("timestamp_micros(ts div 1000)") =!= col("ts_us")).count()
    assert(bad == 0L)
  }

  test("normalizeEvents is UTC-pinned regardless of the caller's session zone") {
    // The µs branch casts TIMESTAMP_NTZ → TIMESTAMP; without the pin that
    // cast re-zones the epoch value under a non-UTC session (ADVICE r9).
    // Tables.events must enforce the invariant itself, not inherit it.
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      val mn = ev.agg(min("ts")).head().getLong(0)
      // fixture spans 2024-01-01..2024-01-30 UTC: a re-zoned load would
      // shift the minimum by the -05:00 offset (18e12 ns).
      assert(mn >= 1704067200000000000L && mn < 1706745600000000000L,
        s"min ts $mn outside the fixture's UTC epoch range")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("fixture precondition: events.props is uniformly {\"k\": int} " +
    "(the fn_variant oracle literal)") {
    // fn_variant's oracle states schema_of_variant's result as the
    // literal 'OBJECT<k: BIGINT>' and the '$.nope' miss as NULL. A
    // driver fixture refresh that adds a second key, a null props row,
    // or a non-int k would hash-fail all 10k rows with a confusing diff
    // (ADVICE r9) — this pin makes that drift fail HERE with a name.
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.filter(col("props").isNull).count() == 0L)
    val schemas = ev
      .select(expr("schema_of_variant(parse_json(props))").as("sc"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(schemas == Seq("OBJECT<k: BIGINT>"),
      s"events.props drifted from the fn_variant oracle's shape: $schemas")
  }

  test("fixture precondition: documents.doc_id is dense 0..N-1 " +
    "(the multimodal_meta oracle's generator domain)") {
    // multimodal_meta synthesizes media for ids 0..N-1 (N from the
    // parquet footer) while its oracle replays the generator formulas
    // over doc_id — the two domains coincide only while doc_id stays
    // dense. Pin it so a fixture refresh fails here by name.
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = Tables.documents(spark, s"/root/testdata/$sf")
      val r = docs.agg(min("doc_id"), max("doc_id"),
        count(lit(1)), countDistinct("doc_id")).head()
      val (mn, mx, n, nd) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mn == 0L && mx == n - 1 && nd == n,
        s"$sf doc_id not dense 0..N-1: min=$mn max=$mx n=$n distinct=$nd")
    }
  }

  test("fixture precondition: documents.source is 'src<int>' " +
    "(the sample_mix_weights weight-spec domain)") {
    // sample_mix_weights derives its per-source target weight from the
    // numeric suffix (weight ∝ sid + 1, sid = CAST(SUBSTR(source, 4))).
    // A refresh that renames sources would make the cast NULL on the
    // Spark side and the oracle side alike — quotas go NULL and every
    // row hash-diffs confusingly. Pin the naming here by name instead.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // NULL-safe: a bare !rlike filter DROPS null sources (NULL predicate
    // → row filtered out), which would green-light exactly the drifted
    // fixture this pin exists to catch.
    val bad = docs
      .filter(col("source").isNull || !col("source").rlike("^src[0-9]+$"))
      .count()
    assert(bad == 0L, "documents.source drifted from the src<int> naming")
  }

  test("fixture precondition: events.event_type carries the five known values " +
    "(33 declared-query literals depend on the domain)") {
    // 'click'/'purchase'/'view'/'signup'/'error' appear as literals in
    // 33 places across the declared queries (agg_auc's positive class,
    // the funnel/session/stream families' step predicates, collation
    // probes). A refresh that renames or drops a type would surface as
    // dozens of confusing hash diffs — or worse, a silently-empty
    // positive class (agg_auc's n_pos=0 divides by zero differently per
    // engine). Pin the domain here by name.
    val types = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    val want = Set("click", "purchase", "view", "signup", "error")
    assert(types == want, s"event_type domain drifted: $types")
  }

  test("fixture precondition: lineitem.l_quantity is integral-valued " +
    "(the double→BIGINT cast agreement domain)") {
    // Several declared queries (sql_q18's HAVING threshold, sql_pipe,
    // ds_typed, agg_weighted, win_median's frame values) cast the
    // physically-double quantity to BIGINT on both engines. Spark's
    // bare double→int cast TRUNCATES while DuckDB's ROUNDS — identical
    // only while every value is integral, which the generator
    // guarantees today. A refresh shipping fractional quantities would
    // hash-diverge confusingly across half the TPC-H family; pin the
    // integrality here so it fails by name instead. (win_median and
    // ts_outlier_mad additionally floor before casting — new queries
    // should follow that pattern regardless.)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val li = Tables.lineitem(spark, s"/root/testdata/$sf")
      val frac = li.filter(col("l_quantity") =!= floor(col("l_quantity"))).count()
      assert(frac == 0L, s"$sf lineitem.l_quantity has $frac fractional values")
    }
  }
}
