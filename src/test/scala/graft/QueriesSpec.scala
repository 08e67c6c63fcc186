package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + contract checks over the declared query inventory at sf0.001.
  * (Full DuckDB hash-parity runs via `graft.Verify` + scripts/parity.py —
  * see .claude/skills/verify; this suite guards the Scala-side contract.)
  */
class QueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query implementation") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("oracle SQL only references {sfDir} parquet paths") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.contains("{sfDir}"), s"$k oracle has no {sfDir} placeholder")
      assert(!sql.contains("/root/testdata"), s"$k oracle hardcodes a path")
    }
  }

  /** One pass over the declared queries, shared by the three per-query
    * tests below: each query is constructed once for its schema and a
    * collect, then once more for the repeat collect (same plan, twice).
    * Fields: name, empty result, complex-typed output columns, rows differ
    * between the two runs.
    */
  private lazy val perQuery: Seq[(String, Boolean, Seq[String], Boolean)] = {
    import org.apache.spark.sql.types._
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sf)
      val complex = df.schema.fields.toSeq.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] ||
                  f.dataType == BinaryType =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
      val a = df.collect().toSeq
      val b = fn(spark, sf).collect().toSeq
      (name, a.isEmpty, complex, a != b)
    }
  }

  test("every declared query runs and returns rows at sf0.001") {
    val empties = perQuery.collect { case (name, true, _, _) => name }
    // anti-join and bag-difference are legitimately empty at tiny scale.
    val allowedEmpty = Set("join_anti", "set_except_all")
    assert(empties.forall(allowedEmpty), s"empty results: $empties")
  }

  test("no declared query outputs array/map/struct/binary columns") {
    // The driver's pandas-based comparator cannot hash complex-typed cells
    // (round-1 fn_array died on TypeError: unhashable 'numpy.ndarray').
    val offenders = perQuery.flatMap(_._3)
    assert(offenders.isEmpty, s"complex-typed output columns: $offenders")
  }

  test("representative queries are invariant to shuffle width (4 vs 7 partitions)") {
    // Partitioning-invariance is the property that survives a 100× scale-up:
    // if results depend on split count or shuffle width, they are wrong on
    // any real cluster. Sample covers aggs, joins, windows, set ops, the
    // custom exec, sketches and text ops.
    val sample = Seq("agg_pricing", "agg_corr", "agg_median", "join_inner",
      "win_rank", "win_sessionize", "set_except_all", "dedup_exact",
      "text_tfidf", "fn_ip", "stream_tumbling", "topk_group_exec",
      // r7 machinery: gram window + island merge, LSH→components,
      // URL canonicalization rollup, per-doc hash admission
      "dedup_substring", "dedup_semantic", "text_dockey", "sample_quality",
      // r8 machinery: single-agg profile explode, Morton rollup,
      // df-capped inverted-index containment, per-cell ADC composite
      "profile_table", "layout_zorder", "dedup_containment", "sim_ann_ivfpq")
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    val diverged = sample.flatMap { name =>
      val a = SparkEntry.queries(name)(spark, sf).collect().toSeq
      val b = SparkEntry.queries(name)(s7, sf).collect().toSeq
      if (a != b) Some(name) else None
    }
    assert(diverged.isEmpty, s"partitioning-dependent results: $diverged")
  }

  test("every declared query is deterministic across runs (same plan, twice)") {
    val flaky = perQuery.collect { case (name, _, _, true) => name }
    assert(flaky.isEmpty, s"nondeterministic: $flaky")
  }

  test("agg_regression's exact-sum forms agree with the regr_* built-ins to 1e-6") {
    // The declared query derives slope/intercept/r2 from exact decimal
    // power sums (order-independent, hash-gateable); Spark's built-in
    // regr_slope/regr_intercept/regr_r2 use streaming-covariance
    // accumulators (order-sensitive last ulps, engine-specific — NOT
    // hash-gateable against DuckDB). This pins that both compute the
    // same statistic, which neither the oracle nor the built-ins alone
    // can show.
    import org.apache.spark.sql.functions._
    val builtin = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(expr("regr_slope(l_extendedprice, l_quantity)").as("slope"),
        expr("regr_intercept(l_extendedprice, l_quantity)").as("icept"),
        expr("regr_r2(l_extendedprice, l_quantity)").as("r2"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = SparkEntry.queries("agg_regression")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(builtin.keySet == exact.keySet)
    exact.foreach { case (k, (s1, i1, r1)) =>
      val (s2, i2, r2) = builtin(k)
      // exact sums use DECIMAL(18,2)-cast inputs (the money contract);
      // the built-ins see raw doubles — tolerance covers the cast, the
      // rounding to 6 decimals, and the accumulator ulps together. The
      // relative bound matters for intercept, whose magnitude is ~1e4.
      def close(a: Double, b: Double) =
        math.abs(a - b) <= 1e-6 + 1e-6 * math.max(math.abs(a), math.abs(b))
      assert(close(s1, s2) && close(i1, i2) && close(r1, r2),
        s"$k: exact ($s1,$i1,$r1) vs builtin ($s2,$i2,$r2)")
    }
  }
}
