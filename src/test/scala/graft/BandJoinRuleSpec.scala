package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{native => gn, BandJoinRule}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The automatic band-join rule (the second injected engine Rule): the
  * same floor-bucket hash-join shape the hand-built `join_band` query
  * declares, produced automatically from a PLAIN theta join by
  * `BandJoinRule`. Pins the rewrite (manufactured bucket equi-key +
  * exploded neighbor buckets, band predicate kept as exact residual),
  * the result-invisibility contract, the conf gates, and idempotence.
  */
class BandJoinRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** The plain form of join_band's query: NO hand-built bucket stage. */
  private def plainBand(): DataFrame = {
    val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_acctbal")
    val cust = Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
    cust.join(sup, abs(sup("s_acctbal") - cust("c_acctbal")) <= 1.0)
      .agg(count(lit(1)).as("n_pairs"),
        sum("s_suppkey").as("sum_skey"), sum("c_custkey").as("sum_ckey"))
  }

  private def withRule[A](confs: (String, String)*)(body: => A): A = {
    gn.attachBandJoinRule(spark)
    val keys = confs.map(_._1)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally keys.foreach(spark.conf.unset)
  }

  test("rewrites a plain band theta join into the join_band shape") {
    withRule("spark.graft.bandJoin.enabled" -> "true") {
      val df = plainBand()
      val expected = {
        spark.conf.set("spark.graft.bandJoin.enabled", "false")
        val rows = plainBand().collect().toSeq
        spark.conf.set("spark.graft.bandJoin.enabled", "true")
        rows
      }
      // result-invisible: bucket false candidates die in the residual
      assert(df.collect().toSeq == expected)
      // logical pin: the join gained a bucket equality over an exploded
      // neighbor-bucket generator, band predicate retained as residual
      val opt = df.queryExecution.optimizedPlan.toString()
      assert(opt.contains("graft_band_bucket"), opt)
      assert(opt.contains("explode"), opt)
      // physical pin: a HASH join, never a nested loop / cartesian
      val p = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    }
  }

  test("integral band columns bucket in EXACT long arithmetic (epoch-scale safe)") {
    withRule("spark.graft.bandJoin.enabled" -> "true") {
      import spark.implicits._
      // epoch-microsecond magnitudes where the DOUBLE quotient rounds by
      // far more than one bucket unit — the double path would drop true
      // pairs here; the integral path must not.
      val base = 1700000000000000L
      val a = (0 until 40).map(i => base + i * 7L).toDF("ta")
      val b = (0 until 40).map(i => base + i * 5L + 2L).toDF("tb")
      def run(): Seq[org.apache.spark.sql.Row] =
        a.join(b, abs(col("ta") - col("tb")) <= 3L)
          .orderBy("ta", "tb").collect().toSeq
      val on = run()
      spark.conf.set("spark.graft.bandJoin.enabled", "false")
      val off = run()
      spark.conf.set("spark.graft.bandJoin.enabled", "true")
      assert(on == off && on.nonEmpty, s"on=${on.size} off=${off.size}")
      // and the rewrite actually fired via the exact integer bucket
      val opt = a.join(b, abs(col("ta") - col("tb")) <= 3L)
        .queryExecution.optimizedPlan.toString()
      assert(opt.contains("graft_band_bucket"), opt)
      assert(opt.contains("pmod("), opt) // the exact floor-div, not a double quotient
      // decimal inputs are DECLINED (no provably exact bucket): untouched
      val dec = a.select(col("ta").cast("decimal(22,2)").as("da"))
        .join(b.select(col("tb").cast("decimal(22,2)").as("db")),
          abs(col("da") - col("db")) <= lit(java.math.BigDecimal.valueOf(3)))
        .queryExecution.optimizedPlan.toString()
      assert(!dec.contains("graft_band_bucket"), dec)
    }
  }

  test("idempotent: re-optimization never stacks a second bucket join") {
    withRule("spark.graft.bandJoin.enabled" -> "true") {
      val optimized = plainBand().queryExecution.optimizedPlan
      val again = BandJoinRule(spark)(optimized)
      def buckets(s: String) = "graft_band_bucket".r.findAllIn(s).size
      assert(buckets(optimized.toString()) > 0, optimized.toString())
      assert(again.sameResult(optimized), again.toString())
    }
  }

  test("conf-gated off by default; ineligible joins are left alone") {
    gn.attachBandJoinRule(spark)
    // default: enabled=false → the plain theta join stays a nested loop
    val off = plainBand().queryExecution.optimizedPlan.toString()
    assert(!off.contains("graft_band_bucket"), off)
    // enabled but the explode side is over the size ceiling → no rewrite
    withRule(
      "spark.graft.bandJoin.enabled" -> "true",
      "spark.graft.bandJoin.maxExplodeSize" -> "1") {
      val p = plainBand().queryExecution.optimizedPlan.toString()
      assert(!p.contains("graft_band_bucket"), p)
    }
    // a join that ALREADY has an equi-key is none of this rule's business
    withRule("spark.graft.bandJoin.enabled" -> "true") {
      val sup = Tables.supplier(spark, sf)
        .select("s_suppkey", "s_nationkey", "s_acctbal")
      val cust = Tables.customer(spark, sf)
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val p = cust.join(sup,
          cust("c_nationkey") === sup("s_nationkey") &&
            abs(sup("s_acctbal") - cust("c_acctbal")) <= 1.0)
        .queryExecution.optimizedPlan.toString()
      assert(!p.contains("graft_band_bucket"), p)
    }
  }

  test("GraftExtensions injects the rule at the preCBO hook") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    assert(gn.preCBORulesOf(ext, spark).exists(_.isInstanceOf[BandJoinRule]))
  }
}
