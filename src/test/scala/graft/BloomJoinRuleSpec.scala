package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{native => gn, BloomJoinRule}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The automatic bloom-join rule (SURVEY §4's injected Rule): the same
  * physical shape the hand-built `join_bloom` query declares, produced
  * automatically from a PLAIN equi-join by `BloomJoinRule`. Pins the
  * rewrite (probe filtered below the join, bloom built once), the
  * result-invisibility contract, the conf gates, and idempotence.
  */
class BloomJoinRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** The plain form of join_bloom's query: NO hand-built bloom stage. */
  private def plainJoin(): DataFrame = {
    val dim = Tables.part(spark, sf).filter(col("p_size") === 1)
      .select(col("p_partkey"), col("p_brand"))
    val probe = Tables.lineitem(spark, sf).select("l_partkey", "l_quantity")
    probe.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        Q.dec2(sum(Q.dec2(col("l_quantity")))).as("sum_qty"))
      .orderBy("p_brand")
  }

  private def withRule[A](confs: (String, String)*)(body: => A): A = {
    gn.attachBloomJoinRule(spark)
    val keys = confs.map(_._1)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally keys.foreach(spark.conf.unset)
  }

  test("rewrites a plain eligible equi-join into the join_bloom shape") {
    withRule(
      "spark.graft.bloomJoin.enabled" -> "true",
      "spark.graft.bloomJoin.minProbeSize" -> "0") {
      val df = plainJoin()
      val expected = {
        spark.conf.set("spark.graft.bloomJoin.enabled", "false")
        val rows = plainJoin().collect().toSeq
        spark.conf.set("spark.graft.bloomJoin.enabled", "true")
        rows
      }
      // result-invisible: bloom false positives die in the exact join
      assert(df.collect().toSeq == expected)
      // structural pin on the LOGICAL tree: the join's probe (left) child
      // is the bloom probe filter — i.e. rows drop BELOW the join
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      val belowJoin = df.queryExecution.optimizedPlan.exists {
        case Join(left, _, _, _, _) => left.exists {
          case Filter(c, _) => c.exists(_.isInstanceOf[BloomFilterMightContain])
          case _ => false
        }
        case _ => false
      }
      assert(belowJoin, df.queryExecution.optimizedPlan.toString())
      // physical pins, same as PlanSpec's hand-built join_bloom test: a
      // one-time scalar-subquery bloom aggregate feeding a might_contain
      // probe filter under the hash join
      val p = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      assert(p.contains("bloom_filter_agg"), p)
      val join = p.indexOf("BroadcastHashJoin")
      assert(join >= 0 && p.substring(join).contains("might_contain"), p)
    }
  }

  test("idempotent: re-optimization never stacks a second bloom probe") {
    withRule(
      "spark.graft.bloomJoin.enabled" -> "true",
      "spark.graft.bloomJoin.minProbeSize" -> "0") {
      val optimized = plainJoin().queryExecution.optimizedPlan
      // the fixed-point batch already ran the rule to convergence once;
      // a second full application must be a no-op
      val again = BloomJoinRule(spark)(optimized)
      def probes(s: String) = "might_contain".r.findAllIn(s).size
      assert(probes(optimized.toString()) == 1, optimized.toString())
      assert(again.sameResult(optimized), again.toString())
    }
  }

  test("conf-gated off by default; ineligible joins are left alone") {
    gn.attachBloomJoinRule(spark)
    // default: enabled=false
    val off = plainJoin().queryExecution.optimizedPlan.toString()
    assert(!off.contains("might_contain"), off)
    // enabled but the probe is below the size floor → no rewrite
    withRule(
      "spark.graft.bloomJoin.enabled" -> "true",
      "spark.graft.bloomJoin.minProbeSize" -> (1L << 40).toString) {
      val small = plainJoin().queryExecution.optimizedPlan.toString()
      assert(!small.contains("might_contain"), small)
    }
    // enabled but the dim side carries no selective filter → no rewrite
    withRule(
      "spark.graft.bloomJoin.enabled" -> "true",
      "spark.graft.bloomJoin.minProbeSize" -> "0") {
      val dim = Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))
      val p = Tables.lineitem(spark, sf).select("l_partkey", "l_quantity")
        .join(dim, col("l_partkey") === col("p_partkey"))
        .queryExecution.optimizedPlan.toString()
      assert(!p.contains("might_contain"), p)
    }
  }

  test("GraftExtensions injects the rule at the preCBO hook") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    assert(gn.preCBORulesOf(ext, spark).exists(_.isInstanceOf[BloomJoinRule]))
  }
}
