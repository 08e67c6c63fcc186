package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IvfPq

/** Containment pins for the IVF-PQ composite index (the SketchesSpec
  * headroom discipline): the declared sim_ann_ivfpq parameters AND the
  * one-notch-weaker shortlist must contain the true per-query top-10 on
  * each fixture tier, and the measured qp edge below the declared probe
  * width must actually miss — proving the declared point sits one notch
  * above a MEASURED edge rather than on (or far from) it.
  */
class IvfPqSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(8).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Exact per-query top-10 under the (ROUND(sim,4) DESC, nb_id) total
    * order — the oracle's ranking, brute-forced.
    */
  private def truth(embs: DataFrame): Set[(Long, Long)] = {
    val e = embs.select(col("vec_id"), col("embedding"))
    val q = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val pairs = q.join(
        broadcast(e.select(col("vec_id").as("nb_id"), col("embedding").as("xe"))),
        col("nb_id") =!= col("q_id"))
      .select(col("q_id"), col("nb_id"),
        round(org.apache.spark.sql.graft.native.cosine_similarity(
          col("qe"), col("xe")), 4).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("nb_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def got(embs: DataFrame, qp: Int, shortlist: Int): Set[(Long, Long)] =
    IvfPq.search(embs, nq = 8, kCells = 16, rc = 3, qp = qp, m = 16,
        k = 16, shortlist = shortlist, topK = 10)
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // Declared shortlist = 40% of N (the sim_ann_ivfpq formula); the
  // headroom notch is the measured 35% edge.
  private def s40(n: Long) = math.max(64L, (n * 2 + 4) / 5).toInt
  private def s35(n: Long) = math.max(64L, (n * 7 + 19) / 20).toInt

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf (binding N=500 tier): declared AND 35%-notch contain the true top-10") {
      val embs = Tables.embeddings(spark, s"/root/testdata/$sf")
      val n = embs.count()
      val t = truth(embs)
      assert((t -- got(embs, qp = 6, shortlist = s40(n))).isEmpty, "declared missed")
      assert((t -- got(embs, qp = 6, shortlist = s35(n))).isEmpty, "35% notch missed")
    }
  }

  test("sf0.001: the qp=5 probe edge actually misses — the declared point is measured, not guessed") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val t = truth(embs)
    assert((t -- got(embs, qp = 5, shortlist = s35(embs.count()))).nonEmpty,
      "qp=5 unexpectedly recall-complete — re-sweep and tighten the declared parameters")
  }

  test("sf0.1 (N=2000 tier): declared parameters contain the true top-10") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val t = truth(embs)
    assert((t -- got(embs, qp = 6, shortlist = s40(embs.count()))).isEmpty)
  }

  test("staged search == fresh search, on the build call AND the read-back call") {
    // The declared queries run searchStaged, whose second call takes the
    // parquet read-back path no other test exercises: a schema/type
    // drift in the staged cents/cb/codes round-trip would diverge from
    // fresh builds and only surface in the external oracle harness.
    // Covers both index families; the unique tag isolates this test's
    // staging dir from the declared queries'.
    val sf = "/root/testdata/sf0.001"
    val embs = Tables.embeddings(spark, sf)
    val n = embs.count()
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq // already totally ordered
    val freshI = rows(IvfPq.search(embs, nq = 8, kCells = 16, rc = 3,
      qp = 6, m = 16, k = 16, shortlist = s40(n), topK = 10))
    for (call <- 1 to 2) {
      val stagedI = rows(IvfPq.searchStaged(embs, tag = s"spec_$sf", nq = 8,
        kCells = 16, rc = 3, qp = 6, m = 16, k = 16, shortlist = s40(n),
        topK = 10, refine = 1))
      assert(stagedI == freshI, s"IvfPq staged call $call diverged")
    }
    val freshP = rows(graft.ops.PqIndex.search(embs, nq = 8, m = 16,
      k = 16, rounds = 0, shortlist = s40(n), topK = 10))
    for (call <- 1 to 2) {
      val stagedP = rows(graft.ops.PqIndex.searchStaged(embs,
        tag = s"spec_$sf", nq = 8, m = 16, k = 16, rounds = 0,
        shortlist = s40(n), topK = 10))
      assert(stagedP == freshP, s"PqIndex staged call $call diverged")
    }
  }
}
