package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-15 additions beyond the verdict list:
  * MRR really is 1/rank-of-first-positive under the pessimistic tie
  * convention (brute sequential reference on controlled tie fixtures),
  * and the proximity score really is the pair count of positions
  * within the slop window (hand postings, boundary-exact).
  */
class Extra24Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("mrrOf == brute sequential MRR under pessimistic ties") {
    import spark.implicits._
    // seg 0: ranks (desc score) 9,8,7 — first positive at score 8 →
    //   k = 2, rr_units = 500000000.
    // seg 1: the TIE pin — scores 5,5,5 hold 2 negatives + 1 positive;
    //   pessimistic resolution ranks both tied negatives first, so the
    //   positive lands at k = 1(better: score 6) + 2(tied negs) + 1 = 4
    //   even though an optimistic engine would say 2.
    // seg 2: no positives — first_k NULL, rr_units 0, rr NULL.
    // seg 3: positive is the unique top score → k = 1, rr = 1.0.
    val e = Seq(
      (0L, 9.0, 0L), (0L, 8.0, 1L), (0L, 7.0, 1L),
      (1L, 6.0, 0L), (1L, 5.0, 0L), (1L, 5.0, 0L), (1L, 5.0, 1L),
      (2L, 3.0, 0L), (2L, 2.0, 0L),
      (3L, 4.0, 1L), (3L, 1.0, 0L)
    ).toDF("seg", "score", "pos")
    val got = graft.queries.Extra24.mrrOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toList
    val want = List(
      (0L, 3L, 2L, 2L, 500000000L),
      (1L, 4L, 1L, 4L, 250000000L),
      (2L, 2L, 0L, -1L, 0L),
      (3L, 2L, 1L, 1L, 1000000000L))
    assert(got == want, s"got $got\nwant $want")
    // The rounded ratio column agrees with the unit column (readability
    // rider, never the gate): seg 1 → 0.25, seg 2 → NULL.
    val rr = graft.queries.Extra24.mrrOf(e).collect()
      .map(r => if (r.isNullAt(5)) None else Some(r.getDecimal(5).doubleValue))
    assert(rr.toList == List(Some(0.5), Some(0.25), None, Some(1.0)), rr.toList)
  }

  test("proximityScored == the pair count within the slop window, boundary-exact") {
    import spark.implicits._
    // doc 1: w1 at {1, 10}, w2 at {4, 5, 14} with window 3:
    //   x=1 pairs y∈{4} (|1-4|=3 inside, |1-5|=4 outside) → 1
    //   x=10 pairs y∈{14}? |10-14|=4 outside → 0 … total 1.
    // doc 2: symmetric side — w2 BEFORE w1 must count (|x-y|, not x-y):
    //   w1 at {7}, w2 at {5} → |7-5|=2 → 1.
    // doc 3: w1 present, w2 absent → no posting join row, filtered out.
    val tf = Seq(
      (1L, "alpha", Seq(1, 10)), (1L, "beta", Seq(4, 5, 14)),
      (2L, "alpha", Seq(7)), (2L, "beta", Seq(5)),
      (3L, "alpha", Seq(2))
    ).toDF("doc_id", "word", "positions")
    val ph = Seq((1L, "alpha", "beta")).toDF("qid", "w1", "w2")
    val got = graft.queries.Extra24.proximityScored(tf, ph, window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 1L), (1L, 2L, 1L)), got.toString)
    // Widening the window by one admits exactly the two boundary pairs
    // (1↔5 and 10↔14 in doc 1) — the off-by-one pin on the slop.
    val got4 = graft.queries.Extra24.proximityScored(tf, ph, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got4 == Set((1L, 1L, 3L), (1L, 2L, 1L)), got4.toString)
  }

  // Sequential synchronous-LPA reference: every node simultaneously
  // adopts the most frequent neighbor label, ties to the smallest.
  private def bruteLpa(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = pairs ++ pairs.map(p => (p._2, p._1))
    val adj = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lab = adj.keys.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      lab = adj.map { case (n, ns) =>
        val cnt = ns.groupBy(lab).map { case (l, xs) => l -> xs.size }
        n -> cnt.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    lab
  }

  private def lpaAdj(pairs: Seq[(Long, Long)]) = {
    val sym = pairs ++ pairs.map(p => (p._2, p._1))
    spark.sparkContext
      .parallelize(sym.map { case (u, v) => (u, (v, 1L)) }, 4)
      .partitionBy(new org.apache.spark.HashPartitioner(4))
  }

  test("lpaRdd == the brute synchronous reference on hand graphs") {
    // Two triangles joined by one bridge, plus a disjoint edge — dense
    // regions absorb their members; the fixed-round trajectory must
    // match the sequential reference EVERY round (not just at some
    // converged end state — synchronous LPA on bipartite shapes can
    // oscillate, and the declared query's determinism claim is that
    // the trajectory itself is pinned).
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (10L, 11L))
    (1 to 4).foreach { r =>
      val got = graft.ops.Lpa.lpaRdd(lpaAdj(pairs), rounds = r).collect().toMap
      assert(got == bruteLpa(pairs, r), s"round $r: $got vs ${bruteLpa(pairs, r)}")
    }
    // A pure bipartite path oscillates under synchronous updates — the
    // reference and the RDD form must oscillate IDENTICALLY.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    (1 to 3).foreach { r =>
      val got = graft.ops.Lpa.lpaRdd(lpaAdj(path), rounds = r).collect().toMap
      assert(got == bruteLpa(path, r), s"path round $r")
    }
  }

  test("lpaRdd round 1 == min neighbor id; the guard fails loudly") {
    // With all-distinct initial labels every neighbor label has count
    // 1, so round 1 is pure tie-break — the label becomes the MINIMUM
    // neighbor id. A sharp closed-form pin on the tie-break direction.
    val pairs = Seq((7L, 3L), (7L, 9L), (3L, 9L), (9L, 20L))
    val got = graft.ops.Lpa.lpaRdd(lpaAdj(pairs), rounds = 1).collect().toMap
    assert(got == Map(7L -> 3L, 3L -> 7L, 9L -> 3L, 20L -> 9L), got.toString)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Lpa.lpaRdd(lpaAdj(pairs), rounds = 1, maxEdges = 2L)
    }
    assert(e.getMessage.contains("exceeding the declared bound"), e.getMessage)
  }

  test("modularityOf == the hand-computed Newman Q on a known partition") {
    import spark.implicits._
    // Two triangles {1,2,3} and {4,5,6} joined by bridge 3-4, with the
    // natural 2-community partition. Hand numbers: 7 undirected edges
    // → m2 = 14 directed; intra = 12 directed (both triangles, not the
    // bridge); degrees 2,2,3 | 3,2,2 → D = 7 per community →
    // Σ D² = 98; q_num = 12·14 − 98 = 70; Q = 70/196 = 0.357143 —
    // matching the textbook A/2m − Σ(D/2m)² = 6/7 − 1/2.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val e = (und ++ und.map(p => (p._2, p._1))).toDF("u", "v")
    val lab = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "label")
    val r = graft.queries.Extra24.modularityOf(e, lab).collect()
    assert(r.length == 1)
    val row = r(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      ((14L, 12L, 98L, 70L)), row.toString)
    assert(math.abs(row.getDecimal(4).doubleValue - 0.357143) < 1e-9, row.toString)
    // The degenerate all-one-community labeling scores Q = 0 exactly
    // (A = 2m and Σ D² = (2m)² telescope) — the metric's zero pin.
    val one = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("node", "label")
    val z = graft.queries.Extra24.modularityOf(e, one).collect()(0)
    assert(z.getLong(3) == 0L && z.getDecimal(4).doubleValue == 0.0, z.toString)
  }
}
