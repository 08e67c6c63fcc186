package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-15 session-2 additions: RA link
  * prediction really equals the textbook edges⋈edges⋈degrees formula
  * (hand bipartite graph), recall@k really counts the pessimistic
  * top-k's positives (discriminating tie fixture), Dice collocation
  * scores match hand arithmetic (and the min-count floor cuts), and
  * the CUSUM peak/index match a brute sequential scan including the
  * min-index tie rule.
  */
class Extra25Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("linkPredScores == textbook RA formula on a hand bipartite graph") {
    import spark.implicits._
    // Baskets: o1 = {1,2,4}, o2 = {1,2}, o3 = {2,3,4}; query items odd
    // (queryMod = 2): px ∈ {1, 3}.
    //   deg(o1) = 3 → w = 333333333; deg(o2) = 2 → w = 500000000;
    //   deg(o3) = 3 → w = 333333333.
    // px=1 (baskets o1, o2): (1,2) shared in both → cn 2,
    //   ra = 333333333 + 500000000 = 833333333; (1,4) only o1 → cn 1.
    // px=3 (basket o3): (3,2) and (3,4), cn 1, ra 333333333 each.
    val e0 = Seq((1L, 10L), (2L, 10L), (4L, 10L), (1L, 20L), (2L, 20L),
      (2L, 30L), (3L, 30L), (4L, 30L)).toDF("p", "o")
    val got = graft.queries.Extra25.linkPredScores(e0, queryMod = 2)
      .orderBy("px", "py").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    val want = List(
      (1L, 2L, 2L, 833333333L), (1L, 4L, 1L, 333333333L),
      (3L, 2L, 1L, 333333333L), (3L, 4L, 1L, 333333333L))
    assert(got == want, s"got $got\nwant $want")
  }

  test("linkPredScores never pairs a query item with itself") {
    import spark.implicits._
    // A basket containing ONLY the query item must emit nothing; a
    // 2-item basket emits exactly the one cross pair.
    val e0 = Seq((1L, 10L), (1L, 20L), (6L, 20L)).toDF("p", "o")
    val got = graft.queries.Extra25.linkPredScores(e0, queryMod = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(got == List((1L, 6L, 1L, 500000000L)), got.toString)
  }

  test("recallAtK == brute pessimistic top-k positives, tie-discriminating") {
    import spark.implicits._
    // seg 0: scores 9(n), 8(p), 7(p), 6(p); k = 3 → top-3 = {9,8,7} →
    //   hits 2 of n_pos 3: recall_units = 666666666, precision 2e9/3.
    // seg 1: THE TIE PIN — 6(n), then 5,5,5 holding 1 positive + 2
    //   negatives; pessimistic puts the tied negatives at ranks 2,3 so
    //   the positive lands at 4 > k: hits 0 (an optimistic engine
    //   would claim 1).
    // seg 2: zero positives → recall_units 0 (guarded division).
    // seg 3: more positives than k → hits capped at k.
    val e = Seq(
      (0L, 9.0, 0L), (0L, 8.0, 1L), (0L, 7.0, 1L), (0L, 6.0, 1L),
      (1L, 6.0, 0L), (1L, 5.0, 0L), (1L, 5.0, 0L), (1L, 5.0, 1L),
      (2L, 3.0, 0L), (2L, 2.0, 0L),
      (3L, 9.0, 1L), (3L, 8.0, 1L), (3L, 7.0, 1L), (3L, 6.0, 1L)
    ).toDF("seg", "score", "pos")
    val got = graft.queries.Extra25.recallAtK(e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toList
    val want = List(
      (0L, 4L, 3L, 2L, 666666666L, 666666666L),
      (1L, 4L, 1L, 0L, 0L, 0L),
      (2L, 2L, 0L, 0L, 0L, 0L),
      (3L, 4L, 4L, 3L, 750000000L, 1000000000L))
    assert(got == want, s"got $got\nwant $want")
  }

  test("diceCollocations == hand arithmetic; min-count floor cuts") {
    import spark.implicits._
    // Docs "a b a b" and "a b c": bigrams (a,b)×3, (b,a)×1, (b,c)×1;
    // unigrams a=3, b=3, c=1.
    //   dice(a,b) = 2·3·1e9 div (3+3) = 1000000000
    //   dice(b,a) = 2·1·1e9 div (3+3) = 333333333
    //   dice(b,c) = 2·1·1e9 div (3+1) = 500000000
    val docs = Seq("a b a b", "a b c").toDF("text")
    val got = graft.queries.Extra25.diceCollocations(docs, minCount = 1L)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toList
    val want = List(
      ("a", "b", 3L, 3L, 3L, 1000000000L),
      ("b", "a", 1L, 3L, 3L, 333333333L),
      ("b", "c", 1L, 3L, 1L, 500000000L))
    assert(got == want, s"got $got\nwant $want")
    // The floor keeps only pairs at or above minCount.
    val floored = graft.queries.Extra25.diceCollocations(docs, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toList
    assert(floored == List(("a", "b")), floored.toString)
    // Single-token docs contribute unigrams but no bigrams (no
    // descending-sequence trap on size(ws) - 1 = 0).
    val single = graft.queries.Extra25
      .diceCollocations(Seq("a b", "z").toDF("text"), minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1))).toList
    assert(single == List(("a", "b")), single.toString)
  }

  test("seeded brute-force parity: recall@k, gini pairwise law, spearman, cusum") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)

    // recallAtK vs the brute pessimistic top-k: sorting by (score DESC,
    // pos ASC) puts tied negatives first, which IS the pessimistic
    // convention — take k, count positives. 240 rows, 3 segs, scores
    // drawn from 12 distinct values so ties are dense.
    val er = (1 to 240).map(_ =>
      (rnd.nextInt(3).toLong, (rnd.nextInt(12) * 0.5), rnd.nextInt(2).toLong))
    val k = 20
    val bruteHits = er.groupBy(_._1).map { case (seg, rows) =>
      seg -> rows.sortBy(r => (-r._2, r._3)).take(k).map(_._3).sum
    }
    val gotR = graft.queries.Extra25.recallAtK(
      er.toDF("seg", "score", "pos"), k).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gotR == bruteHits, s"got $gotR\nwant $bruteHits")

    // giniOf vs the pairwise mean-difference law: the tie-corrected
    // rank form's integer numerator equals HALF the sum of all ordered
    // pairwise absolute differences — an algebraic identity the two
    // independent formulations must agree on.
    val xs = (1 to 150).map(_ => rnd.nextInt(30).toLong)
    val s2 = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
    val gotG = graft.queries.Extra25.giniOf(xs.toDF("x")).collect()(0)
    assert(gotG.getLong(2) * 2 == s2, s"rank-form num ${gotG.getLong(2)} vs pairwise ${s2 / 2}")

    // spearmanOf vs a brute double-arithmetic Spearman with average
    // ties (rounded to the emitted 6 decimals).
    val ab = (1 to 120).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(10).toLong))
    def avgRanks(vs: Seq[Long]): Map[Long, Double] = {
      val sorted = vs.sorted.zipWithIndex.map { case (v, i) => (v, i + 1.0) }
      sorted.groupBy(_._1).map { case (v, g) => v -> g.map(_._2).sum / g.size }
    }
    val raM = avgRanks(ab.map(_._1)); val rbM = avgRanks(ab.map(_._2))
    val pts = ab.map { case (a, b) => (raM(a), rbM(b)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val bruteRho = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val gotS = graft.queries.Extra25.spearmanOf(ab.toDF("a", "b")).collect()(0)
    assert(math.abs(gotS.getDecimal(2).doubleValue - bruteRho) < 2e-6,
      s"got ${gotS.getDecimal(2)} want $bruteRho")

    // cusumChangepoint vs a brute sequential scan with the min-index
    // tie rule on a seeded series.
    val series = (0 until 60).map(i => (100L + rnd.nextInt(40), i))
    val nL = series.size.toLong
    val tot = series.map(_._1).sum
    val cs = series.map(_._1).scanLeft(0L)(_ + _).tail.zipWithIndex.map {
      case (pre, i0) => (math.abs(nL * pre - (i0 + 1) * tot), i0 + 1L)
    }
    val mx = cs.map(_._1).max
    val bruteK = cs.filter(_._1 == mx).map(_._2).min
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val vdf = series.map { case (c, i) =>
      ("s", c, new java.sql.Timestamp(t0.getTime + i * 1000L), i.toLong)
    }.toDF("event_type", "cents", "ts", "event_id")
    val gotC = graft.queries.Extra25.cusumChangepoint(vdf).collect()(0)
    assert((gotC.getLong(3), gotC.getLong(4)) == ((bruteK, mx)), gotC.toString)
  }

  test("kappaOf == Cohen's textbook 2x2 example; degenerate bounds") {
    import spark.implicits._
    // The classic worked example: 50 items, agreements 20 (yes/yes) +
    // 15 (no/no), disagreements 5 + 10 → p_o = 0.7, p_e = 0.5, κ = 0.4.
    // Integer form: so = 35, Σrc = 25·30 + 25·20 = 1250,
    // κ = (50·35 − 1250)/(50² − 1250) = 500/1250.
    def items(nYY: Int, nYN: Int, nNY: Int, nNN: Int) =
      (Seq.fill(nYY)((1L, 1L)) ++ Seq.fill(nYN)((1L, 0L)) ++
        Seq.fill(nNY)((0L, 1L)) ++ Seq.fill(nNN)((0L, 0L))).toDF("r1", "r2")
    val got = graft.queries.Extra25.kappaOf(items(20, 5, 10, 15)).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((50L, 35L, 1250L, 500L, 1250L)), got.toString)
    assert(got.getDecimal(5) == new java.math.BigDecimal("0.400000"), got.toString)
    // Perfect agreement → κ = 1; marginal-independent raters → κ = 0.
    val perfect = graft.queries.Extra25.kappaOf(items(30, 0, 0, 20)).collect()(0)
    assert(perfect.getDecimal(5) == new java.math.BigDecimal("1.000000"))
    val indep = graft.queries.Extra25.kappaOf(items(9, 21, 3, 7)).collect()(0)
    // rows: r1=1 30, r1=0 10; cols: r2=1 12, r2=0 28 → Σrc = 360+280=640,
    // so = 16, n·so = 640 → κ_num = 0.
    assert(perfect.getLong(3) == perfect.getLong(4)) // num == den
    assert(indep.getLong(3) == 0L, indep.toString)
    // Degenerate contract (ADVICE r15): all mass in ONE cell → p_e = 1,
    // kappa_den = 0, and κ is an explicit NULL (nullif in both
    // engines), never a 0/0 NaN whose decimal cast diverges.
    val onecell = graft.queries.Extra25.kappaOf(items(40, 0, 0, 0)).collect()(0)
    assert(onecell.getLong(4) == 0L, onecell.toString)
    assert(onecell.isNullAt(5), onecell.toString)
  }

  test("autocorrOf == hand Pearson on an alternating series") {
    import spark.implicits._
    // x = +1,−1,+1,−1,+1,−1 (cents ±100): perfect alternation gives
    // r(lag1) = −1, r(lag2) = +1, r(lag3) = −1 — signs and magnitudes
    // pin the pairing, the power sums, and the trailing double ops.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val v = (0 until 6).map(i =>
      ("x", if (i % 2 == 0) 100L else -100L, ts(i), 10L + i))
      .toDF("event_type", "x", "ts", "event_id")
    val got = graft.queries.Extra25.autocorrOf(v, maxLag = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDecimal(4).toPlainString)).toList
    val want = List(
      ("x", 1L, 5L, -50000L, "-1.000000"),
      ("x", 2L, 4L, 40000L, "1.000000"),
      ("x", 3L, 3L, -30000L, "-1.000000"))
    assert(got == want, s"got $got\nwant $want")
  }

  test("spearmanOf == hand average-tie ranks on a controlled fixture") {
    import spark.implicits._
    // (a, b) = (1,10),(2,20),(2,20),(3,5): average-tie ranks of a are
    // 1, 2.5, 2.5, 4 and of b are 2, 3.5, 3.5, 1 → ρ = −1.5/4.5 =
    // −1/3 by hand Pearson over the ranks. Doubled ranks x = 2,5,5,8,
    // y = 4,7,7,2 → sxy = 94.
    val d = Seq((1L, 10L), (2L, 20L), (2L, 20L), (3L, 5L)).toDF("a", "b")
    val got = graft.queries.Extra25.spearmanOf(d).collect()(0)
    assert((got.getLong(0), got.getLong(1)) == ((4L, 94L)), got.toString)
    assert(got.getDecimal(2) == new java.math.BigDecimal("-0.333333"), got.toString)
    // A strictly monotone pairing is ρ = 1 exactly.
    val mono = Seq((1L, 5L), (2L, 6L), (3L, 9L), (4L, 11L)).toDF("a", "b")
    val gm = graft.queries.Extra25.spearmanOf(mono).collect()(0)
    assert(gm.getDecimal(2) == new java.math.BigDecimal("1.000000"), gm.toString)
  }

  test("giniOf == closed-form bounds with average-tie ranks") {
    import spark.implicits._
    // All-equal input → G = 0 (gini_num telescopes to zero).
    val eq = Seq(7L, 7L, 7L, 7L).toDF("x")
    val ge = graft.queries.Extra25.giniOf(eq).collect()(0)
    assert(ge.getLong(2) == 0L, ge.toString)
    // Total concentration (0,0,0,4) → G = (n−1)/n = 0.75:
    // twoixsum = 8·4 = 32, num = 32 − 5·4 = 12, den = 16.
    val conc = Seq(0L, 0L, 0L, 4L).toDF("x")
    val gc = graft.queries.Extra25.giniOf(conc).collect()(0)
    assert((gc.getLong(0), gc.getLong(1), gc.getLong(2), gc.getLong(3))
      == ((4L, 4L, 12L, 16L)), gc.toString)
    assert(gc.getDecimal(4) == new java.math.BigDecimal("0.750000"), gc.toString)
  }

  test("assortativityOf == textbook values via the symmetry folding") {
    import spark.implicits._
    // P3 (path 1–2–3, symmetric): degrees 1,2,1; degree pairs over the
    // 4 directed edges are (1,2),(2,1),(2,1),(1,2) → n=4, sx=6, sxy=8,
    // sxx=10: r_num = 32−36 = −4, den = 40−36 = 4 → r = −1 (the
    // textbook maximally-disassortative path).
    val p3 = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    val got = graft.queries.Extra25.assortativityOf(p3).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((4L, 6L, 8L, -4L)), got.toString)
    assert(got.getDecimal(4) == new java.math.BigDecimal("-1.000000"), got.toString)
    // Star S3 (hub 0 to leaves 1,2,3): every edge pairs degree 3 with
    // degree 1 → also r = −1, but with n=6, sx=12, sxy=18:
    // r_num = 108 − 144 = −36.
    val s3 = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L), (0L, 3L), (3L, 0L))
      .toDF("u", "v")
    val gs = graft.queries.Extra25.assortativityOf(s3).collect()(0)
    assert((gs.getLong(0), gs.getLong(3)) == ((6L, -36L)), gs.toString)
    assert(gs.getDecimal(4) == new java.math.BigDecimal("-1.000000"), gs.toString)
  }

  test("brierOf: closed-form bounds and a hand mixed forecast") {
    import spark.implicits._
    // Perfect forecasts (p = y) → 0; maximally wrong (p = 1 − y) → 1;
    // a half-confident forecast on any outcome contributes 0.25.
    val e = Seq(
      ("perfect", 1000000L, 1L), ("perfect", 0L, 0L),
      ("wrong", 1000000L, 0L), ("wrong", 0L, 1L),
      ("half", 500000L, 1L), ("half", 500000L, 0L)
    ).toDF("event_type", "cu6", "pos")
    val got = graft.queries.Extra25.brierOf(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getDecimal(4).toPlainString)).toList
    val want = List(
      ("half", 2L, 250000000000L, "0.250000"),
      ("perfect", 2L, 0L, "0.000000"),
      ("wrong", 2L, 1000000000000L, "1.000000"))
    assert(got == want, s"got $got\nwant $want")
  }

  test("rankClimbOf: hand two-snapshot ranks, null halves drop") {
    import spark.implicits._
    // (p, qa, qb): early ranks over non-null qa are p1(10)→1, p4(7)→2,
    // p2(5)→3; late ranks over non-null qb are p2(20)→1, p4(7)→2,
    // p3(5)→3, p1(1)→4. p3 (absent early) must drop; climbs are
    // p1: 1−4 = −3, p2: 3−1 = 2, p4: 2−2 = 0.
    val halves = Seq(
      (1L, Some(10L), Some(1L)), (2L, Some(5L), Some(20L)),
      (3L, None, Some(5L)), (4L, Some(7L), Some(7L))
    ).toDF("p", "qa", "qb")
    val got = graft.queries.Extra25.rankClimbOf(halves)
      .orderBy("p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    val want = List((1L, 1L, 4L, -3L), (2L, 3L, 1L, 2L), (4L, 2L, 2L, 0L))
    assert(got == want, s"got $got\nwant $want")
    // ADVICE r16: the default domainBound (Long.MaxValue) exercises the
    // two-phase branch only — force the SINGLE-WINDOW branch
    // (domainBound = 0 < twoPhaseMinRows) and pin that both branches
    // return identical ranks on the same fixture.
    val gotSingle = graft.queries.Extra25.rankClimbOf(halves, domainBound = 0L)
      .orderBy("p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(gotSingle == want, s"single-window branch: got $gotSingle\nwant $want")
  }

  test("crossCorrOf: a lag-1 shifted copy reads exactly 1 at lag 1") {
    import spark.implicits._
    // cy is cx shifted one day forward (cy(d) = cx(d−1)), so the lag-1
    // pairing re-aligns the copies: r(1) = 1.000000 exactly, with
    // n_pairs = 3 and sum_prod = Σ cx² = 1+9+4 = 14. Lag 0 and 2 pair
    // misaligned values (gate-checked against DuckDB in the declared
    // query; here the integer columns pin the pairing itself):
    // lag 0 pairs (1,9),(3,1),(2,3),(5,2) → sum_prod 28;
    // lag 2 pairs (1,3),(3,2) → n_pairs 2.
    val c = Seq((0L, 1L, 9L), (1L, 3L, 1L), (2L, 2L, 3L), (3L, 5L, 2L))
      .toDF("day", "cx", "cy")
    val got = graft.queries.Extra25.crossCorrOf(c, maxLag = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).toPlainString)).toList
    assert(got.map(t => (t._1, t._2, t._3)) ==
      List((0L, 4L, 28L), (1L, 3L, 14L), (2L, 2L, 9L)), got.toString)
    assert(got(1)._4 == "1.000000", got.toString)
    // Caller contract enforced (ADVICE r15): a duplicate calendar day
    // must fail loudly (named raise_error), never silently max-merge.
    val dup = Seq((0L, 1L, 9L), (1L, 3L, 1L), (1L, 4L, 2L))
      .toDF("day", "cx", "cy")
    val ex = intercept[Exception] {
      graft.queries.Extra25.crossCorrOf(dup, maxLag = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("duplicate calendar day")),
      ex.toString)
  }

  test("cusumChangepoint == brute sequential CUSUM with min-index ties") {
    import spark.implicits._
    // Series "x" (level shift 1,1,1 → 10,10): n=5, tot=23,
    // prefix 1,2,3,13,23 → C_i = 5·pre − i·23 = −18,−36,−54,−27,0 →
    // peak |−54| at i=3, exactly the pre-shift boundary.
    // Series "y" (symmetric 2,0,0,2): |C| = 4,0,4,0 → the peak TIES at
    // i ∈ {1,3}; the min-index rule must pick k=1.
    // Rows arrive shuffled and "y" carries a same-ts pair so the
    // (ts, event_id) order is exercised.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val v = Seq(
      ("x", 100L, ts(4), 14L), ("x", 1000L, ts(10), 20L),
      ("x", 100L, ts(2), 12L), ("x", 1000L, ts(12), 22L),
      ("x", 100L, ts(0), 10L),
      ("y", 200L, ts(0), 30L), ("y", 0L, ts(1), 31L),
      ("y", 0L, ts(2), 32L), ("y", 200L, ts(2), 33L)
    ).toDF("event_type", "cents", "ts", "event_id")
    val got = graft.queries.Extra25.cusumChangepoint(v).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    val want = List(
      ("x", 5L, 2300L, 3L, 5400L),
      ("y", 4L, 400L, 1L, 400L))
    assert(got == want, s"got $got\nwant $want")
  }
}
