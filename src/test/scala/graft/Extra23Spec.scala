package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-14 retrieval/eval/graph additions — the
  * laws the hash gates state but can't explain: ECE really is the
  * bin-mass-weighted reliability gap (hand-computed controlled fixture),
  * BFS really is minimum hop distance (brute reference on a hand graph,
  * min-over-sources, bound and guard behavior).
  */
class Extra23Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("eval_calibration == the hand-computed ECE on a controlled fixture") {
    import spark.implicits._
    // Fixture designed bin by bin with DYADIC confidences (exactly
    // representable fractional parts, so every expected integer is
    // exact, not approximate). Bin 0 (conf 0.0625): 2 rows, 0 positive
    // → gap = |0 − 2·0.0625e9| = 125000000. Bin 2 (conf 0.25): 4 rows,
    // 1 positive — perfectly calibrated → gap = 0. Bin 5 (conf
    // 0.5625): 2 rows, 1 positive → gap = 125000000. Bin 9 (conf
    // 0.9375): 2 rows, 2 positive → gap = 125000000. N = 10,
    // ece_units = 375000000 / 10 = 37500000.
    val rows = Seq(
      (3.0625, 0L), (7.0625, 0L),                        // bin 0
      (1.25, 1L), (0.25, 0L), (9.25, 0L), (2.25, 0L),    // bin 2, calibrated
      (4.5625, 1L), (5.5625, 0L),                        // bin 5
      (6.9375, 1L), (8.9375, 1L))                        // bin 9
    val got = graft.queries.Extra23.calibrationOf(rows.toDF("value", "pos"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    // bin → (n, n_pos, gap_units, ece_units)
    val want = Map(
      0L -> (2L, 0L, 125000000L, 37500000L),
      2L -> (4L, 1L, 0L, 37500000L),
      5L -> (2L, 1L, 125000000L, 37500000L),
      9L -> (2L, 2L, 125000000L, 37500000L))
    assert(got == want, s"got $got\nwant $want")
  }

  test("multiSourceBfs == brute min-hop on a hand graph; bound respected") {
    import spark.implicits._
    // Path 1-2-3-4-5-6-7, separate component 10-11, isolated 20 (no
    // edges → never appears). Sources {1, 5, 10}: distance is the MIN
    // over sources; hop bound 2 truncates the frontier at dist 2.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (10L, 11L))
    val edges = (und ++ und.map(e => (e._2, e._1))).toDF("u", "v")
    val sources = Seq(1L, 5L, 10L).toDF("node")
    val got = graft.ops.Bfs.multiSourceBfs(edges, sources, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 0L, 5L -> 0L, 10L -> 0L,
      2L -> 1L, 4L -> 1L, 6L -> 1L, 11L -> 1L,
      3L -> 2L, 7L -> 2L)
    assert(got == want, s"got $got\nwant $want")
    // Unbounded (hops ≥ diameter) covers both components, nothing else.
    val full = graft.ops.Bfs.multiSourceBfs(edges, sources, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == want, s"already complete at 2 hops: $full")
    // The frontier admission guard fails loudly, naming the bound.
    val e = intercept[IllegalArgumentException] {
      graft.ops.Bfs.multiSourceBfs(edges, Seq(1L).toDF("node"),
        maxHops = 3, maxFrontier = 0L)
    }
    assert(e.getMessage.contains("exceeding the declared bound"), e.getMessage)
  }

  test("multiSourceSssp == brute bounded-hop Dijkstra on a weighted hand graph") {
    import spark.implicits._
    // 1 →(5) 2 →(1) 3, 1 →(10) 3, 3 →(2) 4 (symmetric). The hop bound
    // is the sharp pin: at ≤2 hops the best route to 4 is the pricier
    // 1→3→4 (12) because the cheaper 1→2→3→4 (8) needs 3 hops.
    val und = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 2L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3))).toDF("u", "v", "w")
    val sources = Seq(1L).toDF("node")
    def run(h: Int) = graft.ops.Bfs.multiSourceSssp(edges, sources, maxHops = h)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 12L), run(2).toString)
    assert(run(3) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 8L), run(3).toString)
    // Relaxation can only tighten: at ≥ diameter the result is stable.
    assert(run(5) == run(3), s"${run(5)} vs ${run(3)}")
    // The node-count admission guard fails loudly, naming the bound.
    val e = intercept[IllegalArgumentException] {
      graft.ops.Bfs.multiSourceSssp(edges, sources, maxHops = 2, maxNodes = 1L)
    }
    assert(e.getMessage.contains("exceeding the declared bound"), e.getMessage)
  }

  test("corpusStatsStaged == corpusStats: one tf construction, no drift") {
    // ADVICE r14: the declared retrieval queries run the STAGED copy
    // while the spec pinned only the fresh path — both now build
    // through one shared tfOf, and this pin proves the staging
    // write/read round-trip (bucketed parquet) preserves the relation
    // exactly, positions column included.
    val d = "/root/testdata/sf0.001"
    def rows(tf: org.apache.spark.sql.DataFrame) =
      tf.select("doc_id", "word", "tf", "positions").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getSeq[Int](3).toList)).sortBy(t => (t._1, t._2)).toList
    val (tfS, _, _) = graft.queries.Extra23.corpusStatsStaged(spark, d)
    val (tfF, _, _) = graft.queries.Extra23.corpusStats(
      graft.Tables.documents(spark, d))
    assert(rows(tfS) == rows(tfF))
  }

  test("RDD traversals == the DataFrame reference forms on the hand graphs") {
    import spark.implicits._
    import org.apache.spark.HashPartitioner
    // Same fixtures as the DataFrame pins above; the RDD forms are the
    // declared queries' serving path (r15 — zero per-round planning),
    // so their semantics must be pinned EQUAL to the reference loops.
    def adj(rows: Seq[(Long, Long, Long)]) =
      spark.sparkContext.parallelize(rows.map { case (u, v, w) => (u, (v, w)) }, 4)
        .partitionBy(new HashPartitioner(4))
    // BFS hand graph (unit weights attached; BFS ignores them).
    val undB = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (10L, 11L))
    val edgesB = adj((undB ++ undB.map(e => (e._2, e._1))).map(e => (e._1, e._2, 1L)))
    val gotB = graft.ops.Bfs.multiSourceBfsRdd(edgesB, Seq(1L, 5L, 10L), maxHops = 2)
      .collect().toMap
    assert(gotB == Map(1L -> 0L, 5L -> 0L, 10L -> 0L,
      2L -> 1L, 4L -> 1L, 6L -> 1L, 11L -> 1L, 3L -> 2L, 7L -> 2L), gotB.toString)
    // SSSP hand graph — the ≤2-hop sharp pin (cheaper 3-hop route must
    // NOT beat the pricier 2-hop one under the bound).
    val undS = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 2L))
    val edgesS = adj(undS ++ undS.map(e => (e._2, e._1, e._3)))
    def runS(h: Int) = graft.ops.Bfs.multiSourceSsspRdd(edgesS, Seq(1L), maxHops = h)
      .collect().toMap
    assert(runS(2) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 12L), runS(2).toString)
    assert(runS(3) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 8L), runS(3).toString)
    // Admission guards fail loudly, naming the bound.
    val eb = intercept[IllegalArgumentException] {
      graft.ops.Bfs.multiSourceBfsRdd(edgesB, Seq(1L), maxHops = 3, maxFrontier = 1L)
    }
    assert(eb.getMessage.contains("exceeding the declared bound"), eb.getMessage)
  }

  test("kCoreRdd == the hand k-core; cascading peel; loud non-convergence guard") {
    import org.apache.spark.HashPartitioner
    def adj(und: Seq[(Long, Long)]) = {
      val sym = und ++ und.map(e => (e._2, e._1))
      spark.sparkContext.parallelize(sym.map { case (u, v) => (u, (v, 1L)) }, 4)
        .partitionBy(new HashPartitioner(4))
    }
    // Triangle {1,2,3} + chain 3-4-5: the 2-core is exactly the
    // triangle (each induced degree 2) and the peel must CASCADE — 5
    // falls on the full-degree filter, which exposes 4 (induced degree
    // drops to 1) on the next round.
    val g = adj(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    val got = graft.ops.KCore.kCoreRdd(g, k = 2).collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got.toString)
    // k above the max degree: the core is EMPTY, and that is a stable
    // answer, not an error.
    assert(graft.ops.KCore.kCoreRdd(g, k = 4).collect().isEmpty)
    // A pure path needs one peel round per layer — bounding rounds
    // below the cascade depth must fail loudly, naming the scale path.
    val path = adj(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val e = intercept[IllegalArgumentException] {
      graft.ops.KCore.kCoreRdd(path, k = 2, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    // …and with round budget the same peel converges to the empty core.
    assert(graft.ops.KCore.kCoreRdd(path, k = 2).collect().isEmpty)
  }

  test("multiSourceRelax with a per-round squared relation == 3-hop SSSP") {
    import spark.implicits._
    // The generalized per-round-relation contract: ew = e ∪ e2 (exact
    // 2-walk pairs, min 2-walk weight) for round 1, e alone for round
    // 2, equals the uniform 3-round relaxation — the stride-2
    // decomposition argument (any ≤3-hop path = ≤2-hop prefix + ≤1
    // edge). e2 hand-derived from the weighted hand graph.
    val und = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 2L))
    val sym = und ++ und.map(e => (e._2, e._1, e._3))
    val e = sym.toDF("u", "v", "w")
    val e2 = (for {
      (a, m1, w1) <- sym; (m2, b, w2) <- sym
      if m1 == m2 && a != b
    } yield ((a, b), w1 + w2))
      .groupBy(_._1).map { case ((a, b), ws) => (a, b, ws.map(_._2).min) }
      .toSeq.toDF("u", "v", "w")
    val sources = Seq(1L).toDF("node")
    val got = graft.ops.Bfs.multiSourceRelax(Seq(e.union(e2), e), sources)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.ops.Bfs.multiSourceSssp(e, sources, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got $got\nwant $want")
  }

  test("rrfFuse == the hand-computed integer RRF on controlled rank lists") {
    import spark.implicits._
    // Query 1: doc 100 in both lists (ranks 1, 3), doc 101 dense-only
    // (rank 2), doc 102 lexical-only (rank 1). k = 60:
    //   100 → ⌊1e9/61⌋ + ⌊1e9/63⌋ = 16393442 + 15873015 = 32266457
    //   101 → ⌊1e9/62⌋ = 16129032
    //   102 → ⌊1e9/61⌋ = 16393442
    // Order: 100, 102, 101 (integer tie-free by construction).
    val ranked = Seq(
      (1L, 100L, 1), (1L, 101L, 2),   // dense list
      (1L, 102L, 1), (1L, 100L, 3))   // lexical list
      .toDF("q_id", "doc_id", "rank")
    val got = graft.queries.Extra23.rrfFuse(ranked)
      .orderBy(col("rrf_units").desc, col("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((100L, 32266457L), (102L, 16393442L), (101L, 16129032L)),
      got.toString)
  }

  test("BM25 corpus stats: tf/dl/totals agree with a driver-side recount") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a c"), (1L, "b b b"), (2L, "c"), (3L, " a  a ")) // messy spaces
      .toDF("doc_id", "text")
    val (tf, dl, nt) = graft.queries.Extra23.corpusStats(docs)
    val tfm = tf.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tfm == Map((0L, "a") -> 2L, (0L, "b") -> 1L, (0L, "c") -> 1L,
      (1L, "b") -> 3L, (2L, "c") -> 1L, (3L, "a") -> 2L), tfm.toString)
    val dlm = dl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dlm == Map(0L -> 4L, 1L -> 3L, 2L -> 1L, 3L -> 2L), dlm.toString)
    val Array(row) = nt.collect()
    assert(row.getLong(0) == 4L && row.getLong(1) == 10L, row.toString)
  }
}
