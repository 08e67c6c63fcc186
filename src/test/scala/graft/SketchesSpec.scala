package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sketches

/** Properties of the sketch operators: exact duplicates are always
  * caught, Jaccard estimates track truth, SimHash distance 0 for
  * identical docs, ANN recall against the brute-force baseline.
  */
class SketchesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def docsWithDup = {
    import spark.implicits._
    val words = (0 until 40).map(i => s"w$i")
    // doc 0 == doc 1 (exact dup); doc 2 shares a 30-word prefix (near);
    // doc 3 disjoint.
    Seq(
      (0L, words.mkString(" ")),
      (1L, words.mkString(" ")),
      (2L, (words.take(30) ++ (0 until 10).map(i => s"x$i")).mkString(" ")),
      (3L, (0 until 40).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
  }

  test("connected components: chains merge to min label, singletons stay") {
    import spark.implicits._
    val nodes = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val reps = graft.ops.Components.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connected components: 100-node chain converges via pointer jumping") {
    import spark.implicits._
    // Diameter 99 ≫ the round budget for plain propagation — only the
    // rep(rep) shortcut (O(log diameter) rounds) closes this in time.
    // localSolveMaxEdges = 0 pins the ITERATIVE path (the chain is small
    // enough that the union-find fast path would otherwise take it).
    val n = 100L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val (reps, rounds) = graft.ops.Components
      .connectedComponentsWithStats(nodes, edges, localSolveMaxEdges = 0)
    val got = reps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    reps.unpersist()
    assert(rounds > 0, "iterative path must be the one exercised")
    assert(got.size == 100 && got.values.forall(_ == 1L))
  }

  test("connected components: union-find fast path ≡ iterative path") {
    import spark.implicits._
    // Mixed shapes — chain, triangle+tail, singleton islands — solved by
    // BOTH paths; labelings must be identical (and rounds must report
    // which path ran: 0 = single-task union-find).
    val nodes = (1L to 30L).toDF("id")
    val edges = ((1L until 10L).map(i => (i, i + 1)) ++ // chain 1..10
      Seq((12L, 15L), (15L, 13L), (13L, 12L), (13L, 20L)) ++ // cycle + tail
      Seq((25L, 24L))).toDF("id1", "id2")
    val (fast, r1) = graft.ops.Components.connectedComponentsWithStats(nodes, edges)
    val (iter, r2) = graft.ops.Components
      .connectedComponentsWithStats(nodes, edges, localSolveMaxEdges = 0)
    assert(r1 == 0 && r2 > 0)
    val a = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = iter.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a(10L) == 1L && a(20L) == 12L && a(24L) == 24L && a(25L) == 24L
      && a(30L) == 30L)
  }

  test("edgeComponents ≡ connectedComponents on incident vertices, both paths") {
    import spark.implicits._
    // Component minima (roots) never receive a union-find parent entry —
    // the edges-only output must still include them (the keep_rep
    // singleton anti-join depends on the label table covering EVERY
    // pair-incident vertex, minima included).
    val edges = ((1L until 10L).map(i => (i, i + 1)) ++
      Seq((12L, 15L), (15L, 13L), (13L, 12L), (13L, 20L), (25L, 24L)))
      .toDF("id1", "id2")
    val incident = (1L to 10L) ++ Seq(12L, 13L, 15L, 20L, 24L, 25L)
    val nodes = incident.toDF("id")
    val want = graft.ops.Components.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = graft.ops.Components.edgeComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iter = graft.ops.Components.edgeComponents(edges, localSolveMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // over-bound: the optimistic in-task solve aborts (14 edges > 4) and
    // the failover to the iterative path must be transparent
    val failover = graft.ops.Components.edgeComponents(edges, localSolveMaxEdges = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == want && iter == want && failover == want)
    assert(fast.keySet == incident.toSet)
    assert(fast(1L) == 1L && fast(24L) == 24L) // minima present, self-labeled
  }

  test("edgeComponents on an empty pair graph returns an empty label table") {
    import spark.implicits._
    // A corpus with zero near-dups is the common case at high
    // thresholds — keep_rep's singleton anti-join must then keep every
    // document, which requires the label table to be empty, not to
    // fail.
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(graft.ops.Components.edgeComponents(empty).count() == 0L)
    assert(graft.ops.Components.edgeComponents(empty, localSolveMaxEdges = 0)
      .count() == 0L)
  }

  test("CacheScope.release frees every block a pipeline pinned (zero cached RDDs after)") {
    import spark.implicits._
    val scope = graft.ops.CacheScope.begin(spark)
    // Two pinning pipelines: Components (persist + localCheckpoint per
    // round) and MinHash (persisted shingle/signature intermediates).
    val nodes = (1L to 20L).toDF("id")
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("id1", "id2")
    val reps = graft.ops.Components.connectedComponents(nodes, edges)
    assert(reps.count() == 20L) // consume fully before release
    Sketches.minhashNearDups(docsWithDup, threshold = 0.5).count()
    assert(scope.pendingIds.nonEmpty, "pipelines should have pinned blocks")
    scope.release(blocking = true)
    assert(scope.pendingIds.isEmpty, "release must leave zero cached RDDs")
  }

  test("minhash: exact duplicates always collide; disjoint docs never pass verify") {
    val dups = Sketches.minhashNearDups(docsWithDup, threshold = 0.5).collect()
    val pairs = dups.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash signature estimates Jaccard within tolerance") {
    val sigs = Sketches.signatures(docsWithDup, k = 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 64.0
    assert(est(0L, 1L) == 1.0)             // identical docs → identical sigs
    val nearTrue = 28.0 / (38 + 38 - 28)   // |A∩B|/|A∪B| of 3-gram shingles
    assert(math.abs(est(0L, 2L) - nearTrue) < 0.25)
    assert(est(0L, 3L) < 0.2)              // disjoint → near-zero
  }

  test("simhash: identical docs at hamming 0, disjoint docs far apart") {
    import spark.implicits._
    val h = docsWithDup.select(col("doc_id"), Sketches.simhash("text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L))
    assert(java.lang.Long.bitCount(h(0L) ^ h(3L)) > 8)
    val cands = Sketches.simhashNearDups(docsWithDup, maxHamming = 3).collect()
    assert(cands.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L && r.getInt(2) == 0))
  }

  test("ann via LSH buckets recovers most of the brute-force top pairs") {
    val embs = graft.Tables.embeddings(spark, sf)
    val ann = Sketches.annPairs(embs, nbits = 4, tables = 16)
      .orderBy(col("sim").desc, col("id1"), col("id2")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Top-5 exact pairs: LSH with 4 bits should find a majority.
    assert(brute.intersect(ann).size >= 3,
      s"brute=$brute ann(top10)=$ann")
  }

  test("multi-probe candidates strictly extend exact-probe candidates") {
    // probe=1 adds the ±1-bit neighbor buckets on the probe side, so at
    // identical (nbits, tables) its candidate set must CONTAIN probe=0's
    // (and on this fixture, properly: hamming-1 bucket pairs exist).
    val embs = graft.Tables.embeddings(spark, sf)
    def pairs(probe: Int) =
      Sketches.annPairs(embs, nbits = 6, tables = 6, probe = probe)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(0)
    val probed = pairs(1)
    assert(exact.subsetOf(probed), s"probe=1 dropped ${(exact -- probed).size}")
    assert(probed.size > exact.size, "probe=1 added nothing — vacuous fixture")
  }

  test("annPairs emission forms agree: array-carry == skinny+distinct (r12 switch)") {
    // The r12 volume switch picks the emission form from
    // tables·(1+probe·nbits); this pins that BOTH forms produce the
    // identical candidate set at identical params (the forms differ
    // only in how exactly-once is enforced — minimal-shared-key filter
    // vs pair-dedup exchange), so whichever side of the threshold a
    // parameterization lands on, results cannot move.
    val embs = graft.Tables.embeddings(spark, sf)
    def pairsOf(carry: Boolean) =
      Sketches.annPairs(embs, nbits = 5, tables = 8, probe = 1,
          carryForm = Some(carry))
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = pairsOf(true); val b = pairsOf(false)
    assert(a == b, s"carry-only=${(a -- b).size} distinct-only=${(b -- a).size}")
    assert(a.nonEmpty)
  }

  test("asymmetric annJoin equals annPairs restricted to cross pairs (flip symmetry)") {
    // The oracle-inheritance argument for dedup_incremental_semantic
    // rests on this: the asymmetric probe (fresh multi-probes, corpus
    // anchors) must produce EXACTLY the symmetric generator's candidate
    // set restricted to fresh×corpus — because hamming(b₁,b₂) ≤ 1 is
    // symmetric under single-bit flips, the direction of probing cannot
    // matter. Verified at deliberately-weak params (6 tables) where the
    // candidate set is far from all-pairs, so agreement is non-vacuous.
    val embs = graft.Tables.embeddings(spark, sf)
    val p = Sketches.LshParams(nbits = 6, tables = 6, probe = 1)
    val fresh = embs.filter(col("vec_id") % 5 === 0)
    val corpus = embs.filter(col("vec_id") % 5 =!= 0)
    val sym = Sketches.annPairs(embs, p.nbits, p.tables, probe = p.probe)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // annPairs emits (min, max); keep only cross pairs, as (min, max).
    val symCross = sym.filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
    val asym = Sketches.annJoin(fresh, corpus, p)
      .select("id1", "id2").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    assert(symCross.nonEmpty, "no cross pairs — vacuous fixture")
    assert(asym == symCross,
      s"asym-only=${(asym -- symCross).size} sym-only=${(symCross -- asym).size}")
  }

  test("first_common_sorted codegen equals array_min(array_intersect) on sorted arrays") {
    // The IvfIndex minimal-cell filter swapped the SQL form for the
    // native kernel (r11); GraftProperties pins interpreted eval, this
    // pins the whole-stage-codegen path on DataFrame-scale input —
    // 10k pseudo-random sorted-array pairs, including disjoint ones.
    import org.apache.spark.sql.graft.{native => gn}
    val df = spark.range(10000).selectExpr(
      "array_sort(array_distinct(transform(sequence(1, 1 + cast(id % 7 as int)), " +
        "i -> xxhash64(id, i) % 20))) as a",
      "array_sort(array_distinct(transform(sequence(1, 1 + cast(id % 5 as int)), " +
        "i -> xxhash64(id + 1, i * 3) % 20))) as b")
    val n = df.filter(
      !(gn.first_common_sorted(col("a"), col("b")) <=>
        expr("array_min(array_intersect(a, b))"))).count()
    assert(n == 0)
    // Non-vacuous both ways: some rows share an element, some do not.
    assert(df.filter(gn.first_common_sorted(col("a"), col("b")).isNotNull).count() > 0)
    assert(df.filter(gn.first_common_sorted(col("a"), col("b")).isNull).count() > 0)
    // Sibling kernel, same codegen-path pin: exact intersection size.
    val m = df.filter(gn.intersect_size_sorted(col("a"), col("b")) =!=
      expr("size(array_intersect(a, b))")).count()
    assert(m == 0)
  }

  test("sorted kernels REJECT null array elements by name instead of " +
    "silently reading 0 (ADVICE r11)") {
    // getLong on a null slot reads 0, so a null element would corrupt
    // the count / match a spurious 0 key. The guard is emitted only when
    // the input TYPE admits nulls (the shingle paths' transform() output)
    // and must throw the kernel's named error, not miscount.
    import org.apache.spark.sql.graft.{native => gn}
    // transform with a nullable lambda → ArrayType(Long, containsNull=true).
    // The null sits at position 0: first_common_sorted early-exits on its
    // first MATCH, so a later null would be legitimately unreachable.
    val withNull = spark.range(3).selectExpr(
      "transform(sequence(0, 3), i -> if(i = 0, cast(null as bigint), cast(i as bigint))) as a",
      "transform(sequence(0, 3), i -> cast(i as bigint)) as b")
    assert(withNull.schema("a").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    for (kernel <- Seq(
        gn.intersect_size_sorted(col("a"), col("b")),
        gn.first_common_sorted(col("a"), col("b")))) {
      val e = intercept[Exception](withNull.select(kernel).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("null array element")),
        s"expected the named guard, got: $e")
    }
    // Same containsNull=true TYPE with no actual nulls: works unchanged
    // (this is the shipped dedup-verify shape — guard present, never hit).
    val clean = spark.range(100).selectExpr(
      "array_sort(array_distinct(transform(sequence(1, 5), i -> xxhash64(id, i) % 20))) as a",
      "array_sort(array_distinct(transform(sequence(1, 4), i -> xxhash64(id + 1, i) % 20))) as b")
    val bad = clean.filter(
      gn.intersect_size_sorted(col("a"), col("b")) =!=
        expr("size(array_intersect(a, b))") ||
      !(gn.first_common_sorted(col("a"), col("b")) <=>
        expr("array_min(array_intersect(a, b))"))).count()
    assert(bad == 0)
  }

  test("ivf ann recovers most of the brute-force top pairs") {
    val embs = graft.Tables.embeddings(spark, sf)
    val ann = graft.ops.IvfIndex.annPairs(embs, k = 16, nProbe = 3)
      .orderBy(col("sim").desc, col("id1"), col("id2")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.intersect(ann).size >= 3, s"brute=$brute ivf(top10)=$ann")
  }

  test("ann gate headroom: recall@20 stays 20/20 at declared params AND one notch weaker") {
    // The sim_ann_lsh / sim_ann_ivf / dedup_semantic oracles assert
    // ground-truth recall (top-20 / τ=0.44 threshold) = 100% at the
    // declared params: LSH = Sketches.lshParamsFor (nbits=6 multi-probe,
    // TopK 10 tables everywhere; Threshold 10 small tier / 16 large
    // tier — AnnSweep r8 probe grid), IVF (k=16, nProbe=5, refine=1).
    // Those parameters were tuned on the fixtures — if a testdata
    // regeneration ever pushed recall to the edge, the driver gate would
    // fail as an opaque hash mismatch. This test keeps the gate
    // self-diagnosing: recall must be perfect not just at the declared
    // params but one notch WEAKER (candidate pairs are monotone in
    // tables at fixed nbits/probe, so declared ⊇ notch). EACH
    // (TIER × DEMAND) IS PINNED ON EVERY FIXTURE, including sf0.1 — the
    // only fixture with N > 1000, i.e. the only one that exercises the
    // large tier the bench runs at. Measured edges (AnnSweep r8,
    // nbits=6/probe=1): top-20 — 6 (sf0.001) / 8 (sf0.01) / 8 (sf0.1);
    // τ=0.44 — 6 / 8 / 14 (211 in-range pairs on sf0.1 vs 22 — the
    // union-bound effect). r7's τ=0.42 margin analysis (missed even at
    // 30 exact-probe tables) still applies: the threshold sits inside
    // the reliable region, not on its edge. IVF k=16/refine=1 is
    // 20/20 at nProbe∈{4,5} on both SFs and 19/20 at nProbe=3 on
    // sf0.01. k=16 (not 8) keeps the gate non-vacuous: nProbe ≥ k/2
    // would make any two probe sets overlap by pigeonhole — recall
    // guaranteed structurally instead of measured.
    // If a weaker notch fails while the declared params pass, the
    // fixtures moved to the edge: re-measure the recall of each notch
    // on the new fixtures and retune the declared params.
    type Pairs = Array[(Long, Long, Double)]
    def collectPairs(df: org.apache.spark.sql.DataFrame): Pairs =
      df.select(col("id1"), col("id2"), col("sim").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def top20(ps: Pairs): Set[(Long, Long)] =
      ps.sortBy { case (i1, i2, s) => (-s, i1, i2) }.take(20)
        .map(p => (p._1, p._2)).toSet
    def thrPairs(ps: Pairs): Set[(Long, Long)] =
      ps.collect { case (i1, i2, s) if s >= 0.44 => (i1, i2) }.toSet
    // ONE brute-force job per fixture; top-20 truth and the τ=0.44
    // exact set are both projections of the same collected result.
    def bruteFor(dir: String): Pairs = {
      val e = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1"))
      val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2"))
      collectPairs(a.join(broadcast(b), col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(org.apache.spark.sql.graft.native.cosine_similarity(
            col("e1"), col("e2")), 4).as("sim")))
    }
    // Each fixture pins BOTH demands of the shared helper at the
    // declared params and one notch (-2 tables) weaker: TopK (the
    // sim_ann_lsh gate — declared 10 everywhere; edges 6/8/8) and
    // Threshold (the dedup_semantic τ=0.44 gate — declared 10 small
    // tier / 16 large tier; edges 6/8/14 — the 211-pair union-bound
    // effect on sf0.1). All at the shared nbits=6/probe=1 (AnnSweep r8
    // probe grid). The nbits law itself is pinned so a law edit cannot
    // silently shift the gates off their swept tier.
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    val brutes = dirs.map(dir => dir -> bruteFor(dir)).toMap
    for (dir <- dirs) {
      val embs = graft.Tables.embeddings(spark, dir)
      val n = embs.count()
      assert(Sketches.lshBitsFor(n) == 6, s"$dir nbits law drifted")
      val brute = brutes(dir)
      val truthD = top20(brute)
      val exactT = thrPairs(brute)
      assert(truthD.size == 20 && exactT.nonEmpty, s"$dir fixture degenerate")
      val expectTopK = Sketches.LshParams(6, 10, 1)
      val expectThr = Sketches.LshParams(6, if (n <= 1000) 10 else 16, 1)
      assert(Sketches.lshParamsFor(n, Sketches.LshDemand.TopK) == expectTopK,
        s"$dir TopK tier drifted")
      assert(Sketches.lshParamsFor(n, Sketches.LshDemand.Threshold) == expectThr,
        s"$dir Threshold tier drifted")
      for ((p, label) <- Seq(expectTopK -> "declared",
          expectTopK.copy(tables = expectTopK.tables - 2) -> "notch")) {
        val got20 = top20(collectPairs(Sketches.annPairsAt(embs, p)))
        assert((truthD -- got20).isEmpty,
          s"LSH $dir $label ($p) top-20 missed ${(truthD -- got20).size}/20")
      }
      for ((p, label) <- Seq(expectThr -> "declared",
          expectThr.copy(tables = expectThr.tables - 2) -> "notch")) {
        val cand = collectPairs(Sketches.annPairsAt(embs, p))
          .map(q => (q._1, q._2)).toSet
        assert((exactT -- cand).isEmpty,
          s"semantic $dir τ=0.44 $label ($p) missed ${(exactT -- cand).size}")
      }
    }
    val d = "/root/testdata/sf0.01"
    val embs = graft.Tables.embeddings(spark, d)
    val e = embs.select(col("vec_id"), col("embedding"))
    val truth = top20(brutes(d))
    for ((nProbe, label) <- Seq(5 -> "declared", 4 -> "headroom")) {
      val got = top20(collectPairs(graft.ops.IvfIndex.annPairs(embs, k = 16,
        nProbe = nProbe, refine = 1)))
      assert((truth -- got).isEmpty,
        s"IVF $label (nProbe=$nProbe) missed ${(truth -- got).size}/20: ${truth -- got}")
    }
    // PQ (sim_ann_pq): per-query top-10 containment at the declared
    // shortlist (55% of N) AND one notch weaker (50% — measured perfect
    // on all three fixtures at m=16/rounds=0). Shortlists are prefixes
    // of one ADC ranking, so declared ⊇ notch.
    val n = embs.count()
    val qtruth = {
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("nb_id"))
      q.join(broadcast(e.select(col("vec_id").as("nb_id"), col("embedding").as("xe"))),
        col("nb_id") =!= col("q_id"))
        .select(col("q_id"), col("nb_id"),
          round(org.apache.spark.sql.graft.native.cosine_similarity(
            col("qe"), col("xe")), 4).as("sim"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= 10).select("q_id", "nb_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(qtruth.size == 80)
    for ((frac, label) <- Seq(55 -> "declared", 50 -> "headroom")) {
      val got = graft.ops.PqIndex.search(embs, nq = 8, m = 16, k = 16,
        rounds = 0, shortlist = (n * frac / 100).toInt, topK = 10)
        .select("q_id", "nb_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((qtruth -- got).isEmpty,
        s"PQ $label (S=$frac%) missed ${(qtruth -- got).size}/80: ${qtruth -- got}")
    }
  }

  test("pq codebook training is deterministic and keeps full code coverage") {
    val embs = graft.Tables.embeddings(spark, sf)
    def cb() = graft.ops.PqIndex.trainCodebooks(embs, m = 8, k = 16, rounds = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Float](2).toVector).toMap
    val c1 = cb()
    val c2 = cb()
    assert(c1 == c2)            // rerun → bit-identical codebooks
    assert(c1.size == 8 * 16)   // every (subspace, code) survives (empty cells keep seed)
    // every subvector still encodable: codes land in the codebook domain
    val codes = graft.ops.PqIndex.encode(embs,
      graft.ops.PqIndex.trainCodebooks(embs, 8, 16, rounds = 1), m = 8)
    val dom = c1.keySet.map(_._2)
    assert(codes.select("code").distinct().collect().map(_.getLong(0)).toSet.subsetOf(dom))
    assert(codes.groupBy("vec_id").count().filter(col("count") =!= 8).count() == 0)
  }

  test("ivf Lloyd refinement is deterministic and keeps cell coverage") {
    val embs = graft.Tables.embeddings(spark, sf)
    val seed = embs.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def centroids() = graft.ops.IvfIndex.refineCentroids(embs, seed, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    val c1 = centroids()
    val c2 = centroids()
    assert(c1 == c2)                       // rerun → bit-identical centroids
    assert(c1.size == 16)                  // empty cells keep their seed
    val seedMap = seed.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(c1.exists { case (cid, v) => v != seedMap(cid) }) // means moved
    // Every vector still lands in nProbe cells after refinement.
    val assigned = graft.ops.IvfIndex.assign(embs, k = 16, nProbe = 2, refine = 2)
    assert(assigned.groupBy("vec_id").count().filter(col("count") =!= 2).count() == 0)
  }

  test("fingerprints: identical texts identical, shifted text overlaps") {
    import spark.implicits._
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val df = Seq((0L, base), (1L, base), (2L, "prefix " + base))
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), Sketches.fingerprints("text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(0L) == fps(1L))
    val overlap = fps(0L).intersect(fps(2L)).size.toDouble / fps(0L).size
    assert(overlap > 0.5, s"winnowing overlap $overlap")
  }

  test("minhash mergeability: element-min of per-doc sigs == sig of the union set") {
    // The property agg_minhash_merge rests on: for each permutation
    // position, min over documents of (min over the doc's shingles) ==
    // min over the UNION of the shingles — so per-source signatures can
    // be rolled up from per-doc signatures without touching raw text.
    // Verified on the real fixture across every source.
    import org.apache.spark.sql.functions._
    val gn = org.apache.spark.sql.graft.native
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val hs = graft.ops.Sketches.hashedShingles(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
    val merged = hs
      .select(col("source"), posexplode(gn.minhash_signature(col("hs"), 64))
        .as(Seq("p", "v")))
      .groupBy("source", "p").agg(min("v").as("v"))
      .groupBy("source").agg(sort_array(collect_list(struct(col("p"), col("v"))))
        .as("sig"))
      .select(col("source"), expr("transform(sig, x -> x.v)").as("sig"))
    val direct = hs.select(col("source"), explode(col("hs")).as("h")).distinct()
      .groupBy("source").agg(collect_list("h").as("hs"))
      .select(col("source"), gn.minhash_signature(col("hs"), 64).as("sig"))
    val m = merged.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val dct = direct.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(m.keySet == dct.keySet && m.keySet.nonEmpty)
    for ((src, sig) <- m) assert(sig == dct(src), s"merge mismatch for $src")
  }

  test("spark.graft.sketch.persistLevel: NONE and DISK_ONLY leave every " +
    "pipeline byte-identical (persistence is a deployment knob, not semantics)") {
    // The sketch/ANN/graph pipelines persist corpus-sized intermediates
    // (r12 VERDICT #6: at 100 TB those persists are disk-sized and the
    // right storage level is a deployment decision). The conf must only
    // change WHERE branches recompute from — never what they compute.
    // Unknown levels fail by name (StorageLevel.fromString).
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val embs = Tables.embeddings(spark, sf)
    def runAll(): Seq[Seq[String]] = {
      val scope = graft.ops.CacheScope.begin(spark)
      try Seq(
        graft.ops.Sketches.minhashNearDups(docs, threshold = 0.5)
          .orderBy("id1", "id2").collect().map(_.toString).toSeq,
        graft.ops.IvfIndex.annPairs(embs, 16, 5, refine = 1)
          .orderBy("id1", "id2").collect().map(_.toString).toSeq,
        graft.ops.Int8Index.search(embs, nq = 4, kCells = 8, rc = 2,
          qp = 4, shortlist = 64, topK = 5).collect().map(_.toString).toSeq)
      finally { scope.release(); spark.sharedState.cacheManager.clearCache() }
    }
    val base = runAll()
    for (lvl <- Seq("NONE", "DISK_ONLY")) {
      spark.conf.set("spark.graft.sketch.persistLevel", lvl)
      try assert(runAll() == base, s"pipelines diverged at persistLevel=$lvl")
      finally spark.conf.unset("spark.graft.sketch.persistLevel")
    }
    spark.conf.set("spark.graft.sketch.persistLevel", "BOGUS")
    try intercept[IllegalArgumentException] {
      graft.ops.Sketches.minhashNearDups(docs, threshold = 0.5).count()
    } finally spark.conf.unset("spark.graft.sketch.persistLevel")
  }

  test("production τ=0.95: planted-near-dup recall complete at declared " +
    "tables AND one notch weaker; the T=1 edge is real (r13 probe)") {
    // Every other LSH gate runs at the fixture-forced τ=0.44 design
    // point; lshParamsFor's claim that the table law is CONSERVATIVE at
    // production τ≈0.95 was analytic only (VERDICT r12 #3). This pins
    // the r13 measurement on LshFixtures' seeded planted corpora
    // (deterministic pipelines — exact counts): 40 replicas rotated to
    // cosine ∈ [0.952, 0.985] over gaussian base vectors, at the two
    // law bit depths. Measured edges: recall 40/40 from T=2 at BOTH
    // nbits=6 (N=2000) and nbits=9 (N=16000); T=1 misses 1 resp. 4 —
    // so the declared Threshold tables (16; law-scaled ~24 at 9 bits)
    // carry ≥8× margin at production τ, and the edge is measured, not
    // structural. N=16000 is pinned at the edge + an arithmetic margin
    // assertion instead of the full law tables — a 24-table run on the
    // spec's 4 threads buys no extra information for its cost.
    import graft.ops.Sketches
    def recall(embs: org.apache.spark.sql.DataFrame,
        truth: Seq[(Long, Long)], nbits: Int, t: Int): Int = {
      val got = Sketches.annPairs(embs, nbits = nbits, tables = t, probe = 1)
        .filter(col("sim") >= 0.95)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth.toSet & got).size
    }
    val (e2k, t2k) = LshFixtures.plantedCorpus(spark, 1960, 40)
    val c2k = e2k.persist()
    val declared = Sketches.lshParamsFor(2000, Sketches.LshDemand.Threshold)
    assert(declared.nbits == 6 && declared.tables == 16, declared)
    assert(recall(c2k, t2k, 6, declared.tables) == 40, "declared missed")
    assert(recall(c2k, t2k, 6, declared.tables - 2) == 40, "notch missed")
    assert(recall(c2k, t2k, 6, 2) == 40, "measured T=2 edge regressed")
    assert(recall(c2k, t2k, 6, 1) < 40,
      "T=1 unexpectedly recall-complete — the measured edge moved; " +
        "re-measure recall per table count")
    c2k.unpersist()
    val (e16k, t16k) = LshFixtures.plantedCorpus(spark, 15960, 40)
    val c16k = e16k.persist()
    assert(Sketches.lshBitsFor(16000) == 9)
    assert(recall(c16k, t16k, 9, 2) == 40, "measured T=2 edge regressed")
    assert(recall(c16k, t16k, 9, 1) < 40,
      "T=1 unexpectedly recall-complete — the measured edge moved; " +
        "re-measure recall per table count")
    val law = Sketches.lshParamsFor(16000, Sketches.LshDemand.Threshold)
    assert(law.nbits == 9 && law.tables >= 8 * 2,
      s"law tables lost the >=8x margin over the measured edge: $law")
    c16k.unpersist()
  }

  test("staged build relations == fresh (minhash / containment / LSH base)") {
    // r14: the dedup family's build halves stage to parquet (the
    // Int8IndexSpec round-trip pattern). The pin: each staged pipeline
    // emits EXACTLY the fresh pipeline's rows — a staging bug (schema
    // drift, stale dir, lost rows) fails here before any oracle sees it.
    import org.apache.spark.sql.functions.col
    val d = sf
    val docs = graft.Tables.documents(spark, d).select("doc_id", "text")
    val docTag = graft.Q.corpusTag(spark, d, "documents")
    val fresh = Sketches.minhashNearDups(docs, 0.5)
      .orderBy("id1", "id2").collect().toSeq
    val staged = Sketches.minhashNearDups(docs, 0.5, stagedTag = Some(docTag))
      .orderBy("id1", "id2").collect().toSeq
    assert(staged == fresh, s"minhash staged drifted: ${staged.size} vs ${fresh.size}")
    val cFresh = graft.queries.Extra9.containmentOf(docs)
      .collect().toSeq
    val cStaged = graft.queries.Extra9.containmentOf(docs,
      stagedTag = Some(docTag)).collect().toSeq
    assert(cStaged == cFresh, s"containment staged drifted: ${cStaged.size} vs ${cFresh.size}")
    val embs = graft.Tables.embeddings(spark, d)
    val p = Sketches.lshParamsFor(
      graft.Q.parquetRowCount(spark, s"$d/embeddings.parquet"),
      Sketches.LshDemand.Threshold)
    val aFresh = Sketches.annPairsAt(embs, p)
      .orderBy("id1", "id2").collect().toSeq
    val aStaged = Sketches.annPairsAt(embs, p,
        stagedTag = Some(graft.Q.corpusTag(spark, d, "embeddings")))
      .orderBy("id1", "id2").collect().toSeq
    assert(aStaged == aFresh, s"LSH base staged drifted: ${aStaged.size} vs ${aFresh.size}")
  }
}
