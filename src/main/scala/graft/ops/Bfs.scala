package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: minimum hop distance from a source
  * SET to every reachable node, bounded by `maxHops` — the graph
  * traversal a lineage/blast-radius/contamination question runs over a
  * big bipartite fact graph ("everything within k hops of these seeds").
  *
  * Why frontier expansion and not [[Components]]' label propagation:
  * BFS needs the DISTANCE, not the partition — min-label propagation
  * converges to the same components but destroys hop counts, and
  * pointer jumping (its O(log d) accelerator) is exactly the move that
  * makes distances wrong. Level-synchronous frontier expansion IS the
  * textbook distributed BFS (Pregel's canonical example): each round
  * joins the current LEVEL against the edge relation.
  *
  * Cost model (ADVICE r14 correction): with the accumulate-then-min
  * rework below, a round's level is the DISTINCT neighbor set of the
  * previous level — it does not shrink back to the true frontier (the
  * unvisited subset), so on symmetric graphs a level can re-contain
  * earlier nodes and per-round work approaches O(|E reached|), i.e.
  * total work is bounded by rounds × |E_reached|, NOT by
  * Σ frontier-adjacent edges. That trade is deliberate and
  * measured-faster at small round counts (dropping the per-round
  * visited anti-join removes one keyed exchange per round); it is
  * bounded today because declared traversals keep maxHops ≤ 4. A
  * large-maxHops caller should re-introduce the visited anti-join
  * (work ∝ true frontier) — the crossover is roughly where round
  * count × |E_reached| exceeds |E| log-factors, i.e. deep traversals
  * over small reachable sets.
  *
  * Scale shape per round: one equi-join level⋈edges on the source
  * endpoint (the edge relation is persisted across rounds — built once,
  * re-joined per hop) and one distinct on the discovered endpoints;
  * distances resolve in ONE min-rollup at the end (see the
  * accumulate-then-min note in the body). All keyed shuffles on node
  * ids — no broadcast of anything corpus-sized, no driver-side
  * collection; the per-round `count()` is the checkpoint-
  * materialization action and doubles as the termination test and the
  * frontier admission guard (the [[graft.Q.requireAtMost]] discipline:
  * a frontier beyond `maxFrontier` fails loudly instead of silently
  * launching a memory-crushing round — at that size the caller wants
  * the direction-optimizing/bitmap BFS variant, not this one).
  *
  * Driver-side round cost (measured, r14): `localCheckpoint` forces
  * physical planning per round, and a plan that re-embeds a FILE scan
  * re-pays scan planning every hop (~0.5 s/round on the bench box) —
  * so the edge relation is always persisted (`InMemoryRelation` keeps
  * the bucketed layout's partitioning AND replans in a fraction of the
  * file-scan path; measured 2.7 → 1.7 s end-to-end on graph_bfs).
  * Per-round driver-side COMPILATION is the remaining floor (r15
  * decomposition: ~0.3 s/round of planning vs ~0.15 s of job time),
  * which is why the declared traversals run [[multiSourceBfsRdd]] /
  * [[multiSourceSsspRdd]] — the same rounds as RDD joins over a
  * staged partitioner-pinned adjacency, with zero Catalyst work per
  * round. The DataFrame loops here remain the reference semantics
  * (spec-pinned equal on hand graphs).
  *
  * Lineage: each round's frontier and the accumulated distance table
  * are lazily `localCheckpoint`ed (the [[Components]] discipline — the
  * union/anti-join tower would otherwise double the logical plan per
  * round); the count above is the one job that materializes both.
  *
  * Determinism: BFS distance is a pure min over paths — no tie-break
  * needed; the output (node, dist) set is unique for a given graph and
  * source set regardless of partitioning or edge order.
  */
object Bfs {

  /** edges(u, v) DIRECTED (symmetrize first for undirected graphs),
    * sources(node) → (node, dist) for every node within `maxHops` of
    * some source (sources themselves at dist 0, minimum distance wins).
    */
  def multiSourceBfs(edges: DataFrame, sources: DataFrame, maxHops: Int,
      maxFrontier: Long = 1L << 27): DataFrame = {
    require(maxHops >= 0, s"multiSourceBfs: maxHops must be >= 0, got $maxHops")
    // Spread + persist the edge relation once: it is re-joined every
    // round, and hash-partitioning it by the probe endpoint lets each
    // round's frontier join reuse the layout (the frontier side is the
    // small side and re-shuffles; the big edge side never moves again).
    val e = graft.Q.spreadBy(edges.select(col("u"), col("v")), "u")
      .transform(graft.Q.sketchPersist)
    // ACCUMULATE-THEN-MIN (r14 rework, measured faster than the
    // textbook visited/anti-join form): each round records its LEVEL
    // (all nodes reachable in exactly `hop` hops — revisits included)
    // and the final rollup takes min(dist) per node. Dropping the
    // per-round anti-join against the visited set removes one keyed
    // exchange per round; the price is that a level can re-contain
    // earlier nodes, but level sizes stay bounded by the DISTINCT
    // neighbor set (the per-level distinct keeps them so), so total
    // row volume is ≤ maxHops · |reached| either way — min-rollup work,
    // not frontier explosion. Correctness: a node first reachable at
    // hop h appears in level h (monotone expansion), so min(dist) IS
    // the BFS distance.
    // Rejected variant (r14, measured): compiling the whole bounded
    // expansion into ONE lazy plan (no per-round jobs/checkpoints)
    // measured PARITY with this eager loop (2.0-2.1 s vs 2.0-2.2 s
    // same-session A/B at sf0.1) — the per-round planning cost just
    // moves into one big optimization pass — while giving up the
    // pre-round maxFrontier guard. The guard-bearing eager loop stays.
    try {
      var level = sources.select(col("node")).distinct()
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint() // eager: tiny
      val levels = scala.collection.mutable.ArrayBuffer[DataFrame](level)
      var hop = 1
      var exhausted = false
      while (hop <= maxHops && !exhausted) {
        val next = level.select(col("node").as("u"))
          .join(e, "u")
          .select(col("v").as("node")).distinct()
          .select(col("node"), lit(hop.toLong).as("dist"))
          .transform(graft.Q.cut(_, eager = false))
        val n = next.count() // materializes; terminates; guards
        require(n <= maxFrontier,
          s"multiSourceBfs: hop-$hop frontier has $n nodes, exceeding the " +
            s"declared bound of $maxFrontier — at this scale use a " +
            "direction-optimizing / bitmap-frontier BFS")
        if (n == 0) exhausted = true
        else {
          levels += next
          level = next
        }
        hop += 1
      }
      levels.reduce(_ union _)
        .groupBy("node").agg(min("dist").as("dist"))
    } finally e.unpersist() // ADVICE r14: release even when a guard throws
    // (every checkpointed level is already materialized by its count(),
    // so the returned rollup never re-reads e)
  }

  /** Generalized bounded relaxation — one round per entry of
    * `roundEdges`, each a (u, v, w) relation relaxed against the
    * accumulated min-distance table exactly once:
    * d_i(v) = min(d_{i-1}(v), min_u d_{i-1}(u) + w_i(u, v)).
    *
    * This is Bellman-Ford with a PER-ROUND edge relation — the
    * generalized core [[multiSourceSssp]] specializes (uniform edge
    * relation each round). A per-round relation admits stride tricks
    * like a squared edge table (e2 = exact-2-hop pairs: a 4-hop BFS
    * becomes two rounds over e ∪ e2 with hop weights, a 3-hop SSSP one
    * round over e ∪ e2 then one over e — any ≤2h-hop walk splits into
    * ≤h chunks of ≤2 hops, and min over walk lengths is the distance).
    * NOTE (r15, measured in tools/GraphProbe): that e2 scheme was
    * built and REJECTED for the declared traversals — e2 was 18× |e|
    * on the order↔part fixture and scanning it per traversal cost
    * more than the halved planning saved; the RDD round loop
    * ([[multiSourceBfsRdd]]) attacks the planning floor directly.
    * Round state is one row per reached node (min-compressed,
    * localCheckpoint'ed — path count never materializes); each
    * distinct edge frame is persisted once across its rounds and
    * released in the finally block. Correctness requires each
    * w_i ≥ 0. The guard (`maxNodes`) bounds the distance table per
    * round, the sssp admission discipline.
    */
  def multiSourceRelax(roundEdges: Seq[DataFrame], sources: DataFrame,
      maxNodes: Long = 1L << 27): DataFrame = {
    val prepared = roundEdges.distinct.map { ed =>
      ed -> graft.Q.spreadBy(ed.select(col("u"), col("v"), col("w")), "u")
        .transform(graft.Q.sketchPersist)
    }.toMap
    try {
      var dist = sources.select(col("node")).distinct()
        .select(col("node"), lit(0L).as("d"))
        .localCheckpoint() // eager: tiny
      roundEdges.zipWithIndex.foreach { case (ed, i) =>
        val e = prepared(ed)
        val relaxed = dist.select(col("node").as("u"), col("d"))
          .join(e, "u")
          .select(col("v").as("node"), (col("d") + col("w")).as("d"))
        dist = dist.union(relaxed)
          .groupBy("node").agg(min("d").as("d"))
          .transform(graft.Q.cut(_, eager = false))
        val n = dist.count() // materializes; guards
        require(n <= maxNodes,
          s"multiSourceRelax: round-${i + 1} distance table has $n nodes, " +
            s"exceeding the declared bound of $maxNodes — at this scale " +
            "use a delta-stepping SSSP")
      }
      dist
    } finally prepared.values.foreach(_.unpersist()) // ADVICE r14: always release
  }

  /** The low-latency ROUND LOOP for bounded traversals: RDD rounds over
    * a pre-partitioned, persisted adjacency RDD — no Catalyst work per
    * round (r15, measured): with the DataFrame loop, a per-round timing
    * decomposition at sf0.1 showed ~0.3 s/round of DRIVER-side query
    * compilation (`localCheckpoint(eager=false)` compiles the physical
    * plan — analysis + optimization + codegen) against ~0.15 s/round
    * of actual job time; 60% of graph_bfs was planning. Two rejected
    * fixes, both measured in tools/GraphProbe: (a) one lazy 4-round
    * plan — parity (r14; planning cost just moves); (b) a staged
    * SQUARED edge relation e2 = e⋈e halving the round count (VERDICT
    * r14 #2) — SLOWER (bfs 2.0→3.0 s, sssp 1.25→2.7 s warm): e2 is
    * 18× |e| (21.6M vs 1.2M pairs on the order↔part fixture) and
    * scanning/caching it per traversal costs more than the planning it
    * saves. The fix that works is the one GraphX/Pregel embodies —
    * iterative traversal is the canonical case for leaving the
    * declarative layer: plan the SETUP declaratively (staged bucketed
    * edge table), run the ROUNDS as RDD joins against a partitioner-
    * pinned adjacency (zero edge movement, zero per-round planning),
    * return a DataFrame. The DataFrame loops above stay as the
    * spec-pinned reference semantics.
    *
    * Adjacency contract: `edges` is (u → (v, w)) hash-partitioned by
    * its OWN partitioner (the caller stages + persists it once per
    * corpus — in-memory adjacency IS the graph store's ingest-time
    * state); only frontier/distance rows ever shuffle. Rounds persist
    * their output and release their input (bounded lineage without
    * checkpoint jobs); the per-round count doubles as guard and
    * materialization, exactly the DataFrame discipline.
    */
  def multiSourceBfsRdd(edges: org.apache.spark.rdd.RDD[(Long, (Long, Long))],
      sources: Seq[Long], maxHops: Int,
      maxFrontier: Long = 1L << 27): org.apache.spark.rdd.RDD[(Long, Long)] = {
    require(maxHops >= 0, s"multiSourceBfsRdd: maxHops must be >= 0, got $maxHops")
    // BFS IS Bellman-Ford at unit weight, so the one relaxation core
    // serves both metrics (a per-round level+distinct loop was
    // measured SLOWER here — the distinct is an extra shuffle stage
    // per round, and the relax round's map-side combiner compresses
    // the frontier-adjacent edge stream just as well). mapValues
    // preserves the adjacency's partitioner, so rounds stay narrow on
    // the edge side. maxFrontier bounds the distance table — with
    // accumulate-then-min semantics the reached set IS the state, the
    // same quantity the DataFrame form guards.
    multiSourceSsspRdd(edges.mapValues { case (v, _) => (v, 1L) },
      sources, maxHops, maxFrontier)
  }

  /** RDD twin of [[multiSourceSssp]] — Bellman-Ford rounds with min
    * compression over the partitioner-pinned adjacency; see
    * [[multiSourceBfsRdd]] for the measured planning-floor rationale.
    */
  def multiSourceSsspRdd(edges: org.apache.spark.rdd.RDD[(Long, (Long, Long))],
      sources: Seq[Long], maxHops: Int,
      maxNodes: Long = 1L << 27): org.apache.spark.rdd.RDD[(Long, Long)] = {
    require(maxHops >= 0, s"multiSourceSsspRdd: maxHops must be >= 0, got $maxHops")
    val sc = edges.sparkContext
    val part = edges.partitioner.getOrElse(
      new org.apache.spark.HashPartitioner(edges.getNumPartitions))
    // Relax via zipPartitions, not RDD join: both sides share `part`,
    // and PairRDD join is a COGROUP — it materializes every edge tuple
    // of the partition into a hash map each round (~0.25 s/round on
    // the 1.2M-edge fixture, measured). The narrow form builds the map
    // from the SMALL side (the distance partition) and STREAMS the
    // edge partition through it — the broadcast-hash-join shape, but
    // partition-local, so the distance table never needs to fit on one
    // machine (it stays sharded; nothing corpus-sized is broadcast).
    def relaxRound(dist: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] =
      edges.zipPartitions(dist, preservesPartitioning = false) { (eit, dit) =>
        val m = new java.util.HashMap[Long, java.lang.Long]()
        dit.foreach { case (n, d0) =>
          val cur = m.get(n)
          if (cur == null || d0 < cur) m.put(n, d0)
        }
        eit.flatMap { case (u, (v, w)) =>
          val du = m.get(u)
          if (du == null) Iterator.empty else Iterator((v, du + w))
        }
      }
    var dist: org.apache.spark.rdd.RDD[(Long, Long)] =
      sc.parallelize(sources.distinct.map(n => (n, 0L)), 1).partitionBy(part)
    var pinned: Option[org.apache.spark.rdd.RDD[(Long, Long)]] = None
    (1 to maxHops).foreach { hop =>
      val relaxed = relaxRound(dist)
      val next = dist.union(relaxed).reduceByKey(part, math.min(_: Long, _: Long))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = next.count() // materializes; guards
      require(n <= maxNodes,
        s"multiSourceSsspRdd: hop-$hop distance table has $n nodes, " +
          s"exceeding the declared bound of $maxNodes — at this scale use " +
          "a delta-stepping SSSP")
      pinned.foreach(_.unpersist(false)) // release the previous round
      pinned = Some(next)
      dist = next
    }
    dist
  }

  /** Bounded-hop weighted shortest path from a source SET (multi-source
    * SSSP): d(v) = min over paths of ≤ `maxHops` edges of the weight
    * sum — the Bellman-Ford relaxation, which IS the distributed SSSP
    * (Pregel's second canonical example). Each round relaxes every
    * edge out of the current distance table and MIN-COMPRESSES per
    * node, so round state is one row per reached node — path count
    * never materializes (the reason the oracle unrolls the same
    * min-compressed rounds in plain SQL instead of walking paths in a
    * recursive CTE, which would enumerate exponentially many path
    * sums). Correct for the ≤h-hop metric because shortest-path
    * prefixes are shortest paths: d_h(v) = min(d_{h-1}(v),
    * min_u d_{h-1}(u) + w(u, v)).
    *
    * edges(u, v, w) DIRECTED with BIGINT weights (symmetrize first for
    * undirected; integer weights keep every distance an exact integer
    * sum — the engine's determinism discipline). The persist/checkpoint/
    * guard structure follows [[multiSourceRelax]] (this is its
    * uniform-edge-relation special case).
    */
  def multiSourceSssp(edges: DataFrame, sources: DataFrame, maxHops: Int,
      maxNodes: Long = 1L << 27): DataFrame = {
    require(maxHops >= 0, s"multiSourceSssp: maxHops must be >= 0, got $maxHops")
    multiSourceRelax(Seq.fill(maxHops)(edges), sources, maxNodes)
  }
}
