package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.graft.{native => gn}

/** IVF-style ANN (SURVEY §2.10 [N]) — the second scale path for
  * similarity search next to sign-LSH ([[Sketches.annPairs]]):
  * deterministic coarse quantizer (k centroids), every vector assigned to
  * its `nProbe` nearest cells, candidate pairs only within a shared cell.
  *
  * Scale design: centroids are tiny → broadcast; assignment is one
  * narrow pass over the vectors (k cosine evals each, native kernel);
  * the pair join shuffles on `cid` (bounded cells, no all-pairs).
  * The probe ranking is an aggregation (partial-aggregatable top-nProbe
  * fold over k candidate structs), not a window — no per-vector sort
  * shuffle; under the keyed spread the groupBy reuses the existing
  * hash partitioning, so assignment adds zero exchanges.
  * Deterministic: seeding is the k lowest-vec_id vectors (fixed,
  * reproducible), optionally tightened by [[refineCentroids]] — a
  * determinism-preserving Lloyd pass.
  */
object IvfIndex {

  /** `rounds` Lloyd refinement passes over seed centroids — the shared
    * [[Lloyd]] recipe in its single-subspace binding (subspaced = false:
    * no j column anywhere — see Lloyd's scaladoc for why a literal key
    * would cost 3–5× per round) with a cosine score (negated: Lloyd
    * scores ascending-better) and empty cells keeping the PREVIOUS
    * round's centroid. Determinism — exact decimal means, cid
    * tiebreaks, per-round checkpoints — is Lloyd's contract.
    */
  def refineCentroids(embs: DataFrame, seed: DataFrame,
      rounds: Int): DataFrame = {
    val points = graft.Q.spreadBy(embs, "vec_id")
      .select(col("vec_id"), col("embedding").as("sv"))
    Lloyd.train(points, seed,
      (sv, cvec) => -gn.cosine_similarity(sv, cvec),
      rounds, fallbackToSeed = false, subspaced = false)
  }

  /** (vec_id, cid, probe_rank) — each vector in its nProbe nearest cells
    * (rank 1 = nearest). `refine` Lloyd rounds (default 1) rebalance the
    * lowest-id seed cells before assignment. The top-nProbe pick is an
    * arg-top aggregation over the k candidate structs (sort of a k-array
    * per group, partial-aggregatable) — no window, no per-vector sort
    * shuffle.
    */
  def assign(embs: DataFrame, k: Int = 16, nProbe: Int = 2,
      refine: Int = 1): DataFrame =
    assignTo(embs, centroids(embs, k, refine), nProbe)

  /** The coarse quantizer itself: k lowest-vec_id seeds, `refine` Lloyd
    * rounds. (cid, cvec) — cid is the seed's vec_id. Exposed separately
    * from [[assign]] because residual-coding indexes ([[IvfPq]]) need
    * the centroid VECTORS, not just cell memberships.
    */
  def centroids(embs: DataFrame, k: Int = 16, refine: Int = 1): DataFrame = {
    val seed = embs.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    if (refine > 0) refineCentroids(embs, seed, refine) else seed
  }

  /** [[assign]] against an externally supplied centroid table. */
  def assignTo(embs: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    // keyed repartition: spreads a single input file without the
    // round-robin full shuffle of a bare repartition().
    graft.Q.spreadBy(embs, "vec_id").crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct((-gn.cosine_similarity(col("embedding"), col("cvec"))).as("negsim"),
          col("cid").as("cid")).as("cand"))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(col("cand"))), 1, nProbe).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pr", "c")))
      .select(col("vec_id"), col("c.cid").as("cid"),
        (col("pr") + 1).as("probe_rank"))
  }

  /** Candidate pairs sharing at least one probed cell, with exact cosine.
    *
    * Dedup WITHOUT a distinct: a pair probing overlapping cell sets
    * would match once per shared cell, and the old distinct over the
    * joined pairs was the plan's dominant exchange (at nProbe=5 the
    * candidate set approaches all-pairs on the fixtures — millions of
    * skinny rows reshuffled just to dedup). Instead each side carries
    * its sorted probed-cell array and a pair is EMITTED ONLY FROM ITS
    * MINIMAL SHARED CELL (`cid = min(cells₁ ∩ cells₂)`) — exactly-once
    * by construction, as a codegen'd filter on the pipelined join
    * output, no second shuffle. The candidate set is identical to the
    * distinct form.
    *
    * The joined rows stay SKINNY (id + the ≤nProbe-int cell array);
    * embeddings re-attach only after the filter, by broadcast
    * ([[Sketches.reattachCosine]] — carrying the float arrays
    * themselves through the cell join was measured 2× slower even
    * locally).
    */
  def annPairs(embs: DataFrame, k: Int = 16, nProbe: Int = 2,
      refine: Int = 1): DataFrame = {
    // One row per vector: its probed cells, sorted. Feeds both sides of
    // the self-join — persist so assignment (k cosine evals per vector
    // + the arg-top fold) runs once.
    val cells = assign(embs, k, nProbe, refine)
      .groupBy("vec_id").agg(sort_array(collect_list(col("cid"))).as("cells"))
      .transform(graft.Q.sketchPersist)
    pairsFromCells(cells, embs)
  }

  /** [[annPairs]] with the INDEX half staged to parquet (the IvfPq/
    * PqIndex `searchStaged` amortization contract): the cell-membership
    * table — k cosine evals per vector + the arg-top fold + the
    * per-vector cell rollup, the build-side cost — is written ONCE per
    * JVM × tag × params and every later call reads it back, paying only
    * the pair join + reattach. Pass a tag that folds in a corpus
    * fingerprint ([[graft.Q.corpusFingerprint]]) so a corpus refresh
    * within a live process keys a rebuild, not a stale read. First call
    * still builds end-to-end (Verify's dump covers the whole pipeline);
    * the unstaged [[annPairs]] stays gated in SketchesSpec.
    */
  def annPairsStaged(embs: DataFrame, tag: String, k: Int = 16,
      nProbe: Int = 2, refine: Int = 1): DataFrame = {
    val spark = embs.sparkSession
    val safe = tag.replaceAll("[^A-Za-z0-9]", "_")
    val dir = graft.Q.jvmStageRoot("graft_ivf") + s"/" +
      s"${safe}_k${k}_p${nProbe}_r$refine"
    graft.Q.once(dir) {
      // Deliberately NOT fileSized (r17 negative result, the lshbase
      // twin): the cell-membership scan feeds pairsFromCells' self-join
      // — scan parallelism IS the candidate stage's parallelism, and a
      // single-file staging serialized it (sim_ann_ivf 0.48 -> 2.36 s
      // measured). The build's aggregate leaves shuffle-parallelism
      // partitioning in the file layout on purpose.
      assign(embs, k, nProbe, refine)
        .groupBy("vec_id").agg(sort_array(collect_list(col("cid"))).as("cells"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    // No persist: the parquet read serves both join sides — rescanning
    // the skinny staged table is cheaper than pinning executor memory.
    // Memoized read (r12): the bare spark.read re-resolved the
    // datasource (listing + footer) on every warm call.
    pairsFromCells(graft.Q.readStagedParquet(spark, dir), embs)
  }

  /** [[centroids]] with the refined codebook staged to parquet per
    * JVM × tag × params — the [[annPairsStaged]] amortization contract
    * applied to clustering itself: Lloyd training (the multi-job,
    * multi-round part) runs once per corpus; every later call reads the
    * k-row codebook back and pays only its own assignment pass. Callers
    * fold a corpus fingerprint into `tag` so a mid-process fixture
    * refresh rebuilds instead of serving stale centroids.
    */
  def centroidsStaged(embs: DataFrame, tag: String, k: Int = 16,
      refine: Int = 1): DataFrame = {
    val spark = embs.sparkSession
    val safe = tag.replaceAll("[^A-Za-z0-9]", "_")
    val dir = graft.Q.jvmStageRoot("graft_ivf") + s"/cents_${safe}_k${k}_r$refine"
    graft.Q.once(dir) {
      graft.Q.fileSized(centroids(embs, k, refine))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    graft.Q.readStagedParquet(spark, dir)
  }

  private def pairsFromCells(cells: DataFrame, embs: DataFrame): DataFrame = {
    val skinny = cells.select(col("vec_id"), col("cells"),
      explode(col("cells")).as("cid"))
    val l = skinny.select(col("vec_id").as("id1"), col("cells").as("cells1"),
      col("cid"))
    val r = skinny.select(col("vec_id").as("id2"), col("cells").as("cells2"),
      col("cid").as("cid2"))
    // first_common_sorted == array_min(array_intersect) on the sorted
    // cell arrays, as a native two-pointer kernel: the SQL form's
    // per-row intersection allocation was 0.7 s of this query's 1.6 s
    // warm cost at sf0.1 (IvfWarmProbe r11; 3.1M joined rows).
    val cands = l.join(r, col("cid") === col("cid2") && col("id1") < col("id2"))
      .filter(col("cid") === gn.first_common_sorted(col("cells1"), col("cells2")))
      .select("id1", "id2")
    Sketches.reattachCosine(cands, embs)
  }
}
