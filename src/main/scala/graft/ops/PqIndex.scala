package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.graft.{native => gn}

/** Product-quantization ANN (the third similarity-search scale path next
  * to sign-LSH ([[Sketches.annPairs]]) and IVF ([[IvfIndex]])): vectors
  * are split into `m` subspaces, each subvector quantized to one of `k`
  * codebook entries, and search runs by Asymmetric Distance Computation —
  * the query precomputes an (subspace, code) → partial-L2 lookup table,
  * so scoring a candidate is `m` table lookups + adds, touching only the
  * m-byte codes, never the raw vectors.
  *
  * Scale story: at 100 TB the corpus-side state is the code table
  * (m small ints per vector — a 64-dim float vector compresses 32×),
  * codebooks and query LUTs are kilobytes → broadcast; the ADC score is
  * a partial-aggregatable SUM over an equi-join on (subspace, code).
  * The shortlist is [[graft.plans.TopKPerGroupPlan]] (bounded heap per
  * query, no global sort), and only shortlisted candidates are reranked
  * against real vectors.
  *
  * Determinism (same contract as IvfIndex's Lloyd): codebook means are
  * summed EXACTLY in DECIMAL(28,12) per (subspace, code, position) —
  * order-independent by construction; assignment argmin ties break on
  * code id; ADC contributions are rounded once to DECIMAL(18,9) so the
  * per-candidate sum is exact decimal arithmetic; the final rerank uses
  * the exact cosine kernel rounded to 4 decimals with an id tiebreak —
  * a total order both engines replay identically.
  */
object PqIndex {

  /** Embedding dimension, probed from a one-row sample (the schema only
    * says array<float>). One tiny job per train/search entry point —
    * never per [[subvecs]] call, which runs several times per pipeline.
    */
  private[ops] def embeddingDim(embs: DataFrame, m: Int): Int =
    embs.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect().headOption match {
      case Some(row) =>
        val d = row.getInt(0)
        require(d > 0 && d % m == 0,
          s"PqIndex: m=$m must evenly divide the embedding dim d=$d " +
            "(an uneven split would silently drop trailing dimensions " +
            "from every vector in both training and search)")
        d
      // Empty relation: no dimension to validate — return m (sub = 1)
      // so every downstream stage is empty-in → empty-out, the
      // pre-probe behavior.
      case None => m
    }

  /** (vec_id, j, sv): each vector exploded into its m subvectors.
    * `d` comes from [[embeddingDim]] — m | d already verified there.
    */
  private[graft] def subvecs(embs: DataFrame, m: Int, d: Int): DataFrame = {
    val sub = d / m
    embs.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${m - 1}), j -> struct(j AS j, slice(embedding, j * $sub + 1, $sub) AS sv))"))
      .as("x"))
      .select(col("vec_id"), col("x.j").as("j"), col("x.sv").as("sv"))
  }

  /** Codebooks (j, cid, cvec): seeded from the k lowest-vec_id vectors'
    * subvectors (deterministic), tightened by `rounds` passes of the
    * shared [[Lloyd]] recipe run over ALL subspaces at once — one
    * assignment join + one decimal mean aggregation per round, keyed by
    * (j, cid), not m separate jobs. L2² score; empty cells fall back to
    * the original seed.
    */
  def trainCodebooks(embs: DataFrame, m: Int, k: Int,
      rounds: Int): DataFrame =
    trainCodebooksD(embs, m, k, rounds, embeddingDim(embs, m))

  private def trainCodebooksD(embs: DataFrame, m: Int, k: Int,
      rounds: Int, d: Int): DataFrame = {
    val seed = subvecs(embs.orderBy("vec_id").limit(k), m, d)
      .select(col("j"), col("vec_id").as("cid"), col("sv").as("cvec"))
    Lloyd.train(subvecs(graft.Q.spreadBy(embs, "vec_id"), m, d), seed,
      Lloyd.l2sq, rounds, fallbackToSeed = true)
  }

  /** (vec_id, j, code): every subvector assigned to its nearest codebook
    * entry (L2 argmin, ties → lowest cid). The corpus-side index state.
    */
  def encode(embs: DataFrame, cb: DataFrame, m: Int): DataFrame =
    encodeD(embs, cb, m, embeddingDim(embs, m))

  private def encodeD(embs: DataFrame, cb: DataFrame, m: Int,
      d: Int): DataFrame =
    subvecs(embs, m, d)
      .join(broadcast(cb), "j")
      .select(col("vec_id"), col("j"),
        struct(Lloyd.l2sq(col("sv"), col("cvec")).as("d2"),
          col("cid").as("cid")).as("cand"))
      .groupBy("vec_id", "j").agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("j"), col("best.cid").as("code"))

  /** ADC top-`topK` neighbors for the `nq` lowest-id vectors used as
    * queries: LUT join → exact-decimal ADC sum → top-`shortlist` per
    * query (bounded heap) → exact cosine rerank → top-`topK` by
    * (rounded sim DESC, id). Returns (q_id, nb_id, sim).
    */
  def search(embs: DataFrame, nq: Int = 8, m: Int = 8, k: Int = 16,
      rounds: Int = 1, shortlist: Int = 100, topK: Int = 10): DataFrame = {
    val d = embeddingDim(embs, m) // one probe for the whole pipeline
    val cb = trainCodebooksD(embs, m, k, rounds, d)
    val codes = encodeD(graft.Q.spreadBy(embs, "vec_id"), cb, m, d)
    searchIndexD(embs, d, cb, codes, nq, m, shortlist, topK)
  }

  /** One staged index per JVM × tag × parameterization (the IvfPq
    * .searchStaged contract — an ANN index is ingest-time state,
    * amortized over every query): first call trains + encodes + writes
    * codebooks and codes as parquet; later calls read them back and pay
    * only LUT + ADC + shortlist + rerank.
    */
  def searchStaged(embs: DataFrame, tag: String, nq: Int, m: Int, k: Int,
      rounds: Int, shortlist: Int, topK: Int): DataFrame = {
    val spark = embs.sparkSession
    val safe = tag.replaceAll("[^A-Za-z0-9]", "_")
    val dir = graft.Q.jvmStageRoot("graft_pq") + s"/${safe}_m${m}_k${k}_r$rounds"
    // Dimension probe memoized under the staged key (a small Spark job
    // otherwise paid per WARM call — r12; the dir folds in the corpus
    // fingerprint, so a refresh re-probes with the rebuild).
    val d = graft.Q.once(spark, "pqDim|" + dir)(
      Integer.valueOf(embeddingDim(embs, m))).intValue()
    graft.Q.once(dir) {
      val cb = trainCodebooksD(embs, m, k, rounds, d)
      graft.Q.fileSized(cb).write.mode("overwrite").parquet(s"$dir/cb")
      graft.Q.fileSized(encodeD(graft.Q.spreadBy(embs, "vec_id"),
          spark.read.parquet(s"$dir/cb"), m, d))
        .write.mode("overwrite").parquet(s"$dir/codes")
      dir
    }
    searchIndexD(embs, d, graft.Q.readStagedParquet(spark, s"$dir/cb"),
      graft.Q.readStagedParquet(spark, s"$dir/codes"), nq, m, shortlist, topK)
  }

  /** The search half against a prebuilt (cb, codes) flat-PQ index. */
  def searchIndex(embs: DataFrame, cb: DataFrame, codes: DataFrame,
      nq: Int, m: Int, shortlist: Int, topK: Int): DataFrame =
    searchIndexD(embs, embeddingDim(embs, m), cb, codes, nq, m,
      shortlist, topK)

  private def searchIndexD(embs: DataFrame, d: Int, cb: DataFrame,
      codes: DataFrame, nq: Int, m: Int, shortlist: Int,
      topK: Int): DataFrame = {
    // the nq LOWEST-id vectors, as documented — the same selection the
    // codebook seed uses (a plain `vec_id < nq` filter silently returns
    // nothing on corpora whose ids aren't 0-based contiguous)
    val queries = embs.orderBy("vec_id").limit(nq)
    // query LUT: one row per (q, subspace, code) — nq·m·k rows, kilobytes
    val lut = subvecs(queries, m, d).select(col("vec_id").as("q_id"), col("j"), col("sv"))
      .join(broadcast(cb), "j")
      .select(col("q_id"), col("j"), col("cid").as("code"),
        Lloyd.l2sq(col("sv"), col("cvec")).cast(DecimalType(18, 9)).as("contrib"))
    // ADC: m lookups + an exact-decimal sum per (query, candidate)
    val adc = codes.join(broadcast(lut), Seq("j", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      // Key the ADC rollup exchange on q_id alone (r16, guide §2.4):
      // satisfies the (q_id, vec_id) grouping by the subset rule AND
      // the shortlist heap's clustering — one exchange instead of two.
      // No explicit partition count, so AQE still coalesces it.
      // ADVICE r16 tradeoff, noted: keying the exchange above the
      // rollup moves PRE-aggregate rows (per-cell/per-replica
      // multiplied) through the shuffle instead of combined partials —
      // measured a win at fixture scale, but at a much higher
      // nprobe/replica fan-out shuffle volume could dominate; if it
      // does, revert to the bare two-exchange groupBy per pipeline.
      .repartition(col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("contrib").as("approx_d2"))
    val short = gn.top_k_per_group(adc, Seq("q_id"),
      Seq(col("approx_d2").asc, col("vec_id").asc), shortlist)
    // exact rerank of the shortlist only
    val reranked = short
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))), "q_id")
      .join(embs.select(col("vec_id"), col("embedding").as("xe")), "vec_id")
      .select(col("q_id"), col("vec_id").as("nb_id"),
        round(gn.cosine_similarity(col("qe"), col("xe")), 4)
          .cast(DecimalType(18, 4)).as("sim"))
    gn.top_k_per_group(reranked, Seq("q_id"),
      Seq(col("sim").desc, col("nb_id").asc), topK)
      .orderBy(col("q_id"), col("sim").desc, col("nb_id"))
  }
}
