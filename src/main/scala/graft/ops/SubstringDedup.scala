package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring-level dedup over overlapping k-word windows — the
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better") family reformulated for a shuffle engine: their suffix-array
  * arbitrary-length matches become fixed-length overlapping windows,
  * which is what turns the problem into ONE equi-shuffle on the window
  * gram (the standard large-corpus compromise).
  *
  * Semantics: every occurrence of a k-word window except the GLOBAL
  * first (under the (doc_id, off) total order) is a duplicate; per
  * document the duplicated [off, off+k-1] intervals are island-merged
  * to count the words a substring-dedup pass would actually remove.
  *
  * Scale shape: one explode pass over the corpus, one shuffle on the
  * gram (the first-occurrence window — min (doc_id, off) struct, no
  * groupBy + join-back), one shuffle on doc_id shared by the island
  * windows and the final rollup. Grams travel as exact strings so the
  * DuckDB oracle replays byte-for-byte; at 100 TB the shuffle key would
  * be the gram's 128-bit hash. Randomized equivalence against an
  * in-memory brute force (window set, first-occurrence, interval union)
  * is pinned in OpsSpec, independent of the parquet fixtures.
  */
object SubstringDedup {

  /** docs(doc_id, text) → (doc_id, n_win, n_dup, n_removed), one row per
    * input document (0/0/0 for docs shorter than k words). Unordered —
    * callers sort.
    *
    * The global first occurrence is ONE min-struct window over the gram
    * partition — a single shuffle. Hot-gram hazard: every occurrence of
    * the hottest gram lands in one window task, and AQE cannot split
    * window partitions, so a boilerplate-heavy corpus (one gram at a few
    * % of all windows) would see a long-tail straggler there; the
    * skew-safe form is `groupBy(gram).agg(min(struct))` + an equi-join
    * back, which AQE's skew join can split, at the cost of a second
    * shuffle of the gram relation.
    */
  def windowDupStats(docs: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 2, s"windowDupStats: window of $k words is degenerate")
    // spreadBy parallelizes the window build off single-split inputs AND
    // leaves a doc_id-keyed exchange both consumers (the gram explode
    // and the final per-doc join) reuse.
    val g0 = graft.Q.spreadBy(
      docs.select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws")), "doc_id")
      .select(col("doc_id"),
        greatest(size(col("ws")) - (k - 1), lit(0)).as("n_win"), col("ws"))
    // sequence(1, 0) is the DESCENDING [1, 0] (the Sketches shingle
    // trap) — the n_win >= 1 filter keeps the transform total.
    val g = g0.filter(col("n_win") >= 1)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, n_win),
           |  i -> struct(i as off, concat_ws(' ', slice(ws, i, $k)) as gram))"""
          .stripMargin)).as("h"))
      .select(col("doc_id"), col("h.off").as("off"), col("h.gram").as("gram"))
    // Global first occurrence per gram: min (doc_id, off) struct
    // carried by the window (one shuffle). See the scaladoc trade.
    val withFirst = g.withColumn("first",
      min(struct(col("doc_id"), col("off"))).over(Window.partitionBy("gram")))
    val dup = withFirst
      .filter(!(col("doc_id") === col("first.doc_id")
        && col("off") === col("first.off")))
      .select(col("doc_id"), col("off"), (col("off") + (k - 1)).as("fin"))
    // Island merge of the duplicated [off, fin] intervals per doc: a
    // window starts a new island iff it begins past everything seen.
    val wDoc = Window.partitionBy("doc_id").orderBy("off")
    val prevMax = max(col("fin"))
      .over(wDoc.rowsBetween(Window.unboundedPreceding, -1))
    val isl = dup
      .withColumn("is_new",
        when(col("off") > coalesce(prevMax, lit(-1)), 1).otherwise(0))
      .withColumn("isl_id", sum(col("is_new"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agg = isl.groupBy("doc_id", "isl_id")
      .agg((max("fin") - min("off") + 1).as("covered"), count(lit(1)).as("n_occ"))
      .groupBy("doc_id")
      .agg(sum("n_occ").as("n_dup"), sum("covered").as("n_removed"))
    g0.select(col("doc_id"), col("n_win").cast("long").as("n_win"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }
}
