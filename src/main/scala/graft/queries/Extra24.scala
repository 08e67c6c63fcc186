package graft.queries

import graft.{Q, Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 additions beyond the verdict list: mean reciprocal rank
  * (the ranking-eval family's first-hit member) and within-window
  * proximity retrieval (the phrase family's unordered sibling, riding
  * the same staged positional tf segment). Determinism contracts as
  * established: exact integer arithmetic for every gate value
  * (reciprocal ranks in nano-units via integer division; proximity
  * counts are position-set intersections), total orders on every
  * emitted set, one shared fixture definition feeding both engines.
  */
object Extra24 {

  /** Pessimistic-tie MRR over (seg, score, pos) rows — factored so the
    * spec can pin the result against the brute sequential definition
    * on controlled tie fixtures (the avgPrecisionOf discipline).
    *
    * Rank of the first positive under (score DESC) with ties resolved
    * pessimistically (all tied negatives before tied positives — the
    * order-free convention both engines replay identically): for the
    * first score group containing a positive, k = cumcnt + (cnt − np)
    * + 1. Because cumcnt grows by the FULL cnt of each earlier group
    * while the candidate rank discounts only the group's own
    * positives, k is monotonically non-decreasing across groups — so
    * MIN over all np>0 groups IS the first positive's rank, order-free
    * (no argmin/first needed). rr_units = 10⁹ div k is EXACT integer
    * division in both engines — the gate column; the rounded double
    * ratio rides for readability only.
    *
    * Scale shape: one (seg, score) rollup, one per-seg window over the
    * COLLAPSED score domain (the agg_auc/eval_avg_precision discipline
    * — never a window over raw rows), two small rollups, one
    * |segments|-sized join. Nothing corpus-grain after the first
    * combine.
    */
  private[graft] def mrrOf(e: DataFrame): DataFrame = {
    val g = e.groupBy("seg", "score")
      .agg(count(lit(1)).as("cnt"), sum("pos").as("np"))
    val w = Window.partitionBy("seg").orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g.withColumn("cumcnt", coalesce(sum("cnt").over(w), lit(0L)))
    val t = g.groupBy("seg").agg(sum("cnt").as("n"), sum("np").as("n_pos"))
    val k = r.filter(col("np") > 0).groupBy("seg")
      .agg(min(col("cumcnt") + (col("cnt") - col("np")) + lit(1L)).as("first_k"))
    t.join(k, Seq("seg"), "left")
      .select(col("seg").cast("bigint").as("seg"), col("n"), col("n_pos"),
        col("first_k"),
        coalesce(expr("1000000000 div first_k"), lit(0L)).as("rr_units"),
        when(col("n_pos") > 0, Q.dec4(round(
          coalesce(expr("1000000000 div first_k"), lit(0L))
            / lit(1000000000.0), 4))).as("rr"))
      .orderBy("seg")
  }

  /** Within-`window` proximity score from two posting rows' position
    * arrays: |{(x, y) : x ∈ p1, y ∈ p2, |x − y| ≤ window}| — the
    * unordered near-cooccurrence count (Lucene's sloppy-phrase
    * analogue, slop measured in token positions). Pure nested
    * higher-order functions over the two int arrays — no UDF, no
    * explode: the pair count never materializes as rows. Factored so
    * the spec can pin it on hand postings. Contract: ph pairs carry
    * DISTINCT member words (w1 ≠ w2) — with w1 = w2 the count would
    * include the |x − x| = 0 self-pairs; the fixed PhraseQueries
    * fixture satisfies this statically.
    */
  private[graft] def proximityScored(tf: DataFrame, ph: DataFrame,
      window: Int): DataFrame = {
    val a = tf.join(broadcast(ph), col("word") === col("w1"))
      .select(col("qid"), col("doc_id"), col("positions").as("p1"))
    val b = tf.join(broadcast(ph.select("qid", "w2")), col("word") === col("w2"))
      .select(col("qid"), col("doc_id"), col("positions").as("p2"))
    // (qid, doc_id) join keys ⊇ the bucketed doc_id partitioning on
    // both sides — co-located, no exchange (the text_phrase contract).
    a.join(b, Seq("qid", "doc_id"))
      .select(col("qid"), col("doc_id"),
        expr(s"""aggregate(p1, cast(0 as bigint),
          |  (acc, x) -> acc + size(filter(p2, y -> abs(y - x) <= $window)))"""
          .stripMargin).as("prox_tf"))
      .filter(col("prox_tf") >= 1)
  }

  /** The 3-round LPA community assignment as staged SESSION state
    * (the stagedGraphRdd/int8-index/BM25-tf precedent: a community
    * assignment is ingest-time state a curation pipeline computes once
    * per corpus, not per query): memoized per session × corpus
    * fingerprint (the staged edge table's tag folds it), persisted and
    * pinned out of consumer-scope reclamation. graph_lpa and
    * graph_modularity share one propagation.
    */
  private[graft] def stagedLpaLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.rdd.RDD[(Long, Long)] =
    graft.Q.once(s, "lpa3|" + Extra23.stagedGraphEdges(s, d)) {
      val (erdd, _) = Extra23.stagedGraphRdd(s, d)
      val lab = graft.ops.Lpa.lpaRdd(erdd, rounds = 3)
      graft.ops.CacheScope.pinStaged(lab)
      lab
    }

  /** Newman modularity of a labeling over a symmetric directed edge
    * relation, assembled WITHOUT division: with m2 = |directed edges|
    * (= 2m), A = directed intra-community edges and D_c = per-community
    * degree sums, Q = [A·m2 − Σ_c D_c²] / m2² — numerator and
    * denominator are exact BIGINTs (D_c ≤ m2 so Σ D_c² ≤ m2², ~2·10¹³
    * at sf0.1; past ~10⁹ directed edges promote to DECIMAL(38)), so
    * the gate columns are pure integers and the one double division
    * happens on ≤2⁵³ integers — correctly rounded identically in both
    * engines. Factored so the spec can pin a hand-computed partition.
    */
  /** A label-assignment side renamed for an edge attach, with the
    * broadcast HINT the planner can't derive itself (r15 session 2):
    * the assignment arrives as an ExistingRDD with unknown stats, so
    * the planner otherwise sizes it at the default and broadcasts the
    * EDGE table instead — a corpus-sized build side (1.2M rows
    * BuildLeft at sf0.1, the executed-plan audit's finding). The label
    * relation is node-count-sized — the correct build side at any EDGE
    * scale, but the ceiling is the NODE count (ADVICE r15): past
    * driver/broadcast capacity (~a few 10⁸ nodes at 16 B/row against
    * the 8 GB broadcast hard cap) the hint OOMs rather than degrading.
    * `spark.graft.graph.broadcastLabels=false` drops the hint for that
    * regime — the attach becomes a shuffled join keyed on the node id
    * (slower, never wrong); no footer row-count gate is possible here
    * because the assignment is computed state, not a parquet table.
    */
  private[graft] def labelSide(lab: DataFrame, key: String,
      labName: String, nodeBound: Option[Long] = None): DataFrame = {
    val side = lab.select(col("node").as(key), col("label").as(labName))
    if (broadcastLabels(lab.sparkSession, nodeBound)) broadcast(side)
    else side
  }

  /** The DATA-DERIVED broadcast gate (r17, VERDICT r16 #6 — the
    * ts_trending footer-count crossover applied to the graph family):
    * an explicit `spark.graft.graph.broadcastLabels` still wins, but
    * the DEFAULT now follows the measured |V| bound — broadcast while
    * nodeBound ≤ `spark.graft.graph.broadcastLabels.maxNodes` (default
    * 10⁷: a collected (long, long) HashedRelation costs far more than
    * its 16 B/row payload — at 10⁸ rows several GB of driver heap, well
    * before the 8 GB / 512M-row broadcast hard cap), shuffled join past it,
    * so node-sized broadcasts turn themselves off before they OOM the
    * driver at 10⁹ nodes. Callers without a cheap bound (computed
    * assignments of unknown size) keep the broadcast default — the
    * pre-r17 behavior.
    */
  private[graft] def broadcastLabels(s: org.apache.spark.sql.SparkSession,
      nodeBound: Option[Long]): Boolean =
    s.conf.getOption("spark.graft.graph.broadcastLabels") match {
      case Some(v) => v.toBoolean
      case None => nodeBound.forall(_ <= s.conf
        .get("spark.graft.graph.broadcastLabels.maxNodes", "10000000").toLong)
    }

  /** Node count of the staged graph — one cheap count of the persisted
    * per-node LPA assignment, memoized per session × corpus. This is the
    * |V| bound the broadcast gate consumes; it exists because the label
    * relations here are computed RDD state with no parquet footer to
    * read (the ts_trending pattern's one unavailable ingredient).
    */
  private[graft] def stagedNodeCount(s: org.apache.spark.sql.SparkSession,
      d: String): Long =
    graft.Q.once(s, "nodecount|" + Extra23.stagedGraphEdges(s, d))(
      java.lang.Long.valueOf(stagedLpaLabels(s, d).count())).longValue()

  private[graft] def modularityOf(e: DataFrame, lab: DataFrame,
      nodeBound: Option[Long] = None): DataFrame = {
    val lu = labelSide(lab, "u", "lu", nodeBound)
    val lv = labelSide(lab, "v", "lv", nodeBound)
    val m2Row = e.agg(count(lit(1)).as("m2"))
    val intra = e.join(lu, "u").join(lv, "v")
      .agg(sum(when(col("lu") === col("lv"), 1L).otherwise(0L)).as("intra"))
    val sds = e.groupBy("u").agg(count(lit(1)).as("deg"))
      .join(lu, "u").groupBy("lu").agg(sum("deg").as("dc"))
      .agg(sum(col("dc") * col("dc")).as("sum_deg_sq"))
    m2Row.crossJoin(broadcast(intra)).crossJoin(broadcast(sds))
      .select(col("m2"), col("intra"), col("sum_deg_sq"),
        (col("intra") * col("m2") - col("sum_deg_sq")).as("q_num"),
        Q.dec6(round(
          (col("intra") * col("m2") - col("sum_deg_sq")).cast("double")
            / (col("m2") * col("m2")).cast("double"), 6)).as("q"))
  }

  def defs: Map[String, Q] = Map(

    // MEAN RECIPROCAL RANK — the eval family's first-relevant-hit
    // metric (the navigational-search / QA-retrieval standard, the
    // TREC-8 reciprocal-rank measure): per segment, 1/rank of the
    // best-scored positive under pessimistic tie resolution. Shares
    // eval_avg_precision's (seg, score, pos) fixture so the two
    // metrics are directly comparable on the same ranking.
    "eval_mrr" -> Q(
      """WITH e AS (SELECT user_id % 4 AS seg, value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM read_parquet('{sfDir}/events.parquet')),
        |g AS (SELECT seg, score, count(*) AS cnt, sum(pos) AS np
        |      FROM e GROUP BY 1, 2),
        |r AS (SELECT seg, cnt, np,
        |    coalesce(sum(cnt) OVER (PARTITION BY seg ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumcnt
        |  FROM g),
        |t AS (SELECT seg, CAST(SUM(cnt) AS BIGINT) AS n,
        |             CAST(SUM(np) AS BIGINT) AS n_pos
        |      FROM g GROUP BY 1),
        |k AS (SELECT seg, CAST(MIN(cumcnt + (cnt - np) + 1) AS BIGINT) AS first_k
        |      FROM r WHERE np > 0 GROUP BY 1)
        |SELECT CAST(t.seg AS BIGINT) AS seg, t.n, t.n_pos, k.first_k,
        |  CAST(COALESCE(1000000000 // k.first_k, 0) AS BIGINT) AS rr_units,
        |  CAST(CASE WHEN t.n_pos > 0 THEN
        |         ROUND(COALESCE(1000000000 // k.first_k, 0) / 1000000000.0, 4)
        |       END AS DECIMAL(18,4)) AS rr
        |FROM t LEFT JOIN k USING (seg) ORDER BY seg""".stripMargin) { (s, d) =>
      mrrOf(T.events(s, d).select((col("user_id") % 4).as("seg"),
        col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos")))
    },

    // PROXIMITY RETRIEVAL — within-3-token unordered co-occurrence of
    // the phrase pairs, top-10 per query: the sloppy-phrase relaxation
    // of text_phrase, served from the SAME two posting rows of the
    // staged positional tf segment (broadcast term tables, co-located
    // (qid, doc_id) join, bounded-heap cut). The oracle recomputes the
    // counts by the direct token-window definition over the raw text,
    // so the hash gate proves the positional-index path equals the
    // definition — the text_phrase contract at slop 3.
    "text_proximity" -> Q(
      s"""WITH ph(qid, w1, w2) AS (VALUES ${Extra23.phraseValuesSql}),
        |d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |      FROM read_parquet('{sfDir}/documents.parquet')),
        |s AS (SELECT ph.qid, d.doc_id,
        |        CAST(len(flatten(list_transform(
        |          list_filter(generate_series(1, len(ws)), i -> ws[i] = ph.w1),
        |          i -> list_filter(generate_series(greatest(1, i - 3),
        |                                           least(len(ws), i + 3)),
        |                           j -> ws[j] = ph.w2)))) AS BIGINT) AS prox_tf
        |      FROM d CROSS JOIN ph),
        |r AS (SELECT qid, doc_id, prox_tf,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |                           ORDER BY prox_tf DESC, doc_id) AS rn
        |      FROM s WHERE prox_tf >= 1)
        |SELECT CAST(qid AS BIGINT) AS qid, doc_id, prox_tf
        |FROM r WHERE rn <= 10
        |ORDER BY qid, prox_tf DESC, doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val gn = org.apache.spark.sql.graft.native
      val (tf, _, _) = Extra23.corpusStatsStaged(s, d)
      val ph = Extra23.PhraseQueries.toDF("qid", "w1", "w2")
      gn.top_k_per_group(proximityScored(tf, ph, window = 3), Seq("qid"),
          Seq(col("prox_tf").desc, col("doc_id").asc), 10)
        .select("qid", "doc_id", "prox_tf")
        .orderBy(col("qid"), col("prox_tf").desc, col("doc_id"))
    },

    // LABEL-PROPAGATION COMMUNITIES — the graph family's second
    // density/community member beside graph_kcore (VERDICT r14's
    // "k-core or label propagation": both now ship). Three synchronous
    // rounds of most-frequent-neighbor-label with min-label tie-break
    // over the shared staged adjacency (ops/Lpa — deterministic by
    // construction, so the fixed-round trajectory is engine-exact even
    // where classic randomized LPA would oscillate on this bipartite
    // order–part graph). The oracle unrolls the three rounds in SQL
    // (the graph_kcore precedent); the emitted rollup is the community
    // SIZE histogram with integer label sums/mins — small output, full
    // sensitivity to any label diverging.
    "graph_lpa" -> Q(
      """WITH e0 AS (SELECT DISTINCT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b
        |            FROM read_parquet('{sfDir}/lineitem.parquet')),
        |e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT u AS node, u AS label FROM (SELECT DISTINCT u FROM e)),
        |c1 AS (SELECT e.v AS node, p.label, COUNT(*) AS cnt
        |       FROM e JOIN l0 p ON e.u = p.node GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |        SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |          ORDER BY cnt DESC, label) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.v AS node, p.label, COUNT(*) AS cnt
        |       FROM e JOIN l1 p ON e.u = p.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |        SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |          ORDER BY cnt DESC, label) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT e.v AS node, p.label, COUNT(*) AS cnt
        |       FROM e JOIN l2 p ON e.u = p.node GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |        SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |          ORDER BY cnt DESC, label) AS rn FROM c3) WHERE rn = 1),
        |cm AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS csize
        |       FROM l3 GROUP BY 1)
        |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_communities,
        |       CAST(SUM(label) AS BIGINT) AS sum_label,
        |       CAST(MIN(label) AS BIGINT) AS min_label
        |FROM cm GROUP BY 1 ORDER BY csize""".stripMargin) { (s, d) =>
      import s.implicits._
      stagedLpaLabels(s, d)
        .toDF("node", "label")
        .groupBy("label").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_communities"),
          sum("label").as("sum_label"), min("label").as("min_label"))
        .orderBy("csize")
    },

    // MODULARITY — the community-quality metric (Newman & Girvan) of
    // the staged LPA assignment: how much denser inside communities
    // than a degree-preserving random graph. One propagation serves
    // both graph_lpa and this metric (staged session state); the gate
    // columns are exact integers — the division is factored OUT of the
    // gate (q_num = A·2m − Σ D_c², denominator (2m)²), the modularityOf
    // discipline. The oracle re-unrolls the three LPA rounds and
    // assembles the same integers, so the gate re-proves the
    // propagation AND the metric end-to-end.
    "graph_modularity" -> Q(
      """WITH e0 AS (SELECT DISTINCT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b
        |            FROM read_parquet('{sfDir}/lineitem.parquet')),
        |e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT u AS node, u AS label FROM (SELECT DISTINCT u FROM e)),
        |c1 AS (SELECT e.v AS node, p.label, COUNT(*) AS cnt
        |       FROM e JOIN l0 p ON e.u = p.node GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |        SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |          ORDER BY cnt DESC, label) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.v AS node, p.label, COUNT(*) AS cnt
        |       FROM e JOIN l1 p ON e.u = p.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |        SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |          ORDER BY cnt DESC, label) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT e.v AS node, p.label, COUNT(*) AS cnt
        |       FROM e JOIN l2 p ON e.u = p.node GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |        SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |          ORDER BY cnt DESC, label) AS rn FROM c3) WHERE rn = 1),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e),
        |i AS (SELECT CAST(COUNT(*) AS BIGINT) AS intra
        |      FROM e JOIN l3 x ON e.u = x.node JOIN l3 y ON e.v = y.node
        |      WHERE x.label = y.label),
        |dg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY 1),
        |dc AS (SELECT x.label, CAST(SUM(deg) AS BIGINT) AS dc
        |       FROM dg JOIN l3 x ON dg.u = x.node GROUP BY 1),
        |sq AS (SELECT CAST(SUM(dc * dc) AS BIGINT) AS sum_deg_sq FROM dc)
        |SELECT a.m2, i.intra, sq.sum_deg_sq,
        |  CAST(i.intra * a.m2 - sq.sum_deg_sq AS BIGINT) AS q_num,
        |  CAST(ROUND(CAST(i.intra * a.m2 - sq.sum_deg_sq AS DOUBLE)
        |             / CAST(a.m2 * a.m2 AS DOUBLE), 6) AS DECIMAL(18,6)) AS q
        |FROM a, i, sq""".stripMargin) { (s, d) =>
      import s.implicits._
      val lab = stagedLpaLabels(s, d).toDF("node", "label")
      val e = s.table(Extra23.stagedGraphEdges(s, d)).select("u", "v")
      modularityOf(e, lab, Some(stagedNodeCount(s, d)))
    }
  )
}
