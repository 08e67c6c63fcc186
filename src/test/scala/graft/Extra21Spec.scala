package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the Extra21 family — properties the DuckDB
  * hash gate can state but not *explain*: the diff really is an
  * edit script, the quantizer really bounds reconstruction error, the
  * component solver really computes reachability, the sliding distinct
  * really matches its brute-force definition. Each failure names the
  * broken law instead of surfacing as an opaque hash mismatch.
  */
class Extra21Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("eval_confusion REJECTS length-mismatched embeddings by name " +
    "instead of argmin-ing a null distance (ADVICE r11)") {
    // zip_with pads the shorter array with nulls → d2 would be NULL, and
    // nulls sort FIRST in the min(struct(d2, label)) argmin — a corrupt
    // vector would silently classify as the smallest label. The guard
    // must raise the named error on the malformed row, and leave
    // well-formed frames byte-identical to the unguarded form.
    import spark.implicits._
    val good = Seq(
      (0L, "a", Seq(1.0f, 0.0f)), (1L, "a", Seq(0.9f, 0.1f)),
      (2L, "b", Seq(0.0f, 1.0f)), (3L, "b", Seq(0.1f, 0.9f)))
      .toDF("vec_id", "label", "embedding")
    val out = graft.queries.Extra21.confusionOf(good)
      .orderBy("label", "pred").collect()
    // Perfectly separable 2-cluster data: diagonal confusion matrix.
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("a", "a", 2L), ("b", "b", 2L)), out.mkString(", "))
    val bad = good.unionAll(
      Seq((4L, "a", Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "label", "embedding"))
    val e = intercept[Exception](
      graft.queries.Extra21.confusionOf(bad).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // The malformed row also pollutes its label's CENTROID dimension, so
    // the first row the guard trips on may be a well-formed sibling —
    // either way the failure is the named one, not a silent argmin.
    assert(msgs(e).exists(_.contains("embedding length")),
      s"expected the named guard, got: $e")
    // A NULL embedding is the OTHER corrupt input (ADVICE r12):
    // size(NULL) is NULL, so the length inequality alone evaluates to
    // NULL and the when falls through — d2 would go NULL and argmin
    // silently. The explicit isNull arm must raise the same named error.
    val withNull = good.unionAll(
      Seq((5L, "a", null.asInstanceOf[Seq[Float]]))
        .toDF("vec_id", "label", "embedding"))
    val e2 = intercept[Exception](
      graft.queries.Extra21.confusionOf(withNull).collect())
    assert(msgs(e2).exists(_.contains("embedding length")),
      s"expected the named guard on a NULL embedding, got: $e2")
  }

  test("cdc_diff is a faithful edit script: old + diff == new") {
    // Rebuild the two snapshots exactly as the query does, classify
    // per-key (not the declared rollup — the row-level form the rollup
    // checksums), then APPLY the script to old: drop deletes, overwrite
    // updates, add inserts. The result must equal new exactly — the
    // property that makes a CDC diff usable for incremental
    // materialization, and one no per-class checksum can prove.
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    val old = o.filter(col("k") % 97 =!= 0)
    val nw = o.filter(col("k") % 89 =!= 0)
      .withColumn("p", when(col("k") % 13 === 0, col("p") + lit(1.0))
        .otherwise(col("p")))
    val j = old.as("a").join(nw.as("b"), col("a.k") === col("b.k"), "full_outer")
      .select(
        when(col("a.k").isNull, "insert")
          .when(col("b.k").isNull, "delete")
          .when(col("a.p") =!= col("b.p"), "update")
          .otherwise("unchanged").as("change"),
        coalesce(col("a.k"), col("b.k")).as("k"), col("b.p").as("new_p"))
    val applied = j.filter(col("change") =!= "delete")
      .select(col("k"), col("new_p").as("p")) // insert/update/unchanged all carry new_p
    assert(applied.exceptAll(nw).isEmpty && nw.exceptAll(applied).isEmpty,
      "applying the diff to the old snapshot must reproduce the new one")
  }

  test("embed_quantize reconstruction error is bounded by scale/2") {
    // The int8 quantizer's defining bound: |x − code·scale| ≤ scale/2
    // per element (round-to-nearest), and every code is in [-127, 127].
    // The declared query ships codes + l1; this is the semantic reason
    // they're USABLE as a 4× smaller corpus.
    val checked = Tables.embeddings(spark, sf)
      .withColumn("scale", greatest(
        array_max(transform(col("embedding"), x => abs(x.cast("double"))))
          / lit(127.0), lit(1e-30)))
      .withColumn("code", transform(col("embedding"),
        x => round(x.cast("double") / col("scale"), 0).cast("int")))
      .select(
        aggregate(col("code"), lit(true),
          (ok, c) => ok && c >= -127 && c <= 127).as("in_range"),
        expr("""aggregate(zip_with(embedding, code,
               |  (x, c) -> abs(cast(x as double) - c * scale)
               |            <= scale / 2 + 1e-12),
               |  true, (ok, b) -> ok and b)""".stripMargin).as("bounded"))
    assert(checked.filter(!col("in_range") || !col("bounded")).count() == 0,
      "every code in [-127,127] and every element within scale/2")
  }

  test("graph_components labels match a brute-force reachability closure") {
    // Same synthesized graph as the declared query, but the expected
    // labels come from an independent in-test union-find over the
    // collected edge list (150 nodes at sf0.001) — a second
    // implementation, not the solver under test.
    val c = Tables.customer(spark, sf).select(col("c_custkey").as("id"))
    val chain = c.filter(col("id") % 13 =!= 0 && col("id") > 0)
      .select(col("id").as("id1"), (col("id") - 1).as("id2"))
    val far = c.as("a").filter(col("id") % 97 === 0 && col("id") > 0)
      .join(c.as("b"), col("b.id") === col("a.id") * 2)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val edges = chain.union(far)
    val got = graft.ops.Components.connectedComponents(c, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: path-compressed union-by-min over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    edges.collect().foreach(r => union(r.getLong(0), r.getLong(1)))
    val ids = c.collect().map(_.getLong(0))
    val want = ids.map(i => i -> find(i)).toMap
    assert(got == want, "solver labels must equal brute-force reachability")
  }

  test("win_sliding_distinct matches the brute-force per-day definition") {
    val e = Tables.events(spark, sf)
      .select(to_date(col("ts_us")).as("day"), col("user_id"))
    val got = SparkEntry.queries("win_sliding_distinct")(spark, sf)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val rows = e.collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = rows.map(_._1).distinct
    val want = days.map { d =>
      d.toString -> rows.collect {
        case (ed, u) if !ed.isAfter(d) && !ed.isBefore(d.minusDays(6)) => u
      }.distinct.size.toLong
    }.toMap
    assert(got == want, "fan-out form must equal the brute-force window")
  }

  test("agg_auc rank-sum equals the quadratic pair-counting definition") {
    // AUC's definition is P(score_pos > score_neg) + ½·P(tie) over all
    // (pos, neg) pairs — quadratic, which is why the declared query
    // computes the rank-sum form instead. Equality of the two is the
    // entire correctness argument for the estimator (including the
    // average-rank tie adjustment), so check it pairwise at sf0.001.
    val rows = SparkEntry.queries("agg_auc")(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select((col("user_id") % 4).as("seg"), col("value"),
        (col("event_type") === "purchase").as("pos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    rows.foreach { r =>
      val seg = r.getLong(0)
      val ps = ev.collect { case (s, v, true) if s == seg => v }
      val ns = ev.collect { case (s, v, false) if s == seg => v }
      val u2 = ps.iterator.map { p =>
        2L * ns.count(p > _) + ns.count(p == _)
      }.sum
      assert(u2 == r.getLong(3),
        s"seg $seg: pairwise 2U=$u2 != rank-sum ${r.getLong(3)}")
    }
  }

  test("flow_bidir_merge conserves bytes: session sums equal record sums") {
    // The stitch must neither drop nor double-count: Σ(total_ab +
    // total_ba) over the /16 rollup equals the byte sum of every
    // synthesized unidirectional record (forward bytes for all events,
    // reverse bytes for events ≢0 mod 3) — recomputed here from the
    // fixture without the session machinery.
    val out = SparkEntry.queries("flow_bidir_merge")(spark, sf)
      .agg(sum(col("total_ab") + col("total_ba"))).head().getLong(0)
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .select(
        (floor(col("value") * 1000).cast("long") + 64).as("fwd"),
        when(col("event_id") % 3 =!= 0,
          floor(col("value") * 500).cast("long") + 40).otherwise(0L).as("rev"))
      .agg(sum(col("fwd") + col("rev"))).head().getLong(0)
    assert(out == ev, s"stitched byte total $out != record byte total $ev")
  }

  test("eval_ndcg DCG matches a brute-force ranking at sf0.001") {
    // Recompute each probe's DCG@10 from scratch: collect the corpus,
    // rank by (round(cosine,4) DESC, nid) exactly as declared, fold
    // rel/log2(i+1). Pins both the ranking order and the gain formula.
    val got = SparkEntry.queries("eval_ndcg")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val all = Tables.embeddings(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    all.filter(_._1 < 8).foreach { case (qid, qv, qlabel) =>
      val ranked = all.filter(_._1 != qid)
        .map { case (nid, nv, nl) =>
          (BigDecimal(cos(qv, nv)).setScale(4, BigDecimal.RoundingMode.HALF_UP),
            nid, nl == qlabel) }
        .sortBy { case (sim, nid, _) => (-sim, nid) }
        .take(10)
      val dcg = ranked.zipWithIndex.map { case ((_, _, rel), i) =>
        if (rel) 1.0 / (math.log(i + 2.0) / math.log(2.0)) else 0.0
      }.sum
      val nRel = ranked.count(_._3).toLong
      assert(got(qid)._1 == nRel, s"qid $qid n_rel")
      assert(math.abs(got(qid)._2 -
        BigDecimal(dcg).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        <= 1e-9, s"qid $qid dcg ${got(qid)._2} vs $dcg")
    }
  }

  test("win_median matches brute-force trailing frames at sf0.001") {
    // Rows tied on the full sort key may validly swap positions (their
    // quantities are equal, so any frame's MULTISET is invariant — the
    // query's determinism argument), so the comparison is per-key
    // multiset-of-medians, not per-row.
    val got = SparkEntry.queries("win_median")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)),
        r.getDouble(4)))
    val gotByKey = got.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    val want = got.map(_._1).groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy { case (_, ok, ln, q) => (ok, ln, q) }
      ordered.zipWithIndex.map { case (key, i) =>
        val frame = ordered.slice(math.max(0, i - 3), i + 1).map(_._4).sorted
        val med =
          if (frame.length % 2 == 1) frame(frame.length / 2).toDouble
          else (frame(frame.length / 2 - 1) + frame(frame.length / 2)) / 2.0
        key -> med
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(gotByKey.keySet == want.keySet)
    gotByKey.foreach { case (k, meds) =>
      assert(meds == want(k), s"$k got=$meds want=${want(k)}")
    }
  }

  test("observe() metrics ride a declared query without a second job") {
    // The production-monitoring surface: Dataset.observe attaches
    // accumulator-backed metrics (row counts, null counts, sums) to an
    // EXISTING query's execution — the dq_check family's counters for
    // free, with no second scan and no extra action. Pin the API works
    // against this Spark version and that the observed values match an
    // independently-computed aggregate.
    import org.apache.spark.sql.Observation
    val obs = Observation("graft_dq")
    val df = Tables.orders(spark, sf)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("n_nonpos"),
        count(when(col("o_orderpriority").isNull, 1)).as("n_null_prio"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val statusTotal = df.collect().map(_.getLong(1)).sum
    val m = obs.get
    assert(m("n_rows") == statusTotal,
      s"observed ${m("n_rows")} != aggregated $statusTotal")
    assert(m("n_nonpos") == 0L && m("n_null_prio") == 0L, m.toString)
  }

  test("ts_outlier_mad thresholds are exact (no float drift possible)") {
    // The exactness argument the query's comment makes, checked: every
    // med is an exact half (med_x2 integral reconstructs it), every mad
    // an exact quarter, and recomputing the outlier count from those
    // reconstructed exact values reproduces the declared n_out.
    val res = SparkEntry.queries("ts_outlier_mad")(spark, sf).collect()
    val e = Tables.events(spark, sf).select(col("event_type"),
      floor(col("value") * 1000000).cast("bigint").as("v"))
      .collect().groupBy(_.getString(0))
    res.foreach { r =>
      val (et, medX2, madX4, nOut) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val med = medX2 / 2.0
      val mad = madX4 / 4.0
      val vs = e(et).map(_.getLong(1))
      val recount = vs.count(v => math.abs(v - med) > 3.5 * mad)
      assert(recount == nOut, s"$et: recomputed $recount != declared $nOut")
    }
  }
}
