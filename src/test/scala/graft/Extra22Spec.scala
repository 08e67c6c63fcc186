package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the DSIR importance filter — the laws the hash gate
  * states but can't explain: the weight really is a log-likelihood
  * ratio (target-vocab docs above raw-exclusive docs, margins growing
  * with length), and the relative admission rule really selects the
  * target-like side of the corpus.
  */
class Extra22Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("DSIR separation: target-vocab docs outrank raw-exclusive docs; admission splits them") {
    import spark.implicits._
    // 4 target docs over vocab {ta tb tc td}, 4 raw-only docs over the
    // disjoint {rx ry rz rw}. Target tokens then have ct = cr (u_b = 0),
    // so a pure-target doc's per-token weight is kc = ln(Nr+B) −
    // ln(Nt+B) > 0; a raw-only token has ct = 0, u_b = −ln(cr+1) ≪ −kc.
    // The corpus-mean threshold lands between the two bands, so the
    // admission rule admits exactly the target docs. The law is the
    // importance-ratio semantics, independent of the md5 bucketing
    // (collisions only mix counts; the fixture's margins dwarf them).
    val docs = ((0 until 4).map(i => (s"s${i % 2}", i.toLong, "T", "ta tb tc td")) ++
      (4 until 8).map(i => (s"s${i % 2}", i.toLong, "R", "rx ry rz rw")))
      .toDF("source", "doc_id", "lang", "text")
    val a = graft.ops.DsirGate.admissions(docs, col("lang") === "T")
      .collect().map(r => r.getLong(1) -> (r.getLong(3), r.getBoolean(5))).toMap
    assert(a.size == 8)
    (0L until 4L).foreach { i =>
      assert(a(i)._1 > 0 && a(i)._2, s"target doc $i: ${a(i)}")
    }
    (4L until 8L).foreach { i =>
      assert(a(i)._1 < 0 && !a(i)._2, s"raw doc $i: ${a(i)}")
    }
  }

  test("DSIR margin grows with document length (weights sum per token)") {
    import spark.implicits._
    val docs = Seq(
      ("s0", 0L, "T", "ta tb"),
      ("s0", 1L, "T", "ta tb ta tb ta tb"),
      ("s0", 2L, "R", "rx ry"),
      ("s0", 3L, "R", "rx ry rx ry rx ry")).toDF("source", "doc_id", "lang", "text")
    val w = graft.ops.DsirGate.weights(docs, col("lang") === "T")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(w(1L) == 3 * w(0L), s"target: ${w(0L)} vs ${w(1L)}")
    assert(w(3L) == 3 * w(2L), s"raw: ${w(2L)} vs ${w(3L)}")
    assert(w(1L) > 0 && w(3L) < 0)
  }

  test("threshold regrouping identity: the model-side thr == the per-doc-side thr on a random corpus") {
    // admissions derives thr from the 4096-row model relation
    // (Σ_b cr_b·u_b + Nr·kc over Nr); the oracle derives the same
    // integer from the per-document relation (Σwu over Σn_tok). The
    // parity gate proves equality on the three fixtures; this pin
    // proves it corpus-independently on a seeded random corpus with
    // ragged doc lengths, multi-space gaps (empty-token filtering on
    // both sides), and a skewed target share.
    import spark.implicits._
    val rnd = new scala.util.Random(313)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "ta", "tb", "tc", "rx", "ry", "rz", "shared", "pool")
    val docs = (0 until 120).map { i =>
      val n = 1 + rnd.nextInt(12)
      val sep = if (rnd.nextBoolean()) " " else "  "
      (s"s${i % 3}", i.toLong, if (rnd.nextInt(4) == 0) "T" else "R",
        (0 until n).map(_ => words(rnd.nextInt(words.size))).mkString(sep))
    }.toDF("source", "doc_id", "lang", "text")
    val a = graft.ops.DsirGate.admissions(docs, col("lang") === "T")
    val modelThr = a.select("thr").distinct().collect()
    assert(modelThr.length == 1, s"thr not constant: ${modelThr.mkString(",")}")
    val pd = a.agg(
      expr("cast(floor(cast(sum(wu) as double) / cast(sum(n_tok) as double)) as bigint)"))
      .collect()(0).getLong(0)
    assert(modelThr(0).getLong(0) == pd,
      s"regrouping identity broken: model=${modelThr(0).getLong(0)} per-doc=$pd")
  }

  test("eval_avg_precision == the sequential AP definition under pessimistic ties") {
    // Brute reference: sort (score DESC, pos ASC — negatives first in a
    // tie, the pessimistic convention), walk ranks, sum floored
    // nano-unit precision@k at each positive. The declared pipeline
    // must reproduce it exactly — including on a group that is ALL ties
    // and a segment whose top score is a mixed-label tie.
    import spark.implicits._
    def brute(rows: Seq[(Long, Double, Long)]): Map[Long, (Long, Long, Long)] =
      rows.groupBy(_._1).map { case (seg, rs) =>
        val sorted = rs.sortBy(r => (-r._2, r._3)) // score DESC, neg before pos
        var cum = 0L; var units = 0L
        sorted.zipWithIndex.foreach { case ((_, _, pos), i) =>
          if (pos == 1L) {
            cum += 1
            units += math.floor(cum * 1000000000.0 / (i + 1)).toLong
          }
        }
        seg -> (sorted.size.toLong, cum, units)
      }
    val data = Seq(
      (0L, 0.9, 1L), (0L, 0.9, 0L), (0L, 0.9, 1L), // mixed tie at the top
      (0L, 0.5, 0L), (0L, 0.3, 1L),
      (1L, 0.7, 0L), (1L, 0.7, 0L), (1L, 0.7, 0L), // all-negative tie
      (1L, 0.2, 1L),
      (2L, 0.4, 1L), (2L, 0.4, 1L), (2L, 0.4, 1L), // all-positive tie
      (3L, 0.8, 0L), (3L, 0.1, 0L)) // ZERO positives — AP undefined
    val res = graft.queries.Extra22.avgPrecisionOf(
        data.toDF("seg", "score", "pos")).collect()
    val got = res.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == brute(data), s"got $got\nwant ${brute(data)}")
    // ADVICE r13 guard: the zero-positive segment must emit NULL ap
    // (not NaN, not 0) while positive segments emit a value.
    val apBySeg = res.map(r => r.getLong(0) -> r.isNullAt(4)).toMap
    assert(apBySeg(3L), "seg 3 (no positives) must have NULL ap")
    assert(!apBySeg(0L) && !apBySeg(2L), "positive segs must have non-null ap")
  }

  test("relative admission is non-degenerate on the shared-vocab fixture") {
    // The reason the rule is relative: the sf fixtures share ONE word
    // pool across languages, so ABSOLUTE weights are all negative
    // (Laplace-shifted) and wu > 0 admits nothing — while the per-token
    // ranking still separates English. The declared rule must admit a
    // strict, non-empty subset, and the admitted set must be richer in
    // the target language than the rejected set.
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("source", "doc_id", "lang", "text")
    val a = graft.ops.DsirGate.admissions(docs, col("lang") === "en")
      .select("doc_id", "admitted").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val n = a.size
    val adm = a.count(_._2)
    assert(adm > 0 && adm < n, s"degenerate admission: $adm of $n")
    val lang = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def enShare(ids: Iterable[Long]): Double =
      ids.count(lang(_) == "en").toDouble / ids.size
    val admIds = a.filter(_._2).keys
    val rejIds = a.filterNot(_._2).keys
    assert(enShare(admIds) > enShare(rejIds),
      s"admitted en-share ${enShare(admIds)} <= rejected ${enShare(rejIds)}")
  }
}
