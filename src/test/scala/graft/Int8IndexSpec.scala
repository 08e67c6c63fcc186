package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Int8Index

/** Containment pins for the IVF-SQ8 index (the IvfPqSpec discipline):
  * the declared sim_ann_int8 parameters AND one notch weaker must
  * contain the true per-query top-10 on each fixture tier, and the
  * measured edges below them must actually miss — the declared point
  * sits one notch above MEASURED edges (AnnSweep INT8 grid, r13):
  * cell admission binds, not the shortlist — rc=2 misses at sf0.001 at
  * every swept qp ≤ 7, rc=3/qp=4 misses at sf0.01, rc=3/qp≥5 is green
  * everywhere, and shortlist 10% (the lowest swept) is green once
  * cells admit.
  */
class Int8IndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(8).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def truth(embs: DataFrame): Set[(Long, Long)] = {
    val e = embs.select(col("vec_id"), col("embedding"))
    val q = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val pairs = q.join(
        broadcast(e.select(col("vec_id").as("nb_id"), col("embedding").as("xe"))),
        col("nb_id") =!= col("q_id"))
      .select(col("q_id"), col("nb_id"),
        round(org.apache.spark.sql.graft.native.cosine_similarity(
          col("qe"), col("xe")), 4).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("nb_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def got(embs: DataFrame, rc: Int, qp: Int,
      shortlist: Int): Set[(Long, Long)] =
    Int8Index.search(embs, nq = 8, kCells = 16, rc = rc, qp = qp,
        shortlist = shortlist, topK = 10, refine = 1)
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // Declared shortlist = 25% of N (the sim_ann_int8 formula); the
  // headroom notch is 10% — the lowest swept fraction, still green.
  private def s25(n: Long) = math.max(64L, (n + 3) / 4).toInt
  private def s10(n: Long) = math.max(64L, (n + 9) / 10).toInt

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"$sf: declared (rc=3, qp=6, 25%) AND the weaker notches " +
      "(qp=5; shortlist 10%) contain the true top-10") {
      val embs = Tables.embeddings(spark, s"/root/testdata/$sf")
      val n = embs.count()
      val t = truth(embs)
      assert((t -- got(embs, rc = 3, qp = 6, s25(n))).isEmpty, "declared missed")
      assert((t -- got(embs, rc = 3, qp = 5, s25(n))).isEmpty, "qp=5 notch missed")
      assert((t -- got(embs, rc = 3, qp = 6, s10(n))).isEmpty, "10% notch missed")
    }
  }

  test("the measured cell-admission edges actually miss: rc=2 at sf0.001, " +
    "rc=3/qp=4 at sf0.01 — the declared point is measured, not guessed") {
    val e1 = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert((truth(e1) -- got(e1, rc = 2, qp = 6, s25(e1.count()))).nonEmpty,
      "rc=2 unexpectedly recall-complete at sf0.001 — re-sweep and tighten")
    val e2 = Tables.embeddings(spark, "/root/testdata/sf0.01")
    assert((truth(e2) -- got(e2, rc = 3, qp = 4, s25(e2.count()))).nonEmpty,
      "qp=4 unexpectedly recall-complete at sf0.01 — re-sweep and tighten")
  }

  // ---- filtered search (sim_ann_filtered): label=1 pre-filter ----

  private def ftruth(embs: DataFrame): Set[(Long, Long)] = {
    val q = embs.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val cand = embs.filter(col("label") === 1)
      .select(col("vec_id").as("nb_id"), col("embedding").as("xe"))
    val pairs = q.join(broadcast(cand), col("nb_id") =!= col("q_id"))
      .select(col("q_id"), col("nb_id"),
        round(org.apache.spark.sql.graft.native.cosine_similarity(
          col("qe"), col("xe")), 4).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("nb_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def fgot(embs: DataFrame, rc: Int, qp: Int,
      shortlist: Int): Set[(Long, Long)] =
    Int8Index.search(embs, nq = 8, kCells = 16, rc = rc, qp = qp,
        shortlist = shortlist, topK = 10, refine = 1,
        meta = Seq("label"), candFilter = Some(col("label") === 1))
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"$sf: filtered search declared (rc=4, qp=11) AND the weaker " +
      "notch (qp=10) contain the true FILTERED top-10") {
      val embs = Tables.embeddings(spark, s"/root/testdata/$sf")
      val n = embs.count()
      val t = ftruth(embs)
      assert((t -- fgot(embs, rc = 4, qp = 11, s25(n))).isEmpty, "declared missed")
      assert((t -- fgot(embs, rc = 4, qp = 10, s25(n))).isEmpty, "qp=10 notch missed")
    }
  }

  test("the filtered edge is WIDER than the unfiltered one and measured: " +
    "rc=4/qp=9 misses at sf0.001 where unfiltered rc=3/qp=5 is green") {
    // The selective filter thins each probed cell's admissible
    // candidates, so the filtered gate needs wider probing — the
    // declared qp=11 is one notch above a real, measured edge (AnnSweep
    // FANN grid), not a structural given.
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = embs.count()
    assert((ftruth(embs) -- fgot(embs, rc = 4, qp = 9, s25(n))).nonEmpty,
      "rc=4/qp=9 unexpectedly recall-complete on the filtered truth — " +
        "re-sweep and tighten the declared margin note")
  }

  // ---- conjunctive filtered search (sim_ann_filtered2, r14) ----

  private def embsMeta(sf: String): DataFrame = {
    val d = s"/root/testdata/$sf"
    Tables.embeddings(spark, d)
      .join(broadcast(Tables.documents(spark, d)
        .select(col("doc_id").as("vec_id"), col("n_chars"))), "vec_id")
  }
  private def conjPred = col("label") === 1 && col("n_chars").between(200, 400)

  private def f2truth(embs: DataFrame): Set[(Long, Long)] = {
    val q = embs.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val cand = embs.filter(conjPred)
      .select(col("vec_id").as("nb_id"), col("embedding").as("xe"))
    val pairs = q.join(broadcast(cand), col("nb_id") =!= col("q_id"))
      .select(col("q_id"), col("nb_id"),
        round(org.apache.spark.sql.graft.native.cosine_similarity(
          col("qe"), col("xe")), 4).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("nb_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def f2got(embs: DataFrame, rc: Int, qp: Int,
      shortlist: Int): Set[(Long, Long)] =
    Int8Index.search(embs, nq = 8, kCells = 16, rc = rc, qp = qp,
        shortlist = shortlist, topK = 10, refine = 1,
        meta = Seq("label", "n_chars"), candFilter = Some(conjPred))
      .select("q_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"$sf: conjunctive-filtered search declared (rc=4, qp=11) AND " +
      "the weaker notch (qp=10) contain the true conj-filtered top-10") {
      val embs = embsMeta(sf)
      val n = embs.count()
      val t = f2truth(embs)
      assert(t.nonEmpty, "degenerate conj filter — no admissible neighbors")
      assert((t -- f2got(embs, rc = 4, qp = 11, s25(n))).isEmpty, "declared missed")
      assert((t -- f2got(embs, rc = 4, qp = 10, s25(n))).isEmpty, "qp=10 notch missed")
    }
  }

  test("the conjunctive edge is real and measured: rc=4/qp=9 misses at sf0.001") {
    // ~4% selectivity thins probed cells further than label-only's ~9%
    // — the declared qp=11 sits one notch above the AnnSweep FANN2
    // edge (rc=4/qp=10 first green at the binding fixture).
    val embs = embsMeta("sf0.001")
    val n = embs.count()
    assert((f2truth(embs) -- f2got(embs, rc = 4, qp = 9, s25(n))).nonEmpty,
      "rc=4/qp=9 unexpectedly recall-complete on the conj-filtered truth — " +
        "re-sweep and tighten the declared margin note")
  }

  test("staged search == fresh search, on the build call AND the read-back call") {
    // The declared query runs searchStaged; call 2 takes the parquet
    // read-back path (tinyint codes round-tripped through the staged
    // files) — a type drift there would only surface in the oracle gate.
    val sf = "/root/testdata/sf0.001"
    val embs = Tables.embeddings(spark, sf)
    val n = embs.count()
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val fresh = rows(Int8Index.search(embs, nq = 8, kCells = 16, rc = 3,
      qp = 6, shortlist = s25(n), topK = 10, refine = 1))
    for (call <- 1 to 2) {
      val staged = rows(Int8Index.searchStaged(embs, tag = s"int8spec_$sf",
        nq = 8, kCells = 16, rc = 3, qp = 6, shortlist = s25(n), topK = 10,
        refine = 1))
      assert(staged == fresh, s"Int8Index staged call $call diverged")
    }
  }

  test("the index stores EXACTLY the embed_quantize record (shared formula)") {
    // sim_ann_int8's storage claim: codes in the staged index are the
    // declared quantizer's codes. Both sides bind Int8Index.int8Code,
    // so this is a consistency pin on the shared column expression —
    // including the all-zero-vector guard (scale floored at 1e-30 →
    // codes all 0, scored 0.0 by the kernel's zero-norm branch).
    import spark.implicits._
    val embs = Seq(
      (0L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(-127.0f, 127.0f, 63.5f, -63.5f)))
      .toDF("vec_id", "embedding")
    val codes = embs.select(col("vec_id"),
      Int8Index.int8Code(col("embedding")).as("code"))
      .orderBy("vec_id").collect()
      .map(r => r.getSeq[Byte](1).toSeq)
    assert(codes(0) == Seq[Byte](127, -64, 32, 0), codes(0))
    assert(codes(1) == Seq[Byte](0, 0, 0, 0), codes(1))
    assert(codes(2) == Seq[Byte](-127, 127, 64, -64), codes(2))
  }
}
