package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the iterative BPE trainer — the laws the DuckDB
  * hash gate can state but not explain: pair counts are the zip count
  * (ALL adjacent positions — "aaaa" counts (a,a) three times), merges
  * apply greedily left-to-right non-overlapping ("aaaa" → two "aa"
  * tokens, not three), argmax ties break lexicographically, and the
  * whole loop matches a sequential reference implementation on a
  * seeded corpus.
  */
class BpeTrainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def run(texts: Seq[String], rounds: Int): Seq[(Int, String, String, Long, Long)] = {
    import spark.implicits._
    graft.ops.BpeTrainer.merges(texts.toDF("text"), rounds)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
  }

  /** Sequential reference BPE: the Sennrich trainer over a (word, f)
    * vocab — zip pair counts, (n DESC, a, b) argmax, greedy
    * left-to-right merge. Returns (round, p1, p2, n_occ, tot_tokens).
    */
  private def reference(texts: Seq[String], rounds: Int): Seq[(Int, String, String, Long, Long)] = {
    var vocab: Map[Vector[String], Long] = texts
      .flatMap(_.split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong
      }
    (1 to rounds).flatMap { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (t, f) =>
        t.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) None
      else {
        val ((a, b), n) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        vocab = vocab.map { case (t, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < t.size) {
            if (i + 1 < t.size && t(i) == a && t(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += t(i); i += 1 }
          }
          out.result() -> f
        }
        val tot = vocab.map { case (t, f) => t.size * f }.sum
        Some((r, a, b, n, tot))
      }
    }
  }

  test("zip counts vs greedy merges: 'aaaa' counts (a,a) three times but merges twice") {
    val got = run(Seq("aaaa"), 2)
    assert(got == Seq(
      (1, "a", "a", 3L, 2L),   // count = all adjacent; merge → [aa, aa]
      (2, "aa", "aa", 1L, 1L)), got)
  }

  test("argmax ties break lexicographically on (a, b)") {
    // xy and xz both count 1 → (x,y) wins; then (x,z).
    val got = run(Seq("xy xz"), 2)
    assert(got == Seq(
      (1, "x", "y", 1L, 3L),
      (2, "x", "z", 1L, 2L)), got)
  }

  test("an exhausted vocab (no pairs left) emits no further rounds") {
    val got = run(Seq("ab"), 3)
    assert(got == Seq((1, "a", "b", 1L, 1L)), got)
  }

  test("5 rounds on a seeded corpus == the sequential reference trainer") {
    val rnd = new scala.util.Random(13)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "ab", "abab", "ababab",
      "banana", "bandana", "cabana")
    val texts = (0 until 60).map { _ =>
      (0 until (3 + rnd.nextInt(8))).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")
    }
    assert(run(texts, 5) == reference(texts, 5))
  }

  /** Sequential reference ENCODE: replay the reference trainer's merges
    * and read each surviving word's token count off the final vocab. */
  private def referenceVocab(texts: Seq[String], rounds: Int): Map[String, Long] = {
    var vocab: Map[Vector[String], Long] = texts
      .flatMap(_.split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong
      }
    (1 to rounds).foreach { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (t, f) =>
        t.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), _) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        vocab = vocab.map { case (t, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < t.size) {
            if (i + 1 < t.size && t(i) == a && t(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += t(i); i += 1 }
          }
          out.result() -> f
        }
      }
    }
    vocab.map { case (t, _) => t.mkString -> t.size.toLong }
  }

  test("encodedVocab == the sequential reference encode, and conserves the trainer's token total") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val words = Vector("alpha", "beta", "gamma", "delta", "ab", "abab",
      "banana", "bandana", "cabana", "anna", "nana")
    val texts = (0 until 50).map { _ =>
      (0 until (2 + rnd.nextInt(6))).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")
    }
    val got = graft.ops.BpeTrainer.encodedVocab(texts.toDF("text"), 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == referenceVocab(texts, 4))
    // Conservation: the encode-side token counts re-derive the trainer's
    // round-4 corpus total (Σ f·ntok over the same vocab) — the two
    // views of the final state can't drift apart.
    val wf = texts.flatMap(_.split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val totFromEncode = wf.map { case (w, f) => f * got(w) }.sum
    assert(totFromEncode == run(texts, 4).last._5)
  }
}
