package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-16 additions: the isotonic reliability
  * fit really is pool-adjacent-violators (hand fixture with a known
  * pooling, then a brute exact-BigInt sequential PAVA replayed against
  * the declared min-max form on the real events fixture), and its
  * monotonicity/idempotence contracts hold.
  */
class Extra26Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Textbook sequential PAVA over (n, np) bins in exact rational
    * arithmetic: maintain a stack of pooled blocks; a new bin merges
    * backwards while its rate is below the previous block's
    * (BigInt cross-multiplied comparison — no doubles anywhere).
    * Returns fitted nano-units per input bin.
    */
  private def brutePava(bins: Seq[(Long, Long)]): Seq[Long] = {
    final case class Block(n: BigInt, np: BigInt, size: Int)
    val stack = scala.collection.mutable.Stack.empty[Block]
    bins.foreach { case (n, np) =>
      var b = Block(BigInt(n), BigInt(np), 1)
      // pool while rate(prev) > rate(b):  p.np/p.n > b.np/b.n
      while (stack.nonEmpty && stack.top.np * b.n > b.np * stack.top.n) {
        val p = stack.pop()
        b = Block(p.n + b.n, p.np + b.np, p.size + b.size)
      }
      stack.push(b)
    }
    stack.toSeq.reverse.flatMap { b =>
      val units = (b.np * BigInt(1000000000) / b.n).toLong
      Seq.fill(b.size)(units)
    }
  }

  private def fitOf(bins: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
    import spark.implicits._
    // reliabilityOf consumes raw (cu, pos) rows; synthesize each bin b
    // as n rows at confidence cu = b·1e8 (+1 to stay inside the bin),
    // np of them positive.
    val rows = bins.flatMap { case (bin, n, np) =>
      (0L until n).map(i => (bin * 100000000L + 1L, if (i < np) 1L else 0L))
    }
    graft.queries.Extra26.reliabilityOf(rows.toDF("cu", "pos"))
      .select("bin", "fitted_units").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("reliabilityOf pools adjacent violators exactly (hand fixture)") {
    // Observed rates 0/4, 3/4, 2/4 → bins 1,2 violate monotonicity and
    // pool to 5/8: fitted = [0, 625000000, 625000000].
    assert(fitOf(Seq((0L, 4L, 0L), (1L, 4L, 3L), (2L, 4L, 2L))) ==
      Seq((0L, 0L), (1L, 625000000L), (2L, 625000000L)))
    // Cascading pool: 2/2, 0/2, 1/2 → the whole series pools to 3/6.
    assert(fitOf(Seq((0L, 2L, 2L), (1L, 2L, 0L), (2L, 2L, 1L))) ==
      Seq((0L, 500000000L), (1L, 500000000L), (2L, 500000000L)))
    // Already monotone → idempotent (fit == observed).
    assert(fitOf(Seq((0L, 4L, 1L), (1L, 4L, 2L), (2L, 4L, 4L))) ==
      Seq((0L, 250000000L), (1L, 500000000L), (2L, 1000000000L)))
    // Sparse bins (gaps) pool across the PRESENT-bin sequence.
    assert(fitOf(Seq((1L, 2L, 2L), (5L, 2L, 0L), (9L, 2L, 2L))) ==
      Seq((1L, 500000000L), (5L, 500000000L), (9L, 1000000000L)))
  }

  test("declared min-max form == brute sequential PAVA on the events fixture") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("eval_reliability")(spark, d)
      .select("bin", "n", "n_pos", "fitted_units").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val want = brutePava(got.map(r => (r._2, r._3)).toIndexedSeq)
    assert(got.map(_._4).toSeq == want,
      s"min-max fit ${got.map(_._4).toSeq} != brute PAVA $want")
    // The fitted sequence is non-decreasing in bin order by contract.
    assert(got.map(_._4).toSeq == got.map(_._4).toSeq.sorted)
  }

  test("ndcgOf: hand ranks, pessimistic ties, brute parity on the events fixture") {
    import spark.implicits._
    // seg 0 — distinct scores, positives at ranks 1 and 3:
    //   dcg = w1 + w3 = 1.5e9, idcg = cumW(2) = 1630929753,
    //   ndcg_units = 1.5e18 div 1630929753 = 919720789.
    // seg 1 — a TIED top pair carrying one positive: pessimistic
    //   placement puts it at rank 2, so dcg = cumW(2) − cumW(1) =
    //   630929753 and idcg = cumW(1) → ndcg_units = 630929753.
    // seg 2 — no positives: every unit field 0 (nullif guard).
    val e = Seq(
      (0L, 9.0, 1L), (0L, 8.0, 0L), (0L, 7.0, 1L),
      (1L, 5.0, 1L), (1L, 5.0, 0L), (1L, 1.0, 0L),
      (2L, 3.0, 0L), (2L, 2.0, 0L)
    ).toDF("seg", "score", "pos")
    val got = graft.queries.Extra26.ndcgOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toList
    assert(got == List(
      (0L, 1500000000L, 1630929753L, 919720789L),
      (1L, 630929753L, 1000000000L, 630929753L),
      (2L, 0L, 0L, 0L)), got.toString)
    // Brute parity on real data: per segment, sort rows by
    // (score DESC, pos ASC) — the pessimistic tie order — and fold the
    // BigInt weights sequentially; must equal the declared query.
    val d = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, d)
      .select((col("user_id") % 4).as("seg"), col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val w10 = graft.queries.Extra26.ndcgCumW
    def dcgOf(rs: Seq[(Long, Double, Long)]): Long =
      rs.sortBy(t => (-t._2, t._3)).take(10).zipWithIndex
        .collect { case ((_, _, 1L), i) => w10(i + 1) - w10(i) }.sum
    val brute = rows.groupBy(_._1).map { case (seg, rs) =>
      val dcg = dcgOf(rs.toSeq)
      val np = rs.count(_._3 == 1L)
      val idcg = w10(math.min(np, 10))
      (seg, dcg, idcg,
        if (idcg == 0) 0L else (BigInt(dcg) * 1000000000L / idcg).toLong)
    }.toList.sortBy(_._1)
    val declared = SparkEntry.queries("eval_ndcg_exact")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toList
    assert(declared == brute, s"declared $declared != brute $brute")
  }

  private def louvainRow(edges: Seq[(Long, Long)], labels: Seq[(Long, Long)])
      : (Long, Long, Long, Long, Long) = {
    import spark.implicits._
    val e = (edges ++ edges.map(_.swap)).toDF("u", "v")
    val lab = labels.toDF("node", "label")
    val r = graft.queries.Extra26.louvain1Of(e, lab).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("louvain1Of: the misassigned bridge node takes the strictly-improving move") {
    // Two triangles {1,2,3} and {4,5,6} plus bridge 3–4; node 4 starts
    // mislabeled with the LEFT community. Hand integers (m2 = 14):
    // only node 4 has a positive move — ΔQ·m2²/2 = (2−1)·14 −
    // 3·(4−10+3) = 23 — and taking it lifts q_num 24 → 70 (= 24+2·23:
    // a single move composes exactly). Every other node's best
    // alternative is negative (node 5's is −16), so nothing else moves.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val labels = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 10L,
      5L -> 20L, 6L -> 20L)
    assert(louvainRow(edges, labels) == ((14L, 1L, 23L, 24L, 70L)))
  }

  test("louvain1Of: an already-optimal labeling is a fixed point") {
    // Disconnected triangles, each its own community: every candidate
    // move is strictly negative, so the sweep is the identity and the
    // remeasured modularity equals the input's.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L))
    val labels = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L,
      5L -> 20L, 6L -> 20L)
    val (m2, moved, gain, qb, qa) = louvainRow(edges, labels)
    assert(m2 == 12L && moved == 0L && gain == 0L && qa == qb)
  }
}
