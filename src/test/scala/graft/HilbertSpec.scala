package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Hilbert

/** The Hilbert transform's defining properties, pinned on the reference
  * implementation, plus equality of the unrolled column form with the
  * reference — together these prove `layout_hilbert` computes a genuine
  * Hilbert curve, not merely something the oracle happens to agree with
  * (the oracle replays the same recurrence, so a shared algebra bug
  * would pass parity; bijectivity + unit-step adjacency cannot both
  * hold for a wrong curve).
  */
class HilbertSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("reference is a bijection onto 0..n²-1 with unit-step adjacency (32×32)") {
    val bits = 5
    val side = 1 << bits
    val cells = for (x <- 0 until side; y <- 0 until side)
      yield ((x.toLong, y.toLong), Hilbert.reference(x, y, bits))
    // bijection: every curve position hit exactly once
    assert(cells.map(_._2).sorted == (0L until side.toLong * side).toVector)
    // THE Hilbert property (Morton fails it): consecutive curve
    // positions are grid-adjacent — |Δx| + |Δy| == 1, every step.
    val byD = cells.map { case (xy, dd) => dd -> xy }.toMap
    (1 until side * side).foreach { dd =>
      val (x0, y0) = byD(dd.toLong - 1)
      val (x1, y1) = byD(dd.toLong)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"jump at d=$dd: ($x0,$y0) -> ($x1,$y1)")
    }
  }

  test("unrolled column form and native expression both equal the reference (16-bit sample)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)) ++
      Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L))
    // three independent formulations of the recurrence must agree:
    // plain Scala (reference), unrolled built-in columns (withIndex),
    // and the production codegen expression (hilbert_index).
    val df = Hilbert.withIndex(pts.toDF("x", "y"), "x", "y", 16, "unrolled")
      .withColumn("native", org.apache.spark.sql.graft.native
        .hilbert_index(col("x"), col("y"), 16))
    val got = df.select("x", "y", "unrolled", "native")
      .as[(Long, Long, Long, Long)].collect()
    got.foreach { case (x, y, u, nv) =>
      val ref = Hilbert.reference(x, y, 16)
      assert(u == ref && nv == ref, s"mismatch at ($x,$y): unrolled=$u native=$nv ref=$ref")
    }
    // and the 32-bit index space is actually exercised at the corners
    assert(got.map(_._3).max > (1L << 30))
  }
}
