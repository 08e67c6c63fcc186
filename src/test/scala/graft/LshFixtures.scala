package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded planted-near-duplicate corpora for the sign-LSH recall edges
  * at the production design point (τ ≈ 0.95). The fixture tables'
  * random embeddings hold no high-similarity pairs, so these corpora
  * plant them: seeded unit vectors plus replicas rotated to a controlled
  * cosine in [0.952, 0.985].
  *
  * MEASURED (r13, deterministic pipelines on these corpora — exact
  * counts, not samples; truth completeness brute-verified at both sizes:
  * the planted pairs are exactly the ≥0.95 set, max non-planted cosine
  * 0.538 / 0.663):
  *
  *   N=2000  nbits=6 probe=1, 40 planted pairs:
  *     T=1 recall 39/40 · T=2..8 recall 40/40  → edge T=2
  *   N=16000 nbits=9 probe=1, 40 planted pairs:
  *     T=1 recall 36/40 · T=2..8 recall 40/40  → edge T=2
  *
  * SketchesSpec pins these edges; PerfGuardSpec times admission on a
  * planted corpus.
  */
object LshFixtures {

  /** Deterministic planted-near-dup corpus: `nBase` seeded gaussian
    * unit vectors (ids 0..nBase-1) plus `nPlant` replicas (ids nBase+i,
    * i < nPlant) each rotated an exact angle off base vector i so that
    * cos(base_i, replica_i) lands in [0.952, 0.985] — all strictly
    * above the τ = 0.95 gate with float-rounding margin. Returns the
    * corpus (vec_id, embedding) and the planted truth pairs (id1 <
    * id2). Non-planted cosines at 64 dims stay far below 0.95
    * (brute-verified; max observed 0.77 at N=16000).
    */
  def plantedCorpus(spark: SparkSession, nBase: Int, nPlant: Int,
      dim: Int = 64, seed: Long = 13L): (DataFrame, Seq[(Long, Long)]) = {
    require(nPlant <= nBase)
    val rnd = new scala.util.Random(seed)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val base = Array.fill(nBase)(unit())
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    base.zipWithIndex.foreach { case (v, i) =>
      rows += ((i.toLong, v.map(_.toFloat)))
    }
    (0 until nPlant).foreach { i =>
      val v = base(i)
      // Orthonormalize a fresh gaussian against v (Gram-Schmidt), then
      // rotate: v' = cosθ·v + sinθ·u ⇒ cos(v, v') = cosθ exactly.
      val g = unit()
      val dot = v.zip(g).map { case (a, b) => a * b }.sum
      val o = g.zip(v).map { case (b, a) => b - dot * a }
      val on = math.sqrt(o.map(x => x * x).sum)
      val u = o.map(_ / on)
      val c = 0.952 + 0.033 * rnd.nextDouble() // target cosine
      val s = math.sqrt(1.0 - c * c)
      val rep = v.zip(u).map { case (a, b) => (c * a + s * b).toFloat }
      rows += (((nBase + i).toLong, rep))
    }
    import spark.implicits._
    val df = rows.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val truth = (0 until nPlant).map(i => (i.toLong, (nBase + i).toLong))
    (df, truth)
  }
}
