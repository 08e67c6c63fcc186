package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** ops.PageRank — the parameterized-iterations library form of
  * graph_pagerank. The declared query (3 rounds) stays oracle-gated;
  * these tests cover what the oracle can't: deep iteration counts
  * surviving the analyzer (lineage truncation) and exact integer
  * fixpoints the arithmetic contract promises.
  */
class PageRankSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("12 iterations: bounded plan, exact uniform fixpoint on a cycle") {
    import spark.implicits._
    // Directed 5-cycle: od = 1 everywhere, so the uniform vector is an
    // EXACT integer fixpoint — r = 150e9 div 5 + (85 · (1e12 div 5))
    // div 100 = 30e9 + 170e9 = 200e9 = 1e12 div 5, every round. 12
    // rounds must return exactly that (any drift = arithmetic bug), and
    // the block-checkpointing (every 8 rounds here → one barrier at
    // round 8) must keep the final plan bounded at one ≤8-round block
    // rather than 12 nested rounds; the run-time bound is the
    // regression canary for lineage discipline.
    val edges = (0L until 5L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
    val t0 = System.nanoTime()
    val r = graft.ops.PageRank.run(edges, iterations = 12)
    val got = r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val dt = (System.nanoTime() - t0) / 1e9
    assert(got == (0L until 5L).map(_ -> 200000000000L).toMap)
    // Bounded lineage: the returned plan hangs off the round-8
    // checkpoint leaf — 4 rounds deep, independent of total iterations.
    val all = r.queryExecution.analyzed.numberedTreeString.linesIterator.size
    val tight = graft.ops.PageRank.run(edges, iterations = 4)
      .queryExecution.analyzed.numberedTreeString.linesIterator.size
    assert(all <= tight + 10, // the +10 allows the checkpoint leaf nodes
      s"12-round plan ($all lines) should match a 4-round block ($tight lines)")
    assert(dt < 120, s"12 rounds took ${dt}s — analyzer blow-up?")
  }

  test("hub graph: sinks accumulate, sources share the teleport floor") {
    import spark.implicits._
    // 2→1, 3→1, 4→1. After round 1: r(1) = 150e9 div 4 + 85·(3·250e9)
    // div 100 = 37.5e9 + 637.5e9; the leaves keep only the teleport
    // term. Exact integers both rounds — assert the round-2 values.
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val got = graft.ops.PageRank.run(edges, iterations = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val leaf2 = 37500000000L // 150e9 div 4 (no inbound)
    val hub2 = 37500000000L + (85L * (3L * leaf2)) / 100L
    assert(got(2L) == leaf2 && got(3L) == leaf2 && got(4L) == leaf2)
    assert(got(1L) == hub2)
  }

  test("0 iterations returns the uniform initial vector") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = graft.ops.PageRank.run(edges, iterations = 0)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == Map(1L -> 333333333333L, 2L -> 333333333333L,
      3L -> 333333333333L))
  }
}
