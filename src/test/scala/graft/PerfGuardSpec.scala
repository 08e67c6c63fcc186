package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-admission throughput REGRESSION GUARD (VERDICT r15 #8):
  * AdmitRateProbe's measured rates (DSIR quality gate 20,912 rows/s,
  * semantic LSH gate 12,665 rows/s at batch 16k on the reference box)
  * are recorded in that probe's scaladoc but nothing failed if a later
  * change quartered them. These tests assert a COARSE floor — ≥ 25% of
  * the recorded rate, best-of-3 batches — loose enough that scheduler
  * jitter cannot trip it, tight enough that a structural regression
  * (a lost broadcast, a per-batch re-stage, a join where an expression
  * belongs) fails loudly.
  *
  * OPT-IN by environment: `GRAFT_PERF_SPECS=1 sbt test` runs them;
  * otherwise they cancel (assume), so the default CI run carries zero
  * flake risk from a loaded box. The floors assume ≥ 8 usable cores.
  */
class PerfGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val enabled = sys.env.get("GRAFT_PERF_SPECS").contains("1")

  lazy val spark: SparkSession = GraftSession.builder(16).getOrCreate()

  override def afterAll(): Unit = if (enabled) spark.stop()

  /** Best-of-n batch rate through a started streaming query. */
  private def bestRate(n: Int, size: Int)(runBatch: () => Unit): Double = {
    val times = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      runBatch()
      (System.nanoTime() - t0) / 1e9
    }
    size / times.min
  }

  test("DSIR quality gate sustains >= 25% of its recorded 20.9k rows/s") {
    assume(enabled, "set GRAFT_PERF_SPECS=1 to run perf floor guards")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "lang", "text").persist()
    val (m, kc, thr) = graft.ops.DsirGate.model(docs, col("lang") === "en")
    val texts = docs.select("text").collect().map(_.getString(0))
    val rnd = new scala.util.Random(17)
    var nid = 9000000L
    def batch(size: Int): Seq[(Long, String)] =
      (0 until size).map { _ =>
        val id = nid; nid += 1; (id, texts(rnd.nextInt(texts.length)))
      }
    val input = MemoryStream[(Long, String)]
    val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = graft.ops.DsirGate.admitTargetLike(
        input.toDF().toDF("doc_id", "text"), m, kc, thr)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        admitted.addAndGet(b.count()); ()
      }.start()
    try {
      val size = 16000
      input.addData(batch(size)); q.processAllAvailable() // warm: codegen
      val rate = bestRate(3, size) { () =>
        input.addData(batch(size)); q.processAllAvailable()
      }
      info(f"DSIR gate best rate: $rate%.0f rows/s (floor 5228)")
      assert(rate >= 0.25 * 20912,
        f"DSIR admission throughput regressed: $rate%.0f rows/s < 25%% " +
          "of the recorded 20,912 (AdmitRateProbe r13)")
    } finally { q.stop(); docs.unpersist() }
  }

  test("semantic LSH gate sustains >= 25% of its recorded 12.7k rows/s") {
    assume(enabled, "set GRAFT_PERF_SPECS=1 to run perf floor guards")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nCorpus = 16000
    val dim = 64
    val (corpusDf, _) = LshFixtures.plantedCorpus(spark, nCorpus, 0, dim)
    val corpus = corpusDf.persist()
    corpus.count()
    // The b12 staged configuration — AdmitRateProbe's fastest form.
    val p12 = graft.ops.Sketches.LshParams(nbits = 12, tables = 8, probe = 1)
    val rnd = new scala.util.Random(43)
    var nid = 7000000L
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def batch(size: Int): Seq[(Long, Array[Float])] =
      (0 until size).map { _ => val id = nid; nid += 1; (id, unit()) }
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.IncrementalDedup.admitNovelSemantic(
        input.toDF().toDF("vec_id", "embedding"), corpus, p12, tau = 0.95,
        stageCorpus = true) { (b, _) => b.count(); () }
      .start()
    try {
      val size = 16000
      input.addData(batch(size)); q.processAllAvailable() // warm: stage+codegen
      val rate = bestRate(3, size) { () =>
        input.addData(batch(size)); q.processAllAvailable()
      }
      info(f"semantic gate best rate: $rate%.0f rows/s (floor 3166)")
      assert(rate >= 0.25 * 12665,
        f"semantic admission throughput regressed: $rate%.0f rows/s < 25%% " +
          "of the recorded 12,665 (AdmitRateProbe r14 b12 staged)")
    } finally { q.stop(); corpus.unpersist() }
  }
}
