package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the conf-gated lineage-cut recipe (r17, VERDICT r16 #5/#7):
  * `Q.cut` defaults to localCheckpoint (non-replicated blocks — fine for
  * re-runnable local batch) and routes through RELIABLE
  * `Dataset.checkpoint` when `spark.graft.checkpoint.dir` is set (the
  * executor-loss-survival mode a 100 TB deployment needs). Both modes
  * must produce identical results on a cut-using pipeline, and the
  * reliable mode must actually write checkpoint state to the directory.
  */
class CutModeSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("Q.cut: reliable-checkpoint mode equals localCheckpoint mode") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id1", "id2")
    // edgeComponents cuts its frontier every pointer-jumping round.
    def run(): Seq[(Long, Long)] = {
      val scope = graft.ops.CacheScope.begin(spark)
      // localSolveMaxEdges = 0 forces the distributed pointer-jumping
      // path — the one that cuts lineage every round via Q.cut.
      val out = graft.ops.Components
        .edgeComponents(edges, localSolveMaxEdges = 0L).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      scope.release()
      out
    }
    val local = run()
    val dir = tmpDir("graft_ckpt_test")
    spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
    try {
      val reliable = run()
      assert(reliable == local)
      val walk = java.nio.file.Files.walk(dir)
      val wrote = try walk.filter(p => java.nio.file.Files.isRegularFile(p)).count()
      finally walk.close()
      assert(wrote > 0, s"reliable mode wrote no checkpoint files under $dir")
      // SparkContext puts checkpoints in `<dir>/<uuid>`; every round's
      // cut must reuse that one directory, not mint a fresh uuid.
      val kids = java.nio.file.Files.list(dir)
      val nKids = try kids.count() finally kids.close()
      assert(nKids == 1, s"expected one checkpoint directory under $dir, found $nKids")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }
}
