package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.CosineSimilarity

/** Public extension wiring (SURVEY §4): inject the engine's native
  * functions and planner strategies at session build time via
  * `spark.sql.extensions=graft.GraftExtensions` or
  * `GraftSession.builder(n).withExtensions(new GraftExtensions)`.
  * (`native.top_k_per_group` also attaches the strategy lazily for
  * sessions built without extensions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // Automatic bloom-filtered join (conf-gated off by default;
    // spark.graft.bloomJoin.enabled=true turns it on). PreCBO = after the
    // operator-optimization fixed point, once per optimization.
    e.injectPreCBORule(org.apache.spark.sql.graft.BloomJoinRule)
    // Automatic band join: abs(l - r) <= eps with no equi-key becomes a
    // floor-bucket hash join (conf-gated off by default;
    // spark.graft.bandJoin.enabled=true turns it on).
    e.injectPreCBORule(org.apache.spark.sql.graft.BandJoinRule)
  }
}
