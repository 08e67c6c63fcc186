package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.CosineSimilarity

/** Public extension wiring (SURVEY §4): inject the `cosine_similarity`
  * SQL function and the TopKPerGroup planner strategy at session build
  * time via `spark.sql.extensions=graft.GraftExtensions` or
  * `GraftSession.builder(n).withExtensions(new GraftExtensions)`.
  * (`native.top_k_per_group` also attaches the strategy lazily for
  * sessions built without extensions.) It injects no optimizer rule:
  * join pre-filtering is left to Spark's runtime bloom filter.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
