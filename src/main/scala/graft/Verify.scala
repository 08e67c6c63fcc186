package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Extra args (local iteration only) restrict which queries are dumped;
    // the driver always calls with exactly (sfDir, outDir) → full dump.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // Per-query cache arena: the sketch/components pipelines persist
      // and localCheckpoint intermediates that are unreachable from the
      // returned DataFrame — without a scope those blocks pile up across
      // 118 queries until LRU eviction. Release AFTER the parquet write
      // (the scope's consume-fully-first contract: checkpointed RDDs
      // have no lineage to recompute from).
      val scope = graft.ops.CacheScope.begin(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        scope.release()
        // Also drop plan-level cache entries: release frees the blocks
        // but leaves the canonicalized-plan map populated, which would
        // warn ("already cached") and silently substitute into a later
        // query that builds an equivalent sub-plan.
        spark.sharedState.cacheManager.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Substitute {sfDir} HERE: the driver's DuckDB runner executes the
    // written SQL verbatim (round-1 lesson — unsubstituted placeholders
    // zeroed all 79 oracle checks). parity.py consumes this file as-is.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{sfDir}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
