package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.LocalFs

/** The one session builder: every main and every spec in this repo
  * starts its session here, so a conf the engine depends on is set in
  * one place. Callers chain their own extras (warehouse dir, extensions)
  * before `getOrCreate()`.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // r17 (guide §1/§4 — measured, see OPTIMIZATION_r17.md): the
      // whole-stage-codegen class cache defaults to 100 entries, and a
      // 278-query board compiles thousands of generated classes per
      // pass — by the time a query's pass 2 runs, its classes have been
      // evicted, so every pass re-Janino-compiles AND re-JITs from the
      // interpreter (StageProbe: the same tf stage costs 14.3 s of CPU
      // on first execution and 0.6 s once compiled). Raising the cache
      // lets pass 2 (the min the bench reports) run the already-JITted
      // classes — the same fix any long-lived multi-query service
      // applies; it is per-JVM state, equally valid on cluster
      // executors, not a local[32] artifact. Static conf: must be set
      // before session creation.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // The `file` scheme without forked chmod/readlink (see LocalFs).
      .config(LocalFs.hadoopConf.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
}
