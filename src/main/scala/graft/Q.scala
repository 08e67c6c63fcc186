package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One declared engine operation: the Spark query plus (optionally) the
  * DuckDB oracle SQL the driver uses for the hash-match. Oracle SQL reads
  * parquet via '{sfDir}/<table>.parquet' path placeholders (FIXTURES.md §2);
  * queries without an oracle get the driver's weaker rows-only check.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(fn, Some(oracle))
  def noOracle(fn: (SparkSession, String) => DataFrame): Q = Q(fn, None)

  /** Money columns are physically double (FIXTURES.md ⚠) — cast to exact
    * DECIMAL(18,2) *before* aggregating so summation order can't change the
    * result across partitionings/engines (SURVEY §2.11).
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** The shared trailing Pearson assembly over six exact power-sum
    * columns → ROUND(r, 6) as DECIMAL(18,6): combine EXACTLY, cast
    * the three combinations to double, one sqrt + division last —
    * the agg_corr discipline, factored (r15 session 2) so the
    * correlation family (autocorr, cross-corr, assortativity) shares
    * ONE definition and a future precision/rounding fix lands once.
    *
    * The combinations run in DECIMAL(38,0), not BIGINT (ADVICE r15):
    * the DuckDB oracles sum the same inputs through HUGEINT, so a
    * BIGINT n·sxx here would hit its envelope ~10²⁰ of combined
    * magnitude earlier than the oracle's — under ANSI that's a loud
    * SparkArithmeticException, but the gate should not fail where the
    * oracle still computes. DECIMAL(38,0) matches the oracle's
    * envelope to ~10³⁸ (decimal overflow past THAT still fails loudly
    * under ANSI, never wraps), costs nothing on the hot path (this
    * assembly always runs over collapsed group-count relations), and
    * the exact integer → double cast is correctly rounded identically
    * in both engines. Use [[pearson6Double]] only where the factored
    * double form is the documented contract (doubled-rank Spearman).
    */
  def pearson6(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
      sxy: Column): Column = {
    import org.apache.spark.sql.functions.{round, sqrt}
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    dec6(round((d38(n) * d38(sxy) - d38(sx) * d38(sy)).cast("double")
      / sqrt((d38(n) * d38(sxx) - d38(sx) * d38(sx)).cast("double")
        * (d38(n) * d38(syy) - d38(sy) * d38(sy)).cast("double")), 6))
  }

  def pearson6Double(n: Column, sx: Column, sy: Column, sxx: Column,
      syy: Column, sxy: Column): Column = {
    import org.apache.spark.sql.functions.{round, sqrt}
    def d(c: Column) = c.cast("double")
    dec6(round((d(n) * d(sxy) - d(sx) * d(sy))
      / sqrt((d(n) * d(sxx) - d(sx) * d(sx))
        * (d(n) * d(syy) - d(sy) * d(sy))), 6))
  }

  /** Row count of a parquet file (or flat directory of .parquet files)
    * from FOOTER METADATA only — a driver-side footer read, NOT a Spark
    * job. Used by plan-SHAPE decisions that need the corpus size at plan
    * build (the sign-LSH tier pick): `df.count()` there launches an
    * eager job per constructed plan, which breaks the "constructing a
    * query runs nothing" contract PlanSpec pins. Memoized per path —
    * the fixtures are immutable for a session, and the bench constructs
    * each query repeatedly. At cluster scale a million-file table would
    * make a serial driver-side footer walk the bottleneck — there the
    * catalog's statistics (ANALYZE TABLE) are the right source; this
    * helper is the path-based equivalent for bare parquet dirs, and
    * still strictly cheaper than the count() job it replaces (footers
    * only, no task scheduling).
    */
  def parquetRowCount(spark: SparkSession, path: String): Long =
    once("rowcount|" + path) {
      val conf = spark.sessionState.newHadoopConf()
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(conf)
      // RECURSIVE walk: a partitioned table is date=.../part-*.parquet —
      // a flat listing would find zero files and silently report 0 rows,
      // feeding a wrong corpus size into the tier pick.
      def walk(s: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.Path] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
        else Seq.empty
      val files = walk(fs.getFileStatus(hp))
      require(files.nonEmpty,
        s"parquetRowCount: no .parquet files under $path — refusing to " +
          "report 0 rows for a plan-shape decision")
      java.lang.Long.valueOf(files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum)
    }.longValue()

  /** Memoized `spark.read.parquet` for STAGED dirs (the ANN index warm
    * paths): each bare read re-resolves the datasource — driver-side
    * file listing + footer schema read, ~50-150 ms — and a staged search
    * pays it 2-4× per call. The plan is immutable and bound to its
    * session, so it lives in the session scope of [[once]]. ONLY for
    * staged dirs, which are written once under their pid × corpus-
    * fingerprint key — the cached plan pins the file listing at first
    * read, which is exactly wrong for a dir that changes (why fixture
    * tables are never read through this).
    */
  def readStagedParquet(spark: SparkSession, path: String): DataFrame =
    once(spark, "read|" + path)(spark.read.parquet(path))

  /** Conf-gated persist for pipeline INTERMEDIATES (the sketch/dedup/
    * ANN/graph multi-branch pipelines): `spark.graft.sketch.persistLevel`
    * picks the storage level — default MEMORY_AND_DISK (the measured-
    * fastest level on the bench box), `DISK_ONLY` for memory-constrained
    * executors, `NONE` to disable persistence entirely (branches
    * recompute — slower, never wrong; SketchesSpec pins the equality).
    * The knob exists because these persists are sized by the CORPUS
    * (skinny signature/label relations, but still O(N) rows): at 100 TB
    * MEMORY_AND_DISK intermediates can evict hot executor memory or
    * fill local disks, and the right level is a deployment decision,
    * not a code constant (VERDICT r12 #6). Unknown values fail by name
    * via StorageLevel.fromString.
    */
  def sketchPersist(df: DataFrame): DataFrame =
    df.sparkSession.conf
      .get("spark.graft.sketch.persistLevel", "MEMORY_AND_DISK")
      .toUpperCase match {
      case "NONE" => df
      case lvl =>
        df.persist(org.apache.spark.storage.StorageLevel.fromString(lvl))
    }

  /** THE staged-state memo: per-corpus state (staged dirs, footer row
    * counts, staged-dir reads, the graph adjacency RDD and LPA labels)
    * is built once and read by every later query. Two scopes:
    *  - `once(key)` is JVM-wide, for on-disk staging — the dirs are
    *    already pid × corpus-fingerprint keyed ([[jvmStageRoot]],
    *    [[stageDir]], [[corpusTag]]), so the key is usually the dir and
    *    the build returns it;
    *  - `once(spark, key)` is per SESSION, for DataFrames and RDDs bound
    *    to one: weak-keyed on the SparkSession INSTANCE (ADVICE r12), so
    *    a session never receives another, possibly stopped, session's plan.
    * RE-ENTRANCY SAFE: `computeIfAbsent` only installs a per-key lazy
    * [[Cell]]; the build runs when the cell is forced, OUTSIDE the map
    * operation, so builds may nest (node count → LPA labels → adjacency
    * RDD; media staging → footer row count). A builder run inside
    * `computeIfAbsent` throws "Recursive update" whenever two keys share
    * a hash bin. Concurrent callers of one key build once (they wait on
    * the cell); a build that throws drops its cell and the next call
    * retries.
    */
  def once[T <: AnyRef](key: String)(build: => T): T = force(jvmMemo, key, build)

  def once[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T =
    force(sessionMemos.computeIfAbsent(spark, _ => new Memo), key, build)

  private final class Cell(build: => AnyRef) { lazy val value: AnyRef = build }
  private type Memo = java.util.concurrent.ConcurrentHashMap[String, Cell]

  private def force[T <: AnyRef](m: Memo, key: String, build: => T): T = {
    val cell = m.computeIfAbsent(key, _ => new Cell(build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => m.remove(key, cell); throw e }
  }

  private val jvmMemo = new Memo
  private val sessionMemos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Memo]())

  /** Cheap corpus fingerprint (sorted file list → fold of path, length,
    * mtime) for keying staged per-JVM state — indexes, bucketed layouts
    * (ADVICE r9): staging memoized only on (tag, params) silently serves
    * a STALE index if the corpus under the tag path is regenerated while
    * the process lives (the driver does refresh fixtures between
    * rounds). Folding the fingerprint into the staging key turns that
    * into a rebuild instead of a wrong answer. Deliberately NOT
    * memoized — one driver-side listing per staged-query construction is
    * the price of freshness (footers aren't read; at a million files use
    * the catalog's table version / snapshot id instead, which is what
    * Delta/Iceberg expose for exactly this purpose).
    */
  def corpusFingerprint(spark: SparkSession, path: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    def walk(s: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk) else Seq(s)
    val files = walk(fs.getFileStatus(hp)).sortBy(_.getPath.toString)
    val h = files.foldLeft(1125899906842597L) { (acc, f) =>
      var x = acc
      x = x * 31 + f.getPath.getName.hashCode
      x = x * 31 + f.getLen
      x * 31 + f.getModificationTime
    }
    java.lang.Long.toHexString(h)
  }

  /** The staging tag for per-JVM ingest-time state derived from one
    * fixture table: path + corpus fingerprint, so a driver fixture
    * refresh re-stages instead of serving stale state (the ADVICE r9
    * lesson, shared by the bucketed layout, the ANN indexes and the
    * r14 dedup staging).
    */
  def corpusTag(spark: SparkSession, d: String, table: String): String =
    d + "_" + corpusFingerprint(spark, s"$d/$table.parquet")

  /** Admission guard for the declared quadratic correctness baselines
    * (sim_cosine_topk, dedup_embedding — all-pairs joins kept deliberately
    * as ground-truth references next to their ANN scale paths): refuse an
    * oversized input loudly instead of silently going O(n²) on it. The
    * count() is one cheap metadata-driven job on the guarded (small) side
    * and runs before the join is even constructed — at scale that is the
    * check that tells you to switch to sim_ann_lsh / sim_ann_ivf.
    */
  def requireAtMost(df: DataFrame, maxRows: Long, ctx: String,
      scalePath: String): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"$ctx: $n input rows exceed the declared quadratic-baseline bound " +
        s"of $maxRows — use $scalePath at this scale")
    df
  }

  /** Admission guard for per-group state concentration (the group twin
    * of [[requireAtMost]]): operators that materialize one row per group
    * from ALL the group's rows (seq_pattern's collect_list sequence
    * build) turn a hot key into one giant row in one task. Refuse loudly
    * when any group exceeds `maxRows`, naming the streaming/state-machine
    * form that handles unbounded groups. Cost: one keyed count + scalar
    * max — counts only, never the payload columns.
    */
  def requireMaxGroupSize(df: DataFrame, key: String, maxRows: Long,
      ctx: String, scalePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val mx = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .agg(coalesce(max("n"), lit(0L))).head().getLong(0)
    require(mx <= maxRows,
      s"$ctx: a '$key' group holds $mx rows, exceeding the declared " +
        s"per-group concentration bound of $maxRows — use $scalePath at this scale")
    df
  }

  /** The deterministic sampling-admission hash, shared by every
    * hash-admission query (sample_temperature, sample_pergroup,
    * sample_quality): Knuth multiplicative over the id with an INNER mod
    * keeping the multiply inside int64 for the full long domain (the
    * sample_split overflow lesson — a plain id·2654435761 wraps above
    * ~3.5e9, silently in Spark, loudly in DuckDB). Oracles must inline
    * the identical SQL text: `((id % 2147483647) * 2654435761) % m`.
    * One definition on the Spark side so a future fix lands once.
    */
  def admissionHash(id: Column, m: Long): Column = {
    import org.apache.spark.sql.functions.lit
    ((id % lit(2147483647L)) * lit(2654435761L)) % lit(m)
  }

  /** Per-JVM unique id (pid@host, sanitized) for staging paths and
    * embedded-database names: stable within a process (a second pass
    * overwrites rather than accretes), unique across processes so
    * concurrent harness runs can't race on shared state.
    */
  def perJvmId: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "_")

  /** Per-JVM staging dir `/tmp/<prefix>/<pid@host>/<what>_<sfdir>` —
    * the ONE sanitization/keying recipe every format/media/layout
    * round-trip uses (pid-keyed so concurrent harness processes can't
    * race overwrite-vs-read on one path; stable within a process so a
    * second bench pass overwrites rather than accretes).
    */
  def stageDir(prefix: String, d: String, what: String): String = {
    reapOnce
    s"/tmp/$prefix/$perJvmId/${what}_" + d.replaceAll("[^A-Za-z0-9]", "_")
  }

  /** Per-JVM staging ROOT `/tmp/<family>_<pid@host>` for the staged
    * index/layout/segment families (int8/ivf/pq/shingle/tf/graph …) —
    * same pid-keying rationale as [[stageDir]], factored here (r15) so
    * every family also runs the stale-state reap below before creating
    * its first dir.
    */
  def jvmStageRoot(family: String): String = {
    reapOnce
    s"/tmp/${family}_$perJvmId"
  }

  /** Reap STALE per-JVM staged state (VERDICT r14 #4): pid-keyed
    * staging dirs outlive their JVMs — every Verify/Bench/test process
    * leaves its `/tmp/graft_*` tree behind (508 dirs / 1.2 GB measured
    * after 14 rounds), and on a long-lived service box that fills the
    * scratch disk. At staging init, sweep dirs whose owning JVM is
    * provably GONE: both staging shapes are pid-keyed
    * (`/tmp/<family>_<pid>_<host>` and `/tmp/<prefix>/<pid>_<host>/…`),
    * so a dir whose pid no longer exists under /proc on THIS host can
    * never be read or written again. The per-JVM keying itself stays —
    * the r6 concurrent-harness race lesson stands; liveness, not
    * naming, is what gets collected. Dirs from OTHER hosts (shared
    * /tmp — never the case here, but the conservative default) and
    * non-Linux boxes (no /proc) fall back to a 7-day mtime TTL.
    * Returns the number of dirs removed (spec-pinned with fake-stale
    * fixtures on a private root).
    */
  def reapStaleStaging(root: String = "/tmp"): Int = {
    import java.nio.file.{Files, Path, Paths}
    val (ownPid, host) = perJvmId.split("_", 2) match {
      case Array(p, h) => (p, h)
      case _ => return 0
    }
    val hostSuffix = "_" + host
    val procAvailable = Files.isDirectory(Paths.get("/proc"))
    def dead(pid: String): Boolean =
      pid != ownPid && procAvailable && !Files.exists(Paths.get("/proc", pid))
    def pidOf(name: String): Option[String] =
      if (!name.endsWith(hostSuffix)) None
      else {
        val stem = name.dropRight(hostSuffix.length)
        val digits = stem.reverse.takeWhile(_.isDigit).reverse
        if (digits.isEmpty) None
        else if (digits == stem) Some(digits) // bare <pid>_<host> (shape 2 child)
        else if (stem.dropRight(digits.length).endsWith("_")) Some(digits)
        else None
      }
    def rmTree(p: Path): Unit = {
      val all = Files.walk(p).toArray.map(_.asInstanceOf[Path])
      all.sortBy(-_.getNameCount).foreach(f => try Files.deleteIfExists(f) catch {
        case _: java.io.IOException => () // concurrent reaper / perms: skip
      })
    }
    val ttlMs = 7L * 24 * 3600 * 1000
    def expired(p: Path): Boolean =
      try System.currentTimeMillis() - Files.getLastModifiedTime(p).toMillis > ttlMs
      catch { case _: java.io.IOException => false }
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return 0
    var removed = 0
    val tops = try Files.list(rootP).toArray.map(_.asInstanceOf[Path])
    catch { case _: java.io.IOException => Array.empty[Path] }
    tops.filter(p => p.getFileName.toString.startsWith("graft_") &&
        Files.isDirectory(p)).foreach { top =>
      pidOf(top.getFileName.toString) match {
        case Some(pid) => // shape 1: /tmp/<family>_<pid>_<host>
          if (dead(pid) || (pid != ownPid && expired(top))) {
            rmTree(top); removed += 1
          }
        case None => // shape 2: /tmp/<prefix>/<pid>_<host>/…
          val kids = try Files.list(top).toArray.map(_.asInstanceOf[Path])
          catch { case _: java.io.IOException => Array.empty[Path] }
          kids.filter(Files.isDirectory(_)).foreach { kid =>
            pidOf(kid.getFileName.toString).foreach { pid =>
              if (dead(pid) || (pid != ownPid && expired(kid))) {
                rmTree(kid); removed += 1
              }
            }
          }
      }
    }
    removed
  }

  /** One reap per JVM, at first staging touch. */
  private lazy val reapOnce: Unit = {
    try reapStaleStaging() catch { case _: Exception => () }
  }

  /** Right-size STAGED-STATE output files before a parquet write (r17,
    * guide §6 "small files hurt twice"): the staged index/segment frames
    * were written straight from their build pipelines' shuffle
    * parallelism — 32 near-empty files at fixture scale — and every
    * later SEARCH scan paid one task per tiny file (measured: the int8
    * candidate stage ran 32 tasks × ~280 ms of fixed per-task cost for
    * ~560 rows each; StageProbe, OPTIMIZATION_r17.md). AQE's REBALANCE
    * coalesces the write to advisory-partition-sized files — one file at
    * fixture scale, ~64 MB files at cluster scale — exactly the guide's
    * "coalesce on write" form; the extra staging-time exchange is
    * one-time ingest cost by the staging contract. Reads need no change:
    * with sensible file sizes the scan's split packing recovers
    * parallelism from maxPartitionBytes alone.
    */
  def fileSized(df: DataFrame): DataFrame = df.hint("rebalance")

  /** THE lineage-cut recipe (r17, VERDICT r16 #5/#7): every multi-round
    * / multi-consumer pipeline (louvain barriers, pagerank/BPE round
    * cuts, reliability's bin rollup, ts_trending) cuts through here.
    *
    * Default = `localCheckpoint`: blocks are NON-REPLICATED executor
    * state — fast, but an executor loss mid-query kills the job with no
    * lineage to recompute from. That is the right trade on local[*] and
    * for re-runnable batch queries. Deployments that need executor-loss
    * survival at 100 TB set `spark.graft.checkpoint.dir` to a reliable
    * location (HDFS/object store): every cut then routes through
    * RELIABLE `Dataset.checkpoint` into that directory. Checkpoint-file
    * lifecycle belongs to the deployment (set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or reap the
    * dir) — CacheScope arenas only manage block-manager state, which
    * reliable checkpoints do not pin. Both modes are spec-pinned equal
    * on one query path (OpsSpec).
    */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpoint.dir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = df.sparkSession.sparkContext
        // getCheckpointDir is `<qualified dir>/<uuid>`: compare its parent,
        // or every cut would mint a fresh uuid directory.
        val want = new org.apache.hadoop.fs.Path(dir)
        val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        if (!sc.getCheckpointDir.exists(
            c => new org.apache.hadoop.fs.Path(c).getParent == qualified))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case _ => df.localCheckpoint(eager)
    }

  /** Hash-spread an input across the session's full shuffle parallelism,
    * keyed (not round-robin) so downstream keyed ops can reuse the
    * partitioning. The testdata parquet files are single-row-group, so
    * byte-range splitting (`files.maxPartitionBytes`) cannot parallelize
    * the scan — a shuffle is the only spread. The partition count is
    * explicit because AQE coalesces keyed exchanges with unspecified
    * counts back down to one partition at small data sizes, serializing
    * whatever follows (at cluster scale inputs arrive multi-split and
    * callers can drop spread() entirely).
    */
  def spreadBy(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, org.apache.spark.sql.functions.col(key))
  }
}
