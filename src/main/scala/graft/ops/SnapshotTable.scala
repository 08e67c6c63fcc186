package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Native snapshot / time-travel table (VERDICT r15 #2) — the
  * Delta/Iceberg OPERATING MODEL re-built on bare parquet, no jar:
  *
  *   - data files are immutable; an ingest only ADDS files
  *     (`data/v<N>/part-*.parquet`);
  *   - a snapshot is a MANIFEST — an explicit list of the data files
  *     visible at that version (`manifest/v<N>.list`), not a directory
  *     listing;
  *   - a commit is the ATOMIC publication of the next manifest
  *     (write-temp + `ATOMIC_MOVE` rename): readers resolving version N
  *     either see the complete manifest or the previous one, never a
  *     partial file list. Data files written but not yet referenced by
  *     a committed manifest are INVISIBLE to every reader — snapshot
  *     isolation (pinned in LayoutSpec: an orphan parquet dropped into
  *     the data dir changes no snapshot).
  *
  * Why this is the 100 TB operating model: a reader never lists the
  * data directory (object-store listing over millions of files is both
  * slow and non-atomic); it fetches one small manifest and plans the
  * scan over exactly those files. Time travel = resolve an older
  * manifest. Incremental reprocessing = manifest DIFF: the files added
  * between two versions, read directly — the primitive every periodic
  * pipeline uses to process "what arrived since the last run" without
  * rescanning the table. At real scale the flat file list becomes a
  * manifest TREE with partition/column stats per entry (Iceberg's
  * manifest-list → manifest → data-file hierarchy) so planning can
  * prune files by predicate before the scan; the flat list here is the
  * same contract at fixture scale.
  *
  * The staged fixture table: three ingest commits of the `orders`
  * table, version v carrying the rows with `o_orderkey % 3 == v-1` —
  * deterministic, so a DuckDB oracle over the ORIGINAL parquet with the
  * same modulo filter replays any snapshot or diff exactly.
  */
object SnapshotTable {
  /** Ingest commits the fixture store stages (v1..v3 add rows). */
  val Versions = 3

  /** The compaction commit: v4 rewrites v3's content into one file and
    * swaps the manifest — same rows, fewer files (see [[compact]]).
    */
  val CompactedVersion = 4

  /** Build (once per JVM × corpus) the versioned store; returns its
    * root. Keyed like every staged layout: pid@host (no cross-process
    * races) × corpus fingerprint (a driver fixture refresh re-stages
    * rather than serving a stale snapshot — the ADVICE r9 lesson). The
    * root is on-disk state, so it stages through the JVM scope of
    * [[graft.Q.once]]: concurrent query constructions stage once.
    */
  def stage(s: SparkSession, d: String): String = {
    val tag = graft.Q.corpusTag(s, d, "orders").replaceAll("[^A-Za-z0-9]", "_")
    val root = graft.Q.jvmStageRoot("graft_snap") + s"/$tag"
    graft.Q.once(root) { stageInto(s, d, root); root }
  }

  /** The staging body against an explicit root — separated so specs can
    * build a PRIVATE store (vacuum is destructive; it must never run
    * against the shared staged root the declared queries read).
    */
  private[graft] def stageInto(s: SparkSession, d: String, root: String): Unit = {
    // The compaction manifest is the LAST artifact committed (atomic
    // rename), so its existence proves a complete staging pass — safe
    // to reuse within this pid-keyed root.
    if (!Files.exists(manifestPath(root, CompactedVersion))) {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val orders = graft.Tables.orders(s, d)
      var visible = Vector.empty[String]
      (1 to Versions).foreach { v =>
        val dataDir = s"$root/data/v$v"
        orders.filter(pmod(col("o_orderkey"), lit(3)) === lit(v - 1))
          .write.mode("overwrite").parquet(dataDir)
        // The ingest's ADDED files = the part files this write produced.
        val added = listParquet(dataDir)
        visible = visible ++ added
        commitManifest(root, v, visible)
      }
      compact(s, root, Versions)
    }
  }

  /** COMPACTION (the OPTIMIZE/rewrite half of the table-format
    * lifecycle): rewrite version v's content into a minimal file set
    * and commit it as the next manifest. The rewrite is LOGICALLY
    * IDENTICAL — the gate query proves it against the original table —
    * and NON-DESTRUCTIVE: the old data files stay on disk, still
    * referenced by the old manifests, so time travel to v1..v3 keeps
    * working until [[vacuum]] reclaims them (exactly Delta OPTIMIZE /
    * Iceberg rewrite_data_files semantics: compaction swaps metadata,
    * retention deletes). Small-file compaction is what keeps a 100 TB
    * table scannable after months of incremental ingests — thousands
    * of tiny commit files re-binpacked into scan-sized ones; at real
    * scale the rewrite is per-partition/file-group binpacking running
    * as many tasks, the fixture-scale shape here is one sorted file
    * (sort before write so the output is byte-deterministic and the
    * file carries tight min/max stats for pruning).
    */
  private[graft] def compact(s: SparkSession, root: String, v: Int): Unit = {
    val dataDir = s"$root/data/compact_v${v + 1}"
    readSnapshot(s, root, v).orderBy("o_orderkey")
      .coalesce(1).write.mode("overwrite").parquet(dataDir)
    commitManifest(root, v + 1, listParquet(dataDir))
    // Rewrite marker: this commit changed the FILE layout, not the
    // table's rows (Delta's dataChange=false) — incremental readers
    // must skip it or they would re-emit the whole table as "new".
    Files.write(manifestPath(root, v + 1)
      .resolveSibling(s"v${v + 1}.rewrite"), Array.emptyByteArray)
  }

  /** True when version v was committed by a rewrite (compaction), i.e.
    * it added files without adding rows.
    */
  private[graft] def isRewrite(root: String, v: Int): Boolean =
    Files.exists(manifestPath(root, v).resolveSibling(s"v$v.rewrite"))

  /** VACUUM (the retention half): delete every data file under the
    * store that no manifest in `keepVersions` references, and drop the
    * other manifests. Destructive BY CONTRACT — time travel to a
    * dropped version is gone; that trade (bounded storage vs unbounded
    * history) is the same one Delta's VACUUM retention window sells.
    * Returns the number of data files deleted. Driver-side file ops
    * only — at scale this is a listing + delete batch against the
    * object store, cost ∝ files, no Spark job.
    */
  private[graft] def vacuum(root: String, keepVersions: Set[Int]): Int = {
    val keep = keepVersions.flatMap(v => snapshotFiles(root, v))
    val dataRoot = Paths.get(root, "data")
    val all = Files.walk(dataRoot).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toVector
    val doomed = all.filterNot(p => keep.contains(p.toString))
    doomed.foreach(Files.deleteIfExists(_))
    (1 to CompactedVersion).filterNot(keepVersions)
      .foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    doomed.size
  }

  private def manifestPath(root: String, v: Int): Path =
    Paths.get(root, "manifest", s"v$v.list")

  private def listParquet(dir: String): Vector[String] =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toVector.sorted

  /** Atomic commit: the manifest (one absolute data-file path per line)
    * is fully written to a temp name, then renamed into place. Rename is
    * atomic on POSIX — a reader sees all of v<N>.list or none of it. On
    * an object store this step is the table format's metastore/catalog
    * swap (Iceberg: the catalog pointer CAS; Delta: the _delta_log
    * next-sequence-number PUT-if-absent) — same contract, different
    * primitive.
    */
  private def commitManifest(root: String, v: Int, files: Seq[String]): Unit = {
    val p = manifestPath(root, v)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, files.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The data files visible at version v — ONE small manifest read, no
    * data-directory listing (the property that makes snapshot resolution
    * O(manifest) instead of O(object-store listing) at scale).
    */
  def snapshotFiles(root: String, v: Int): Vector[String] = {
    require(v >= 1 && v <= CompactedVersion,
      s"snapshot version $v outside committed range [1, $CompactedVersion]")
    Files.readAllLines(manifestPath(root, v)).asScala.toVector
      .filter(_.nonEmpty)
  }

  /** Read the table AS OF version v (time travel). */
  def readSnapshot(s: SparkSession, root: String, v: Int): DataFrame =
    s.read.parquet(snapshotFiles(root, v): _*)

  /** Read exactly the rows ADDED between versions vFrom (exclusive) and
    * vTo (inclusive) — the per-commit manifest set-diff. Because data
    * files are immutable and ingests only add, each non-rewrite
    * commit's file diff IS its added rows; no row-level anti-join
    * against the old snapshot is ever needed (at 100 TB that anti-join
    * would be a full-table shuffle; the manifest diff is a driver-side
    * set subtraction plus a scan of only the new files). REWRITE
    * commits (compaction) are skipped — they re-layout existing rows
    * (dataChange=false), and a naive endpoint diff across one would
    * re-emit the whole table as "new" (pinned in LayoutSpec).
    */
  def readIncremental(s: SparkSession, root: String,
      vFrom: Int, vTo: Int): DataFrame = {
    require(vFrom < vTo, s"incremental range [$vFrom, $vTo) is empty")
    val added = (vFrom + 1 to vTo).filterNot(isRewrite(root, _)).flatMap { v =>
      val before =
        if (v == 1) Set.empty[String] else snapshotFiles(root, v - 1).toSet
      snapshotFiles(root, v).filterNot(before)
    }
    if (added.isEmpty) s.read.parquet(snapshotFiles(root, vTo): _*).limit(0)
    else s.read.parquet(added: _*)
  }
}
