package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ZOrder

/** Z-order layout evidence on REAL parquet footers: range-partitioning a
  * write by the Morton key bounds BOTH dimension columns in every file's
  * min/max statistics, so a 2-D box predicate — and crucially a
  * predicate on the SECOND column alone — prunes files a linear layout
  * must read. This is the mechanism Spark's parquet scan uses for
  * file/row-group skipping; measuring it on the footers directly keeps
  * the assertion engine-independent.
  */
class LayoutSpec extends AnyFunSuite with TempDirs {

  private val tmp = tmpDir("graft-layout").toString

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** Per parquet file: column → (min, max) from footer statistics,
    * merged across the file's row groups (INT64 columns).
    */
  private def fileRanges(dir: String, cols: Seq[String]): Seq[Map[String, (Long, Long)]] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          cols.map { c =>
            val stats = blocks.map { b =>
              val cc = b.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .getOrElse(fail(s"column $c missing from footer of ${st.getPath}"))
              val s = cc.getStatistics
              assert(s != null && s.hasNonNullValue, s"no stats for $c in ${st.getPath}")
              (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            }
            c -> ((stats.map(_._1).min, stats.map(_._2).max))
          }.toMap
        } finally r.close()
      }
  }

  private def matches(ranges: Seq[Map[String, (Long, Long)]],
      pred: Map[String, (Long, Long)]): Int =
    ranges.count { f =>
      pred.forall { case (c, (lo, hi)) =>
        val (mn, mx) = f(c)
        mx >= lo && mn <= hi
      }
    }

  test("z-order layout prunes 2-D and second-column predicates; linear cannot") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val total = li.count()

    val dirZ = s"$tmp/zorder"
    val dirL = s"$tmp/linear"
    ZOrder.withZKey(li, "x", "y")
      .repartitionByRange(64, col("zkey"))
      .drop("zkey")
      .write.mode("overwrite").parquet(dirZ)
    li.repartitionByRange(64, col("x"))
      .write.mode("overwrite").parquet(dirL)

    // Layouts must be lossless before any pruning claim means anything.
    assert(spark.read.parquet(dirZ).count() == total)
    assert(spark.read.parquet(dirL).count() == total)

    val rangesZ = fileRanges(dirZ, Seq("x", "y"))
    val rangesL = fileRanges(dirL, Seq("x", "y"))
    assert(rangesZ.size > 16 && rangesL.size > 16,
      s"need a real file population to measure pruning: ${rangesZ.size}/${rangesL.size}")

    // Middle-quarter box on both dimensions (sf0.01: x ∈ 1..~2000,
    // y ∈ 1..~100 — quarters keep off the domain edges so boundary
    // files count against both layouts symmetrically).
    val box = Map("x" -> ((750L, 1250L)), "y" -> ((25L, 50L)))
    val boxZ = matches(rangesZ, box)
    val boxL = matches(rangesL, box)
    assert(boxZ < boxL,
      s"z-order should prune the 2-D box below linear: z=$boxZ linear=$boxL")

    // The second column alone: the linear layout is stat-blind here —
    // every file spans the full y domain — while z-order bounds y in
    // every file.
    val yOnly = Map("y" -> ((25L, 50L)))
    val yZ = matches(rangesZ, yOnly)
    val yL = matches(rangesL, yOnly)
    assert(yL == rangesL.size,
      s"linear layout unexpectedly bounded its second column: $yL of ${rangesL.size}")
    assert(yZ < rangesL.size / 2,
      s"z-order should prune a second-column predicate by >2x: $yZ of ${rangesZ.size}")
  }

  test("layout_bucketed: the bucketed join runs with zero exchanges below the join") {
    // Both fact tables are written hash-clustered into 8 buckets on the
    // join key, so EnsureRequirements accepts the scans' HashPartitioning
    // directly: the ONLY exchange in the whole plan is the 5-group rollup
    // above the join. A plan that re-shuffled either fact side would
    // defeat the point of the layout (pre-paying the shuffle at write
    // time), so pin it structurally: no exchange may appear anywhere in
    // the join's subtree, and both scans must report their bucketing.
    val df = SparkEntry.queries("layout_bucketed")(spark, "/root/testdata/sf0.001")
    df.collect() // let AQE settle on the final plan before inspecting
    // String checks on the FINAL-plan section: tree collect() does not
    // traverse into AQE query stages, and toString prints the initial
    // plan too (which would double-count the scans).
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin"),
      s"expected a sort-merge join over the bucketed scans:\n$plan")
    // The join key must never be re-shuffled — the ONLY exchanges
    // allowed are the rollup/sort ABOVE the join (on o_orderpriority).
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey")
      && !plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join must not re-shuffle its inputs:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size == 2,
      s"both scans must read the bucketed layout:\n$plan")
    // And the layout is lossless: the joined row count equals the
    // original parquet join's.
    val orig = Tables.orders(spark, "/root/testdata/sf0.001")
      .join(Tables.lineitem(spark, "/root/testdata/sf0.001"),
        col("o_orderkey") === col("l_orderkey")).count()
    assert(df.agg(sum("n")).head().getLong(0) == orig)
  }

  test("bucketed scan prunes to one bucket on an equality key filter") {
    // The second dividend of the bucketed layout (beyond exchange-free
    // joins): an equality predicate on the bucket key prunes the scan to
    // the single bucket that can hold it — 1/N of the files read, before
    // any I/O, the same class of win as partition pruning but on a
    // high-cardinality key no directory layout could carry. (r17: the
    // bucket count is session-derived, so the pin is count-agnostic.)
    val (to, _) = graft.queries.Extra10.bucketedTables(spark, "/root/testdata/sf0.001")
    val key = spark.table(to).orderBy("o_orderkey").select("o_orderkey")
      .head().getLong(0)
    // autoBucketedScan (default on) drops bucketed reading when no
    // operator needs the hash distribution — which also forfeits bucket
    // pruning. A deployment that filters bucketed facts by key pins it
    // off for exactly this plan shape.
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val df = spark.table(to).filter(col("o_orderkey") === key)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
      assert("SelectedBucketsCount: 1 out of \\d+".r
        .findFirstIn(plan).isDefined, plan)
      assert(df.count() >= 1)
    } finally spark.conf.set(conf, prev)
  }

  test("interleave16 is exact bit interleaving on known values") {
    import spark.implicits._
    // (x, y) → Morton: x bits land on even positions, y bits on odd.
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (65535L, 0L),
      (0L, 65535L), (43690L, 21845L)).toDF("xi", "yi")
      .select(ZOrder.interleave16(col("xi"), col("yi")).as("z"))
    val got = df.collect().map(_.getLong(0)).toSeq
    // 43690 = 0b1010...10, 21845 = 0b0101...01 interleave to
    // 0b100110011001... = x bits at even, y bits at odd positions.
    val expect = Seq(0L, 1L, 2L, 3L, 0x55555555L, 0xAAAAAAAAL,
      (0 until 16).map { b =>
        (((43690L >> b) & 1L) << (2 * b)) | (((21845L >> b) & 1L) << (2 * b + 1))
      }.reduce(_ | _))
    assert(got == expect)
  }

  test("reapStaleStaging removes dead-pid staging dirs, keeps live and foreign ones") {
    // VERDICT r14 #4: pid-keyed staging dirs must be collected once
    // their JVM is gone. Fixture on a PRIVATE root: both staging
    // shapes, one dead-pid and one own-pid instance each, plus a
    // non-graft bystander.
    val (ownPid, host) = Q.perJvmId.split("_", 2) match {
      case Array(p, h) => (p, h)
    }
    // A pid that is provably not alive: above the default pid_max is
    // impossible; walk down from there until /proc misses it.
    val deadPid = (4194304 to 4194200 by -1)
      .find(p => !Files.exists(java.nio.file.Paths.get("/proc", p.toString)))
      .get.toString
    val root = tmpDir("graft-reap")
    def mk(parts: String*): java.nio.file.Path = {
      val p = parts.foldLeft(root)(_.resolve(_))
      Files.createDirectories(p)
      Files.write(p.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      p
    }
    val deadTop = mk(s"graft_int8_${deadPid}_$host", "ix_a")   // shape 1, dead
    val liveTop = mk(s"graft_int8_${ownPid}_$host", "ix_b")    // shape 1, own
    val deadKid = mk("graft_fmt", s"${deadPid}_$host", "csv")  // shape 2, dead
    val liveKid = mk("graft_fmt", s"${ownPid}_$host", "csv")   // shape 2, own
    val bystander = mk("media_cache", s"${deadPid}_$host")     // non-graft prefix
    val noPid = mk("graft_warehouse")                          // no pid key at all
    val removed = Q.reapStaleStaging(root.toString)
    assert(removed == 2, s"expected exactly the two dead-pid dirs, got $removed")
    assert(!Files.exists(deadTop.getParent) || !Files.exists(deadTop))
    assert(!Files.exists(deadKid))
    assert(Files.exists(liveTop) && Files.exists(liveKid))
    assert(Files.exists(bystander) && Files.exists(noPid))
  }

  test("snapshot table: manifest-resolved time travel, incremental diff, isolation") {
    // VERDICT r15 #2. The staged store commits v1..v3 of orders, version
    // v carrying keys ≡ v-1 (mod 3); every property below is checked
    // against the original fixture through that modulo contract.
    import graft.ops.SnapshotTable
    val d = "/root/testdata/sf0.001"
    val root = SnapshotTable.stage(spark, d)
    val orders = Tables.orders(spark, d)
    def modCount(rs: Int*): Long =
      orders.filter(pmod(col("o_orderkey"), lit(3)).isin(rs.map(Int.box): _*)).count()
    // Time travel: each snapshot is exactly its cumulative modulo slice.
    assert(SnapshotTable.readSnapshot(spark, root, 1).count() == modCount(0))
    assert(SnapshotTable.readSnapshot(spark, root, 2).count() == modCount(0, 1))
    assert(SnapshotTable.readSnapshot(spark, root, 3).count() == modCount(0, 1, 2))
    // Incremental = manifest diff: exactly the rows the range ADDED.
    assert(SnapshotTable.readIncremental(spark, root, 1, 3).count() == modCount(1, 2))
    assert(SnapshotTable.readIncremental(spark, root, 2, 3).count() == modCount(2))
    // SNAPSHOT ISOLATION: a data file written into the table directory
    // but never referenced by a committed manifest — a concurrent
    // writer's in-flight output — is invisible to EVERY snapshot,
    // because readers resolve manifests, never directory listings.
    val v1dir = java.nio.file.Paths.get(root, "data", "v1")
    val donor = Files.list(v1dir).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val orphan = java.nio.file.Paths.get(root, "data", "v2", "orphan-uncommitted.parquet")
    Files.copy(donor, orphan)
    try {
      assert(SnapshotTable.readSnapshot(spark, root, 2).count() == modCount(0, 1))
      assert(SnapshotTable.readSnapshot(spark, root, 3).count() == modCount(0, 1, 2))
      assert(SnapshotTable.readIncremental(spark, root, 1, 2).count() == modCount(1))
    } finally Files.deleteIfExists(orphan)
    // Version bounds fail loudly, not with a phantom empty read.
    intercept[IllegalArgumentException](SnapshotTable.snapshotFiles(root, 5))
    intercept[IllegalArgumentException](SnapshotTable.readIncremental(spark, root, 2, 2))
  }

  test("snapshot table: compaction rewrites layout not rows; vacuum reclaims by retention") {
    import graft.ops.SnapshotTable
    val d = "/root/testdata/sf0.001"
    // PRIVATE store — vacuum is destructive and must never touch the
    // shared staged root the declared queries read.
    val root = tmpDir("graft-snapvac").toString + "/t"
    SnapshotTable.stageInto(spark, d, root)
    val orders = Tables.orders(spark, d)
    val full = orders.count()
    // v4 = compaction of v3: one file, same rows, and the ROW CONTENT
    // matches the original table exactly (sorted rewrite).
    assert(SnapshotTable.snapshotFiles(root, 4).size == 1)
    assert(SnapshotTable.snapshotFiles(root, 4).size <
      SnapshotTable.snapshotFiles(root, 3).size)
    assert(SnapshotTable.readSnapshot(spark, root, 4).count() == full)
    // Non-destructive: time travel to every pre-compaction version
    // still works (old files stay until vacuum).
    assert(SnapshotTable.readSnapshot(spark, root, 1).count() ==
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 0).count())
    // A rewrite commit is dataChange=false: the incremental reader
    // crossing it must emit NOTHING new (a naive endpoint diff would
    // re-emit the whole table).
    assert(SnapshotTable.isRewrite(root, 4))
    assert(SnapshotTable.readIncremental(spark, root, 3, 4).count() == 0)
    // And a range SPANNING ingests + the rewrite sees only the ingests.
    assert(SnapshotTable.readIncremental(spark, root, 2, 4).count() ==
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 2).count())
    // VACUUM keeping only v4: every v1..v3-only file is reclaimed,
    // v4 still reads, dropped-version time travel now fails loudly.
    val removed = SnapshotTable.vacuum(root, keepVersions = Set(4))
    assert(removed >= 3, s"expected >= 3 reclaimed files, got $removed")
    assert(SnapshotTable.readSnapshot(spark, root, 4).count() == full)
    intercept[Exception](SnapshotTable.snapshotFiles(root, 2))
  }
}
