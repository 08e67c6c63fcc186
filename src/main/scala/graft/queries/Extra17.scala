package graft.queries

import graft.{Q, Tables => T}
import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** Round-10 additions, part 7: two lake-operations rows — the
  * binaryFile ingest source (how object-store media actually enters a
  * Spark pipeline, completing the multimodal family's missing first
  * step) and small-file compaction (the OPTIMIZE maintenance op,
  * completing the layout family next to zorder/hilbert/bucketed).
  * Both stage under the per-JVM × corpus-fingerprint key (the
  * ADVICE-r9 staleness rule for all staged state).
  */
object Extra17 {

  /** One .bin object per synthesized media row plus a non-matching
    * manifest decoy — the object-store layout a crawler delivers.
    * Executors write the files (local-FS staging; on a cluster the dir
    * would be shared storage, which is exactly where binaryFile reads
    * from in production).
    */
  private def mediaFilesDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dir = Q.stageDir("graft_mediafiles", d,
      "corpus_" + Q.corpusFingerprint(s, s"$d/documents.parquet"))
    Q.once(dir) {
      val n = Q.parquetRowCount(s, s"$d/documents.parquet").toInt
      val p = java.nio.file.Paths.get(dir)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
      java.nio.file.Files.createDirectories(p)
      // capture only the dir STRING: java.nio.file.Path is not
      // serializable and a captured Path fails closure cleaning
      val dirStr = dir
      Multimodal.synthesize(s, n).select("media_id", "bytes")
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val base = java.nio.file.Paths.get(dirStr)
          it.foreach { r =>
            java.nio.file.Files.write(
              base.resolve(f"media_${r.getLong(0)}%06d.bin"),
              r.getAs[Array[Byte]](1))
          }
        }
      java.nio.file.Files.write(p.resolve("_manifest.txt"),
        "not media".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      dir
    }
  }

  val defs: Map[String, Q] = Map(

    // The binaryFile SOURCE — Spark's built-in reader for opaque media
    // objects ((path, modificationTime, length, content) per file, no
    // decode): the first step of every image/audio lake pipeline, which
    // the multimodal family previously entered at the already-ingested
    // parquet stage. Staged: one .bin object per synthesized media row
    // plus a manifest decoy that pathGlobFilter="*.bin" must exclude —
    // the filter is load-bearing (without it the decoy's 9-char content
    // breaks the header parse and the kind rollup). media_id recovers
    // from the PATH (regexp_extract on the object name — the
    // crawler-manifest convention), the header parses with the same
    // pure-Catalyst arithmetic as multimodal_meta, and the oracle
    // replays the generator formulas off the documents table, gating
    // ingest + parse end to end: a file written truncated, globbed
    // wrongly, or parsed at the wrong offset hash-fails. Scale shape:
    // binaryFile lists + reads objects in parallel splits; everything
    // after the scan is map-side narrow work into a |kinds|-row rollup.
    "scan_binaryfile" -> Q(
      """WITH m AS (SELECT doc_id AS media_id,
        |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    64 + (doc_id * 37) % 512 AS w0,
        |    64 + (doc_id * 53) % 512 AS h0,
        |    1000 + (doc_id * 997) % 60000 AS dur
        |  FROM read_parquet('{sfDir}/documents.parquet'))
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(count(*) * 41 AS BIGINT) AS total_bytes,
        |       CAST(SUM(w0) AS BIGINT) AS sum_w,
        |       CAST(SUM(h0) AS BIGINT) AS sum_h,
        |       CAST(SUM(dur) AS BIGINT) AS sum_dur,
        |       CAST(MIN(media_id) AS BIGINT) AS min_id,
        |       CAST(MAX(media_id) AS BIGINT) AS max_id
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin) { (s, d) =>
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(mediaFilesDir(s, d))
      // header parse needs the column name the multimodal family uses;
      // `length` is the SOURCE's metadata column and must equal the
      // loaded content's size (a truncated read would break both this
      // implicit check and the oracle's 41-byte arithmetic).
      val parsed = Multimodal.extractMeta(
        files.select(
          regexp_extract(col("path"), "media_(\\d+)\\.bin", 1)
            .cast("long").as("media_id"),
          col("length"), col("content").as("bytes")))
      parsed
        .select(col("media_id"), col("length"),
          // byte 1 is the kind tag (1=image 2=audio 3=video) — the one
          // header field extractMeta doesn't surface (the parquet-side
          // multimodal rows carry `kind` as a column already)
          conv(hex(expr("substring(bytes, 1, 1)")), 16, 10)
            .cast("int").as("kt"),
          col("meta.width").as("w"), col("meta.height").as("h"),
          col("meta.duration_ms").as("dur"))
        .withColumn("kind",
          element_at(array(lit("image"), lit("audio"), lit("video")), col("kt")))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_files"), sum(col("length")).as("total_bytes"),
          sum(col("w")).as("sum_w"), sum(col("h")).as("sum_h"),
          sum(col("dur")).as("sum_dur"),
          min(col("media_id")).as("min_id"), max(col("media_id")).as("max_id"))
        .orderBy("kind")
    },

    // SMALL-FILE COMPACTION — the lake-maintenance op (Delta/Iceberg
    // OPTIMIZE): a fragmented table (documents deliberately staged as
    // 64 splinter files — the streaming-ingest failure mode) compacts
    // to ≤4 range-clustered files via repartitionByRange(doc_id) +
    // write. The emitted row gates the THREE invariants compaction
    // must keep, not the sampled range boundaries (RangePartitioner
    // boundaries are sampling-dependent — hashing them would pin an
    // implementation detail): row conservation (count survives two
    // rewrites), the file bound (driver-side listing ≤ 4), and range
    // DISJOINTNESS across output files (per-file min/max from
    // input_file_name(), sorted, each min strictly above the previous
    // max — the property that makes later doc_id range scans touch one
    // file). Oracle states the fixture count and TRUE for both gates.
    "layout_compact" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
        |       TRUE AS files_ok, TRUE AS disjoint_ok
        |FROM read_parquet('{sfDir}/documents.parquet')""".stripMargin) { (s, d) =>
      val fragDir = Q.stageDir("graft_compact", d,
        "frag_" + Q.corpusFingerprint(s, s"$d/documents.parquet"))
      val compactDir = fragDir + "_out"
      Q.once(compactDir) {
        T.documents(s, d).repartition(64)
          .write.mode("overwrite").parquet(fragDir)
        s.read.parquet(fragDir)
          .repartitionByRange(4, col("doc_id"))
          .write.mode("overwrite").parquet(compactDir)
        compactDir
      }
      val nFiles = new java.io.File(compactDir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      // the per-file summary is a ≤4-row frame: the unpartitioned
      // lag-window below is a single-task operation over 4 rows, not a
      // scale concern
      val byLo = org.apache.spark.sql.expressions.Window.orderBy("lo")
      val disjoint = s.read.parquet(compactDir)
        .groupBy(input_file_name().as("f"))
        .agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
          count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
        .withColumn("prev_hi", lag(col("hi"), 1).over(byLo))
        .agg(sum("n").as("n_rows"), sum("nd").as("n_ids"),
          bool_and(col("prev_hi").isNull || col("prev_hi") < col("lo"))
            .as("disjoint_ok"))
      disjoint.select(col("n_rows"), col("n_ids"),
        lit(nFiles <= 4).as("files_ok"), col("disjoint_ok"))
    },

    // DYNAMIC PARTITION PRUNING — the star-schema planner feature
    // scan_partition_prune's STATIC PartitionFilters row cannot show:
    // here the fact's partition predicate is not in the query text at
    // all. The dim is the priorities used by a small customer set —
    // filtered on o_custkey, a NON-join column, so constraint
    // inference cannot derive any static partition predicate — and at
    // runtime Spark turns the dim's broadcast into a
    // dynamicpruningexpression on the partitioned scan (plan-pinned):
    // partition directories for priorities outside the dim are never
    // listed or read. At 100 TB this is the date-dim join that reads
    // 3 of 2000 day partitions; without DPP the fact scan is full.
    // The oracle replays the join semantics off the unpartitioned
    // original.
    "scan_dpp" -> Q(
      """WITH dim AS (
        |  SELECT DISTINCT o_orderpriority AS prio
        |  FROM read_parquet('{sfDir}/orders.parquet') WHERE o_custkey <= 5)
        |SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS sum_price
        |FROM read_parquet('{sfDir}/orders.parquet') o
        |JOIN dim ON o.o_orderpriority = dim.prio
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Q.stageDir("graft_dpp", d,
        "hive_" + Q.corpusFingerprint(s, s"$d/orders.parquet"))
      Q.once(dir) {
        T.orders(s, d).select("o_custkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
        dir
      }
      val dim = T.orders(s, d)
        .filter(col("o_custkey") <= 5)
        .select(col("o_orderpriority").as("prio")).distinct()
      s.read.parquet(dir)
        .join(broadcast(dim), col("o_orderpriority") === col("prio"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Q.dec4(sum(Q.dec2(col("o_totalprice")))).as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // DATA-QUALITY CONSTRAINT SUITE (the Deequ operating model): the
    // nightly gate every large pipeline runs before publishing a
    // table. Eight constraints — completeness, range membership, value
    // domain, sign, date bounds, conditional (discount < price rule),
    // and referential integrity — computed in ONE aggregation pass
    // over the fact (each metric is a conditional-count fraction, so
    // the whole suite is a single two-phase agg, not eight scans) plus
    // one broadcast-semi pass for the FK containment; the 1-row metric
    // vectors cross-join and EXPLODE map-side into the (rule, metric,
    // passed) report rows. Fractions are integer-count divisions
    // (exact in doubles, deterministic across engines), rounded once.
    // At 100 TB the shape is unchanged: one scan + one broadcast
    // probe, metrics merge as partial sums.
    "dq_check" -> Q(
      """WITH t AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CASE WHEN l_quantity IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS c_complete,
        |    CAST(SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) AS DOUBLE) AS c_qty,
        |    CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS c_price,
        |    CAST(SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) AS DOUBLE) AS c_disc,
        |    CAST(SUM(CASE WHEN l_tax >= 0 AND l_tax <= 0.08 THEN 1 ELSE 0 END) AS DOUBLE) AS c_tax,
        |    CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS DOUBLE) AS c_flag,
        |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
        |                   AND l_shipdate < TIMESTAMP '2002-01-01' THEN 1 ELSE 0 END) AS DOUBLE) AS c_date
        |  FROM read_parquet('{sfDir}/lineitem.parquet')),
        |r AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS c_ref
        |  FROM read_parquet('{sfDir}/lineitem.parquet') l
        |  WHERE l.l_partkey IN (SELECT p_partkey FROM read_parquet('{sfDir}/part.parquet')))
        |SELECT rule, CAST(ROUND(metric, 6) AS DECIMAL(18,6)) AS metric,
        |       metric = 1.0 AS passed
        |FROM (
        |  SELECT 'complete_quantity' AS rule, c_complete / n AS metric FROM t
        |  UNION ALL SELECT 'range_quantity', c_qty / n FROM t
        |  UNION ALL SELECT 'positive_price', c_price / n FROM t
        |  UNION ALL SELECT 'range_discount', c_disc / n FROM t
        |  UNION ALL SELECT 'range_tax', c_tax / n FROM t
        |  UNION ALL SELECT 'domain_returnflag', c_flag / n FROM t
        |  UNION ALL SELECT 'bounds_shipdate', c_date / n FROM t
        |  UNION ALL SELECT 'ref_partkey', r.c_ref / t.n FROM t, r)
        |ORDER BY rule""".stripMargin) { (s, d) =>
      def frac(cond: org.apache.spark.sql.Column) =
        sum(when(cond, 1L).otherwise(0L)).cast("double")
      val t = T.lineitem(s, d).agg(
        count(lit(1)).cast("double").as("n"),
        frac(col("l_quantity").isNotNull).as("c_complete"),
        frac(col("l_quantity") >= 1 && col("l_quantity") <= 50).as("c_qty"),
        frac(col("l_extendedprice") > 0).as("c_price"),
        frac(col("l_discount") >= 0 && col("l_discount") <= 0.1).as("c_disc"),
        frac(col("l_tax") >= 0 && col("l_tax") <= 0.08).as("c_tax"),
        frac(col("l_returnflag").isin("A", "N", "R")).as("c_flag"),
        frac(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
             col("l_shipdate") < lit("2002-01-01").cast("timestamp")).as("c_date"))
      val r = T.lineitem(s, d).select("l_partkey")
        .join(broadcast(T.part(s, d).select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .agg(count(lit(1)).cast("double").as("c_ref"))
      t.crossJoin(broadcast(r))
        .select(explode(array(
          struct(lit("complete_quantity").as("rule"), (col("c_complete") / col("n")).as("metric")),
          struct(lit("range_quantity").as("rule"), (col("c_qty") / col("n")).as("metric")),
          struct(lit("positive_price").as("rule"), (col("c_price") / col("n")).as("metric")),
          struct(lit("range_discount").as("rule"), (col("c_disc") / col("n")).as("metric")),
          struct(lit("range_tax").as("rule"), (col("c_tax") / col("n")).as("metric")),
          struct(lit("domain_returnflag").as("rule"), (col("c_flag") / col("n")).as("metric")),
          struct(lit("bounds_shipdate").as("rule"), (col("c_date") / col("n")).as("metric")),
          struct(lit("ref_partkey").as("rule"), (col("c_ref") / col("n")).as("metric"))))
          .as("x"))
        .select(col("x.rule").as("rule"),
          round(col("x.metric"), 6).cast(org.apache.spark.sql.types.DecimalType(18, 6))
            .as("metric"),
          (col("x.metric") === 1.0).as("passed"))
        .orderBy("rule")
    },

    // PARAMETERIZED SQL (Spark 4's named parameter markers) — the API
    // surface row next to sql_pipe: the same filtered two-phase
    // aggregate, but the literals arrive as :named parameters through
    // spark.sql(query, args) instead of being spliced into the text —
    // the injection-safe path a query service uses. The pin is that
    // the parameter binder is wired and answer-identical to the
    // inlined-literal oracle.
    "sql_params" -> Q(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS sum_qty
        |FROM read_parquet('{sfDir}/lineitem.parquet')
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_quantity < 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      T.lineitem(s, d).createOrReplaceTempView("graft_params_lineitem")
      s.sql(
        """SELECT l_returnflag, count(*) AS n,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS sum_qty
          |FROM graft_params_lineitem
          |WHERE l_shipdate >= :cutoff AND l_quantity < :maxq
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
        Map("cutoff" -> java.sql.Timestamp.valueOf("1997-01-01 00:00:00"),
            "maxq" -> Integer.valueOf(25)))
    }
  )
}
