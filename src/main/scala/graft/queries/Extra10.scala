package graft.queries

import graft.{Q, Tables => T}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-9 additions: three table-scale techniques the board did not yet
  * declare, each with an exactly-replayable DuckDB oracle —
  *
  *   - `sample_bottomk`: deterministic uniform sampling without
  *     replacement via bottom-k over a cryptographic row priority
  *     (the distributed-systems standard when `rand()` is banned for
  *     reproducibility: the sample is a pure function of the data).
  *   - `agg_sketch_merge`: re-aggregatable HLL sketches — build once at
  *     fine grain, MERGE (not recount) at coarse grain. At 100 TB this
  *     is the difference between one pass and one pass per rollup level.
  *   - `layout_bucketed`: bucketed table layout joined WITHOUT a
  *     shuffle — the co-located-join technique the brief names for big
  *     fact-fact joins (pre-shuffle once at write time, every
  *     subsequent join on the bucket key pays zero exchanges).
  *
  * Determinism contracts as established: integer/decimal arithmetic,
  * total output orders, no rand(), no UDFs.
  */
object Extra10 {

  /** Build (once per JVM × sfDir) the bucketed twin tables that
    * `layout_bucketed` joins. Bucketing is a WRITE-time property: both
    * fact tables are hash-clustered into the same number of buckets on
    * their join key, so a later equi-join on that key is already
    * co-partitioned and Catalyst elides both exchanges (EnsureRequirements
    * sees HashPartitioning(key, 8) on both sides). The staging path is
    * keyed by pid@host (no cross-process races) and the catalog check
    * memoizes within a session — the bench's three passes pay the write
    * once, which is exactly the production contract (layout is built at
    * ingest, amortized over every downstream join).
    */
  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    // tag folds in a corpus fingerprint (ADVICE r9): a driver fixture
    // refresh under the same path mid-process must key a re-stage, not
    // serve the old layout into the losslessness gate.
    val fp = graft.Q.corpusFingerprint(s, s"$d/orders.parquet") +
      graft.Q.corpusFingerprint(s, s"$d/lineitem.parquet")
    val tag = (d + "_" + fp).replaceAll("[^A-Za-z0-9]", "_")
    val base = Q.jvmStageRoot("graft_bkt") + s"/$tag"
    val to = s"bkt_orders_$tag"
    val tl = s"bkt_lineitem_$tag"
    // Column set = the union every bucketed-layout consumer needs
    // (layout_bucketed's priority/price rollup + sql_q21's lateness
    // columns + sql_q8/q9's part/discount/quantity/custkey columns,
    // r13) — the point of a staged layout is ONE write serving many
    // downstream joins, each pruning to its own columns at scan time.
    // Bucket count = session shuffle parallelism (r17): the constant 8
    // pinned every co-partitioned consumer join (sql_q8/q9/q18/q21,
    // layout_bucketed) to 8 tasks. Both tables stage in one session so
    // the counts always match; the repartition by the bucket column with
    // the bucket count writes exactly one file per bucket (guide §6).
    val nb = s.conf.get("spark.sql.shuffle.partitions").toInt
    if (!s.catalog.tableExists(to)) {
      T.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_orderdate", "o_custkey",
          "o_totalprice") // + r14: sql_q18's pass-through output column
        .repartition(nb, col("o_orderkey"))
        .write.format("parquet").bucketBy(nb, "o_orderkey")
        .mode("overwrite").option("path", s"$base/orders").saveAsTable(to)
    }
    if (!s.catalog.tableExists(tl)) {
      T.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_suppkey", "l_shipdate",
          "l_partkey", "l_discount", "l_quantity")
        .repartition(nb, col("l_orderkey")) // one file per bucket (r17)
        .write.format("parquet").bucketBy(nb, "l_orderkey")
        .mode("overwrite").option("path", s"$base/lineitem").saveAsTable(tl)
    }
    (to, tl)
  }

  val defs: Map[String, Q] = Map(

    // Deterministic uniform sample (bottom-k by hash priority): every row
    // gets priority = md5 of its primary key, and the sample is the k
    // rows with the smallest priorities — uniform without replacement,
    // reproducible byte-for-byte across engines and runs (the property
    // rand()-based sampling can never give a correctness gate). Scale
    // shape: ORDER BY pri LIMIT k compiles to TakeOrderedAndProject —
    // each partition keeps a k-row heap and the driver merges P·k rows;
    // no global sort, no full shuffle, one scan (pinned in PlanSpec).
    // This is also the streaming-mergeable form of reservoir sampling:
    // bottom-k sets union by keeping the k smallest of the union.
    "sample_bottomk" -> Q(
      """SELECT md5(concat_ws('_', CAST(l_orderkey AS VARCHAR),
        |                          CAST(l_linenumber AS VARCHAR))) AS pri,
        |       l_orderkey, l_linenumber
        |FROM read_parquet('{sfDir}/lineitem.parquet')
        |ORDER BY pri LIMIT 100""".stripMargin) { (s, d) =>
      T.lineitem(s, d)
        .select(
          md5(concat_ws("_", col("l_orderkey").cast("string"),
            col("l_linenumber").cast("string"))).as("pri"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy("pri").limit(100)
    },

    // Re-aggregatable distinct-count sketches (Apache DataSketches HLL,
    // native in Spark 4): per-nation customer sketches built at the fine
    // grain, then MERGED — hll_union_agg, not recounted — at the region
    // rollup. The 100 TB story: exact COUNT(DISTINCT) cannot
    // re-aggregate (distinct sets don't add), so every rollup level
    // costs another pass over the raw data; sketches are built once and
    // merge in kilobytes at any grain. The query carries its own
    // safety evidence (the agg_approx_distinct discipline): each region
    // row asserts the merged estimate lands within 5% of the exact
    // count, in exact integer arithmetic (×100 vs ×5 — no float ratio).
    // Exactness of n_exact: a customer belongs to exactly one nation,
    // so region-level distinct = Σ nation-level distinct.
    "agg_sketch_merge" -> Q(
      """SELECT r_name, COUNT(DISTINCT c_custkey) AS n_exact, TRUE AS hll_ok
        |FROM read_parquet('{sfDir}/customer.parquet') c
        |JOIN read_parquet('{sfDir}/nation.parquet') n ON c_nationkey = n_nationkey
        |JOIN read_parquet('{sfDir}/region.parquet') r ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      val cn = T.customer(s, d)
        .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      cn.groupBy("r_name", "n_nationkey")
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
          countDistinct(col("c_custkey")).as("nd"))
        .groupBy("r_name")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          sum("nd").as("n_exact"))
        .select(col("r_name"), col("n_exact"),
          (abs(col("est") - col("n_exact")) * 100 <= col("n_exact") * 5)
            .as("hll_ok"))
        .orderBy("r_name")
    },

    // Re-aggregatable MinHash (the agg_sketch_merge discipline for SET
    // similarity): per-document signatures roll up to PER-SOURCE
    // signatures by ELEMENT-WISE MIN — sig(A ∪ B) = min(sig(A), sig(B))
    // position-wise, the defining mergeability of MinHash — and the
    // merged signatures estimate every source-pair Jaccard from k=128
    // ints per source instead of the full shingle sets. The 100 TB
    // story: per-shard signatures are built once at ingest and merge in
    // kilobytes at any grain; the exact pairwise-source Jaccard (which
    // this query ALSO computes, as the gate) needs the full inverted
    // index every time. Each emitted pair asserts the estimate lands
    // within 0.2 of exact Jaccard in exact integer cross-multiplied
    // arithmetic (|m·u − inter·128|·5 ≤ u·128, u = |A∪B|) — ≥4σ of the
    // k=128 binomial stderr, and deterministic on the fixed fixture.
    // Pairs emitted where the shingle sets intersect; sources compare
    // lexicographically in both engines (ASCII byte order).
    "agg_minhash_merge" -> Q(
      """WITH w AS (SELECT doc_id, source,
        |             string_split(text, ' ') AS ws
        |           FROM read_parquet('{sfDir}/documents.parquet')),
        |s AS (SELECT source, list_distinct(
        |        [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |      FROM w WHERE len(ws) >= 3),
        |e AS (SELECT DISTINCT source, g
        |      FROM (SELECT source, unnest(sh) AS g FROM s)),
        |z AS (SELECT source, count(*) AS n FROM e GROUP BY source),
        |p AS (SELECT a.source AS s1, b.source AS s2, count(*) AS inter_n
        |      FROM e a JOIN e b ON a.g = b.g AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT s1, s2, CAST(inter_n AS BIGINT) AS inter_n,
        |       CAST(za.n AS BIGINT) AS a_n, CAST(zb.n AS BIGINT) AS b_n,
        |       TRUE AS est_ok
        |FROM p JOIN z za ON za.source = s1 JOIN z zb ON zb.source = s2
        |ORDER BY s1, s2""".stripMargin) { (s, d) =>
      // r14: the signature branch reads the STAGED shingle relation
      // shared with the dedup family (one corpus, one staged file).
      minhashMergeOf(s, T.documents(s, d)
        .select(col("doc_id"), col("source"), col("text")),
        stagedTag = Some(graft.Q.corpusTag(s, d, "documents")))
    },

    // VARIANT — Spark 4's semi-structured type (the open-format
    // replacement for string-JSON hot paths): parse_json lands the
    // payload once as a typed binary variant, and variant_get extracts
    // paths WITHOUT re-parsing the string per field — the at-scale win
    // over fn_json's get_json_object, which re-tokenizes the JSON text
    // on every extraction. Emits a typed field, a derived computation
    // on it, a schema probe (schema_of_variant), and a try-variant miss
    // (absent path → NULL, never an error). Oracle: DuckDB's JSON
    // extraction replays the same values; the schema probe's literal is
    // stated directly (props is uniformly {"k": int}).
    "fn_variant" -> Q(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 3 AS k3,
        |  'OBJECT<k: BIGINT>' AS vschema,
        |  CAST(NULL AS BIGINT) AS missing
        |FROM read_parquet('{sfDir}/events.parquet')
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      T.events(s, d)
        .select(col("event_id"), expr("parse_json(props)").as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          (expr("variant_get(v, '$.k', 'bigint')") * 3).as("k3"),
          expr("schema_of_variant(v)").as("vschema"),
          expr("try_variant_get(v, '$.nope', 'bigint')").as("missing"))
        .orderBy("event_id")
    },

    // Quantile-sketch safety gate (the profile_table discipline applied
    // to order statistics): exact per-group quantiles — which at 100 TB
    // cost a full sort or a high-memory exact percentile — next to the
    // mergeable approx_percentile sketch (Greenwald-Khanna, rank error
    // <= 1/accuracy), with each row asserting the sketch lands within 5%
    // of the exact value on every probed quantile. This is the evidence
    // that the sketch swap a production profiler makes is safe. Exact
    // values emitted ROUND-4 as DECIMAL: both engines interpolate the
    // same (n-1)*q order-statistic definition; the round pins the
    // representation. Residual ulp risk, accepted and documented
    // (ADVICE r9): Spark computes (1−g)·lo + g·hi, DuckDB lo + (hi−lo)·g
    // — algebraically equal, but the float evaluations can differ in the
    // last ulp, and ROUND-4 would split them only if a quantile landed
    // within ~1e−12 of a 4-decimal rounding boundary (probability ~1e−8
    // per value per fixture refresh — the same accepted exposure as
    // every other ROUND-4 gate on this board; a hit would show as a
    // single-row hash diff at exactly one quantile column).
    "agg_quantile_sketch" -> Q(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS DECIMAL(18,4)) AS q25,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.5),  4) AS DECIMAL(18,4)) AS q50,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS DECIMAL(18,4)) AS q75,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS DECIMAL(18,4)) AS q95,
        |  TRUE AS sketch_ok
        |FROM read_parquet('{sfDir}/lineitem.parquet')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      T.lineitem(s, d).groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))")
            .as("ex"),
          expr("approx_percentile(l_extendedprice, " +
            "array(0.25D, 0.5D, 0.75D, 0.95D), 1000)").as("ap"))
        .select(
          col("l_returnflag"), col("n"),
          round(element_at(col("ex"), 1), 4).cast(DecimalType(18, 4)).as("q25"),
          round(element_at(col("ex"), 2), 4).cast(DecimalType(18, 4)).as("q50"),
          round(element_at(col("ex"), 3), 4).cast(DecimalType(18, 4)).as("q75"),
          round(element_at(col("ex"), 4), 4).cast(DecimalType(18, 4)).as("q95"),
          expr("forall(zip_with(ex, cast(ap as array<double>), " +
            "(e, a) -> abs(e - a) <= e * 0.05D), x -> x)").as("sketch_ok"))
        .orderBy("l_returnflag")
    },

    // Tolerance-bounded as-of join (pandas merge_asof(tolerance=...),
    // kdb wj within-window): the latest earlier purchase per click, but
    // a match older than 1 hour is DISCARDED (nulled, row kept — left
    // semantics). The production need: joining sensor/trade streams
    // where a stale "most recent" row is worse than none. Same
    // union+window AsOfJoin core as join_asof; the tolerance is a pure
    // post-projection in the SAME floored-second arithmetic both
    // engines replay.
    "join_asof_tol" -> Q(
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) t, event_type
        |           FROM read_parquet('{sfDir}/events.parquet')),
        |c AS (SELECT user_id, event_id, t FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, t, MIN(event_id) AS p_event_id
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, t),
        |j AS (SELECT c.user_id, c.event_id AS click_id,
        |             CAST(FLOOR(epoch(c.t)) AS BIGINT) AS click_s,
        |             p.p_event_id, CAST(FLOOR(epoch(p.t)) AS BIGINT) AS p_s
        |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t >= p.t)
        |SELECT user_id, click_id, click_s,
        |       CASE WHEN click_s - p_s <= 3600 THEN p_event_id END AS p_event_id,
        |       CASE WHEN click_s - p_s <= 3600 THEN p_s END AS p_s
        |FROM j ORDER BY user_id, click_id""".stripMargin) { (s, d) =>
      val e = T.events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("pts"))
        .agg(min(col("event_id")).as("p_event_id"))
      val inTol = unix_timestamp(col("ts_us")) - unix_timestamp(col("asof_ts")) <= 3600
      graft.ops.AsOfJoin.joinAsOf(clicks, purchases, key = "user_id",
          leftTs = "ts_us", rightTs = "pts", rightVals = Seq("p_event_id"))
        .select(col("user_id"), col("click_id"),
          unix_timestamp(col("ts_us")).as("click_s"),
          when(inTol, col("p_event_id")).as("p_event_id"),
          when(inTol, unix_timestamp(col("asof_ts"))).as("p_s"))
        .orderBy("user_id", "click_id")
    },

    // Co-located join over bucketed layout: orders and lineitem are
    // written hash-clustered into 8 buckets on the join key (once, at
    // "ingest" — see bucketedTables), and the join then runs with ZERO
    // exchanges — both scans report Bucketed: true and EnsureRequirements
    // accepts their HashPartitioning directly (pinned in LayoutSpec; the
    // only exchange in the plan is the 5-group rollup above the join).
    // THE technique for repeated 100 TB fact-fact joins: the shuffle is
    // paid once at write time and amortized over every subsequent join,
    // instead of re-shuffling both sides per query. Oracle: DuckDB joins
    // the original parquet — the gate proves the bucketed layout is
    // lossless.
    "layout_bucketed" -> Q(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price
        |FROM read_parquet('{sfDir}/orders.parquet') o
        |JOIN read_parquet('{sfDir}/lineitem.parquet') l ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val (to, tl) = bucketedTables(s, d)
      // hint("merge"): at 100 TB both fact sides are far over any
      // broadcast threshold, so SortMergeJoin IS the production plan —
      // pin it here too, or the small fixture would broadcast the
      // orders side and the co-location evidence would never exercise.
      s.table(to).hint("merge")
        .join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Q.dec2(sum(Q.dec2(col("l_extendedprice")))).as("sum_price"))
        .orderBy("o_orderpriority")
    }
  )

  /** The agg_minhash_merge pipeline over an explicit (doc_id, source,
    * text) frame; the declared query binds the fixture table.
    *
    * Word convention: BOTH engines shingle the raw space-split (empty
    * tokens kept — the dedup_minhash convention; the oracle's
    * string_split replays Spark's split byte-for-byte). The exact side
    * fingerprints shingles at FULL xxhash64 width (the containment
    * discipline — 2⁶⁴ birthday bound; the sketch kernel's 2³¹ domain
    * would reach expected-1 cross-source collisions at |A|·|B| ≈ 2·10⁹,
    * too tight for an exactness gate).
    *
    * Exact-gate shape (round-10 rework, was the board's slowest query
    * at 2.46 s): ONE wide shuffle instead of three. The old form
    * shuffled the full distinct (source, g) relation three times — the
    * distinct itself, then both sides of a self-join on g — and the
    * join emitted its f²-per-gram pair rows post-shuffle. Now a single
    * groupBy(g).collect_set(source) pass carries everything:
    * partial_collect_set dedups (source, g) map-side (subsuming the old
    * distinct — ObjectHashAggregate partials are sets), and per gram
    * the ≤|sources| membership array comes back once. Sizes,
    * intersections and the pair explosion are then all MAP-SIDE over
    * that frame: |A| = Σ_g [A ∋ g] via explode+count (a
    * ≤20-row shuffle after partial agg), |A∩B| via the double explode
    * s1<s2 — the f(f−1)/2 pair rows are generated AND partial-
    * aggregated inside the map task (the (s1,s2) domain is 190, so each
    * task emits ≤190 rows into the pair shuffle; the f² blowup never
    * crosses the wire). Skew bound: the hottest gram's set is capped by
    * the SOURCE count (20), not by docs — a boilerplate shingle in
    * every document still collects to a 20-element array. (Two rejected
    * variants, both measured slower end-to-end at sf0.1: a per-gram
    * source BITMASK via bit_or — the codegen'd agg is faster but the
    * broadcast id-dim machinery around it costs more than it saves at
    * this dimension size (re-measured late r10 with the dim REMOVED —
    * bit index from the pinned `src<int>` naming, pairs/sizes off a
    * mask histogram: still parity-at-best, 1.64-1.79 vs 1.62 best-of-3;
    * the query's floor is the shingle scan + signature stages, not the
    * exact-gate aggregate class); and a shared persisted per-doc xxhash64 array
    * feeding both sides — Spark's columnar cache handles nested arrays
    * row-at-a-time, and the 2.8×-slower cached read lost to simply
    * recomputing the cheap codegen'd split+shingle+hash in each branch.)
    */
  private[graft] def minhashMergeOf(s: SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      stagedTag: Option[String] = None): org.apache.spark.sql.DataFrame = {
    // Round-11 rework: the r10 profile pinned ~1.1 s of the query as
    // FIXED STAGE OVERHEAD (the sf0.01 floor), not data work — so this
    // pass attacks stage count, not bytes. Everything downstream of the
    // two wide shuffles is ≤S²-row data (S = #sources = 20), so it all
    // collapses into ONE-ROW frames combined map-side:
    //  * exact gate: the per-gram source sets emit singles (s, NULL)
    //    and ordered pairs (s1, s2) in one projection → groupBy(s1,s2)
    //    counts → a GLOBAL aggregate folds the ≤210 rows into one row
    //    {sizes: map<source,n>, inters: [(s1,s2,inter_n)]}. This
    //    replaces the r10 persist (a barrier) + two filtered re-reads
    //    + two broadcast size-joins.
    //  * sketch side: per-source merged signatures (MinHashMergeAgg
    //    fold — the fold IS the mergeability claim; partial buffers are
    //    one 128-long array per (source × partition)) → a GLOBAL
    //    map_from_entries collapses the S rows into one row. The r10
    //    form computed this WHOLE branch TWICE (probe + broadcast side
    //    of a self-crossJoin, because persisting the S-row merge
    //    serialized the DAG and measured slower); the one-row collapse
    //    needs it ONCE and the 190-pair self-pairing happens inside a
    //    map-side explode over the map keys.
    // The two one-row frames meet in a 1×1 broadcast cross join; pair
    // rows, size lookups (element_at on the sizes map) and the
    // zip_with signature-match fold are then a single map-side
    // projection. Measured best-of-3 at sf0.1: 1.70 (r10 driver) →
    // ~1.0 s; the remaining cost is the two corpus scans (exact-gate
    // grams + signature grams — sharing them via a persisted hashed-
    // shingle relation re-measured SLOWER, the repo's columnar-cache-
    // on-arrays lesson) and their shuffles.
    val exactRow = Q.spreadBy(docs, "doc_id")
      .select(col("source"),
        explode(graft.ops.Sketches.shingles("text", 3)).as("g0"))
      .select(col("source"), xxhash64(col("g0")).as("g"))
      // NOT spreadBy'd (r17 negative result): unlike agg_cooccur's
      // basket stage, the per-gram pair fan-out is bounded by the
      // SOURCE count (≤210 partial rows per task), so AQE's byte-based
      // coalesce of this exchange costs nothing — the explicit spread
      // A/B'd equal-or-worse (1.42-1.54 bare vs 1.47-1.78 spread,
      // back-to-back QuickTime min-of-3).
      .groupBy("g").agg(collect_set(col("source")).as("srcs"))
      .select(explode(concat(
        expr("transform(srcs, x -> struct(x as s1, cast(null as string) as s2))"),
        expr("flatten(transform(srcs, x -> transform(filter(srcs, y -> x < y)," +
          " y -> struct(x as s1, y as s2))))"))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("cnt"))
      .agg(
        expr("map_from_entries(collect_list(struct(s1, cnt)) " +
          "filter (where s2 is null))").as("sizes"),
        expr("collect_list(struct(s1, s2, cnt)) " +
          "filter (where s2 is not null)").as("inters"))
    s.udf.register("minhash_merge", udaf(graft.functions.MinHashMergeAgg))
    // The signature branch's hashed-shingle relation is the SAME
    // (doc_id, hs) record the dedup family stages (r14) — with a tag it
    // reads the staged parquet instead of re-scanning the corpus. (The
    // r11 note above about a shared PERSISTED relation measuring slower
    // was about Spark's columnar CACHE of nested arrays; the staged
    // parquet read is the form that measured FASTER for minhashNearDups.
    // Here the warm win is modest — 1.21 → 1.14 s min, overlapping
    // run-to-run jitter — but it deletes one of the two corpus scans,
    // which is the unconditional trade at 100 TB.) The exact-gate
    // branch cannot share it: it fingerprints shingles at FULL
    // xxhash64 width.
    val sigs = stagedTag match {
      case Some(t) => graft.ops.Sketches
        .signaturesStaged(docs.select("doc_id", "text"), t, k = 128)
      case None => graft.ops.Sketches
        .signatures(docs.select("doc_id", "text"), k = 128)
    }
    val sigsRow = sigs
      .join(broadcast(docs.select("doc_id", "source")), "doc_id")
      .groupBy("source").agg(expr("minhash_merge(sig)").as("msig"))
      .agg(expr("map_from_entries(collect_list(struct(source, msig)))")
        .as("sigs"))
    exactRow.crossJoin(broadcast(sigsRow))
      .select(explode(col("inters")).as("i"), col("sizes"), col("sigs"))
      .select(col("i.s1").as("s1"), col("i.s2").as("s2"),
        col("i.cnt").as("inter_n"),
        element_at(col("sizes"), col("i.s1")).as("a_n"),
        element_at(col("sizes"), col("i.s2")).as("b_n"),
        expr("cast(size(filter(zip_with(element_at(sigs, i.s1), " +
          "element_at(sigs, i.s2), (x, y) -> x = y), b -> b)) as bigint)")
          .as("m"))
      .select(col("s1"), col("s2"), col("inter_n"), col("a_n"), col("b_n"),
        (abs(col("m") * (col("a_n") + col("b_n") - col("inter_n"))
          - col("inter_n") * 128) * 5
          <= (col("a_n") + col("b_n") - col("inter_n")) * 128).as("est_ok"))
      .orderBy("s1", "s2")
  }
}
