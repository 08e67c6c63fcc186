package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guards for the scale story (SURVEY §4): these fail if a
  * future edit silently loses predicate pushdown, column pruning, the
  * broadcast strategy, partial aggregation, or the top-k operator —
  * regressions invisible to correctness tests but fatal at 100 TB.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE settles on the final plan
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString() + "\n" + qe.toString()
  }

  test("scan_prune reads only the two projected columns") {
    val p = planOf("scan_prune")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("filter_cmp pushes predicates into the parquet scan") {
    val p = planOf("filter_cmp")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThan(l_shipdate") || p.contains("Or(And("), p)
  }

  test("join_broadcast plans a BroadcastHashJoin (no shuffle of the big side)") {
    assert(planOf("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("agg_pricing runs two-phase hash aggregation (map-side combine)") {
    val p = planOf("agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_"), p) // partial aggregate functions present
  }

  test("limit_topk uses TakeOrderedAndProject, not a global sort") {
    assert(planOf("limit_topk").contains("TakeOrderedAndProject"))
  }

  test("sample_bottomk samples via per-partition heaps, not a global sort") {
    // Bottom-k by hash priority must compile to TakeOrderedAndProject —
    // k-row heaps per partition, driver merges P·k rows. A plan with a
    // global Sort would shuffle the full table to sample 100 rows.
    val p = planOf("sample_bottomk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("agg_sketch_merge merges sketches at the rollup, never rescans") {
    // One scan of customer; the region level must re-aggregate the
    // nation-level HLL sketches (hll_union_agg), not recount the raw
    // rows: at most one FileScan of customer in the PHYSICAL plan
    // (planOf appends the logical dumps, where the scan repeats).
    val df = SparkEntry.queries("agg_sketch_merge")(spark, sf)
    df.collect()
    // Final-plan section only: AQE's toString appends the initial plan,
    // which would double-count the scan.
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert("customer\\.parquet".r.findAllIn(p).size <= 1, p)
    assert(p.contains("hll_union_agg"), p)
  }

  test("join_theta keeps the equi-key hash/sort-merge join (no nested loop)") {
    val p = planOf("join_theta")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("relational queries stay inside whole-stage codegen") {
    for (q <- Seq("agg_pricing", "project_expr", "filter_cmp")) {
      val p = planOf(q)
      // codegen'd stages print as "*(n) Operator" in the plan string
      assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined,
        s"$q lost codegen:\n$p")
    }
  }

  test("agg_histogram aggregates two-phase over at most 10 groups") {
    val p = planOf("agg_histogram")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_"), p)
  }

  test("join_null_safe plans <=> as a genuine equi-join key, not a nested loop") {
    // Spark rewrites the null-safe equality to hashable
    // (coalesce(k), isnull(k)) composite keys — the property that keeps
    // the unknown-bucket join usable at scale. A regression to
    // BroadcastNestedLoopJoin/CartesianProduct would be quadratic.
    val p = planOf("join_null_safe")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("coalesce("), p) // the null-safe key rewrite
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("sim_range_search broadcasts the queries; the corpus is never key-shuffled") {
    // Radius search at small query count = one map-side corpus scan
    // against broadcast queries: the similarity threshold rides INSIDE
    // the join condition (no post-join materialization), the query-side
    // filter is pushed to its scan, and the only exchange left is the
    // final presentation sort.
    val df = SparkEntry.queries("sim_range_search")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LessThan(vec_id,8)"), p) // query filter at the scan
    assert(!p.contains("Exchange hashpartitioning"), p) // corpus un-shuffled
  }

  test("scan_csv_malformed quarantines bad rows in one parse pass") {
    // PERMISSIVE + corrupt-column rollup must stay a single csv scan
    // with map-side partial aggregation — a second scan would double the
    // ingest cost the mode exists to avoid.
    val df = SparkEntry.queries("scan_csv_malformed")(spark, sf)
    df.collect()
    // AQE's toString appends the initial plan; count scans in the final only.
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("FileScan csv".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_"), p)
  }

  test("join_spatial joins on grid-cell keys with the haversine as residual") {
    // The 2D banding contract: candidates come from a HASH join on the
    // (clat, clon) cell key — the exact distance runs only inside the
    // join as a residual — and never from a nested loop over all pairs
    // (which is what the DuckDB oracle deliberately computes).
    val p = planOf("join_spatial")
    assert(p.contains("HashJoin [clat"), p)
    assert(p.contains("ASIN"), p) // exact distance rides the join residual
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("agg_cooccur generates pairs from baskets — no join, one fact shuffle") {
    // Pairs must come from the per-order collect_set inside the map task
    // (fan-out bounded by basket size), never a self-join: the plan has
    // exactly one order-keyed exchange feeding a Generate, no Join node
    // at all, and a bounded-heap k-cut. (The self-join form measured the
    // same on the fixture but carries an extra exchange + broadcast
    // build at scale.)
    val df = SparkEntry.queries("agg_cooccur")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject(limit=20"), p)
  }

  test("embed_quantize is map-only: no hash exchange, no join") {
    // Per-vector scalar quantization must stay inside the scan's map
    // task — scale, codes, and l1 are all row-local arithmetic. The only
    // allowed exchange is the output-determinism range sort; a hash
    // exchange or join would mean the quantizer is shuffling a corpus it
    // never needs to move (at 100 TB the whole point is one read pass).
    val df = SparkEntry.queries("embed_quantize")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("cdc_diff is one co-partitioned full-outer join, no nested loop") {
    // The snapshot diff must be a single key-equi full outer join (SMJ
    // or shuffled hash) — the classification is a projection over its
    // null pattern. A nested loop or a second join would break the
    // one-shuffle contract that makes the diff linear at scale.
    val df = SparkEntry.queries("cdc_diff")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("FullOuter"), p)
    assert("Join".r.findAllIn(p).size <= 2, p) // one join node (+AQE echo)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("ts_outlier_mad broadcasts the stats frames; the fact is never join-shuffled") {
    // The ≤20-row med/mad aggregates must ride BroadcastExchanges back
    // onto the fact: left to statistics Spark broadcasts the tiny
    // fixture FACT instead (backwards at scale), and a shuffle join on
    // a 20-value key would funnel the corpus through 20 reducers. The
    // only hash exchanges allowed are the percentile aggregates' own
    // partial-buffer moves.
    val df = SparkEntry.queries("ts_outlier_mad")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // both broadcast builds are aggregate outputs, not the raw fact
    assert(!p.contains("BroadcastExchange HashedRelationBroadcastMode(List(input[0, string, true]),false)")
      || "percentile".r.findAllIn(p).size >= 2, p)
  }

  test("win_sliding_distinct semi-joins the day set as a broadcast") {
    // The actual-day set is tiny and must broadcast; the ×7 fan-out
    // stays a Generate (map-side), and the distinct count is two-phase
    // (pre-distinct on (day, user) below the final count exchange).
    val df = SparkEntry.queries("win_sliding_distinct")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("Generate explode(sequence"), p)
    assert(p.contains("partial_count(distinct"), p)
  }

  test("eval_confusion broadcasts centroid arrays; distances never explode the corpus") {
    // The |labels|-row centroid-array frame must ride a broadcast into
    // the distance cross; the ONLY Generate in the plan is the centroid
    // BUILD's position rollup (the corpus side stays array-native, so
    // the 64x row inflation never crosses a wire); and the per-vector
    // argmin is a plain aggregate — no Window machinery at all.
    val df = SparkEntry.queries("eval_confusion")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert("Generate posexplode".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("agg_auc is join-free: rollup, one window over the collapsed domain, agg") {
    // The rank-sum AUC must never join or self-join the fact: one
    // (seg, score) rollup exchange, one per-seg window exchange over the
    // COLLAPSED score domain, and the final ordering exchange — any Join
    // node would mean the quadratic pair form sneaked back in.
    val df = SparkEntry.queries("agg_auc")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), p)
    assert("Window \\[sum".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("ts_resample broadcasts the tiny extent, never shuffles it") {
    // The calendar derives from a 1-row (lo, hi) aggregate — it must ride
    // a BroadcastExchange; shuffling it would serialize the gap-fill.
    assert(planOf("ts_resample").contains("BroadcastExchange"))
  }

  test("win_ratio_to_report is one partition-sort, no extra exchange") {
    val df = SparkEntry.queries("win_ratio_to_report")(spark, sf)
    df.collect()
    // AQE's toString prints final + initial plans; count in the final only.
    val full = df.queryExecution.executedPlan.toString()
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("Window"), p)
    // one hash exchange for the window partitioning (plus the final range
    // sort) — a second would mean the ratio projection re-shuffled.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("topk_group_exec plans the custom operator with a clustered exchange") {
    val p = planOf("topk_group_exec")
    assert(p.contains("TopKPerGroup"), p)
  }

  test("agg_quantiles: one window exchange feeds the two-phase final agg") {
    val df = SparkEntry.queries("agg_quantiles")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("Window"), p)
    // rank assignment and the group aggregate share the same hash
    // partitioning on o_orderpriority — a second hash exchange would mean
    // the quantile pick re-shuffled rows it already had clustered.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("agg_mode aggregates before its window (counts shuffle, parts don't)") {
    val p = planOf("agg_mode")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Window"), p)
  }

  test("join_salted pins a shuffled hash join on (key, salt) — no broadcast") {
    val p = planOf("join_salted")
    assert(p.contains("ShuffledHashJoin"))
    assert(p.contains("BuildRight"), "replicated (salted ×8) side must be the build side")
    assert(!p.contains("BroadcastHashJoin"),
      "a broadcast would defeat the salting exercise")
  }

  test("join_bloom builds the bloom once and prunes the probe BELOW the join") {
    val df = SparkEntry.queries("join_bloom")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // the filter is built by a one-time aggregate inside a scalar subquery…
    assert(p.contains("bloom_filter_agg"), p)
    // …whose result is REUSED by every consumer — a Catalyst change that
    // re-planned the subquery per consumer would keep the oracle green
    // while re-running the dim aggregate, destroying the point.
    assert(p.contains("ReusedSubquery"), p)
    // and might_contain drops probe rows between the join and the fact
    // scan — i.e. BEFORE the join, which is the whole shuffle-volume claim.
    val join = p.indexOf("BroadcastHashJoin")
    val probeScan = p.indexOf("lineitem.parquet")
    assert(join >= 0 && probeScan > join, p)
    assert(p.substring(join, probeScan).contains("might_contain"), p)
  }

  test("merge_upsert: windows compact only the delta; the base is never shuffled") {
    val df = SparkEntry.queries("merge_upsert")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // every window partitions by the DELTA key — a window over the base
    // would be the repeated-full-base-window regression this pins against
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val deltaSpecs = "windowspecdefinition\\(key#".r.findAllIn(p).size
    assert(specs > 0 && specs == deltaSpecs, p)
    // latest-wins is rank-limit-pushed: only the per-key winner survives
    // the map side (Partial WindowGroupLimit below the exchange)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains(", Partial"), p)
    // big-base/small-delta: the compacted delta broadcasts into a left
    // join; the base streams through with NO exchange on the merge key
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
    assert(!p.contains("Exchange hashpartitioning(c_custkey"), p)
  }

  test("agg_argminmax is one two-phase aggregate, zero window exchanges") {
    val df = SparkEntry.queries("agg_argminmax")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // partial max_by/min_by run before the exchange — one (value, id)
    // struct per group and phase crosses the shuffle
    assert(p.contains("partial_max_by") && p.contains("partial_min_by"), p)
    // the struct buffer forces SortAggregate; still exactly two phases
    assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).size == 2, p)
    // and the window-free claim: no windowspecdefinition anywhere,
    // exactly one hash exchange (the group-by) in the whole plan
    assert(!p.contains("windowspecdefinition"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("join_band: the band join is a hash join on buckets, never a nested loop") {
    val p = planOf("join_band")
    // the whole point of the floor-bucket rewrite: an equi-join backbone
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin"), p)
    // with the exact band residual applied as a post-join filter
    assert(p.contains("abs((s_acctbal"), p)
  }

  test("text_decontam: benchmark grams broadcast into a semi join (no shuffle of train grams)") {
    val p = planOf("text_decontam")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("pack_sequences: the packing window is per-shard, never global") {
    val p = planOf("pack_sequences")
    assert("windowspecdefinition\\(source#".r.findFirstIn(p).isDefined, p)
    // no empty-partition-spec window (the single-partition killer)
    assert(!"windowspecdefinition\\(\\[\\]".r.findFirstIn(p).isDefined, p)
  }

  test("sim_ann_pq: bounded-heap shortlist + broadcast LUT, rerank only the shortlist") {
    val p = planOf("sim_ann_pq")
    // the ADC shortlist runs as the custom bounded-heap operator, not a
    // full per-query sort
    assert(p.contains("TopKPerGroup ["), p)
    // the query LUT and codebooks arrive by broadcast — the corpus-side
    // codes are never shuffled to build candidates
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("scan_partition_prune: the priority predicate becomes a PartitionFilter") {
    val p = planOf("scan_partition_prune")
    // pruning happens at the directory level, before any I/O
    assert(p.contains("PartitionFilters: [isnotnull(o_orderpriority") ||
      p.contains("PartitionFilters: [(o_orderpriority"), p)
    assert(p.contains("(o_orderpriority#") && p.contains("= 1-URGENT"), p)
  }

  test("ts_interp: both gap-fill windows partition per user, never globally") {
    val p = planOf("ts_interp")
    assert("windowspecdefinition\\(user_id#".r.findAllIn(p).nonEmpty, p)
    assert(!"windowspecdefinition\\(\\[\\]".r.findFirstIn(p).isDefined &&
      !"windowspecdefinition\\(, ".r.findFirstIn(p).isDefined, p)
  }

  test("win_ewma: all eight lags share one window operator (one sort, one pass)") {
    val df = SparkEntry.queries("win_ewma")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==").head
    assert("Window \\[".r.findAllIn(p).size == 1, p)
    assert("lag\\(c#".r.findAllIn(p).size >= 7, p)
  }

  test("scan_jdbc reads the database as a partitioned scan, not one task") {
    val p = planOf("scan_jdbc")
    assert(p.contains("numPartitions=4"), p)
  }

  test("sample_pergroup runs on the bounded-heap operator, not a window") {
    val p = planOf("sample_pergroup")
    assert(p.contains("TopKPerGroup"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("sample_temperature never key-shuffles the corpus") {
    val df = SparkEntry.queries("sample_temperature")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==").head
    // thresholds arrive by broadcast; the documents scan streams into the
    // join and the only hash exchanges carry per-language partial aggs
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(doc_id"), p)
    assert(p.contains("partial_"), p) // two-phase rollup
  }

  test("text_surprisal: equi-join backbone, two-phase aggs, no cartesian") {
    val p = planOf("text_surprisal")
    // the only cross-shaped join allowed is the broadcast 1-row total
    // (scalar attach); the vocab join itself must stay an equi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("dedup_cross_source: LSH equi-join backbone, no nested loop on pairs") {
    val p = planOf("dedup_cross_source")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("dedup_substring: one gram shuffle, no join back, no cartesian") {
    val p = planOf("dedup_substring")
    // first-occurrence is a window over the gram partition (min struct),
    // not a groupBy+join-back; islands/rollup ride the doc_id exchange
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(gram#"), p)
  }

  test("dedup_semantic: LSH equi-join candidates, never all-pairs") {
    val p = planOf("dedup_semantic")
    // the candidate generator must stay a bucket equi-join — an
    // all-pairs fallback would show a cartesian/NLJ over embeddings
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_dockey: map-side canonicalization, two-phase distinct agg") {
    val p = planOf("text_dockey")
    assert(!p.contains("Exchange hashpartitioning(doc_id"), p) // never doc-keyed
    assert(p.contains("partial_"), p) // distinct + count run two-phase
  }

  test("sample_quality: map-side scoring, corpus never key-shuffled") {
    val p = planOf("sample_quality")
    assert(!p.contains("Exchange hashpartitioning(doc_id"), p) // never doc-keyed
    assert(p.contains("partial_"), p) // source rollup runs two-phase
  }

  test("graph_triangles orients edges by degree, not id (bounded fan-out)") {
    val p = planOf("graph_triangles")
    // the orientation picks each edge's source as the min-(dg, v, o)
    // struct over the degree-attached melt — id-orientation (the
    // unbounded-hub regression) would have no degree column feeding a
    // min(struct(dg, ...)) aggregate anywhere in the plan
    // (no no-cartesian pin here: the final 1-row stats × 1-row triangle
    // count cross join is legitimate and its physical form is AQE's call)
    assert("min\\(struct\\(dg".r.findFirstIn(p).isDefined, p)
  }

  test("sql_q5 keeps every join hashed (no nested loop) and pushes the date filter") {
    val p = planOf("sql_q5")
    // the 6-table star must never degrade to a cartesian/NLJ — the
    // same-nation predicate is an equi-key pair, not a residual-only join
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // region/nation/customer dimension edges are broadcast at this SF
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    // the year slice reaches the (bucketed) orders parquet scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    // lineitem scan prunes to the four needed columns — r14: the scan
    // reads the staged bucketed table, whose column order differs from
    // the raw parquet; pruning still applies.
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_extendedprice:double,l_suppkey:bigint,l_discount:double>"), p)
  }

  test("sql_q18 pre-aggregates below the joins and cuts with TakeOrderedAndProject") {
    val p = planOf("sql_q18")
    // the HAVING rollup runs as a two-phase aggregate BEFORE any join
    // (the lineitem fact is reduced to qualifying orderkeys first)
    assert(p.contains("partial_sum(cast(l_quantity"), p)
    assert(p.contains("TakeOrderedAndProject(limit=100"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("multimodal_dedup digests map-side and shuffles only (digest, id) pairs") {
    val p = planOf("multimodal_dedup")
    // contents dimension is broadcast into the id range (corpus build
    // never shuffles), and the dedup rollup is two-phase: the digest is
    // computed below the partial aggregate, so the bytes column never
    // crosses an exchange
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_min"), p)
    assert(p.contains("sha2(bytes"), p)
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(digest")
    assert(exchangeIdx >= 0, p)
    assert(!p.substring(0, exchangeIdx).contains("sha2(bytes"),
      "digest must be computed below (after in plan-print order) the exchange:\n" + p)
  }

  test("win_count_distinct shares one user_id exchange between both windows") {
    val p = planOf("win_count_distinct")
    val cut = p.indexOf("== Initial Plan ==")
    val exec = if (cut >= 0) p.substring(0, cut) else p
    // the first-occurrence-flag window (ordered by type) and the running
    // sum window (ordered by time) must reuse a single hash exchange on
    // user_id — the workaround costs one shuffle + two sorts, never two
    // shuffles
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(exec).size == 1, p)
    assert("Window \\[".r.findAllIn(exec).size == 2, p)
  }

  test("sql_q21 scans the fact once and needs no self-join above the fact join") {
    val p = planOf("sql_q21")
    val cut = p.indexOf("== Initial Plan ==")
    val exec = if (cut >= 0) p.substring(0, cut) else p
    // the correlated-subquery rewrite collapses BOTH existence tests
    // into the per-order rollup (the unique late supplier rides the
    // aggregate as a struct), so the only join in the plan is the
    // lineitem-orders attach: one fact scan, exactly one join node, no
    // exchange reuse required, bounded-heap top-k
    assert("FileScan parquet.*lineitem".r.findAllIn(exec).size == 1, p)
    assert("Join".r.findAllIn(exec).size == 1, p)
    assert(!exec.contains("ReusedExchange"), p)
    assert(exec.contains("TakeOrderedAndProject(limit=100"), p)
    // Round-13: the fact join serves from the staged BUCKETED layout
    // (Extra10.bucketedTables), so the fact never crosses the wire at
    // all — both scans arrive HashPartitioning(orderkey, 8) and the
    // join plus BOTH per-order rollups run exchange-free (clustering
    // on a grouping-key subset satisfies the distribution). The one
    // exchange left in the whole plan is the ≤|suppliers|-row final
    // rollup on the extracted suppkey.
    assert("Bucketed: true".r.findAllIn(exec).size == 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(exec).size == 1, p)
    assert(!exec.contains("Exchange hashpartitioning(l_orderkey")
      && !exec.contains("Exchange hashpartitioning(o_orderkey"), p)
  }

  test("sql_q15 computes the per-supplier aggregate once (max branch reuses)") {
    val p = planOf("sql_q15")
    val cut = p.indexOf("== Initial Plan ==")
    val exec = if (cut >= 0) p.substring(0, cut) else p
    // the scalar-subquery max and the join probe are the same aggregate
    // subtree; the plan must serve the second branch from the first's
    // shuffle files — one lineitem scan, one l_suppkey exchange, a
    // ReusedExchange under the max. (The explicit isnotnull(l_suppkey)
    // in the query exists solely to keep the two subtrees bit-identical
    // — the probe branch's join would otherwise infer it one-sided and
    // kill the reuse.)
    assert("FileScan parquet.*lineitem".r.findAllIn(exec).size == 1, p)
    assert(exec.contains("ReusedExchange"), p)
  }

  test("sql_q17 decorrelates the per-part average with broadcast pruning") {
    val p = planOf("sql_q17")
    val cut = p.indexOf("== Initial Plan ==")
    val exec = if (cut >= 0) p.substring(0, cut) else p
    // the avg scan must be pruned by the filtered part keys BEFORE its
    // groupBy (a LeftSemi broadcast on both fact scans — thresholds are
    // computed only for qualifying parts), the threshold compare rides
    // the equi join as a residual (no nested loop), and the tiny part
    // set broadcasts once, reused by the second scan.
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(exec).size == 2, p)
    assert(!exec.contains("BroadcastNestedLoopJoin"), p)
    assert(exec.contains("ReusedExchange"), p)
  }

  test("sql_q11 computes the part-value aggregate once (threshold reuses)") {
    val p = planOf("sql_q11")
    val cut = p.indexOf("== Initial Plan ==")
    val exec = if (cut >= 0) p.substring(0, cut) else p
    // HAVING-against-scalar-subquery over the same aggregate: the mean
    // branch must read the probe branch's l_partkey exchange
    // (ReusedExchange), one lineitem scan total; the 1-row threshold
    // applies as a broadcast, never a shuffle.
    assert("FileScan parquet.*lineitem".r.findAllIn(exec).size == 1, p)
    assert(exec.contains("ReusedExchange"), p)
  }

  test("sql_q20 prunes both fact aggregations to red parts before grouping") {
    val p = planOf("sql_q20")
    val cut = p.indexOf("== Initial Plan ==")
    val exec = if (cut >= 0) p.substring(0, cut) else p
    // availability and demand aggregate ONLY qualifying parts: a
    // broadcast LeftSemi sits below each groupBy's exchange (2 fact
    // scans, each semi-filtered), the red-part broadcast is built once
    // and reused, and the final supplier membership is a semi join.
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(exec).size >= 3, p)
    assert(exec.contains("ReusedExchange"), p)
    assert(!exec.contains("BroadcastNestedLoopJoin"), p)
  }

  test("scan_dpp prunes partitions dynamically from the dim broadcast") {
    val p = planOf("scan_dpp")
    // the dim filters on a NON-join column, so no static partition
    // predicate can be inferred — the partitioned scan's pruning must
    // arrive as a dynamicpruningexpression fed by the join's broadcast
    assert(p.contains("dynamicpruning"), p)
    assert(!p.contains("o_orderpriority IN ("), p)
  }

  test("sql_q8 and sql_q9 serve the fact join bucketed: zero fact exchanges") {
    // Round-13: both queries' ONLY shuffle join is lineitem⋈orders on
    // orderkey (every dim side broadcasts), so serving the two fact
    // scans from the staged bucketed layout (Extra10.bucketedTables)
    // leaves exactly ONE hash exchange in the whole plan — the final
    // handful-of-groups rollup. Measured 0.85 → 0.66 s at sf0.1
    // (Q8Probe, alternated ×3, min). A regression here re-shuffles the
    // fact at 100 TB.
    for (q <- Seq("sql_q8", "sql_q9")) {
      val p = planOf(q)
      val cut = p.indexOf("== Initial Plan ==")
      val exec = if (cut >= 0) p.substring(0, cut) else p
      assert("Bucketed: true".r.findAllIn(exec).size == 2, s"$q: $p")
      assert("Exchange hashpartitioning".r.findAllIn(exec).size == 1, s"$q: $p")
      assert(exec.contains("SortMergeJoin"), s"$q: $p")
    }
  }

  test("sql_q5/q18/q4/q7 serve the fact join bucketed: zero orderkey exchanges") {
    // Round-14: the staged-layout serving extended to the rest of the
    // lineitem⋈orders band (Q14Probe A/B at sf0.1, alternated ×3, min:
    // q5 0.85→0.67, q18 0.52→0.29, q4 0.53→0.16, q7 0.53→0.40, all
    // byte-equal). The pin: both fact scans read Bucketed, and NO
    // orderkey-keyed exchange exists in the executed plan — the fact
    // never crosses the wire; remaining exchanges are dim- or
    // rollup-grain. A regression here re-shuffles the fact at 100 TB.
    for (q <- Seq("sql_q5", "sql_q18", "sql_q4", "sql_q7")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val full = df.queryExecution.executedPlan.toString()
      val cut = full.indexOf("== Initial Plan ==")
      val exec = if (cut >= 0) full.substring(0, cut) else full
      assert("Bucketed: true".r.findAllIn(exec).size == 2, s"$q: $full")
      assert(!"""Exchange hashpartitioning\((l_orderkey|o_orderkey)""".r
        .findFirstIn(exec).isDefined, s"$q: $full")
      assert(exec.contains("SortMergeJoin"), s"$q: $full")
    }
  }

  test("ANN shortlist path carries exactly ONE hash exchange, keyed on q_id") {
    // r16 exchange elimination, pinned r17 (VERDICT r16 #2): the
    // candidate relation repartitions on q_id ALONE, which satisfies the
    // (q_id, vec_id) replica-dedup grouping, the bounded-heap shortlist's
    // ClusteredDistribution(q_id) (TopKPerGroupExec preserves its child's
    // partitioning — the heap cut never moves rows) AND the final top-k's
    // clustering, all by the subset rule — so between the code-table scan
    // and the final cut there is exactly one shuffle. A second hash
    // exchange reappearing here (the rollup re-keying on both columns, or
    // TopKPerGroupExec losing its outputPartitioning override) would
    // re-shuffle every scored candidate at corpus scale.
    for (q <- Seq("sim_ann_int8", "sim_ann_pq", "sim_ann_ivfpq")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val full = df.queryExecution.executedPlan.toString()
      val cut = full.indexOf("== Initial Plan ==")
      val exec = if (cut >= 0) full.substring(0, cut) else full
      assert("Exchange hashpartitioning".r.findAllIn(exec).size == 1,
        s"$q: expected exactly one hash exchange\n$full")
      assert("Exchange hashpartitioning\\(q_id".r.findAllIn(exec).size == 1,
        s"$q: the one hash exchange must be keyed on q_id alone\n$full")
      // the only other allowed exchange is the final presentation sort
      assert("Exchange rangepartitioning".r.findAllIn(exec).size <= 1,
        s"$q: $full")
    }
  }

  test("graph label broadcast gate is data-derived, both branches planned") {
    // r17 (VERDICT r16 #6): node-sized label broadcasts default ON only
    // while the measured |V| bound fits
    // spark.graft.graph.broadcastLabels.maxNodes — past it (a 10⁹-node
    // graph would OOM the driver) the attach degrades to a shuffled
    // join. Pin both branches on graph_modularity; the explicit
    // broadcastLabels conf still overrides (louvain/LPA share the gate).
    def planWith(maxNodes: Option[String]): String = {
      maxNodes.foreach(spark.conf.set("spark.graft.graph.broadcastLabels.maxNodes", _))
      try planOf("graph_modularity")
      finally spark.conf.unset("spark.graft.graph.broadcastLabels.maxNodes")
    }
    // the real default bound (conf unset; fixture |V| far below it):
    // label attach broadcasts
    assert(planWith(None).contains("BroadcastHashJoin"))
    // bound forced below the fixture |V|: the gate plans NO label
    // broadcast — the attach is a shuffled join in the initial plan
    // (slower, never driver-fatal). AQE may still locally convert the
    // tiny fixture join back to broadcast at runtime, which is fine —
    // the gate's job is to stop PLANNING a driver-fatal broadcast, so
    // the pin reads the pre-runtime plan.
    val tight = planWith(Some("1"))
    val cut = tight.indexOf("== Initial Plan ==")
    assert(cut >= 0, tight)
    val initial = tight.substring(cut)
    assert(initial.contains("SortMergeJoin") ||
      initial.contains("ShuffledHashJoin"), initial)
  }

  test("graph_bfs/graph_sssp results read checkpointed rounds, never the corpus") {
    // The traversal contract (r14, RDD rounds since r15): rounds
    // materialize as persisted/checkpointed round state, so the RESULT
    // plan is a rollup over an RDD scan — the DataFrame-loop era
    // showed "Scan ExistingRDD", the RDD-round era shows the object
    // scan of the final distance RDD ("Scan[obj" + SerializeFromObject)
    // — and lineitem never appears: a FileScan-driven result plan
    // would mean the per-round lineage cut broke and every action
    // replays the whole expansion at 100 TB. The staged adjacency is
    // consumed during construction (partitioner-pinned persisted RDD —
    // ops/Bfs, Extra23.stagedGraphRdd).
    for (q <- Seq("graph_bfs", "graph_sssp")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString()
      val cut = p.indexOf("== Initial Plan ==")
      val exec = if (cut >= 0) p.substring(0, cut) else p
      assert(exec.contains("ExistingRDD") || exec.contains("Scan[obj"),
        s"$q: $p")
      assert(!exec.contains("lineitem.parquet"), s"$q result rescans the fact: $p")
    }
  }

  test("sample_dsir joins are all broadcast (the fixed-feature-space claim)") {
    // DSIR's scale trick is hashing features into a FIXED 4096-bucket
    // space: the scoring model broadcasts at ANY corpus size, so the
    // token stream must never be key-shuffled into a join — no
    // SortMergeJoin or ShuffledHashJoin anywhere (the model attach is a
    // BroadcastHashJoin; the two 1-row constant attaches are broadcast
    // loop joins). Losing this pin means the model join regressed into
    // shuffling the corpus at token grain.
    val p = planOf("sample_dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("text_bm25: bucketed tf serving, no corpus-grain doc_id re-shuffle") {
    // The BM25 side's scale contract (r14, staged form): tf serves from
    // the doc_id-BUCKETED staged table (the Lucene-segment analogue —
    // corpusStatsStaged), so dl and every doc-keyed score join ride the
    // storage partitioning and the optimizer must never insert a
    // doc_id exchange (one would mean the co-partitioning broke and
    // the corpus is being re-shuffled at 100 TB). df is computed only
    // for the query terms (the IN-filter must reach the tf scan) and
    // the final cut is the bounded-heap TopKPerGroup operator.
    val df = SparkEntry.queries("text_bm25")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString()
    // Scan only up to the FIRST "== Initial Plan ==" marker — initial-
    // plan dumps legitimately contain ENSURE exchanges AQE elided.
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) full.substring(0, cut) else full
    assert(p.contains("Bucketed: true"), full)
    assert(!p.contains("Exchange hashpartitioning(doc_id"), full)
    assert(p.contains("TopKPerGroup"), full)
    assert(p.contains("IN (spark,query") || p.contains("In(word"), full)
    assert(!p.contains("CartesianProduct"), full)
  }

  test("text_phrase: positional-index serving — bucketed tf, no doc_id exchange") {
    // The phrase query rides the positions column of the SAME staged
    // tf segment as text_bm25: the posting join must stay co-located
    // on the bucketed doc_id layout ((qid, doc_id) join keys ⊇ the
    // storage partitioning), the term tables broadcast, and the cut is
    // the bounded heap. A doc_id exchange here means the positional
    // index is being re-shuffled at corpus grain.
    val df = SparkEntry.queries("text_phrase")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString()
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) full.substring(0, cut) else full
    assert(p.contains("Bucketed: true"), full)
    assert(!p.contains("Exchange hashpartitioning(doc_id"), full)
    assert(p.contains("TopKPerGroup"), full)
    assert(p.contains("BroadcastHashJoin"), full)
  }

  test("text_proximity: same posting-serving contract as text_phrase") {
    // The sloppy-phrase sibling rides the identical two posting rows —
    // bucketed tf scan, broadcast term tables, co-located (qid, doc_id)
    // join, bounded-heap cut; the pair count is a nested HOF over the
    // position arrays, so no explode ever materializes pair rows.
    val df = SparkEntry.queries("text_proximity")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString()
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) full.substring(0, cut) else full
    assert(p.contains("Bucketed: true"), full)
    assert(!p.contains("Exchange hashpartitioning(doc_id"), full)
    assert(p.contains("TopKPerGroup"), full)
    assert(p.contains("BroadcastHashJoin"), full)
    assert(!p.contains("Generate"), full) // no explode on the pair path
  }

  test("sim_hybrid_rrf: lexical cut is the bounded heap, not a corpus-sized window") {
    // r15 (VERDICT r14 #6): the lexical more-like-this list must be
    // cut by TopKPerGroup BEFORE any rank window — the executed plan
    // carries at least two TopKPerGroup operators (lexical cut +
    // fusion cut), so every row_number window runs over ≤ nq·k rows.
    // A plan with only the fusion TopK means the lexical side
    // regressed to full per-query window sorts of the scored corpus —
    // the 8-partition skew bottleneck at 100× corpus. The bucketed tf
    // contract is shared with text_bm25 (no doc_id re-shuffle).
    val df = SparkEntry.queries("sim_hybrid_rrf")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString()
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) full.substring(0, cut) else full
    assert("TopKPerGroup".r.findAllIn(p).size >= 2, full)
    assert(!p.contains("Exchange hashpartitioning(doc_id"), full)
  }

  test("text_bpe_encode cuts trainer lineage and scans the corpus once") {
    // The 4-round trainer state must reach the encode join as a
    // checkpointed RDD (ExistingRDD), not as 4 rounds of re-derivation —
    // and the only parquet scan in the final plan is the (lang, word)
    // rollup branch; the vocab branch reads the cut state. A plan that
    // re-scans documents per round would multiply the corpus reads by
    // the merge count at scale.
    val df = SparkEntry.queries("text_bpe_encode")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(p.contains("ExistingRDD"), p)
    assert("documents\\.parquet".r.findAllIn(p).size <= 1, p)
  }

  test("graph_linkpred: join-free basket fan-out, bounded-heap cut") {
    // The RA score path's only join is the broadcast SEMI pre-filter
    // on query-adjacent basket ids (selective by the query contract):
    // the basket build is one pre-filtered fact shuffle, the query
    // filter and pair fan-out run inside each basket row (the RA
    // weight is the basket size — no degree join), and the top-5 cut
    // is the bounded heap. Any SortMergeJoin/ShuffledHashJoin means
    // the score path regressed to the edges⋈edges⋈degrees form,
    // which shuffles the fact three times.
    val df = SparkEntry.queries("graph_linkpred")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TopKPerGroup"), p)
  }

  test("text_collocations: broadcast vocabulary, top-20 is TakeOrdered") {
    // The unigram vocabulary (frequency-compressed, orders of magnitude
    // smaller than the corpus) must broadcast onto the bigram table —
    // a shuffled join would key-shuffle the bigram relation twice —
    // and the final cut is TakeOrderedAndProject, never a global sort.
    val p = planOf("text_collocations")
    val f = p.split("== Initial Plan ==")(0)
    assert(f.contains("BroadcastHashJoin"), p)
    assert(!f.contains("SortMergeJoin") && !f.contains("ShuffledHashJoin"), p)
    assert(f.contains("TakeOrderedAndProject"), p)
  }

  test("ts_changepoint: series stats broadcast, never a key-shuffled join") {
    // The per-series stats / peak / index frames are |series|-count
    // sized (5 rows here) — they must re-attach by broadcast; the one
    // full-data structure is the per-series window (the exact-CUSUM
    // semantic floor, scale path: two-pass distributed prefix scan).
    val p = planOf("ts_changepoint")
    val f = p.split("== Initial Plan ==")(0)
    assert(f.contains("BroadcastHashJoin"), p)
    assert(!f.contains("SortMergeJoin") && !f.contains("ShuffledHashJoin"), p)
    assert(f.contains("Window"), p)
  }

  test("eval_cohens_kappa: marginals and 1-row frames broadcast only") {
    // The corpus feeds three rollups (n/so, row marginals, column
    // marginals) whose results are ≤4 rows — every re-attach must be
    // a broadcast; any SortMergeJoin/ShuffledHashJoin means a
    // corpus-sized relation is being key-shuffled for a 4-row combine.
    val p = planOf("eval_cohens_kappa")
    val f = p.split("== Initial Plan ==")(0)
    assert(!f.contains("SortMergeJoin") && !f.contains("ShuffledHashJoin"), p)
    assert(!f.contains("CartesianProduct"), p)
  }

  test("ts_autocorr: all lags share ONE window (one sort, one pass)") {
    // The three leads must come out of a single Window operator — a
    // plan with one window per lag re-sorts every series three times.
    val df = SparkEntry.queries("ts_autocorr")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert("\\bWindow\\b".r.findAllIn(f).size == 1, f)
    assert(!f.contains("SortMergeJoin") && !f.contains("ShuffledHashJoin"), f)
  }

  test("agg_spearman: join-free collapsed joint domain, one corpus scan") {
    // Both rank computations are RANGE-frame windows over the distinct
    // (a, b) relation — no join of any kind exists, and the corpus is
    // scanned exactly once (the 8-stage rank-broadcast form this
    // replaced scanned it three times).
    val df = SparkEntry.queries("agg_spearman")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(!f.contains("Join"), f)
    assert("documents\\.parquet".r.findAllIn(f).size <= 1, f)
  }

  test("eval_recall_at_k: window over the collapsed score domain only") {
    // The hits clamp runs on the (seg, score) rollup — the one Window
    // sorts collapsed groups, never corpus rows (a per-row rank here
    // would be the skewed full-partition sort at 100×), and no join
    // of any kind exists after the single-rollup rework.
    val df = SparkEntry.queries("eval_recall_at_k")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert("\\bWindow\\b".r.findAllIn(f).size == 1, f)
    assert(!f.contains("Join"), f)
    assert("events\\.parquet".r.findAllIn(f).size <= 1, f)
  }

  test("agg_gini: collapsed value domain, no corpus re-sort, no join") {
    // The global window sorts only the distinct-value rollup; the
    // corpus is scanned once into that rollup and never range-sorted.
    val df = SparkEntry.queries("agg_gini")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(!f.contains("Join"), f)
    assert("documents\\.parquet".r.findAllIn(f).size <= 1, f)
    assert("\\bWindow\\b".r.findAllIn(f).size == 1, f)
  }

  test("ts_trending: one bucketed fact join, checkpointed rollup, heap cut") {
    // The conditional-aggregation rollup reaches both rank branches as
    // checkpointed state (ExistingRDD) — exactly one lineitem scan and
    // one exchange-free bucketed join exist in the whole plan — and
    // the final cut is TakeOrderedAndProject, never a global sort.
    val df = SparkEntry.queries("ts_trending")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(f.contains("ExistingRDD"), f)
    assert(f.contains("TakeOrderedAndProject"), f)
    assert("bkt_lineitem".r.findAllIn(f).size <= 1, f)
    // r16 (optimization round): the rank pass is scale-ADAPTIVE on the
    // footer-derived item-domain bound. At this spec's tiny SF the
    // single shared side-partitioned window is chosen (one window, no
    // range exchange, no range-sampling job) — every row_number window
    // must be side-partitioned, never fully unpartitioned.
    val sideRowNum =
      "row_number\\(\\) windowspecdefinition\\(side#\\d+L?"
        .r.findAllIn(f).size
    val bareRowNum = "row_number\\(\\) windowspecdefinition\\("
      .r.findAllIn(f).size
    assert(sideRowNum == bareRowNum && sideRowNum >= 1, f)
    assert(!f.contains("RangePartitioning"), f)
  }

  test("ts_trending above the domain bound: two-phase range rank, no single-partition exchange") {
    // Force the large-domain branch (twoPhaseMinRows=0) and pin the
    // scale form: every row_number window is PARTITIONED by
    // (side, range bucket) (parallel local sorts), never a global
    // single-sort window over the |parts| rollup, and no exchange in
    // the plan is single-partition (the ≤2K-row offset running sum
    // partitions by side).
    spark.conf.set("spark.graft.rank.twoPhaseMinRows", "0")
    try {
      val df = SparkEntry.queries("ts_trending")(spark, sf)
      df.collect()
      val f = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==")(0)
      val rowNumSpecs =
        "row_number\\(\\) windowspecdefinition\\(side#\\d+L?, bucket"
          .r.findAllIn(f).size
      val bareRowNum = "row_number\\(\\) windowspecdefinition\\("
        .r.findAllIn(f).size
      assert(rowNumSpecs == bareRowNum && rowNumSpecs >= 1, f)
      assert(!f.contains("Exchange SinglePartition"), f)
    } finally spark.conf.unset("spark.graft.rank.twoPhaseMinRows")
  }

  test("ts_cross_corr: join-free lag fan-out, one corpus scan") {
    // The lag pairing is a map-side explode + max-combine, never a
    // calendar self-join (which re-derives the corpus rollup once per
    // pruned column set), and the events file is scanned exactly once.
    val df = SparkEntry.queries("ts_cross_corr")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(!f.contains("Join"), f)
    assert("events\\.parquet".r.findAllIn(f).size <= 1, f)
  }

  test("graph_assortativity: one broadcast attach, bucket-served edges") {
    // The symmetry-folded form's only join is the broadcast degree
    // attach onto v; the edge scans ride the staged bucketed layout.
    // A SortMergeJoin/ShuffledHashJoin means the node-degree relation
    // is being key-shuffled against the full edge list.
    val df = SparkEntry.queries("graph_assortativity")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(f.contains("BroadcastHashJoin"), f)
    assert(!f.contains("SortMergeJoin") && !f.contains("ShuffledHashJoin"), f)
    assert(f.contains("Bucketed: true"), f)
  }

  /** Every parquet file any FileSourceScanExec in the (possibly
    * adaptive) executed plan would read — descends into AQE stages,
    * which collectLeaves treats as leaves.
    */
  private def scannedFiles(p: org.apache.spark.sql.execution.SparkPlan): Set[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Seq[String] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
      case other =>
        other.children.flatMap(walk) ++
          other.subqueries.flatMap(walk)
    }
    walk(p).map(_.replaceFirst("^file:/*", "/")).toSet
  }

  test("table_snapshot scan reads exactly the v2 manifest's files (time travel)") {
    // The scan's file set must BE the resolved manifest — v3's files
    // live in the same data directory and stay invisible (snapshot
    // isolation at the plan level, not just the row level).
    val root = graft.ops.SnapshotTable.stage(spark, sf)
    val df = SparkEntry.queries("table_snapshot")(spark, sf)
    df.collect()
    val scanned = scannedFiles(df.queryExecution.executedPlan)
    val want = graft.ops.SnapshotTable.snapshotFiles(root, 2).toSet
    assert(scanned == want,
      s"scan != manifest v2: extra=${scanned -- want}, missing=${want -- scanned}")
  }

  test("table_incremental scan touches only the files v2..v3 added") {
    val root = graft.ops.SnapshotTable.stage(spark, sf)
    val df = SparkEntry.queries("table_incremental")(spark, sf)
    df.collect()
    val scanned = scannedFiles(df.queryExecution.executedPlan)
    val v1 = graft.ops.SnapshotTable.snapshotFiles(root, 1).toSet
    val want = graft.ops.SnapshotTable.snapshotFiles(root, 3).toSet -- v1
    assert(scanned == want,
      s"scan != manifest diff: extra=${scanned -- want}, missing=${want -- scanned}")
  }

  test("table_compaction scan reads exactly the one compacted v4 file") {
    val root = graft.ops.SnapshotTable.stage(spark, sf)
    val df = SparkEntry.queries("table_compaction")(spark, sf)
    df.collect()
    val scanned = scannedFiles(df.queryExecution.executedPlan)
    val want = graft.ops.SnapshotTable
      .snapshotFiles(root, graft.ops.SnapshotTable.CompactedVersion).toSet
    assert(want.size == 1 && scanned == want,
      s"scan != compacted manifest: scanned=$scanned want=$want")
  }

  test("eval_reliability: one corpus pass, min-max PAVA over checkpointed bins") {
    // The ≤10-row bin rollup is cut with localCheckpoint: every PAVA
    // branch reads the cut state (ExistingRDD) and the events corpus
    // never appears in the executed plan's scans (it was consumed once,
    // materializing the checkpoint); both argmin/argmax windows carry a
    // WindowGroupLimit (rank-1 pushdown), and no window partitions by
    // anything data-sized (bins ≤ 10 by construction).
    val df = SparkEntry.queries("eval_reliability")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(f.contains("ExistingRDD"), f)
    assert(!f.contains("events.parquet"), f)
    assert("WindowGroupLimit".r.findAllIn(f).size >= 2, f)
  }

  test("eval_ndcg: collapsed score domain, one corpus scan, no per-row ranking") {
    // The NDCG assembly runs entirely on the (seg, score) rollup — one
    // events scan, exactly one window (the per-seg cumulative count
    // over the collapsed domain), never a row-level rank.
    val df = SparkEntry.queries("eval_ndcg_exact")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert("events\\.parquet".r.findAllIn(f).size <= 1, f)
    assert("\\bWindow\\b".r.findAllIn(f).size == 1, f)
    assert(!f.contains("row_number"), f)
  }

  test("graph_louvain1: broadcast label/degree attaches, cut argmax state, no cartesian") {
    val df = SparkEntry.queries("graph_louvain1")(spark, sf)
    df.collect()
    val f = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    // The only nested-loop joins allowed are the 1-row summary
    // combines (modularity/moves scalars crossJoined at the end).
    assert(f.contains("BroadcastHashJoin"), f)
    // The r16 dataflow rework cut the argmax behind a localCheckpoint
    // (mv feeds both the moves rollup and the l4 relabeling — without
    // the cut each consumer re-pays the candidate join + heap), so the
    // bounded-heap TopKPerGroup executes inside the checkpointed stage
    // and the FINAL plan reads its output as ExistingRDD (the
    // text_bpe_encode precedent). The heap form itself stays pinned by
    // the topk_group_exec operator test; this pin asserts the cut state
    // arrives as an RDD scan and no consumer regressed to a cartesian.
    assert(f.contains("ExistingRDD"), f)
    assert(!f.contains("CartesianProduct"), f)
  }

  test("every pinned query is in the PLANS.md dump set (dump ⊇ pins)") {
    // Self-maintaining: scan THIS spec's source for the queries its tests
    // pin (quoted names passed to planOf / queries) and require each to
    // appear in Plans.picks — so adding a pin without adding the
    // human-readable dump section fails here instead of drifting (the
    // round-5 lesson: win_ewma and ts_interp were pinned but absent from
    // PLANS.md).
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/test/scala/graft/PlanSpec.scala"))
    val pinned = """(?:planOf|queries)\("(\w+)"\)""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val dumped = Plans.picks.map(_._1).toSet
    assert(pinned.nonEmpty && pinned.contains("win_ewma")) // the scan works
    val missing = pinned -- dumped
    assert(missing.isEmpty,
      s"pinned but not in the Plans dump set: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("sim_ann_lsh constructs without launching a Spark job (footer-based tier pick)") {
    // r7 ran embs.count() at plan build to pick the LSH tier — an eager
    // job per construction. r8 reads the corpus size from the parquet
    // FOOTER on the driver (Q.parquetRowCount), so building the plan
    // runs nothing of ours. The ONE job Spark itself may run is
    // spark.read.parquet's schema inference (a footer-read task named
    // "parquet at Tables.scala" — every query pays it identically);
    // the pin is that NO OTHER job fires, i.e. no count/collect/scan.
    // (dedup_semantic also lost its tier count(), but its Components
    // stage still materializes the edge subgraph at build — the
    // documented iterative-solve contract — so only the pure-LSH query
    // can carry this pin.)
    @volatile var jobs = 0
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1
        descs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name)).getOrElse("?"))
      }
    }
    // Warm the memoized footer cache OUTSIDE the listened window? No —
    // the footer read must itself be jobless, so listen from a COLD
    // cache (fresh path string per test run is impossible — the cache is
    // per-JVM — but the first PlanSpec construction of sim_ann_lsh in
    // this suite happens here, before any planOf("sim_ann_lsh")).
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("sim_ann_lsh")(spark, sf)
      // Synchronous drain — the listener bus is async and a fixed sleep
      // would be a race (a late JobStart false-passes).
      org.apache.spark.sql.graft.listenerDrain(spark.sparkContext)
      val all = descs.toArray(Array.empty[String])
      assert(all.length == jobs, s"listener drain raced: $jobs vs $all")
      val other = all.filterNot(_.startsWith("parquet at Tables.scala"))
      assert(other.isEmpty,
        s"sim_ann_lsh construction launched non-schema job(s): " +
          other.mkString("; "))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("dedup_incremental never self-joins the corpus (no cartesian / nested loop)") {
    val p = planOf("dedup_incremental")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    // Asymmetry is pinned BEHAVIORALLY in OpsSpec (corpus-internal and
    // batch-internal duplicates must not flag); here we pin the plan
    // shape: every pair-generating join is an equi-join.
  }

  test("sql_q19 pushes the derived single-side disjunctions to BOTH scans") {
    val p = planOf("sql_q19")
    // the OR references both join sides, so neither branch is pushable
    // whole — Catalyst must derive the per-side OR-of-conjunctions and
    // push each to its scan, keeping the equi-key hash join (the
    // residual OR stays in the join condition).
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), Or(Or(And(EqualTo(p_brand,Brand#13)"), p)
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("sql_q10's top-20 is TakeOrderedAndProject over the aggregate") {
    val p = planOf("sql_q10")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p) // no global sort
  }

  test("no declared query contains a Scala UDF node") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString()
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF("),
        s"$name uses a UDF")
    }
  }
}
