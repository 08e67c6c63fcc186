package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for representative queries → PLANS.md,
  * the physical-plan evidence behind the scale-design claims (pushdown,
  * pruning, broadcast, two-phase agg, top-k). Regenerate with:
  * `sbt "runMain graft.Plans"`.
  */
object Plans {

  /** The dump set. INVARIANT (asserted by PlanSpec's "every pinned query
    * is in the PLANS.md dump set"): every query a PlanSpec test pins
    * must appear here, so the human-readable evidence can't drift behind
    * the machine-checked pins (the round-4/round-5 lesson — win_ewma and
    * ts_interp were pinned but missing from the dump).
    */
  val picks: Seq[(String, String)] = Seq(
    "scan_prune" -> "column pruning reaches the parquet ReadSchema",
    "filter_cmp" -> "predicates appear in PushedFilters",
    "project_expr" -> "pure projection stays inside one codegen stage",
    "join_broadcast" -> "dimension join is a BroadcastHashJoin",
    "agg_pricing" -> "two-phase HashAggregate (partial_ then final)",
    "agg_histogram" -> "bucketed rollup: two-phase agg over at most 10 groups",
    "agg_mode" -> "counts aggregate before the window (counts shuffle, parts don't)",
    "limit_topk" -> "global top-k is TakeOrderedAndProject",
    "join_theta" -> "equi-key kept: SortMergeJoin/ShuffledHashJoin + range post-filter",
    "sim_cosine_topk" -> "native codegen cosine kernel inside the pair join",
    "stream_tumbling" -> "windowed agg shape shared with the streaming plan",
    "ts_resample" -> "gap-fill calendar from a broadcast 1-row extent, never shuffled",
    "ts_interp" -> "linear interpolation: both gap-fill windows per user, never global",
    "win_ratio_to_report" -> "one partition-sort window, no extra exchange",
    "win_ewma" -> "all eight lags share one window operator (one sort, one pass)",
    "topk_group_exec" -> "custom TopKPerGroupExec (bounded heap) + its clustered exchange",
    "dedup_minhash" -> "banded LSH self-join + persisted single-scan shingle relation",
    "agg_quantiles" -> "rank window and final agg share one hash exchange",
    "sim_ann_lsh" -> "bucket equi-join candidates, skinny-pair dedup, broadcast re-attach",
    "join_salted" -> "salted ShuffledHashJoin: replicated build side, (key, salt) exchange",
    "dedup_keep_rep" -> "end-to-end dedup: LSH pairs + edges-only union-find labels + singleton anti-join",
    "join_bloom" -> "bloom pre-filter: scalar-subquery filter build, might_contain before the exact join",
    "merge_upsert" -> "CDC latest-wins: delta-only windows (rank-limit pushed), base streams un-shuffled into a broadcast left join",
    "agg_argminmax" -> "max_by/min_by: two-phase sort aggregate, one struct per group crosses the shuffle, no window",
    "join_band" -> "band join: floor-bucket equi-join (hash join, never nested loop) + exact residual filter",
    "text_decontam" -> "decontamination: distinct benchmark grams broadcast into a LEFT SEMI probe of train grams",
    "pack_sequences" -> "sequence packing: running-sum window partitioned per source shard, never global",
    "scan_partition_prune" -> "Hive-layout partition pruning: the predicate becomes a PartitionFilter",
    "scan_jdbc" -> "JDBC federation: key-range partitioned database scan (numPartitions=4)",
    "sample_temperature" -> "temperature sampling: broadcast thresholds, corpus never key-shuffled",
    "sample_pergroup" -> "deterministic per-group sample on the bounded-heap TopKPerGroup operator",
    "text_surprisal" -> "unigram surprisal: per-distinct-word ln, vocab equi-join, two-phase rollups",
    "dedup_cross_source" -> "contamination matrix: LSH pair pipeline + source attach, no cartesian",
    "graph_triangles" -> "triangle counting: degree-oriented edge list, two-path join + closing-edge join",
    "sim_ann_pq" -> "PQ/ADC search: broadcast LUT join, exact-decimal ADC sum, bounded-heap shortlist, rerank only the shortlist",
    "graph_pagerank" -> "PageRank: per-iteration rank-vector x edge-list join + keyed agg, all-integer arithmetic",
    "dedup_substring" -> "substring dedup: first-occurrence gram window (one shuffle), per-doc island merge",
    "dedup_semantic" -> "SemDeDup: LSH candidate pairs + threshold + edges-only components + singleton anti-join",
    "text_dockey" -> "URL canonicalization dedup keys: map-side parse/fold, one two-phase host rollup",
    "sample_quality" -> "per-doc importance sampling: map-side diversity score + hash admission, one source rollup",
    "dedup_incremental" -> "incremental dedup: asymmetric new-batch x corpus LSH band probe + 8-byte-digest exact layer; corpus never self-joined",
    "dedup_incremental_semantic" -> "embedding delta dedup: asymmetric sign-LSH probe into corpus bucket anchors, exact neighbor counts on candidates only",
    "profile_table" -> "single-pass profiling: one aggregation job for all 26 column stats, map-side explode into report rows",
    "dedup_containment" -> "containment dedup: df-capped inverted-index equi-join, ordered-pair counts, size attach on doc_id",
    "layout_zorder" -> "z-order layout: 1-row broadcast stats frame, map-side Morton key, 32-group two-phase rollup",
    "sim_ann_ivfpq" -> "IVF-PQ: broadcast centroids/codebooks/LUT, per-cell ADC equi-join touching probed cells only, bounded-heap shortlist + rerank",
    "sim_ann_int8" -> "IVF-SQ8: staged int8 code table, probed-cell equi-join, native code-cosine scoring, bounded-heap shortlist + fp32 rerank",
    "sim_ann_filtered" -> "filtered ANN: label denormalized into the staged code rows, predicate pre-filters compressed candidates before scoring",
    "text_bpe_merge" -> "iterative BPE: per-round vocab rollup, TakeOrdered(1) argmax broadcast back as the merge, lineage cut per round",
    "text_bpe_encode" -> "BPE encode: trained vocab reached via the checkpointed state (ExistingRDD), word-keyed join on the compressed (lang, word) rollup, one corpus scan",
    "sample_dsir" -> "DSIR importance filter: 4096-bucket hashed model broadcast into the token stream, every join broadcast, two keyed rollups",
    "sample_bottomk" -> "deterministic bottom-k sample: TakeOrderedAndProject over md5 priority, per-partition heaps, no global sort",
    "agg_sketch_merge" -> "re-aggregatable HLL: nation-level sketches built in one scan, region rollup merges sketches (hll_union_agg)",
    "layout_bucketed" -> "bucketed co-located join: both scans Bucketed: true, zero exchanges below the join",
    "sql_q5" -> "6-table star: all joins hashed, dims broadcast, date slice pushed to the orders scan",
    "sql_q18" -> "aggregate-below-join pre-filter + TakeOrderedAndProject(limit=100) final cut",
    "multimodal_dedup" -> "binary dedup: broadcast content build, map-side sha2, skinny (digest,id) shuffle",
    "win_count_distinct" -> "windowed distinct-count workaround: both windows share one user_id exchange (two sorts, one shuffle)",
    "sql_q21" -> "double-correlated-subquery rewrite served from the staged bucketed layout: fact join + both per-order rollups exchange-free, the only shuffle is the final supplier rollup",
    "sql_q8" -> "market share served from the bucketed layout: every dim broadcast, fact join exchange-free, one final-rollup exchange",
    "sql_q9" -> "product profit served from the bucketed layout: dims broadcast (non-sargable LIKE on the dim), fact join exchange-free, one final-rollup exchange",
    "layout_hilbert" -> "hilbert layout: native hilbert_index loop in one codegen stage, 1-row broadcast stats frame, 32-group two-phase rollup",
    "agg_bitmap_intersect" -> "exact cohort overlap: map-side partial bitmap pages, fixed-width pages on every exchange, ids cross only the fact join",
    "sql_q19" -> "disjunctive-predicate join: derived per-side OR pushed to both scans, equi-key hash join keeps the cross-side OR as residual",
    "sql_q10" -> "returned-item top-20: facts filtered before the orderkey join, TakeOrderedAndProject over the aggregated revenue",
    "sql_q15" -> "top supplier: the per-supplier aggregate computed once, max branch served by ReusedExchange, 1-row max broadcast to the probe",
    "sql_q17" -> "small-quantity revenue: per-part averages pruned to qualifying parts via broadcast semi joins, threshold as hash-join residual",
    "sql_q11" -> "important stock: HAVING vs scalar subquery over the same aggregate — mean branch on ReusedExchange, one fact scan",
    "sql_q20" -> "excess stock: both fact aggregations broadcast-semi pruned to red parts, supplier membership via semi join",
    "scan_dpp" -> "dynamic partition pruning: dim broadcast feeds a dynamicpruningexpression on the partitioned fact scan, no static predicate possible",
    "join_null_safe" -> "null-safe equality as hashable (coalesce, isnull) equi-join keys, never a nested loop",
    "sim_range_search" -> "radius search: broadcast queries, threshold inside the join condition, corpus never key-shuffled",
    "scan_csv_malformed" -> "PERMISSIVE dirty ingest: one csv scan, corrupt-column quarantine + good-row rollup in the same map-side pass",
    "join_spatial" -> "spatial radius join: 3x3 grid-cell probe explosion, hash join on the cell key, haversine as join residual — never all-pairs",
    "agg_cooccur" -> "market-basket pairs: per-order basket sets, map-side pair generation (no join), two-phase count, bounded-heap top-20",
    "embed_quantize" -> "int8 scalar quantization: map-only row-local arithmetic, zero hash exchanges, the one exchange is the output sort",
    "cdc_diff" -> "snapshot differential: one co-partitioned full-outer key join, classification as a projection over its null pattern",
    "ts_outlier_mad" -> "robust MAD outliers: 20-row med/mad stats broadcast onto the fact (never a 20-key shuffle join), exact integer-scaled order statistics",
    "win_sliding_distinct" -> "rolling 7-day distinct: map-side x7 day fan-out, broadcast semi-join on the actual-day set, two-phase distinct aggregate",
    "eval_confusion" -> "nearest-centroid eval: broadcast centroid join, codegen bigint distance sums, WindowGroupLimit argmin",
    "agg_auc" -> "rank-sum AUC: join-free, one (seg, score) rollup, one window over the collapsed score domain",
    "text_bm25" -> "Okapi BM25: one doc_id corpus spread, exchange-free tf/dl rollups, query-term df broadcast, bounded-heap top-10",
    "graph_bfs" -> "multi-source BFS: checkpointed level state (ExistingRDD), min rollup, staged bucketed edges consumed at construction",
    "graph_sssp" -> "bounded-hop weighted SSSP: min-compressed Bellman-Ford rounds as checkpointed state, exact integer distances",
    "text_phrase" -> "positional phrase retrieval: bucketed tf scan (no doc_id exchange), broadcast term tables, position-set intersect, bounded-heap top-10",
    "text_proximity" -> "sloppy-phrase proximity: same posting-join shape as text_phrase, nested-HOF pair count over the position arrays, bounded-heap top-10",
    "sim_hybrid_rrf" -> "hybrid RRF fusion: staged int8 dense top-10 + BM25 lexical side cut by TopKPerGroup BEFORE the rank window, pure-integer fusion",
    "graph_kcore" -> "k-core peel: RDD delta rounds over the pinned adjacency (ExistingRDD result), per-degree integer rollup",
    "graph_lpa" -> "label-propagation communities: synchronous RDD rounds (one combine shuffle each), community-size histogram rollup",
    "graph_modularity" -> "Newman modularity of the staged LPA labels: integer numerator assembly (no division in the gate), 1-row broadcast combines",
    "graph_linkpred" -> "RA link prediction: join-free basket fan-out (weight = basket size, no degree join), bounded-heap top-5 per query item",
    "text_collocations" -> "Dice collocations: two corpus rollups, broadcast vocabulary re-attach, top-20 TakeOrderedAndProject",
    "ts_changepoint" -> "CUSUM changepoint: one window per series, stats/peak/index frames broadcast, exact integer statistic",
    "eval_recall_at_k" -> "recall@k: order-free group clamp over the collapsed score domain, no per-row ranking",
    "eval_cohens_kappa" -> "Cohen's kappa: three corpus rollups, 4-row marginal combine broadcast, integer-factored gate",
    "ts_autocorr" -> "lagged autocorrelation: one window computes all three leads, map-side stack, exact power sums",
    "graph_assortativity" -> "degree assortativity: symmetry-folded power sums, one broadcast degree attach, bucket-served edges",
    "agg_spearman" -> "Spearman rho: join-free collapsed joint domain, RANGE-frame tie ranks, one corpus scan",
    "agg_gini" -> "Gini coefficient: collapsed value domain, integer-factored tie-corrected gate, one scan",
    "ts_cross_corr" -> "daily lead-lag cross-correlation: join-free lag fan-out + max-combine pairing, one corpus scan",
    "ts_trending" -> "two-snapshot rank movers: one bucketed fact join, checkpointed rollup feeds both rank branches, two-phase range-partitioned ranks",
    "table_snapshot" -> "manifest-resolved time travel: the scan reads exactly snapshot v2's file list, v3's files invisible",
    "table_incremental" -> "manifest-diff incremental read: scan touches only the files versions 2-3 added",
    "table_compaction" -> "post-OPTIMIZE read: the scan is exactly the one compacted file the v4 rewrite committed",
    "eval_reliability" -> "isotonic reliability: one corpus quantize+rollup, min-max PAVA over the checkpointed 10-bin domain",
    "eval_ndcg_exact" -> "NDCG@10: collapsed score domain, fixed integer log-weights, one window, no per-row ranking",
    "graph_louvain1" -> "Louvain local-move sweep: edge-bounded candidate join, broadcast community degrees, bounded-heap argmax")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // Extra args = ad-hoc mode: print those queries' executed plans to
    // stdout instead of regenerating PLANS.md.
    val adhoc = args.drop(1)
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (adhoc.nonEmpty) {
      adhoc.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        println(s"== $name ==\n${df.queryExecution.executedPlan}")
      }
      spark.stop()
      return
    }
    val picks = Plans.picks
    val out = new StringBuilder
    out ++= "# PLANS — physical plans of representative queries\n\n"
    out ++= s"Generated by `graft.Plans` on $sfDir. PlanSpec asserts the\n"
    out ++= "load-bearing properties; this file is the human-readable dump.\n"
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // settle AQE on the final plan
      out ++= s"\n## $name — $why\n\n```\n"
      out ++= df.queryExecution.executedPlan.toString()
      out ++= "```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"[plans] wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
