package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.classic.ExpressionUtils

import graft.functions.{CosineSimilarity, FirstCommonSorted, HilbertIndex, IntersectSizeSorted, MinHashSignature, SignLshBuckets, SimHash64, SquaredDistanceLong, UnicodeNormalize}
import graft.plans.{TopKPerGroupPlan, TopKPerGroupStrategy}

/** Bridge into Spark's `private[sql]` Expression↔Column surface for the
  * engine's native expressions. Lives under `org.apache.spark.sql` on
  * purpose — the standard pattern for Spark extension libraries that
  * expose custom Catalyst expressions as `Column`s without forcing
  * session-build-time extension wiring.
  */
object native {

  /** `cosine_similarity($"a", $"b")` as a Column. */
  def cosine_similarity(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Σ (a_i − b_i)² over two bigint arrays (common prefix; exact integer)
    * — the codegen'd form of `aggregate(zip_with(a, b, ...))` for the
    * eval family's quantized distance passes.
    */
  def sq_dist_long(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SquaredDistanceLong(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** First common element of two SORTED bigint arrays (null if none) —
    * the allocation-free form of `array_min(array_intersect(a, b))` for
    * exactly-once minimal-shared-key emission filters.
    */
  def first_common_sorted(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FirstCommonSorted(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** |A ∩ B| of two SORTED duplicate-free bigint arrays — the
    * allocation-free form of `size(array_intersect(a, b))` for the
    * dedup family's exact-overlap verify stages.
    */
  def intersect_size_sorted(a: Column, b: Column): Column =
    ExpressionUtils.column(
      IntersectSizeSorted(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Hilbert-curve index of two bigint coords on the 2^bits grid. */
  def hilbert_index(x: Column, y: Column, bits: Int): Column =
    ExpressionUtils.column(HilbertIndex(
      ExpressionUtils.expression(x), ExpressionUtils.expression(y), bits))

  /** Unicode normalization (form = NFC/NFD/NFKC/NFKD) of a string. */
  def normalize_unicode(s: Column, form: String): Column =
    ExpressionUtils.column(UnicodeNormalize(ExpressionUtils.expression(s), form))

  /** 64-bit SimHash over an array<bigint> of element hashes. */
  def simhash64(hashes: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(hashes)))

  /** MinHash signature (k permutations) over pre-hashed shingles. */
  def minhash_signature(hashes: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(hashes), k))

  /** Sign-LSH bucket per hash table (array of length `tables`). */
  def sign_lsh_buckets(emb: Column, nbits: Int, tables: Int): Column =
    ExpressionUtils.column(SignLshBuckets(ExpressionUtils.expression(emb), nbits, tables))

  /** Bloom-filter build aggregate (Spark's runtime-filter machinery,
    * reachable only through catalyst — it has no public Column/SQL
    * surface). `hashed` must be `xxhash64(key)`: the aggregate inserts
    * raw longs and [[might_contain]] probes with the same hash. Returns
    * the serialized filter as one binary value — kilobytes for millions
    * of keys, the cheapest broadcastable semi-join summary there is.
    */
  def bloom_filter_agg(hashed: Column, items: Long, bits: Long): Column =
    ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(hashed),
      Literal(items), Literal(bits)).toAggregateExpression())

  /** Membership probe against a [[bloom_filter_agg]] binary. May return
    * false positives (callers must re-verify with the exact join) but
    * never false negatives — safe as a pre-shuffle row filter. The bloom
    * side must be a constant or scalar subquery ([[scalar_subquery]]) —
    * the analyzer rejects a join-produced column here.
    */
  def might_contain(bloom: Column, hashed: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      ExpressionUtils.expression(bloom), ExpressionUtils.expression(hashed)))

  /** A 1-row/1-column DataFrame as a scalar-subquery expression — the
    * shape `might_contain` requires for its filter side (mirrors what
    * Spark's InjectRuntimeFilter builds internally). The subquery
    * executes once and its result is broadcast into the consuming
    * expression.
    */
  def scalar_subquery(df: DataFrame): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.queryExecution.analyzed))

  /** Top-k rows per group as the custom whole-operator plan
    * ([[graft.plans.TopKPerGroupPlan]]): bounded-heap per group instead
    * of the window form's full partition sort. `orderBy` must be a total
    * ordering (unique tie-break) for deterministic output; accepts
    * `col(...).desc/.asc` columns (bare columns default to ascending).
    * Lazily attaches the planner strategy to the session.
    */
  def top_k_per_group(df: DataFrame, groupCols: Seq[String],
      orderBy: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    // Registration is check-then-append on shared session state: take a
    // global lock so two threads building queries on one session can't
    // interleave (a duplicate strategy would be harmless, but the lost
    // write of the other thread's append would not be).
    native.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    }
    // Route the sort columns through the Dataset API's own analysis so
    // we receive fully-resolved catalyst SortOrders (a hand-built
    // SortOrder around a Column captures unconverted, non-serializable
    // ColumnNode internals).
    val sortNode = df.sort(orderBy: _*).queryExecution.analyzed.asInstanceOf[Sort]
    val child = sortNode.child
    // Resolve group columns with the session's resolver so name matching
    // follows spark.sql.caseSensitive like every other column lookup.
    val resolver = spark.sessionState.analyzer.resolver
    val group = groupCols.map(c => child.output.find(a => resolver(a.name, c))
      .getOrElse(throw new IllegalArgumentException(s"unknown group column $c")))
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      TopKPerGroupPlan(group, sortNode.order, k, child))
  }

  /** Test-visible view of what a `SparkSessionExtensions` instance would
    * inject (the builder hooks are `private[sql]`; this bridge lives in
    * the sql package on purpose).
    */
  def plannerStrategiesOf(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  /** Register `cosine_similarity` for SQL text in an existing session.
    * (New sessions can instead use `spark.sql.extensions=graft.GraftExtensions`.)
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
}
