package graft.queries

import graft.{Q, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Round-10 additions, part 10: dirty-data ingest, the spatial radius
  * join (the 2D form of the join_band grid technique), and market-basket
  * pair co-occurrence. At 100 TB the question is never IF the raw feed
  * contains malformed records, only how the scan degrades: PERMISSIVE
  * parsing quarantines bad rows into a corrupt-record column in the same
  * single pass that parses the good ones — no second scan, no job
  * failure, and the bad rows stay addressable for a quarantine sink
  * instead of vanishing (DROPMALFORMED) or killing the job (FAILFAST).
  */
object Extra20 {

  /** The spatial radius join's declared shape, factored for the scale
    * probe: probe points explode to their 3×3 grid neighborhood, the
    * hash join runs on the cell key, the exact haversine rides as a
    * join residual. Inputs carry (key, lat, lon); cells are 1°×1°
    * (edge ≥ the 100 km radius in both axes inside the ±5° band).
    */
  def spatialPairsOf(supp: org.apache.spark.sql.DataFrame,
      cust: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("clat", floor(col("lat")).cast("int"))
      .withColumn("clon", floor(col("lon")).cast("int"))
    val c = cells(cust)
      .withColumnRenamed("lat", "c_lat").withColumnRenamed("lon", "c_lon")
    val sp = cells(supp)
      .withColumn("dlat", explode(sequence(lit(-1), lit(1))))
      .withColumn("dlon", explode(sequence(lit(-1), lit(1))))
      .select(col("s_suppkey"), col("lat").as("s_lat"), col("lon").as("s_lon"),
        (col("clat") + col("dlat")).as("clat"),
        (col("clon") + col("dlon")).as("clon"))
    sp.join(c, Seq("clat", "clon"))
      .select(col("s_suppkey"), col("c_custkey"), expr(
        """cast(floor((2 * 6371.0D * asin(sqrt(least(
          |  pow(sin(radians(c_lat - s_lat) / 2), 2)
          |  + cos(radians(s_lat)) * cos(radians(c_lat))
          |    * pow(sin(radians(c_lon - s_lon) / 2), 2),
          |  1.0D)))) * 1000.0D) as bigint)""".stripMargin).as("dist_m"))
      .filter(col("dist_m") <= 100000L)
  }

  /** The pair co-occurrence declared shape, factored for the scale
    * probe: per-key sorted basket sets in one fact shuffle, ordered
    * pairs by posexplode + strict-suffix slice, two-phase count.
    *
    * The basket exchange is spreadBy, not a bare groupBy (r17, VERDICT
    * r16 #3 — the query's negative 8-vs-32-core scaling): AQE sizes the
    * post-shuffle stage by BYTES (≈5 MB of set partials → 4 tasks at
    * sf0.1), but the stage's cost is the basket-squared pair GENERATE
    * downstream of it (StageProbe: 1984 ms of CPU serialized over those
    * 4 tasks — the whole board's worst compute-vs-bytes mismatch). The
    * explicit session-parallelism count keeps the fan-out stage wide;
    * the grouping keys ⊇ the spread key, so no second basket exchange
    * appears (subset rule), and at cluster scale the spread count is the
    * configured shuffle parallelism, not a local constant.
    */
  def cooccurOf(fact: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.Q.spreadBy(fact, "l_orderkey")
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "p1")))
      .select(col("p1"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n"))

  val defs: Map[String, Q] = Map(

    // MALFORMED-RECORD CSV SCAN — a deterministically dirtied feed
    // (every 13th record's numeric field is garbage) read with an
    // explicit schema + PERMISSIVE mode + columnNameOfCorruptRecord.
    // The single aggregate references BOTH data and corrupt columns on
    // purpose: Spark disallows queries projecting ONLY the internal
    // corrupt column (the parser would have pruned the raw line it
    // needs), and the one-pass good/bad/quarantine rollup is also
    // exactly the shape a production ingest gate wants — one scan,
    // map-side partials, a 1-row result. The oracle replays the
    // generator formulas from the clean table (the scan_binaryfile
    // precedent): 'bad' is defined by construction, so DuckDB states
    // the expected good/bad counts and good-row sums independently of
    // Spark's parser.
    "scan_csv_malformed" -> Q(
      """SELECT
        |  CAST(count(*) FILTER (o_orderkey % 13 <> 0) AS BIGINT) AS n_good,
        |  CAST(count(*) FILTER (o_orderkey % 13 = 0) AS BIGINT) AS n_bad,
        |  CAST(sum(o_custkey) FILTER (o_orderkey % 13 <> 0) AS BIGINT) AS sum_ck,
        |  CAST(count(DISTINCT o_orderpriority) FILTER (o_orderkey % 13 <> 0) AS BIGINT) AS n_prio
        |FROM read_parquet('{sfDir}/orders.parquet')""".stripMargin) { (s, d) =>
      val dir = Q.stageDir("graft_dirty", d,
        "csv_" + Q.corpusFingerprint(s, s"$d/orders.parquet"))
      Q.once(dir) {
        // one CSV line per order; every 13th gets an unparseable
        // custkey — written as plain text so the dirt survives exactly
        // as authored (the csv writer would quote/escape it away)
        T.orders(s, d).select(concat_ws(",",
            col("o_orderkey"),
            // the otherwise-branch is cast explicitly: ANSI CASE coercion
            // resolves STRING vs BIGINT to BIGINT and then fails casting
            // the dirt at runtime
            when(col("o_orderkey") % 13 === 0,
              concat(lit("bad_"), col("o_orderkey")))
              .otherwise(col("o_custkey").cast("string")),
            col("o_orderpriority")).as("value"))
          .write.mode("overwrite").text(dir)
        dir
      }
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("ck", LongType),
        StructField("prio", StringType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dir)
        .agg(
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          sum(when(col("_corrupt_record").isNull, col("ck"))).as("sum_ck"),
          countDistinct(when(col("_corrupt_record").isNull, col("prio"))).as("n_prio"))
    },

    // SPATIAL RADIUS JOIN — "every (supplier, customer) pair within
    // 100 km", the geo twin of join_band and the 2D instance of the
    // grid-bucketing technique: a raw distance join is quadratic, so
    // each probe point explodes to its 3×3 neighborhood of 1°×1° grid
    // cells (cell edge ≥ the radius in BOTH axes — 1° lat = 111.0 km,
    // 1° lon ≥ 110.9 km inside the synthesized ±5° band — so no
    // qualifying pair can sit more than one cell apart), candidates
    // come from a hash EQUI-join on the cell key, and the exact
    // haversine runs only on candidates. Points derive from the keys
    // in exact integer-then-half-degree arithmetic (replayable
    // byte-for-byte); the distance is the fn_geo floor-meters form —
    // FLOOR has no tie semantics, and the radius compares the floored
    // BIGINT on both engines, so an asin/cos last-ulp divergence
    // would need a true distance within ~1 m of the cut to flip a row
    // (the accepted fn_geo exposure). The oracle is the QUADRATIC
    // ground truth — candidates-vs-all-pairs is exactly what the grid
    // must not change. Scale: probes×(9·cell occupancy) candidates,
    // one equi-join shuffle, never |S|·|C|.
    "join_spatial" -> Q(
      """WITH c AS (SELECT c_custkey,
        |    (c_custkey % 10) - 4.5 AS lat, ((c_custkey * 7) % 40) - 19.5 AS lon
        |  FROM read_parquet('{sfDir}/customer.parquet')),
        |s AS (SELECT s_suppkey,
        |    (s_suppkey % 10) - 4.5 AS lat, ((s_suppkey * 11) % 40) - 19.5 AS lon
        |  FROM read_parquet('{sfDir}/supplier.parquet')),
        |p AS (SELECT s_suppkey, c_custkey,
        |    CAST(FLOOR(2 * 6371.0 * asin(sqrt(least(
        |      pow(sin(radians(c.lat - s.lat) / 2), 2)
        |      + cos(radians(s.lat)) * cos(radians(c.lat))
        |        * pow(sin(radians(c.lon - s.lon) / 2), 2),
        |    1.0))) * 1000.0) AS BIGINT) AS dist_m
        |  FROM s JOIN c ON TRUE)
        |SELECT s_suppkey, c_custkey, dist_m FROM p
        |WHERE dist_m <= 100000
        |ORDER BY s_suppkey, c_custkey""".stripMargin) { (s, d) =>
      def pts(df: org.apache.spark.sql.DataFrame, key: String, lonMul: Int) =
        df.select(col(key),
          (col(key) % 10 - 4.5).as("lat"),
          ((col(key) * lonMul) % 40 - 19.5).as("lon"))
      spatialPairsOf(
          pts(T.supplier(s, d), "s_suppkey", 11),
          pts(T.customer(s, d), "c_custkey", 7))
        .orderBy("s_suppkey", "c_custkey")
    },

    // MARKET-BASKET PAIR CO-OCCURRENCE — the support-counting first
    // step of association mining (and of co-click/co-view analytics):
    // which part PAIRS ship together in the most orders. The pair
    // explosion is a SAME-KEY self-join on the order key — its fan-out
    // is bounded by basket size squared (baskets are ≤7 lines here and
    // small everywhere), never by table size — followed by a two-phase
    // count and a bounded-heap top-k (TakeOrderedAndProject, no global
    // sort). The distinct-first projection matters: duplicate
    // (order, part) lines would inflate supports multiplicatively.
    // Tie-break is the full (n DESC, p1, p2) total order so the k-cut
    // is deterministic on both engines.
    "agg_cooccur" -> Q(
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey
        |           FROM read_parquet('{sfDir}/lineitem.parquet')),
        |p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
        |      FROM d a JOIN d b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2)
        |SELECT p1, p2, CAST(n AS BIGINT) AS n
        |FROM p ORDER BY n DESC, p1, p2 LIMIT 20""".stripMargin) { (s, d) =>
      // basket form, not a self-join: collect_set dedups (order, part)
      // map-side in the ONE fact shuffle, and the ordered pairs come
      // from each ≤basket-sized set inside the map task — no shuffled
      // second copy of the distinct frame. Pair generation is
      // posexplode-then-slice over the SORTED set (p1 pairs with the
      // suffix strictly after it), not a nested transform/filter
      // lambda: the HOF form allocates an array-of-struct-arrays per
      // basket and re-extracts pr.p1/pr.p2 before the aggregate, and
      // measured 2.19 s vs 1.55 s for this shape at sf0.1 warm (the
      // distinct self-join form: 1.94 s, and it carries a second
      // shuffled copy of the fact at cluster scale).
      cooccurOf(T.lineitem(s, d))
        .orderBy(desc("n"), col("p1"), col("p2"))
        .limit(20)
    }
  )
}
