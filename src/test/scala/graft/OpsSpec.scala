package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WeightedAvg
import org.apache.spark.sql.graft.{native => gnative}
import graft.ops.{AsOfJoin, Multimodal}

/** Custom Expression / Aggregator / as-of join / multimodal pipeline. */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("normalize_unicode: codegen'd DataFrame path matches the JDK driver-side") {
    import spark.implicits._
    val inputs = Seq(
      "plain ascii",
      "Caf\u00e9",            // precomposed e-acute
      "Cafe\u0301",           // e + combining acute
      "A\u030Angstro\u0308m", // combining ring + diaeresis
      "\ud83d\ude00 emoji",   // surrogate pair survives untouched
      "")
    val df = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    // runs inside WholeStageCodegen (no CodegenFallback on the expression)
    val got = df.select(col("id"), gnative.normalize_unicode(col("t"), "NFC").as("n"))
      .orderBy("id").collect().map(_.getString(1))
    val want = inputs.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == want)
    // the two byte-distinct spellings of "Café" fold to one form
    assert(got(1) == got(2))
    // null flows through, non-string input is rejected at analysis
    assert(df.select(gnative.normalize_unicode(lit(null).cast("string"), "NFC"))
      .collect()(0).isNullAt(0))
    intercept[Exception] {
      df.select(gnative.normalize_unicode(col("id"), "NFC")).collect()
    }
  }

  test("cosine_similarity expression: identity=1, orthogonal=0, matches lambda form") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.5f, -1.5f, 2.0f), Array(-1.0f, 0.25f, 0.75f))
    ).toDF("id", "a", "b")
    val lambda =
      """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        | / (sqrt(aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |  * sqrt(aggregate(b, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin
    val rows = df.select(col("id"),
      gnative.cosine_similarity(col("a"), col("b")).as("native"),
      expr(lambda).as("lam")).orderBy("id").collect()
    assert(math.abs(rows(0).getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(1)) < 1e-12)
    rows.foreach(r => assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9))
  }

  test("cosine_similarity works on real embeddings via SQL registration and codegen") {
    gnative.register(spark)
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("emb_cs")
    val r = spark.sql(
      """SELECT a.vec_id, cosine_similarity(a.embedding, b.embedding) AS sim
        |FROM emb_cs a JOIN emb_cs b ON b.vec_id = a.vec_id
        |ORDER BY a.vec_id LIMIT 3""".stripMargin).collect()
    r.foreach(row => assert(math.abs(row.getDouble(1) - 1.0) < 1e-9))
  }

  test("weighted_avg aggregator: exact result, partial+final merge") {
    import spark.implicits._
    spark.udf.register("weighted_avg", udaf(WeightedAvg))
    val df = Seq(("a", 1.0, 1.0), ("a", 3.0, 3.0), ("b", 10.0, 2.0), ("b", 20.0, 0.0))
      .toDF("k", "v", "w").repartition(4) // force merge across partitions
    df.createOrReplaceTempView("wa")
    val got = spark.sql(
      "SELECT k, weighted_avg(v, w) AS wa FROM wa GROUP BY k ORDER BY k")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("a") - 2.5) < 1e-12) // (1*1+3*3)/(1+3)
    assert(math.abs(got("b") - 10.0) < 1e-12)
  }

  test("as-of join attaches latest earlier right row per key; tolerance nulls stale") {
    import spark.implicits._
    def ts(s: Long) = new Timestamp(s * 1000L)
    val quotes = Seq( // key, ts, px
      ("A", ts(100), 10.0), ("A", ts(200), 11.0), ("A", ts(300), 12.0),
      ("B", ts(150), 99.0)).toDF("sym", "qts", "px")
    val trades = Seq(
      ("A", ts(250), 5L),  // latest quote at 200 → 11.0
      ("A", ts(300), 6L),  // exact-ts quote 300 → 12.0
      ("A", ts(50), 7L),   // nothing earlier → null
      ("B", ts(1000), 8L), // quote at 150 → 99.0 (stale by 850s)
      ("C", ts(500), 9L)   // no key match → null
    ).toDF("sym", "tts", "qty")

    val joined = AsOfJoin.joinAsOf(trades, quotes, key = "sym",
      leftTs = "tts", rightTs = "qts", rightVals = Seq("px"))
      .orderBy("sym", "tts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(joined.toSeq == Seq(
      ("A", 50L, None), ("A", 250L, Some(11.0)), ("A", 300L, Some(12.0)),
      ("B", 1000L, Some(99.0)), ("C", 500L, None)))

    // Forward direction: earliest quote AT-or-after each trade.
    val fwd = AsOfJoin.joinAsOf(trades, quotes, "sym", "tts", "qts",
      Seq("px"), direction = "forward")
      .orderBy("sym", "tts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq
    assert(fwd == Seq(
      ("A", 50L, Some(10.0)),   // next quote at 100
      ("A", 250L, Some(12.0)),  // next quote at 300
      ("A", 300L, Some(12.0)),  // exact-ts quote 300 visible forward too
      ("B", 1000L, None),       // nothing later than 150
      ("C", 500L, None)))
    val bounded = AsOfJoin.joinAsOf(trades, quotes, "sym", "tts", "qts",
      Seq("px"), toleranceMs = Some(100000L))
      .filter(col("sym") === "B").collect()
    assert(bounded.length == 1 && bounded.head.isNullAt(3)) // 850s > 100s tolerance

    // Nearest direction: closest either way; EQUAL distance prefers
    // backward (trade at 250 sits exactly between quotes 200 and 300).
    val near = AsOfJoin.joinAsOf(trades, quotes, "sym", "tts", "qts",
      Seq("px"), direction = "nearest")
      .orderBy("sym", "tts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq
    assert(near == Seq(
      ("A", 50L, Some(10.0)),   // only forward exists (100)
      ("A", 250L, Some(11.0)),  // TIE 200 vs 300 → backward wins
      ("A", 300L, Some(12.0)),  // exact hit
      ("B", 1000L, Some(99.0)), // only backward exists
      ("C", 500L, None)))       // no key match either way
  }

  test("as-of join: NULL timestamps mean no match, never a spurious one") {
    import spark.implicits._
    def ts(s: Long) = new Timestamp(s * 1000L)
    // A null-ts quote would sort nulls-first in the backward scan and
    // "match" every early trade; a null-ts trade would sort last in the
    // forward scan and grab the earliest quote. Both must be no-match.
    val quotes = Seq(("A", Option(ts(200)), 11.0), ("A", Option.empty[Timestamp], 99.0))
      .toDF("sym", "qts", "px")
    val trades = Seq(("A", Option(ts(100)), 1L), ("A", Option(ts(300)), 2L),
      ("A", Option.empty[Timestamp], 3L)).toDF("sym", "tts", "qty")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val got = AsOfJoin.joinAsOf(trades, quotes, "sym", "tts", "qts",
        Seq("px"), direction = dir)
        .collect()
        .map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
        .toMap
      val want = dir match {
        case "backward" => Map(1L -> None, 2L -> Some(11.0), 3L -> None)
        case "forward" => Map(1L -> Some(11.0), 2L -> None, 3L -> None)
        case _ => Map(1L -> Some(11.0), 2L -> Some(11.0), 3L -> None)
      }
      assert(got == want, s"direction=$dir")
    }
  }

  test("as-of join: duplicate right (key, ts) rows resolve to the greatest tuple in every direction") {
    import spark.implicits._
    def ts(s: Long) = new Timestamp(s * 1000L)
    // Three quotes share (A, 100): the greatest (px, ts) struct — px=30
    // — must win under every direction and any input/shuffle order
    // (reversed input exercises that the pick isn't arrival order).
    val dupQuotes = Seq(
      ("A", ts(100), 20.0), ("A", ts(100), 30.0), ("A", ts(100), 10.0))
    val trades = Seq(("A", ts(100), 1L), ("A", ts(400), 2L)).toDF("sym", "tts", "qty")
    for (qs <- Seq(dupQuotes, dupQuotes.reverse)) {
      val quotes = qs.toDF("sym", "qts", "px")
      for (dir <- Seq("backward", "forward", "nearest")) {
        val got = AsOfJoin.joinAsOf(trades, quotes, "sym", "tts", "qts",
          Seq("px"), direction = dir)
          .orderBy("tts")
          .collect().map(r => Option(r.get(3)).map(_.asInstanceOf[Double])).toSeq
        val want = dir match {
          case "forward" => Seq(Some(30.0), None) // nothing at/after 400
          case _ => Seq(Some(30.0), Some(30.0))
        }
        assert(got == want, s"direction=$dir input=${qs.map(_._3)}")
      }
    }
  }

  test("JdbcFlowSink writes and reads back through embedded Derby") {
    val media = graft.streaming.FlowPipeline // touch to keep import pattern
    val url = "jdbc:derby:memory:flowsdb;create=true"
    import spark.implicits._
    val df = Seq((1L, "10.0.0.1", 100L), (2L, "10.0.0.2", 200L))
      .toDF("flow_id", "src_addr", "bytes")
    new graft.streaming.FlowPipeline.JdbcFlowSink(url, "FLOWS").write(df, 0L)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "FLOWS").load()
    assert(back.count() == 2)
    assert(back.select("src_addr").collect().map(_.getString(0)).toSet ==
      Set("10.0.0.1", "10.0.0.2"))
  }

  test("top_k_per_group: custom exec node in the plan, equals the window form") {
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
      .select("c_nationkey", "c_custkey", "c_acctbal")
    val topk = gnative.top_k_per_group(customer, Seq("c_nationkey"),
      Seq(col("c_acctbal").desc, col("c_custkey").asc), 3)
    val rows = topk.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    // The custom operator actually planned (not a window fallback).
    assert(topk.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    // Equivalence against the window form it replaces.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val expect = customer.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    assert(rows == expect)
    assert(rows.nonEmpty)
  }

  test("top_k_per_group: over-budget tasks degrade to the spill sort path, same result") {
    // A 1-byte budget forces every task over budget immediately, so the
    // whole input flows through the external-sort degrade path; the
    // result must be identical to the in-memory hash-heap path.
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
      .select("c_nationkey", "c_custkey", "c_acctbal")
    def run(): Set[(Long, Long)] =
      gnative.top_k_per_group(customer, Seq("c_nationkey"),
          Seq(col("c_acctbal").desc, col("c_custkey").asc), 3)
        .collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    val viaHeap = run()
    spark.conf.set("spark.graft.topk.maxRetainedBytes", "1")
    try {
      val viaSort = run()
      assert(viaSort == viaHeap)
      assert(viaSort.nonEmpty)
    } finally spark.conf.unset("spark.graft.topk.maxRetainedBytes")
  }

  test("GraftExtensions injects the cosine function and TopKPerGroup strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val strategies = gnative.plannerStrategiesOf(ext, spark)
    assert(strategies.contains(graft.plans.TopKPerGroupStrategy))
  }

  test("ClickHouse dialect: MergeTree DDL goldens; batched insert path via Derby") {
    import graft.streaming.{ClickHouseDialect, ClickHouseFlowSink, FlowSchema}
    // DDL golden on the canonical flow schema.
    val ddl = ClickHouseDialect.ddl("flows", FlowSchema.schema)
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS `flows`"))
    assert(ddl.contains("`recv_ts` Nullable(DateTime64(6))"))
    // sorting-key columns must NOT be Nullable (CH rejects them)
    assert(ddl.contains("`exporter` String\n") || ddl.contains("`exporter` String,"))
    assert(ddl.contains("`start_ts` DateTime64(6)"))
    assert(ddl.contains("`bytes` Nullable(Int64)"))
    assert(ddl.contains("`src_port` Nullable(Int32)"))
    assert(ddl.contains("`raw` String")) // binary → non-null CH String
    assert(ddl.contains("ENGINE = MergeTree"))
    assert(ddl.contains("PARTITION BY toDate(`start_ts`)"))
    assert(ddl.contains("ORDER BY (`exporter`, `start_ts`)"))
    assert(ClickHouseDialect.insertSql("flows",
      org.apache.spark.sql.types.StructType(FlowSchema.schema.take(2)))
      == "INSERT INTO flows (recv_ts, exporter) VALUES (?, ?)")

    // Batched-insert execution path against embedded Derby (no CH driver
    // offline): pre-create the table with Derby DDL, createTable = false.
    val url = "jdbc:derby:memory:chdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE CHFLOWS (flow_id BIGINT, src_addr VARCHAR(64), bytes BIGINT)")
    conn.close()
    import spark.implicits._
    val df = (1 to 25).map(i => (i.toLong, s"10.0.0.$i", i * 100L))
      .toDF("flow_id", "src_addr", "bytes")
    new ClickHouseFlowSink(url, "CHFLOWS", batchSize = 10, createTable = false)
      .write(df, 0L)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "CHFLOWS").load()
    assert(back.count() == 25)
    assert(back.agg(sum("bytes")).head().getLong(0) == (1 to 25).map(_ * 100L).sum)
  }

  test("multimodal: meta extraction, resize, frame sampling, stub featurize") {
    val media = Multimodal.synthesize(spark, 30)
    val withMeta = Multimodal.extractMeta(media)
    val m = withMeta.filter(col("media_id") === 1)
      .select("meta.width", "meta.height", "meta.duration_ms", "meta.payload_bytes")
      .head()
    assert(m.getInt(0) == 64 + 37 && m.getInt(1) == 64 + 53)
    assert(m.getInt(2) == 1000 + 997 && m.getInt(3) == 32)

    val resized = Multimodal.resize(withMeta, maxEdge = 100)
    val dims = resized.select(col("meta.width"), col("meta.height")).collect()
    assert(dims.forall(r => r.getInt(0) <= 100 && r.getInt(1) <= 100))
    // aspect preserved for the clamped row: 101x117 → (86, 100)
    val r1 = resized.filter(col("media_id") === 1)
      .select("meta.width", "meta.height").head()
    assert(r1.getInt(1) == 100 && r1.getInt(0) == 101 * 100 / 117)

    val frames = Multimodal.sampleFrames(withMeta, everyMs = 500)
    val f1 = frames.filter(col("media_id") === 1).select("frame_ms")
      .collect().map(_.getInt(0)).sorted
    assert(f1.head == 0 && f1.forall(_ % 500 == 0))
    assert(f1.length == (1997 + 499) / 500) // ceil(duration/step)

    val feats = Multimodal.StubCodec.decodeAndFeaturize(media).collect()
    assert(feats.length == 30)
    assert(feats.forall(_.feature.length == Multimodal.StubCodec.featureDim))
    // unit-normalized and deterministic
    feats.foreach { f =>
      val n = math.sqrt(f.feature.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-4)
    }
    val again = Multimodal.StubCodec.decodeAndFeaturize(media).collect()
    assert(feats.sortBy(_.media_id).map(_.feature.toSeq).toSeq ==
      again.sortBy(_.media_id).map(_.feature.toSeq).toSeq)
  }

  test("incremental dedup: asymmetric semantics — corpus-/batch-internal dups never flag") {
    import spark.implicits._
    // Corpus: two identical docs (corpus-internal exact dup — must NOT
    // leak into any fresh flag), one base doc for a near-dup.
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, "twin twin text that repeats exactly in corpus", "s1"),
      (2L, "twin twin text that repeats exactly in corpus", "s1"),
      (3L, base, "s2")
    ).toDF("doc_id", "text", "source")
    val fresh = Seq(
      // exact dup of corpus 1/2 (and trivially near — priority: exact)
      (10L, "twin twin text that repeats exactly in corpus", "s1"),
      // near-dup of corpus 3: one trailing word changed → word-3-gram
      // Jaccard 5/7 ≈ 0.71 ≥ 0.5
      (11L, "alpha beta gamma delta epsilon zeta eta omega", "s2"),
      // novel
      (12L, "completely unrelated words nothing shared here at all", "s3"),
      // batch-internal exact pair — NOT in corpus → both novel
      (13L, "fresh only duplicate pair lives in the new batch", "s3"),
      (14L, "fresh only duplicate pair lives in the new batch", "s3")
    ).toDF("doc_id", "text", "source")
    val got = graft.ops.IncrementalDedup.classify(fresh, corpus)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(10L -> "exact", 11L -> "near", 12L -> "novel",
      13L -> "novel", 14L -> "novel"), got.toString)
  }

  test("substring dedup stats match an in-memory brute force on random docs") {
    // Beyond-fixture pin for dedup_substring's machinery: random word
    // soup over a 5-word vocabulary (dense window collisions, docs both
    // shorter and longer than the window), Spark pipeline vs a plain
    // Scala reimplementation of the SEMANTICS — window set, global
    // first-occurrence under (doc_id, off), per-doc interval union.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val k = 4
    val docs = (0L until 40L).map { id =>
      val n = 2 + rnd.nextInt(19) // 2..20 words; < k → zero windows
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    final case class Occ(doc: Long, off: Int, gram: String)
    val occs = docs.flatMap { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      (0 to ws.length - k).map(i => Occ(id, i + 1, ws.slice(i, i + k).mkString(" ")))
    }
    val firstByGram = occs.groupBy(_.gram)
      .map { case (g, os) => g -> os.minBy(o => (o.doc, o.off)) }
    val dups = occs.filterNot(o => firstByGram(o.gram) == o)
    val expected = docs.map { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val nWin = math.max(ws.length - (k - 1), 0)
      val ivs = dups.filter(_.doc == id).map(o => (o.off, o.off + k - 1)).sortBy(_._1)
      var covered = 0; var curS = 0; var curE = -1
      for ((s0, e0) <- ivs) {
        if (s0 > curE) { if (curE >= curS) covered += curE - curS + 1; curS = s0; curE = e0 }
        else curE = math.max(curE, e0)
      }
      if (curE >= curS) covered += curE - curS + 1
      (id, nWin.toLong, ivs.size.toLong, covered.toLong)
    }.toSet
    assert(dups.nonEmpty && expected.exists(_._4 > 0)) // non-vacuous fixture
    val got = graft.ops.SubstringDedup
      .windowDupStats(docs.toDF("doc_id", "text"), k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == docs.size) // one row per doc
    assert(got.toSet == expected)
  }

  test("cluster_kmeans invariants: deterministic sizes, Lloyd objective non-increasing") {
    // The declared query's oracle gates row conservation + the
    // objective bound; this pins the part an oracle can't express —
    // that the whole pipeline (seed pick, 4 Lloyd rounds, argmin
    // assignment) is bit-deterministic across runs, the reason the
    // Lloyd recipe does exact decimal means and cid tiebreaks.
    // Spherical k-means, mirroring the declared query: unit-normalize
    // first so the Lloyd mean step provably optimizes the cosine
    // objective (on raw vectors a heavy-norm member can drag a cell
    // mean and legitimately worsen Σ cos — the monotone assertion
    // below would then be fixture-dependent, not an invariant).
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), expr(
        """transform(embedding, x -> CAST(x / sqrt(
          |  aggregate(embedding, 0D, (a, v) -> a + CAST(v AS DOUBLE) * v)
          |) AS FLOAT))""".stripMargin).as("embedding"))
    val n = embs.count()
    def sizesAndObj(): (Seq[(Long, Long)], BigDecimal) = {
      val seed = embs.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val refined = graft.ops.IvfIndex.refineCentroids(embs, seed, rounds = 4)
      val best = Q.spreadBy(embs, "vec_id").crossJoin(broadcast(refined))
        .select(col("vec_id"), struct(
          (-gnative.cosine_similarity(col("embedding"), col("cvec"))).as("negsim"),
          col("cid").as("cid")).as("cand"))
        .groupBy("vec_id").agg(min(col("cand")).as("best"))
      val sizes = best.groupBy(col("best.cid").as("cid")).count()
        .orderBy("cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val obj = best.agg(sum(col("best.negsim")
          .cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("o"))
        .collect()(0).getDecimal(0)
      (sizes, BigDecimal(obj))
    }
    val (sizes1, obj1) = sizesAndObj()
    val (sizes2, obj2) = sizesAndObj()
    assert(sizes1 == sizes2 && obj1 == obj2, "kmeans must be run-to-run deterministic")
    assert(sizes1.map(_._2).sum == n)          // every vector assigned once
    assert(sizes1.nonEmpty && sizes1.size <= 8) // nonempty cells bounded by k
    // seed objective (round 0) must not beat the refined one
    val seed = embs.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val seedObj = Q.spreadBy(embs, "vec_id").crossJoin(broadcast(seed))
      .select(col("vec_id"), struct(
        (-gnative.cosine_similarity(col("embedding"), col("cvec"))).as("negsim"),
        col("cid").as("cid")).as("cand"))
      .groupBy("vec_id").agg(min(col("cand")).as("best"))
      .agg(sum(col("best.negsim")
        .cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("o"))
      .collect()(0).getDecimal(0)
    // 1e-3 slack: Lloyd rounds each centroid coordinate to 6 decimals;
    // for a near-cancelling cell of unit vectors the mean's norm can be
    // ~1/√|cell|, amplifying that rounding into an angular error of up
    // to ~1e-4 per point-cos — far below the trained-vs-seed gap, far
    // above the 1e-6 that only covered the rounding of a unit-norm mean.
    assert(obj1 <= BigDecimal(seedObj) + BigDecimal("0.001"),
      s"refined objective $obj1 must be <= seed objective $seedObj")
  }

  test("Q.once: nested builds of same-bin keys return both values (JVM and session)") {
    // "Aa" and "BB" share a String hashCode, so they land in one hash
    // bin: a builder run INSIDE ConcurrentHashMap.computeIfAbsent that
    // computes the other key throws "Recursive update" every time.
    assert("Aa".hashCode == "BB".hashCode)
    val jvm = Q.once("Aa")(Q.once("BB")("bb") + "/aa")
    assert(jvm == "bb/aa" && Q.once("BB")("x") == "bb")
    val fresh = spark.newSession()
    val ses = Q.once(fresh, "Aa")(Q.once(fresh, "BB")("bb") + "/aa")
    assert(ses == "bb/aa" && Q.once(fresh, "BB")("x") == "bb")
  }

  test("Q.once: 8 concurrent callers of one key build exactly once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            Q.once("opsspec|concurrent") {
              builds.incrementAndGet()
              Thread.sleep(100) // hold the build open while the others arrive
              new Object
            }
          }
        })
      }
      start.countDown()
      val got = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  test("Q.once: a build that throws is not cached and is retried") {
    val e = intercept[IllegalStateException] {
      Q.once[String]("opsspec|flaky")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(Q.once("opsspec|flaky")("built") == "built")
    assert(Q.once("opsspec|flaky")("rebuilt") == "built")
  }

  test("Q.once: a new session does not see another session's value") {
    val first = spark.newSession()
    val second = first.newSession()
    assert(Q.once(first, "opsspec|scoped")("first") == "first")
    assert(Q.once(second, "opsspec|scoped")("second") == "second")
    assert(Q.once(first, "opsspec|scoped")("again") == "first")
  }
}
