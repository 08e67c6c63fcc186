package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sketch-based dedup / similarity primitives for the LLM-data pipeline
  * (SURVEY §2.10 [N]): MinHash+LSH, SimHash, sign-LSH ANN, winnowing
  * fingerprints. Everything is pure Catalyst expressions (codegen'd,
  * no UDFs) and deterministic — hashes are xxhash64 with fixed mixing
  * constants, so results are stable across runs and partitionings.
  *
  * Expression builders take column *names* (they splice into expr SQL).
  *
  * Scale design: every op avoids the quadratic all-pairs join — candidates
  * come from an equi-join on band/bucket keys (shuffle on the band key,
  * skew-safe because band values are hashes), and only candidates get the
  * exact verification.
  *
  * Cache lifecycle: the multi-branch pipelines persist their skinny
  * intermediates (via [[graft.Q.sketchPersist]] — MEMORY_AND_DISK by
  * default, `spark.graft.sketch.persistLevel` overrides to DISK_ONLY
  * or NONE for memory-constrained deployments; r12 VERDICT #6) and
  * cannot unpersist them — the returned DataFrame is lazy. Entries age
  * out via Spark's LRU block eviction; a long-lived service that
  * builds these repeatedly should call `spark.catalog.clearCache()`
  * between jobs (or persist the signature relation to a table, the
  * production shape).
  */
object Sketches {

  /** Large prime < 2^31 for permutation arithmetic (fits 64-bit products). */
  private val P = 2147483647L

  /** Form switch for [[annPairs]]' exactly-once emission: array-carry
    * while tables·(1+probe·nbits) ≤ this, skinny+distinct beyond (the
    * carried-array join bytes grow quadratically in that product — see
    * the annPairs doc for the ×16 disk-exhaustion measurement). 128
    * covers every declared-query parameterization (Threshold tier at
    * the fixtures: 16·7 = 112) with the flip landing where the r11/r12
    * probes put the crossover (×8 = 490 keys already favored skinny).
    */
  val AnnEmitCarryMaxKeys = 128

  /** Joint sign-LSH parameterization (nbits, tables, probe) for a given
    * corpus size — ONE shared definition so the gated queries
    * (sim_ann_lsh, dedup_semantic) cannot diverge, and so the at-scale
    * parameter law lives in code rather than a probe comment.
    */
  final case class LshParams(nbits: Int, tables: Int, probe: Int)

  /** What the caller needs back from the candidate generator — the knob
    * that sets the table count. A fixed-k top-k gate (sim_ann_lsh) only
    * needs the k best pairs recalled; a threshold gate (dedup_semantic's
    * τ=0.44) must recall EVERY in-range pair, and by the union bound its
    * table demand grows with the in-range pair count — on sf0.1 that is
    * 211 pairs vs top-20's 20, and the measured edges split 8 vs 14
    * (AnnSweep r8). One enum, two measured tiers; both queries still
    * share nbits/probe and the same sweep discipline.
    */
  sealed abstract class LshDemand
  object LshDemand {
    /** Recall a fixed-size top-k pair set (k ≈ 20). */
    case object TopK extends LshDemand
    /** Recall every pair above a similarity threshold. */
    case object Threshold extends LshDemand
  }

  /** Per-bucket occupancy target for the nbits law. r8 sweep: at ≈32
    * (nbits = 6 on the N ≤ 2000 fixtures) every gate is recall-complete
    * at 40-55% fewer candidates than nbits = 4 — deeper buckets +
    * multi-probe strictly dominate shallow buckets on the
    * recall-per-candidate axis until the per-table collision rate for
    * the weakest true pair collapses (nbits = 7 first misses appear,
    * nbits = 8 cliff: 22 misses at 10 tables on sf0.1).
    */
  private val OccupancyTarget = 32.0

  /** nbits ∝ log N — the bucket-occupancy law: bucket count 2^nbits
    * grows with the corpus so expected occupancy N/2^nbits (the
    * candidate-join fan-out driver) stays ≈ [[OccupancyTarget]]; fixed
    * nbits at 8× data degraded probe cost to ~11× (PerfProbe). Floor of
    * 6 bits — the swept optimum across all three fixtures; below it
    * buckets are so coarse the join is near-brute (nbits = 4 multi-probe
    * admits 77% of all pairs at 4 tables).
    */
  def lshBitsFor(corpusSize: Long): Int =
    math.max(6, math.round(
      math.log(corpusSize.toDouble / OccupancyTarget) / math.log(2.0)).toInt)

  /** Declared sign-LSH parameters for the ANN/semantic-dedup gates,
    * keyed by corpus size and recall demand.
    *
    *  - `nbits` follows the occupancy law above — both bench tiers
    *    (N = 500 / 2000) land on 6; PerfProbe's 8× corpus gets the law
    *    value (~9), holding occupancy ≈ the target.
    *  - `probe = 1` (multi-probe): each vector additionally probes its
    *    nbits one-bit-flip neighbor buckets, multiplying effective
    *    tables by (1+nbits) for ONE table's worth of signature storage —
    *    the standard recall-vs-tables trade. It is what lets nbits = 6
    *    hold recall at 10-16 tables where r7's exact-probe nbits = 4
    *    needed 26-30.
    *  - `tables` = measured edge + 2 margin per (tier × demand), from
    *    the AnnSweep r8 probe grid: TopK — edges 6 (sf0.001) / 8
    *    (sf0.01) / 8 (sf0.1) → declared 10 everywhere; Threshold —
    *    τ=0.44 edges 6 / 8 on the small fixtures → 10, and 14 on sf0.1
    *    (211 in-range pairs vs 22 — the union-bound effect) → 16.
    *
    * SketchesSpec pins each (tier × demand) on its binding fixture at
    * declared AND one notch weaker (candidates are monotone in tables
    * at fixed nbits/probe).
    */
  def lshParamsFor(corpusSize: Long, demand: LshDemand): LshParams = {
    val nbits = lshBitsFor(corpusSize)
    val base = demand match {
      case LshDemand.TopK      => 10
      case LshDemand.Threshold => if (corpusSize <= 1000) 10 else 16
    }
    // The swept edges live at nbits = 6. Deeper buckets (bigger corpora)
    // shrink the per-table collision probability for a fixed-similarity
    // pair GEOMETRICALLY, so holding `tables` flat would silently
    // collapse recall beyond fixture sizes (the sweep's own nbits=8
    // cliff). Scale tables to hold the per-pair miss bound (1-P)^T
    // constant at the τ=0.44 design point — the binding fixture gate and
    // the CONSERVATIVE choice: at production τ ≈ 0.95 the per-bit decay
    // is far milder (T grows ~1.5× from nbits 6 → 9 instead of ~3×), so
    // real-corpus runs carry extra margin, never less.
    val tables =
      if (nbits <= SweptBits) base
      else math.ceil(base * negLog1mP(SweptBits) / negLog1mP(nbits)).toInt
    LshParams(nbits, tables, probe = 1)
  }

  /** nbits the r8 table edges were swept at. */
  private val SweptBits = 6

  /** -ln(1 - P(collision in one multi-probe table)) for a pair at the
    * τ = 0.44 design point: P = p^b + b·p^(b-1)·(1-p) (exact bucket
    * match or one bit off — the probe=1 reach), p = 1 - θ/π.
    */
  private def negLog1mP(bits: Int): Double = {
    val p = 1.0 - math.acos(0.44) / math.Pi
    val pTable = math.pow(p, bits) +
      bits * math.pow(p, bits - 1) * (1.0 - p)
    -math.log1p(-pTable)
  }

  /** Word-`n`-gram shingles over a *pre-split* words column (array of
    * strings). Splitting must happen outside: a `split()` referenced
    * inside the lambda body re-executes per element → O(words²).
    * Documents shorter than `n` words yield an EMPTY array: the naive
    * `sequence(1, size - (n-1))` bound is the trap — Spark's
    * sequence(1, 0) is the DESCENDING array [1, 0], whose i = 0 row
    * makes element_at throw on every short document (fixtures never go
    * below n words, so only a guard here keeps real corpora safe; the
    * DuckDB oracles' range(1, 0) is already empty).
    */
  def shinglesOfWords(wordsCol: String, n: Int = 3): Column = {
    val parts = (0 until n)
      .map(j => s"element_at($wordsCol, i + $j)").mkString(", ")
    expr(
      s"""CASE WHEN size($wordsCol) >= $n THEN array_distinct(transform(
         |  sequence(1, size($wordsCol) - ${n - 1}),
         |  i -> concat_ws(' ', $parts)))
         |ELSE array() END""".stripMargin)
  }

  /** Word-`n`-gram shingles of a space-separated text column. Short
    * documents yield an empty array — see [[shinglesOfWords]].
    */
  def shingles(textCol: String, n: Int = 3): Column = {
    // Bind the split once via a lambda argument (transform over a
    // 1-element wrapper), then build shingles from the bound words.
    val parts = (0 until n)
      .map(j => s"element_at(w, i + $j)").mkString(", ")
    expr(
      s"""element_at(transform(array(split($textCol, ' ')), w ->
         |  CASE WHEN size(w) >= $n THEN array_distinct(transform(
         |    sequence(1, size(w) - ${n - 1}),
         |    i -> concat_ws(' ', $parts)))
         |  ELSE array() END), 1)""".stripMargin)
  }

  /** docs(doc_id, text) → (doc_id, hs array<long>): the distinct word-n-gram
    * shingles of each document, hashed (xxhash64 mod P). Hash-partitioned
    * on doc_id (spreads single-row-group inputs across cores without a
    * round-robin full shuffle); consumers that branch off this relation
    * more than once persist it — see [[minhashNearDups]].
    */
  def hashedShingles(docs: DataFrame, shingleN: Int = 3): DataFrame =
    // Spread BEFORE shingling: the input is typically one split
    // (single-row-group file), and the point is to parallelize the
    // split+shingle+hash work itself, not just downstream ops.
    graft.Q.spreadBy(docs, "doc_id")
      .select(col("doc_id"), shingles("text", shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      // SORTED since r11: every consumer is order-invariant (the
      // minhash fold is a set min, property-pinned), and sorted arrays
      // let the exact-verify stages intersect by two-pointer scan
      // (intersect_size_sorted) instead of a per-row hash set.
      .select(col("doc_id"),
        expr(s"sort_array(array_distinct(transform(sh, s -> pmod(xxhash64(s), $P))))").as("hs"))

  /** Staged [[hashedShingles]] — the dedup family's ingest-time state
    * (round-14, the Int8Index.searchStaged amortization contract): the
    * (doc_id, hs) shingle relation is what every minhash-family query
    * rebuilds per run, and at 100 TB it is exactly the relation a
    * production pipeline writes ONCE at ingest and appends as the
    * corpus grows. First call per JVM × tag × shingleN computes and
    * writes it as parquet; later calls read the staged file. Key the
    * tag by corpus fingerprint ([[graft.Q.corpusFingerprint]]) so a
    * fixture refresh re-stages instead of serving stale state.
    * SketchesSpec pins staged ≡ fresh row-for-row.
    */
  def hashedShinglesStaged(docs: DataFrame, tag: String,
      shingleN: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val safe = tag.replaceAll("[^A-Za-z0-9]", "_")
    val dir = graft.Q.jvmStageRoot("graft_shingles") + s"/${safe}_n$shingleN"
    graft.Q.once(dir) {
      graft.Q.fileSized(hashedShingles(docs, shingleN))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    graft.Q.readStagedParquet(spark, dir)
  }

  /** docs(doc_id, text) → (doc_id, sig array<long>).
    * Shingle strings are hashed once (xxhash64 mod P); the k-permutation
    * min-fold runs in the native MinHashSignature kernel.
    */
  def signatures(docs: DataFrame, k: Int = 64, shingleN: Int = 3): DataFrame =
    signaturesOf(hashedShingles(docs, shingleN), k)

  /** [[signatures]] over the STAGED shingle relation — consumers that
    * share a corpus with the dedup family (agg_minhash_merge's sketch
    * branch) read the same staged (doc_id, hs) parquet instead of
    * re-scanning and re-shingling the corpus.
    */
  def signaturesStaged(docs: DataFrame, tag: String, k: Int = 64,
      shingleN: Int = 3): DataFrame =
    signaturesOf(hashedShinglesStaged(docs, tag, shingleN), k)

  private[ops] def signaturesOf(hs: DataFrame, k: Int): DataFrame =
    hs.select(col("doc_id"),
      org.apache.spark.sql.graft.native.minhash_signature(col("hs"), k).as("sig"))

  /** Banded signature relation (doc_id, band, bsig) — the LSH join key
    * side shared by the self-join candidates here and the asymmetric
    * new×corpus probe in [[IncrementalDedup]].
    */
  private[ops] def bandedSigs(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> slice(sig, b * $rows + 1, $rows))"))
      .as(Seq("band", "bsig")))

  /** LSH banding: candidate pairs whose signatures collide in ≥1 band.
    * bands*rows must equal the signature length.
    */
  def lshCandidates(sigs: DataFrame, bands: Int = 16, rows: Int = 4): DataFrame = {
    val banded = bandedSigs(sigs, bands, rows)
    // Self-equi-join on (band, bsig): the shuffle key is a hash — uniform,
    // no skew; quadratic blowup only inside a colliding band bucket.
    val l = banded.select(col("doc_id").as("id1"), col("band"), col("bsig"))
    val r = banded.select(col("doc_id").as("id2"), col("band").as("band2"),
      col("bsig").as("bsig2"))
    l.join(r, col("band") === col("band2") && col("bsig") <=> col("bsig2")
        && col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** MinHash near-dup end-to-end: candidates, then exact Jaccard verify.
    * Single-scan design: one [[hashedShingles]] relation feeds BOTH the
    * signature/LSH path and the exact-verify join (Jaccard over hashed
    * shingles ≡ Jaccard over shingles modulo 64-bit hash collisions);
    * the shared keyed exchange means the documents are scanned and
    * shingled exactly once per run.
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 64, bands: Int = 16, rows: Int = 4, shingleN: Int = 3,
      stagedTag: Option[String] = None): DataFrame = {
    // bands·rows must tile the signature exactly: an over-long banding
    // slices past the array, the trailing bands become [] for EVERY
    // doc, and one empty-band bucket silently keys all n docs into a
    // single quadratic join — a perf cliff with correct-looking output
    // (exact verify still filters). Checked here where both are known;
    // lshCandidates alone cannot see k.
    require(bands * rows == k,
      s"minhashNearDups: bands ($bands) * rows ($rows) must equal k ($k)")
    // The shingle relation feeds four plan branches (sig→band l/r, verify
    // a/b). Lambda-heavy subtrees defeat exchange-reuse canonicalization
    // across the self-join dedup, so materialize explicitly — the same
    // move a production pipeline makes by writing the signature table out
    // once. Skinny (doc_id, array<long>) rows: spill-safe MEMORY_AND_DISK.
    // `stagedTag` (r14) makes that write LITERAL: the relation stages to
    // parquet once per JVM × corpus fingerprint and every later run (and
    // every other consumer query) reads the staged file — the branches
    // then scan columnar parquet instead of re-persisting per run.
    val hs = stagedTag match {
      case Some(t) => hashedShinglesStaged(docs, t, shingleN)
      case None    => hashedShingles(docs, shingleN).transform(graft.Q.sketchPersist)
    }
    val cands = lshCandidates(signaturesOf(hs, k), bands, rows)
    val a = hs.select(col("doc_id").as("id1"), col("hs").as("g1"))
    val b = hs.select(col("doc_id").as("id2"), col("hs").as("g2"))
    // Exact verify on the SORTED gram arrays (hashedShingles' r11
    // contract) — the native two-pointer count replaces the SQL form's
    // per-candidate hash-set intersection (the dedup family's measured
    // verify elephant; see IntersectSizeSorted).
    import org.apache.spark.sql.graft.{native => gn}
    cands.join(a, "id1").join(b, "id2")
      .select(col("id1"), col("id2"),
        gn.intersect_size_sorted(col("g1"), col("g2")).as("inter_n"),
        (size(col("g1")) + size(col("g2"))).as("sz_sum"))
      .select(col("id1"), col("id2"), col("inter_n"),
        (col("sz_sum") - col("inter_n")).as("union_n"))
      .filter(col("inter_n") >= col("union_n") * threshold)
  }

  /** 62-bit SimHash of the word multiset of a text column: words hashed
    * once into array<long>, bit-counter fold in the native SimHash64
    * kernel. The word hash is a PAIR of polynomial hashes mod P (bases
    * 257 and 131) packed as h1·2³¹ + h2 — like [[fingerprints]], chosen
    * over xxhash64 so `dedup_simhash` gets an exact SQL oracle that
    * replays the identical pipeline (hash → bit-fold → bands → hamming).
    * Empty tokens (split artifacts of repeated spaces) are filtered on
    * both engines — their char-code functions disagree on ''.
    */
  def simhash(textCol: String): Column =
    org.apache.spark.sql.graft.native.simhash64(expr(
      s"""transform(filter(split($textCol, ' '), w -> w != ''), w ->
         |  aggregate(sequence(1, length(w)), CAST(0 AS BIGINT),
         |    (a, t) -> (a * 257 + ascii(substring(w, t, 1))) % $P)
         |      * CAST(2147483648 AS BIGINT)
         |  + aggregate(sequence(1, length(w)), CAST(0 AS BIGINT),
         |    (a, t) -> (a * 131 + ascii(substring(w, t, 1))) % $P))""".stripMargin))

  /** docs(doc_id, text) → simhash candidate pairs within `maxHamming`,
    * found by 16-bit band collision (any identical quarter → candidate).
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // keyed repartition: spreads a single input file without the
    // round-robin full shuffle of a bare repartition(). The banded
    // relation feeds both sides of the self-join — persist so the text
    // scan + simhash kernel run once (skinny: doc_id + 3 longs).
    val hashed = graft.Q.spreadBy(docs, "doc_id")
      .select(col("doc_id"), simhash("text").as("sh"))
    val banded = hashed.select(col("doc_id"), col("sh"), posexplode(expr(
      "transform(sequence(0, 3), q -> (sh >> (q * 16)) & 65535)")).as(Seq("q", "qv")))
      .transform(graft.Q.sketchPersist)
    val l = banded.select(col("doc_id").as("id1"), col("sh").as("sh1"), col("q"), col("qv"))
    val r = banded.select(col("doc_id").as("id2"), col("sh").as("sh2"),
      col("q").as("q2"), col("qv").as("qv2"))
    // Filter BEFORE the distinct: hamming is a pure function of the
    // pair, so pruning far pairs first shrinks the dedup exchange (the
    // dominant shuffle under heavy band collisions) — same result set.
    l.join(r, col("q") === col("q2") && col("qv") === col("qv2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"), expr("bit_count(sh1 ^ sh2)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  private def cosineExprs(e1: String, e2: String): String = {
    val dot = s"aggregate(zip_with($e1, $e2, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    def nrm(e: String) =
      s"sqrt(aggregate($e, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    s"CAST(ROUND(($dot) / ((${nrm(e1)}) * (${nrm(e2)})), 4) AS DECIMAL(18,4))"
  }

  /** ANN via multi-table sign-LSH (OR-amplification): a pair is a
    * candidate if it collides in ANY of `tables` independent nbits-bit
    * buckets; cosine is computed only for candidates. Recall ≈
    * 1-(1-P)^tables with per-table collision probability P = p^nbits
    * (probe = 0) or P(hamming ≤ probe) (multi-probe), p = 1-θ/π.
    * Bucketing and cosine both run in native kernels. Returns
    * (id1, id2, sim) distinct candidate pairs.
    *
    * `probe = 1` (multi-probe LSH, Lv et al. 2007 shape): the LEFT side
    * of the bucket self-join additionally emits each bucket's nbits
    * one-bit-flip neighbors, so a pair is a candidate when its buckets
    * differ by ≤ 1 bit in any table — (1+nbits)× the per-table recall
    * reach for one table's signature storage. One probe direction
    * suffices for pair mining: hamming(b₁,b₂) ≤ 1 ⟺ b₂ ∈ flips(b₁), so
    * left-probes × right-anchors covers every unordered pair (the flip
    * relation is symmetric; probing both sides would only duplicate
    * candidates).
    *
    * Exactly-once emission has TWO forms, chosen by the key-array
    * volume the parameters imply (r12 — the ×16 probe falsified the
    * r11 one-form story):
    *
    *  - ARRAY-CARRY (r11, the IvfIndex minimal-cell move applied to
    *    LSH): each vector carries its sorted composite-key arrays —
    *    anchors (tbl·2^nbits + bucket, one per table) and the probe
    *    set (anchors ∪ flips) — built MAP-SIDE from the
    *    sign_lsh_buckets array. A pair colliding in several tables is
    *    emitted ONLY from its minimal shared key (first_common_sorted,
    *    the native two-pointer kernel) as a codegen'd filter on the
    *    pipelined join output — no pair-dedup exchange at all.
    *    Measured at fixture scale: sim_ann_ivf warm 1.54→0.88 s (r11).
    *  - SKINNY+DISTINCT: (id, k) rows only through the join, then one
    *    pair-dedup exchange (map-side partial dedup compresses it).
    *
    *    The trade INVERTS with scale: the probe side explodes
    *    tables·(1+nbits) rows per vector, and the array-carry form
    *    attaches that same tables·(1+nbits)-long array to EVERY
    *    exploded row — join-input bytes grow QUADRATICALLY in
    *    tables·(1+nbits) while the skinny form grows linearly. At the
    *    fixtures (T=10–16, nbits=6 → ~112-long arrays) the carry wins;
    *    at the LshScaleProbe ×16 point (T=71, nbits=10, probe=1 → a
    *    781-long array on each of 781 exploded rows per vector, ~5 MB
    *    logical per vector) the r12 re-measure EXHAUSTED THIS BOX'S
    *    DISK (>60 GB of sort spill) where the skinny+distinct form had
    *    finished in 275 s (r11) — the bottleneck the kernel removed at
    *    small T reappears, amplified, as the carried-array sort at
    *    large T. The switch picks carry while tables·(1+probe·nbits) ≤
    *    [[AnnEmitCarryMaxKeys]] (128 — covers every declared-query
    *    parameterization; lshParamsFor grows tables with corpus size,
    *    so deep-scale runs flip to skinny+distinct automatically).
    */
  def annPairs(embs: DataFrame, nbits: Int = 4, tables: Int = 16,
      probe: Int = 0,
      // Test/probe-only override of the emission-form switch (None =
      // auto by key-array volume); SketchesSpec pins both forms equal.
      carryForm: Option[Boolean] = None,
      // r14: stage the per-vector key-array relation as parquet (the
      // hashedShinglesStaged contract) instead of persisting per run.
      stagedTag: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.graft.{native => gn}
    require(probe == 0 || probe == 1, s"probe ∈ {0, 1}, got $probe")
    val m = 1L << nbits
    // Anchor and probe key arrays per vector. Keys never collide across
    // tables (bucket and its one-bit flips stay < 2^nbits, so key ∈
    // [tbl·2^nbits, (tbl+1)·2^nbits)); within a table the anchor and
    // its nbits flips are pairwise distinct — both arrays are
    // duplicate-free, satisfying first_common_sorted's contract.
    val anchorsExpr = s"sort_array(transform(bks, (b, t) -> CAST(t AS BIGINT) * $m + b))"
    val probedExpr =
      if (probe == 0) anchorsExpr
      else
        s"""sort_array(flatten(transform(bks, (b, t) ->
           |  transform(sequence(0, $nbits), i ->
           |    CAST(t AS BIGINT) * $m +
           |    (CASE WHEN i = 0 THEN b
           |          ELSE b ^ shiftleft(CAST(1 AS BIGINT), i - 1) END)))))"""
          .stripMargin
    // Persist the per-vector key arrays — the embedding scan + LSH
    // kernel + key-array build run once and feed both join sides.
    // With `stagedTag` the arrays are ingest-time state on parquet
    // (built once per JVM × corpus × parameters, read thereafter).
    def buildBase = graft.Q.spreadBy(embs, "vec_id")
      .select(col("vec_id"),
        gn.sign_lsh_buckets(col("embedding"), nbits, tables).as("bks"))
      .select(col("vec_id"), expr(anchorsExpr).as("anchors"),
        expr(probedExpr).as("probes"))
    val base = stagedTag match {
      case Some(t) =>
        val safe = t.replaceAll("[^A-Za-z0-9]", "_")
        val dir = graft.Q.jvmStageRoot("graft_lshbase") + s"/" +
          s"${safe}_b${nbits}_t${tables}_p$probe"
        graft.Q.once(dir) {
          // Deliberately NOT fileSized (r17 negative result): this
          // relation feeds a CPU-heavy self-JOIN (pair explosion +
          // cosine) whose parallelism comes from the SCAN — the build's
          // spreadBy partitioning carries into the file layout, and a
          // single-file staging serialized the whole candidate stage
          // (dedup_semantic 0.86 -> 4.08 s measured). File count tracks
          // the build session's shuffle parallelism: cluster-sized on a
          // cluster, 32 locally.
          buildBase.write.mode("overwrite").parquet(dir)
          dir
        }
        graft.Q.readStagedParquet(embs.sparkSession, dir)
      case None => buildBase.transform(graft.Q.sketchPersist)
    }
    // Re-attach embeddings only after the skinny exactly-once pair
    // projection — shuffling the float arrays through the bucket join
    // is the expensive wrong plan.
    val keyArrayLen = tables * (1 + (if (probe == 1) nbits else 0))
    val cands = if (carryForm.getOrElse(keyArrayLen <= AnnEmitCarryMaxKeys)) {
      // Array-carry exactly-once: no pair-dedup exchange; the carried
      // key arrays are small by the switch's guarantee.
      val l = base.select(col("vec_id").as("id1"), col("probes"),
        explode(col("probes")).as("k"))
      val r = base.select(col("vec_id").as("id2"), col("anchors"),
        explode(col("anchors")).as("k2"))
      l.join(r, col("k") === col("k2") && col("id1") < col("id2"))
        .filter(col("k") === gn.first_common_sorted(col("probes"), col("anchors")))
        .select("id1", "id2")
    } else {
      // Skinny+distinct: 16-byte (id, k) rows through the join, one
      // pair-dedup exchange with map-side partial dedup — the linear-
      // bytes form that survives deep-scale table counts (see doc).
      val l = base.select(col("vec_id").as("id1"), explode(col("probes")).as("k"))
      val r = base.select(col("vec_id").as("id2"), explode(col("anchors")).as("k2"))
      l.join(r, col("k") === col("k2") && col("id1") < col("id2"))
        .select("id1", "id2").distinct()
    }
    reattachCosine(cands, embs)
  }

  /** [[annPairs]] at the declared joint parameters for this corpus size. */
  def annPairsAt(embs: DataFrame, p: LshParams,
      stagedTag: Option[String] = None): DataFrame =
    annPairs(embs, p.nbits, p.tables, p.probe, stagedTag = stagedTag)

  /** ASYMMETRIC sign-LSH join: candidate (id1 ∈ fresh, id2 ∈ corpus)
    * pairs with cosine attached — the delta-dedup probe shape. The
    * corpus side contributes only bucket ANCHORS and is never
    * self-joined; the fresh side multi-probes (per `p.probe`). Identical
    * recall math to [[annPairs]] restricted to cross pairs (hamming ≤ 1
    * between the two buckets is covered by probing either side — the
    * flip relation is symmetric). Both inputs: (vec_id, embedding).
    */
  def annJoin(fresh: DataFrame, corpus: DataFrame, p: LshParams): DataFrame =
    annJoinWith(fresh, corpus, corpusAnchors(corpus, p), p)

  /** The corpus-side bucket ANCHORS of [[annJoin]] — (id2, tbl2,
    * bucket2), one row per (vector, table). Exposed separately because
    * at scale this relation is INGEST-TIME STATE: it only needs
    * APPENDING as the corpus grows, and persisting it across
    * micro-batches is the production form of the streaming admission
    * gate ([[IncrementalDedup.admitNovelSemantic]]'s `stageCorpus` —
    * AdmitRateProbe measured staging at ~2× throughput on small
    * batches / ~1.3× on large; the probe also showed the LARGER lever
    * is τ-appropriate table counts — see its doc).
    */
  def corpusAnchors(corpus: DataFrame, p: LshParams): DataFrame = {
    import org.apache.spark.sql.graft.{native => gn}
    graft.Q.spreadBy(corpus, "vec_id")
      .select(col("vec_id").as("id2"), posexplode(
        gn.sign_lsh_buckets(col("embedding"), p.nbits, p.tables))
        .as(Seq("tbl2", "bucket2")))
  }

  /** [[annJoin]] against a prebuilt corpus anchor relation (same rows
    * as [[corpusAnchors]] — the caller may have persisted or staged
    * it). `corpus` itself is still needed for the exact-cosine
    * reattach of candidate ids.
    */
  def annJoinWith(fresh: DataFrame, corpus: DataFrame, anchors: DataFrame,
      p: LshParams): DataFrame = {
    import org.apache.spark.sql.graft.{native => gn}
    val bf0 = graft.Q.spreadBy(fresh, "vec_id")
      .select(col("vec_id"), posexplode(
        gn.sign_lsh_buckets(col("embedding"), p.nbits, p.tables))
        .as(Seq("tbl", "bucket")))
    val bf =
      if (p.probe == 0) bf0.select(col("vec_id").as("id1"), col("tbl"), col("bucket"))
      else bf0.select(col("vec_id").as("id1"), col("tbl"),
        explode(expr(
          s"""transform(sequence(0, ${p.nbits}), i ->
             |  CASE WHEN i = 0 THEN bucket
             |       ELSE bucket ^ shiftleft(CAST(1 AS BIGINT), i - 1) END)"""
            .stripMargin)).as("bucket"))
    val cands = bf.join(anchors,
        col("tbl") === col("tbl2") && col("bucket") === col("bucket2"))
      .select("id1", "id2").distinct()
    def side(src: DataFrame, idCol: String, eCol: String): DataFrame =
      broadcast(src.select(col("vec_id").as(idCol), col("embedding").as(eCol)))
    cands.join(side(fresh, "id1", "e1"), "id1")
      .join(side(corpus, "id2", "e2"), "id2")
      .select(col("id1"), col("id2"),
        round(gn.cosine_similarity(col("e1"), col("e2")), 4)
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("sim"))
  }

  /** Re-attach embeddings to skinny candidate pairs and score cosine:
    * two broadcast joins — the embedding table fits an executor at every
    * declared scale. (A table too large to broadcast would need two
    * keyed shuffle joins on id1/id2 instead.)
    */
  private[graft] def reattachCosine(cands: DataFrame, embs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{native => gn}
    def side(idCol: String, eCol: String): DataFrame =
      broadcast(embs.select(col("vec_id").as(idCol), col("embedding").as(eCol)))
    cands.join(side("id1", "e1"), "id1").join(side("id2", "e2"), "id2")
      .select(col("id1"), col("id2"),
        round(gn.cosine_similarity(col("e1"), col("e2")), 4)
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("sim"))
  }

  /** Winnowing document fingerprints: char-k-gram rolling hashes, minimum
    * per sliding window of `w` — the classic MOSS scheme.
    *
    * The gram hash is a polynomial hash mod P (base 257): h(c_1..c_k) =
    * Σ c_t·257^(k-t) mod P, folded as (acc·257 + c) % P so intermediates
    * stay < 2^42. Chosen over xxhash64 deliberately: pure integer
    * arithmetic is reproducible in ANSI SQL, which gives `text_fingerprint`
    * an exact DuckDB oracle (the same fold as a power-sum with per-term
    * mod) instead of a rows-only check. Structure: char codes are bound
    * once per document (transform-over-singleton trick — rebinding inside
    * the gram lambda would re-split per position, O(len²)), gram hashes
    * once per position, then window minima + distinct.
    */
  def fingerprints(textCol: String, k: Int = 8, w: Int = 4): Column = expr(
    s"""element_at(transform(array(
       |    transform(sequence(1, greatest(length($textCol), 1)),
       |      p -> CAST(ascii(substring($textCol, p, 1)) AS BIGINT))), cs ->
       |  element_at(transform(array(
       |      transform(sequence(1, greatest(size(cs) - ${k - 1}, 1)),
       |        j -> aggregate(slice(cs, j, $k), CAST(0 AS BIGINT),
       |               (acc, ch) -> (acc * 257 + ch) % $P))), gs ->
       |    array_distinct(transform(sequence(1, greatest(size(gs) - ${w - 1}, 1)),
       |      q -> array_min(slice(gs, q, $w))))), 1)), 1)""".stripMargin)
}
