package graft.dedup

import graft.{Cut, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2 B11/B12):
  * exact content-hash dedup, MinHash+LSH near-dup, SimHash sketches, and
  * exact n-gram Jaccard.
  *
  * Scale notes (100 TB): every pipeline here is
  * shuffle-bounded by (doc_id, small key) pairs — no all-pairs comparison
  * ever materializes. LSH banding turns near-dup detection into an
  * equi-join on (band, band_hash); candidate verification touches only
  * colliding pairs.
  */
object Dedup {

  // ------------------------------------------------------------ exact (B11)

  /** B11: exact dedup via content hash — one hash aggregate, map-side
    * combinable; `min(doc_id)` is the deterministic representative. */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(sha2($"text", 256).as("content_sha"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  /** C4-style text canonicalization: lowercase, strip punctuation,
    * collapse whitespace — shared by [[canonicalDedup]] and any caller
    * that needs format-insensitive content identity. */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^\\w\\s]", ""), "\\s+", " "))

  /** B11: canonicalized exact dedup — the same hash-groupBy as
    * [[exactDedup]] but over [[canonicalText]], so trivially-reformatted
    * copies (case, punctuation, whitespace) collapse to one group: the
    * C4/RefinedWeb normalization step between byte-exact dedup and
    * near-dedup. Same single map-side-combinable shuffle on the 32-byte
    * sha; the normalization is scan-side string algebra. */
  def canonicalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(sha2(canonicalText($"text"), 256).as("content_sha"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  // --------------------------------------------------------- shingles (B12)

  /** Distinct k-token shingles per document: (doc_id, shingle) rows.
    * Documents shorter than k tokens yield no shingles. */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame = {
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> array_join(slice(toks, i, $k), ' '))"))
        .as("shingle"))
      .distinct()
  }

  /** Distinct k-token shingle HASHES per document: (doc_id, hbase) longs.
    * The near-dup pipeline's set algebra (distinct, signature min, Jaccard
    * intersection) only needs set identity, so hashing each shingle at the
    * scan (inside the explode lambda, before the distinct shuffle) moves
    * 8-byte longs through every downstream exchange instead of k-token
    * strings. 64-bit collisions are negligible for Jaccard estimation and
    * deterministic when they do occur. */
  def shingleHashes(docs: DataFrame, k: Int = 3): DataFrame = {
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> xxhash64(array_join(slice(toks, i, $k), ' ')))"))
        .as("hbase"))
      .distinct()
  }

  /** MinHash signatures: for each of `numHashes` hash functions, the min
    * over the doc's shingles. One shuffle on doc_id. The shingle string is
    * hashed ONCE to a long; each family member then re-hashes the long
    * (integer-width work) instead of re-hashing the full string 64×.
    *
    * Single-buffer [[graft.functions.MinHashAgg]] typed aggregator — ONE
    * aggregate buffer per group (an Array[Long] updated with a tight
    * loop) instead of 64 separate aggregate expressions. The production
    * query path is the per-row [[minHashSignaturesRow]]; both derive the
    * same hash family (property-tested). Accepts either pre-hashed
    * `(doc_id, hbase)` or raw `(doc_id, shingle)` input. */
  def minHashSignatures(sh: DataFrame, numHashes: Int = 64): DataFrame = {
    val mh = udaf(new graft.functions.MinHashAgg(numHashes))
    val base =
      if (sh.columns.contains("hbase")) sh.select(col("doc_id"), col("hbase"))
      else sh.select(col("doc_id"), xxhash64(col("shingle")).as("hbase"))
    base.groupBy(col("doc_id"))
      .agg(mh(col("hbase")).as("sig"))
  }

  /** The per-band bucket-hash array over a signature column — ONE
    * definition shared by the batch [[lshBands]] and the streaming pair
    * emitter ([[graft.streaming.Streaming.nearDupPairsStream]]) so the
    * bucket keys can never drift between the two plans. */
  private[graft] def bandHashArray(sig: Column, bands: Int = 16,
                                   rowsPerBand: Int = 4): Column =
    array((0 until bands).map(b =>
      xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand))): _*)

  /** LSH banding: signature → (band_idx, band_hash) rows; docs sharing any
    * band bucket are near-dup candidates. b bands of r rows: with b=16, r=4
    * the collision curve crosses ~50% at Jaccard ≈ (1/16)^(1/4) ≈ 0.5. */
  def lshBands(sigs: DataFrame, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    sigs.select(col("doc_id"), posexplode(bandHashArray(col("sig"), bands, rowsPerBand)))
      .toDF("doc_id", "band_idx", "band_hash")

  /** Per-bucket size cap of every bucket join in this file: the LSH band
    * joins (self and cross), the SimHash chunk join and the entity-match
    * blocking join all run through [[bucketStats]], [[selfPairs]] and
    * [[crossProbe]], so the policy below is written once.
    *
    * A degenerate bucket of B rows (millions of near-empty or templated
    * documents agreeing on a whole band) would emit B² join rows — the
    * classic production near-dedup failure. Buckets over the cap are
    * REPRESENTATIVE-LINKED instead: rows that agree on a full band are
    * near-certain duplicates, so connecting each to the bucket-minimum id
    * (B−1 star edges) preserves the connected component while keeping
    * the candidate count linear in B. A cross-corpus probe needs less:
    * for a reference bucket over the cap, each incoming row probes the
    * bucket-minimum reference id only — "is this new doc a near-dup of
    * the reference" needs ONE verified witness. The trade is edge RECALL
    * inside an over-full bucket only: an interloper star-linked to a
    * witness it doesn't resemble is dropped by the caller's exact
    * verification, exactly as its all-pairs edges would have been. */
  val MaxBucket = 256

  /** The LSH band-bucket key of [[lshBands]] and [[portableBandsOf]]. */
  private val BandKey = Seq("band_idx", "band_hash")

  /** Per-bucket stats of `rows` grouped by `key`: the size `bsz`, the
    * min-id witness `bmin`, and for each `witness` column `c` the
    * witness row's value as `bmin_c`. */
  private[graft] def bucketStats(rows: DataFrame, key: Seq[String],
      id: String = "doc_id", witness: Seq[String] = Nil): DataFrame =
    rows.groupBy(key.map(col): _*).agg(count(lit(1)).as("bsz"),
      min(col(id)).as("bmin") +:
        witness.map(c => min_by(col(c), col(id)).as(s"bmin_$c")): _*)

  /** The capped self-join of `rows` on `key` ([[MaxBucket]]): every pair
    * a < b inside a bucket of at most `maxBucket` rows, plus one star edge
    * (bmin, id) per other row of a bigger bucket. Emits `key`, `a`, `b`
    * and each `carry` column of both sides as `c_a`, `c_b`. A row in
    * several buckets can emit the same pair more than once; callers
    * that care take `distinct`. */
  private[graft] def selfPairs(rows: DataFrame, key: Seq[String],
      id: String = "doc_id", carry: Seq[String] = Nil,
      maxBucket: Int = MaxBucket): DataFrame = {
    // the stats frame is tiny (one row per occupied bucket) but feeds
    // three plan branches — checkpoint so the aggregate runs once
    val keyed = rows.join(
      Cut.eager(bucketStats(rows, key, id, carry)), key)
    val small = keyed.filter(col("bsz") <= maxBucket)
    def side(s: String): DataFrame = small.select(
      (col(id).as(s) +: carry.map(c => col(c).as(s"${c}_$s"))) ++ key.map(col): _*)
    val out = key ++ Seq("a", "b") ++ carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))
    val full = side("a").join(side("b"), key)
      .filter(col("a") < col("b"))
      .select(out.map(col): _*)
    val star = keyed
      .filter(col("bsz") > maxBucket && col(id) =!= col("bmin"))
      .select(key.map(col) ++ Seq(col("bmin").as("a"), col(id).as("b")) ++ // bmin < id
        carry.flatMap(c => Seq(col(s"bmin_$c").as(s"${c}_a"), col(c).as(s"${c}_b"))): _*)
    full.union(star)
  }

  /** The capped cross probe of incoming band rows `bNew` against the
    * reference bands `bRef` and their [[bucketStats]] ([[MaxBucket]]):
    * distinct (a = new id, b = ref id) pairs, a ≠ b. Batch-driven join
    * order: the batch bands join the stats FIRST and only then the
    * reference bands, so the small batch side is the build side of both
    * joins and the reference tables are scanned, never shuffled (joining
    * bRef to the stats first shuffles two corpus-sized tables per call,
    * which a 64× stress run showed growing superlinearly). */
  private[graft] def crossProbe(bNew: DataFrame, bRef: DataFrame, stats: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    val newStat = bNew.select(col("doc_id").as("a") +: BandKey.map(col): _*)
      .join(stats, BandKey)
    val direct = newStat.filter(col("bsz") <= maxBucket)
      .select(col("a") +: BandKey.map(col): _*)
      .join(bRef.select(col("doc_id").as("b") +: BandKey.map(col): _*), BandKey)
      .select(col("a"), col("b"))
    val star = newStat.filter(col("bsz") > maxBucket)
      .select(col("a"), col("bmin").as("b"))
    direct.union(star).filter(col("a") =!= col("b")).distinct()
  }

  /** Candidate pairs (a < b) from shared LSH buckets — an equi-join on
    * (band_idx, band_hash), never an all-pairs product, capped per
    * [[MaxBucket]]. */
  def candidatePairs(bandsDf: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    selfPairs(bandsDf, BandKey, maxBucket = maxBucket)
      .select(col("a"), col("b")).distinct()

  /** Exact Jaccard verification of candidate pairs against the shingle
    * sets. Join ORDER matters at scale: start from the (small) candidate
    * pair set and attach each side's shingles — never shingle⋈shingle
    * first, whose cost is Σ freq(shingle)² and explodes on common
    * shingles. */
  def verifyJaccard(pairs: DataFrame, sh: DataFrame): DataFrame =
    verifyJaccardTwo(pairs, sh, sh)

  /** Two-frame variant: side `a`'s shingles from `shA`, side `b`'s from
    * `shB` — the cross-corpus shape ([[minHashNearDupAcross]]); with
    * `shA eq shB` it is exactly the self-dedup verification. Both frames
    * are (doc_id, gram hash) with long hashes.
    *
    * r16 (optimization round): ARRAY-verify — the [[ppJoin]] merge-verify
    * kernel applied to the LSH verification path. One (doc_id → sorted
    * gram array + size) aggregate per side replaces the old per-side size
    * aggregates (the SAME one doc_id shuffle each — sizes now ride the
    * array row), and each candidate pair intersects the two arrays in-row
    * via the codegen [[graft.functions.SortedIntersect]] two-pointer
    * kernel. The pair×gram explode joins, the (a, b) intersection-count
    * shuffle, and the left_outer zero-fill all collapse into the two
    * attachment joins: 5 joins + 3 aggregations → 2 joins + 2
    * aggregations (b12_ngram_jaccard: 29 → ~10 jobs). Inputs are distinct
    * per (doc_id, gram), so |sorted_intersect| ≡ the old matched-row
    * count and an empty intersection yields inter = 0 exactly like the
    * old zero-fill; when `shA eq shB` the two array subplans are
    * plan-identical and Spark's exchange reuse materializes one. Guide
    * §2.3/§2.4 (shuffle fewer bytes / remove shuffles outright). */
  private def verifyJaccardTwo(pairs: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame = {
    // r17 (ADVICE r16, low): collect_set, not collect_list — the
    // correctness of the in-row set intersection requires distinct
    // (doc_id, gram) inputs; every declared caller passes .distinct()
    // frames, and building the SET here (n = its size) makes that
    // contract structural instead of caller-trusted. On distinct inputs
    // this is value-identical to the old collect_list + count form.
    def arrsOf(sh: DataFrame): DataFrame = sh.toDF("doc_id", "g")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("g"))).as("grams"))
      .select(col("doc_id"), col("grams"), size(col("grams")).cast("long").as("n"))
    val arrsA = arrsOf(shA)
    val arrsB = if (shA eq shB) arrsA else arrsOf(shB)
    pairs
      .join(arrsA.select(col("doc_id").as("a"), col("grams").as("ga"),
        col("n").as("na")), Seq("a"))
      .join(arrsB.select(col("doc_id").as("b"), col("grams").as("gb"),
        col("n").as("nb")), Seq("b"))
      .withColumn("inter",
        size(graft.functions.SortedIntersect(col("ga"), col("gb"))).cast("long"))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
  }

  /** Production signature path (round 3): the per-row
    * [[graft.functions.MinHashSig]] codegen expression — the whole
    * signature is a scan-side projection over the text column, no shingle
    * explode/distinct/aggregation shuffles. Bit-identical to
    * `minHashSignatures(shingleHashes(docs, k))` (same base hash over the
    * in-place shingle byte span, same splitmix family, min over multiset
    * == min over set; property-tested in MinHashSigSpec). Docs shorter
    * than k tokens yield no signature, matching the shingle filter. */
  def minHashSignaturesRow(docs: DataFrame, k: Int = 3, numHashes: Int = 64): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.MinHashSig(col("text"), k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** B12: the full MinHash-LSH near-dup pipeline
    * (row-expression signatures → band → bucket-join → exact verify).
    * Everything after the scan carries longs, not token strings. */
  def minHashNearDup(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = Cut.scope {
    val sh = shingleHashes(docs, k).transform(Cut.cached)
    // bands feed a self-join → materialize once
    val bands = lshBands(minHashSignaturesRow(docs, k)).transform(Cut.cached)
    // the core cuts the (small, post-threshold) verified pair set, so
    // both caches are freed on return ([[graft.Cut]])
    nearDupSelf(sh, bands, col("jaccard") >= threshold)
  }

  /** The one MinHash near-dup self core of both hash families: capped
    * [[candidatePairs]] over the prebuilt band table, exact verification
    * against the shingle table, the family's `keep` predicate over
    * (inter, na, nb, jaccard), then a checkpoint of the small verified
    * set under the deterministic (a, b) output sort. Both tables are
    * caller-owned. */
  private def nearDupSelf(sh: DataFrame, bands: DataFrame, keep: Column): DataFrame =
    verifyJaccard(candidatePairs(bands), sh)
      .filter(keep)
      .transform(Cut.eager)
      .orderBy(col("a"), col("b"))

  /** The cross-corpus twin of [[nearDupSelf]]: [[crossProbe]] of the
    * incoming bands against the reference bands and their bucket stats
    * (derived here when `stats` is None), verification of each pair
    * against the incoming and reference shingles, the family's `keep`
    * predicate, and the checkpointed (new_id, ref_id, inter, na, nb,
    * jaccard) rows in (new_id, ref_id) order. `shNew` is the call's own
    * table, cached for this call; the reference tables are caller-owned. */
  private def nearDupCross(shNew: DataFrame, bNew: DataFrame, shRef: DataFrame,
      bRef: DataFrame, stats: Option[DataFrame], keep: Column,
      maxBucket: Int = MaxBucket): DataFrame = Cut.scope {
    val sh = shNew.transform(Cut.cached)
    val st = stats.getOrElse(bucketStats(bRef, BandKey).transform(Cut.eager))
    val verified = verifyJaccardTwo(crossProbe(bNew, bRef, st, maxBucket), sh, shRef)
      .filter(keep)
      .select(col("a").as("new_id"), col("b").as("ref_id"),
        col("inter"), col("na"), col("nb"), col("jaccard"))
      .transform(Cut.eager)
    verified.orderBy(col("new_id"), col("ref_id"))
  }

  /** r9 (VERDICT r8 #8): incremental index maintenance for the LSH
    * family — extend the materialize-once shingle/band tables by an
    * ingest batch WITHOUT a full rebuild. Every index row derives from
    * exactly ONE document (a doc's shingle hashes and its banded
    * signature are functions of its own text), so appending the batch's
    * rows IS the rebuilt index over corpus ∪ batch, bit-for-bit —
    * SnapshotParitySpec pins extended == rebuilt. At 100 TB this turns
    * per-batch index upkeep from an O(corpus) re-shard into an O(batch)
    * append (in production: one new bucketed-table partition per batch,
    * same band-bucket equi-join on the read side). The HNSW counterpart
    * ([[graft.similarity.Similarity.hnswInsert]]) carries a weaker,
    * structural contract — graph edges depend on the neighbor
    * population, so exact append-parity is unique to per-doc indexes. */
  def extendShingleIndex(existing: DataFrame, newDocs: DataFrame, k: Int = 3): DataFrame =
    existing.unionByName(shingleHashes(newDocs, k))

  /** [[extendShingleIndex]]'s band-table twin. */
  def extendBandIndex(existing: DataFrame, newDocs: DataFrame, k: Int = 3): DataFrame =
    existing.unionByName(lshBands(minHashSignaturesRow(newDocs, k)))

  def minHashQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = graft.SnapshotStore(s, dir, "documents.parquet", "xx_self_sh") {
      shingleHashes(docs, 3).repartition(col("doc_id"))
    }
    val bands = graft.SnapshotStore(s, dir, "documents.parquet", "xx_self_bands") {
      lshBands(minHashSignaturesRow(docs, 3)).repartition(col("band_hash"))
    }
    nearDupSelf(sh, bands, col("jaccard") >= 0.5)
  }

  /** B12: INCREMENTAL cross-corpus near-dedup — which docs of an incoming
    * batch near-duplicate something already in a reference corpus. The
    * ingestion-time shape at 100 TB: the reference side is banded once
    * (and in production its bands/shingles are a precomputed, reusable
    * table — this operator never pairs ref docs with each other, so
    * growing the reference never costs ref×ref work), the incoming batch
    * probes the band buckets ([[crossProbe]], hot buckets capped per
    * [[MaxBucket]]), and only cross pairs are verified. Output
    * (new_id, ref_id, …, jaccard), rows-only under the driver gate (LSH
    * candidates are engine hashes; the Jaccard layer is the same exact
    * arithmetic as the hash-gated b12_ngram_jaccard). */
  def minHashNearDupAcross(newDocs: DataFrame, refDocs: DataFrame, k: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = MaxBucket): DataFrame = Cut.scope {
    val shRef = shingleHashes(refDocs, k).transform(Cut.cached)
    val bRef = lshBands(minHashSignaturesRow(refDocs, k)).transform(Cut.cached)
    nearDupCross(shingleHashes(newDocs, k),
      lshBands(minHashSignaturesRow(newDocs, k)), shRef, bRef, None,
      col("jaccard") >= threshold, maxBucket)
  }

  def crossNearDupQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val refDocs = docs.filter(col("doc_id") % 2 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 0)
    val shRef = graft.SnapshotStore(s, dir, "documents.parquet", "xx_cross_ref_sh") {
      shingleHashes(refDocs, 3).repartition(col("doc_id"))
    }
    val bRef = graft.SnapshotStore(s, dir, "documents.parquet", "xx_cross_ref_bands") {
      lshBands(minHashSignaturesRow(refDocs, 3)).repartition(col("band_hash"))
    }
    nearDupCross(shingleHashes(newDocs, 3), lshBands(minHashSignaturesRow(newDocs, 3)),
      shRef, bRef, None, col("jaccard") >= 0.5)
  }

  // ---------------------------------------------------------- simhash (B12)

  /** 4×16-bit pigeonhole chunks of the sketch — ONE definition: the
    * chunk width is the exactness contract of the Hamming ≤3 candidate
    * join, shared by both sketch paths. */
  private def chunkCols: Seq[Column] = (0 until 4).map(c =>
    shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as(s"chunk$c"))

  /** B12: 64-bit SimHash sketches — per token-hash bit j, sum ±1 weighted
    * by token frequency; the sign vector packs into one long. Emitted with
    * 4×16-bit chunks: Hamming distance ≤3 implies at least one identical
    * chunk (pigeonhole), so chunk equality is the candidate join key.
    * The per-bit sums run in the single-buffer
    * [[graft.functions.SimHashAgg]] (one int[64] buffer per doc, tight
    * loop) instead of 64 separate conditional-sum aggregate columns —
    * bit-identical output, smaller codegen. */
  def simHashSketches(docs: DataFrame): DataFrame = {
    val sim = udaf(new graft.functions.SimHashAgg)
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    tok.groupBy(col("doc_id"))
      .agg(sim(col("h")).as("simhash"))
      .select(Seq(col("doc_id"), col("simhash")) ++ chunkCols: _*)
  }

  /** Production sketch path: the per-row [[graft.functions.SimHash64]]
    * codegen expression — the whole sketch is a scan-side projection, no
    * explode, no aggregation, NO SHUFFLE (the agg formulation above is the
    * bit-identical measurement baseline; SimHash64Spec property-tests the
    * equivalence). */
  def simHashSketchesRow(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.SimHash64(col("text")).as("simhash"))
      .select(Seq(col("doc_id"), col("simhash")) ++ chunkCols: _*)

  def simHashQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simHashSketchesRow(Tables.documents(s, dir)).orderBy($"doc_id")
  }

  /** SimHash near-dup pairs at Hamming distance ≤ maxDist (≤3 is exact via
    * the 4-chunk pigeonhole; larger distances would need more chunks).
    * Chunk buckets are capped per [[MaxBucket]]: a flood of
    * identical/templated docs shares all four chunks. Star edges still
    * pass the exact Hamming check, so a 16-bit collision interloper is
    * dropped, not mislinked. */
  def simHashNearDup(docs: DataFrame, maxDist: Int = 3,
                     maxBucket: Int = MaxBucket): DataFrame = {
    val sk = simHashSketchesRow(docs)
    val chunks = sk.select(col("doc_id"), col("simhash"), posexplode(
      array((0 until 4).map(c => col(s"chunk$c")): _*))).toDF("doc_id", "simhash", "ci", "cv")
    selfPairs(chunks, Seq("ci", "cv"), carry = Seq("simhash"), maxBucket = maxBucket)
      .select(col("a"), col("b"), col("simhash_a"), col("simhash_b")).distinct()
      .withColumn("hamming", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** Sign-bit width of the PORTABLE SimHash sketch — 48, because the
    * engine-portable md5-prefix token hash supplies exactly 48 bits. */
  private[graft] val PortableSimBits = 48

  /** B12: the ORACLE-CHECKED twin of [[simHashSketchesRow]] — same
    * frequency-weighted sign-sum semantics, but token hashes are the
    * portable 48-bit md5 prefix so DuckDB replays the sketch bit for bit:
    * per bit j, sum ±1 over token OCCURRENCES (multiset, not set); bit j
    * of the sketch is set iff the sum is strictly positive. Packs into
    * one BIGINT plus 4×12-bit pigeonhole chunks (Hamming ≤3 ⇒ one chunk
    * equal — the candidate-join contract, as in the production 4×16).
    *
    * Scale shape: the 48 conditional sums are one map-side-combinable
    * aggregate over token rows — one doc_id shuffle. (The production
    * path is still [[graft.functions.SimHash64]]: a scan-side codegen
    * projection with NO shuffle at all; this twin is its cross-engine
    * witness, same division of labor as b12_minhash_portable.) */
  def simHashPortable(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), graft.functions.Md5Prefix(col("tok"), 12).as("h"))
    val sums = (0 until PortableSimBits).map(j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$j"))
    tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until PortableSimBits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
          .as("simhash48"))
      .select(Seq(col("doc_id"), col("simhash48")) ++
        (0 until 4).map(c => shiftrightunsigned(col("simhash48"), c * 12)
          .bitwiseAND(lit(0xFFFL)).as(s"chunk$c")): _*)
      .orderBy(col("doc_id"))
  }

  def simHashPortableQuery(s: SparkSession, dir: String): DataFrame =
    simHashPortable(Tables.documents(s, dir))

  /** Generated from [[PortableSimBits]] — the oracle replays token
    * hashing, the per-bit ±1 occurrence sums, the strict-positive sign
    * rule, the bit pack, and the 12-bit chunking. */
  private def simHashPortableOracle: String = {
    val chunkCols = (0 until 4).map(c =>
      s"CAST((simhash48 >> ${c * 12}) & 4095 AS BIGINT) AS chunk$c").mkString(", ")
    s"""
      WITH t AS (SELECT doc_id,
              CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)),
      s AS (SELECT doc_id, j,
              SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sj
            FROM t, UNNEST(range(0, $PortableSimBits)) AS u(j)
            GROUP BY doc_id, j),
      p AS (SELECT doc_id,
              CAST(SUM(CASE WHEN sj > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                AS BIGINT) AS simhash48
            FROM s GROUP BY doc_id)
      SELECT doc_id, simhash48, $chunkCols FROM p ORDER BY doc_id"""
  }

  /** 63-bit portable SimHash — [[simHashPortable]]'s construction widened
    * so the [[graft.plans.HammingJoinRewrite]] pigeonhole chunking has no
    * degenerate chunk: the rule splits 64 bits into k+1 chunks, and a
    * 48-bit sketch would leave the top chunk constant-zero — an
    * equi-join key every row shares, i.e. a skew bomb. Bits 0–47 are the
    * md5-prefix token hash; bits 48–62 come from a second, salted
    * md5-prefix window (`tok || "#2"`), so all 63 used bits are
    * independent and only bit 63 (of 16 in the top chunk) is constant.
    * Same ±1 occurrence-sum + strict-positive sign rule; every step is
    * integer arithmetic both engines replay. */
  private[graft] def simHash63Portable(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        graft.functions.Md5Prefix(col("tok"), 12)
          .bitwiseOR(shiftleft(
            graft.functions.Md5Prefix(concat(col("tok"), lit("#2")), 4)
              .bitwiseAND(lit(32767L)), 48)).as("h"))
    val sums = (0 until 63).map(j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$j"))
    tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 63).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
          .as("sim"))
  }

  /** B12/B14 (r7): the [[graft.plans.HammingJoinRewrite]] optimizer rule
    * driver-gated END TO END (r6-verdict #4): a plain-SQL Hamming join —
    * the query a SQL user actually writes, `ON bit_count(a.sim ^ b.sim)
    * <= 3` with no equi key — over the portable 63-bit SimHash sketches.
    * The rule re-plans the nested-loop product into 4 first-equal-chunk
    * equi-join branches (HammingJoinRewriteSpec asserts this exact plan
    * shape on this exact query); the oracle replays sketches + the naive
    * quadratic join, so the hash gate proves the rewrite preserves the
    * result, not just the spec's fixtures. Eager materialization inside
    * the rule's scope (the pair set is near-dup-sized) because
    * `extraOptimizations` applies at execution, not construction. */
  def hammingJoinSqlQuery(s: SparkSession, dir: String): DataFrame = {
    simHash63Portable(Tables.documents(s, dir))
      .createOrReplaceTempView("graft_hamming_sketches")
    val prev = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = prev :+ graft.plans.HammingJoinRewrite(s)
    // this query EXISTS to drive the rewrite end to end, so pin the
    // self-selection gate open for its scope — at gate scale the corpus
    // sits below the crossover where the rule would (correctly) decline
    val prevThreshold = s.conf.getOption(graft.plans.HammingJoinRewrite.MinBytesProductKey)
    s.conf.set(graft.plans.HammingJoinRewrite.MinBytesProductKey, "0")
    try {
      s.sql("""
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(bit_count(a.sim ^ b.sim) AS INT) AS hamming
        FROM graft_hamming_sketches a JOIN graft_hamming_sketches b
          ON a.doc_id < b.doc_id AND bit_count(a.sim ^ b.sim) <= 3""")
        .transform(Cut.eager)
        .orderBy(col("a"), col("b"))
    } finally {
      s.experimental.extraOptimizations = prev
      prevThreshold match {
        case Some(v) => s.conf.set(graft.plans.HammingJoinRewrite.MinBytesProductKey, v)
        case None => s.conf.unset(graft.plans.HammingJoinRewrite.MinBytesProductKey)
      }
      s.catalog.dropTempView("graft_hamming_sketches") // no stale catalog state
    }
  }

  /** Oracle for [[hammingJoinSqlQuery]]: the 63-bit sketch replay plus the
    * NAIVE quadratic Hamming join — DuckDB at verify scale affords the
    * O(n²) the rewrite exists to avoid. */
  private def hammingJoinSqlOracle: String = s"""
      WITH t AS (SELECT doc_id,
              CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT)
                | ((CAST(('0x' || substr(md5(tok || '#2'), 1, 4)) AS BIGINT) & 32767) << 48) AS h
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)),
      s AS (SELECT doc_id, j,
              SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sj
            FROM t, UNNEST(range(0, 63)) AS u(j)
            GROUP BY doc_id, j),
      p AS (SELECT doc_id,
              CAST(SUM(CASE WHEN sj > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                AS BIGINT) AS sim
            FROM s GROUP BY doc_id)
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
      FROM p a JOIN p b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 3
      ORDER BY a, b"""

  /** B12: exact bigram-Jaccard between consecutive doc pairs — the
    * oracle-checkable exact-similarity kernel (the same verify kernel LSH
    * uses, demonstrated standalone). */
  def ngramJaccardQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16 (optimization round): the pair universe (consecutive doc ids
    // with ≥2 tokens each) and the verification both derive from ONE
    // per-doc sorted-gram-array table: explode → collect_set folds the
    // old explode → distinct → (cache + 2×distinct-id + 3 verify
    // branches) pipeline into a single doc_id-keyed aggregate (set
    // semantics in-agg, so no separate distinct shuffle), and the
    // consecutive-pair self-join attaches both sides' arrays for the
    // in-row SortedIntersect merge-verify (the verifyJaccardTwo r16
    // treatment). 29 jobs → 8; values bit-identical: |sorted set
    // intersect| ≡ distinct-match count, n ≡ distinct-gram count, same
    // jaccard division tree. Guide §2.4 (remove shuffles outright).
    val arrs = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> xxhash64(array_join(slice(toks, i, 2), ' ')))"))
        .as("hbase"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"hbase")).as("grams"))
      .select($"doc_id", $"grams", size($"grams").cast("long").as("n"))
      .transform(Cut.eager) // feeds both pair sides
    val out = arrs.select($"doc_id".as("a"), $"grams".as("ga"), $"n".as("na"))
      .join(arrs.select($"doc_id".as("b"), $"grams".as("gb"), $"n".as("nb")),
        col("b") === col("a") + 1)
      .withColumn("inter",
        size(graft.functions.SortedIntersect($"ga", $"gb")).cast("long"))
      .select($"a", $"b", $"inter", $"na", $"nb",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jaccard"))
      .transform(Cut.eager)
    out.orderBy($"a")
  }

  // ---------------------------------- portable (oracle-checked) MinHash

  /** Affine-permutation family for the PORTABLE MinHash path: slopes and
    * intercepts are plain integers so both engines compute bit-identical
    * signatures. Shared by [[minHashPortableQuery]] and its generated
    * oracle SQL — one definition, no drift (the bandHashArray treatment
    * applied to the cross-engine contract). */
  private[graft] val PortablePerms: Seq[(Long, Long)] =
    (0 until 16).map(i => (2L * i + 3, 1000003L * i + 12345))

  /** Largest prime below 2^48 — the modulus keeps `slope * h + intercept`
    * (h is a 48-bit md5-prefix, slope ≤ 33) far inside BIGINT range in
    * both engines. */
  private[graft] val PortableP = 281474976710597L

  /** B12: the flagship MinHash-LSH near-dup pipeline in its ORACLE-CHECKED
    * form — same plan shape as [[minHashNearDup]] (distinct gram hashes →
    * per-doc signature min → band keys → capped candidate equi-join →
    * exact Jaccard from the pair set), but every hash is engine-portable:
    * grams hash via the 48-bit md5-prefix contract and the permutation
    * family is affine integer arithmetic mod [[PortableP]], so DuckDB
    * replays signatures, banding, candidates, and verification
    * bit-identically and the WHOLE pipeline hash-gates (the xxhash64
    * production path stays rows-only; this variant is its cross-engine
    * witness). Signature aggregation is ONE doc_id shuffle of 16
    * map-side-combinable mins; band keys are string concats (no second
    * hash); candidates flow through the production [[candidatePairs]]
    * including the hot-bucket cap (the oracle replays the UNCAPPED join,
    * so the plan ASSERTS no bucket exceeds the cap at oracle scale — a
    * regime break fails diagnostically instead of as an opaque hash
    * mismatch; same data-regime treatment as the b05 sketch gates). The
    * final
    * threshold is division-free exact integer (2·inter ≥ na+nb−inter ⇔
    * Jaccard ≥ 0.5). */
  def minHashPortableQuery(s: SparkSession, dir: String): DataFrame = {
    // self-dedup over the standing corpus: the shingle/band index is
    // the same materialize-once table the cross-corpus path probes
    val (sh, bands) = refPortableTables(s, dir, "self_ref", lit(true))
    minHashPortableWith(sh, bands)
  }

  /** Distinct engine-portable 48-bit gram hashes per doc — the shingle
    * stage of the portable pipelines ([[minHashPortable]],
    * [[minHashPortableAcross]]). */
  private[graft] def portableShingleHashes(docs: DataFrame, k: Int): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .filter(size(col("toks")) >= k)
    .select(col("doc_id"), explode(expr(
      s"transform(sequence(1, size(toks) - ${k - 1}), i -> array_join(slice(toks, i, $k), ' '))"))
      .as("gram"))
    .select(col("doc_id"), graft.functions.Md5Prefix(col("gram"), 12).as("hbase"))
    .distinct()

  /** Portable signatures → (doc_id, band_idx, band_hash) band keys:
    * 16 affine-permutation mins ([[PortablePerms]]) grouped into 4 bands
    * of 4, band key = the ':'-joined signature values (string concat, no
    * second hash — both engines replay it verbatim). */
  private[graft] def portableBandsOf(sh: DataFrame): DataFrame = portableBands(sh)

  private def portableBands(sh: DataFrame): DataFrame = {
    val sigCols = PortablePerms.zipWithIndex.map { case ((a, b), i) =>
      min((col("hbase") * lit(a) + lit(b)) % lit(PortableP)).as(s"s$i")
    }
    val sigs = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bandKeys = array((0 until 4).map(bd =>
      concat_ws(":", (0 until 4).map(r => col(s"s${bd * 4 + r}")): _*)): _*)
    sigs.select(col("doc_id"), posexplode(bandKeys))
      .toDF("doc_id", "band_idx", "band_hash")
  }

  /** Core of [[minHashPortableQuery]] over any `(doc_id, text)` frame. */
  def minHashPortable(docs: DataFrame, k: Int = 3): DataFrame = Cut.scope {
    val sh = portableShingleHashes(docs, k).transform(Cut.cached)
    minHashPortableWith(sh,
      portableBands(sh).transform(Cut.eager))
  }

  /** The portable family's keep predicate: division-free exact integer
    * 2·inter ≥ na+nb−inter ⇔ Jaccard ≥ 0.5, which DuckDB replays. */
  private def portableKeep: Column =
    col("inter") * 2 >= col("na") + col("nb") - col("inter")

  /** [[minHashPortable]] with PREBUILT shingle/band tables: the oracle
    * regime guard in front of [[nearDupSelf]]. */
  private def minHashPortableWith(sh: DataFrame, bandsDf: DataFrame): DataFrame = {
    // Regime guard (r4 ADVICE): the generated oracle replays the candidate
    // join WITHOUT the MaxBucket cap, so its equality to this plan rests on
    // no band bucket exceeding the cap at oracle scale. Assert that here —
    // a regime break must fail DIAGNOSTICALLY, not as an opaque hash
    // mismatch in the driver gate.
    val hottest = bandsDf.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("bsz")).agg(max(col("bsz"))).head.getLong(0)
    require(hottest <= MaxBucket,
      s"b12_minhash_portable oracle regime broken: hottest LSH bucket holds $hottest docs " +
        s"> MaxBucket=$MaxBucket; the DuckDB oracle replays the UNCAPPED candidate join " +
        "and would silently hash-mismatch — re-derive the oracle with the cap replayed")
    nearDupSelf(sh, bandsDf, portableKeep) // sh is caller-owned
  }

  /** B12 (r7): EXACT set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo/Ma/Srikant WWW'07, Xiao/Wang/Lin/Yu
    * WWW'08): every pair with gram-Jaccard ≥ 0.5, with NO approximation
    * and no LSH recall loss, yet never an all-pairs product. The pruning
    * theorem: order the universe of grams by (document frequency asc,
    * gram asc) — rarest first — and take from each doc only its PREFIX of
    * the first |x| − ⌈t·|x|⌉ + 1 grams. Any pair with J ≥ t must share at
    * least one gram inside BOTH prefixes (if the order-smallest common
    * gram fell beyond either side's prefix, that side could hold at most
    * ⌈t·|x|⌉ − 1 < t·|x| ≤ |a∩b| common grams — contradiction), so the
    * prefix equi-join is candidate-COMPLETE and exact verification of
    * the candidates recovers exactly the brute-force answer
    * (spec-pinned against brute force in PpJoinSpec).
    *
    * Scale shape: df is one map-side-combinable gram count (the TF-IDF
    * table); the per-doc (df, gram) rank window is doc-bounded; the
    * candidate join keys on the globally RAREST grams, so bucket fan-out
    * is df-bounded exactly where df is smallest — the algorithm's whole
    * point. The size filter (2·nb ≥ na ∧ 2·na ≥ nb, necessary for
    * J ≥ 0.5) rides the join. Degenerate corpora (thousands of identical
    * docs) make every pair a TRUE result, so the quadratic there is
    * output cost, not candidate waste — unlike LSH, whose capped variant
    * ([[minHashPortable]]) stays the right tool when only the connected
    * components are wanted. Grams are the engine-portable 48-bit
    * md5-prefix family, threshold division-free (2·inter ≥ na+nb−inter),
    * so the whole pipeline hash-gates against a brute-force DuckDB
    * oracle. */
  def ppJoin(docs: DataFrame, k: Int = 3): DataFrame = Cut.scope {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("hbase"))
    val sh = portableShingleHashes(docs, k).transform(Cut.cached)
    val dfreq = sh.groupBy(col("hbase")).agg(count(lit(1)).as("df"))
    // ONE aggregate serves the prefix-length gate and the verification:
    // per-doc sorted gram array + size. Verification then runs the
    // fused `sorted_intersect` kernel in-row per candidate — the
    // classic PPJoin merge-verify — instead of exploding (pair × gram)
    // rows through a join (the exploded form measured 22.7× wall on an
    // 8× disjoint replica from shuffle spill; the array form is the
    // plan that scales with the candidate count).
    val arrs = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("hbase"))).as("grams"),
        count(lit(1)).as("n"))
      .transform(Cut.eager) // prefix gate + both verify sides
    // prefix: rn ≤ n − ⌈n/2⌉ + 1 ⇔ 2·rn ≤ n + 2 (integer, division-free)
    // r17: rn rides along — the POSITIONAL filter below needs it
    val prefix = sh.join(dfreq, Seq("hbase"))
      .withColumn("rn", row_number().over(w))
      .join(arrs.select(col("doc_id"), col("n")), Seq("doc_id"))
      .filter(col("rn") * 2 <= col("n") + 2)
      .select(col("doc_id"), col("hbase"), col("n"), col("rn"))
      .transform(Cut.eager) // feeds both candidate-join sides
    // r17 (VERDICT r16 #7, guide §3.2 join-input reduction): PPJoin's
    // POSITIONAL filter (Xiao/Wang/Lin/Yu WWW'08 §3.2) rides the
    // candidate join — a pair sharing gram g at ranks (rna, rnb) of the
    // two docs' (df, gram) orders can have at most
    // 1 + min(na − rna, nb − rnb) common grams ABOVE g's rank, and for
    // the pair's order-SMALLEST common gram there are none below, so
    // J ≥ 0.5 (⇔ 3·inter ≥ na + nb) forces
    // 3·(1 + min(na − rna, nb − rnb)) ≥ na + nb at that occurrence.
    // Keeping a pair when ANY shared prefix occurrence passes therefore
    // stays candidate-COMPLETE (the smallest common gram always passes
    // for a true pair) while pruning verify-join input — integer-exact,
    // division-free, and the verified output set is unchanged
    // (spec-pinned against brute force in PpJoinSpec).
    val cand = prefix.select(col("doc_id").as("a"), col("hbase"),
        col("n").as("pna"), col("rn").as("rna"))
      .join(prefix.select(col("doc_id").as("b"), col("hbase"),
        col("n").as("pnb"), col("rn").as("rnb")),
        Seq("hbase"))
      .filter(col("a") < col("b") &&
        col("pnb") * 2 >= col("pna") && col("pna") * 2 >= col("pnb") &&
        (lit(1L) + least(col("pna") - col("rna"), col("pnb") - col("rnb"))) * 3 >=
          col("pna") + col("pnb"))
      .select(col("a"), col("b")).distinct()
    val out = cand
      .join(arrs.select(col("doc_id").as("a"), col("grams").as("ga"),
        col("n").as("na")), Seq("a"))
      .join(arrs.select(col("doc_id").as("b"), col("grams").as("gb"),
        col("n").as("nb")), Seq("b"))
      .withColumn("inter",
        size(graft.functions.SortedIntersect(col("ga"), col("gb"))).cast("long"))
      .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .transform(Cut.eager)
    out.orderBy(col("a"), col("b"))
  }

  def ppJoinQuery(s: SparkSession, dir: String): DataFrame =
    ppJoin(Tables.documents(s, dir))

  /** B12: the ORACLE-CHECKED twin of [[minHashNearDupAcross]] — same
    * incremental plan shape ([[crossProbe]], only cross pairs verified,
    * never ref×ref work), but signatures/bands use the portable
    * md5-prefix + affine-permutation family so DuckDB replays the ENTIRE
    * pipeline including the [[MaxBucket]] cap (the cap is in the
    * generated oracle SQL — no data-regime assumption at all, per the r4
    * ADVICE lesson), and the threshold is [[portableKeep]]. */
  def minHashPortableAcross(newDocs: DataFrame, refDocs: DataFrame, k: Int = 3,
      maxBucket: Int = MaxBucket): DataFrame = Cut.scope {
    val shRef = portableShingleHashes(refDocs, k).transform(Cut.cached)
    minHashPortableAcrossWith(newDocs, shRef,
      portableBands(shRef).transform(Cut.eager), k, maxBucket)
  }

  /** [[minHashPortableAcross]] with PREBUILT reference-side tables —
    * the seam the materialize-once snapshot queries (b12_cross_portable,
    * e03) inject through: at 100 TB the reference's shingle and
    * band-bucket tables are written once as bucketed tables (the
    * [[graft.SnapshotStore]] device, promised by the CrossNearDupSink
    * scaladoc) and every ingest batch probes them, so per-ingest work
    * scales with the batch while the corpus-side derivation is paid
    * once, not per run. Content and hashes are identical to deriving
    * them inline. The bucket stats are a pure function of the
    * reference, so snapshot-fed callers pass them as `statsRef` and a
    * per-tick probe never re-aggregates the corpus band table. */
  private[graft] def minHashPortableAcrossWith(newDocs: DataFrame,
      shRef: DataFrame, bRef: DataFrame, k: Int = 3,
      maxBucket: Int = MaxBucket, statsRef: Option[DataFrame] = None): DataFrame = {
    val shNew = portableShingleHashes(newDocs, k)
    nearDupCross(shNew, portableBands(shNew), shRef, bRef, statsRef, portableKeep,
      maxBucket)
  }

  /** Materialize-once reference shingle + band tables for a named
    * reference slice (keyed on documents.parquet — the
    * [[graft.SnapshotStore]] contract): shingles repartitioned by
    * doc_id (the verify-join key), bands by band_hash (the probe key). */
  /** Snapshot keys fold (refPred, k) via `params` (r14 ADVICE): two call
    * sites reusing one `name` with a different corpus predicate or
    * shingle size must rebuild, not silently share a bucketed table —
    * distinct caller names were the only protection before.
    *
    * r15 (ADVICE r14): the predicate renders through `Expression.sql`,
    * which is SESSION-STABLE by construction — attributes render by
    * name with no `#<exprId>` suffix (a caller passing a RESOLVED
    * column no longer bakes a fresh per-session ID into the key and
    * defeats the materialize-once cache) and string literals render
    * QUOTED, so a literal that happens to contain `#42` can never be
    * confused with an ID (the r15 review killed a `replaceAll("#\\d+")`
    * normalization for exactly that collision). The raw `toString` is
    * only a fallback for expressions `.sql` cannot render, with the ID
    * strip applied there. */
  private[graft] def refTableParams(refPred: Column, k: Int): String = {
    val rendered = scala.util.Try(
        org.apache.spark.sql.graftbridge.bridge.stableSql(refPred))
      .getOrElse(refPred.toString.replaceAll("#\\d+L?", ""))
    s"pred=$rendered|k=$k"
  }

  private[graft] def refPortableTables(s: SparkSession, dir: String,
      name: String, refPred: Column, k: Int = 3): (DataFrame, DataFrame) = {
    val p = refTableParams(refPred, k)
    val sh = graft.SnapshotStore(s, dir, "documents.parquet", s"${name}_sh", p) {
      portableShingleHashes(Tables.documents(s, dir).filter(refPred), k)
        .repartition(col("doc_id"))
    }
    val bands = graft.SnapshotStore(s, dir, "documents.parquet", s"${name}_bands", p) {
      portableBands(sh).repartition(col("band_hash"))
    }
    (sh, bands)
  }

  /** [[refPortableTables]] plus the materialize-once BUCKET-STATS table
    * (size + min-id witness per band bucket) — the third derived table a
    * probing tick needs; at 100 TB all three are written at index-build
    * time, so per-tick work is the batch-sided bucket join only (r11). */
  private[graft] def refPortableTables3(s: SparkSession, dir: String,
      name: String, refPred: Column, k: Int = 3): (DataFrame, DataFrame, DataFrame) = {
    val (sh, bands) = refPortableTables(s, dir, name, refPred, k)
    val stats = graft.SnapshotStore(s, dir, "documents.parquet", s"${name}_bstats",
        refTableParams(refPred, k)) {
      bucketStats(bands, BandKey).repartition(col("band_hash"))
    }
    (sh, bands, stats)
  }

  def crossPortableQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (shRef, bRef, statsRef) = refPortableTables3(s, dir, "cross_ref",
      col("doc_id") % 2 =!= 0)
    minHashPortableAcrossWith(docs.filter(col("doc_id") % 2 === 0), shRef, bRef,
      statsRef = Some(statsRef))
  }

  /** [[refPortableTables3]] written as BUCKETED catalog tables instead of
    * plain parquet snapshots (r13, VERDICT r12 #1 — the executed form of
    * the "at 100 TB the reference tables are bucketed" claim): shingles
    * bucketed on `doc_id` (the verify-join key), bands AND bucket stats
    * on (band_idx, band_hash) (the probe key), so when the probing batch
    * outgrows the broadcast threshold the probe's joins read
    * HashPartitioning straight from the layout and shuffle ONLY the
    * batch side — BucketedLayoutSpec pins that executed plan, and
    * b12_cross_bucketed hash-gates the content against the same DuckDB
    * replay the path-based variant uses. */
  private[graft] def refBucketedTables3(s: SparkSession, dir: String,
      name: String, refPred: Column, k: Int = 3,
      buckets: Int = 8): (DataFrame, DataFrame, DataFrame) = {
    val p = refTableParams(refPred, k)
    val sh = graft.SnapshotStore.bucketed(s, dir, "documents.parquet",
      s"${name}_sh", buckets, Seq("doc_id"), p) {
      portableShingleHashes(Tables.documents(s, dir).filter(refPred), k)
    }
    val bands = graft.SnapshotStore.bucketed(s, dir, "documents.parquet",
      s"${name}_bands", buckets, Seq("band_idx", "band_hash"), p) {
      portableBands(sh)
    }
    val stats = graft.SnapshotStore.bucketed(s, dir, "documents.parquet",
      s"${name}_bstats", buckets, Seq("band_idx", "band_hash"), p) {
      bucketStats(bands, BandKey)
    }
    (sh, bands, stats)
  }

  /** B12 (r13): the cross-corpus probe over the BUCKETED reference
    * layout — e08's arrival-gate stage (ids ≡ 3 mod 10 probing the
    * standing corpus) reading [[refBucketedTables3]]. Content-identical
    * to the path-snapshot plan by construction; the shared oracle family
    * hash-gates it, and BucketedLayoutSpec pins the bucket-local plan
    * shape under a non-broadcastable batch. */
  def crossBucketedQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // "e08_ref": the SAME bucketed tables e08's gate stage reads — one
    // shared artifact, so the gate and the flagship can never drift
    val (shRef, bRef, statsRef) = refBucketedTables3(s, dir, "e08_ref",
      col("doc_id") % 10 =!= 3)
    minHashPortableAcrossWith(docs.filter(col("doc_id") % 10 === 3), shRef, bRef,
      statsRef = Some(statsRef))
  }

  // ------------------------------------------- cluster assignment (B12)

  /** Connected components by iterative min-label propagation: every vertex
    * repeatedly adopts the smallest label among itself and its neighbors
    * until no label changes. Each round is two shuffles (neighbor-min agg +
    * label join) over the EDGE list — never a component materialization —
    * and converges in O(graph diameter) rounds. Near-dup graphs are
    * clique-like (every doc in a group resembles the others), so the
    * diameter is small and 2-3 rounds settle it; a pathological
    * long-chain graph would favor the two-phase star algorithm
    * (Kiveris et al., "Connected Components in MapReduce"), which this
    * implementation deliberately trades for simplicity + determinism.
    * Labels converge to the component's minimum vertex id → deterministic
    * canonical representative. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = Cut.scope {
    // materialize the edge list ONCE before symmetrizing: the union's two
    // branches would otherwise each execute the (typically expensive)
    // upstream edge pipeline — ReuseExchange dedupes only the exchange
    // nodes, not the join/aggregate work above them. The edge list itself
    // is small (post-threshold pairs), so the checkpoint is cheap.
    val e = edges.select(col("a"), col("b")).transform(Cut.eager)
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .transform(Cut.cached)
    // seed = one propagation round for free: min(u, direct neighbors) in
    // the same shuffle that enumerates the vertices. Near-dup groups are
    // clique-like, so the seed usually IS the fixpoint and the loop only
    // confirms it — one iteration, not two. Each round carries the
    // previous label in `prev`, so the change count is the round's
    // measure ([[graft.Cut.iterate]]), with no second join against the
    // old labels.
    val seed = sym.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("label")).transform(Cut.eager)
    val run = Cut.iterate(seed, maxIter, count(when(col("label") =!= col("prev"), 1))) { prev =>
      val labels = prev.frame.select(col("u"), col("label"))
      sym.join(labels.select(col("u").as("v"), col("label").as("vlabel")), Seq("v"))
        .groupBy(col("u")).agg(min(col("vlabel")).as("nlabel"))
        .join(labels, Seq("u"), "right_outer")
        .select(col("u"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("prev"))
    }((_, next) => next.n == 0)
    // truncated labels are WRONG labels (one component reported as
    // several) — fail loudly instead of returning silently corrupt
    // cluster assignments
    if (!run.converged) {
      sys.error(s"connectedComponents: not converged after $maxIter rounds " +
        s"(${run.last.n} labels still changing) — graph diameter exceeds maxIter; " +
        "switch to connectedComponentsStar (O(log n) rounds) or raise maxIter")
    }
    run.frame.select(col("u"), col("label"))
  }

  /** Connected components by ALTERNATING large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the long-chain fallback for [[connectedComponents]]:
    * min-label propagation is O(graph diameter) rounds, which a
    * pathological chain-shaped graph turns into O(n); the star algorithm
    * contracts the graph toward per-component stars in O(log n) rounds
    * regardless of diameter.
    *
    * Round = large-star then small-star, each ONE aggregation + ONE join
    * over the canonical edge list:
    *  - large-star(x): every neighbor v > x links to m = min(Γ(x) ∪ x)
    *  - small-star(x): every neighbor v < x (and x itself) links to
    *    m = min of those neighbors
    * The fixpoint is a disjoint union of stars rooted at each component's
    * minimum vertex — the same (vertex, component-min) contract as
    * [[connectedComponents]], verified equivalent in DedupSpec.
    * Convergence is checked EXACTLY (edge-set equality via count +
    * except, over the materialized per-round checkpoints), not via a
    * fingerprint. Use when round-over-round change counts of the
    * min-label loop stop shrinking geometrically — or from the start
    * when the edge graph is not known to be clique-like. */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50): DataFrame =
    starComponentsWithRounds(edges, maxIter)._1

  private[dedup] def starComponentsWithRounds(edges: DataFrame,
                                              maxIter: Int = 50): (DataFrame, Int) = {
    // canonical undirected form: (u < v), deduplicated, self-loops dropped;
    // materialized once (same reasoning as connectedComponents)
    val canonical = edges
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(Cut.lazily)
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("u").as("x"), col("v").as("nbr"))
        .union(cur.select(col("v").as("x"), col("u").as("nbr")))
      val mins = sym.groupBy(col("x")).agg(min(col("nbr")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      // for v > x: edge (v, m); m = min(Γ⁺(x)) ≤ x < v, so (m, v) is canonical
      // r17 (VERDICT r16 #4, guide §2.4): NO distinct here — the only
      // consumer is smallStar, whose min-aggregate and relink are
      // multiplicity-insensitive in VALUES and whose own final distinct
      // dedups the round's output set; the intermediate (u, v) exchange
      // bought nothing but a shuffle per round.
      sym.join(mins, Seq("x")).filter(col("nbr") > col("x"))
        .select(col("m").as("u"), col("nbr").as("v"))
        .filter(col("u") =!= col("v"))
    }
    def smallStar(cur: DataFrame): DataFrame = {
      // orient toward the larger endpoint: x = v, smaller neighbors = u
      val mins = cur.groupBy(col("v")).agg(min(col("u")).as("m"))
      val relink = cur.join(mins, Seq("v")).filter(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v")) // m < w by minimality
      val self = mins.select(col("m").as("u"), col("v"))
      relink.union(self).distinct()
    }
    // exact set equality: both sides are DISTINCT canonical edge sets,
    // so equal counts + empty difference ⇔ identical ([[graft.Cut.iterate]])
    val run = Cut.iterate(canonical, maxIter)(prev => smallStar(largeStar(prev.frame)))(
      (prev, next) => next.n == prev.n && next.frame.except(prev.frame).isEmpty)
    val e = run.frame
    if (!run.converged)
      sys.error(s"connectedComponentsStar: not converged after $maxIter rounds — " +
        "raise maxIter (expected O(log n) rounds; this indicates a bug or an " +
        "adversarial graph far beyond the iteration budget)")
    // fixpoint = disjoint min-rooted stars: (root, member) edges. Members
    // label as their root; roots label themselves.
    // r17: checkpoint — callers consume labels more than once (size
    // attribution + join-back in componentsOf), and the union+distinct
    // over the final edge set would otherwise re-run per consumer.
    val labels = e.select(col("v").as("u"), col("u").as("label"))
      .union(e.select(col("u"), col("u").as("label")).distinct())
      .distinct()
      .transform(Cut.eager)
    (labels, run.rounds)
  }

  /** B12: near-dup cluster assignment — the step that turns pairwise
    * near-dup hits into dedup GROUPS with a canonical representative
    * (training pipelines drop `doc_id != cluster_rep`). Edges connect
    * docs whose distinct-trigram overlap coefficient is ≥ 0.7
    * (integer-exact: 10·|∩| ≥ 7·min(|A|,|B|), no float threshold at the
    * boundary); components come from [[connectedComponents]].
    *
    * The edge builder here is the EXACT trigram self-join (cost
    * Σ freq(trigram)² — measured 2.8M intermediate rows at sf0.1), which
    * keeps the query oracle-reproducible. At corpus scale the same
    * clustering runs unchanged on the LSH candidate edges from
    * [[minHashNearDup]] — only the edge list differs. */
  def dedupClustersQuery(s: SparkSession, dir: String): DataFrame = Cut.scope {
    import s.implicits._
    val sh = shingleHashes(Tables.documents(s, dir), 3).transform(Cut.cached)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val shared = sh.toDF("a", "h").join(sh.toDF("b", "h"), Seq("h"))
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("shared"))
    val edges = shared
      .join(sizes.toDF("a", "na"), Seq("a"))
      .join(sizes.toDF("b", "nb"), Seq("b"))
      .filter($"shared" * 10 >= least($"na", $"nb") * 7)
      .select($"a", $"b")
    // connectedComponents materializes (loop actions + cut result), so
    // the shingle cache is fully consumed here and freed on return
    connectedComponents(edges).select($"u".as("doc_id"), $"label".as("cluster_rep"))
      .orderBy($"doc_id")
  }

  /** B12 scale path for cluster assignment: components over the LSH
    * near-dup edges instead of the exact all-overlapping-pairs edge
    * builder in [[dedupClustersQuery]] (whose trigram self-join costs
    * Σ freq(shingle)² — fine at oracle scale, quadratic on hot shingles
    * at corpus scale). Here the edge list is candidate-bounded
    * (band-bucket equi-join + exact Jaccard ≥ threshold), so the whole
    * clustering is LSH-linear. Approximate only in edge RECALL (LSH may
    * miss a borderline pair); every emitted edge is exact-verified. */
  def dedupClustersAtScale(docs: DataFrame, k: Int = 3,
                           threshold: Double = 0.5): DataFrame = {
    val edges = minHashNearDup(docs, k, threshold).select(col("a"), col("b"))
    connectedComponents(edges)
      .select(col("u").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------- decontamination (B12)

  /** B12: benchmark decontamination — flag training documents sharing any
    * k-token n-gram with a held-out benchmark/eval set (the standard
    * pre-training hygiene step: eval contamination silently inflates
    * downstream scores). Reuses [[shingleHashes]], so every shuffle
    * carries 8-byte gram hashes, not token strings; the overlap test is
    * an equi-join of the training grams against the DISTINCT benchmark
    * gram set — at production scale that set is tiny relative to the
    * corpus (benchmarks are MBs, corpora are TBs) and AQE broadcasts it,
    * making the whole check one scan of the training grams. */
  def decontaminate(docs: DataFrame, benchPred: Column, k: Int = 8): DataFrame = Cut.scope {
    // grams feed BOTH join sides with different pushed-down filters (the
    // subtrees aren't identical, so exchange reuse can't kick in) — one
    // materialization instead of two explode+distinct shuffles
    val grams = shingleHashes(docs, k).transform(Cut.cached)
    // the cut materializes only the contaminated-doc aggregate (one row
    // per doc sharing ≥1 gram); the gram cache is freed on return
    val shared = sharedGramCounts(grams, benchPred).transform(Cut.eager)
    docs.filter(!benchPred).select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_shared_grams"))
      .withColumn("contaminated", when(col("n_shared_grams") > 0, 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  /** The gram-overlap aggregate inside [[decontaminate]] (pre-checkpoint):
    * training grams equi-join the DISTINCT benchmark gram set — the
    * small side AQE broadcasts (plan-asserted in DedupSpec). */
  private[dedup] def sharedGramCounts(grams: DataFrame, benchPred: Column): DataFrame = {
    val bench = grams.filter(benchPred).select(col("hbase")).distinct()
    grams.filter(!benchPred).join(bench, "hbase")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_grams"))
  }

  def decontaminateQuery(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(s, dir), col("doc_id") % 50 === 0)

  /** B12: Bloom-filter decontamination — the shape that survives when the
    * held-out set itself is too big to broadcast as grams. [[decontaminate]]
    * equi-joins the train gram stream against the bench gram SET (fine while
    * AQE can broadcast it; a 10M-gram eval suite is ~hundreds of MB as
    * strings). Here the bench set is folded into an m-bit Bloom filter
    * materialized as a ≤⌈m/63⌉-row `(w, bits)` word table (63 payload bits per signed-long word — bit 63 is unusable cross-engine: DuckDB range-checks `1::BIGINT << 63`) via `bit_or`
    * aggregation — CONSTANT size regardless of eval-set cardinality — and
    * membership is two broadcast-joins + bit tests on the scan side: the
    * 100 TB train side never shuffles on gram; the only exchange is the
    * final map-side-combinable per-doc count. One-sided error: a gram in
    * the bench set ALWAYS tests positive (no false negatives — nothing
    * contaminated slips through), false-positive rate ~(1-e^(-hn/m))^h.
    *
    * Both hash probes are salted engine-portable 48-bit md5-prefix
    * integers, and the word/bit decomposition is plain integer arithmetic,
    * so the whole filter — build AND probe — replays exactly in ANSI SQL:
    * the operator is oracle-checked end-to-end, FP set included. */
  def bloomDecontaminate(docs: DataFrame, benchPred: Column, k: Int = 8,
      mBits: Int = 65536): DataFrame = {
    def probe(salt: String): Column =
      graft.functions.Md5Prefix(concat(lit(salt), col("gram")), 12) % mBits
    val bench = shingles(docs.filter(benchPred), k)
      .select(col("shingle").as("gram")).distinct()
    val bloom = bench
      .select(explode(array(probe("a"), probe("b"))).as("p"))
      .select(expr("p div 63").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").as("mask"))
      .groupBy(col("w")).agg(expr("bit_or(mask)").as("bits"))
    val train = shingles(docs.filter(!benchPred), k)
      .select(col("doc_id"), col("shingle").as("gram"))
      .select(col("doc_id"), probe("a").as("p1"), probe("b").as("p2"))
    // inner joins only DROP grams whose word has no bench bits — exactly
    // the not-positive outcome; the left-join spine below restores docs
    // with zero positives
    val hits = train
      .join(broadcast(bloom.as("b1")), expr("b1.w = p1 div 63"))
      .join(broadcast(bloom.as("b2")), expr("b2.w = p2 div 63"))
      .filter(expr("(b1.bits & shiftleft(CAST(1 AS BIGINT), CAST(p1 % 63 AS INT))) <> 0") &&
        expr("(b2.bits & shiftleft(CAST(1 AS BIGINT), CAST(p2 % 63 AS INT))) <> 0"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom_grams"))
    docs.filter(!benchPred).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_bloom_grams"))
      .withColumn("maybe_contaminated", when(col("n_bloom_grams") > 0, 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  def bloomDecontaminateQuery(s: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(Tables.documents(s, dir), col("doc_id") % 50 === 0)

  // ---------------------------------------------- entity resolution (B11)

  /** B11: blocked fuzzy entity matching (record linkage): candidate pairs
    * come from an equi-join on a cheap BLOCKING key (here the head noun of
    * the part name), then survive an edit-distance verification — the
    * classic two-phase ER shape that replaces the O(n²) all-pairs string
    * comparison with Σ(block²) work. Over-full blocks (a degenerate
    * blocking key — the ER twin of the LSH hot bucket) are capped per
    * [[MaxBucket]], and star candidates still pay the exact levenshtein
    * verify — precision untouched, candidate recall traded inside the
    * over-full block only. Each record is in one block, so no pair
    * repeats. Levenshtein is a built-in codegen'd expression in BOTH
    * engines (classic unit-cost edit distance) and the cap is replayed in
    * the oracle SQL, so the verified pair set is oracle-checked exactly
    * in BOTH regimes. */
  def entityMatch(records: DataFrame, maxDist: Int = 4,
      maxBlock: Int = 256): DataFrame = {
    val keyed = records.select(col("id"), col("name"),
      element_at(split(col("name"), " "), -1).as("block"))
    selfPairs(keyed, Seq("block"), id = "id", carry = Seq("name"), maxBucket = maxBlock)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("block"), col("name_a"), col("name_b"),
        col("dist").cast("long"))
      .orderBy(col("a"), col("b"))
  }

  /** At sf0.01 the part-name blocking key yields 8 blocks of 230–261
    * records, straddling [[MaxBucket]] — so the oracle gate exercises the
    * full-join AND the star regime in one corpus. */
  def entityMatchQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    entityMatch(Tables.part(s, dir)
      .select($"p_partkey".cast("long").as("id"), $"p_name".as("name")),
      maxDist = 4, maxBlock = MaxBucket)
  }

  /** Oracle twin of [[entityMatchQuery]] — replays blocking, the
    * [[MaxBucket]] cap, star-linking, and the levenshtein verify, so the
    * hash gate covers BOTH regimes (the r4 ADVICE lesson: replay the cap
    * in the oracle instead of assuming a data regime). */
  private def entityMatchOracle: String = s"""
      WITH k AS (SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name,
                        regexp_extract(p_name, '([^ ]+)$$', 1) AS block FROM part),
      s AS (SELECT block, COUNT(*) AS bsz, MIN(id) AS bmin FROM k GROUP BY block),
      small AS (SELECT k.* FROM k JOIN s USING (block) WHERE s.bsz <= $MaxBucket),
      fullp AS (SELECT a.id AS a, b.id AS b, a.block, a.name AS name_a, b.name AS name_b
                FROM small a JOIN small b ON a.block = b.block AND a.id < b.id),
      hot AS (SELECT k.*, s.bmin FROM k JOIN s USING (block) WHERE s.bsz > $MaxBucket),
      star AS (SELECT r.id AS a, m.id AS b, m.block, r.name AS name_a, m.name AS name_b
               FROM hot m JOIN hot r ON m.block = r.block AND r.id = m.bmin
               WHERE m.id <> m.bmin)
      SELECT a, b, block, name_a, name_b,
             CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
      FROM (SELECT * FROM fullp UNION ALL SELECT * FROM star) u
      WHERE levenshtein(name_a, name_b) <= 4
      ORDER BY a, b"""

  // ------------------------------------------------- duplicate spans (B11)

  /** B11: cross-document duplicate SPAN extraction — the substring-level
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022), re-expressed for Spark: instead of a
    * corpus suffix array (inherently sequential to build), hash every
    * k-token gram WITH its position, keep grams whose document frequency
    * is ≥2 (they appear verbatim in another document), and merge each
    * document's hit positions into maximal spans via gaps-and-islands.
    * Every token inside a reported span is covered by at least one
    * cross-document-duplicated k-gram (islands break when the next hit
    * starts more than k after the previous — coverage never has holes),
    * so the span is safe to clip/mask in a curation pass.
    *
    * Scale shape: gram df is one map-side-combinable aggregate over
    * 8-byte hashes; the duplicated-gram set joins hit positions back
    * (each position matches at most once — NO pairwise doc×doc work
    * anywhere, unlike the verify step of near-dup detection); the
    * island merge is a doc-partitioned window. Cost is linear in corpus
    * tokens + one equi-join, the reason gram-based span dedup (this, or
    * a Bloom variant) is what production pipelines actually run at
    * 100 TB where suffix arrays don't shard.
    *
    * `maxDf` drops ultra-frequent grams (boilerplate/idiom) — the
    * stop-gram cut that keeps precision on real corpora and keeps the
    * duplicated-gram set broadcastable. The gram hash is the
    * engine-portable md5-prefix integer at 48 BITS (12 hex digits, not
    * the 32-bit shard-key construction): df≥2 detection is collision-
    * SENSITIVE — at 10⁶–10⁷ corpus grams a 32-bit hash would plant
    * thousands of birthday false positives, while 48 bits keeps the
    * expectation ≪1 at oracle scale (and the hash is still identical in
    * both engines, so the gate compares exactly). */
  def dupSpans(docs: DataFrame, k: Int = 8, maxDf: Int = 50): DataFrame = {
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> array_join(slice(toks, i, $k), ' '))")))
      .toDF("doc_id", "pos", "gram")
      .select(col("doc_id"), col("pos"),
        graft.functions.Md5Prefix(col("gram"), 12).as("h"))
      // r17 (guide §2.4, the e01 lesson): the position table feeds BOTH
      // the df aggregate and the hits probe side — without the cut the
      // explode + md5 pass (the CPU cost center) runs once per branch
      // (the dup filter broadcasts, so no exchange exists to reuse).
      .transform(Cut.eager)
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"))
    val hits = grams.join(dup, "h").select(col("doc_id"), col("pos"))
    mergeSpans(hits, k)
  }

  /** Gaps-and-islands merge of `(doc_id, pos)` k-gram hit positions into
    * maximal per-doc spans — shared by [[dupSpans]] (cross-doc) and
    * [[selfRepSpans]] (intra-doc). Islands break when the next hit starts
    * more than k after the previous, so every token of a span is covered
    * by a hit gram. Doc-partitioned window only — no corpus-wide state. */
  private def mergeSpans(hits: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = hits
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("ni", when(col("prev").isNull || col("pos") > col("prev") + k, 1)
        .otherwise(0))
      .withColumn("island", sum(col("ni")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start").cast("long"),
        col("span_end").cast("long"),
        (col("span_end") - col("span_start")).cast("long").as("span_tokens"),
        col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  def dupSpansQuery(s: SparkSession, dir: String): DataFrame =
    dupSpans(Tables.documents(s, dir))

  /** B13: intra-document self-repetition spans — the boilerplate-masking
    * twin of [[dupSpans]]: positions whose k-gram occurs MORE THAN ONCE
    * within the SAME document (headers, templated blocks, copy-paste
    * loops — the degenerate text the repetition-filter kernel scores,
    * here localized to clippable token ranges). The repeat detection is a
    * (doc_id, gram) count — co-keyed with the doc, so unlike [[dupSpans]]
    * there is no corpus-wide gram aggregate at all: both shuffles key on
    * doc_id(+hash) and the operator scales embarrassingly. No df cap
    * needed — a gram repeated a million times within one doc is exactly
    * what this flags. */
  def selfRepSpans(docs: DataFrame, k: Int = 3): DataFrame = {
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> array_join(slice(toks, i, $k), ' '))")))
      .toDF("doc_id", "pos", "gram")
      .select(col("doc_id"), col("pos"),
        graft.functions.Md5Prefix(col("gram"), 12).as("h"))
      // r17 (guide §2.4, the e01 lesson): two consumers (rep aggregate +
      // hits join) — one explode+md5 pass, structurally.
      .transform(Cut.eager)
    val rep = grams.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select(col("doc_id"), col("h"))
    val hits = grams.join(rep, Seq("doc_id", "h")).select(col("doc_id"), col("pos"))
    mergeSpans(hits, k)
  }

  def selfRepSpansQuery(s: SparkSession, dir: String): DataFrame =
    selfRepSpans(Tables.documents(s, dir))

  /** B11: span CLIPPING — the curation consumer of [[dupSpans]] /
    * [[selfRepSpans]]: rewrite each document with the flagged token
    * ranges removed (the "drop the duplicated region, keep the document"
    * policy of substring-level dedup — deleting whole near-dup docs
    * over-prunes when only a boilerplate block is shared).
    *
    * Fully relational, so it clips at corpus scale AND replays in the
    * oracle: tokens posexplode → anti-join against the doc's spans
    * (equi on doc_id + range predicate — spans per doc are few, the
    * filter rides the join) → ordered re-concat via sort_array over
    * (pos, tok) structs (DuckDB: `string_agg(... ORDER BY pos)`). Docs
    * with no surviving tokens keep an empty string; every shuffle keys
    * on doc_id. `spans` is any frame with (doc_id, span_start,
    * span_end) — detection and policy stay decoupled. */
  def clipSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
    val sp = spans.select(col("doc_id").as("s_doc"),
      col("span_start"), col("span_end"))
    val keep = toks.join(sp,
      col("doc_id") === col("s_doc") &&
        col("pos") >= col("span_start") && col("pos") < col("span_end"),
      "left_anti")
    val rebuilt = keep.groupBy(col("doc_id"))
      .agg(array_join(expr("transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)"), " ")
        .as("clean_text"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .na.fill("", Seq("clean_text"))
      .withColumn("n_tokens_kept",
        when(col("clean_text") === "", 0).otherwise(size(split(col("clean_text"), " "))))
      .orderBy(col("doc_id"))
  }

  def clipSpansQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // checkpoint: the span detection must run once, not once per join branch
    clipSpans(docs, dupSpans(docs).transform(Cut.eager))
  }

  // ---------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b12_decontaminate" -> (decontaminateQuery _),
    "b12_bloom_decontaminate" -> (bloomDecontaminateQuery _),
    "b11_dedup_exact" -> (exactDedup _),
    "b11_dup_spans" -> (dupSpansQuery _),
    "b11_clip_spans" -> (clipSpansQuery _),
    "b13_selfrep_spans" -> (selfRepSpansQuery _),
    "b12_minhash_lsh" -> (minHashQuery _),
    "b12_minhash_portable" -> (minHashPortableQuery _),
    "b12_cross_neardup" -> (crossNearDupQuery _),
    "b11_dedup_canonical" -> (canonicalDedup _),
    "b12_simhash" -> (simHashQuery _),
    "b12_ngram_jaccard" -> (ngramJaccardQuery _),
    "b12_dedup_clusters" -> (dedupClustersQuery _),
    "b11_entity_match" -> (entityMatchQuery _),
    "b12_cross_portable" -> (crossPortableQuery _),
    "b12_cross_bucketed" -> (crossBucketedQuery _),
    "b12_simhash_portable" -> (simHashPortableQuery _),
    "b12_hamming_join_sql" -> (hammingJoinSqlQuery _),
    "b12_ppjoin" -> (ppJoinQuery _),
  )

  /** Generated from [[PortablePerms]]/[[PortableP]] — the oracle replays
    * the IDENTICAL signature arithmetic, banding, candidate join, and
    * division-free threshold (see [[minHashPortableQuery]] Scaladoc for
    * the bucket-cap data-regime note). */
  private def minHashPortableOracle: String = s"""
      WITH $portableBndCtes,
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM bnd x JOIN bnd y
                 ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
                AND x.doc_id < y.doc_id),
      szs AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      ins AS (SELECT c.a, c.b, COUNT(*) AS inter
              FROM cand c
              JOIN g ga ON ga.doc_id = c.a
              JOIN g gb ON gb.doc_id = c.b AND gb.h = ga.h
              GROUP BY c.a, c.b)
      SELECT i.a, i.b, i.inter, na.n AS na, nb.n AS nb,
             CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) AS jaccard
      FROM ins i
      JOIN szs na ON na.doc_id = i.a
      JOIN szs nb ON nb.doc_id = i.b
      WHERE i.inter * 2 >= na.n + nb.n - i.inter
      ORDER BY i.a, i.b"""

  /** The shared per-doc portable shingle/signature/band CTE prefix
    * (`d`, `g`, `sig`, `bnd`) — one definition consumed by
    * [[minHashPortableOracle]], [[portableCrossCtes]] AND the
    * b10_stream_band_index oracle (the
    * streaming refresher's served band table IS `bnd`, so the oracle's
    * one-shot replay and the cross-dedup replay can never drift). */
  private[graft] def portableBndCtes: String = {
    val sigSelects = PortablePerms.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((h * $a + $b) % $PortableP) AS s$i"
    }.mkString(",\n               ")
    val bandCases = (0 until 4).map { bd =>
      val key = (0 until 4).map(r => s"CAST(s${bd * 4 + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"WHEN $bd THEN $key"
    }.mkString(" ")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
      g AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(array_to_string(toks[i : i + 2], ' ')), 1, 12)) AS BIGINT) AS h
            FROM d, UNNEST(range(1, len(toks) - 1)) AS r(i)),
      sig AS (SELECT doc_id,
               $sigSelects
              FROM g GROUP BY doc_id),
      bnd AS (SELECT doc_id, b AS band_idx,
               CASE b $bandCases END AS band_hash
              FROM sig, UNNEST([0, 1, 2, 3]) AS u(b))"""
  }

  /** The portable cross-corpus LSH oracle CTE chain through `ins`
    * (candidate pairs with intersection counts), parameterized by SQL
    * predicates selecting the incoming and reference doc sets over the
    * shared per-doc `bnd` band table — ONE definition consumed by the
    * b12_cross_portable oracle and the e03 ingest-pipeline oracle (the
    * Bm25RankedCtes no-drift device). Callers apply the verification
    * threshold (`inter * 2 >= na + nb - inter`) themselves. */
  private[graft] def portableCrossCtes(newFilter: String, refFilter: String): String = {
    s"""$portableBndCtes,
      bn AS (SELECT * FROM bnd WHERE $newFilter),
      br AS (SELECT * FROM bnd WHERE $refFilter),
      st AS (SELECT band_idx, band_hash, COUNT(*) AS bsz, MIN(doc_id) AS bmin
             FROM br GROUP BY band_idx, band_hash),
      direct AS (SELECT n.doc_id AS a, r.doc_id AS b
                 FROM bn n JOIN br r USING (band_idx, band_hash)
                 JOIN st USING (band_idx, band_hash)
                 WHERE st.bsz <= $MaxBucket),
      star AS (SELECT n.doc_id AS a, st.bmin AS b
               FROM bn n JOIN st USING (band_idx, band_hash)
               WHERE st.bsz > $MaxBucket),
      cand AS (SELECT DISTINCT a, b
               FROM (SELECT * FROM direct UNION ALL SELECT * FROM star)
               WHERE a <> b),
      szs AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      ins AS (SELECT c.a, c.b, COUNT(*) AS inter
              FROM cand c
              JOIN g ga ON ga.doc_id = c.a
              JOIN g gb ON gb.doc_id = c.b AND gb.h = ga.h
              GROUP BY c.a, c.b)"""
  }

  /** Generated from [[PortablePerms]]/[[PortableP]]/[[MaxBucket]] — the
    * oracle replays signatures, banding, the REF-side bucket stats WITH
    * the hot-bucket witness cap, the cross-only candidate join, and the
    * exact-Jaccard verify. Unlike [[minHashPortableOracle]] there is no
    * bucket-regime assumption: the cap itself is in the SQL. One oracle
    * body for every cross-corpus probe variant — only the corpus-split
    * predicates differ (path snapshots: even/odd; bucketed layout: e08's
    * arrival split). */
  private def crossOracle(newFilter: String, refFilter: String): String = s"""
      WITH ${portableCrossCtes(newFilter, refFilter)}
      SELECT i.a AS new_id, i.b AS ref_id, i.inter, na.n AS na, nb.n AS nb,
             CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) AS jaccard
      FROM ins i
      JOIN szs na ON na.doc_id = i.a
      JOIN szs nb ON nb.doc_id = i.b
      WHERE i.inter * 2 >= na.n + nb.n - i.inter
      ORDER BY new_id, ref_id"""

  private def crossPortableOracle: String =
    crossOracle("doc_id % 2 = 0", "doc_id % 2 <> 0")

  /** Brute force IS the oracle for [[ppJoin]]: prefix filtering is a
    * pure candidate pruning, so the exact answer is the unfiltered
    * all-pairs gram join — the candidate-completeness theorem checked
    * cross-engine on real data. */
  private def ppJoinOracle: String = """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
      g AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(array_to_string(toks[i : i + 2], ' ')), 1, 12)) AS BIGINT) AS h
            FROM d, UNNEST(range(1, len(toks) - 1)) AS r(i)),
      szs AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      ins AS (SELECT ga.doc_id AS a, gb.doc_id AS b, COUNT(*) AS inter
              FROM g ga JOIN g gb ON gb.h = ga.h AND ga.doc_id < gb.doc_id
              GROUP BY 1, 2)
      SELECT i.a, i.b, i.inter, na.n AS na, nb.n AS nb,
             CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter) AS jaccard
      FROM ins i
      JOIN szs na ON na.doc_id = i.a
      JOIN szs nb ON nb.doc_id = i.b
      WHERE i.inter * 2 >= na.n + nb.n - i.inter
      ORDER BY i.a, i.b"""

  val oracles: Map[String, String] = Map(
    "b12_minhash_portable" -> minHashPortableOracle,
    "b12_ppjoin" -> ppJoinOracle,
    "b11_entity_match" -> entityMatchOracle,
    "b12_cross_portable" -> crossPortableOracle,
    "b12_cross_bucketed" -> crossOracle("doc_id % 10 = 3", "doc_id % 10 <> 3"),
    "b12_simhash_portable" -> simHashPortableOracle,
    "b12_hamming_join_sql" -> hammingJoinSqlOracle,
    // the oracle compares gram STRINGS where the engine joins 64-bit gram
    // hashes — identical flags unless two distinct grams collide in 64
    // bits (deterministic and vanishingly rare at oracle scale)
    "b12_decontaminate" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 7], ' ') AS gram
            FROM d, UNNEST(range(1, len(toks) - 6)) AS r(i)
            WHERE len(toks) >= 8),
      bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      shared AS (
        SELECT g.doc_id, COUNT(*) AS n_shared_grams
        FROM g JOIN bench USING (gram) WHERE g.doc_id % 50 <> 0 GROUP BY 1)
      SELECT d.doc_id, CAST(COALESCE(s.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
        CASE WHEN COALESCE(s.n_shared_grams, 0) > 0 THEN 1 ELSE 0 END AS contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
      LEFT JOIN shared s USING (doc_id) ORDER BY doc_id""",
    "b11_dedup_exact" -> """
      SELECT sha256(text) AS content_sha, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY sha256(text) ORDER BY keep_id""",
    "b11_dedup_canonical" -> """
      SELECT sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                                        '\s+', ' ', 'g'))) AS content_sha,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1 ORDER BY keep_id""",
    // the Bloom build AND probe replay in SQL: two salted 48-bit
    // md5-prefix probes mod 2^16, word = p//63, mask = 1<<(p%63) — 63 bits per word because DuckDB range-checks 1<<63,
    // bit_or-aggregated word table, membership = both bits set — the FP
    // set is part of the hash-checked contract, not noise
    "b12_bloom_decontaminate" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                 WHERE len(string_split(text, ' ')) >= 8),
      g AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 7], ' ') AS gram
            FROM d, UNNEST(range(1, len(toks) - 6)) AS r(i)),
      bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      bp AS (SELECT u.p FROM bench, UNNEST([
               CAST(('0x' || substr(md5('a' || gram), 1, 12)) AS BIGINT) % 65536,
               CAST(('0x' || substr(md5('b' || gram), 1, 12)) AS BIGINT) % 65536]) AS u(p)),
      bloom AS (SELECT p // 63 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
                FROM bp GROUP BY 1),
      tg AS (SELECT doc_id,
               CAST(('0x' || substr(md5('a' || gram), 1, 12)) AS BIGINT) % 65536 AS p1,
               CAST(('0x' || substr(md5('b' || gram), 1, 12)) AS BIGINT) % 65536 AS p2
             FROM g WHERE doc_id % 50 <> 0),
      hit AS (SELECT doc_id, COUNT(*) AS n
              FROM tg JOIN bloom b1 ON b1.w = p1 // 63
                      JOIN bloom b2 ON b2.w = p2 // 63
              WHERE (b1.bits & (CAST(1 AS BIGINT) << CAST(p1 % 63 AS INT))) <> 0
                AND (b2.bits & (CAST(1 AS BIGINT) << CAST(p2 % 63 AS INT))) <> 0
              GROUP BY doc_id)
      SELECT t.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_bloom_grams,
             CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS maybe_contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) t
      LEFT JOIN hit h USING (doc_id) ORDER BY doc_id""",
    // the dup_spans chain + relational clipping: token rows anti-joined
    // against covering spans, ordered re-concat via string_agg
    "b11_clip_spans" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                 WHERE len(string_split(text, ' ')) >= 8),
      g AS (SELECT doc_id, i - 1 AS pos,
              CAST(('0x' || substr(md5(array_to_string(toks[i : i + 7], ' ')), 1, 12)) AS BIGINT) AS h
            FROM d, UNNEST(range(1, len(toks) - 6)) AS r(i)),
      dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50),
      hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
      isl AS (SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                    THEN 1 ELSE 0 END AS ni
              FROM hits),
      num AS (SELECT doc_id, pos,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
              FROM isl),
      spans AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end
                FROM num GROUP BY doc_id, island),
      dtok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
              FROM dtok, UNNEST(range(1, len(toks) + 1)) AS r(i)),
      keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
               WHERE NOT EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
                                 AND t.pos >= s.span_start AND t.pos < s.span_end)),
      agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
              FROM keep GROUP BY doc_id)
      SELECT d2.doc_id, COALESCE(a.clean_text, '') AS clean_text,
             CAST(CASE WHEN COALESCE(a.clean_text, '') = '' THEN 0
                  ELSE len(string_split(COALESCE(a.clean_text, ''), ' ')) END AS INT)
               AS n_tokens_kept
      FROM (SELECT doc_id FROM documents) d2
      LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",
    // k=3 intra-doc repeats; same portable hash and island merge as
    // b11_dup_spans but the repeat detection is per (doc_id, gram)
    "b13_selfrep_spans" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
      g AS (SELECT doc_id, i - 1 AS pos,
              CAST(('0x' || substr(md5(array_to_string(toks[i : i + 2], ' ')), 1, 12)) AS BIGINT) AS h
            FROM d, UNNEST(range(1, len(toks) - 1)) AS r(i)),
      rep AS (SELECT doc_id, h FROM g GROUP BY doc_id, h HAVING COUNT(*) >= 2),
      hits AS (SELECT g.doc_id, g.pos FROM g JOIN rep USING (doc_id, h)),
      isl AS (SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 3
                    THEN 1 ELSE 0 END AS ni
              FROM hits),
      num AS (SELECT doc_id, pos,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
              FROM isl)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 3 AS span_end,
             MAX(pos) + 3 - MIN(pos) AS span_tokens, COUNT(*) AS n_grams
      FROM num GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    // k=8, maxDf=50; grams are toks[i : i+7] (DuckDB inclusive slice = 8
    // tokens); the hash is the engine-portable 48-bit md5-prefix integer
    // (12 hex digits — df>=2 detection is collision-sensitive, so wider
    // than the 32-bit shard-key construction); islands break when the
    // next hit position exceeds prev + k
    "b11_dup_spans" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                 WHERE len(string_split(text, ' ')) >= 8),
      g AS (SELECT doc_id, i - 1 AS pos,
              CAST(('0x' || substr(md5(array_to_string(toks[i : i + 7], ' ')), 1, 12)) AS BIGINT) AS h
            FROM d, UNNEST(range(1, len(toks) - 6)) AS r(i)),
      dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50),
      hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
      isl AS (SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                    THEN 1 ELSE 0 END AS ni
              FROM hits),
      num AS (SELECT doc_id, pos,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
              FROM isl)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end,
             MAX(pos) + 8 - MIN(pos) AS span_tokens, COUNT(*) AS n_grams
      FROM num GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "b12_ngram_jaccard" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
                 WHERE len(string_split(text, ' ')) >= 2),
      g AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gs
            FROM t),
      p AS (SELECT a.doc_id AS a, b.doc_id AS b,
              len(list_intersect(a.gs, b.gs)) AS inter, len(a.gs) AS na, len(b.gs) AS nb
            FROM g a JOIN g b ON b.doc_id = a.doc_id + 1)
      SELECT a, b, CAST(inter AS BIGINT) AS inter, CAST(na AS BIGINT) AS na,
             CAST(nb AS BIGINT) AS nb,
             CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM p ORDER BY a""",
    // connected components via recursive reachability (small graph at
    // oracle scale); the engine side converges min-label propagation to
    // the same component-minimum representative
    "b12_dedup_clusters" -> """
      WITH RECURSIVE
      t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            WHERE len(string_split(text, ' ')) >= 3),
      g AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
            FROM t),
      e0 AS (SELECT a.doc_id AS a, b.doc_id AS b,
               len(list_intersect(a.gs, b.gs)) AS shared,
               len(a.gs) AS na, len(b.gs) AS nb
             FROM g a JOIN g b ON b.doc_id > a.doc_id),
      edges AS (SELECT a, b FROM e0 WHERE shared * 10 >= LEAST(na, nb) * 7),
      sym AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
      reach AS (SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u)
      SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY u ORDER BY doc_id""",
  )
}
