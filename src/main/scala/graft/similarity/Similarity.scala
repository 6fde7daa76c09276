package graft.similarity

import graft.{Cut, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2 B12/B14 extension surface).
  *
  * Numeric determinism: embeddings are quantized to integer milliunits
  * (`round(x*1000)`) so dot products and norms are EXACT integer sums —
  * order-independent and bit-identical across engines; the final cosine is
  * a single deterministic double expression. This is what makes top-k
  * hash-comparable against the DuckDB oracle.
  *
  * Scale shape: queries are broadcast; the corpus is scanned
  * partition-parallel; per-query top-k runs as one window over
  * (query_id) partitions. An LSH sign-bucket variant bounds the
  * candidate set for corpus×corpus workloads.
  */
object Similarity {

  /** Quantize a float array column to long milliunits. */
  def quantize(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen'd [[graft.functions.DotProductQ]] expression (one fused loop,
    * no intermediate zipped array; see its scaladoc). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.DotProductQ(a, b)

  /** Higher-order-function formulation of [[dotQ]] — identical semantics
    * (property-tested in DotProductQSpec), kept as the measurement
    * baseline for the native expression. */
  def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Deterministic cosine similarity of two quantized vectors. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** Quantized vectors with precomputed norms: every pairwise cosine then
    * costs ONE dot product instead of three (norms are per-vector, not
    * per-pair). `sqrt(exact-int)` stored once is bit-identical to
    * recomputing it per pair, so results don't change. */
  def quantizedWithNorm(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("norm", sqrt(dotQ(col("q"), col("q")).cast("double")))

  /** Cosine from a pair's dot product and the two precomputed norms —
    * the identical double expression as [[cosineQ]]. */
  def cosinePre(qa: Column, qb: Column, normA: Column, normB: Column): Column =
    dotQ(qa, qb).cast("double") / (normA * normB)

  /** B12: cosine between consecutive vec pairs — the exact kernel,
    * oracle-checkable. */
  def cosinePairs(s: SparkSession, dir: String): DataFrame = {
    val e = quantizedWithNorm(Tables.embeddings(s, dir))
    val a = e.toDF("a", "qa", "na")
    val b = e.toDF("b", "qb", "nb")
    a.join(b, col("b") === col("a") + 1)
      .select(col("a"), col("b"),
        dotQ(col("qa"), col("qb")).as("dot"),
        cosinePre(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .orderBy(col("a"))
  }

  /** B12 (r7 final): RADIUS (range) search — every corpus vector within
    * cosine ≥ `minCosine` of each probe, completing the index API
    * family beside top-k ([[bruteForceTopK]]) and the recall gates:
    * near-dup mining and dedup want "everything closer than τ", not a
    * fixed k (FAISS ships range_search beside search for exactly this
    * reason). Same broadcast-guarded probe join and exact quantized
    * cosine kernel as brute top-k; the τ cut replaces the rank window,
    * so the per-query result is data-dependent and the (query_id,
    * vec_id) order total. At corpus-scale probe sets the same cut
    * applies on the IVF candidate chain instead of the full scan. */
  def rangeSearch(embeddings: DataFrame, queryPred: Column,
                  minCosine: Double): DataFrame =
    bruteSimsThen(embeddings, queryPred, "rangeSearch")(
      _.filter(col("cosine") >= minCosine))
      .orderBy(col("query_id"), col("vec_id"))

  def rangeSearchQuery(s: SparkSession, dir: String): DataFrame =
    rangeSearch(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, 0.25)

  /** b12_mmr geometry: candidate pool per probe, picks per probe. */
  val MmrCand = 20
  val MmrK = 5

  /** B12 (r7): Maximal Marginal Relevance re-ranking (Carbonell &
    * Goldstein, SIGIR'98) — the diversity stage between retrieval and
    * the context window: greedy-pick `k` of the top-`nCand` candidates,
    * each round taking the candidate maximizing λ·rel(c) −
    * (1−λ)·max_{s∈selected} sim(c, s), so near-duplicate hits stop
    * crowding out coverage (the RAG failure e02's context dedup only
    * partially addresses — dedup removes twins, MMR also spreads the
    * survivors). λ = 1/2, served as the 2×-scaled score rel − penalty
    * (same argmax, no fractional constants); ties break by vec_id so
    * every pick is total. The greedy recursion is inherently
    * sequential, but each of the k−1 unrolled rounds runs on the
    * CANDIDATE table — nCand rows per probe regardless of corpus size
    * (the e02 stages-2-3 retrieval-sized argument), with a per-round
    * lineage cut. Candidate generation and the nCand² per-probe pair
    * sims ride the shared brute kernel; at corpus scale the candidate
    * stage swaps for [[ivfTopK]] unchanged. */
  def mmrSelect(embeddings: DataFrame, queryPred: Column,
      nCand: Int = MmrCand, k: Int = MmrK): DataFrame = Cut.scope {
    val cand = bruteForceTopK(embeddings, queryPred, nCand)
      .select(col("query_id"), col("vec_id"), col("cosine").as("rel"))
      .transform(Cut.eager)
    val e = quantizedWithNorm(embeddings).transform(Cut.cached)
    val ca = cand.select(col("query_id"), col("vec_id").as("a"))
      .join(e.toDF("a", "qa", "na"), "a")
    val cb = cand.select(col("query_id"), col("vec_id").as("b"))
      .join(e.toDF("b", "qb", "nb"), "b")
    val pairs = ca.join(cb, "query_id").where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        cosinePre(col("qa"), col("qb"), col("na"), col("nb")).as("sim"))
      .transform(Cut.eager)
    val perQuery = Window.partitionBy(col("query_id"))
    // r17 (guide §2.4/§3): INCREMENTAL penalty — the greedy objective's
    // max-sim-over-selected is an iterated pairwise max (arithmetic-
    // free, so bit-identical to the old recompute-over-all-picks join +
    // aggregate), so each round joins the remaining candidates against
    // ONLY the newest pick and folds greatest(pen, sim). This drops one
    // join and the per-round |cand|x|sel| aggregate blowup; the round's
    // ranked frame is checkpointed once and feeds both the pick and the
    // survivor pool.
    val r1 = cand
      .withColumn("rn", row_number().over(
        perQuery.orderBy(col("rel").desc, col("vec_id"))))
      .transform(Cut.eager)
    var sel = r1.filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), lit(1).as("rank"),
        col("rel"), col("rel").as("mmr"))
    var lastPick = sel.select(col("query_id"), col("vec_id").as("b"))
    // survivors carry pen = max sim to every pick so far (null before
    // the first penalty round; every candidate has a pairs row to each
    // pick, so the inner join below never drops a survivor)
    var avail = r1.filter(col("rn") =!= 1)
      .select(col("query_id"), col("vec_id"), col("rel"),
        lit(null).cast("double").as("pen"))
    for (r <- 2 to k) {
      val ranked = avail
        .join(pairs.withColumnRenamed("a", "vec_id"), Seq("query_id", "vec_id"))
        .join(lastPick, Seq("query_id", "b"))
        .select(col("query_id"), col("vec_id"), col("rel"),
          coalesce(greatest(col("pen"), col("sim")), col("sim")).as("pen"))
        .withColumn("mmr", col("rel") - col("pen"))
        .withColumn("rn", row_number().over(
          perQuery.orderBy(col("mmr").desc, col("vec_id"))))
        .transform(Cut.eager)
      val picked = ranked.filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), lit(r).as("rank"),
          col("rel"), col("mmr"))
      sel = sel.unionAll(picked)
      lastPick = picked.select(col("query_id"), col("vec_id").as("b"))
      avail = ranked.filter(col("rn") =!= 1)
        .select(col("query_id"), col("vec_id"), col("rel"), col("pen"))
    }
    sel.orderBy(col("query_id"), col("rank"))
  }

  def mmrQuery(s: SparkSession, dir: String): DataFrame =
    mmrSelect(Tables.embeddings(s, dir), col("vec_id") % 100 === 0)

  /** B12 (r7): scalar-quantization (SQ8) ANN — the third index
    * compression family beside PQ and IVF-PQ (FAISS's
    * IndexScalarQuantizer): each dimension is affinely mapped to one
    * byte using per-dimension [min, max] trained from the corpus, so a
    * 64-dim vector costs 64 bytes and distances decode by a per-dim
    * rescale. Served EXACTLY: the encoded-and-rescaled coordinate
    * w8_d = ⌊(v_d − mn_d)·255 / rng_d⌋ · rng_d is an integer, and the
    * ranking distance Σ (w8a − w8b)² is a BIGINT (≤ 64·(2·10⁶)² —
    * nowhere near overflow), computed through the fused `dot_q` kernel
    * on the difference vector — no float anywhere, so the LOSSY
    * quantizer itself hash-gates (the b05_countmin discipline). The
    * 64-row (mn, rng) table is collected once and embedded as literal
    * arrays (the sign-LSH planes device — constants at plan-build
    * time, encode stays scan-side with zero extra shuffle); the oracle
    * re-derives identical mins/maxes relationally. Constant dimensions
    * (rng = 0) encode to 0 on both sides. */
  def sqTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = Cut.scope {
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .transform(Cut.cached)
    val dims = e.select(posexplode(col("q")).as(Seq("d", "v")))
      .groupBy(col("d")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("d")).collect()
    val mnL = dims.map(_.getLong(1))
    val rngL = dims.map(r => r.getLong(2) - r.getLong(1))
    val enc = e
      .withColumn("mnL", array(mnL.map(lit).toIndexedSeq: _*))
      .withColumn("rngL", array(rngL.map(lit).toIndexedSeq: _*))
      .select(col("vec_id"), expr(
        s"transform(sequence(0, ${mnL.length - 1}), i -> " +
          "CASE WHEN rngL[i] = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE ((q[i] - mnL[i]) * 255) div rngL[i] * rngL[i] END)").as("w8"))
      .transform(Cut.cached)
    val qs = enc.filter(queryPred).toDF("query_id", "wq")
    val nQ = qs.count()
    require(nQ <= MaxBroadcastQueries,
      s"sqTopK: $nQ query vectors exceed the broadcast ceiling")
    val diff = zip_with(col("wq"), col("wv"), (a, b) => a - b)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_dist"), col("vec_id"))
    enc.toDF("vec_id", "wv")
      .join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), dotQ(diff, diff).as("sq_dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("sq_dist"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
      .transform(Cut.eager)
  }

  def sqTopKQuery(s: SparkSession, dir: String): DataFrame =
    sqTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0)

  /** B12 (r7): the SQ acceptance gate — recall@10 of the SQ8 ranking
    * vs the exact brute-force neighbors, completing the
    * index-acceptance family (IVF and PQ each have theirs). The SQ8
    * rank ordering differs from cosine's in principle (squared L2 on
    * affinely rescaled coordinates vs angle), so the recall report is
    * exactly the number that says whether 1 byte/dim held rank
    * fidelity on this corpus. */
  def sqRecallQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brute = bruteForceTopK(Tables.embeddings(s, dir),
      col("vec_id") % 100 === 0, k = RecallK)
      .select($"query_id", $"vec_id")
    recallReport(brute,
      sqTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, k = RecallK))
  }

  /** Hard ceiling on the broadcast query-set size for [[bruteForceTopK]].
    * At ~(4 + 8·dims) bytes per quantized vector, 100k 64-dim queries is
    * ≈52 MB — the most a forced broadcast should ever carry. */
  val MaxBroadcastQueries = 100000L

  /** B12: brute-force top-k neighbors for a query subset — broadcast the
    * queries, scan the corpus once, window for top-k. The exact baseline
    * every ANN variant is measured against — a recall yardstick, NOT the
    * scale path (cost is |corpus|×|queries|): use [[lshNearNeighbors]] or
    * [[ivfTopK]] for large query sets. The broadcast is size-guarded so a
    * misuse fails fast instead of OOMing the driver. */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    bruteSimsThen(embeddings, queryPred, "bruteForceTopK")(
      _.withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
      .orderBy(col("query_id"), col("rn"))
  }

  /** The exact-similarity scaffold shared by [[bruteForceTopK]] and
    * [[rangeSearch]] (one definition — broadcast guard, self-exclusion,
    * cosine kernel can never drift between the two cuts): quantize +
    * cache the corpus, size-guard and broadcast the probe set, emit the
    * (query_id, vec_id, cosine) frame, apply the caller's cut,
    * cut the (small) result; the corpus cache is freed on return
    * ([[graft.Cut]]). */
  private def bruteSimsThen(embeddings: DataFrame, queryPred: Column,
      caller: String)(cut: DataFrame => DataFrame): DataFrame = Cut.scope {
    val e = quantizedWithNorm(embeddings).transform(Cut.cached)
    val queries = e.filter(queryPred).toDF("query_id", "qq", "qnorm")
    val nQueries = queries.count()
    require(nQueries <= MaxBroadcastQueries,
      s"$caller: $nQueries query vectors exceed the broadcast ceiling " +
        s"($MaxBroadcastQueries); use ivfTopK/lshNearNeighbors for corpus-scale query sets")
    val sims = e.toDF("vec_id", "qv", "vnorm")
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosinePre(col("qq"), col("qv"), col("qnorm"), col("vnorm")).as("cosine"))
    cut(sims).transform(Cut.eager)
  }

  def annTopKQuery(s: SparkSession, dir: String): DataFrame =
    bruteForceTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0)

  /** B12 (r7 cont.): attribute-FILTERED vector search — top-k under a
    * metadata predicate (here: same label as the probe), the
    * "filtered ANN" every production vector store ships because
    * post-filtering a plain top-k silently starves selective filters
    * (k survivors of the filter ≠ top-k of the filtered set). The
    * scale point: the predicate becomes the JOIN KEY — candidates are
    * generated per (label) bucket, never filtered after an unfiltered
    * ranking — so selectivity CUTS cost instead of recall. Same exact
    * quantized-cosine kernel, broadcast-guarded probe set, total
    * (cosine DESC, vec_id) ranking. At corpus scale the same shape
    * rides IVF: cell candidates intersect the label partition first. */
  def filteredTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = Cut.scope {
    val e = embeddings
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("q"))
      .withColumn("norm", sqrt(dotQ(col("q"), col("q")).cast("double")))
      .transform(Cut.cached)
    val queries = e.filter(queryPred).toDF("query_id", "label", "qq", "qnorm")
    val nQueries = queries.count()
    require(nQueries <= MaxBroadcastQueries,
      s"filteredTopK: $nQueries query vectors exceed the broadcast ceiling " +
        s"($MaxBroadcastQueries); intersect IVF cells with the label partition instead")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val out = e.toDF("vec_id", "label", "qv", "vnorm")
      .join(broadcast(queries), Seq("label")) // the filter IS the join key
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("label"), col("vec_id"),
        cosinePre(col("qq"), col("qv"), col("qnorm"), col("vnorm")).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .transform(Cut.eager)
    out.orderBy(col("query_id"), col("rn"))
  }

  def filteredTopKQuery(s: SparkSession, dir: String): DataFrame =
    filteredTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0)

  /** Deterministic pseudo-random hyperplane MATRIX for sign-LSH:
    * component (plane, dim) is the 48-bit md5 prefix of "plane:dim"
    * mapped to [-500, 500) milliunits. The matrix is numPlanes×dims
    * CONSTANTS computed once at plan-build time and embedded as literals
    * in both the Spark plan and the generated oracle SQL (the
    * `Dedup.PortablePerms` shared-constants device) — so bucket
    * assignment is engine-portable AND the scan pays an integer
    * dot against a literal array instead of per-row hash evals. */
  private[graft] def planeVec(plane: Int, dims: Int): IndexedSeq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { d =>
      val h = md.digest(s"$plane:$d".getBytes("UTF-8"))
      val prefix = h.take(6).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(prefix, 16) % 1000L - 500L
    }
  }

  /** Hyperplane dimensionality of the embeddings corpus (TESTDATA.md). */
  private[graft] val PlaneDims = 64

  /** Sign-bit LSH bucket id over QUANTIZED (milliunit-long) vectors:
    * bit p set iff q · plane_p ≥ 0, all-integer arithmetic (|q|·|plane|
    * ≤ ~10⁴·500 per dim, ×64 dims ≪ 2⁶³). */
  def lshBucket(q: Column, numPlanes: Int = 8): Column = {
    val bits = (0 until numPlanes).map { p =>
      val pv = typedLit(planeVec(p, PlaneDims))
      val dot = aggregate(zip_with(q, pv, (x, c) => x * c), lit(0L), (acc, v) => acc + v)
      when(dot >= 0, shiftleft(lit(1), p)).otherwise(0)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** B12 scale path: LSH-bucketed ANN — corpus×corpus near-neighbor pairs
    * restricted to same-bucket candidates (an equi-join on bucket, never an
    * all-pairs product). Approximate by construction; recall is tested
    * against [[bruteForceTopK]], and the whole pipeline — portable
    * literal-constant planes, integer sign buckets, exact cosine verify —
    * is DuckDB-oracle hash-gated. */
  def lshNearNeighbors(embeddings: DataFrame, numPlanes: Int = 8,
                       minCosine: Double = 0.3): DataFrame = Cut.scope {
    // bucket assignment is the expensive expression and feeds a self-join:
    // materialize it once instead of evaluating per join side
    val e = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("bucket", lshBucket(col("q"), numPlanes))
      .withColumn("norm", sqrt(dotQ(col("q"), col("q")).cast("double")))
      .transform(Cut.cached)
    val a = e.toDF("a", "qa", "bucket", "na")
    val b = e.toDF("b", "qb", "bucket", "nb")
    // post-threshold pair set is the (small) output — cut it
    val pairs = a.join(b, Seq("bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosinePre(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .transform(Cut.eager)
    pairs.orderBy(col("a"), col("b"))
  }

  def lshQuery(s: SparkSession, dir: String): DataFrame =
    lshNearNeighbors(Tables.embeddings(s, dir))

  /** B12 scale path #2 — IVF (inverted-file) ANN: partition the corpus
    * into cells around deterministic hash-chosen centroid vectors, then
    * search only the query's `nprobe` closest cells. Assignment and probe
    * are broadcast joins against the (tiny) centroid set; the corpus is
    * scanned once — the classic trade of recall for a 1/cells scan
    * fraction.
    */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, numCells: Int = 16,
              nprobe: Int = 4, k: Int = 10): DataFrame = Cut.scope {
    val e = quantizedWithNorm(embeddings).transform(Cut.cached)
    // deterministic centroids: the numCells vectors first under the
    // PORTABLE md5(vec_id) ordering (vec_id tie-break) — a reproducible
    // pseudo-random sample both engines can replay, which is what makes
    // this whole operator oracle-checkable (the r4 xxhash64 pick was the
    // one engine-specific step keeping it rows-only)
    val centroids = e
      .withColumn("__h", md5(col("vec_id").cast("string")))
      .orderBy(col("__h"), col("vec_id")).limit(numCells)
      .select(col("vec_id").as("cell_id"), col("q").as("cq"), col("norm").as("cnorm"))
    val bc = broadcast(centroids)
    // invert: each corpus vector → its single closest cell. A max_by
    // aggregate (one partial-combining hash agg) instead of a
    // row_number window saves a full sort exchange over the corpus;
    // the (sim, -cell_id) struct key reproduces the window's
    // (sim DESC, cell_id ASC) tie-break exactly.
    val assigned = e.crossJoin(bc)
      .select(col("vec_id"), col("q"), col("norm"), col("cell_id"),
        cosinePre(col("q"), col("cq"), col("norm"), col("cnorm")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cell_id"), col("q"), col("norm")),
        struct(col("sim"), (-col("cell_id")).as("neg"))).as("best"))
      .select(col("vec_id"), col("best.q").as("q"), col("best.norm").as("norm"),
        col("best.cell_id").as("cell_id"))
    // queries probe their nprobe closest cells
    val qw = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cell_id"))
    val probes = e.filter(queryPred).toDF("query_id", "qq", "qnorm").crossJoin(bc)
      .select(col("query_id"), col("qq"), col("qnorm"), col("cell_id"),
        cosinePre(col("qq"), col("cq"), col("qnorm"), col("cnorm")).as("sim"))
      .withColumn("rn", row_number().over(qw)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qq"), col("qnorm"), col("cell_id"))
    // search only within probed cells (equi-join on cell_id)
    val cand = probes.join(assigned, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosinePre(col("qq"), col("q"), col("qnorm"), col("norm")).as("cosine"))
    val tw = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    // (|queries|×k)-row result: cut it, so the corpus cache can go
    val top = cand.withColumn("rn", row_number().over(tw)).filter(col("rn") <= k)
      .transform(Cut.eager)
    top.orderBy(col("query_id"), col("rn"))
  }

  def ivfQuery(s: SparkSession, dir: String): DataFrame =
    ivfTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0)

  /** B12 (r6): ANN index-quality report — recall@10 of the IVF index
    * against the exact brute-force ranking, per query. The acceptance
    * gate every index deployment runs before trusting nprobe/numCells;
    * here it is itself a driver-gated query: both inputs are the
    * already-hash-gated deterministic pipelines, n_hits is an exact
    * semi-join count, and recall is one IEEE division — so the report
    * hash-matches cross-engine. Scale: the join is (|queries|·k)-sized,
    * independent of corpus size.
    *
    * `RecallK` is threaded into BOTH top-k calls and the denominator so
    * the three can never drift apart; the denominator is additionally
    * `min(RecallK, per-query brute hits)` so a query with fewer than k
    * true neighbors can still reach recall 1.0 (r6-ADVICE). */
  val RecallK = 10

  /** Shared recall-report core (one definition for the IVF and PQ
    * acceptance gates — they cannot drift): per query, |approx ∩ brute|
    * over min(k, brute hits). */
  private def recallReport(brute: DataFrame, approx: DataFrame): DataFrame = {
    val hits = approx.join(brute, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val denom = brute.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    denom
      .join(hits, Seq("query_id"), "left_outer")
      .na.fill(0L, Seq("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / least(lit(RecallK), col("n_brute")))
          .as("recall_at_10"))
      .orderBy(col("query_id"))
  }

  def ivfRecallQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brute = bruteForceTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, k = RecallK)
      .select($"query_id", $"vec_id")
    recallReport(brute,
      ivfTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, k = RecallK))
  }

  /** B12 (r7): the PQ acceptance gate — recall@10 of the ADC ranking vs
    * the exact brute-force neighbors, completing the index-acceptance
    * family (IVF has b12_ivf_recall). PQ trades 64× memory for rank
    * fidelity; this is the report that says whether the trade held. */
  def pqRecallQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brute = bruteForceTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, k = RecallK)
      .select($"query_id", $"vec_id")
    recallReport(brute,
      pqTopKSnapshotted(s, dir, k = RecallK).select($"query_id", $"vec_id"))
  }

  // ------------------------------------------------- layered graph ANN

  /** Layered-graph ANN geometry (the b12_hnsw family). Derandomized
    * HNSW (Malkov & Yashunin, TPAMI 2018): the level draw is the
    * md5(vec_id) leading-hex-zero COUNT (geometric, p = 1/16 — HNSW's
    * exponential layer thinning with the repo's portable hash replacing
    * the RNG), capped at [[HnswMaxLayers]]-1; layer m holds every
    * vector with lvl ≥ m (nested, n/16^m expected members). Search is
    * the synchronous fixed-round analogue of HNSW's greedy descent: a
    * (cos DESC, id) beam carried down the layers, narrow above / wide
    * at the base, expanding through the bounded adjacency each round.
    * Sequential insert-order dependence — the reason textbook HNSW
    * cannot be hash-gated — is gone by construction; every stage is a
    * join / window over md5-ordered or cosine-ordered totals, so DuckDB
    * replays the whole index AND the whole search (the b16
    * unrolled-CTE device).
    *
    * r9 build re-plan (the r8 weak mark): the old per-layer quantizer
    * assigned members to md5-seeded cells via a members × seeds
    * crossJoin with cells ∝ n/64 — a Θ(n²/64) assignment stage under an
    * n/64-row broadcast. The new build routes assignment through the
    * layer hierarchy itself (the HNSW/DiskANN insert shape, batched
    * top-down): every member finds its [[HnswOverlap]] nearest LAYER-m
    * vertices by scoring only the layer-m vertices REACHABLE from its
    * layer-(m+1) parents — layer-m vertices are keyed by their OWN
    * parent id, so the candidate step is an equi-join on parent id,
    * never a cross product; a member of layer m then builds its
    * [[HnswR]]-nearest edges inside its parent-keyed cell (expected
    * size 16·overlap, corpus-independent). Assignment work per layer is
    * Θ(n · overlap² · 16) scorings, edge work Θ(n · (16·overlap)²) —
    * linear in n at every layer, and no broadcast anywhere that grows
    * with the corpus. The top of the hierarchy needs no special case: a
    * layer with nothing above keys everything to the root cell (-1),
    * and because the first non-empty layer from the top has O(16)
    * expected members, the one bipartite stage this produces is
    * bounded. [[HnswMaxLayers]] plays HNSW's mL role — since r11 it is
    * the provisioning FLOOR, not a deploy-time constant: the build
    * counts its corpus and SELF-provisions
    * layers = max(4, ⌈log₁₆(n/16)⌉) ([[provisionLayers]], VERDICT r10
    * #4 — the r10 guard warned past the budget but still required a
    * manual redeploy). Every gate corpus provisions to exactly the
    * floor, so the static ≤4-layer oracle SQL and the existing snapshot
    * keys stand; layers that come out empty cost nothing on either
    * engine (their joins are vacuous). Search derives its layer count
    * from the adjacency it descends ([[descentLayers]]), so a
    * self-provisioned 5-layer index is searched as built. */
  private[similarity] val HnswMaxLayers = 4

  /** layers = max(floor, ⌈log₁₆(n/16)⌉): keeps the expected top-layer
    * population ≈ 16 — the root cell the build's linearity rests on —
    * at any corpus size (4 covers ~10⁶, 6 covers ~10⁹ vectors). */
  private[graft] def provisionLayers(n: Long, floor: Int = HnswMaxLayers): Int = {
    val needed = math.ceil(
      math.log(math.max(n, 1L).toDouble / 16.0) / math.log(16.0)).toInt
    math.max(floor, math.max(1, needed))
  }

  /** Observable for the root-cell overgrowth guard (spec hook: the
    * under-provisioned control build must fire it, the self-provisioned
    * build must not). */
  private[similarity] val rootCellWarnings =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-layer row census of a PREBUILT adjacency — ONE tiny job that
    * serves both descent decisions: the layer count the build
    * provisioned and the per-layer liveness the round-skip needs (this
    * replaced one eager isEmpty job PER upper layer per descent, r11).
    *
    * r12 (ADVICE): when the caller KNOWS the provisioned count — every
    * snapshot-serving path derives it from the same corpus count that
    * keys the snapshot ([[hnswParamsFor]]) — it is passed as the
    * authority. The row-tag fallback (1 + max layer tag, floored)
    * UNDERCOUNTS a provisioned top layer whose single member emitted no
    * edges, capping the entry-level draw below the build's; it remains
    * only for dynamic in-flight state (the streaming refresher's
    * maintained adjacency, where inserts are base-layer-only and the
    * next compaction re-provisions anyway). */
  private[similarity] def layerCensus(adj: DataFrame,
      provisioned: Option[Int] = None): (Int, Map[Int, Long]) = {
    val counts = adj.groupBy(col("layer")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val layerN = provisioned.getOrElse(math.max(HnswMaxLayers,
      if (counts.isEmpty) 1 else counts.keys.max + 1))
    (layerN, counts)
  }

  /** Corpus counts memoized per (dir, tag, table bytes+mtime) — the
    * snapshot-key derivation ([[hnswParamsFor]]) used to re-run a
    * filtered count() on EVERY invocation (r12, ADVICE: e08 paid it
    * twice per maintenance tick). The signature in the key invalidates
    * on regenerated testdata, exactly like [[graft.SnapshotStore]]. */
  private val corpusCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[similarity] def memoizedCount(s: SparkSession, dir: String,
      tag: String)(count: => Long): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sig = s"${fs.getContentSummary(p).getLength}-${fs.getFileStatus(p).getModificationTime}"
    corpusCountMemo.computeIfAbsent(s"$dir|$tag|$sig",
      _ => java.lang.Long.valueOf(count)).longValue()
  }
  private[similarity] val HnswR = 12
  private[similarity] val HnswOverlap = 3
  private[similarity] val HnswBeamU = 12
  private[similarity] val HnswRoundsU = 2
  private[similarity] val HnswBeam0 = 64
  private[similarity] val HnswRounds0 = 4
  private[similarity] val HnswEntryN = 12
  /** Builder-constant fingerprint folded into the snapshot cache key so
    * a retuned build can never serve a stale index (r8 ADVICE). */
  private[similarity] def hnswParams =
    s"L${HnswMaxLayers}r${HnswR}o${HnswOverlap}"

  /** The snapshot key for a build over an n-vector corpus: the
    * PROVISIONED layer count is folded in (r11, VERDICT r10 #4), so an
    * index that self-provisioned past the floor can never be served to
    * a consumer expecting the floor geometry. Gate corpora provision to
    * the floor — the key equals [[hnswParams]] there, keeping existing
    * snapshots valid. */
  private[similarity] def hnswParamsFor(n: Long): String =
    s"L${provisionLayers(n)}r${HnswR}o${HnswOverlap}"

  /** (vec_id, q, norm, __h, lvl): the portable level draw — md5
    * leading-'0' count capped at the layer budget. */
  private[similarity] def hnswLeveled(e: DataFrame,
      layers: Int = HnswMaxLayers): DataFrame =
    e.withColumn("__h", md5(col("vec_id").cast("string")))
      .withColumn("lvl", least(lit(layers - 1),
        length(regexp_extract(col("__h"), "^0*", 0))))

  /** The full hierarchy build: every layer's bounded-out-degree
    * adjacency as ONE frame (layer, src, dst) — built top-down in
    * [[HnswMaxLayers]] stages of (residency equi-join, in-cell R-NN
    * window, parent-descent assignment), per the scaladoc above. */
  private[graft] def hnswBuild(e: DataFrame,
      layersOverride: Option[Int] = None): DataFrame = {
    val pre = e.select(col("vec_id"), col("q"), col("norm")).transform(Cut.eager)
    // r11 (VERDICT r10 #4): self-provision the layer budget from the
    // corpus census — the count is one metadata-cheap job on the frame
    // the build was about to checkpoint anyway. Gate corpora land on
    // the floor (4), so gate hashes, oracle SQL, and snapshot keys all
    // stand; a corpus past ~16^4·16 gets the extra layers the r10 guard
    // could only WARN about. `layersOverride` exists for the guard's
    // own spec (force an under-provisioned control build).
    val layers = layersOverride.getOrElse(provisionLayers(pre.count()))
    val lv = hnswLeveled(pre, layers)
      .select(col("vec_id"), col("q"), col("norm"), col("lvl"))
    // A_{m+1}: each member's ≤ Overlap nearest layer-(m+1) vertices
    var parents: Option[DataFrame] = None
    var adj: DataFrame = null
    for (m <- (layers - 1) to 0 by -1) {
      val layerM = lv.filter(col("lvl") >= m).select(col("vec_id"), col("q"), col("norm"))
      // overlap-cell residency for layer-m members: parent id at layer
      // m+1, or the root cell when nothing sits above (uniform fallback
      // — a missing/empty upper layer coalesces to -1 on both engines)
      val cellAssign = parents match {
        case None => layerM.withColumn("cell_id", lit(-1L))
        case Some(p) => layerM
          .join(p.select(col("vec_id"), col("parent").as("cell_id")), Seq("vec_id"), "left")
          .na.fill(-1L, Seq("cell_id"))
      }
      // r10 (ADVICE): the linearity of this build rests on the root cell
      // (-1) — the one cell with no parent above it — staying
      // O(16·Overlap)-sized; that is what bounds its all-pairs stage.
      // Since r11 the budget self-provisions from the corpus census, so
      // this guard should never fire on the auto path — it stays as the
      // backstop for an explicit under-provisioned override (and as the
      // spec's observable via [[rootCellWarnings]]).
      val rootN = cellAssign.filter(col("cell_id") === -1L).count()
      val designCell = 16L * HnswOverlap
      if (rootN > 8 * designCell) {
        rootCellWarnings.incrementAndGet()
        System.err.println(
          s"WARN hnswBuild: layer $m has $rootN members in the root cell " +
            s"(design cell $designCell, guard ${8 * designCell}) — its pair stage " +
            s"is going quadratic; the provisioned budget is $layers layers, " +
            s"expected ~ceil(log16(corpus/16))")
      }
      val a = cellAssign.select(col("cell_id"), col("vec_id").as("src"),
        col("q").as("sq"), col("norm").as("sn"))
      val b = cellAssign.select(col("cell_id"), col("vec_id").as("dst"),
        col("q").as("dq"), col("norm").as("dn"))
      val pairs = a.join(b, Seq("cell_id")).where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          cosinePre(col("sq"), col("dq"), col("sn"), col("dn")).as("sim"))
        .distinct() // a pair sharing both overlap cells appears twice, identically
      val nw = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
      val layerAdj = pairs.withColumn("rn", row_number().over(nw)).filter(col("rn") <= HnswR)
        .select(lit(m).as("layer"), col("src"), col("dst"))
      adj = if (adj == null) layerAdj else adj.unionByName(layerAdj)
      if (m > 0) {
        // descend: every member's Overlap nearest layer-m vertices;
        // candidates = layer-m vertices sharing one of the member's
        // layer-(m+1) parents (the root key matches only when layer m+1
        // is empty) — an equi-join on parent id with bounded fan-out
        val memberKeys = parents match {
          case None => lv.select(col("vec_id"), lit(-1L).as("cell_id"))
          case Some(p) => p.select(col("vec_id"), col("parent").as("cell_id"))
            .unionByName(lv.select(col("vec_id"), lit(-1L).as("cell_id")))
        }
        val candIds = memberKeys
          .join(cellAssign.select(col("cell_id"), col("vec_id").as("cand_id")), Seq("cell_id"))
          .select(col("vec_id"), col("cand_id")).distinct()
        val scored = candIds
          .join(lv.select(col("vec_id"), col("q"), col("norm")), Seq("vec_id"))
          .join(layerM.select(col("vec_id").as("cand_id"), col("q").as("cq"),
            col("norm").as("cnorm")), Seq("cand_id"))
          .select(col("vec_id"), col("cand_id"),
            cosinePre(col("q"), col("cq"), col("norm"), col("cnorm")).as("sim"))
        val aw = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cand_id"))
        parents = Some(scored.withColumn("rn", row_number().over(aw))
          .filter(col("rn") <= HnswOverlap)
          .select(col("vec_id"), col("cand_id").as("parent"))
          .transform(Cut.eager)) // one eager cut per descent stage
      }
    }
    adj
  }

  /** B12 scale path #6 (r8, build re-planned r9) — the layered-graph
    * (HNSW-ish) ANN search: entry set = the [[HnswEntryN]] vertices
    * first under (level DESC, md5, id); [[HnswRoundsU]] narrow-beam
    * rounds through each non-empty upper layer's adjacency, top down;
    * then [[HnswRounds0]] wide-beam rounds through the base layer with
    * the visited POOL accumulating (the ef-search candidate set), top-k
    * of the pool minus self at the end. Per-round state is
    * |queries|·beam ids; every expansion is an equi-join on the bounded
    * adjacency — per-query cost independent of corpus size. Fully
    * deterministic, replayed end to end by the DuckDB oracle. */
  def hnswTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = Cut.scope {
    val e = quantizedWithNorm(embeddings).transform(Cut.cached)
    // count once: the layer budget provisions the build AND authorizes
    // the search's entry-level cap (r12 — "searched as built" no longer
    // relies on the row-tag census, which undercounts a singleton top
    // layer); hnswBuild skips its own census when the override is given
    val layers = provisionLayers(e.count())
    hnswTopKWith(e, queryPred,
      hnswBuild(e, layersOverride = Some(layers)).transform(Cut.eager),
      k, Some(layers))
  }

  /** [[hnswTopK]] with the PREBUILT hierarchy — the seam the gated
    * queries inject the materialize-once index through: HNSW is THE
    * build-once/query-many structure, so at 100 TB the (layer, src,
    * dst) adjacency is a bucketed table written at index-build time
    * ([[graft.SnapshotStore]]) and search pays only the beam descent.
    * Content identical to deriving inline. */
  private def hnswTopKWith(e: DataFrame, queryPred: Column,
      adj: DataFrame, k: Int, provisioned: Option[Int] = None): DataFrame =
    hnswDescend(e, adj, e.filter(queryPred).toDF("query_id", "qq", "qnorm"), k,
        provisioned)
      .orderBy(col("query_id"), col("rn"))

  /** Snapshot-backed entry point: the layer hierarchy comes from ONE
    * materialize-once keyed parquet (built on first touch, then served
    * from disk — the index lifecycle), search runs per call. */
  private[similarity] def hnswTopKSnapshotted(s: SparkSession, dir: String,
      queryPred: Column, k: Int = 10): DataFrame = Cut.scope {
    val e = quantizedWithNorm(Tables.embeddings(s, dir)).transform(Cut.cached)
    val n = memoizedCount(s, dir, "emb_full")(Tables.embeddings(s, dir).count())
    val hp = hnswParamsFor(n)
    val adj = graft.SnapshotStore(s, dir, "embeddings.parquet",
        s"hnsw_adj_$hp", params = hp) {
      hnswBuild(quantizedWithNorm(Tables.embeddings(s, dir)))
        .repartition(col("layer"), col("src"))
    }
    hnswTopKWith(e, queryPred, adj, k, Some(provisionLayers(n)))
  }

  /** B12 (r10): the INCREMENTAL INSERT, gated end-to-end — split the
    * corpus 9:1 by residue, build over the 90% (materialize-once
    * snapshot: the served-index shape), attach the 10% batch via
    * [[hnswInsert]], emit the EXTENDED adjacency. The DuckDB oracle
    * replays the WHOLE lifecycle — old-corpus parent-descent build,
    * batch beam descent to its R anchors, new out-edges,
    * touched-anchor re-prune over (old edges ∪ arrivals),
    * untouched-edge passthrough — upgrading the insert seam from
    * spec-pinned to hash-gated. */
  /** The served STANDING hierarchy (the %10 ≠ 3 corpus) — the
    * materialize-once snapshot shared by b12_hnsw_insert, the e08
    * flagship, and the streamed ANN lifecycle gate
    * (b12_stream_ann_index), so all three certify against the same
    * artifact. */
  private[graft] def standingAdjSnapshotPath(s: SparkSession, dir: String): String = {
    val hp = hnswParamsFor(memoizedCount(s, dir, "emb_standing")(
      Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 3).count()))
    graft.SnapshotStore.path(s, dir, "embeddings.parquet",
      s"hnsw_adj_old_$hp", params = hp) {
      hnswBuild(quantizedWithNorm(
        Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 3)))
        .repartition(col("layer"), col("src"))
    }
  }

  private[graft] def standingAdjSnapshot(s: SparkSession, dir: String): DataFrame =
    graft.Versions.readParquet(s, standingAdjSnapshotPath(s, dir))

  /** The standing vectors as a materialize-once snapshot PATH — the
    * by-ref twin of the `% 10 =!= 3` filter the streamed-ANN gate seeds
    * from (r14, VERDICT r13 #9: the refresher's default bootstrap now
    * records seed POINTERS, so the O(standing) vector copy happens once
    * here, never per ledger). */
  private[graft] def standingVecsSnapshotPath(s: SparkSession, dir: String): String =
    graft.SnapshotStore.path(s, dir, "embeddings.parquet", "hnsw_vecs_standing") {
      Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 3)
        .select(col("vec_id"), col("embedding"))
    }

  def hnswInsertQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val old = emb.filter(col("vec_id") % 10 =!= 3)
    val batch = emb.filter(col("vec_id") % 10 === 3)
    val standingLayers = Some(provisionLayers(
      memoizedCount(s, dir, "emb_standing")(old.count())))
    hnswInsert(old, standingAdjSnapshot(s, dir), batch, standingLayers)
      .orderBy(col("layer"), col("src"), col("dst"))
  }

  /** E8 (r10): the CONTINUOUS INDEX-MAINTENANCE flagship — the
    * ingestion tick a serving stack actually runs, end-to-end as ONE
    * hash-gated query:
    *
    *   1. ARRIVAL near-dup gate — the arriving docs (ids ≡ 3 mod 10)
    *      probe the STANDING corpus's band index (portable MinHash,
    *      the b12_cross_portable kernel: batch-sized probe work,
    *      hot buckets answered by one witness);
    *   2. surviving arrivals' VECTORS attach to the standing HNSW via
    *      [[hnswInsert]] (O(batch) beam descents + anchor re-prune;
    *      the standing index itself is the materialize-once snapshot
    *      shared with b12_hnsw_insert);
    *   3. SERVE — the standing probe set searches the EXTENDED graph
    *      top-5, each hit flagged is_new when it reached the index in
    *      THIS tick (the freshness readout every incremental-index
    *      deployment watches).
    *
    * The DuckDB oracle replays all three stages — band gate, build,
    * batch descent, re-prune, then a SECOND beam descent over the
    * extended adjacency (the parameterized descent generator) — so
    * serve-after-maintenance is certified, not just the maintained
    * artifact. Scale: stage 1 is probe-sized, stage 2 O(batch), stage
    * 3 per-query bounded descent; nothing rescans the standing corpus
    * beyond the once-materialized index tables. */
  def indexMaintenanceQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val arriving = docs.filter(col("doc_id") % 10 === 3)
    // the standing corpus's shingle/band tables are materialize-once
    // BUCKETED tables (r13, VERDICT r12 #1 — the layout the at-scale
    // claim always named, now executed: bands/stats bucketed on the
    // probe key, shingles on the verify key; b12_cross_bucketed gates
    // the same tables and BucketedLayoutSpec pins the bucket-local
    // plan) — a maintenance tick pays batch-sized probe work, never
    // the corpus derivation
    val (shRef, bRef, statsRef) = graft.PhaseTimer.time("e08_index_maintenance",
        "ref_tables") {
      graft.dedup.Dedup.refBucketedTables3(
        s, dir, "e08_ref", col("doc_id") % 10 =!= 3)
    }
    val dupIds = graft.dedup.Dedup
      .minHashPortableAcrossWith(arriving, shRef, bRef, statsRef = Some(statsRef))
      .select(col("new_id").as("vec_id")).distinct()
    val emb = Tables.embeddings(s, dir)
    val standingVecs = emb.filter(col("vec_id") % 10 =!= 3)
    val survivors = emb.filter(col("vec_id") % 10 === 3)
      .join(dupIds, Seq("vec_id"), "left_anti")
    val nStanding = memoizedCount(s, dir, "emb_standing")(standingVecs.count())
    val hp = hnswParamsFor(nStanding)
    val standingLayers = Some(provisionLayers(nStanding))
    val adj = standingAdjSnapshot(s, dir)
    // ONE quantize pass per corpus side per tick (r12, VERDICT r11 #2):
    // the insert leg and the serve leg share these materialized frames —
    // the old tick quantized the standing corpus inside hnswInsert and
    // then AGAIN for the serve leg's eAll
    val (eStand, eNewQ) = graft.PhaseTimer.time("e08_index_maintenance", "quantize") {
      (quantizedWithNorm(standingVecs).transform(Cut.eager),
        quantizedWithNorm(survivors).transform(Cut.eager))
    }
    val ext = graft.PhaseTimer.time("e08_index_maintenance", "insert") {
      hnswInsertPre(eStand, eNewQ, adj, standingLayers)
    }
    // r11 (VERDICT r10 #3): the serve leg used to pay the full descent —
    // re-routing the STANDING query set through the STANDING upper
    // layers every tick, right after the insert leg descended those same
    // layers. hnswInsert never touches layers ≥ 1 and the entry set is
    // an index property, so the queries' post-upper-layer beam is a pure
    // function of (standing index, params) — materialize it ONCE and pay
    // only the base-layer rounds over the extended graph per tick. The
    // DuckDB oracle replays the same definition (serve entry from the
    // standing vector set).
    val routes = graft.PhaseTimer.time("e08_index_maintenance", "routes") {
      graft.SnapshotStore(s, dir, "embeddings.parquet",
      s"e08_routes_$hp", params = s"$hp|q100|b${HnswBeamU}x$HnswRoundsU") {
      val eStand = quantizedWithNorm(
        Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 3))
      hnswUpperBeam(eStand, adj,
        eStand.filter(col("vec_id") % 100 === 0).toDF("query_id", "qq", "qnorm"),
        standingLayers)
        .repartition(col("query_id"))
    } }
    val eAll = eStand.unionByName(eNewQ)
    // %100 ≡ 0 and %10 ≡ 3 are disjoint, so the extended set's query
    // slice IS the standing one — one quantize pass serves both roles
    val qs = eAll.filter(col("vec_id") % 100 === 0)
      .toDF("query_id", "qq", "qnorm")
    hnswBaseDescend(eAll, ext, qs, routes, k = 5)
      .withColumn("is_new", (col("vec_id") % 10 === 3).cast("int"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** r9 (VERDICT r8 #8): INCREMENTAL ANN insert — attach a batch of new
    * vectors to an already-served hierarchy WITHOUT a rebuild, the
    * ingest-time maintenance seam of the index lifecycle (build once →
    * serve many → EXTEND per batch → periodic re-level compaction, the
    * segment-merge discipline). Unlike the minhash band index (per-doc
    * rows ⇒ the extension IS the rebuild, bit-for-bit), a navigable
    * graph's edges depend on the neighbor population, so exact rebuild
    * parity is the wrong contract — textbook HNSW is itself
    * insert-order-dependent. The honest contract, pinned by HnswSpec:
    * structural invariants hold on the extended graph (degree ≤ R
    * everywhere, incl. re-pruned anchors), every UNAFFECTED old edge is
    * preserved bit-identically, inserted vectors are reachable (they
    * appear as in-edge targets), and search recall over the extended
    * corpus clears the acceptance floor.
    *
    * Mechanics (the true HNSW insert shape, batched): each new vector
    * beam-descends the EXISTING hierarchy — the search device verbatim,
    * query set = the batch — to its [[HnswR]] nearest base-layer
    * anchors; the extension adds new→anchor out-edges (R-bounded by
    * construction) and re-prunes each touched anchor's base-layer list
    * to the R best of (its old targets ∪ its new arrivals) — HNSW's
    * neighbor-selection prune, which is what keeps repeated inserts
    * from inflating degrees. Cost: one search per new vector + a
    * re-prune over |anchors|·(R + arrivals) edges — O(batch), never
    * O(corpus). New vectors attach at the base layer only; upper-layer
    * membership refreshes at the next compaction (searches reach base
    * vertices through the accumulating pool regardless). */
  def hnswInsert(oldVecs: DataFrame, adj: DataFrame, newVecs: DataFrame,
      standingLayers: Option[Int] = None): DataFrame = Cut.scope {
    val e = quantizedWithNorm(oldVecs).transform(Cut.cached)
    val eNew = quantizedWithNorm(newVecs).transform(Cut.cached)
    hnswInsertPre(e, eNew, adj, standingLayers)
  }

  /** [[hnswInsert]] over PRE-QUANTIZED (vec_id, q, norm) frames — the
    * seam e08 rides so the tick quantizes the standing corpus ONCE and
    * shares the pass between the insert leg and the serve leg (r12,
    * VERDICT r11 #2: the two legs re-derived the same `eAll`). Callers
    * own the frames' materialization. */
  private[graft] def hnswInsertPre(e: DataFrame, eNew: DataFrame,
      adj: DataFrame, standingLayers: Option[Int] = None): DataFrame = {
    val (untouched, repruned, newOut) = hnswInsertParts(e, eNew, adj, standingLayers)
    untouched.unionByName(repruned).unionByName(newOut)
      .transform(Cut.eager)
  }

  /** [[hnswInsertPre]] ALSO returning the O(batch) base-layer DELTA —
    * the rows the insert rewrote (re-pruned anchor lists + new
    * out-edges), checkpointed once and shared with the full union so
    * the descent runs ONCE. The delta is exactly what a durable
    * refresher commits as its ledger payload (r13, VERDICT r12 #2):
    * recovery re-applies it via [[hnswApplyDelta]] — a load-and-union,
    * never a descent re-run. */
  private[graft] def hnswInsertPreDelta(e: DataFrame, eNew: DataFrame,
      adj: DataFrame, standingLayers: Option[Int] = None): (DataFrame, DataFrame) = {
    val (untouched, repruned, newOut) = hnswInsertParts(e, eNew, adj, standingLayers)
    val delta = repruned.unionByName(newOut).transform(Cut.eager)
    (untouched.unionByName(delta).transform(Cut.eager), delta)
  }

  /** The shared insert body: (untouched old rows, re-pruned anchor rows,
    * new out-edges) — anchors checkpointed, the three parts lazy so each
    * entry point unions and materializes its own shape. */
  private def hnswInsertParts(e: DataFrame, eNew: DataFrame,
      adj: DataFrame, standingLayers: Option[Int]): (DataFrame, DataFrame, DataFrame) = {
    // r10 (ADVICE): a new vec_id colliding with an existing one would make
    // the unioned vector set ambiguous and stack the new out-edges on top
    // of the vertex's surviving old edges — duplicate (layer,src,dst)
    // rows and out-degree > HnswR, breaking exactly the invariants
    // HnswSpec pins. One O(batch) semi-join count, failing loudly like
    // the other no-vacuous-gate guards.
    val collisions = eNew.select(col("vec_id"))
      .join(e.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
    require(collisions == 0,
      s"hnswInsert: $collisions new vec_ids already exist in the served " +
        "index — inserts must carry fresh ids (re-ingest of an existing " +
        "id is an update, which goes through rebuild/compaction, not insert)")
    val anchors = hnswDescend(e, adj, eNew.toDF("query_id", "qq", "qnorm"), HnswR,
        standingLayers)
      .transform(Cut.eager)
    val newOut = anchors
      .select(lit(0).as("layer"), col("query_id").as("src"), col("vec_id").as("dst"))
    val affected = anchors.select(col("vec_id").as("src")).distinct()
    val lvAll = e.unionByName(eNew)
    val oldEdges = adj.filter(col("layer") === 0)
      .join(affected, Seq("src"), "left_semi").select(col("src"), col("dst"))
    val arrivals = anchors.select(col("vec_id").as("src"), col("query_id").as("dst"))
    val cand = oldEdges.unionByName(arrivals)
      .join(lvAll.toDF("src", "sq", "sn"), Seq("src"))
      .join(lvAll.toDF("dst", "dq", "dn"), Seq("dst"))
      .select(col("src"), col("dst"),
        cosinePre(col("sq"), col("dq"), col("sn"), col("dn")).as("sim"))
    val nw = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    val repruned = cand.withColumn("rn", row_number().over(nw))
      .filter(col("rn") <= HnswR)
      .select(lit(0).as("layer"), col("src"), col("dst"))
    val untouched = adj.filter(col("layer") =!= 0).unionByName(
      adj.filter(col("layer") === 0).join(affected, Seq("src"), "left_anti"))
    (untouched, repruned, newOut)
  }

  /** Re-apply a committed insert delta to the adjacency it extended:
    * every src the delta carries is a REWRITTEN base-layer list (either
    * a re-pruned anchor or a new vector's out-edges), so the old
    * base-layer rows of those srcs are replaced wholesale and everything
    * else passes through. One anti-join + union — O(adjacency scan),
    * NO descent: the load-not-recompute recovery contract (r13, VERDICT
    * r12 #2). Bit-identical to re-running [[hnswInsert]] on the same
    * inputs (the delta IS that run's rewritten rows — pinned against the
    * kernel replay in StreamingDurabilitySpec); at 100 TB this is an
    * O(segments-read) partition merge instead of an O(recompute) replay. */
  private[graft] def hnswApplyDelta(adj: DataFrame, delta: DataFrame): DataFrame = {
    val touched = delta.select(col("src")).distinct()
    adj.filter(col("layer") =!= 0)
      .unionByName(adj.filter(col("layer") === 0)
        .join(touched, Seq("src"), "left_anti"))
      .unionByName(delta)
  }

  /** [[hnswInsert]] ALSO returning the committed-payload delta — the
    * durable refresher's entry point (one descent serves both the
    * in-JVM extended state and the ledger payload). */
  private[graft] def hnswInsertWithDelta(oldVecs: DataFrame, adj: DataFrame,
      newVecs: DataFrame, standingLayers: Option[Int] = None): (DataFrame, DataFrame) = Cut.scope {
    val e = quantizedWithNorm(oldVecs).transform(Cut.cached)
    val eNew = quantizedWithNorm(newVecs).transform(Cut.cached)
    hnswInsertPreDelta(e, eNew, adj, standingLayers)
  }

  /** r10 (VERDICT r9 #3): periodic RE-LEVEL COMPACTION — the fourth verb
    * of the index lifecycle (build → serve → extend per batch → compact).
    * [[hnswInsert]] attaches batches at the BASE layer only and defers
    * hierarchy membership; compaction merges the accumulated segments
    * back into the canonical hierarchy. Because level draws are pure
    * id-keyed md5 functions (never insert-order state), the canonical
    * hierarchy of a vector set is WELL-DEFINED independent of arrival
    * history — so compaction is the deterministic parent-descent build
    * over the union, the Lucene-HNSW segment-merge discipline (merges
    * rebuild the graph from the merged segments' vectors). Inserts
    * between compactions stay O(batch); the compaction amortizes its
    * linear rebuild over the batches it absorbs. Invariant/recall pins:
    * HnswSpec (same bars as [[hnswInsert]]); the streaming lifecycle —
    * inserted ids climb to their drawn upper layers, which the insert
    * path deferred, and the compacted state is bit-identical to the
    * never-inserted fresh build — is pinned by StreamingSpec through
    * [[graft.streaming.Streaming.AnnIndexRefresh]]. */
  def hnswCompact(vecs: DataFrame,
      layersOverride: Option[Int] = None): DataFrame =
    hnswBuild(quantizedWithNorm(vecs), layersOverride = layersOverride)

  /** [[hnswDescend]] over raw vectors — the serve-side search the
    * streaming refresher exposes against its maintained state.
    * `provisioned`: the build's layer count when the caller tracks it
    * (r12 review — the refresher does, so its streamed searches use the
    * same entry-level authority as the batch path). */
  def hnswSearch(vecs: DataFrame, adj: DataFrame, queryPred: Column,
      k: Int = 10, provisioned: Option[Int] = None): DataFrame = {
    val e = quantizedWithNorm(vecs)
    hnswDescend(e, adj, e.filter(queryPred).toDF("query_id", "qq", "qnorm"), k,
        provisioned)
      .orderBy(col("query_id"), col("rn"))
  }

  /** The beam descent of [[hnswTopKWith]] over an arbitrary query set —
    * shared by search and [[hnswInsert]]'s anchor finding. Returns
    * (query_id, vec_id, cosine, rn ≤ k), self-matches excluded. */
  private[similarity] def hnswDescend(e: DataFrame, adj: DataFrame,
      qs0: DataFrame, k: Int, provisioned: Option[Int] = None): DataFrame =
    hnswBaseDescend(e, adj, qs0, hnswUpperBeam(e, adj, qs0, provisioned), k)

  /** The UPPER-LAYER routing stage of the descent alone: entry set +
    * the narrow-beam rounds through each non-empty layer ≥ 1, emitting
    * the per-query (query_id, vec_id) beam that seeds the base rounds.
    * Split out in r11 (VERDICT r10 #3): [[hnswInsert]] never touches
    * layers ≥ 1 and the entry set is a property of the INDEX's vector
    * set, so for a standing query set this stage is a pure function of
    * (standing vectors, standing adjacency, params) — e08 materializes
    * it once ([[graft.SnapshotStore]]) and each maintenance tick pays
    * only the base-layer descent over the extended graph. */
  private[graft] def hnswUpperBeam(e: DataFrame, adj: DataFrame,
      qs0: DataFrame, provisioned: Option[Int] = None): DataFrame = Cut.scope {
    val (layerN, counts) = layerCensus(adj, provisioned)
    val lv = hnswLeveled(e, layerN)
    val entry = lv.orderBy(col("lvl").desc, col("__h"), col("vec_id"))
      .limit(HnswEntryN).select(col("vec_id"))
    val qs = qs0.transform(Cut.cached)
    val layers = (0 until layerN).map(m =>
      adj.filter(col("layer") === m).select(col("src"), col("dst")))
    // rounds through an EMPTY upper layer are skipped: with |beam| ≤
    // BeamU (EntryN ≤ BeamU, and every round's output is ≤ BeamU) the
    // empty-expansion re-rank is the identity on the beam SET, so the
    // skip is result-identical to the oracle's uniformly-unrolled chain
    require(HnswEntryN <= HnswBeamU, "empty-layer skip needs EntryN <= BeamU")
    var beam = scoreOf(e, qs, qs.select(col("query_id")).crossJoin(broadcast(entry)))
      .transform(Cut.eager)
    // one eager cut per round: fusing rounds into one lazy expression was
    // MEASURED SLOWER in r12 (AQE jobs track shuffle stages, not actions,
    // and the duplicated beam subplan is not exchange-deduped — insert
    // went 93 → 104 jobs), so the per-round cut stays
    for (m <- (layerN - 1) to 1 by -1; if counts.getOrElse(m, 0L) > 0L;
         _ <- 1 to HnswRoundsU)
      beam = topbW(expandScored(e, qs, beam, beam, layers(m)), HnswBeamU)
        .transform(Cut.eager)
    // (query_id, vec_id) output — the route-snapshot schema (e08) and
    // the seed shape hnswBaseDescend scores once at entry
    beam.select(col("query_id"), col("vec_id"))
  }

  /** The BASE-LAYER stage of the descent: wide-beam rounds with the
    * visited pool accumulating (the ef-search candidate set), seeded by
    * `beam0` — either [[hnswUpperBeam]]'s live routing or a
    * materialized route snapshot. Scoring joins ride `e`, so an
    * extended vector set (standing ∪ inserted) scores the new base
    * vertices the extended layer-0 edges can reach. */
  private[graft] def hnswBaseDescend(e: DataFrame, adj: DataFrame,
      qs0: DataFrame, beam0: DataFrame, k: Int): DataFrame = Cut.scope {
    val qs = qs0.transform(Cut.cached)
    val layer0 = adj.filter(col("layer") === 0).select(col("src"), col("dst"))
    // beam0 arrives as (query_id, vec_id) — hnswUpperBeam's output and
    // the e08 route-snapshot schema — and is scored ONCE here; it is
    // round 1's beam and the pool's seed. Each later beam is a cheap
    // window over the pool, the one frame cut per round.
    val seed = (if (beam0.columns.contains("cosine"))
        beam0.select(col("query_id"), col("vec_id"), col("cosine"))
      else scoreOf(e, qs, beam0)).transform(Cut.eager)
    // FIXPOINT EARLY-EXIT ([[graft.Cut.iterate]]): the pool only grows,
    // so equal counts ⇔ identical sets, and an unchanged pool makes every
    // remaining round the identity — result-identical to the uniformly
    // unrolled HnswRounds0 chain the oracle replays. The seed is not
    // counted, so round 1 never stops.
    val pool = Cut.iterate(seed, HnswRounds0) { prev =>
      val beam = if (prev.index == 0) prev.frame else topbW(prev.frame, HnswBeam0)
      expandScored(e, qs, prev.frame, beam, layer0)
    }((prev, next) => prev.index > 0 && prev.n == next.n).frame
    val fw = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    pool
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(fw)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rn").cast("int").as("rn"))
      .transform(Cut.eager)
  }

  /** (query_id, vec_id, cosine) of each (query_id, vec_id) row, scored by
    * equi-joins against the quantized vectors `e` and the queries `qs`. */
  private def scoreOf(e: DataFrame, qs: DataFrame, pool: DataFrame): DataFrame =
    pool.join(e, Seq("vec_id")).join(qs, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosinePre(col("qq"), col("q"), col("qnorm"), col("norm")).as("cosine"))

  /** Each query's top `b` rows of a scored pool, by (cosine desc, vec_id). */
  private def topbW(pool: DataFrame, b: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    pool.withColumn("rn", row_number().over(w)).filter(col("rn") <= b)
      .select(col("query_id"), col("vec_id"), col("cosine"))
  }

  /** One descent round's candidates: the scored `pool` ∪ the newly scored
    * `nbrs` of `beam` (the upper rounds pass the beam as the pool, the
    * base rounds the accumulating visited pool).
    *
    * r16 (optimization round): rows CARRY their cosine between rounds —
    * only the newly-expanded neighbor rows are scored (the equi-joins
    * against e/qs see beam×R rows instead of the whole re-ranked pool),
    * and the re-rank window reads the carried column. cosinePre is a
    * fixed deterministic expression over the same operands, so carried ==
    * recomputed bit-for-bit and the dedup over (query_id, vec_id)
    * collapses identical rows. Guide §1.2 step 1 / §2.3.
    *
    * ONE shuffle per round (r12, VERDICT r11 #2): the expansion
    * co-partitions by query_id and dedups INSIDE that partitioning —
    * HashPartitioning(query_id) satisfies the (query_id, vec_id)
    * aggregation's clustering AND the re-rank window's, so a
    * distinct-by-both-columns shuffle + window re-shuffle collapse into
    * the single repartition (set-identical output; the broadcast scoring
    * joins preserve the streamed side's partitioning). */
  private def expandScored(e: DataFrame, qs: DataFrame, pool: DataFrame, beam: DataFrame,
      nbrs: DataFrame): DataFrame =
    pool.unionByName(scoreOf(e, qs,
        beam.join(nbrs, col("vec_id") === col("src"))
          .select(col("query_id"), col("dst").as("vec_id"))))
      .repartition(col("query_id"))
      .dropDuplicates("query_id", "vec_id")

  def hnswQuery(s: SparkSession, dir: String): DataFrame =
    hnswTopKSnapshotted(s, dir, col("vec_id") % 100 === 0)

  /** B12 (r9): the layered-graph INDEX ITSELF as a gated artifact — the
    * full (layer, src, dst) hierarchy adjacency the r9 parent-descent
    * build produces, hash-compared against DuckDB's replay of every
    * stage (level draw, overlap-cell residency, in-cell R-NN, descent
    * assignment). b12_hnsw_topk gates the search RESULT; this gates the
    * structure the search navigates, so a build drift that happens not
    * to move the gate queries' top-10 still fails. Served from the same
    * materialize-once snapshot the search queries ride. */
  def hnswAdjQuery(s: SparkSession, dir: String): DataFrame = {
    val hp = hnswParamsFor(memoizedCount(s, dir, "emb_full")(
      Tables.embeddings(s, dir).count()))
    val adj = graft.SnapshotStore(s, dir, "embeddings.parquet",
        s"hnsw_adj_$hp", params = hp) {
      hnswBuild(quantizedWithNorm(Tables.embeddings(s, dir)))
        .repartition(col("layer"), col("src"))
    }
    adj.orderBy(col("layer"), col("src"), col("dst"))
  }

  /** B12 (r8): the layered-graph acceptance gate — recall@10 of the
    * beam search vs exact brute force, completing the index-acceptance
    * family (IVF/PQ/SQ each have one). */
  def hnswRecallQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brute = bruteForceTopK(Tables.embeddings(s, dir), col("vec_id") % 100 === 0, k = RecallK)
      .select($"query_id", $"vec_id")
    recallReport(brute,
      hnswTopKSnapshotted(s, dir, col("vec_id") % 100 === 0, k = RecallK)
        .select($"query_id", $"vec_id"))
  }

  /** B12 (r7): k-NN classification over the labeled embedding corpus —
    * the evaluation harness every embedding model ships with (and the
    * label-propagation shape weak supervision uses to extend a small
    * labeled set): each probe vector is predicted as the MAJORITY label
    * of its k exact nearest neighbors, ties broken by the smaller label
    * so the vote is total and replayable. Rides [[bruteForceTopK]]
    * unchanged (broadcast-guarded probe set), plus one label join on the
    * (|queries|·k)-row neighbor table and one per-query vote window over
    * ≤k rows — classification costs nothing beyond the search it grades. */
  def knnClassify(s: SparkSession, dir: String, k: Int = RecallK): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val labels = emb.select($"vec_id", $"label")
    val votes = bruteForceTopK(emb, col("vec_id") % 100 === 0, k)
      .join(labels, Seq("vec_id"))
      .groupBy($"query_id", $"label").agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"n_votes".desc, $"label")
    votes.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"query_id", $"label".as("predicted"), $"n_votes")
      .join(labels.toDF("query_id", "true_label"), Seq("query_id"))
      .select($"query_id", $"true_label", $"predicted", $"n_votes",
        when($"true_label" === $"predicted", 1).otherwise(0).as("correct"))
      .orderBy($"query_id")
  }

  /** B12: embedding-cosine near-dup CLUSTERS — the embedding-space
    * counterpart of `Dedup.dedupClustersAtScale`, completing the near-dup
    * family across both representations (token shingles AND embeddings):
    * candidate pairs from sign-LSH buckets ([[lshNearNeighbors]]), exact
    * quantized-cosine verification at `minCosine`, min-label connected
    * components over the verified edges, component-minimum as the
    * canonical representative. Cost is LSH-candidate-bounded — never an
    * all-pairs product — and recall is bucket-collision-bounded exactly
    * like the MinHash path; every emitted edge is exact-verified.
    * Production threshold ≈0.9-0.95 (semantic duplicates); the driver
    * query runs 0.35 because the synthetic embeddings corpus has no
    * planted near-dups (max pairwise cosine ≈0.51 at sf0.01).
    * Hash-gated end to end: the literal-constant planes make the bucket
    * join portable and the CC stage replays as the b12_dedup_clusters
    * recursive-reachability CTE; clustering semantics additionally
    * pinned in SimilaritySpec. */
  def embedNearDupClusters(embeddings: DataFrame, numPlanes: Int = 8,
                           minCosine: Double = 0.95): DataFrame = {
    val edges = lshNearNeighbors(embeddings, numPlanes, minCosine)
      .select(col("a"), col("b"))
    graft.dedup.Dedup.connectedComponents(edges)
      .select(col("u").as("vec_id"), col("label").as("cluster_rep"))
      .orderBy(col("vec_id"))
  }

  def embedNearDupQuery(s: SparkSession, dir: String): DataFrame =
    embedNearDupClusters(Tables.embeddings(s, dir), minCosine = 0.35)

  /** B12 (r7 cont.): DBSCAN over the embedding corpus (Ester et al.,
    * KDD'96) — DENSITY clustering beside the centroid family (k-means
    * finds convex blobs and must pick k; DBSCAN finds arbitrary-shape
    * dense regions and labels sparse points noise, the outlier-robust
    * grouping a curation pipeline wants for topic islands).
    * ε-neighborhoods are "cosine ≥ minCosine" served by the SAME
    * LSH-bucketed candidate join as [[embedNearDupClusters]] (never an
    * all-pairs product; recall bucket-collision-bounded, documented
    * there); a vector with ≥ minPts neighbors is CORE; clusters are
    * connected components over core–core edges (min-label canonical
    * rep, isolated cores label themselves); a non-core vector adjacent
    * to a core joins its MINIMUM-labelled core neighbor (classic
    * DBSCAN leaves border assignment order-dependent — the min-label
    * rule makes it total and replayable); everything else is noise.
    * Output covers the whole corpus: (vec_id, role, cluster_rep) with
    * cluster_rep NULL exactly on noise. Gate constants: τ=0.25 /
    * minPts=2 — the synthetic corpus has no planted dense regions
    * (production semantic-dedup runs ≈0.9), and 0.25 is where the
    * sf0.01 neighborhood graph grows degree-≥2 vertices: 15 core / 17
    * border / 468 noise, the robust mixed regime. */
  def dbscan(embeddings: DataFrame, numPlanes: Int = 8,
             minCosine: Double = 0.95, minPts: Int = 2): DataFrame = {
    val edges = lshNearNeighbors(embeddings, numPlanes, minCosine)
      .select(col("a"), col("b")).transform(Cut.eager)
    dbscanOnEdges(embeddings.select(col("vec_id")), edges, minPts)
  }

  /** The DBSCAN role/label stage over a precomputed ε-neighborhood edge
    * set (`a < b` pairs) — split out so the semantics pin under
    * synthetic edges independent of LSH bucket recall. */
  private[similarity] def dbscanOnEdges(universe: DataFrame, edges: DataFrame,
                                        minPts: Int): DataFrame = {
    val sym = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
    // r17 (guide §2.4): checkpoint — the core set feeds FOUR branches
    // (both coreEdges semi-joins, the coreLabels spine, the border
    // anti-join); without the cut the degree aggregate re-runs per
    // branch.
    val core = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= minPts).select(col("v"))
      .transform(Cut.eager)
    val coreEdges = edges
      .join(core.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("v").as("b")), Seq("b"), "left_semi")
    val cc = graft.dedup.Dedup.connectedComponents(
        coreEdges.select(col("a"), col("b")))
      .select(col("u").as("v"), col("label"))
    val coreLabels = core.join(cc, Seq("v"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("label"))
    val borderLabels = sym
      .join(coreLabels.select(col("v").as("b"), col("label")), Seq("b"))
      .select(col("a").as("v"), col("label"))
      .join(core, Seq("v"), "left_anti")
      .groupBy(col("v")).agg(min(col("label")).as("label"))
    val roles = coreLabels.withColumn("role", lit("core"))
      .unionByName(borderLabels.withColumn("role", lit("border")))
    universe.select(col("vec_id").as("v"))
      .join(roles, Seq("v"), "left")
      .select(col("v").as("vec_id"),
        coalesce(col("role"), lit("noise")).as("role"),
        col("label").as("cluster_rep"))
      .orderBy(col("vec_id"))
  }

  def dbscanQuery(s: SparkSession, dir: String): DataFrame =
    dbscan(Tables.embeddings(s, dir), minCosine = 0.25, minPts = 2)

  /** B12: per-label embedding centroids — the aggregate behind k-means
    * assignment refresh, cluster summarization, and class prototypes.
    * posexplode turns each vector into (pos, component) rows, then ONE
    * partial-combining hash aggregate per (label, pos) computes the mean —
    * fully map-side combinable, shuffle volume = |labels|·dims rows
    * regardless of corpus size. Components are quantized to integer
    * milliunits first so the sums are exact (float summation order would
    * differ between engines); the mean is one final double division. */
  def labelCentroidsOn(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .select(col("label"), posexplode(quantize(col("embedding"))))
      .toDF("label", "pos", "qv")
    e.groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("sum_q"))
      .withColumn("centroid_milli", col("sum_q").cast("double") / col("n"))
      .orderBy(col("label"), col("pos"))
  }

  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    labelCentroidsOn(Tables.embeddings(s, dir))

  /** B12: deterministic k-means corpus clustering (Lloyd) — the mixture/
    * domain-balancing step of a training-data pipeline. Everything stays
    * in quantized integer space: init = the k vectors with the smallest
    * id hash (reproducible pseudo-random sample, as in [[ivfTopK]]); each
    * iteration is ONE broadcast cosine assignment (`max_by` with the
    * (sim, -cid) tie-break — no window shuffle) and ONE centroid rebuild
    * (posexplode → exact integer mean per (cid, pos) → re-quantize to
    * milliunits), so an iteration costs two map-side-combinable shuffles
    * regardless of corpus size and the centroid set is always broadcast.
    * Cells that lose all members drop out (k can shrink); no RNG, no
    * driver-side vectors. Iterative and float-free in every sum ⇒
    * bit-stable across runs — and since the md5-ordered seeding, the
    * cosine kernel, the (sim DESC, cid) tie-break, and the
    * round-through-double centroid mean are all replayable in ANSI SQL,
    * the FULL 3-iteration pipeline is DuckDB-oracle hash-gated via
    * unrolled CTEs (the w07_pagerank device; r4 seeded with xxhash64 —
    * the one engine-specific step that kept this rows-only). */
  def kMeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = Cut.scope {
    val e = quantizedWithNorm(embeddings).transform(Cut.cached)
    // seeds: the k DISTINCT vectors lexicographically first under the
    // PORTABLE md5(content-csv) ordering (csv tie-break) — distinct
    // first, or duplicate-heavy corpora could seed identical centroids
    // that immediately collapse into one cell. The seed rank is the
    // cluster id. SCALE FIX (late r12, global-window sweep): the old
    // form ranked EVERY distinct vector through one unpartitioned
    // row_number window — a corpus-wide single-partition sort — and
    // only then kept k. orderBy+limit(k) is the distributed top-k
    // (TakeOrderedAndProject: per-partition heads, driver merge of k),
    // and the rank window then runs over k rows only (the whales-curve
    // pattern). Same k rows, same ids — every kmeans-family hash
    // re-verified unchanged.
    val seedW = Window.orderBy(col("skey"), col("sstr"))
    var centroids = e.select(col("q")).distinct()
      .withColumn("sstr", array_join(col("q"), ","))
      .withColumn("skey", md5(col("sstr")))
      .orderBy(col("skey"), col("sstr")).limit(k)
      .withColumn("cid", (row_number().over(seedW) - 1).cast("long"))
      .select(col("cid"), col("q").as("cq"),
        sqrt(dotQ(col("q"), col("q")).cast("double")).as("cnorm"))
    // zero-norm vectors (all components quantize to 0) have no cosine —
    // under ANSI mode the division even THROWS. Guard the denominator:
    // sim = -1 deterministically lands them in the smallest-cid cell
    // (max_by tie-break) instead of failing the whole clustering
    def assign(cs: DataFrame): DataFrame = e.crossJoin(broadcast(cs))
      .select(col("vec_id"), col("q"), col("norm"), col("cid"),
        when(col("norm") * col("cnorm") === 0.0d, lit(-1.0d))
          .otherwise(cosinePre(col("q"), col("cq"), col("norm"), col("cnorm")))
          .as("sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("sim")),
        struct(col("sim"), (-col("cid")).as("neg"))).as("best"),
        first(col("q")).as("q"), first(col("norm")).as("norm"))
      .select(col("vec_id"), col("q"), col("norm"),
        col("best.cid").as("cid"), col("best.sim").as("sim"))
    // centroid recompute = ONE map-side-combinable shuffle: the
    // single-buffer VecSumAgg sums vectors element-wise per cell (vs
    // posexplode + per-(cid,pos) agg + array reassembly = dims x rows
    // through two shuffles)
    val vsum = udaf(new graft.functions.VecSumAgg)
    for (_ <- 1 to iters) {
      val recomputed = assign(centroids)
        .groupBy(col("cid"))
        .agg(vsum(col("q")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"),
          transform(col("s"), v =>
            round(v.cast("double") / col("n")).cast("long")).as("cq"))
        .withColumn("cnorm", sqrt(dotQ(col("cq"), col("cq")).cast("double")))
      // eager lineage cut: without it every iteration re-analyzes the
      // whole preceding chain and planning cost grows superlinearly in
      // iters; the checkpoint materializes only k centroid rows
      centroids = recomputed.transform(Cut.eager)
    }
    // the corpus cache is freed on return ([[graft.Cut]]); the final lazy
    // assignment recomputes the scan-side quantize projection once
    assign(centroids)
      .select(col("vec_id"), col("cid").as("cluster_id"), col("sim"))
      .orderBy(col("vec_id"))
  }

  def kMeansQuery(s: SparkSession, dir: String): DataFrame =
    kMeans(Tables.embeddings(s, dir))

  /** B12 (r7): per-cluster inertia — the within-cluster sum of squared
    * distances every k-means elbow/quality readout plots, served EXACTLY:
    * Σ‖x − μ_c‖² has the closed form (n·Σ‖x‖² − ‖Σx‖²)/n, so the
    * n-SCALED inertia n·Σ‖x‖² − ‖Σx‖² is a pure BIGINT of the quantized
    * coordinates (no rational centroid ever materializes; consumers
    * divide by n at display). One pass over the assigned corpus: count,
    * Σ dot(q,q) through the fused kernel, and the element-wise vector
    * sum via the single-buffer [[graft.functions.VecSumAgg]]; ‖Σx‖² is
    * dot_q of the k-row sums with themselves. Magnitudes: n·Σ‖x‖² stays
    * under 2⁶³ through sf0.1 corpus scale; beyond that the same
    * aggregate emits DECIMAL(38,0) unchanged. Completes the clustering
    * family's acceptance story (assignment gate: b12_kmeans; usage:
    * b12_semdedup; quality: this). */
  def inertiaOf(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val asg = kMeans(embeddings, k, iters).select(col("vec_id"), col("cluster_id"))
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("q"))
    val vsum = udaf(new graft.functions.VecSumAgg)
    e.join(asg, "vec_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(dotQ(col("q"), col("q"))).as("sq2"),
        vsum(col("q")).as("sv"))
      .select(col("cluster_id"), col("n"),
        (col("n") * col("sq2") - dotQ(col("sv"), col("sv"))).as("inertia_n"))
      .orderBy(col("cluster_id"))
  }

  def inertiaQuery(s: SparkSession, dir: String): DataFrame =
    inertiaOf(Tables.embeddings(s, dir))

  /** B12 (r7 cont.): per-point simplified silhouette over the Lloyd
    * chain — the pointwise cluster-quality score beside the per-cluster
    * [[inertiaOf]] aggregate: a(i) = squared distance to the OWN
    * cluster's centroid, b(i) = min squared distance to any OTHER
    * centroid, s(i) = (b−a)/max(a,b) ∈ [−1, 1] (the "simplified
    * silhouette" of Hruschka et al. — centroid-based, so it costs one
    * k-row broadcast per point instead of the classic all-pairs
    * definition, which is exactly why it is the variant that scales).
    * Centroids rebuild from the final assignment with the chain's own
    * integer-rounded mean, distances stay exact BIGINT through the
    * fused dot_q kernel on difference vectors (the b12_sq_topk
    * device), and the score is ONE final IEEE division — so the lossy
    * clustering's quality report itself hash-gates. Identical
    * point-and-centroid degeneracy (max(a,b)=0) pins s to 0. */
  def silhouetteOf(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val asg = kMeans(embeddings, k, iters).select(col("vec_id"), col("cluster_id"))
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("q"))
    val pts = e.join(asg, "vec_id").transform(Cut.eager)
    val vsum = udaf(new graft.functions.VecSumAgg)
    val cents = pts.groupBy(col("cluster_id"))
      .agg(vsum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster_id").as("cid"),
        transform(col("s"), v =>
          round(v.cast("double") / col("n")).cast("long")).as("cq"))
    val d2 = pts.crossJoin(broadcast(cents))
      .withColumn("diff", zip_with(col("q"), col("cq"), (x, c) => x - c))
      .select(col("vec_id"), col("cluster_id"), col("cid"),
        dotQ(col("diff"), col("diff")).as("d2"))
    val own = d2.filter(col("cid") === col("cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("d2").as("a_sq"))
    val other = d2.filter(col("cid") =!= col("cluster_id"))
      .groupBy(col("vec_id")).agg(min(col("d2")).as("b_sq"))
    own.join(other, Seq("vec_id"))
      .select(col("vec_id"), col("cluster_id"), col("a_sq"), col("b_sq"),
        when(greatest(col("a_sq"), col("b_sq")) === 0L, lit(0.0))
          .otherwise((col("b_sq") - col("a_sq")).cast("double")
            / greatest(col("a_sq"), col("b_sq")).cast("double"))
          .as("silhouette"))
      .orderBy(col("vec_id"))
  }

  def silhouetteQuery(s: SparkSession, dir: String): DataFrame =
    silhouetteOf(Tables.embeddings(s, dir))

  /** B12 (r7): SemDeDup (Abbas et al. 2023) — semantic deduplication in
    * embedding space: cluster the corpus with [[kMeans]], then inside
    * each cluster drop every vector that has a SMALLER-id cluster-mate
    * with cosine ≥ `minCosine` (keep-first, the paper's representative
    * rule made deterministic by id order). Output: the dropped vectors
    * with their cluster, minimal witness, and the cosine to that
    * witness.
    *
    * Scale shape: this is the SemDeDup design point — the quadratic
    * pair stage is bounded PER CLUSTER by an equi-join on cluster_id,
    * never corpus×corpus; in production k scales with the corpus
    * (k ≈ n / target-cluster-size, the paper's regime) so per-cluster
    * work stays constant as n grows. Here k=32 (finer than b12_kmeans's
    * 8 — dedup wants tight clusters) over 2 Lloyd iterations; every
    * step — md5-ordered seeds, integer dot products, the round-through-
    * double centroid mean, the final guarded cosine — is the audited
    * replayable kernel, so the WHOLE pipeline (training included) is
    * hash-gated. */
  def semDedup(embeddings: DataFrame, k: Int = 32, iters: Int = 2,
      minCosine: Double = 0.35): DataFrame = Cut.scope {
    val assign = kMeans(embeddings, k, iters).select(col("vec_id"), col("cluster_id"))
    // one join materializes (vec, cluster, q, norm); both pair sides read
    // it, so cache it for the self-join
    val m = quantizedWithNorm(embeddings).join(assign, "vec_id")
      .select(col("vec_id"), col("cluster_id"), col("q"), col("norm"))
      .transform(Cut.cached)
    val a = m.select(col("cluster_id"), col("vec_id").as("witness"),
      col("q").as("qa"), col("norm").as("na"))
    val b = m.select(col("cluster_id"), col("vec_id"),
      col("q").as("qb"), col("norm").as("nb"))
    a.join(b, Seq("cluster_id")).where(col("witness") < col("vec_id"))
      // zero-norm guard: sim -1 never passes a positive threshold, and
      // ANSI division by zero must not throw
      .withColumn("cosine", when(col("na") * col("nb") === 0.0d, lit(-1.0d))
        .otherwise(cosinePre(col("qa"), col("qb"), col("na"), col("nb"))))
      .where(col("cosine") >= minCosine)
      .groupBy(col("vec_id"), col("cluster_id"))
      .agg(min(col("witness")).as("witness_id"),
        min_by(col("cosine"), col("witness")).as("witness_cosine"))
      .orderBy(col("vec_id"))
      .transform(Cut.eager)
  }

  def semDedupQuery(s: SparkSession, dir: String): DataFrame =
    semDedup(Tables.embeddings(s, dir))

  // ------------------------------------------- product quantization (B12)

  /** Exact integer squared-L2 distance between quantized sub-vectors —
    * one codegen'd higher-order expression, no overflow at milliunit
    * scale (|q|≤~10⁴ → per-dim diff² ≤ 4·10⁸, ×64 dims ≪ 2⁶³). */
  private def l2q(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Split each `q` vector into `m` contiguous sub-vectors: one row per
    * (keys…, sub, subq). Shared by PQ training/encoding (keyed by vec_id)
    * and the IVF-PQ query LUT (keyed by query_id, cell_id). */
  private def subSplit(df: DataFrame, m: Int, dsub: Int, keys: Seq[String]): DataFrame =
    df.select(keys.map(col) :+ explode(expr(
        s"transform(sequence(0, ${m - 1}), s -> struct(s AS sub, slice(q, s*$dsub+1, $dsub) AS subq))"))
        .as("x"): _*)
      .select(keys.map(col) :+ col("x.sub").as("sub") :+ col("x.subq").as("subq"): _*)

  /** Assign each sub-vector to its nearest codeword under exact integer
    * squared-L2; ties break on the lower code id. `carry` columns must be
    * functionally dependent on vec_id (e.g. the IVF cell id) — they ride
    * the aggregate as `first()` so downstream plans need no re-join
    * against the assignment source (an n·m-row shuffle at corpus scale). */
  private def pqAssign(cb: DataFrame, sv: DataFrame,
                       carry: Seq[String] = Nil): DataFrame = sv
    .join(broadcast(cb), Seq("sub"))
    .select((Seq(col("vec_id"), col("sub"), col("subq")) ++ carry.map(col) :+
      struct(l2q(col("subq"), col("cq")).as("d"), col("cid")).as("dc")): _*)
    .groupBy(col("vec_id"), col("sub"))
    .agg(min(col("dc")).as("best"),
      (first(col("subq")).as("subq") +: carry.map(c => first(col(c)).as(c))): _*)
    .select((Seq(col("vec_id"), col("sub"), col("subq"),
      col("best.cid").as("cid"), col("best.d").as("d")) ++ carry.map(col)): _*)

  /** Seed + Lloyd-train one `ksub`-codeword codebook per subspace over
    * (vec_id, sub, subq) rows. Seeds are the lexicographically-first
    * distinct sub-vectors per subspace under the portable md5 ordering;
    * each iteration is one broadcast assignment + one VecSumAgg shuffle.
    * Deterministic and cross-engine exact (see [[pqTopK]]). */
  private def pqTrain(corpusSubs: DataFrame, ksub: Int, iters: Int): DataFrame = {
    val seedW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(col("skey"), col("sstr"))
    var codebook = corpusSubs.select(col("sub"), col("subq")).distinct()
      .withColumn("sstr", concat_ws(":", col("sub"), array_join(col("subq"), ",")))
      .withColumn("skey", md5(col("sstr")))
      .withColumn("cid", row_number().over(seedW) - 1)
      .filter(col("cid") < ksub)
      .select(col("sub"), col("cid"), col("subq").as("cq"))
      .transform(Cut.eager)
    val vsum = udaf(new graft.functions.VecSumAgg)
    for (_ <- 1 to iters) {
      // empty cells drop out (join+group semantics — identical in the
      // oracle); each checkpoint materializes only m·ksub centroid rows
      codebook = pqAssign(codebook, corpusSubs)
        .groupBy(col("sub"), col("cid"))
        .agg(vsum(col("subq")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"),
          transform(col("s"), v => round(v.cast("double") / col("n")).cast("long")).as("cq"))
        .transform(Cut.eager)
    }
    codebook
  }

  /** B12: product quantization (Jégou et al., TPAMI 2011 — the FAISS
    * compression scheme): split each vector into `m` subspaces, train a
    * `ksub`-codeword codebook per subspace (Lloyd iterations under exact
    * integer squared-L2), encode every corpus vector as `m` small code
    * ids, and answer queries via ADC — a per-query lookup table of
    * query-subvector→codeword distances, summed over each vector's codes.
    * This is THE memory-scale path for 100 TB ANN: 64 quantized longs
    * collapse to m=8 one-byte codes (64× compression), the codebook is
    * m·ksub rows (broadcast), and the scan touches codes + a broadcast
    * LUT — never the original vectors.
    *
    * Everything is deterministic AND cross-engine exact: distances are
    * integer arithmetic end-to-end; seeds are the `ksub`
    * lexicographically-first distinct sub-vectors per subspace ordered by
    * the portable `md5("sub:csv")` string (spread without engine-specific
    * hashes, csv tie-break); argmin ties break on the lower code id;
    * centroid means round through the same double division both engines
    * perform identically. The DuckDB oracle replays the FULL pipeline —
    * both Lloyd iterations unrolled as CTEs — so even the trained
    * codebooks are hash-gated, not just the final ranking (the
    * b12_kmeans determinism story, taken to the hash gate like
    * w07_pagerank).
    *
    * Scale shape: training joins sub-vectors against a broadcast
    * codebook (m·ksub rows) with one VecSumAgg shuffle per iteration;
    * encoding is the same broadcast join; ADC is codes ⋈ broadcast LUT +
    * one combinable sum per (query, vec) + a per-query top-k window. At
    * production scale you train on a sample and compose with IVF cells
    * to prune the scan — both are orthogonal to this operator's plan. */
  def pqTopK(embeddings: DataFrame, queryPred: Column, m: Int = 8,
      dsub: Int = 8, ksub: Int = 16, iters: Int = 2, k: Int = 10): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("q"), queryPred.as("is_q"))
      .transform(Cut.eager) // feeds corpus subs + query subs across iters
    def subs(df: DataFrame): DataFrame = subSplit(df, m, dsub, Seq("vec_id"))
    val corpusSubs = subs(e.filter(!col("is_q"))).transform(Cut.eager)
    val codebook = pqTrain(corpusSubs, ksub, iters)
    val codes = pqAssign(codebook, corpusSubs)
      .select(col("vec_id"), col("sub"), col("cid"))
    pqAdcSearch(e, codebook, codes, m, dsub, k)
  }

  /** The ADC serving tail over a PREBUILT (codebook, codes) index — the
    * train-once/serve-many seam: the gated queries read both tables
    * from [[graft.SnapshotStore]] (the production lifecycle, where the
    * PQ index is built at ingest time and queries pay only LUT + ADC),
    * while [[pqTopK]] keeps building inline for specs and custom
    * corpora. Content identical either way. */
  private def pqAdcSearch(e: DataFrame, codebook: DataFrame, codes: DataFrame,
      m: Int, dsub: Int, k: Int): DataFrame = {
    val lut = subSplit(e.filter(col("is_q")), m, dsub, Seq("vec_id"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("vec_id").as("query_id"), col("sub"), col("cid"),
        l2q(col("subq"), col("cq")).as("d"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("pq_dist"), col("vec_id"))
    codes.join(lut, Seq("sub", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("pq_dist"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("pq_dist"), col("rn").cast("int"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Snapshot-backed PQ entry point for the gate's fixed query slice. */
  private def pqTopKSnapshotted(s: SparkSession, dir: String, k: Int): DataFrame = {
    val queryPred = col("vec_id") % 100 === 0
    def eOf = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("q"), queryPred.as("is_q"))
    val codebook = graft.SnapshotStore(s, dir, "embeddings.parquet", "pq_codebook") {
      pqTrain(subSplit(eOf.filter(!col("is_q")), 8, 8, Seq("vec_id")), 16, 2)
    }
    val codes = graft.SnapshotStore(s, dir, "embeddings.parquet", "pq_codes") {
      pqAssign(codebook,
        subSplit(eOf.filter(!col("is_q")), 8, 8, Seq("vec_id")))
        .select(col("vec_id"), col("sub"), col("cid"))
        .repartition(col("sub"))
    }
    pqAdcSearch(eOf.transform(Cut.eager), codebook, codes, 8, 8, k)
  }

  def pqQuery(s: SparkSession, dir: String): DataFrame =
    pqTopKSnapshotted(s, dir, k = 10)

  /** B12: IVF-PQ — the FAISS IVFADC composition (Jégou et al., TPAMI
    * 2011 §V): a coarse quantizer partitions the corpus into `numCells`
    * cells, every vector is PQ-encoded as the RESIDUAL from its cell
    * centroid (residuals concentrate near zero, so the same codebook
    * budget spends its codewords on a much tighter distribution than raw
    * vectors — the reason IVFADC beats flat PQ at equal bits), and a
    * query scans only its `nprobe` nearest cells, ranking candidates by
    * ADC over a per-(query, cell) lookup table of residual-subvector →
    * codeword distances.
    *
    * This is THE production ANN shape at 100 TB: memory per vector is m
    * bytes of codes + a cell id; the scan fraction is nprobe/numCells;
    * and every join in the plan is either broadcast (centroids: numCells
    * rows; codebook: m·ksub rows; LUT: |queries|·nprobe·m·ksub rows) or
    * map-side-combinable (the per-(query, vec) ADC sum). Nothing touches
    * raw vectors after encoding.
    *
    * All distance math is exact integer squared-L2 (quantized milliunits;
    * residual = elementwise difference stays integer), so cell
    * assignment, training, and ranking are bit-stable run to run. Cell
    * seeds reuse [[ivfTopK]]'s portable md5-ordered corpus sample, and
    * the DuckDB oracle replays the FULL IVFADC pipeline — coarse cells,
    * residual encoding, both Lloyd iterations, per-(query,cell) LUTs,
    * ADC ranking — as unrolled CTEs; recall-vs-nprobe and the
    * planted-cluster contract are pinned in SimilaritySpec. */
  def ivfPqTopK(embeddings: DataFrame, queryPred: Column, numCells: Int = 16,
      nprobe: Int = 4, m: Int = 8, dsub: Int = 8, ksub: Int = 16,
      iters: Int = 2, k: Int = 10): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("q"), queryPred.as("is_q"))
      .transform(Cut.eager)
    // coarse quantizer: deterministic corpus vectors as cell centroids,
    // chosen first under the PORTABLE md5(vec_id) ordering (the ivfTopK
    // selection — vec_id tie-break), nearest by exact integer L2. The
    // md5 pick replaced r4's xxhash64: the one engine-specific step
    // that kept IVFADC rows-only; with it portable the ENTIRE pipeline
    // (cells, residuals, Lloyd codebooks, ADC) replays in DuckDB.
    val cells = broadcast(e.filter(!col("is_q"))
      .withColumn("__h", md5(col("vec_id").cast("string")))
      .orderBy(col("__h"), col("vec_id")).limit(numCells)
      .select(col("vec_id").as("cell_id"), col("q").as("cq"))
      .transform(Cut.eager))
    // corpus → nearest cell (min-struct agg, no window shuffle); residual
    // = q − centroid, elementwise, stays in exact integer space
    val assigned = e.filter(!col("is_q")).crossJoin(cells)
      .select(col("vec_id"), col("q"),
        struct(l2q(col("q"), col("cq")).as("d"), col("cell_id")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("best"), first(col("q")).as("q"))
      .select(col("vec_id"), col("q"), col("best.cell_id").as("cell_id"))
      .join(cells, Seq("cell_id"))
      .select(col("vec_id"), col("cell_id"),
        zip_with(col("q"), col("cq"), (x, y) => x - y).as("q"))
      .transform(Cut.eager)
    // shared residual codebooks (standard IVFADC: one codebook across
    // cells, trained on all residuals)
    val corpusSubs = subSplit(assigned, m, dsub, Seq("vec_id", "cell_id"))
      .transform(Cut.eager)
    val codebook = pqTrain(corpusSubs.drop("cell_id"), ksub, iters)
    // cell_id rides the encode aggregate (functionally dependent on
    // vec_id) — no n·m-row re-join against the assignment at scale
    val codes = pqAssign(codebook, corpusSubs, carry = Seq("cell_id"))
      .select(col("vec_id"), col("sub"), col("cid"), col("cell_id"))
    ivfPqAdcSearch(e, cells, codebook, codes, nprobe, m, dsub, k)
  }

  /** The IVFADC serving tail over a PREBUILT (cells, codebook, codes)
    * index — the [[pqAdcSearch]] seam for the composed structure: the
    * gated queries read all three index tables from
    * [[graft.SnapshotStore]] and pay only cell probing + LUT + ADC per
    * call. Content identical to building inline. */
  private def ivfPqAdcSearch(e: DataFrame, cellsIn: DataFrame,
      codebook: DataFrame, codes: DataFrame, nprobe: Int, m: Int, dsub: Int,
      k: Int): DataFrame = {
    val cells = broadcast(cellsIn)
    // queries probe their nprobe nearest cells; the residual is
    // PER (query, cell) — each probed cell gets its own LUT
    val qw = Window.partitionBy(col("query_id")).orderBy(col("d"), col("cell_id"))
    val probes = e.filter(col("is_q"))
      .select(col("vec_id").as("query_id"), col("q")).crossJoin(cells)
      .select(col("query_id"), col("q"), col("cell_id"), col("cq"),
        l2q(col("q"), col("cq")).as("d"))
      .withColumn("rn", row_number().over(qw)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cell_id"),
        zip_with(col("q"), col("cq"), (x, y) => x - y).as("q"))
    val lut = broadcast(subSplit(probes, m, dsub, Seq("query_id", "cell_id"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("cell_id"), col("sub"), col("cid"),
        l2q(col("subq"), col("cq")).as("d"))
      .transform(Cut.eager))
    // ADC: codes ⋈ broadcast LUT on (cell_id, sub, cid) — a vector joins
    // only if its cell was probed; the sum over its m codes is one
    // map-side-combinable aggregate
    val rankW = Window.partitionBy(col("query_id")).orderBy(col("pq_dist"), col("vec_id"))
    codes.join(lut, Seq("cell_id", "sub", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("pq_dist"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("pq_dist"), col("rn").cast("int"))
      .orderBy(col("query_id"), col("rn"))
  }

  def ivfPqQuery(s: SparkSession, dir: String): DataFrame = {
    val queryPred = col("vec_id") % 100 === 0
    def eOf = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("q"), queryPred.as("is_q"))
    val cells = graft.SnapshotStore(s, dir, "embeddings.parquet", "ivfpq_cells") {
      eOf.filter(!col("is_q"))
        .withColumn("__h", md5(col("vec_id").cast("string")))
        .orderBy(col("__h"), col("vec_id")).limit(16)
        .select(col("vec_id").as("cell_id"), col("q").as("cq"))
    }
    def residualSubs = {
      val assigned = eOf.filter(!col("is_q")).crossJoin(broadcast(cells))
        .select(col("vec_id"), col("q"),
          struct(l2q(col("q"), col("cq")).as("d"), col("cell_id")).as("dc"))
        .groupBy(col("vec_id"))
        .agg(min(col("dc")).as("best"), first(col("q")).as("q"))
        .select(col("vec_id"), col("q"), col("best.cell_id").as("cell_id"))
        .join(broadcast(cells), Seq("cell_id"))
        .select(col("vec_id"), col("cell_id"),
          zip_with(col("q"), col("cq"), (x, y) => x - y).as("q"))
      subSplit(assigned, 8, 8, Seq("vec_id", "cell_id"))
    }
    val codebook = graft.SnapshotStore(s, dir, "embeddings.parquet", "ivfpq_codebook") {
      pqTrain(residualSubs.drop("cell_id"), 16, 2)
    }
    val codes = graft.SnapshotStore(s, dir, "embeddings.parquet", "ivfpq_codes") {
      pqAssign(codebook, residualSubs, carry = Seq("cell_id"))
        .select(col("vec_id"), col("sub"), col("cid"), col("cell_id"))
        .repartition(col("cell_id"))
    }
    ivfPqAdcSearch(eOf.transform(Cut.eager), cells, codebook, codes, 4, 8, 8, 10)
  }

  /** B12/B13: hybrid retrieval — the RAG-stack composite: a LEXICAL
    * recall stage (inverse-df-weighted distinct-token overlap, the BM25
    * family's exact-integer core) proposes `lexK` candidates per query,
    * and a SEMANTIC rerank (quantized cosine over the aligned embedding
    * table) orders the final top `k`. Both stages are exact arithmetic
    * (scores are Σ 1000000 div df — truncating integer division,
    * identical across engines; cosine is the established quantized
    * kernel), so the WHOLE two-stage pipeline is DuckDB-oracle
    * hash-gated — lexical scoring, candidate cut, and rerank.
    *
    * Scale shape: tokens with df > `maxDf` are dropped from scoring
    * (stopword pruning — the same cap that bounds dupSpans): the
    * token-join fan-out is Σ_rare-tok df², never the full posting
    * product, and on a Zipfian vocabulary that is the difference between
    * linear and quadratic. The query side of the token join and the
    * candidate frame of the rerank join are both |queries|-bounded
    * (broadcast); the embedding table is only probed at candidate ids. */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame, queryPred: Column,
      lexK: Int = 20, k: Int = 5, maxDf: Int = 1000): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val tw = toks.join(dfreq, Seq("tok"))
    val qt = tw.filter(queryPred)
      .select(col("doc_id").as("query_id"), col("tok"), col("df"))
    val cand = qt.join(tw.select(col("doc_id"), col("tok")), Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("1000000 div df")).as("lex_score"))
    val lw = Window.partitionBy(col("query_id"))
      .orderBy(col("lex_score").desc, col("doc_id"))
    val topLex = cand.withColumn("lrn", row_number().over(lw)).filter(col("lrn") <= lexK)
      .select(col("query_id"), col("doc_id"), col("lex_score"))
    val e = quantizedWithNorm(embeddings)
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    topLex
      .join(e.select(col("vec_id").as("query_id"), col("q").as("qq"), col("norm").as("qn")),
        Seq("query_id"))
      .join(e.select(col("vec_id").as("doc_id"), col("q").as("dq"), col("norm").as("dn")),
        Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("lex_score"),
        cosinePre(col("qq"), col("dq"), col("qn"), col("dn")).as("cosine"))
      .withColumn("rn", row_number().over(rw)).filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_score"), col("cosine"),
        col("rn").cast("int"))
      .orderBy(col("query_id"), col("rn"))
  }

  def hybridQuery(s: SparkSession, dir: String): DataFrame =
    hybridSearch(Tables.documents(s, dir), Tables.embeddings(s, dir),
      col("doc_id") % 100 === 0)

  // ---------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b12_embed_neardup" -> (embedNearDupQuery _),
    "b12_dbscan" -> (dbscanQuery _),
    "b12_silhouette" -> (silhouetteQuery _),
    "b12_filtered_topk" -> (filteredTopKQuery _),
    "b12_kmeans" -> (kMeansQuery _),
    "b12_semdedup" -> (semDedupQuery _),
    "b12_pq_topk" -> (pqQuery _),
    "b12_ivfpq_topk" -> (ivfPqQuery _),
    "b12_hybrid_search" -> (hybridQuery _),
    "b12_centroids" -> (labelCentroids _),
    "b12_cosine_pairs" -> (cosinePairs _),
    "b12_ann_topk" -> (annTopKQuery _),
    "b12_ann_lsh" -> (lshQuery _),
    "b12_ann_ivf" -> (ivfQuery _),
    "b12_ivf_recall" -> (ivfRecallQuery _),
    "b12_pq_recall" -> (pqRecallQuery _),
    "b12_knn_classify" -> ((s, dir) => knnClassify(s, dir)),
    "b12_range_search" -> (rangeSearchQuery _),
    "b12_mmr" -> (mmrQuery _),
    "b12_sq_topk" -> (sqTopKQuery _),
    "b12_sq_recall" -> (sqRecallQuery _),
    "b12_inertia" -> (inertiaQuery _),
    "b12_hnsw_topk" -> (hnswQuery _),
    "b12_hnsw_adj" -> (hnswAdjQuery _),
    "b12_hnsw_insert" -> (hnswInsertQuery _),
    "e08_index_maintenance" -> (indexMaintenanceQuery _),
    "b12_hnsw_recall" -> (hnswRecallQuery _),
  )

  private val Q = "list_transform(CAST(%s AS DOUBLE[]), x -> CAST(round(x*1000) AS BIGINT))"
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]))"
  /** Sign-LSH bucket in SQL from the SAME literal plane constants the
    * Spark plan embeds ([[planeVec]]) — drift impossible by construction. */
  private def bucketSql(q: String, numPlanes: Int = 8): String =
    (0 until numPlanes).map { p =>
      val lst = planeVec(p, PlaneDims).mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, len($q)+1), i -> $q[i] * ($lst)[i])) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  /** One k-means iteration as three CTEs: guarded-cosine scores, argmax
    * assignment ((sim DESC, cid) — the max_by struct order), centroid
    * rebuild through the identical round(double)/re-norm. */
  /** The unrolled Lloyd chain (ke/ken → md5-seeded kc0 → `steps`
    * assign/rebuild rounds → final guarded-cosine `kassign`) — ONE
    * parameterized definition shared by the b12_kmeans and b12_semdedup
    * oracles (the Bm25RankedCtes no-drift device). `kassign` carries
    * (vec_id, q, norm, cid, sim). */
  private def kMeansCtes(k: Int, steps: Int): String = {
    val chain = (1 to steps).map(i => kmStepSql(s"kc${i - 1}", i)).mkString(",")
    s"""ke AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      ken AS (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM ke),
      ks AS (SELECT q, array_to_string(q, ',') AS sstr FROM (SELECT DISTINCT q FROM ke)),
      kc0 AS (SELECT cid, q AS cq, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS cnorm FROM (
               SELECT q, ROW_NUMBER() OVER (ORDER BY md5(sstr), sstr) - 1 AS cid
               FROM ks) WHERE cid < $k),
      $chain,
      kdf AS (SELECT v.vec_id, v.q, v.norm, c.cid,
               CASE WHEN v.norm * c.cnorm = 0 THEN -1.0
                    ELSE CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) / (v.norm * c.cnorm) END AS sim
             FROM ken v, kc$steps c),
      kassign AS (SELECT vec_id, q, norm, cid, sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY sim DESC, cid) AS rn FROM kdf) WHERE rn = 1)"""
  }

  private def kmStepSql(fromCb: String, i: Int) = s"""
      kd$i AS (SELECT v.vec_id, v.q, v.norm, c.cid,
               CASE WHEN v.norm * c.cnorm = 0 THEN -1.0
                    ELSE CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) / (v.norm * c.cnorm) END AS sim
             FROM ken v, $fromCb c),
      ka$i AS (SELECT vec_id, q, norm, cid, sim FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, cid) AS rn FROM kd$i) WHERE rn = 1),
      kc$i AS (SELECT cid, cq, sqrt(CAST(${dotSql("cq", "cq")} AS DOUBLE)) AS cnorm FROM (
               SELECT cid, list(sq ORDER BY pos) AS cq FROM (
                 SELECT cid, pos,
                   CAST(round(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS sq
                 FROM (SELECT cid, generate_subscripts(q, 1) AS pos,
                         unnest(q) AS qv FROM ka$i)
                 GROUP BY cid, pos) GROUP BY cid))"""
  private def l2Sql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, len($a)+1), i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
  /** One Lloyd step as two CTEs: argmin assignment (distance, then a
    * window-rank tie-broken by cid) + per-position centroid mean. */
  private def lloydSql(fromCb: String, toD: String, toA: String, toCb: String) = s"""
      $toD AS (SELECT v.vec_id, v.sub, v.subq, c.cid, ${l2Sql("v.subq", "c.cq")} AS d
             FROM cs v JOIN $fromCb c USING (sub)),
      $toA AS (SELECT vec_id, sub, subq, cid FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
             FROM $toD) WHERE rn = 1),
      $toCb AS (SELECT sub, cid, list(sq ORDER BY pos) AS cq FROM (
             SELECT sub, cid, pos,
               CAST(round(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS sq
             FROM (SELECT sub, cid, generate_subscripts(subq, 1) AS pos,
                     unnest(subq) AS qv FROM $toA)
             GROUP BY sub, cid, pos)
           GROUP BY sub, cid)"""

  /** Shared oracle fragments (one definition, no drift): the brute-force
    * similarity chain (assumes CTE `e`) and the full IVF candidate chain
    * (assumes `e`, `en`) — used by b12_ann_topk / b12_ann_ivf and
    * composed by the b12_ivf_recall report. */
  private lazy val BruteSimsSql = s"""
      qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id % 100 = 0),
      sims AS (SELECT query_id, e.vec_id,
        CAST(${dotSql("qq", "q")} AS DOUBLE)
          / (sqrt(CAST(${dotSql("qq", "qq")} AS DOUBLE)) * sqrt(CAST(${dotSql("q", "q")} AS DOUBLE))) AS cosine
        FROM e JOIN qs ON e.vec_id <> qs.query_id)"""
  private lazy val IvfCandSql = s"""
      c AS (SELECT vec_id AS cell_id, q AS cq, norm AS cnorm FROM (
              SELECT *, ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn FROM en)
            WHERE srn <= 16),
      asgn0 AS (SELECT v.vec_id, v.q, v.norm, c.cell_id,
                  CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) / (v.norm * c.cnorm) AS sim
                FROM en v, c),
      asgn AS (SELECT vec_id, q, norm, cell_id FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, cell_id) AS rn FROM asgn0) WHERE rn = 1),
      qp0 AS (SELECT v.vec_id AS query_id, v.q AS qq, v.norm AS qnorm, c.cell_id,
                CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) / (v.norm * c.cnorm) AS sim
              FROM en v, c WHERE v.vec_id % 100 = 0),
      qp AS (SELECT query_id, qq, qnorm, cell_id FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, cell_id) AS rn FROM qp0) WHERE rn <= 4),
      cand AS (SELECT p.query_id, a.vec_id,
                 CAST(${dotSql("p.qq", "a.q")} AS DOUBLE) / (p.qnorm * a.norm) AS cosine
               FROM qp p JOIN asgn a USING (cell_id)
               WHERE a.vec_id <> p.query_id)"""

  /** One hierarchy stage in SQL (stage m, top-down): layer-m overlap
    * cells via the parent equi-join with the root (-1) fallback
    * (hcell), DISTINCT in-cell pair sims + per-src R-nearest (hn), and
    * — for m > 0 — every member's [[HnswOverlap]] nearest layer-m
    * vertices found through the parent-keyed candidate join (ha) — the
    * literal replay of [[hnswBuild]] (same window orders, same
    * fallback), one stage of the r9 linear-assignment build. Every CTE
    * is AS MATERIALIZED (the b16 device, GraphOps:1077): the stages
    * chain 4 deep and reference each other 2-3×, so DuckDB's default
    * inlining re-executes subtrees exponentially in depth — measured
    * as ~20 min/query at sf0.01 vs seconds materialized. */
  private def hnswStageSql(m: Int): String = {
    val cell =
      if (m == HnswMaxLayers - 1) s"""
      hcell$m AS MATERIALIZED (SELECT vec_id, q, norm, CAST(-1 AS BIGINT) AS cell_id
        FROM hlv WHERE lvl >= $m)"""
      else s"""
      hcell$m AS MATERIALIZED (SELECT l.vec_id, l.q, l.norm,
          COALESCE(p.parent, CAST(-1 AS BIGINT)) AS cell_id
        FROM (SELECT vec_id, q, norm FROM hlv WHERE lvl >= $m) l
        LEFT JOIN ha${m + 1} p ON p.vec_id = l.vec_id)"""
    val edges = s"""
      hp$m AS MATERIALIZED (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
          CAST(${dotSql("a.q", "b.q")} AS DOUBLE) / (a.norm * b.norm) AS sim
        FROM hcell$m a JOIN hcell$m b USING (cell_id) WHERE a.vec_id <> b.vec_id),
      hn$m AS MATERIALIZED (SELECT src, dst FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
          FROM hp$m) WHERE rn <= $HnswR)"""
    val assign = if (m == 0) "" else {
      val keys =
        if (m == HnswMaxLayers - 1)
          s"SELECT vec_id, CAST(-1 AS BIGINT) AS cell_id FROM hlv"
        else s"""SELECT vec_id, parent AS cell_id FROM ha${m + 1}
          UNION ALL SELECT vec_id, CAST(-1 AS BIGINT) AS cell_id FROM hlv"""
      s""",
      hmk$m AS MATERIALIZED ($keys),
      hcd$m AS MATERIALIZED (SELECT DISTINCT k.vec_id, c.vec_id AS cand_id
        FROM hmk$m k JOIN hcell$m c USING (cell_id)),
      ha$m AS MATERIALIZED (SELECT vec_id, cand_id AS parent FROM (
          SELECT d.vec_id, d.cand_id,
            ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
              CAST(${dotSql("v.q", "c.q")} AS DOUBLE) / (v.norm * c.norm) DESC,
              d.cand_id) AS rn
          FROM hcd$m d JOIN hlv v ON v.vec_id = d.vec_id
          JOIN hlv c ON c.vec_id = d.cand_id)
        WHERE rn <= $HnswOverlap)"""
    }
    s"$cell,$edges$assign"
  }

  /** The full layered-ANN replay (assumes `e`, `en`): capped level
    * draw, all [[HnswMaxLayers]] stages of the parent-descent build,
    * entry set, and the unrolled beam descent — [[HnswRoundsU]] narrow
    * rounds per upper layer (empty layers are vacuous no-ops: the beam
    * set is its own fixpoint, matching the Spark side's skip), then
    * [[HnswRounds0]] pool-accumulating wide rounds (UNION = Spark's
    * union+distinct), ending in `htop` (query_id, vec_id, cosine,
    * rn ≤ 10). */
  private lazy val hnswChainSql: String = hnswChainSqlWith(
    s"SELECT vec_id AS query_id, q AS qq, norm AS qnorm FROM en WHERE vec_id % 100 = 0",
    k = 10)

  /** The layered-ANN replay parameterized over the QUERY SET (r10: the
    * insert gate descends the BATCH vectors, which live outside `en`)
    * and the per-query result size `k` (search uses 10, the insert's
    * anchor-finding uses [[HnswR]]). Assumes `e`, `en` CTEs. */
  private def hnswChainSqlWith(hqsSql: String, k: Int): String =
    s"""hlv AS MATERIALIZED (SELECT vec_id, q, norm, md5(CAST(vec_id AS VARCHAR)) AS h,
          LEAST(${HnswMaxLayers - 1},
            length(regexp_extract(md5(CAST(vec_id AS VARCHAR)), '^0*'))) AS lvl
        FROM en),
      ${((HnswMaxLayers - 1) to 0 by -1).map(hnswStageSql).mkString(",")},
      ${hnswDescentSql("h", "hn", "hlv", "en", hqsSql, k)}"""

  /** The beam-descent replay alone, fully parameterized (r10, the e08
    * extended-graph serve gate needs descent over an INSERTED
    * adjacency, not the canonical build): `tag` prefixes every CTE so
    * two descents coexist in one query; `adjName$m` are the per-layer
    * adjacency CTEs; `lvName` a (vec_id, h, lvl) leveled table for the
    * entry set; `vecName` the (vec_id, q, norm) scoring vectors.
    * Emits `${"${tag}"}top` (query_id, vec_id, cosine, rn ≤ k). With
    * tag "h"/adj "hn"/lv "hlv"/vec "en" this is byte-compatible with
    * the pre-refactor chain. */
  private def hnswDescentSql(tag: String, adjName: String, lvName: String,
      vecName: String, hqsSql: String, k: Int): String = {
    def scoreSql(fromCte: String, outCte: String) = s"""
      $outCte AS (SELECT x.query_id, x.vec_id,
          CAST(${dotSql("qv.qq", "cv.q")} AS DOUBLE) / (qv.qnorm * cv.norm) AS cos
        FROM $fromCte x JOIN $vecName cv ON cv.vec_id = x.vec_id
        JOIN ${tag}qs qv ON qv.query_id = x.query_id)"""
    var i = 0
    val upper = ((HnswMaxLayers - 1) to 1 by -1).flatMap { m =>
      (1 to HnswRoundsU).map { _ =>
        i += 1
        val prev = s"${tag}b${i - 1}"
        s"""
      ${tag}x$i AS (SELECT query_id, vec_id FROM $prev
          UNION
          SELECT b.query_id, n.dst AS vec_id FROM $prev b
          JOIN $adjName$m n ON n.src = b.vec_id),
      ${scoreSql(s"${tag}x$i", s"${tag}s$i")},
      ${tag}b$i AS MATERIALIZED (SELECT query_id, vec_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, vec_id) AS rn FROM ${tag}s$i) WHERE rn <= $HnswBeamU)"""
      }
    }.mkString(",")
    val lastUpper = i
    val l0 = (1 to HnswRounds0).map { j =>
      val prevPool = if (j == 1) s"${tag}b$lastUpper" else s"${tag}px${j - 1}"
      val prevBeam = if (j == 1) s"${tag}b$lastUpper" else s"${tag}bb${j - 1}"
      s"""
      ${tag}px$j AS MATERIALIZED (SELECT query_id, vec_id FROM $prevPool
          UNION
          SELECT b.query_id, n.dst AS vec_id FROM $prevBeam b
          JOIN ${adjName}0 n ON n.src = b.vec_id),
      ${scoreSql(s"${tag}px$j", s"${tag}ps$j")},
      ${tag}bb$j AS MATERIALIZED (SELECT query_id, vec_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, vec_id) AS rn FROM ${tag}ps$j) WHERE rn <= $HnswBeam0)"""
    }.mkString(",")
    s"""${tag}ent AS MATERIALIZED (SELECT vec_id FROM (
          SELECT vec_id, ROW_NUMBER() OVER (ORDER BY lvl DESC, h, vec_id) AS rn
          FROM $lvName) WHERE rn <= $HnswEntryN),
      ${tag}qs AS MATERIALIZED ($hqsSql),
      ${tag}b0 AS MATERIALIZED (SELECT q.query_id, e2.vec_id
        FROM ${tag}qs q CROSS JOIN ${tag}ent e2),
      $upper,
      $l0,
      ${scoreSql(s"${tag}px$HnswRounds0", s"${tag}fs")},
      ${tag}top AS (SELECT query_id, vec_id, cos AS cosine, CAST(rn AS INT) AS rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, vec_id) AS rn
          FROM ${tag}fs WHERE vec_id <> query_id) WHERE rn <= $k)"""
  }

  /** Unrolled greedy-MMR replay ([[MmrK]] rounds — the lpa/kCore
    * unrolled-round device): s1 is the per-probe relevance argmax; each
    * later round recomputes every unselected candidate's max-sim
    * penalty against the union of earlier picks and takes the
    * (rel − pen DESC, vec_id) argmax — [[mmrSelect]]'s window order
    * exactly. Pair sims recompute the identical cosine expression from
    * the quantized vectors. */
  private def mmrOracleSql: String = {
    val rounds = (2 to MmrK).map { r =>
      val selU = (1 until r).map(i => s"SELECT query_id, vec_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""r$r AS (SELECT c.query_id, c.vec_id, c.rel, MAX(p.sim) AS pen
            FROM cand c
            JOIN p ON p.query_id = c.query_id AND p.a = c.vec_id
            JOIN ($selU) sel ON sel.query_id = p.query_id AND sel.vec_id = p.b
            WHERE NOT EXISTS (SELECT 1 FROM ($selU) x
                              WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
            GROUP BY 1, 2, 3),
      s$r AS (SELECT query_id, vec_id, $r AS rank, rel, rel - pen AS mmr FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY rel - pen DESC, vec_id) AS rn FROM r$r) WHERE rn = 1)"""
    }.mkString(",\n      ")
    val unionAll = (1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      $BruteSimsSql,
      cand AS (SELECT query_id, vec_id, cosine AS rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS rn FROM sims) WHERE rn <= $MmrCand),
      p AS (SELECT ca.query_id, ca.vec_id AS a, cb.vec_id AS b,
              CAST(${dotSql("ea.q", "eb.q")} AS DOUBLE) /
                (sqrt(CAST(${dotSql("ea.q", "ea.q")} AS DOUBLE)) *
                 sqrt(CAST(${dotSql("eb.q", "eb.q")} AS DOUBLE))) AS sim
            FROM cand ca JOIN cand cb
              ON ca.query_id = cb.query_id AND ca.vec_id <> cb.vec_id
            JOIN e ea ON ea.vec_id = ca.vec_id
            JOIN e eb ON eb.vec_id = cb.vec_id),
      s1 AS (SELECT query_id, vec_id, 1 AS rank, rel, rel AS mmr FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
      $rounds
      SELECT query_id, vec_id, CAST(rank AS INT) AS rank, rel, mmr
      FROM ($unionAll) ORDER BY query_id, rank"""
  }

  /** The SQ8 chain (assumes CTE `e` with vec_id, q) — shared by
    * b12_sq_topk and the b12_sq_recall acceptance report: per-dim
    * [min, max] training, exact integer encode-and-rescale, BIGINT
    * squared distances, the (sq_dist, vec_id) top-10 window. */
  private lazy val SqChainSql = s"""
      dims AS (SELECT CAST(s.d AS INT) AS d, MIN(q[s.d + 1]) AS mn, MAX(q[s.d + 1]) AS mx
               FROM e, UNNEST(range(0, 64)) AS s(d) GROUP BY 1),
      enc AS (SELECT e.vec_id, CAST(s.d AS INT) AS d,
                CASE WHEN dm.mx = dm.mn THEN 0
                     ELSE ((q[s.d + 1] - dm.mn) * 255) // (dm.mx - dm.mn) * (dm.mx - dm.mn)
                END AS w8
              FROM e, UNNEST(range(0, 64)) AS s(d)
              JOIN dims dm ON dm.d = CAST(s.d AS INT)),
      sqq AS (SELECT vec_id AS query_id, d, w8 FROM enc WHERE vec_id % 100 = 0),
      sqdist AS (SELECT q.query_id, c.vec_id,
                   CAST(SUM((q.w8 - c.w8) * (q.w8 - c.w8)) AS BIGINT) AS sq_dist
                 FROM sqq q JOIN enc c ON c.d = q.d AND c.vec_id <> q.query_id
                 GROUP BY 1, 2),
      sqtop AS (SELECT query_id, vec_id, sq_dist, rn FROM (
                  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sq_dist, vec_id) AS INT) AS rn
                  FROM sqdist) WHERE rn <= 10)"""

  /** The full PQ/ADC chain (assumes CTE `e` with vec_id, q, is_q) —
    * shared by b12_pq_topk and the b12_pq_recall acceptance report. */
  private lazy val PqESql = s"""e AS (SELECT vec_id, ${Q.format("embedding")} AS q,
                   vec_id % 100 = 0 AS is_q FROM embeddings)"""
  private lazy val PqChainSql = s"""sv AS (SELECT vec_id, is_q, CAST(s.sub AS INT) AS sub,
               q[s.sub*8+1 : s.sub*8+8] AS subq
             FROM e, UNNEST(range(0, 8)) AS s(sub)),
      cs AS (SELECT vec_id, sub, subq FROM sv WHERE NOT is_q),
      sk AS (SELECT sub, subq,
               CAST(sub AS VARCHAR) || ':' || array_to_string(subq, ',') AS sstr
             FROM (SELECT DISTINCT sub, subq FROM cs)),
      cb0 AS (SELECT sub, cid, subq AS cq FROM (
               SELECT sub, subq, CAST(ROW_NUMBER() OVER (PARTITION BY sub
                 ORDER BY md5(sstr), sstr) AS INT) - 1 AS cid FROM sk)
             WHERE cid < 16),
      ${lloydSql("cb0", "d1", "a1", "cb1")},
      ${lloydSql("cb1", "d2", "a2", "cb2")},
      d3 AS (SELECT v.vec_id, v.sub, c.cid, ${l2Sql("v.subq", "c.cq")} AS d
             FROM cs v JOIN cb2 c USING (sub)),
      codes AS (SELECT vec_id, sub, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                 ORDER BY d, cid) AS rn FROM d3) WHERE rn = 1),
      lut AS (SELECT v.vec_id AS query_id, v.sub, c.cid,
                ${l2Sql("v.subq", "c.cq")} AS d
              FROM (SELECT vec_id, sub, subq FROM sv WHERE is_q) v
              JOIN cb2 c USING (sub)),
      adc AS (SELECT l.query_id, co.vec_id, CAST(SUM(l.d) AS BIGINT) AS pq_dist
              FROM codes co JOIN lut l ON l.sub = co.sub AND l.cid = co.cid
              GROUP BY l.query_id, co.vec_id)"""

  val oracles: Map[String, String] = Map(
    // sign-LSH ANN with the literal-constant plane matrix: buckets,
    // same-bucket candidate join, exact cosine verify — all replayed
    "b12_ann_lsh" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      b AS (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm,
              ${bucketSql("q")} AS bucket FROM e),
      p AS (SELECT a.vec_id AS a, b2.vec_id AS b,
              CAST(${dotSql("a.q", "b2.q")} AS DOUBLE) / (a.norm * b2.norm) AS cosine
            FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
      SELECT a, b, cosine FROM p WHERE cosine >= 0.3 ORDER BY a, b""",
    // the LSH pair stage above at the near-dup threshold, then connected
    // components as recursive reachability (the b12_dedup_clusters device)
    "b12_embed_neardup" -> s"""
      WITH RECURSIVE
      e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      b AS (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm,
              ${bucketSql("q")} AS bucket FROM e),
      p AS (SELECT a.vec_id AS a, b2.vec_id AS b,
              CAST(${dotSql("a.q", "b2.q")} AS DOUBLE) / (a.norm * b2.norm) AS cosine
            FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
      edges AS (SELECT a, b FROM p WHERE cosine >= 0.35),
      sym AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
      reach AS (SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u)
      SELECT u AS vec_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY u ORDER BY vec_id""",
    // the LSH pair stage at the DBSCAN threshold; degree → core set →
    // core-core recursive reachability → min-label border attach; the
    // whole corpus surfaces with NULL cluster_rep exactly on noise
    "b12_dbscan" -> s"""
      WITH RECURSIVE
      e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      b AS (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm,
              ${bucketSql("q")} AS bucket FROM e),
      p AS (SELECT a.vec_id AS a, b2.vec_id AS b,
              CAST(${dotSql("a.q", "b2.q")} AS DOUBLE) / (a.norm * b2.norm) AS cosine
            FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
      edges AS (SELECT a, b FROM p WHERE cosine >= 0.25),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      core AS (SELECT a AS v FROM sym GROUP BY a HAVING COUNT(*) >= 2),
      ce AS (SELECT a, b FROM edges
             WHERE a IN (SELECT v FROM core) AND b IN (SELECT v FROM core)),
      csym AS (SELECT a AS u, b AS v FROM ce UNION SELECT b, a FROM ce),
      reach AS (SELECT u, v FROM csym
                UNION
                SELECT r.u, s.v FROM reach r JOIN csym s ON r.v = s.u
                WHERE s.v <> r.u),
      cc AS (SELECT u AS v, CAST(LEAST(u, MIN(v)) AS BIGINT) AS label
             FROM reach GROUP BY u),
      corelab AS (SELECT c.v, COALESCE(cc.label, c.v) AS label
                  FROM core c LEFT JOIN cc ON cc.v = c.v),
      border AS (SELECT s.a AS v, MIN(cl.label) AS label
                 FROM sym s JOIN corelab cl ON cl.v = s.b
                 WHERE s.a NOT IN (SELECT v FROM core)
                 GROUP BY s.a),
      lab AS (SELECT v, 'core' AS role, label FROM corelab
              UNION ALL SELECT v, 'border' AS role, label FROM border)
      SELECT em.vec_id, COALESCE(lab.role, 'noise') AS role,
             lab.label AS cluster_rep
      FROM (SELECT vec_id FROM embeddings) em
      LEFT JOIN lab ON lab.v = em.vec_id
      ORDER BY vec_id""",
    // FULL 3-iteration Lloyd k-means — portable md5-ordered seeds, three
    // unrolled assign/rebuild rounds, final guarded-cosine assignment
    "b12_kmeans" -> s"""
      WITH ${kMeansCtes(8, 3)}
      SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, sim FROM kassign
      ORDER BY vec_id""",
    // n-scaled exact inertia over the same Lloyd chain: n·Σ|x|² − |Σx|²
    // all in integer arithmetic (HUGEINT intermediates cast at the end)
    "b12_inertia" -> s"""
      WITH ${kMeansCtes(8, 3)},
      pd AS (SELECT cid, CAST(s.d AS INT) AS d, CAST(SUM(q[s.d + 1]) AS BIGINT) AS sd
             FROM kassign, UNNEST(range(0, 64)) AS s(d) GROUP BY 1, 2),
      sq AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(${dotSql("q", "q")}) AS BIGINT) AS sq2
             FROM kassign GROUP BY cid),
      d2 AS (SELECT cid, CAST(SUM(sd * sd) AS BIGINT) AS sd2 FROM pd GROUP BY cid)
      SELECT CAST(sq.cid AS BIGINT) AS cluster_id, sq.n,
             sq.n * sq.sq2 - d2.sd2 AS inertia_n
      FROM sq JOIN d2 USING (cid) ORDER BY cluster_id""",
    // label-keyed candidate join + the shared cosine kernel: top-k OF
    // the filtered set, replayed with the identical total ranking
    "b12_filtered_topk" -> s"""
      WITH e AS (SELECT vec_id, label, ${Q.format("embedding")} AS q FROM embeddings),
      en AS (SELECT vec_id, label, q,
               sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      qs AS (SELECT vec_id AS query_id, label, q AS qq, norm AS qnorm
             FROM en WHERE vec_id % 100 = 0),
      sims AS (SELECT qs.query_id, qs.label, en.vec_id,
          CAST(${dotSql("qs.qq", "en.q")} AS DOUBLE) / (qs.qnorm * en.norm) AS cosine
        FROM en JOIN qs ON en.label = qs.label AND en.vec_id <> qs.query_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rn FROM sims)
      SELECT query_id, CAST(label AS INT) AS label, vec_id, cosine,
        CAST(rn AS INT) AS rn
      FROM r WHERE rn <= 10 ORDER BY query_id, rn""",
    // simplified silhouette over the same Lloyd chain: centroids rebuilt
    // with the chain's integer-rounded mean, exact BIGINT squared
    // distances, one final IEEE division per point
    "b12_silhouette" -> s"""
      WITH ${kMeansCtes(8, 3)},
      sc AS (SELECT cid, list(sq ORDER BY pos) AS cq FROM (
               SELECT cid, pos,
                 CAST(round(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS sq
               FROM (SELECT cid, generate_subscripts(q, 1) AS pos,
                       unnest(q) AS qv FROM kassign)
               GROUP BY cid, pos) GROUP BY cid),
      dd AS (SELECT ka.vec_id, ka.cid AS cluster_id, c.cid,
               ${l2Sql("ka.q", "c.cq")} AS d2
             FROM kassign ka CROSS JOIN sc c),
      aa AS (SELECT vec_id, cluster_id, d2 AS a_sq FROM dd WHERE cid = cluster_id),
      bb AS (SELECT vec_id, MIN(d2) AS b_sq FROM dd WHERE cid <> cluster_id
             GROUP BY vec_id)
      SELECT aa.vec_id, CAST(aa.cluster_id AS BIGINT) AS cluster_id,
        aa.a_sq, bb.b_sq,
        CASE WHEN greatest(aa.a_sq, bb.b_sq) = 0 THEN 0.0
             ELSE CAST(bb.b_sq - aa.a_sq AS DOUBLE)
                  / CAST(greatest(aa.a_sq, bb.b_sq) AS DOUBLE) END AS silhouette
      FROM aa JOIN bb USING (vec_id) ORDER BY vec_id""",
    // SemDeDup: the k=32/2-iteration Lloyd chain (same audited kernel)
    // feeding the within-cluster keep-first pair stage
    "b12_semdedup" -> s"""
      WITH ${kMeansCtes(32, 2)},
      pp AS (SELECT b.vec_id AS vec_id, b.cid AS cluster_id, a.vec_id AS witness,
               CASE WHEN a.norm * b.norm = 0 THEN -1.0
                    ELSE CAST(${dotSql("a.q", "b.q")} AS DOUBLE) / (a.norm * b.norm)
               END AS cosine
             FROM kassign a JOIN kassign b
               ON a.cid = b.cid AND a.vec_id < b.vec_id)
      SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             MIN(witness) AS witness_id, arg_min(cosine, witness) AS witness_cosine
      FROM pp WHERE cosine >= 0.35
      GROUP BY vec_id, cluster_id ORDER BY vec_id""",
    // the FULL IVFADC pipeline — portable md5-ordered coarse cells,
    // residual encoding, both Lloyd iterations on residual sub-vectors,
    // per-(query,cell) LUTs, ADC ranking — replayed as unrolled CTEs
    "b12_ivfpq_topk" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q,
                   vec_id % 100 = 0 AS is_q FROM embeddings),
      cl AS (SELECT vec_id AS cell_id, q AS cq FROM (
              SELECT *, ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
              FROM e WHERE NOT is_q) WHERE srn <= 16),
      ad0 AS (SELECT v.vec_id, v.q, c.cell_id, c.cq, ${l2Sql("v.q", "c.cq")} AS d
              FROM e v, cl c WHERE NOT v.is_q),
      ad AS (SELECT vec_id, cell_id,
               list_transform(range(1, len(q)+1), i -> q[i] - cq[i]) AS q
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY d, cell_id) AS rn FROM ad0) WHERE rn = 1),
      cs AS (SELECT vec_id, cell_id, CAST(s.sub AS INT) AS sub,
               q[s.sub*8+1 : s.sub*8+8] AS subq
             FROM ad, UNNEST(range(0, 8)) AS s(sub)),
      sk AS (SELECT sub, subq,
               CAST(sub AS VARCHAR) || ':' || array_to_string(subq, ',') AS sstr
             FROM (SELECT DISTINCT sub, subq FROM cs)),
      cb0 AS (SELECT sub, cid, subq AS cq FROM (
               SELECT sub, subq, CAST(ROW_NUMBER() OVER (PARTITION BY sub
                 ORDER BY md5(sstr), sstr) AS INT) - 1 AS cid FROM sk)
             WHERE cid < 16),
      ${lloydSql("cb0", "d1", "a1", "cb1")},
      ${lloydSql("cb1", "d2", "a2", "cb2")},
      d3 AS (SELECT v.vec_id, v.cell_id, v.sub, c.cid, ${l2Sql("v.subq", "c.cq")} AS d
             FROM cs v JOIN cb2 c USING (sub)),
      codes AS (SELECT vec_id, cell_id, sub, cid FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                 ORDER BY d, cid) AS rn FROM d3) WHERE rn = 1),
      qp0 AS (SELECT v.vec_id AS query_id, v.q, c.cell_id, c.cq,
                ${l2Sql("v.q", "c.cq")} AS d
              FROM e v, cl c WHERE v.is_q),
      qp AS (SELECT query_id, cell_id,
               list_transform(range(1, len(q)+1), i -> q[i] - cq[i]) AS q
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY d, cell_id) AS rn FROM qp0) WHERE rn <= 4),
      qs AS (SELECT query_id, cell_id, CAST(s.sub AS INT) AS sub,
               q[s.sub*8+1 : s.sub*8+8] AS subq
             FROM qp, UNNEST(range(0, 8)) AS s(sub)),
      lut AS (SELECT qs.query_id, qs.cell_id, qs.sub, c.cid,
                ${l2Sql("qs.subq", "c.cq")} AS d
              FROM qs JOIN cb2 c USING (sub)),
      adc AS (SELECT l.query_id, co.vec_id, CAST(SUM(l.d) AS BIGINT) AS pq_dist
              FROM codes co JOIN lut l ON l.cell_id = co.cell_id
                AND l.sub = co.sub AND l.cid = co.cid
              GROUP BY l.query_id, co.vec_id)
      SELECT query_id, vec_id, pq_dist, rn FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY pq_dist, vec_id) AS INT) AS rn FROM adc)
      WHERE rn <= 10 ORDER BY query_id, rn""",
    // the FULL PQ pipeline — seeds, both Lloyd iterations, encoding, ADC —
    // replayed in SQL; every step is integer arithmetic or the identical
    // double round, so the trained codebooks themselves are hash-gated
    "b12_pq_topk" -> s"""
      WITH $PqESql,
      $PqChainSql
      SELECT query_id, vec_id, pq_dist, rn FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY pq_dist, vec_id) AS INT) AS rn FROM adc)
      WHERE rn <= 10 ORDER BY query_id, rn""",
    "b12_pq_recall" -> s"""
      WITH $PqESql,
      $PqChainSql,
      ptop AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY pq_dist, vec_id) AS rn FROM adc) WHERE rn <= 10),
      $BruteSimsSql,
      btop AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS rn FROM sims) WHERE rn <= 10),
      hits AS (SELECT p.query_id, COUNT(*) AS n_hits
               FROM ptop p JOIN btop b
                 ON b.query_id = p.query_id AND b.vec_id = p.vec_id
               GROUP BY p.query_id),
      bc AS (SELECT query_id, COUNT(*) AS n_brute FROM btop GROUP BY query_id)
      SELECT bc.query_id, COALESCE(h.n_hits, 0) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / LEAST(10, bc.n_brute) AS recall_at_10
      FROM bc
      LEFT JOIN hits h USING (query_id)
      ORDER BY query_id""",
    // greedy MMR unrolled to MmrK rounds over the shared brute chain;
    // each round's argmax replays the (mmr DESC, vec_id) window exactly
    "b12_mmr" -> mmrOracleSql,
    // SQ8: per-dim [min,max] re-derived relationally; w8 and the BIGINT
    // squared distance replay the exact integer encode bit-for-bit
    "b12_sq_topk" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      $SqChainSql
      SELECT query_id, vec_id, sq_dist, rn FROM sqtop
      ORDER BY query_id, rn""",
    // the SQ acceptance gate: recall@10 of the SQ ranking vs brute
    // (shared sq chain + shared brute chain — one definition each)
    "b12_sq_recall" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      $SqChainSql,
      $BruteSimsSql,
      btop AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS rn FROM sims) WHERE rn <= 10),
      hits AS (SELECT s.query_id, COUNT(*) AS n_hits
               FROM sqtop s JOIN btop b
                 ON b.query_id = s.query_id AND b.vec_id = s.vec_id
               GROUP BY s.query_id),
      bc AS (SELECT query_id, COUNT(*) AS n_brute FROM btop GROUP BY query_id)
      SELECT bc.query_id, COALESCE(h.n_hits, 0) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / LEAST(10, bc.n_brute) AS recall_at_10
      FROM bc
      LEFT JOIN hits h USING (query_id)
      ORDER BY query_id""",
    // the τ cut over the shared brute chain — per-query neighbor count
    // is data-dependent, (query_id, vec_id) order total
    "b12_range_search" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      $BruteSimsSql
      SELECT query_id, vec_id, cosine FROM sims
      WHERE cosine >= 0.25 ORDER BY query_id, vec_id""",
    // majority label of the exact top-10 (shared brute chain); the
    // (n_votes DESC, label) vote window makes the prediction total
    "b12_knn_classify" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      $BruteSimsSql,
      top AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS rn FROM sims) WHERE rn <= 10),
      votes AS (SELECT t.query_id, emb.label, COUNT(*) AS n_votes
                FROM top t JOIN embeddings emb ON emb.vec_id = t.vec_id
                GROUP BY 1, 2),
      pred AS (SELECT query_id, label AS predicted, n_votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY n_votes DESC, label) AS rn FROM votes) WHERE rn = 1)
      SELECT p.query_id, q.label AS true_label, p.predicted, p.n_votes,
             CASE WHEN q.label = p.predicted THEN 1 ELSE 0 END AS correct
      FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
      ORDER BY query_id""",
    "b12_centroids" -> """
      WITH q AS (
        SELECT label,
          CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
        FROM embeddings)
      SELECT label, pos, COUNT(*) AS n, CAST(SUM(qv) AS BIGINT) AS sum_q,
        CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS centroid_milli
      FROM q GROUP BY label, pos ORDER BY label, pos""",
    "b12_cosine_pairs" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      p AS (SELECT a.vec_id AS a, b.vec_id AS b, a.q AS qa, b.q AS qb
            FROM e a JOIN e b ON b.vec_id = a.vec_id + 1)
      SELECT a, b,
        CAST(${dotSql("qa", "qb")} AS BIGINT) AS dot,
        CAST(${dotSql("qa", "qb")} AS DOUBLE)
          / (sqrt(CAST(${dotSql("qa", "qa")} AS DOUBLE)) * sqrt(CAST(${dotSql("qb", "qb")} AS DOUBLE))) AS cosine
      FROM p ORDER BY a""",
    "b12_hybrid_search" -> s"""
      WITH t AS (SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
           WHERE tok <> ''),
      dfr AS (SELECT tok, COUNT(*) AS df FROM t GROUP BY tok HAVING COUNT(*) <= 1000),
      tw AS (SELECT doc_id, t.tok, df FROM t JOIN dfr USING (tok)),
      q AS (SELECT doc_id AS query_id, tok, df FROM tw WHERE doc_id % 100 = 0),
      cand AS (SELECT q.query_id, tw.doc_id, CAST(SUM(1000000 // q.df) AS BIGINT) AS lex_score
             FROM q JOIN tw ON q.tok = tw.tok AND tw.doc_id <> q.query_id
             GROUP BY 1, 2),
      topl AS (SELECT query_id, doc_id, lex_score FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY lex_score DESC, doc_id) AS lrn FROM cand) WHERE lrn <= 20),
      e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      r AS (SELECT topl.query_id, topl.doc_id, topl.lex_score,
             CAST(${dotSql("qe.q", "de.q")} AS DOUBLE)
               / (sqrt(CAST(${dotSql("qe.q", "qe.q")} AS DOUBLE))
                  * sqrt(CAST(${dotSql("de.q", "de.q")} AS DOUBLE))) AS cosine
           FROM topl JOIN e qe ON qe.vec_id = topl.query_id
                     JOIN e de ON de.vec_id = topl.doc_id)
      SELECT query_id, doc_id, lex_score, cosine, rn FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, doc_id) AS INT) AS rn FROM r)
      WHERE rn <= 5 ORDER BY query_id, rn""",
    "b12_ann_topk" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      $BruteSimsSql
      SELECT query_id, vec_id, cosine, rn FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS INT) AS rn FROM sims)
      WHERE rn <= 10 ORDER BY query_id, rn""",
    "b12_ivf_recall" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      en AS (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      $IvfCandSql,
      itop AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS rn FROM cand) WHERE rn <= 10),
      $BruteSimsSql,
      btop AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS rn FROM sims) WHERE rn <= 10),
      hits AS (SELECT i.query_id, COUNT(*) AS n_hits
               FROM itop i JOIN btop b
                 ON b.query_id = i.query_id AND b.vec_id = i.vec_id
               GROUP BY i.query_id),
      bc AS (SELECT query_id, COUNT(*) AS n_brute FROM btop GROUP BY query_id)
      SELECT bc.query_id, COALESCE(h.n_hits, 0) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / LEAST(10, bc.n_brute) AS recall_at_10
      FROM bc
      LEFT JOIN hits h USING (query_id)
      ORDER BY query_id""",
    // the FULL IVF pipeline — portable md5-ordered cell seeds, corpus
    // assignment (sim DESC, cell_id tie-break, the max_by struct order),
    // nprobe cell probing, and the in-cell top-k — replayed in SQL. All
    // cosine math is the established exact double kernel (dot is integer;
    // sqrt/division are IEEE-identical across engines).
    "b12_ann_ivf" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      en AS (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      $IvfCandSql
      SELECT query_id, vec_id, cosine, rn FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS INT) AS rn FROM cand)
      WHERE rn <= 10 ORDER BY query_id, rn""",
    // the FULL layered-graph pipeline — derandomized level draw,
    // per-layer overlap-cell R-NN adjacency, entry set, unrolled beam
    // descent — replayed in SQL (the b16 unrolled-CTE device)
    "b12_hnsw_topk" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      en AS MATERIALIZED (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      $hnswChainSql
      SELECT query_id, vec_id, cosine, rn FROM htop ORDER BY query_id, rn""",
    // the index structure itself: every build stage replayed, the
    // per-layer adjacency unioned under its layer tag
    "b12_hnsw_adj" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      en AS MATERIALIZED (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      hlv AS MATERIALIZED (SELECT vec_id, q, norm, md5(CAST(vec_id AS VARCHAR)) AS h,
          LEAST(${HnswMaxLayers - 1},
            length(regexp_extract(md5(CAST(vec_id AS VARCHAR)), '^0*'))) AS lvl
        FROM en),
      ${((HnswMaxLayers - 1) to 0 by -1).map(hnswStageSql).mkString(",")}
      SELECT layer, src, dst FROM (
        ${(0 until HnswMaxLayers).map(m =>
          s"SELECT CAST($m AS INT) AS layer, src, dst FROM hn$m").mkString("\n        UNION ALL ")})
      ORDER BY layer, src, dst""",
    // the whole maintenance tick replayed: portable band gate over the
    // arriving docs, standing build, surviving-batch descent +
    // re-prune (the insert oracle's stages), then a SECOND descent —
    // the parameterized generator under tag "g" — over the EXTENDED
    // adjacency, so serve-after-maintenance itself hash-gates
    "e08_index_maintenance" -> s"""
      WITH ${graft.dedup.Dedup.portableCrossCtes("doc_id % 10 = 3", "doc_id % 10 <> 3")},
      dup AS (SELECT DISTINCT i.a AS vid FROM ins i
              JOIN szs na ON na.doc_id = i.a
              JOIN szs nb ON nb.doc_id = i.b
              WHERE i.inter * 2 >= na.n + nb.n - i.inter),
      eall AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      e AS (SELECT * FROM eall WHERE vec_id % 10 <> 3),
      en AS MATERIALIZED (SELECT vec_id, q,
          sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      bat AS MATERIALIZED (SELECT vec_id, q,
          sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm
        FROM eall WHERE vec_id % 10 = 3
          AND NOT EXISTS (SELECT 1 FROM dup d WHERE d.vid = vec_id)),
      ${hnswChainSqlWith(
        "SELECT vec_id AS query_id, q AS qq, norm AS qnorm FROM bat", k = HnswR)},
      anch AS MATERIALIZED (SELECT query_id, vec_id FROM htop),
      newout AS (SELECT CAST(0 AS INT) AS layer, query_id AS src, vec_id AS dst
                 FROM anch),
      aff AS (SELECT DISTINCT vec_id AS src FROM anch),
      lvall AS MATERIALIZED (SELECT vec_id, q, norm FROM en
                UNION ALL SELECT vec_id, q, norm FROM bat),
      icand AS (SELECT n.src, n.dst FROM hn0 n JOIN aff USING (src)
                UNION ALL
                SELECT vec_id AS src, query_id AS dst FROM anch),
      iscored AS (SELECT c.src, c.dst,
          CAST(${dotSql("a.q", "b.q")} AS DOUBLE) / (a.norm * b.norm) AS sim
        FROM icand c JOIN lvall a ON a.vec_id = c.src
        JOIN lvall b ON b.vec_id = c.dst),
      repr AS (SELECT CAST(0 AS INT) AS layer, src, dst FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
          FROM iscored) WHERE rn <= $HnswR),
      ${(0 until HnswMaxLayers).map(m =>
        if (m == 0) s"""ext0 AS MATERIALIZED (
          SELECT n.src, n.dst FROM hn0 n
          WHERE NOT EXISTS (SELECT 1 FROM aff a WHERE a.src = n.src)
          UNION ALL SELECT src, dst FROM repr
          UNION ALL SELECT src, dst FROM newout)"""
        else s"ext$m AS (SELECT src, dst FROM hn$m)").mkString(",")},
      -- r11: serve entry comes from the STANDING vector set (en), not the
      -- extended one — the entry set is an index property (hnswInsert
      -- defers hierarchy membership), which is what makes the upper-layer
      -- routes a materialize-once pure function of the standing index on
      -- the Spark side
      glv AS MATERIALIZED (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h,
          LEAST(${HnswMaxLayers - 1},
            length(regexp_extract(md5(CAST(vec_id AS VARCHAR)), '^0*'))) AS lvl
        FROM en),
      ${hnswDescentSql("g", "ext", "glv", "lvall",
        "SELECT vec_id AS query_id, q AS qq, norm AS qnorm FROM en WHERE vec_id % 100 = 0",
        k = 5)}
      SELECT query_id, vec_id, cosine, rn,
        CAST(vec_id % 10 = 3 AS INT) AS is_new
      FROM gtop ORDER BY query_id, rn""",
    // the full insert lifecycle replayed: old-corpus build (the chain
    // CTEs over e = the 90% split), batch descent to R anchors (hqs =
    // the batch, k = R), new out-edges, touched-anchor re-prune over
    // (old edges ∪ arrivals) scored on the UNION vector set, untouched
    // passthrough — hnswInsert's five stages verbatim
    "b12_hnsw_insert" -> s"""
      WITH eall AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      e AS (SELECT * FROM eall WHERE vec_id % 10 <> 3),
      en AS MATERIALIZED (SELECT vec_id, q,
          sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      bat AS MATERIALIZED (SELECT vec_id, q,
          sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm
        FROM eall WHERE vec_id % 10 = 3),
      ${hnswChainSqlWith(
        "SELECT vec_id AS query_id, q AS qq, norm AS qnorm FROM bat", k = HnswR)},
      anch AS MATERIALIZED (SELECT query_id, vec_id FROM htop),
      newout AS (SELECT CAST(0 AS INT) AS layer, query_id AS src, vec_id AS dst
                 FROM anch),
      aff AS (SELECT DISTINCT vec_id AS src FROM anch),
      lvall AS (SELECT vec_id, q, norm FROM en
                UNION ALL SELECT vec_id, q, norm FROM bat),
      cand AS (SELECT n.src, n.dst FROM hn0 n JOIN aff USING (src)
               UNION ALL
               SELECT vec_id AS src, query_id AS dst FROM anch),
      scored AS (SELECT c.src, c.dst,
          CAST(${dotSql("a.q", "b.q")} AS DOUBLE) / (a.norm * b.norm) AS sim
        FROM cand c JOIN lvall a ON a.vec_id = c.src
        JOIN lvall b ON b.vec_id = c.dst),
      repr AS (SELECT CAST(0 AS INT) AS layer, src, dst FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
          FROM scored) WHERE rn <= $HnswR),
      unt AS (${(1 until HnswMaxLayers).map(m =>
        s"SELECT CAST($m AS INT) AS layer, src, dst FROM hn$m")
        .mkString("\n              UNION ALL ")}
              UNION ALL
              SELECT CAST(0 AS INT) AS layer, n.src, n.dst FROM hn0 n
              WHERE NOT EXISTS (SELECT 1 FROM aff a WHERE a.src = n.src))
      SELECT layer, src, dst FROM (
        SELECT * FROM unt UNION ALL SELECT * FROM repr
        UNION ALL SELECT * FROM newout)
      ORDER BY layer, src, dst""",
    "b12_hnsw_recall" -> s"""
      WITH e AS (SELECT vec_id, ${Q.format("embedding")} AS q FROM embeddings),
      en AS MATERIALIZED (SELECT vec_id, q, sqrt(CAST(${dotSql("q", "q")} AS DOUBLE)) AS norm FROM e),
      $hnswChainSql,
      $BruteSimsSql,
      btop AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id) AS rn FROM sims) WHERE rn <= 10),
      hits AS (SELECT i.query_id, COUNT(*) AS n_hits
               FROM htop i JOIN btop b
                 ON b.query_id = i.query_id AND b.vec_id = i.vec_id
               GROUP BY i.query_id),
      bc AS (SELECT query_id, COUNT(*) AS n_brute FROM btop GROUP BY query_id)
      SELECT bc.query_id, COALESCE(h.n_hits, 0) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / LEAST(10, bc.n_brute) AS recall_at_10
      FROM bc
      LEFT JOIN hits h USING (query_id)
      ORDER BY query_id""",
  )
}
