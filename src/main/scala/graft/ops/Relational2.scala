package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second batch of relational surface: multiset set-ops, null-safe
  * equality, pivot (the inverse of the A14 melt), and deterministic
  * hash-based sampling / train-test splitting for training-data pipelines.
  */
object Relational2 {

  /** B8: EXCEPT ALL / INTERSECT ALL — multiset semantics. */
  def exceptAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = Tables.lineitem(s, dir).select($"l_orderkey")
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey".as("l_orderkey"))
    all.exceptAll(urgent).groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
      .orderBy($"l_orderkey")
  }

  def intersectAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_suppkey".as("key"))
    val sup = Tables.supplier(s, dir).select($"s_suppkey".as("key"))
    li.intersectAll(sup).orderBy($"key")
  }

  /** B2: null-safe equality `<=>` — join nullable melted values without
    * losing null==null matches. */
  def nullSafeEq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d1 = Tables.documents(s, dir).select($"doc_id",
      when($"doc_id" % 5 === 0, $"lang").as("l1"))
    val d2 = Tables.documents(s, dir).select($"doc_id".as("doc_id2"),
      when($"doc_id2" % 3 === 0, $"lang").as("l2"))
    d1.join(d2, $"doc_id" === $"doc_id2" && $"l1" <=> $"l2")
      .select($"doc_id", $"l1")
      .orderBy($"doc_id")
  }

  /** B2 (r7 cont.): referential-integrity audit — per FK relationship,
    * how many child rows point at a missing parent (the dq check every
    * warehouse load runs beside A18-A20's URI/CHECK/UNIQUE gates; the
    * TPC-H generator guarantees zeros here, which the oracle proves,
    * and a corrupted load would surface non-zero orphan rows and fail
    * the hash). One left-anti join per relationship (parent sides are
    * dimension-sized → broadcast; at 100 TB the fact-keyed anti-join
    * shuffles on the key like any join) + one combinable count; the
    * output axis is relationship-bounded. */
  private[ops] def auditRelation(rel: String, child: DataFrame,
                                 parent: DataFrame): DataFrame = {
    val orphans = child.join(parent, Seq("k"), "left_anti")
    child.agg(count(lit(1)).as("n_child_rows"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphan_rows"),
        countDistinct(col("k")).as("n_orphan_keys")))
      .select(lit(rel).as("relationship"), col("n_child_rows"),
        col("n_orphan_rows"), col("n_orphan_keys"))
  }

  def referentialAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def audit(rel: String, child: DataFrame, parent: DataFrame): DataFrame =
      auditRelation(rel, child, parent)
    val li = Tables.lineitem(s, dir)
    audit("lineitem.l_orderkey->orders.o_orderkey",
        li.select($"l_orderkey".as("k")),
        Tables.orders(s, dir).select($"o_orderkey".as("k")))
      .unionByName(audit("lineitem.l_partkey->part.p_partkey",
        li.select($"l_partkey".as("k")),
        Tables.part(s, dir).select($"p_partkey".as("k"))))
      .unionByName(audit("lineitem.l_suppkey->supplier.s_suppkey",
        li.select($"l_suppkey".as("k")),
        Tables.supplier(s, dir).select($"s_suppkey".as("k"))))
      .unionByName(audit("orders.o_custkey->customer.c_custkey",
        Tables.orders(s, dir).select($"o_custkey".as("k")),
        Tables.customer(s, dir).select($"c_custkey".as("k"))))
      .orderBy($"relationship")
  }

  /** B15 (r7 cont.): k-anonymity audit — before a dataset ships, every
    * quasi-identifier equivalence class must hold ≥ k individuals
    * (Sweeney 2002; the release gate privacy review actually runs,
    * beside the PII redaction of b13). Quasi-identifiers here:
    * (nation, market segment); gate k=10 flags 35 of 125 classes at
    * sf0.01 — the robust mixed regime. Output: one row per equivalence class
    * with its size and flag, plus exact at-risk totals carried on
    * every row (class axis is domain-bounded; the at-risk share is an
    * exact ppb floor division). Row-scale work is ONE combinable
    * count; suppression/generalization policy stays downstream. */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val classes = Tables.customer(s, dir)
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("class_size"))
      .withColumn("is_k_anonymous", ($"class_size" >= k).cast("int"))
    val risk = classes.agg(
      sum($"class_size").as("n_rows"),
      sum(when($"is_k_anonymous" === 0, $"class_size").otherwise(0L))
        .as("n_rows_at_risk"))
    classes.crossJoin(broadcast(risk))
      .select($"c_nationkey", $"c_mktsegment", $"class_size",
        $"is_k_anonymous", $"n_rows_at_risk",
        // DECIMAL(38) product (r9, Relational.psiDriftQuery note)
        expr("(CAST(n_rows_at_risk AS DECIMAL(38,0)) * 1000000000) div n_rows")
          .as("risk_share_ppb"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  /** A14 inverse: pivot the EAV store back to wide — groupBy + pivot with
    * fixed column values (never dynamic at scale: fixed pivot values keep
    * it one pass, no extra distinct-collect job). */
  def pivotWide(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eav = HarvestQueries.valid(s, dir)
    val melted = graft.harvest.Transform.meltAll(eav)
    melted.groupBy($"concept")
      .pivot("field_term", Seq("skos:prefLabel", "skos:altLabel", "skos:definition"))
      .agg(min($"original_value"))
      .withColumnsRenamed(Map(
        "skos:prefLabel" -> "prefLabel", "skos:altLabel" -> "altLabel",
        "skos:definition" -> "definition"))
      .orderBy($"concept")
  }

  /** Knuth multiplicative hash bucket in [0, 100) — the cross-engine
    * determinism contract shared by every B15 sampling operator (and
    * mirrored verbatim in their oracles): exact 64-bit arithmetic, no
    * engine RNG. */
  private val KnuthMult = 2654435761L
  private def bucket100(id: org.apache.spark.sql.Column) =
    pmod(id * KnuthMult, lit(100))

  /** B15: deterministic hash-mod sampling — the reproducible, cluster-safe
    * alternative to `df.sample` for training-data pipelines (same rows
    * selected on every engine/run; Knuth multiplicative hash in exact
    * 64-bit integer arithmetic). */
  def hashSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("bucket", bucket100($"doc_id"))
      .filter($"bucket" < 10)
      .select($"doc_id", $"bucket", $"lang")
      .orderBy($"doc_id")
  }

  /** B15: deterministic train/valid/test split by the same mechanism. */
  def trainTestSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("bucket", bucket100($"doc_id"))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "valid").otherwise("test"))
      .groupBy($"split").agg(count(lit(1)).as("n_docs"))
      .orderBy($"split")
  }

  /** B15 (r7): k-fold cross-validation plan — the rotation every
    * hyperparameter sweep runs: fold i's validation set is the hash
    * residue class i, its train set everyone else, so the k train/val
    * pairs tile the corpus with no leakage and no duplication.
    * Assignment is a property of the row's own key — stable under
    * corpus growth and engine changes, unlike `randomSplit` — via the
    * seeded md5-prefix contract, NOT the Knuth multiplier: 2654435761
    * ≡ 1 (mod 5), so the multiplicative bucket collapses to a bare
    * `doc_id % 5` residue for this k and any id stride correlated with
    * 5 would skew the folds; the md5 device has no such resonance for
    * ANY k. The report is
    * per-fold doc and char budgets; train-side numbers derive from the
    * one-row corpus total by subtraction (never a k× re-scan of the
    * corpus). One combinable groupBy + a 1-row broadcast — the k-fold
    * PLAN at any scale; materializing fold f is a scan-side
    * `fold != f` filter on the same expression. */
  def kFold(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val folds = Tables.documents(s, dir)
      .select(pmod(conv(substring(
          md5(concat(lit("kf:"), $"doc_id".cast("string"))), 1, 8), 16, 10)
          .cast("long"), lit(k.toLong)).as("fold"), $"n_chars")
      .groupBy($"fold")
      .agg(count(lit(1)).as("n_val_docs"), sum($"n_chars").as("val_chars"))
      .transform(Cut.eager) // k rows; the total must not re-scan the corpus
    val tot = folds.agg(sum($"n_val_docs").as("total_docs"),
      sum($"val_chars").as("total_chars"))
    folds.crossJoin(broadcast(tot))
      .select($"fold", $"n_val_docs",
        ($"total_docs" - $"n_val_docs").as("n_train_docs"),
        $"val_chars", ($"total_chars" - $"val_chars").as("train_chars"))
      .orderBy($"fold")
  }

  /** B15: leakage-safe GROUP split — every document of a group (here: its
    * `source`) lands in the same train/valid/test fold, so near-identical
    * documents from one origin can never straddle the train/test boundary
    * (the evaluation-leakage failure a row-wise split invites; the
    * group-k-fold idea from standard ML practice, applied to corpus
    * provenance). The fold comes from the group key alone — the
    * engine-portable md5-prefix integer mod 100 — so it is stable under
    * corpus growth: adding documents never moves an existing source.
    * Scan-side projection; no shuffle before the output sort. */
  def groupSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gb = pmod(conv(substring(md5($"source"), 1, 8), 16, 10).cast("long"), lit(100L))
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        when(gb < 80, "train").when(gb < 90, "valid").otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** B3: correlated scalar subqueries (TPC-H Q17 shape) — lineitems whose
    * quantity is below 20% of their part's average. Catalyst decorrelates
    * into an aggregate + join, so the plan stays shuffle-bounded. All
    * arithmetic is exact-integer (quantity in hundredths ×5×count vs sum)
    * so the threshold comparison is bit-identical across engines. */
  def subqueryCorr(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_sq")
    s.sql("""
      SELECT l_orderkey, l_linenumber, l_partkey
      FROM li_sq l1
      WHERE CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) * 5 *
              (SELECT COUNT(*) FROM li_sq l2 WHERE l2.l_partkey = l1.l_partkey)
            < (SELECT SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))
               FROM li_sq l2 WHERE l2.l_partkey = l1.l_partkey)
      ORDER BY l_orderkey, l_linenumber, l_partkey
    """)
  }

  /** B6: RANGE frame over event time — trailing-30-day order count and
    * spend per customer. The frame is value-based (epoch seconds), so tied
    * timestamps are peers — semantics a ROWS frame cannot express. */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NTZ → LTZ → epoch seconds: exact with the session-fixed UTC zone,
    // and identical to the oracle's naive epoch()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey")
      .orderBy($"o_orderdate".cast("timestamp").cast("long"))
      .rangeBetween(-30L * 86400, 0)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        count(lit(1)).over(w).as("n_last30d"),
        sum($"o_totalprice".cast("decimal(12,2)").cast("decimal(28,2)")).over(w)
          .cast("double").as("spend_last30d"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** B4: ordered string aggregation (listagg/string_agg) — deterministic
    * via an explicit sort of the collected multiset before joining. */
  def stringAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(
        concat_ws("|", array_sort(collect_list($"n_name"))).as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy($"r_name")
  }

  /** B15: stratified deterministic sampling — per-language keep rates to
    * rebalance the corpus mix (downsample the dominant language, keep the
    * rest), on the same engine-portable hash-mod mechanism as
    * [[hashSample]]: the SAME rows are kept on every engine, every run,
    * any partitioning. One scan-side filter — no shuffle, no RNG state. */
  /** B15 (r8): deterministic weighted (probability-proportional-to-size)
    * sampling — SYSTEMATIC PPS, the survey-sampling classic and the
    * production way to sample training documents proportional to a
    * quality/length score: order items by the portable md5 hash
    * (= a deterministic random permutation both engines replay), lay
    * their weights end to end on the cumulative axis [0, W), and select
    * the items whose interval contains one of the m evenly spaced
    * points pᵢ = (2i+1)·W / (2m). Inclusion probability is EXACTLY
    * min(1, m·w/W) per item, heavy items (w > W/m) surface their
    * multiplicity in `n_picks` — and unlike the exponential-key
    * (Efraimidis–Spirakis) formulation, which needs `ln` and died on
    * cross-engine ulp drift, every quantity here is an exact integer:
    * the point-in-interval count has the closed form "odd o with
    * 2m·lo ≤ o·W < 2m·hi", two floor divisions per item, no joins.
    * The cumulative axis is the distributed two-level prefix
    * ([[Prefix.prefixSum2L]], the shared device since r9); the 2m·lo
    * products run in DECIMAL(38,0) (r9 — they reach 2m·corpus-chars at
    * 100 TB, past int64). */
  def ppsSampleQuery(s: SparkSession, dir: String, m: Int = 200): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val items = Tables.documents(s, dir)
      .select($"doc_id", $"source", greatest($"n_chars", lit(1L)).as("w"),
        graft.functions.Md5Prefix($"doc_id".cast("string"), 14).as("h"))
      .withColumn("bin", expr("h div 281474976710656")) // 2^48: 256 md5 bins
      .transform(Cut.eager) // feeds the prefix, the carry, and the total
    val tot = items.agg(sum($"w").as("tw"))
    // r9: the shared two-level device (Prefix.prefixSum2L); lo is the
    // EXCLUSIVE prefix = run_w − w (identical to the old c0 + r0 where
    // r0 was the unboundedPreceding..−1 window)
    Prefix.prefixSum2L(items, Seq.empty, "bin", Seq($"h", $"doc_id"), Seq("w"))
      .crossJoin(broadcast(tot)) // 1-row total
      .withColumn("lo", $"run_w" - $"w")
      // odd o in [oLo, oHi] with o·W in [2m·lo, 2m·(lo+w)): exact count
      // DECIMAL(38) products (r9, Relational.psiDriftQuery note): lo is
      // the corpus-scale cumulative weight, so 2m·lo crosses int64 at
      // 100 TB char counts
      .withColumn("o_lo",
        expr(s"(CAST(2 AS DECIMAL(38,0)) * $m * lo + tw - 1) div tw"))
      .withColumn("o_hi",
        expr(s"(CAST(2 AS DECIMAL(38,0)) * $m * (lo + w) + tw - 1) div tw - 1"))
      .withColumn("a", greatest($"o_lo", lit(1L)))
      .withColumn("b", least($"o_hi", lit(2L * m - 1)))
      .withColumn("n_picks",
        when($"b" >= $"a", expr("(b + 1) div 2 - a div 2")).otherwise(lit(0L)))
      .filter($"n_picks" >= 1)
      .select($"doc_id", $"source", $"w", $"lo", $"n_picks")
      .orderBy($"doc_id")
  }

  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keepPct = when($"lang" === "en", 10)
      .when($"lang" === "zh", 50)
      .otherwise(80)
    Tables.documents(s, dir)
      .withColumn("bucket", bucket100($"doc_id"))
      .filter($"bucket" < keepPct)
      .select($"doc_id", $"lang", $"bucket")
      .orderBy($"doc_id")
  }

  /** B15: sequence packing — assign documents to fixed-capacity token
    * packs (the step before concatenating corpus text into training
    * sequences): sequential fill in (shard, doc_id) order, a doc landing
    * in the pack where its cumulative token count ends. Packing is
    * per-SHARD (the unit a training reader consumes), so the running sum
    * is a partitioned window — never a global single-partition cumsum.
    * Deterministic and window-expressible on any engine. */
  def sequencePack(s: SparkSession, dir: String, capacity: Int = 256,
                   numShards: Int = 8): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, dir)
      .select($"doc_id", pmod($"doc_id", lit(numShards)).cast("int").as("shard"),
        size(split($"text", " ")).as("ws_tokens"))
      .withColumn("cum_tokens", sum($"ws_tokens").over(w))
      .withColumn("pack_id",
        ceil($"cum_tokens".cast("double") / capacity).cast("int"))
      .orderBy($"shard", $"doc_id")
  }

  private def sequencePackQuery(s: SparkSession, dir: String): DataFrame =
    sequencePack(s, dir)

  /** B15: deterministic global shuffle + shard assignment — the step
    * before sharding a training corpus: an engine-independent pseudo-random
    * order (md5 of seed:key — identical hex on every engine, unlike
    * xxhash64/`rand`) and a shard id derived from the same key. Positions
    * are per-shard (`row_number` partitioned by shard), NEVER a global
    * rank — a global row_number window would serialize the corpus through
    * one partition; training readers consume shards independently in
    * (sort_key, doc_id) order, so a global position carries no
    * information a (shard_id, shard_pos) pair doesn't.
    *
    * The shard id parses the first 8 md5 hex digits as an integer
    * (`conv(_, 16, 10)` — DuckDB: `CAST('0x'||… AS BIGINT)`, both
    * engine-portable) and takes it mod numShards: 2^32 uniform states,
    * so residues are uniform for any practical shard count. (The
    * previous `ascii(c1)*31+ascii(c2)` folding had only 256 reachable
    * combinations with visibly non-uniform residues — balance is
    * asserted in Relational2Spec.) */
  def globalShuffle(s: SparkSession, dir: String, seed: Int = 42,
                    numShards: Int = 8): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard_id").orderBy($"sort_key", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id",
        md5(concat(lit(s"$seed:"), $"doc_id".cast("string"))).as("sort_key"))
      .withColumn("shard_id",
        pmod(conv(substring($"sort_key", 1, 8), 16, 10).cast("long"),
          lit(numShards.toLong)).cast("int"))
      .withColumn("shard_pos", row_number().over(w))
      .orderBy($"sort_key", $"doc_id")
  }

  private def globalShuffleQuery(s: SparkSession, dir: String): DataFrame =
    globalShuffle(s, dir)

  /** B15: weighted corpus mixing — materialize a target mixture by
    * deterministically up/down-sampling each source to its weight (the
    * Pile/Dolma data-mixing step: weight 2.0 ≈ two epochs of a source,
    * 0.5 ≈ keep half). Each doc gets `floor(w)` copies plus one more iff
    * its portable md5-derived uniform (first 8 hex digits / 2^32 — the
    * [[globalShuffle]] idiom) falls below frac(w): E[copies] = w exactly,
    * per-doc deterministic, no RNG, engine-portable. Copies carry a
    * copy_idx so a downstream [[globalShuffle]] spreads epochs apart.
    * Scan-side only — the explode is the honest output-size cost and the
    * filter prunes dropped docs before it; no shuffle at any size. */
  def weightedMix(docs: DataFrame, weight: Column): DataFrame = {
    val d = docs
      .withColumn("weight", weight)
      .withColumn("u",
        conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long").cast("double") / lit(4294967296.0))
      .withColumn("n_copies",
        (floor(col("weight")) +
          when(col("u") < col("weight") - floor(col("weight")), 1L).otherwise(0L)).cast("int"))
      .filter(col("n_copies") >= 1) // sequence(1,0) would count DOWN, not empty
    d.select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("n_copies"))).as("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  /** Driver query: weights from a deterministic per-source rule (ascii of
    * the source's first char → {0.5, 1.0, 1.5, 2.0}) so both engines
    * compute the identical mixture without a side-channel weights file;
    * callers pass any weight expression (typically a broadcast-joined
    * weights table). */
  private def weightedMixQuery(s: SparkSession, dir: String): DataFrame =
    weightedMix(Tables.documents(s, dir),
      expr("(pmod(ascii(substring(source, 1, 1)), 4) + 1) * 0.5"))

  /** B15 (r7): temperature-scaled source mixing — the mT5/PaLM mixture
    * planner: sampling rate ∝ n_i^α with α = 1/2, flattening the natural
    * distribution so head sources stop drowning tail sources without
    * discarding the head (the standard multilingual/multi-domain
    * balancing move). Per source: natural share, temperature share, and
    * the planned document count for a fixed sampling budget.
    *
    * Exactness: n^(1/2) is served as the exact integer
    * isqrt(n·10⁸) = ⌊10⁴·√n⌋ — the argument is an exactly-representable
    * double below 2⁵², where a correctly-rounded IEEE sqrt (JVM hardware
    * instruction and DuckDB's C sqrt alike) cannot cross an integer
    * boundary, so ⌊√·⌋ is the true integer square root in BOTH engines;
    * shares are integer floor-division ppb. One map-side-combinable
    * count + a broadcast 1-row total — nothing here scales with corpus
    * size beyond the count scan. */
  def temperatureMix(s: SparkSession, dir: String, budget: Long = 100000L): DataFrame =
    temperatureMixOf(Tables.documents(s, dir), budget)

  /** Per-source (n_docs, sk = isqrt(n·10⁸), n_total, s_total) shares
    * frame — the temperature-planning core shared by [[temperatureMixOf]]
    * and the e04 training-batches flagship so the two cannot drift. */
  private[ops] def temperatureShares(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bySrc = docs
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("sk", expr(
        "CAST(floor(sqrt(CAST(n_docs * 100000000 AS DOUBLE))) AS BIGINT)"))
    val tot = broadcast(bySrc.agg(
      sum($"n_docs").as("n_total"), sum($"sk").as("s_total")))
    bySrc.crossJoin(tot)
  }

  /** [[temperatureMix]] over any frame with a `source` column. */
  def temperatureMixOf(docs: DataFrame, budget: Long = 100000L): DataFrame = {
    import docs.sparkSession.implicits._
    temperatureShares(docs)
      .select($"source", $"n_docs",
        // DECIMAL(38) products (r9, Relational.psiDriftQuery note); sk
        // is already a scaled (√-temperature) count, one power bigger
        expr("(CAST(n_docs AS DECIMAL(38,0)) * 1000000000) div n_total")
          .as("nat_share_ppb"),
        expr("(CAST(sk AS DECIMAL(38,0)) * 1000000000) div s_total")
          .as("temp_share_ppb"),
        expr(s"(CAST(sk AS DECIMAL(38,0)) * ${budget}L) div s_total")
          .as("planned_docs"))
      .orderBy($"source")
  }

  /** B15: per-source document cap — domain balancing, the curation step
    * that stops one crawl domain from dominating the mixture: keep at most
    * `cap` documents per source, selected in the engine-portable
    * md5("cap:" + doc_id) order. Selection is a property of the doc's own
    * key — re-running after corpus growth keeps every previously-selected
    * doc whose rank stays under the cap (no reshuffling of survivors on
    * unrelated inserts, unlike a random sample). Per-source window: the
    * partition count is the domain count, so the window never serializes
    * the corpus; a pathological single mega-source degrades to one
    * partition sorting its own docs — the same bounded shape as
    * b07_topk_per_group. */
  def domainCap(s: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"sel_key", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        md5(concat(lit("cap:"), $"doc_id".cast("string"))).as("sel_key"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= cap)
      .select($"doc_id", $"source", $"rn")
      .orderBy($"doc_id")
  }

  /** B15 (r7): length-bucketed batch planning — the dynamic-batching
    * step every training loop runs (batch docs of similar length so
    * per-batch padding-to-max wastes the fewest tokens; cf. the bucketed
    * batching in fairseq/T5). Docs are bucketed by exact GLOBAL token-
    * count quartile, then batched in engine-portable md5 order within
    * (bucket, shard); the report prices the plan: per batch, docs,
    * max length, and padded (wasted) tokens.
    *
    * Scale shape: corpus-scale work is ONE combinable (length → count)
    * aggregate; the quartile boundaries come from a cumulative window
    * over the DISTINCT-length table (bounded domain — the
    * b04_weighted_median device, never a corpus-wide rank) and ride a
    * one-row broadcast; batch assignment windows are per-(bucket,shard)
    * — the globalShuffle sharding idiom, so no global sort exists and
    * readers consume shards independently. All counts exact integers. */
  def lengthBuckets(s: SparkSession, dir: String, numShards: Int = 2,
      batchSize: Int = 16): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
    val lc = d.groupBy($"n_tokens").agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy($"n_tokens")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // n_total = Σcnt comes from the (small) distinct-length table itself —
    // no second corpus scan
    val bounds = lc.withColumn("cum", sum($"cnt").over(wCum))
      .crossJoin(broadcast(lc.agg(sum($"cnt").as("n_total"))))
      .agg(
        min(when($"cum" * 4 >= $"n_total", $"n_tokens")).as("q1"),
        min(when($"cum" * 2 >= $"n_total", $"n_tokens")).as("q2"),
        min(when($"cum" * 4 >= $"n_total" * 3, $"n_tokens")).as("q3"))
    val keyed = d.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when($"n_tokens" <= $"q1", 0).when($"n_tokens" <= $"q2", 1)
          .when($"n_tokens" <= $"q3", 2).otherwise(3))
      .withColumn("bkey", md5(concat(lit("lb:"), $"doc_id".cast("string"))))
      .withColumn("shard",
        pmod(conv(substring($"bkey", 1, 8), 16, 10).cast("long"),
          lit(numShards.toLong)).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"bucket", $"shard").orderBy($"bkey", $"doc_id")
    keyed.withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr(s"(rn - 1) div $batchSize").cast("int"))
      .groupBy($"bucket", $"shard", $"batch_id")
      .agg(count(lit(1)).as("n_docs"), max($"n_tokens").as("max_tokens"),
        sum($"n_tokens").as("sum_tokens"))
      .withColumn("padded_tokens", $"n_docs" * $"max_tokens" - $"sum_tokens")
      .orderBy($"bucket", $"shard", $"batch_id")
  }

  private def lengthBucketsQuery(s: SparkSession, dir: String): DataFrame =
    lengthBuckets(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b15_length_buckets" -> (lengthBucketsQuery _),
    "b15_domain_cap" -> ((s: SparkSession, dir: String) => domainCap(s, dir)),
    "b15_stratified_sample" -> (stratifiedSample _),
    "b15_pps_sample" -> ((s: SparkSession, dir: String) => ppsSampleQuery(s, dir)),
    "b15_sequence_pack" -> (sequencePackQuery _),
    "b15_global_shuffle" -> (globalShuffleQuery _),
    "b15_weighted_mix" -> (weightedMixQuery _),
    "b15_temperature_mix" -> ((s: SparkSession, dir: String) => temperatureMix(s, dir)),
    "b15_group_split" -> (groupSplit _),
    "b03_subquery_corr" -> (subqueryCorr _),
    "b06_range_frame" -> (rangeFrame _),
    "b04_string_agg" -> (stringAgg _),
    "b08_except_all" -> (exceptAll _),
    "b08_intersect_all" -> (intersectAll _),
    "b02_nullsafe_eq" -> (nullSafeEq _),
    "b02_referential_audit" -> (referentialAudit _),
    "b15_k_anonymity" -> ((s: SparkSession, dir: String) => kAnonymity(s, dir)),
    "a14_pivot_wide" -> (pivotWide _),
    "b15_hash_sample" -> (hashSample _),
    "b15_train_test_split" -> (trainTestSplit _),
    "b15_kfold" -> ((s: SparkSession, dir: String) => kFold(s, dir)),
  )

  val oracles: Map[String, String] = Map(
    "b15_length_buckets" -> """
      WITH d AS (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      lc AS (SELECT n_tokens, COUNT(*) AS cnt FROM d GROUP BY 1),
      cum AS (SELECT n_tokens,
                SUM(cnt) OVER (ORDER BY n_tokens
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM lc),
      tot AS (SELECT COUNT(*) AS n_total FROM d),
      b AS (SELECT MIN(CASE WHEN cum * 4 >= n_total THEN n_tokens END) AS q1,
                   MIN(CASE WHEN cum * 2 >= n_total THEN n_tokens END) AS q2,
                   MIN(CASE WHEN cum * 4 >= n_total * 3 THEN n_tokens END) AS q3
            FROM cum, tot),
      k AS (SELECT doc_id, n_tokens,
              CASE WHEN n_tokens <= q1 THEN 0 WHEN n_tokens <= q2 THEN 1
                   WHEN n_tokens <= q3 THEN 2 ELSE 3 END AS bucket,
              md5('lb:' || CAST(doc_id AS VARCHAR)) AS bkey
            FROM d, b),
      sh AS (SELECT *,
               CAST(CAST(('0x' || substr(bkey, 1, 8)) AS BIGINT) % 2 AS INT) AS shard
             FROM k),
      r AS (SELECT *,
              ROW_NUMBER() OVER (PARTITION BY bucket, shard ORDER BY bkey, doc_id) AS rn
            FROM sh)
      SELECT bucket, shard, CAST((rn - 1) // 16 AS INT) AS batch_id,
             COUNT(*) AS n_docs, MAX(n_tokens) AS max_tokens,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padded_tokens
      FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "b15_domain_cap" -> """
      SELECT doc_id, source, rn FROM (
        SELECT doc_id, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rn
        FROM documents)
      WHERE rn <= 15 ORDER BY doc_id""",
    "b15_sequence_pack" -> """
      WITH t AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
          CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens
        FROM documents)
      SELECT doc_id, shard, ws_tokens,
        CAST(SUM(ws_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        CAST(ceil(CAST(SUM(ws_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 256) AS INT) AS pack_id
      FROM t ORDER BY shard, doc_id""",
    // systematic PPS on the md5-permuted cumulative weight axis: the
    // simple global prefix here equals the engine's two-level bin+carry
    // decomposition; point-in-interval counts via the exact odd-o form
    "b15_pps_sample" -> """
      WITH d AS (SELECT doc_id, source, GREATEST(n_chars, 1) AS w,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) AS h
        FROM documents),
      cum AS (SELECT doc_id, source, w,
          COALESCE(CAST(SUM(w) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
            CAST(0 AS BIGINT)) AS lo
        FROM d),
      t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d),
      pick AS (SELECT doc_id, source, w, lo,
          GREATEST((400 * lo + tw - 1) // tw, CAST(1 AS BIGINT)) AS a,
          LEAST((400 * (lo + w) + tw - 1) // tw - 1, CAST(399 AS BIGINT)) AS b
        FROM cum CROSS JOIN t)
      SELECT doc_id, source, w, lo,
        (b + 1) // 2 - a // 2 AS n_picks
      FROM pick
      WHERE b >= a AND (b + 1) // 2 - a // 2 >= 1
      ORDER BY doc_id""",
    "b15_stratified_sample" -> """
      SELECT doc_id, lang, doc_id * 2654435761 % 100 AS bucket
      FROM documents
      WHERE doc_id * 2654435761 % 100 <
        CASE WHEN lang = 'en' THEN 10 WHEN lang = 'zh' THEN 50 ELSE 80 END
      ORDER BY doc_id""",
    "b15_global_shuffle" -> """
      WITH t AS (
        SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS sort_key
        FROM documents),
      sh AS (
        SELECT doc_id, sort_key,
          CAST(CAST(('0x' || substr(sort_key, 1, 8)) AS BIGINT) % 8 AS INT) AS shard_id
        FROM t)
      SELECT doc_id, sort_key, shard_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY sort_key, doc_id) AS INT) AS shard_pos
      FROM sh ORDER BY sort_key, doc_id""",
    "b15_weighted_mix" -> """
      WITH d AS (
        SELECT doc_id, source,
          (ascii(substring(source, 1, 1)) % 4 + 1) * 0.5 AS weight,
          CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 AS u
        FROM documents),
      c AS (
        SELECT doc_id, source,
          CAST(floor(weight) + CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END AS INT)
            AS n_copies
        FROM d)
      SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_idx
      FROM c WHERE n_copies >= 1
      ORDER BY doc_id, copy_idx""",
    "b15_temperature_mix" -> """
      WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY source),
      s AS (SELECT source, n_docs,
              CAST(floor(sqrt(CAST(n_docs * 100000000 AS DOUBLE))) AS BIGINT) AS sk
            FROM c),
      t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
                   CAST(SUM(sk) AS BIGINT) AS s_total FROM s)
      SELECT source, n_docs,
             (1000000000 * n_docs) // n_total AS nat_share_ppb,
             (1000000000 * sk) // s_total AS temp_share_ppb,
             (100000 * sk) // s_total AS planned_docs
      FROM s CROSS JOIN t ORDER BY source""",
    "b03_subquery_corr" -> """
      SELECT l_orderkey, l_linenumber, l_partkey
      FROM lineitem l1
      WHERE CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) * 5 *
              (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
            < (SELECT SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))
               FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      ORDER BY l_orderkey, l_linenumber, l_partkey""",
    "b06_range_frame" -> """
      SELECT o_custkey, o_orderkey, o_orderdate,
        COUNT(*) OVER w AS n_last30d,
        CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,2))) OVER w AS DOUBLE) AS spend_last30d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(CAST(o_orderdate AS TIMESTAMP))
                   RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""",
    "b04_string_agg" -> """
      SELECT r_name, string_agg(n_name, '|' ORDER BY n_name) AS nations,
             COUNT(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""",
    "a14_pivot_wide" -> s"""${HarvestQueries.FIX}
      SELECT concept,
        MIN(CASE WHEN field_term = 'skos:prefLabel' THEN original_value END) AS prefLabel,
        MIN(CASE WHEN field_term = 'skos:altLabel' THEN original_value END) AS altLabel,
        MIN(CASE WHEN field_term = 'skos:definition' THEN original_value END) AS definition
      FROM eav GROUP BY concept ORDER BY concept""",
    "b08_except_all" -> """
      SELECT l_orderkey, COUNT(*) AS n FROM (
        SELECT l_orderkey FROM lineitem
        EXCEPT ALL
        SELECT o_orderkey AS l_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      ) GROUP BY l_orderkey ORDER BY l_orderkey""",
    "b08_intersect_all" -> """
      SELECT key FROM (
        SELECT l_suppkey AS key FROM lineitem
        INTERSECT ALL
        SELECT s_suppkey AS key FROM supplier
      ) ORDER BY key""",
    // exact class sizes on the bounded QI axis; at-risk totals replayed
    // with the identical ppb floor division (operands non-negative)
    "b15_k_anonymity" -> """
      WITH c AS (SELECT c_nationkey, c_mktsegment,
          CAST(COUNT(*) AS BIGINT) AS class_size
        FROM customer GROUP BY 1, 2),
      f AS (SELECT *, CASE WHEN class_size >= 10 THEN 1 ELSE 0 END AS is_k_anonymous
            FROM c),
      r AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN is_k_anonymous = 0 THEN class_size ELSE 0 END) AS BIGINT)
                AS n_rows_at_risk
            FROM f)
      SELECT f.c_nationkey, f.c_mktsegment, f.class_size,
        CAST(f.is_k_anonymous AS INT) AS is_k_anonymous,
        r.n_rows_at_risk,
        (r.n_rows_at_risk * 1000000000) // r.n_rows AS risk_share_ppb
      FROM f CROSS JOIN r
      ORDER BY c_nationkey, c_mktsegment""",
    // NOT-IN replay per relationship; TPC-H guarantees zero orphans —
    // a corrupted load would surface counts and hash-mismatch
    "b02_referential_audit" -> """
      WITH a AS (
        SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS relationship,
          (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
          (SELECT COUNT(*) FROM lineitem
           WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphan_rows,
          (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
           WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphan_keys
        UNION ALL
        SELECT 'lineitem.l_partkey->part.p_partkey',
          (SELECT COUNT(*) FROM lineitem),
          (SELECT COUNT(*) FROM lineitem
           WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
          (SELECT COUNT(DISTINCT l_partkey) FROM lineitem
           WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
          (SELECT COUNT(*) FROM lineitem),
          (SELECT COUNT(*) FROM lineitem
           WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
          (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem
           WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        UNION ALL
        SELECT 'orders.o_custkey->customer.c_custkey',
          (SELECT COUNT(*) FROM orders),
          (SELECT COUNT(*) FROM orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
          (SELECT COUNT(DISTINCT o_custkey) FROM orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
      SELECT relationship, CAST(n_child_rows AS BIGINT) AS n_child_rows,
        CAST(n_orphan_rows AS BIGINT) AS n_orphan_rows,
        CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys
      FROM a ORDER BY relationship""",
    "b02_nullsafe_eq" -> """
      SELECT d1.doc_id, d1.l1 FROM
        (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN lang END AS l1 FROM documents) d1
      JOIN
        (SELECT doc_id AS doc_id2, CASE WHEN doc_id % 3 = 0 THEN lang END AS l2 FROM documents) d2
      ON d1.doc_id = d2.doc_id2 AND d1.l1 IS NOT DISTINCT FROM d2.l2
      ORDER BY d1.doc_id""",
    "b15_hash_sample" -> """
      SELECT doc_id, doc_id * 2654435761 % 100 AS bucket, lang
      FROM documents WHERE doc_id * 2654435761 % 100 < 10
      ORDER BY doc_id""",
    "b15_train_test_split" -> """
      SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split,
             COUNT(*) AS n_docs
      FROM (SELECT doc_id * 2654435761 % 100 AS b FROM documents)
      GROUP BY 1 ORDER BY 1""",
    "b15_group_split" -> """
      SELECT doc_id, source,
        CASE WHEN gb < 80 THEN 'train' WHEN gb < 90 THEN 'valid' ELSE 'test' END AS split
      FROM (SELECT doc_id, source,
              CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT) % 100 AS gb
            FROM documents)
      ORDER BY doc_id""",
    // train-side budgets by subtraction from the one-row total, like the
    // Spark plan; SUMs cast to BIGINT (HUGEINT→pandas float64 otherwise)
    "b15_kfold" -> """
      WITH f AS (
        SELECT CAST(('0x' || substr(md5('kf:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold,
          CAST(COUNT(*) AS BIGINT) AS n_val_docs,
          CAST(SUM(n_chars) AS BIGINT) AS val_chars
        FROM documents GROUP BY 1),
      t AS (SELECT CAST(SUM(n_val_docs) AS BIGINT) AS total_docs,
              CAST(SUM(val_chars) AS BIGINT) AS total_chars FROM f)
      SELECT fold, n_val_docs, total_docs - n_val_docs AS n_train_docs,
        val_chars, total_chars - val_chars AS train_chars
      FROM f CROSS JOIN t ORDER BY fold""",
  )
}
