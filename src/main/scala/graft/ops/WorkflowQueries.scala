package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytics over the translation-workflow satellite tables
  * (`translations`/`appeals`, /root/reference/harvest.py:215-249 +
  * README.md:60-106). The reference bootstraps these tables but never
  * populates them — its downstream consumers do — so the queries run on
  * deterministic fixtures derived from `documents`, mirrored exactly in
  * the DuckDB oracle (same derivation SQL).
  */
object WorkflowQueries {

  private val langs = graft.harvest.Schemas.allowedLanguages // nl fr de es it pt
  private val statuses = graft.harvest.Schemas.allowedTranslationStatus

  /** Fixture: one translation row per document. */
  def translations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id".as("id"),
      $"doc_id".as("term_field_id"),
      element_at(array(langs.map(lit): _*), ($"doc_id" % 6).cast("int") + 1).as("language"),
      substring($"text", 1, 30).as("value"),
      element_at(array(statuses.map(lit): _*), ($"doc_id" % 5).cast("int") + 1).as("status"),
      concat(lit("user"), $"doc_id" % 20).as("created_by"))
  }

  /** Fixture: appeals for every 3rd translation, some still open. */
  def appeals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).filter($"doc_id" % 3 === 0).select(
      $"doc_id".as("id"),
      $"doc_id".as("translation_id"),
      concat(lit("user"), $"doc_id" % 20).as("opened_by"),
      expr("timestampadd(DAY, CAST(doc_id % 90 AS INT), TIMESTAMP_NTZ '2026-01-01 00:00:00')")
        .as("opened_at"),
      when($"doc_id" % 4 =!= 0,
        expr("timestampadd(DAY, CAST(doc_id % 90 + doc_id % 30 + 1 AS INT), TIMESTAMP_NTZ '2026-01-01 00:00:00')"))
        .as("closed_at"),
      when($"doc_id" % 4 === 0, "open").otherwise(
        when($"doc_id" % 2 === 0, "resolved").otherwise("closed")).as("status"))
  }

  /** Fixture: the 20 contributors, with deterministic reputation scores
    * (README.md:100-104 `users` table — username PK, reputation, joined_at). */
  def users(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(($"doc_id" % 20).as("u")).distinct()
      .select(
        concat(lit("user"), $"u").as("username"),
        (($"u" * 37 + 11) % 100).cast("int").as("reputation"),
        expr("timestampadd(DAY, CAST(u AS INT), TIMESTAMP_NTZ '2025-01-01 00:00:00')")
          .as("joined_at"))
  }

  /** Fixture: 1–4 messages per appeal, hourly after opening
    * (README.md:94-99 `appeal_messages`). */
  def appealMessages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    appeals(s, dir)
      .select($"id".as("appeal_id"), $"opened_at",
        explode(sequence(lit(1L), $"id" % 4 + 1)).as("m"))
      .select(
        ($"appeal_id" * 10 + $"m").as("id"),
        $"appeal_id",
        concat(lit("user"), ($"appeal_id" + $"m") % 20).as("author"),
        concat(lit("msg "), $"m", lit(" on appeal "), $"appeal_id").as("message"),
        expr("timestampadd(HOUR, CAST(m AS INT), opened_at)").as("created_at"))
  }

  /** Status × language funnel with per-language shares (A19 domain +
    * windowed ratio). */
  def translationFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = translations(s, dir)
    val counts = t.groupBy($"language", $"status").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"language")
    counts
      .withColumn("lang_total", sum($"n").over(w))
      .withColumn("share", $"n".cast("double") / $"lang_total".cast("double"))
      .orderBy($"language", $"status")
  }

  /** Contributor leaderboard: volume, approvals, approval rate, ranked.
    *
    * Scale shape: the top-10 is taken with a distributed `orderBy.limit`
    * (per-partition top-k then a 10-row merge on the driver side of the
    * plan), and ONLY the 10 surviving rows go through the rank window —
    * never `rank() OVER (ORDER BY …)` on the full contributor set, which
    * would funnel every row through a single partition. The (n_accepted,
    * created_by) sort key is total, so rank == row_number and
    * limit(10) ≡ rank <= 10. */
  def reviewerLeaderboard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = translations(s, dir)
    val agg = t.groupBy($"created_by").agg(
      count(lit(1)).as("n_translations"),
      count(when($"status" === "approved" || $"status" === "merged", 1)).as("n_accepted"))
      .withColumn("accept_rate",
        $"n_accepted".cast("double") / $"n_translations".cast("double"))
    val top = agg.orderBy($"n_accepted".desc, $"created_by").limit(10)
    top.withColumn("rnk",
        rank().over(Window.orderBy($"n_accepted".desc, $"created_by")).cast("int"))
      .orderBy($"rnk", $"created_by")
  }

  /** Appeal aging: days-to-close per final status; open appeals excluded
    * from aging but counted. */
  def appealAging(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    appeals(s, dir)
      .withColumn("days_to_close", datediff($"closed_at", $"opened_at"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_appeals"),
        count($"days_to_close").as("n_closed"),
        (sum($"days_to_close").cast("double") / count($"days_to_close")).as("avg_days_to_close"))
      .orderBy($"status")
  }

  /** Reputation-weighted contributor leaderboard: translation stats joined
    * to `users` (README.md:100-104 reputation), influence = reputation ×
    * merged count. Same scale shape as [[reviewerLeaderboard]]: equi-join
    * on the user key (AQE picks broadcast while users is small), top-10 via
    * distributed sort+limit, rank applied only to the 10 survivors. */
  def reputationLeaderboard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = translations(s, dir).groupBy($"created_by").agg(
      count(lit(1)).as("n_translations"),
      count(when($"status" === "merged", 1)).as("n_merged"))
    val joined = agg.join(users(s, dir), agg("created_by") === col("username"))
      .select($"created_by", $"reputation", $"n_translations", $"n_merged",
        ($"reputation" * $"n_merged").cast("long").as("influence"))
    val top = joined.orderBy($"influence".desc, $"created_by").limit(10)
    top.withColumn("rnk",
        rank().over(Window.orderBy($"influence".desc, $"created_by")).cast("int"))
      .orderBy($"rnk", $"created_by")
  }

  /** Appeal-message volume and response latency per appeal status: message
    * counts and hours from opening to first/last message. One aggregation
    * on appeal_id, one equi-join back to appeals, one aggregation on
    * status. */
  def appealMessageStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = appeals(s, dir).select($"id".as("appeal_id"), $"status", $"opened_at")
    val perAppeal = appealMessages(s, dir).groupBy($"appeal_id").agg(
      count(lit(1)).as("n_msgs"),
      min($"created_at").as("first_msg_at"),
      max($"created_at").as("last_msg_at"))
    a.join(perAppeal, Seq("appeal_id"))
      .select($"status", $"n_msgs",
        expr("timestampdiff(HOUR, opened_at, first_msg_at)").as("h_first"),
        expr("timestampdiff(HOUR, opened_at, last_msg_at)").as("h_last"))
      .groupBy($"status")
      .agg(
        count(lit(1)).as("n_appeals"),
        sum($"n_msgs").as("n_messages"),
        (sum($"n_msgs").cast("double") / count(lit(1))).as("avg_msgs_per_appeal"),
        (sum($"h_first").cast("double") / count(lit(1))).as("avg_hours_to_first"),
        (sum($"h_last").cast("double") / count(lit(1))).as("avg_hours_to_last"))
      .orderBy($"status")
  }

  /** Fixture: `skos:broader` edges — a deterministic concept tree over the
    * documents corpus (parent = doc_id div 2; depth ~log2 N). The reference
    * declares the broader/narrower hierarchy in FIELD_MAPPINGS
    * (/root/reference/harvest.py:17-25) but never traverses it; this is the
    * analytics a SKOS consumer runs on it. */
  def broaderEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).filter($"doc_id" >= 2)
      .select($"doc_id".as("node"), expr("doc_id div 2").as("ancestor"),
        lit(1L).as("depth"))
  }

  /** w06: transitive closure of `skos:broader` — every (concept, ancestor,
    * depth). Spark has no recursive CTE; the scale-correct formulation is
    * path DOUBLING — a depth-d hierarchy closes in ceil(log2 d) shuffle
    * rounds, not d. Invariant per round k: `closure` holds all paths of
    * length 1..2^k, `pow` exactly the length-2^k paths; the round then
    * produces lengths 2^k+1..2^{k+1} as `closure ∘ pow` and 2^{k+1} as
    * `pow ∘ pow`. In a tree every (node, ancestor) path is unique and the
    * fixed-length-suffix split is unique too, so NO distinct is ever
    * needed — every round is two equi-joins on the midpoint key (a DAG
    * polyhierarchy would add one distinct per round). Terminates when no
    * length-2^k path exists; the per-round count() touches only `pow`
    * (shrinks to empty), the standard driver-side convergence check of
    * iterative DataFrame algorithms. */
  def broaderClosure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def compose(a: DataFrame, b: DataFrame): DataFrame =
      a.toDF("node", "mid", "d1").join(b.toDF("mid", "ancestor", "d2"), "mid")
        .select($"node", $"ancestor", ($"d1" + $"d2").as("depth"))
    // Cache policy: edges and the pow chain are cached (log-depth, at most
    // one row per node, and they drive the convergence counts), plus ONE
    // cached final closure. The large per-round `longer` pieces are never
    // cached: the loop only counts pow, and the closure's first
    // materialization computes each of them once from the cached chain.
    // The result reads these caches lazily, so they live until the
    // caller's scope exits ([[graft.Cut]]).
    val edges = broaderEdges(s, dir).transform(Cut.cached)
    var closure = edges
    var pow = edges
    while (pow.limit(1).count() > 0) {
      val longer = compose(closure, pow)
      pow = compose(pow, pow).transform(Cut.cached)
      closure = closure.union(longer)
    }
    closure.transform(Cut.cached).orderBy($"node", $"depth")
  }

  /** w07: PageRank over the `skos:broader` graph — which broad concepts
    * accumulate the most authority from their narrower descendants (the
    * vocabulary-importance ranking a SKOS consumer reports). Iterative
    * Lloyd-style fixpoint like k-means/CC, and like them built for the
    * cluster: per-iteration work is one equi-join + one map-side-
    * combinable sum, ranks cut per round, the edge list cached once
    * ([[graft.Cut]]).
    *
    * Cross-engine EXACT: ranks live in integer nano-units (r₀ = 1e9);
    * each contribution is `(r * 85) div (100 * outdeg)` — integer
    * truncating division, identical in Spark (`div`) and DuckDB (`//`)
    * on positive values — and the damping base is the integer 0.15e9.
    * Long sums are shuffle-order-independent, so a FIXED iteration count
    * (3) makes the whole ranking hash-comparable against an UNROLLED
    * 3-CTE DuckDB oracle — the iterative-algorithm determinism story
    * (kMeans is bit-stable but not SQL-expressible; this one is both).
    * Nano-unit headroom: a node's rank is bounded by total mass
    * n×1e9 < 2^63 up to ~9e9 vertices; switch to micro-units beyond. */
  def pageRank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = Cut.scope {
    import s.implicits._
    val edges = broaderEdges(s, dir).select($"node".as("u"), $"ancestor".as("v")).transform(Cut.cached)
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("outdeg"))
    val nodes = edges.select($"u".as("node")).union(edges.select($"v".as("node")))
      .distinct().transform(Cut.eager)
    var ranks = nodes.select($"node", lit(1000000000L).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges.join(deg, "u")
        .join(ranks.toDF("u", "r"), "u")
        .select($"v".as("node"), expr("(r * 85) div (100 * outdeg)").as("c"))
        .groupBy($"node").agg(sum($"c").as("sc"))
      ranks = nodes.join(contrib, Seq("node"), "left_outer")
        .select($"node", (lit(150000000L) + coalesce($"sc", lit(0L))).as("r"))
        .transform(Cut.eager) // per-iteration lineage cut, as in kMeans/CC
    }
    ranks.select($"node", $"r".as("pagerank_nano"),
        ($"r".cast("double") / 1e9).as("pagerank"))
      .orderBy($"node")
  }

  private def pageRankQuery(s: SparkSession, dir: String): DataFrame =
    pageRank(s, dir)

  /** w08 (r6): PERSONALIZED PageRank — the teleport mass lands only on a
    * seed set (here: nodes ≡ 0 mod 10) instead of uniformly, so ranks
    * measure relevance RELATIVE TO the seeds (seed-expansion /
    * graph-based data-valuation shape). Same exact-integer nano-unit
    * arithmetic, truncating division, and per-iteration lineage cut as
    * [[pageRank]]; the only delta is the teleport term — uniform
    * 0.15·10⁹ becomes 0.15·10⁹·[node ∈ seeds]. Non-seed sinks decay
    * toward zero; the oracle unrolls the same three iterations. */
  def personalizedPageRank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    import s.implicits._
    personalizedPageRankEdges(
      broaderEdges(s, dir).select($"node".as("u"), $"ancestor".as("v")), iters)
  }

  /** [[personalizedPageRank]] over any `(u, v)` edge frame — the
    * graph-input seam shared by the batch query and the streaming
    * refresh twin ([[graft.streaming.Streaming.PprRefresh]]). */
  def personalizedPageRankEdges(edgeSet: DataFrame, iters: Int = 3): DataFrame = Cut.scope {
    val s = edgeSet.sparkSession
    import s.implicits._
    val edges = edgeSet.transform(Cut.cached)
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("outdeg"))
    val nodes = edges.select($"u".as("node")).union(edges.select($"v".as("node")))
      .distinct().transform(Cut.eager)
    val teleport = when($"node" % 10 === 0, lit(150000000L)).otherwise(lit(0L))
    var ranks = nodes.select($"node",
      when($"node" % 10 === 0, lit(1000000000L)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges.join(deg, "u")
        .join(ranks.toDF("u", "r"), "u")
        .select($"v".as("node"), expr("(r * 85) div (100 * outdeg)").as("c"))
        .groupBy($"node").agg(sum($"c").as("sc"))
      ranks = nodes.join(contrib, Seq("node"), "left_outer")
        .select($"node", (teleport + coalesce($"sc", lit(0L))).as("r"))
        .transform(Cut.eager)
    }
    ranks.select($"node", $"r".as("ppr_nano"), ($"r".cast("double") / 1e9).as("ppr"))
      .orderBy($"node")
  }

  private def pprQuery(s: SparkSession, dir: String): DataFrame =
    personalizedPageRank(s, dir)

  /** Fixture: double-review table — every translation item carries two
    * verdicts from a deterministic rater pair (the [[translations]]
    * derivation discipline: pure doc_id arithmetic, so the oracle
    * replays the table from `documents`). */
  def raterReviews(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id".as("item_id"),
      concat(lit("rev"), $"doc_id" % 5).as("rater_a"),
      concat(lit("rev"), ($"doc_id" + 1) % 5).as("rater_b"),
      when($"doc_id" % 3 =!= 0, "approve").otherwise("reject").as("verdict_a"),
      when(($"doc_id" % 7) % 3 =!= 0, "approve").otherwise("reject").as("verdict_b"))
  }

  /** W9 (r7 cont.): Cohen's kappa per rater pair — THE inter-annotator
    * agreement statistic behind every labeling/RLHF rater-QA dashboard
    * (raw agreement flatters raters who share a bias toward one
    * verdict; kappa discounts the agreement their marginals would
    * produce by chance). With binary verdicts, κ = (n·agree − E) /
    * (n² − E) where E = a₊b₊ + a₋b₋ — numerator and denominator are
    * EXACT BIGINTs from one combinable aggregate per pair, emitted
    * alongside κ as one guarded IEEE division (κ can be negative, so
    * no ppb floor-div — the b04_delta_drivers sign lesson). Scale: one
    * map-side-combinable groupBy on the pair key; the pair axis is
    * rater-bounded. */
  def raterKappa(s: SparkSession, dir: String): DataFrame =
    kappaOf(raterReviews(s, dir))

  private[ops] def kappaOf(reviews: DataFrame): DataFrame = {
    import reviews.sparkSession.implicits._
    val m = reviews
      .groupBy($"rater_a", $"rater_b")
      .agg(count(lit(1)).as("n"),
        sum(when($"verdict_a" === $"verdict_b", 1L).otherwise(0L)).as("n_agree"),
        sum(when($"verdict_a" === "approve", 1L).otherwise(0L)).as("a_approve"),
        sum(when($"verdict_b" === "approve", 1L).otherwise(0L)).as("b_approve"))
    val chance = $"a_approve" * $"b_approve" +
      ($"n" - $"a_approve") * ($"n" - $"b_approve")
    m.withColumn("kappa_num", $"n" * $"n_agree" - chance)
      .withColumn("kappa_den", $"n" * $"n" - chance)
      .select($"rater_a", $"rater_b", $"n", $"n_agree",
        $"a_approve", $"b_approve", $"kappa_num", $"kappa_den",
        when($"kappa_den" === 0L, lit(0.0))
          .otherwise($"kappa_num".cast("double") / $"kappa_den".cast("double"))
          .as("kappa"))
      .orderBy($"rater_a", $"rater_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w09_rater_kappa" -> (raterKappa _),
    "w07_pagerank" -> (pageRankQuery _),
    "w08_personalized_pagerank" -> (pprQuery _),
    "w01_translation_funnel" -> (translationFunnel _),
    "w02_reviewer_leaderboard" -> (reviewerLeaderboard _),
    "w03_appeal_aging" -> (appealAging _),
    "w04_reputation_leaderboard" -> (reputationLeaderboard _),
    "w05_appeal_message_stats" -> (appealMessageStats _),
    "w06_broader_closure" -> (broaderClosure _),
  )

  private val TFIX = """
    WITH translations AS (
      SELECT doc_id AS id, doc_id AS term_field_id,
        ['nl','fr','de','es','it','pt'][CAST(doc_id % 6 AS INT) + 1] AS language,
        substr(text, 1, 30) AS value,
        ['draft','review','approved','rejected','merged'][CAST(doc_id % 5 AS INT) + 1] AS status,
        'user' || (doc_id % 20) AS created_by
      FROM documents),
    appeals AS (
      SELECT doc_id AS id, doc_id AS translation_id,
        'user' || (doc_id % 20) AS opened_by,
        TIMESTAMP '2026-01-01' + (doc_id % 90) * INTERVAL 1 DAY AS opened_at,
        CASE WHEN doc_id % 4 <> 0
             THEN TIMESTAMP '2026-01-01' + (doc_id % 90 + doc_id % 30 + 1) * INTERVAL 1 DAY END AS closed_at,
        CASE WHEN doc_id % 4 = 0 THEN 'open'
             WHEN doc_id % 2 = 0 THEN 'resolved' ELSE 'closed' END AS status
      FROM documents WHERE doc_id % 3 = 0),
    users AS (
      SELECT 'user' || u AS username, CAST((u * 37 + 11) % 100 AS INT) AS reputation,
             TIMESTAMP '2025-01-01' + u * INTERVAL 1 DAY AS joined_at
      FROM (SELECT DISTINCT doc_id % 20 AS u FROM documents)),
    appeal_messages AS (
      SELECT appeal_id * 10 + m AS id, appeal_id,
             'user' || ((appeal_id + m) % 20) AS author,
             'msg ' || m || ' on appeal ' || appeal_id AS message,
             opened_at + m * INTERVAL 1 HOUR AS created_at
      FROM (SELECT id AS appeal_id, opened_at,
                   unnest(range(1, CAST(id % 4 + 2 AS INT))) AS m
            FROM appeals))
  """

  val oracles: Map[String, String] = Map(
    // the review fixture replays from documents (pure doc_id
    // arithmetic); kappa's num/den are exact BIGINTs, the ratio is one
    // guarded IEEE division (kappa can be negative — no floor div)
    "w09_rater_kappa" -> """
      WITH r AS (SELECT doc_id AS item_id,
          'rev' || CAST(doc_id % 5 AS VARCHAR) AS rater_a,
          'rev' || CAST((doc_id + 1) % 5 AS VARCHAR) AS rater_b,
          CASE WHEN doc_id % 3 <> 0 THEN 'approve' ELSE 'reject' END AS verdict_a,
          CASE WHEN (doc_id % 7) % 3 <> 0 THEN 'approve' ELSE 'reject' END AS verdict_b
        FROM documents),
      m AS (SELECT rater_a, rater_b, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN verdict_a = verdict_b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          CAST(SUM(CASE WHEN verdict_a = 'approve' THEN 1 ELSE 0 END) AS BIGINT) AS a_approve,
          CAST(SUM(CASE WHEN verdict_b = 'approve' THEN 1 ELSE 0 END) AS BIGINT) AS b_approve
        FROM r GROUP BY 1, 2),
      k AS (SELECT *,
          n * n_agree - (a_approve * b_approve + (n - a_approve) * (n - b_approve)) AS kappa_num,
          n * n - (a_approve * b_approve + (n - a_approve) * (n - b_approve)) AS kappa_den
        FROM m)
      SELECT rater_a, rater_b, n, n_agree, a_approve, b_approve,
        kappa_num, kappa_den,
        CASE WHEN kappa_den = 0 THEN 0.0
             ELSE CAST(kappa_num AS DOUBLE) / CAST(kappa_den AS DOUBLE) END AS kappa
      FROM k ORDER BY rater_a, rater_b""",
    // 3 PageRank iterations UNROLLED as chained CTEs; integer nano-unit
    // arithmetic — (r*85)//(100*outdeg) is truncating division on
    // positives in both engines, so the hash must match exactly
    "w07_pagerank" -> """
      WITH e AS (SELECT doc_id AS u, doc_id // 2 AS v FROM documents WHERE doc_id >= 2),
      deg AS (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
      nodes AS (SELECT DISTINCT x AS node FROM (SELECT u AS x FROM e UNION SELECT v FROM e)),
      r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
      i1 AS (SELECT n.node,
               CAST(150000000 + COALESCE(SUM((p.r * 85) // (100 * d.outdeg)), 0) AS BIGINT) AS r
             FROM nodes n LEFT JOIN e ON e.v = n.node
               LEFT JOIN r0 p ON p.node = e.u LEFT JOIN deg d ON d.u = e.u
             GROUP BY n.node),
      i2 AS (SELECT n.node,
               CAST(150000000 + COALESCE(SUM((p.r * 85) // (100 * d.outdeg)), 0) AS BIGINT) AS r
             FROM nodes n LEFT JOIN e ON e.v = n.node
               LEFT JOIN i1 p ON p.node = e.u LEFT JOIN deg d ON d.u = e.u
             GROUP BY n.node),
      i3 AS (SELECT n.node,
               CAST(150000000 + COALESCE(SUM((p.r * 85) // (100 * d.outdeg)), 0) AS BIGINT) AS r
             FROM nodes n LEFT JOIN e ON e.v = n.node
               LEFT JOIN i2 p ON p.node = e.u LEFT JOIN deg d ON d.u = e.u
             GROUP BY n.node)
      SELECT node, r AS pagerank_nano, CAST(r AS DOUBLE) / 1e9 AS pagerank
      FROM i3 ORDER BY node""",
    // personalized variant: identical unrolled chain, teleport only on
    // the seed set (node % 10 = 0), seed-indicator initial mass
    "w08_personalized_pagerank" -> """
      WITH e AS (SELECT doc_id AS u, doc_id // 2 AS v FROM documents WHERE doc_id >= 2),
      deg AS (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
      nodes AS (SELECT DISTINCT x AS node FROM (SELECT u AS x FROM e UNION SELECT v FROM e)),
      r0 AS (SELECT node,
               CAST(CASE WHEN node % 10 = 0 THEN 1000000000 ELSE 0 END AS BIGINT) AS r
             FROM nodes),
      i1 AS (SELECT n.node,
               CAST(CASE WHEN n.node % 10 = 0 THEN 150000000 ELSE 0 END
                 + COALESCE(SUM((p.r * 85) // (100 * d.outdeg)), 0) AS BIGINT) AS r
             FROM nodes n LEFT JOIN e ON e.v = n.node
               LEFT JOIN r0 p ON p.node = e.u LEFT JOIN deg d ON d.u = e.u
             GROUP BY n.node),
      i2 AS (SELECT n.node,
               CAST(CASE WHEN n.node % 10 = 0 THEN 150000000 ELSE 0 END
                 + COALESCE(SUM((p.r * 85) // (100 * d.outdeg)), 0) AS BIGINT) AS r
             FROM nodes n LEFT JOIN e ON e.v = n.node
               LEFT JOIN i1 p ON p.node = e.u LEFT JOIN deg d ON d.u = e.u
             GROUP BY n.node),
      i3 AS (SELECT n.node,
               CAST(CASE WHEN n.node % 10 = 0 THEN 150000000 ELSE 0 END
                 + COALESCE(SUM((p.r * 85) // (100 * d.outdeg)), 0) AS BIGINT) AS r
             FROM nodes n LEFT JOIN e ON e.v = n.node
               LEFT JOIN i2 p ON p.node = e.u LEFT JOIN deg d ON d.u = e.u
             GROUP BY n.node)
      SELECT node, r AS ppr_nano, CAST(r AS DOUBLE) / 1e9 AS ppr
      FROM i3 ORDER BY node""",
    "w01_translation_funnel" -> s"""$TFIX
      SELECT language, status, n, lang_total,
             CAST(n AS DOUBLE) / CAST(lang_total AS DOUBLE) AS share
      FROM (
        SELECT language, status, COUNT(*) AS n,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY language) AS BIGINT) AS lang_total
        FROM translations GROUP BY language, status)
      ORDER BY language, status""",
    "w02_reviewer_leaderboard" -> s"""$TFIX
      SELECT created_by, n_translations, n_accepted, accept_rate, rnk FROM (
        SELECT *, CAST(RANK() OVER (ORDER BY n_accepted DESC, created_by) AS INT) AS rnk
        FROM (
          SELECT created_by, COUNT(*) AS n_translations,
            COUNT(CASE WHEN status IN ('approved','merged') THEN 1 END) AS n_accepted,
            CAST(COUNT(CASE WHEN status IN ('approved','merged') THEN 1 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS accept_rate
          FROM translations GROUP BY created_by))
      WHERE rnk <= 10 ORDER BY rnk, created_by""",
    "w03_appeal_aging" -> s"""$TFIX
      SELECT status, COUNT(*) AS n_appeals,
        COUNT(date_diff('day', opened_at, closed_at)) AS n_closed,
        CAST(SUM(date_diff('day', opened_at, closed_at)) AS DOUBLE)
          / COUNT(date_diff('day', opened_at, closed_at)) AS avg_days_to_close
      FROM appeals GROUP BY status ORDER BY status""",
    "w04_reputation_leaderboard" -> s"""$TFIX
      SELECT created_by, reputation, n_translations, n_merged, influence, rnk FROM (
        SELECT *, CAST(RANK() OVER (ORDER BY influence DESC, created_by) AS INT) AS rnk
        FROM (
          SELECT created_by, reputation, n_translations, n_merged,
                 CAST(reputation * n_merged AS BIGINT) AS influence
          FROM (
            SELECT created_by, COUNT(*) AS n_translations,
                   COUNT(CASE WHEN status = 'merged' THEN 1 END) AS n_merged
            FROM translations GROUP BY created_by) t
          JOIN users ON t.created_by = users.username))
      WHERE rnk <= 10 ORDER BY rnk, created_by""",
    "w05_appeal_message_stats" -> s"""$TFIX,
      per_appeal AS (
        SELECT appeal_id, COUNT(*) AS n_msgs,
               MIN(created_at) AS first_msg_at, MAX(created_at) AS last_msg_at
        FROM appeal_messages GROUP BY appeal_id)
      SELECT status, COUNT(*) AS n_appeals,
        CAST(SUM(n_msgs) AS BIGINT) AS n_messages,
        CAST(SUM(n_msgs) AS DOUBLE) / COUNT(*) AS avg_msgs_per_appeal,
        CAST(SUM(date_diff('hour', opened_at, first_msg_at)) AS DOUBLE) / COUNT(*) AS avg_hours_to_first,
        CAST(SUM(date_diff('hour', opened_at, last_msg_at)) AS DOUBLE) / COUNT(*) AS avg_hours_to_last
      FROM appeals JOIN per_appeal ON appeals.id = per_appeal.appeal_id
      GROUP BY status ORDER BY status""",
    "w06_broader_closure" -> """
      WITH RECURSIVE anc AS (
        SELECT doc_id AS node, doc_id // 2 AS ancestor, CAST(1 AS BIGINT) AS depth
        FROM documents WHERE doc_id >= 2
        UNION ALL
        SELECT a.node, a.ancestor // 2, a.depth + 1 FROM anc a WHERE a.ancestor >= 2)
      SELECT node, ancestor, depth FROM anc ORDER BY node, depth""",
  )
}
