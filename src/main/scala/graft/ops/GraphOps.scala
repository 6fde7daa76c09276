package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B16 — graph analytics over a data-derived co-occurrence graph.
  *
  * The graph: parts are vertices; an undirected edge (u, v) exists iff
  * parts u and v appear in the same order (the classic co-purchase /
  * co-occurrence projection of the order–part bipartite graph). The
  * reference has no graph operators; these extend the w06 (BFS closure)
  * and w07 (PageRank) iterative family with the two one-shot primitives
  * every production graph pipeline starts from: the degree profile and
  * triangle counting.
  *
  * Scale design (100 TB):
  * - Edge build shuffles on the order key (bounded fan-out: an order has
  *   a handful of parts), then dedups on (u, v) — both standard
  *   map-side-combinable shuffles, never a vertex×vertex product.
  * - Triangle counting uses DEGREE-ORIENTED wedge closure (Cohen's
  *   MapReduce formulation; also the GraphX/Trino approach): each edge is
  *   directed from its (degree, id)-smaller endpoint to the larger, so a
  *   hub's wedge set is generated from its LOW-degree neighbors rather
  *   than from the hub itself — candidate wedges drop from
  *   Σ deg(v)² to Σ outdeg(v)² with outdeg bounded by O(√m) on any
  *   graph (arboricity bound). A star vertex (the LSH-hot-bucket of
  *   graphs) therefore produces zero wedges from its own adjacency: its
  *   spokes orient INTO it.
  * - The closing probe is an equi-join of wedge (b, c) pairs against the
  *   oriented edge set — shuffle-partitioned on (b, c), no broadcast of
  *   anything vertex-scale, no driver-side state.
  */
object GraphOps {

  /** Distinct co-purchase edges with u < v. No pre-distinct on the
    * (order, part) pairs: the final (u, v) distinct subsumes it (a part
    * listed twice in an order only duplicates edge rows that dedup
    * anyway), saving one full-table shuffle. */
  private[ops] def buildCopurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
    li.select($"ok", $"pk".as("u"))
      .join(li.select($"ok", $"pk".as("v")), Seq("ok"))
      .where($"u" < $"v")
      .select($"u", $"v").distinct()
  }

  /** Materialize-once parquet snapshot keyed on the lineitem table —
    * delegation to the shared [[graft.SnapshotStore]] (r8: moved there
    * so the dedup reference tables share one implementation, which
    * publishes through [[graft.Versions]]). */
  private def snapshot(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    graft.SnapshotStore(s, dir, "lineitem.parquet", name)(build)

  /** Materialize-once co-purchase edge table shared by every B16 query
    * (r6-verdict #3): the lineitem self-join + distinct dominated both
    * graph queries when rebuilt from cold per query. Layout:
    * repartitioned by `u` (the downstream group/join key) so consumers
    * start from a sane distribution. Content is IDENTICAL to
    * [[buildCopurchaseEdges]] — oracle hashes are unaffected. */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "copurchase_edges") {
      buildCopurchaseEdges(s, dir).repartition(col("u"))
    }

  /** Materialize-once triangle listing (r7 perf pass #2): three of the
    * four heaviest graph queries (b16_triangles, b16_edge_jaccard,
    * b16_clustering) consume the same listing and each paid a full
    * adjacency-build + intersection pass from cold. The listing is a
    * pure deterministic function of the edge set (sorted arrays,
    * (degree, id) orientation), so it snapshots under the same
    * signature key as the edges — exactly the derived table you'd
    * bucket-write beside the edge table at 100 TB. Consumers aggregate
    * or sort, so parquet row order is irrelevant to results. */
  private def triangleListing(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "triangle_listing") {
      val edges = copurchaseEdges(s, dir)
      buildTriangleListing(edges)
    }

  /** The edge-centric triangle listing over any oriented-adjacency
    * input: one row per oriented edge (src, dst) that closes ≥1
    * triangle, with `common` = the sorted array of closing vertices.
    * Every triangle {src, dst, c} appears exactly once, at its
    * (deg, id)-smallest edge. Factored out so the snapshot build and
    * the planted-graph spec path share one definition. */
  private[ops] def buildTriangleListing(edgeSet: DataFrame): DataFrame = {
    // r17 (guide §2.4, the e01 lesson): the adjacency feeds BOTH sides
    // of the closing-probe self-join below, and the two subtrees differ
    // (aliases + broadcast modes) so no exchange reuse ever dedupes
    // them — the final-round ktruss plan showed the ENTIRE
    // orientedAdjacency pipeline (including its degree union-aggregate)
    // planned twice per listing (plans/r17/b16_ktruss_before.txt, ops
    // 15-31 vs 32-57). LAZY checkpoint: both consumers sit in the same
    // downstream job, so the first task to touch a partition persists
    // it and the probe side reads the stored blocks — one adjacency
    // build per listing, no extra materialization job.
    val adj = orientedAdjacency(edgeSet).transform(Cut.lazily)
    // re-derive the oriented edges by EXPLODING the adjacency — each edge
    // arrives already carrying its source's array, so the closing probe
    // is ONE join (on dst) instead of two.
    // sorted_intersect: fused two-pointer codegen kernel — array_intersect
    // builds a hash set per edge (millions of allocations per stage);
    // both arrays are sorted by construction (sort_array in the adjacency)
    adj.select(col("src"), explode(col("nbrs")).as("dst"), col("nbrs").as("na"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), Seq("dst"))
      .withColumn("common", graft.functions.SortedIntersect(col("na"), col("nb")))
      .where(size(col("common")) > 0)
      .select(col("src"), col("dst"), col("common"))
  }

  /** B16: degree profile of the co-purchase graph — the first sanity
    * report on any production graph (skew tells you whether hub
    * mitigation is needed downstream). One union + two
    * map-side-combinable counts. */
  def degreeHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdges(s, dir)
    edges.select($"u".as("p")).unionAll(edges.select($"v".as("p")))
      .groupBy($"p").agg(count(lit(1)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_parts"))
      .orderBy($"degree")
  }

  /** B16: top-k parts by triangle participation (number of co-purchase
    * triangles a part belongs to — the local-clustering signal used for
    * community/bot detection and recommendation diversity). Degree-
    * oriented wedge closure; see object doc for the scale argument. */
  def triangleParticipation(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    overTriangleSnapshot(s, dir)(triangleTopK(k))

  /** Degree-oriented triangle participation over any undirected edge set
    * (columns `u`, `v`, u < v, no duplicates). Factored out so specs can
    * drive planted graphs through the exact production plan.
    *
    * EDGE-CENTRIC counting (the r6 perf pass): a wedge-join formulation
    * materializes Σ C(outdeg, 2) rows through a shuffle — 41M at sf0.1
    * on this graph (flat degree profile), ~10 s. Instead: build each
    * vertex's sorted out-adjacency array (bounded by the orientation's
    * O(√m) arboricity outdegree, so a hub's array stays small — the
    * array-size twin of the hot-bucket cap), then for every oriented
    * edge (a, b) intersect N⁺(a) with N⁺(b). Each triangle
    * {a→b, a→c, b→c} is found exactly once, at its (a, b) edge. The
    * wedge set is never materialized: the intersection runs inside the
    * row, and only actual triangles (1 row each) are exploded for the
    * per-vertex attribution — edge (a,b) contributes |I| to a and b and
    * 1 to every c ∈ I. */
  /** Degree-oriented sorted out-adjacency: each edge directed from its
    * (degree, id)-smaller endpoint, so a hub's spokes all point INTO it
    * and its own out-array stays arboricity-bounded (O(√m)) — the
    * planted-hub spec asserts this directly on a 10k-spoke star. */
  private[ops] def orientedAdjacency(edges: DataFrame): DataFrame = {
    val deg = degreesOf(edges) // ONE degree definition for every consumer
    val withDeg = edges
      .join(deg.select(col("p").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("p").as("v"), col("degree").as("dv")), "v")
    val fwd = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
  }

  /** Runs `f` over (cached edges, triangle listing) and eagerly cuts the
    * (small, top-k-sized) result, so the edge cache is freed on return
    * ([[graft.Cut]]). The listing has one row per oriented edge (src, dst)
    * that closes at least one triangle, carrying `common` = the sorted
    * array of closing vertices — every triangle {src, dst, c} appears
    * exactly once, at its (deg, id)-smallest edge. */
  private def overTriangles(s: SparkSession, edgeSet: DataFrame)(
      f: (DataFrame, DataFrame) => DataFrame): DataFrame = Cut.scope {
    // edges feed degree + orientation (two consumers); the oriented
    // adjacency feeds its own explode + the probe join.
    val edges = edgeSet.transform(Cut.cached)
    val tri = buildTriangleListing(edges)
    Cut.eager(f(edges, tri))
  }

  /** Dir-based twin of [[overTriangles]] for the declared queries: both
    * inputs come from materialize-once snapshots, so no caching or
    * lineage cut is needed — each consumer is one aggregation pass over
    * parquet. Content identical to the inline path (spec-pinned). */
  private def overTriangleSnapshot(s: SparkSession, dir: String)(
      f: (DataFrame, DataFrame) => DataFrame): DataFrame =
    f(copurchaseEdges(s, dir), triangleListing(s, dir))

  /** Per-vertex triangle membership counts from the listing: edge
    * (src, dst) with |common| = n closing vertices contributes n to src
    * and dst and 1 to every c ∈ common. */
  private def vertexTriangleCounts(tri: DataFrame): DataFrame =
    tri.withColumn("nt", size(col("common")).cast("long"))
      .select(explode(concat(
        array(struct(col("src").as("p"), col("nt").as("c")),
              struct(col("dst").as("p"), col("nt").as("c"))),
        expr("transform(common, x -> named_struct('p', x, 'c', CAST(1 AS BIGINT)))")))
        .as("pc"))
      .select(col("pc.p").as("part_key"), col("pc.c").as("c"))
      .groupBy(col("part_key")).agg(sum(col("c")).as("n_triangles"))

  private def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("u").as("p")).unionAll(edges.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("degree"))

  /** Every listed triangle {src, dst, c} exploded to its three
    * (min, max)-normalized edges — ONE definition shared by the
    * edge-Jaccard common-neighbor count and the k-truss support count
    * (review fix: two verbatim copies could drift). */
  private def triangleEdges(tri: DataFrame): DataFrame =
    tri.select(col("src"), col("dst"), explode(col("common")).as("c"))
      .select(explode(array(
        struct(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")),
        struct(least(col("src"), col("c")).as("u"),
          greatest(col("src"), col("c")).as("v")),
        struct(least(col("dst"), col("c")).as("u"),
          greatest(col("dst"), col("c")).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  private def triangleTopK(k: Int): (DataFrame, DataFrame) => DataFrame =
    (_, tri) =>
      vertexTriangleCounts(tri)
        .orderBy(col("n_triangles").desc, col("part_key"))
        .limit(k)

  def trianglesOf(s: SparkSession, edgeSet: DataFrame, k: Int): DataFrame =
    overTriangles(s, edgeSet)(triangleTopK(k))

  /** B16 (r7): top-k edges by neighborhood Jaccard (edge embeddedness —
    * |N(u)∩N(v)| / |N(u)∪N(v)| over the endpoints' neighbor sets minus
    * the endpoints themselves). The strong-tie detector behind community
    * pruning and link prediction: an edge whose endpoints share most of
    * their neighborhoods is intra-community; an embeddedness-0 edge is a
    * bridge.
    *
    * Scale shape: common-neighbor counts are NOT computed from full
    * adjacency arrays (a hub's array is vertex-scale) — each triangle
    * from the degree-oriented listing contributes one common-neighbor
    * witness to each of its three edges, so the count rides the same
    * arboricity-bounded kernel as b16_triangles plus one
    * map-side-combinable (u, v) count. Union size needs only the two
    * endpoint degrees: |N(u)∪N(v)| = deg(u)−1 + deg(v)−1 − common.
    * The ratio is served as exact integer parts-per-billion (floor
    * division) so the ranking is total and replayable cross-engine. */
  def edgeJaccardOf(s: SparkSession, edgeSet: DataFrame, k: Int): DataFrame =
    overTriangles(s, edgeSet)(edgeJaccardTopK(k))

  private def edgeJaccardTopK(k: Int): (DataFrame, DataFrame) => DataFrame =
    (edges, tri) => {
      val deg = degreesOf(edges)
      triangleEdges(tri).groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_common"))
        .join(deg.select(col("p").as("u"), col("degree").as("du")), "u")
        .join(deg.select(col("p").as("v"), col("degree").as("dv")), "v")
        .select(col("u").as("part_u"), col("v").as("part_v"), col("n_common"),
          (col("du") + col("dv") - lit(2) - col("n_common")).as("n_union"))
        // DECIMAL(38) product (r9, Relational.psiDriftQuery note)
        .withColumn("jaccard_ppb",
          expr("(CAST(n_common AS DECIMAL(38,0)) * 1000000000) div n_union"))
        .orderBy(col("jaccard_ppb").desc, col("part_u"), col("part_v"))
        .limit(k)
    }

  /** B16 (r7): top-k vertices by local clustering coefficient
    * 2·tri(v) / (deg(v)·(deg(v)−1)) — how close each vertex's
    * neighborhood is to a clique (the community-membership signal; the
    * graph-level average is Watts–Strogatz clustering). Exact integer
    * parts-per-billion; vertices in no triangle (coefficient 0) are
    * excluded, mirroring the triangle listing. One degree count joined
    * to the [[vertexTriangleCounts]] aggregate — nothing beyond the
    * triangle kernel's cost. */
  def clusteringOf(s: SparkSession, edgeSet: DataFrame, k: Int): DataFrame =
    overTriangles(s, edgeSet)(clusteringTopK(k))

  private def clusteringTopK(k: Int): (DataFrame, DataFrame) => DataFrame =
    (edges, tri) =>
      vertexTriangleCounts(tri)
        .join(degreesOf(edges).select(col("p").as("part_key"), col("degree")), "part_key")
        .withColumn("clustering_ppb",
          expr("(2000000000L * n_triangles) div (degree * (degree - 1L))"))
        .select(col("part_key"), col("degree"), col("n_triangles"), col("clustering_ppb"))
        .orderBy(col("clustering_ppb").desc, col("part_key"))
        .limit(k)

  /** B16 (r7): k-core via iterative peel (r6-verdict #6) — the classic
    * subgraph-density primitive (community cores, spam/bot filtering,
    * graph sparsification before expensive kernels). Round t removes
    * every vertex whose degree within the round-(t−1) survivor subgraph
    * is below `k`; removals cascade. Semantics are the BOUNDED peel —
    * exactly `rounds` rounds, with a monotonicity early-exit (the alive
    * set only shrinks, so an unchanged count means fixpoint and every
    * later round is a no-op) — which keeps the operator deterministic
    * and oracle-replayable at ANY scale even where the fixpoint needs
    * more rounds; at gate scale `rounds` = observed fixpoint + 2
    * (KCore spec proves fixpoint on planted graphs and pins bounded ==
    * unbounded there). Returns survivors with their core-subgraph
    * degrees.
    *
    * Scale shape: each round is two semi-joins of the edge set against
    * the (shrinking, AQE-broadcastable) alive set plus one map-side-
    * combinable degree count — O(rounds) shuffles, never a vertex×vertex
    * product; per-round lineage cut via eager checkpoint of the
    * (vertex-sized) alive set, the w07/w08 iterative-family discipline.
    * At 100 TB the same loop runs peel-to-fixpoint with the count as the
    * convergence probe, alive checkpointed to a bucketed table. */
  def kCore(s: SparkSession, edgeSet: DataFrame, k: Int, rounds: Int): DataFrame = {
    // r16 (optimization round): the old inducedEndpoints semi-joined the
    // directed edge table against the alive set and then UNIONED the two
    // endpoint projections — two branches that each re-executed both
    // semi-joins every round (the union's subplans are not deduplicated;
    // broadcast-join subtrees carry no exchange to reuse). The SYMMETRIC
    // edge table (x, nbr), materialized once outside the loop, yields the
    // identical per-vertex induced degree from ONE pass: deg(p) = count
    // of symmetric rows with x = p and both endpoints alive. Halves the
    // per-round probe work and drops 2 AQE stages per round; counts,
    // members, and the fixpoint trace are unchanged. Guide §2.4.
    val sym = edgeSet.select(col("u").as("x"), col("v").as("nbr"))
      .unionAll(edgeSet.select(col("v").as("x"), col("u").as("nbr")))
      .transform(Cut.eager) // consumed every round (the lpaOf discipline)
    def inducedEndpoints(alive: DataFrame): DataFrame = sym
      .join(alive.select(col("p").as("x")), Seq("x"), "left_semi")
      .join(alive.select(col("p").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("x").as("p"))
    // next ⊆ alive (membership requires surviving the induced-degree
    // test), so equal counts mean equal sets: fixpoint ([[Cut.iterate]])
    val alive = Cut.iterate(sym.select(col("x").as("p")).distinct().transform(Cut.lazily),
        rounds) { prev =>
      inducedEndpoints(prev.frame)
        .groupBy(col("p")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("p"))
    }(_.n == _.n).frame
    val out = inducedEndpoints(alive)
      .groupBy(col("p")).agg(count(lit(1)).as("core_degree"))
      .select(col("p").as("part_key"), col("core_degree"))
      .orderBy(col("part_key"))
      .transform(Cut.eager)
    out
  }

  /** Gate constants: k=80 peels 143 of the 2000 sf0.01 co-purchase
    * vertices through a 6-round cascade (neither ~all nor empty — the
    * robust regime the near-regular graph admits); rounds=8 = fixpoint+2. */
  private val KCoreK = 80
  private val KCoreRounds = 8

  def kCoreQuery(s: SparkSession, dir: String): DataFrame =
    kCore(s, copurchaseEdges(s, dir), KCoreK, KCoreRounds)

  /** B16 (r7): label-propagation communities (Raghavan/Albert/Kumara
    * 2007) — the near-linear community detector between connected
    * components (too coarse: one giant blob) and k-core/k-truss (too
    * strict: density thresholds): each vertex adopts the label most
    * common among its neighbors, and densely-linked regions converge to
    * shared labels. Textbook async LPA is ORDER-DEPENDENT — its result
    * changes with visit order, which is exactly what a cross-engine
    * hash gate cannot tolerate — so the declared semantics are
    * SYNCHRONOUS rounds with the total (count DESC, label ASC) argmax:
    * labels after exactly `rounds` rounds, bit-deterministic in both
    * engines (the bounded-peel contract of kCore applied to label
    * flow; fixed rounds also sidestep sync-LPA's bipartite
    * oscillation, which has no fixpoint to wait for).
    *
    * Scale shape: one symmetric neighbor table materialized once; per
    * round ONE join of it against the (vertex-sized) label table keyed
    * on the neighbor + one map-side-combinable (vertex, label) count +
    * the per-vertex argmax — O(rounds) shuffles with a per-round
    * lineage cut, the w07/kCore iterative discipline. Community sizes
    * come from a combinable count on the final labels, joined back —
    * never a window over the (hot) giant community. */
  def lpaOf(edgeSet: DataFrame, rounds: Int): DataFrame = {
    val sym = edgeSet.select(col("u").as("x"), col("v").as("nbr"))
      .unionAll(edgeSet.select(col("v").as("x"), col("u").as("nbr")))
      .transform(Cut.eager) // consumed every round
    var labels = sym.select(col("x")).distinct()
      .select(col("x"), col("x").as("label"))
      .transform(Cut.eager)
    for (_ <- 1 to rounds) {
      labels = sym.join(labels.select(col("x").as("nbr"), col("label")), Seq("nbr"))
        .groupBy(col("x"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("x"))
        .agg(min_by(col("label"), struct((-col("cnt")).as("nc"), col("label")))
          .as("label"))
        .transform(Cut.eager)
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("label"))
      .select(col("x").as("part_key"), col("label").as("community"),
        col("community_size"))
      .orderBy(col("part_key"))
  }

  /** Gate constants: 4 synchronous rounds partition the sf0.01 strong
    * graph into 349 communities over 1880 vertices (sf0.1: 4784/5922)
    * — the robust mixed regime, far from both the all-singletons and
    * one-blob ends. */
  private val LpaRounds = 4

  def lpaQuery(s: SparkSession, dir: String): DataFrame =
    lpaOf(strongEdges(s, dir), LpaRounds)

  /** B16 (r7): k-truss decomposition — the EDGE analogue of k-core and
    * the standard cohesive-community core detector (Cohen 2008): the
    * maximal subgraph in which every edge closes ≥ k−2 triangles within
    * the subgraph. Stricter than k-core (a k-truss is always inside the
    * (k−1)-core) and robust to hub noise, because membership requires
    * shared neighborhoods, not raw degree.
    *
    * Scale shape: per round, edge support rides the SAME
    * arboricity-bounded edge-centric triangle kernel as b16_triangles —
    * each listed triangle attributes one support unit to its three
    * normalized edges (explode of actual triangles only), one combinable
    * (u, v) count, one semi-join drops light edges. The first round
    * reuses the materialized triangle-listing snapshot; later rounds run
    * on the (sharply shrinking) survivor set. Per-round lineage cut
    * ([[graft.Cut]]), fixpoint early-exit (count equality on a
    * monotonically shrinking set). */
  def kTruss(s: SparkSession, edgeSet: DataFrame, k: Int, rounds: Int,
      firstTri: Option[DataFrame] = None): DataFrame = {
    def supportOf(tri: DataFrame): DataFrame =
      triangleEdges(tri).groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    // next ⊆ edges, so equal counts mean equal sets: fixpoint ([[Cut.iterate]])
    var lastSup: Option[DataFrame] = None
    val run = Cut.iterate(edgeSet.select(col("u"), col("v")).transform(Cut.lazily),
        rounds) { prev =>
      val edges = prev.frame
      val tri = if (prev.index == 0) firstTri.getOrElse(buildTriangleListing(edges))
                else buildTriangleListing(edges)
      // r17 (guide §2.4): LAZY-checkpoint the support table — the
      // round's cut job materializes it for free (it sits on next's
      // lineage), and the converged path's final readout then JOINS the
      // stored rows instead of re-executing the whole triangle listing
      // (supportOf(lastTri) used to replan the kernel once more).
      val sup = supportOf(tri).transform(Cut.lazily)
      lastSup = Some(sup)
      edges.join(sup.filter(col("support") >= k - 2), Seq("u", "v"), "left_semi")
    }(_.n == _.n)
    val edges = run.frame
    // on the converged path the final round's listing was built on the
    // IDENTICAL edge set — rebuilding it would repeat the most expensive
    // kernel for nothing (review fix); rebuild only when the round
    // budget ran out with the edge set still shrinking
    val finalSup = if (run.converged) lastSup.get else supportOf(buildTriangleListing(edges))
    edges.join(finalSup, Seq("u", "v"))
      .select(col("u").as("part_u"), col("v").as("part_v"), col("support"))
      .orderBy(col("part_u"), col("part_v"))
  }

  /** Gate constants: k=12 peels the sf0.01 co-purchase graph through a
    * 5-round cascade (115729 → 69588 → 22275 → 2565 → 1127 → fixpoint)
    * and the sf0.1 graph through 3 (1196000 → 29299 → 9790 → fixpoint) —
    * the robust mixed regime in both; rounds=7 = worst fixpoint+2. */
  private val KTrussK = 12
  private val KTrussRounds = 7

  def kTrussQuery(s: SparkSession, dir: String): DataFrame =
    kTruss(s, copurchaseEdges(s, dir), KTrussK, KTrussRounds,
      firstTri = Some(triangleListing(s, dir)))

  /** Distinct-per-order co-purchase pairs kept only when they co-occur in
    * at least `minOrders` orders — the STRONG co-purchase graph. The
    * threshold is the graph twin of a support cut in frequent-itemset
    * mining: it prunes the quadratic noise floor (pairs sharing a single
    * order) before any iterative work. One bounded-fan-out order-keyed
    * shuffle + one map-side-combinable (u, v) count. */
  private[ops] def weightedCopurchaseEdges(s: SparkSession, dir: String,
      minOrders: Int): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    li.select($"ok", $"pk".as("u"))
      .join(li.select($"ok", $"pk".as("v")), Seq("ok"))
      .where($"u" < $"v")
      .groupBy($"u", $"v").agg(count(lit(1)).as("w"))
      .where($"w" >= minOrders)
      .select($"u", $"v")
  }

  /** B16 (r7): connected components of the strong co-purchase graph —
    * the product-affinity clusters a recommender or assortment planner
    * reads off the graph. Components come from the large-star/small-star
    * algorithm ([[graft.dedup.Dedup.connectedComponentsStar]], Kiveris
    * et al.): O(log n) rounds REGARDLESS of diameter — the support
    * threshold leaves a sparse graph whose giant component can be
    * long-chained, exactly the regime where min-label propagation's
    * O(diameter) rounds lose. Size attribution is a combinable count
    * joined back on the label, never a window over the (hot) giant
    * component. Output: every non-isolated vertex with its component's
    * canonical (minimum-id) representative and size. */
  def componentsOf(edgeSet: DataFrame): DataFrame = {
    val labels = graft.dedup.Dedup.connectedComponentsStar(
      edgeSet.select(col("u").as("a"), col("v").as("b")))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("component_size"))
    labels.join(sizes, "label")
      .select(col("u").as("part_key"), col("label").as("component_rep"),
        col("component_size"))
      .orderBy(col("part_key"))
  }

  /** Gate constant: minOrders=2 keeps 3445 of ~340k sf0.01 pairs —
    * 6 pair-components, one triple, one 5-chain, and a 1860-vertex giant
    * component (the robust mixed regime: neither all-singletons nor one
    * blob). */
  private val ComponentsMinOrders = 2

  /** Materialize-once support-≥2 strong edge table (shared by
    * b16_components and b16_link_predict). */
  private def strongEdges(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, s"strong_edges_m$ComponentsMinOrders") {
      weightedCopurchaseEdges(s, dir, ComponentsMinOrders).repartition(col("u"))
    }

  def componentsQuery(s: SparkSession, dir: String): DataFrame =
    componentsOf(strongEdges(s, dir))

  /** B16 (r7 cont.): bounded-hop BFS reachability profile from the
    * graph's busiest vertex — "how much of the catalog is within h
    * hops of the hub product": per-distance vertex counts for
    * distances 0..`rounds`, plus one `dist = -1` row for vertices not
    * reached within the horizon (always emitted, 0-count included, so
    * the gate covers the whole vertex universe). The seed is the
    * max-degree vertex with a (degree DESC, vertex) tie-break — total
    * and replayable, no collect.
    *
    * Scale shape: per round ONE frontier semi-join against the
    * symmetric neighbor table + distinct + one anti-join against the
    * (vertex-sized) visited set — O(rounds) shuffles with per-round
    * lineage cuts, the kCore/lpa iterative discipline; never a
    * transitive-closure materialization (contrast w06's closure, which
    * is the right tool only on the small curated hierarchy). Bounded
    * rounds keep the oracle an unrolled CTE chain; an unbounded BFS at
    * 100 TB runs the same loop to frontier-exhaustion with the
    * frontier count as the convergence probe. */
  /** Symmetric neighbor table of an undirected edge set. */
  private def symOf(edgeSet: DataFrame): DataFrame =
    edgeSet.select(col("u").as("x"), col("v").as("nbr"))
      .unionAll(edgeSet.select(col("v").as("x"), col("u").as("nbr")))

  /** The deterministic BFS seed: max-degree vertex, (degree DESC, id)
    * tie-break — total and replayable, no collect. */
  private def hubSeed(sym: DataFrame): DataFrame =
    sym.groupBy(col("x")).agg(count(lit(1)).as("d"))
      .agg(min_by(col("x"), struct((-col("d")).as("nd"), col("x"))).as("x"))

  /** Bounded-round frontier BFS from a 1-row seed frame — the shared
    * kernel of [[bfsOf]] and [[diameterBoundOf]]: per round one
    * frontier semi-join + distinct + one anti-join against the visited
    * set, lineage cut per round. */
  private def distancesFrom(sym: DataFrame, seed: DataFrame,
      rounds: Int): DataFrame = {
    var dist = seed.select(col("x"), lit(0).as("dist")).transform(Cut.eager)
    for (i <- 1 to rounds) {
      val frontier = dist.filter(col("dist") === i - 1).select(col("x"))
      val next = sym.join(frontier, Seq("x"), "left_semi")
        .select(col("nbr").as("x")).distinct()
        .join(dist.select(col("x")), Seq("x"), "left_anti")
        .select(col("x"), lit(i).as("dist"))
      dist = dist.unionAll(next).transform(Cut.eager)
    }
    dist
  }

  def bfsOf(edgeSet: DataFrame, rounds: Int): DataFrame = {
    val sym = symOf(edgeSet).transform(Cut.eager)
    val dist = distancesFrom(sym, hubSeed(sym), rounds)
    val hist = dist.groupBy(col("dist")).agg(count(lit(1)).as("n_vertices"))
    val unreached = sym.select(col("x")).distinct()
      .join(dist.select(col("x")), Seq("x"), "left_anti")
      .agg(count(lit(1)).as("n_vertices"))
      .select(lit(-1).as("dist"), col("n_vertices"))
    unreached.unionAll(hist).orderBy(col("dist"))
  }

  /** Gate constant: 4 hops from the strong graph's hub reach most of
    * the giant component while leaving a real frontier tail and the
    * small components unreached — the robust mixed regime. */
  private val BfsRounds = 4

  def bfsQuery(s: SparkSession, dir: String): DataFrame =
    bfsOf(strongEdges(s, dir), BfsRounds)

  /** B16 (r8): diameter LOWER BOUND via the double-sweep heuristic
    * (Magnien/Latapy/Habib, JEA 2009 — the standard cheap diameter
    * estimator): BFS from the hub, then BFS again from the FARTHEST
    * vertex found ((dist DESC, id) argmax — total); the second sweep's
    * eccentricity is a certified lower bound on the graph's diameter,
    * usually tight in practice. Bounded rounds give the same horizon
    * CONTRACT as [[ssspOf]]: each sweep's max_dist is exact over
    * ≤`rounds`-hop paths, so the bound is valid at any horizon (it can
    * only grow with more rounds). Cost is exactly two runs of the
    * [[distancesFrom]] kernel; the summary is two 1-row aggregates. */
  def diameterBoundOf(edgeSet: DataFrame, rounds: Int): DataFrame = {
    val sym = symOf(edgeSet).transform(Cut.eager)
    val seed1 = hubSeed(sym)
    val d1 = distancesFrom(sym, seed1, rounds)
    val seed2 = d1.agg(
      min_by(col("x"), struct((-col("dist")).as("nd"), col("x"))).as("x"))
    val d2 = distancesFrom(sym, seed2, rounds)
    def sweep(n: Int, d: DataFrame, seed: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_reached"), max(col("dist")).as("max_dist"))
        .crossJoin(seed.toDF("seed")) // 1-row seed side
        .select(lit(n).as("sweep"), col("seed"), lit(rounds).as("horizon"),
          col("n_reached"), col("max_dist"))
    sweep(1, d1, seed1).unionAll(sweep(2, d2, seed2)).orderBy(col("sweep"))
  }

  def diameterBoundQuery(s: SparkSession, dir: String): DataFrame =
    diameterBoundOf(strongEdges(s, dir), BfsRounds)

  /** The strong co-purchase graph WITH its affinity weight, as integer
    * edge lengths len = 10⁶ div w (more shared orders ⇒ shorter edge) —
    * path lengths then sum in exact BIGINTs. Same materialize-once
    * snapshot discipline as [[strongEdges]]. */
  private def weightedStrongLengths(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, s"strong_lengths_m$ComponentsMinOrders") {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      li.select($"ok", $"pk".as("u"))
        .join(li.select($"ok", $"pk".as("v")), Seq("ok"))
        .where($"u" < $"v")
        .groupBy($"u", $"v").agg(count(lit(1)).as("w"))
        .where($"w" >= ComponentsMinOrders)
        .select($"u", $"v", expr("1000000 div w").as("len"))
        .repartition($"u")
    }

  /** Gate constant: distances after round i are EXACT shortest over
    * paths of ≤ i edges — semantics well-defined at any horizon, so the
    * bounded-round result is a contract, not an approximation. 4 rounds
    * matches the BFS reachability horizon. */
  private val SsspRounds = 4

  /** B16 (r8): weighted single-source shortest paths from the hub —
    * BFS's metric upgrade: hop counts ignore affinity strength, so the
    * "closest" products to the hub under hops and under edge LENGTH
    * (10⁶/co-order-count — strong ties are short) genuinely differ, and
    * a recommender walks the weighted metric. Synchronous bounded-round
    * Bellman-Ford relaxation: per round, every known distance flows
    * across the symmetric edge table once and a combinable MIN folds
    * arrivals — dist_i(v) = exact shortest ≤i-edge path, all-integer.
    * No priority queue (Dijkstra's sequential frontier is the
    * order-dependence this engine's gates exclude); the round-synchronous
    * form is the distributed classic (Pregel's SSSP example), O(rounds)
    * shuffles with per-round lineage cuts, each round ONE equi-join of
    * the edge table against the vertex-sized dist table. Oracle: the
    * relaxation chain unrolled (the bfs/lpa device). */
  def ssspOf(wEdges: DataFrame, rounds: Int): DataFrame = {
    val sym = wEdges.select(col("u").as("x"), col("v").as("nbr"), col("len"))
      .unionAll(wEdges.select(col("v").as("x"), col("u").as("nbr"), col("len")))
      .transform(Cut.eager)
    val seed = sym.groupBy(col("x")).agg(count(lit(1)).as("d"))
      .agg(min_by(col("x"), struct((-col("d")).as("nd"), col("x"))).as("x"))
    var dist = seed.select(col("x"), lit(0L).as("dist")).transform(Cut.eager)
    for (_ <- 1 to rounds) {
      val relaxed = sym.join(dist, Seq("x"))
        .select(col("nbr").as("x"), (col("dist") + col("len")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("x")).agg(min(col("dist")).as("dist"))
        .transform(Cut.eager)
    }
    dist.select(col("x").as("part_key"), col("dist").as("dist_micro"))
      .orderBy(col("part_key"))
  }

  def ssspQuery(s: SparkSession, dir: String): DataFrame =
    ssspOf(weightedStrongLengths(s, dir), SsspRounds)

  /** B16 (r7): common-neighbor link prediction over the strong
    * co-purchase graph — the classic candidate generator for "customers
    * who bought X also ended up buying Y": rank NON-adjacent vertex
    * pairs at distance 2 by how many neighbors they share (Liben-Nowell
    * & Kleinberg's common-neighbours predictor, the baseline every link-
    * prediction system starts from). Output: top-k (u, v) non-edges by
    * shared-neighbor count, ties broken by (u, v) so the cut is total
    * and replayable.
    *
    * Scale shape: wedge enumeration is Σ C(deg, 2) over the STRONG
    * graph — the support cut (the b16_components argument) prunes the
    * quadratic noise floor BEFORE the wedge stage, exactly how
    * production candidate generators bound this step (threshold or
    * degree-cap first, then enumerate). The wedge join shuffles on the
    * center vertex; the pair count is map-side combinable; existing
    * edges leave via one anti-join against the (far smaller) strong
    * edge set. Never an all-pairs product. */
  def linkPredictOf(edgeSet: DataFrame, k: Int): DataFrame = {
    val nbr = edgeSet.select(col("u").as("w"), col("v").as("x"))
      .unionAll(edgeSet.select(col("v").as("w"), col("u").as("x")))
    val wedges = nbr.join(nbr.select(col("w"), col("x").as("y")), "w")
      .where(col("x") < col("y"))
    wedges.groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_common"))
      .join(edgeSet, col("x") === col("u") && col("y") === col("v"), "left_anti")
      .select(col("x").as("part_u"), col("y").as("part_v"), col("n_common"))
      .orderBy(col("n_common").desc, col("part_u"), col("part_v"))
      .limit(k)
  }

  def linkPredictQuery(s: SparkSession, dir: String): DataFrame =
    linkPredictOf(strongEdges(s, dir), 20)

  /** B16 (r7): resource-allocation link prediction (Zhou, Lü & Zhang
    * 2009) — the degree-discounted refinement of common-neighbours:
    * each shared neighbor z contributes 1/deg(z), so a promiscuous hub
    * vouches for a pair far less than a selective one (RA beats raw CN
    * on most benchmark graphs for exactly this reason). Served as the
    * exact integer Σ (10⁹ div deg(z)) — per-wedge floor division, so
    * the score and its top-k cut replay bit-identically cross-engine
    * (the b16_clustering ppb device; Adamic-Adar's 1/log deg would land
    * on engine libm and could never hash-gate).
    *
    * Scale shape: identical to [[linkPredictOf]] — the center-degree
    * join keys on the wedge CENTER (one extra broadcast-or-equi join of
    * the degree table before wedge expansion, so each wedge row carries
    * its contribution), support cut before enumeration, combinable
    * (sum, count) aggregate, one anti-join. */
  def resourceAllocOf(edgeSet: DataFrame, k: Int): DataFrame = {
    val nbr = edgeSet.select(col("u").as("w"), col("v").as("x"))
      .unionAll(edgeSet.select(col("v").as("w"), col("u").as("x")))
    val deg = degreesOf(edgeSet).select(col("p").as("w"), col("degree"))
    val contrib = nbr.join(deg, "w")
      .select(col("w"), col("x"),
        expr("CAST(1000000000 AS BIGINT) DIV degree").as("c_ppb"))
    val wedges = contrib.join(contrib.select(col("w"), col("x").as("y")), "w")
      .where(col("x") < col("y"))
    wedges.groupBy(col("x"), col("y"))
      .agg(sum(col("c_ppb")).as("ra_ppb"), count(lit(1)).as("n_common"))
      .join(edgeSet, col("x") === col("u") && col("y") === col("v"), "left_anti")
      .select(col("x").as("part_u"), col("y").as("part_v"),
        col("ra_ppb"), col("n_common"))
      .orderBy(col("ra_ppb").desc, col("part_u"), col("part_v"))
      .limit(k)
  }

  def resourceAllocQuery(s: SparkSession, dir: String): DataFrame =
    resourceAllocOf(strongEdges(s, dir), 20)

  /** B16 (r7): 4-cycle (square) census over the strong graph — the
    * second motif count every graph profile reports beside triangles:
    * squares measure bipartite-style redundancy (two products bought
    * together indirectly through TWO distinct co-purchase partners),
    * the signal behind rectangle-based recommendation and bipartite
    * community detection. A square is an unordered vertex pair plus two
    * distinct common neighbors, so the census derives from the
    * codegree table: Σ C(codeg, 2) over all pairs counts every square
    * exactly twice (once per diagonal), hence the final halving.
    * Output: diagonals (pairs with ≥ 2 common neighbors), the exact
    * square count, and the peak codegree.
    *
    * Scale shape: identical to [[linkPredictOf]] — the codegree table
    * IS the wedge aggregation that stage already runs (Σ C(deg, 2)
    * wedges over the support-cut strong graph, center-keyed shuffle,
    * map-side-combinable count); the census is then one combinable
    * aggregate over the pair table. Exact integers throughout —
    * C(c, 2) per row is even·odd/2, and Σ C(c, 2) = 2·squares by the
    * double-count argument, so both floor divisions are exact. */
  def squaresOf(edgeSet: DataFrame): DataFrame = {
    val nbr = edgeSet.select(col("u").as("w"), col("v").as("x"))
      .unionAll(edgeSet.select(col("v").as("w"), col("u").as("x")))
    val wedges = nbr.join(nbr.select(col("w"), col("x").as("y")), "w")
      .where(col("x") < col("y"))
    val cd = wedges.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    cd.agg(count(lit(1)).as("n_diagonals"),
        sum(expr("(c * (c - 1)) DIV 2")).as("s2"),
        max(col("c")).as("max_codegree"))
      .select(col("n_diagonals"), expr("s2 DIV 2").as("n_squares"),
        col("max_codegree"))
  }

  def squaresQuery(s: SparkSession, dir: String): DataFrame =
    squaresOf(strongEdges(s, dir))

  /** B16 (r7): HITS hub/authority scores (Kleinberg 1999) over the
    * DIRECTED buyer→part bipartite graph — the eigen-pair family member
    * beside PageRank (w07): a part is authoritative when bought by
    * hubby buyers, a buyer hubby when buying authoritative parts.
    * Declared semantics are TWO synchronous unrolled rounds from h≡1
    * (the fixed-round LPA device) with NO normalization: the usual
    * per-round rescale is a uniform positive scalar, so for any fixed
    * round count it changes no ranking and dropping it keeps every
    * score an exact BIGINT (a1 = in-degree; h1 = Σ a1 over the buyer's
    * parts; a2 = Σ h1 over the part's buyers) — bounded by
    * maxdeg³·|E|, nowhere near overflow. Iterating to the principal
    * eigenvector would need float normalization (the w07 treatment);
    * two rounds already separate "popular" from "bought by heavy
    * multi-category buyers", which is the readout this gate pins.
    *
    * Scale shape: the edge build is the order-keyed join + distinct of
    * the co-purchase builder; each round is ONE equi-join against the
    * previous score table + one map-side-combinable sum — PageRank's
    * per-round shape, no new machinery. */
  def hitsOf(edges0: DataFrame, k: Int): DataFrame = {
    // r17 (guide §2.4): the edge table feeds THREE joins and its builder
    // (orders ⋈ lineitem + distinct) is the query's expensive subplan —
    // materialize once; a1 likewise feeds the h1 round AND the readout.
    val edges = edges0.transform(Cut.eager)
    val a1 = edges.groupBy(col("p")).agg(count(lit(1)).as("a1"))
      .transform(Cut.eager)
    val h1 = edges.join(a1, "p").groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    val a2 = edges.join(h1, "c").groupBy(col("p")).agg(sum(col("h1")).as("a2"))
    a2.join(a1, "p")
      .select(col("p").as("part_key"), col("a1").as("n_buyers"), col("a2").as("authority2"))
      .orderBy(col("authority2").desc, col("part_key"))
      .limit(k)
  }

  private[ops] def buyerPartEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select($"o_orderkey".as("ok"), $"o_custkey".as("c"))
      .join(Tables.lineitem(s, dir).select($"l_orderkey".as("ok"), $"l_partkey".as("p")),
        Seq("ok"))
      .select($"c", $"p").distinct()
  }

  def hitsQuery(s: SparkSession, dir: String): DataFrame =
    hitsOf(buyerPartEdges(s, dir), 20)

  /** B16 (r7): Newman-Girvan modularity of the LPA communities — THE
    * community-quality number (how much denser inside communities than
    * a degree-preserving random graph): Q = Σ_c [m_c/m − (d_c/2m)²].
    * Served per community with the n-scaled EXACT contribution
    * 4·m·m_c − d_c² (BIGINT — m is thousands, no overflow) and the
    * one-division IEEE q_contrib (the assortativity device; Q itself
    * is the gated column sum). Completes the community family's
    * acceptance story: detector (b16_lpa) + quality gate (this) — the
    * same detector/report pairing as kmeans/inertia and the ANN recall
    * gates.
    *
    * Scale: two label equi-joins onto the edge set + one degree join +
    * combinable per-community aggregates — nothing beyond the LPA
    * round shape; the edge count is ONE driver scalar (metadata). */
  def modularityOf(edgeSet: DataFrame, rounds: Int): DataFrame = {
    val edges = edgeSet.transform(Cut.eager) // m + intra + degrees consume it
    val labels = lpaOf(edges, rounds)
      .select(col("part_key").as("p"), col("community"))
      .transform(Cut.eager)
    val m = edges.count()
    val intra = edges
      .join(labels.select(col("p").as("u"), col("community").as("cu")), "u")
      .join(labels.select(col("p").as("v"), col("community").as("cv")), "v")
      .where(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("intra_edges"))
    val ds = degreesOf(edges).join(labels, "p")
      .groupBy(col("community"))
      .agg(sum(col("degree")).as("degree_sum"), count(lit(1)).as("n_members"))
    ds.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"))
      .withColumn("contribution_scaled",
        lit(4L * m) * col("intra_edges") - col("degree_sum") * col("degree_sum"))
      .withColumn("q_contrib",
        col("contribution_scaled").cast("double") / lit(4.0 * m * m))
      .orderBy(col("community"))
  }

  def modularityQuery(s: SparkSession, dir: String): DataFrame =
    modularityOf(strongEdges(s, dir), LpaRounds)

  /** E6 (r7 cont.): the SIXTH flagship — a graph-analytics MART build,
    * the composition a BI team actually ships: detect product
    * communities on the strong co-purchase graph ([[lpaOf]], the
    * audited 4-round synchronous kernel), then attribute LINEITEM
    * revenue to each community and serve the ranked mart (members,
    * line count, exact revenue cents, ppb revenue share). The whole
    * pipeline — edge build → LPA rounds → revenue join → shares —
    * hash-gates as ONE query via the shared [[lpaChainCtes]] oracle
    * fragment (the kMeansCtes no-drift discipline).
    *
    * Scale shape: the revenue join keys on l_partkey against the
    * (vertex-sized) label table — at 100 TB a broadcast of labels or a
    * bucketed co-partitioning, never a shuffle of lineitem onto the
    * graph; the mart axis is community-bounded. */
  def communityMartQuery(s: SparkSession, dir: String): DataFrame =
    communityMartOn(strongEdges(s, dir), Tables.lineitem(s, dir))

  /** The mart over an explicit edge set + lineitem frame. */
  def communityMartOn(edgeSet: DataFrame, lineitem: DataFrame): DataFrame = {
    import edgeSet.sparkSession.implicits._
    val labels = lpaOf(edgeSet, LpaRounds)
      .select($"part_key".as("l_partkey"), $"community")
      .transform(Cut.eager)
    val sizes = labels.groupBy($"community").agg(count(lit(1)).as("n_members"))
    val li = lineitem.select($"l_partkey",
      ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val rev = li.join(labels, Seq("l_partkey"))
      .groupBy($"community")
      .agg(count(lit(1)).as("n_lineitems"), sum($"cents").as("revenue_cents"))
    val tot = rev.agg(sum($"revenue_cents").as("t"))
    sizes.join(rev, Seq("community"), "left")
      .crossJoin(broadcast(tot))
      .select($"community", $"n_members",
        coalesce($"n_lineitems", lit(0L)).as("n_lineitems"),
        coalesce($"revenue_cents", lit(0L)).as("revenue_cents"),
        // revenue_cents·10⁹ passes 2⁶³ at sf0.01 already — the share is
        // exact integer math widened through DECIMAL(38,0) (`div` takes
        // the integral part; the oracle widens through HUGEINT)
        expr("""CAST((CAST(coalesce(revenue_cents, 0) AS DECIMAL(38,0))
                     * 1000000000) div CAST(t AS DECIMAL(38,0)) AS BIGINT)""")
          .as("share_ppb"))
      .orderBy($"community")
  }

  /** B16 (r7): the one-row graph profile card — the summary every graph
    * system prints before any analysis runs: order, size, peak degree,
    * density, triangle count, and the GLOBAL clustering coefficient
    * 3·triangles / wedges (transitivity — how often two co-purchase
    * partners are themselves co-purchased). All exact integers with ppb
    * floor divisions; triangle and wedge counts reuse the materialized
    * listing and the degree table (zero new kernels — the card is three
    * 1-row aggregates cross-joined). 2·m·10⁹ stays under 2⁶³ through
    * sf1-scale edge counts; beyond that the same expressions emit
    * DECIMAL(38,0). */
  def graphSummaryQuery(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(s, dir)
    val em = edges.agg(count(lit(1)).as("n_edges"))
    val ds = degreesOf(edges).agg(
      count(lit(1)).as("n_vertices"),
      max(col("degree")).as("max_degree"),
      sum(expr("(degree * (degree - 1)) DIV 2")).as("n_wedges"))
    val tr = triangleListing(s, dir)
      .agg(coalesce(sum(size(col("common")).cast("long")), lit(0L))
        .as("n_triangles"))
    ds.crossJoin(broadcast(em)).crossJoin(broadcast(tr))
      .select(col("n_vertices"), col("n_edges"), col("max_degree"),
        // DECIMAL(38) products (r9, Relational.psiDriftQuery note):
        // n_edges·10⁹ AND the n_vertices² denominator both wrap int64
        // at graph scale; n_wedges already sums degree² terms
        expr("(CAST(2 AS DECIMAL(38,0)) * n_edges * 1000000000)" +
          " div (CAST(n_vertices AS DECIMAL(38,0)) * (n_vertices - 1))")
          .as("density_ppb"),
        col("n_triangles"),
        expr("(CAST(3 AS DECIMAL(38,0)) * n_triangles * 1000000000) div n_wedges")
          .as("global_clustering_ppb"))
  }

  /** B16 (r7): degree assortativity (Newman 2002) — the one-number
    * mixing summary every graph profile reports: the Pearson correlation
    * of endpoint degrees over edges (positive = hubs attach to hubs,
    * social-network-like; negative = hub-and-spoke, web/biology-like).
    * Tells you up front whether hub mitigation (orientation, salting)
    * will matter downstream.
    *
    * Exactness: each undirected edge contributes both (du, dv) and
    * (dv, du) — the standard symmetrization — and all five moments are
    * exact BIGINT sums (the b04 exact-moment corr pattern); the single
    * final double expression (M·Σxy − Σx·Σy) / (M·Σxx − Σx²) replays
    * bit-identically cross-engine (x/y marginals coincide under
    * symmetrization, so the usual sqrt·sqrt denominator reduces to one
    * integer term). Two degree joins + one combinable aggregate — no
    * new shuffle shape beyond the triangle kernel's first stage. */
  def assortativityOf(edgeSet: DataFrame): DataFrame = {
    val deg = degreesOf(edgeSet)
    val withDeg = edgeSet
      .join(deg.select(col("p").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("p").as("v"), col("degree").as("dv")), "v")
    val sym = withDeg.select(col("du").as("x"), col("dv").as("y"))
      .unionAll(withDeg.select(col("dv").as("x"), col("du").as("y")))
    sym.agg(
        count(lit(1)).as("m2"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("m2"), col("sx"), col("sxx"), col("sxy"),
        (( col("m2") * col("sxy") - col("sx") * col("sx")).cast("double") /
         ( col("m2") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
  }

  def assortativityQuery(s: SparkSession, dir: String): DataFrame =
    assortativityOf(copurchaseEdges(s, dir))

  def edgeJaccardQuery(s: SparkSession, dir: String): DataFrame =
    overTriangleSnapshot(s, dir)(edgeJaccardTopK(20))

  def clusteringQuery(s: SparkSession, dir: String): DataFrame =
    overTriangleSnapshot(s, dir)(clusteringTopK(20))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b16_degree_hist" -> ((s, dir) => degreeHistogram(s, dir)),
    "b16_triangles" -> ((s, dir) => triangleParticipation(s, dir)),
    "b16_kcore" -> (kCoreQuery _),
    "b16_ktruss" -> (kTrussQuery _),
    "b16_edge_jaccard" -> (edgeJaccardQuery _),
    "b16_clustering" -> (clusteringQuery _),
    "b16_components" -> (componentsQuery _),
    "b16_bfs" -> (bfsQuery _),
    "b16_sssp" -> (ssspQuery _),
    "b16_diameter_bound" -> (diameterBoundQuery _),
    "b16_lpa" -> (lpaQuery _),
    "b16_link_predict" -> (linkPredictQuery _),
    "b16_resource_alloc" -> (resourceAllocQuery _),
    "b16_squares" -> (squaresQuery _),
    "b16_hits" -> (hitsQuery _),
    "b16_modularity" -> (modularityQuery _),
    "e06_community_mart" -> (communityMartQuery _),
    "b16_summary" -> (graphSummaryQuery _),
    "b16_assortativity" -> (assortativityQuery _),
  )

  /** Shared oracle fragments (one definition, every consumer — the
    * b12-ivf factoring discipline): the naive u<v orientation is used
    * throughout; the triangle SET is orientation-invariant, so counts
    * hash-match while the Spark plan keeps the degree-oriented shape
    * that survives hubs. In `OracleTri` the join orientation forces
    * a < b < c, so the per-triangle edge pairs (a,b), (a,c), (b,c) are
    * already (min, max)-normalized. */
  private val OracleEdges = """
      li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)"""
  private val OracleDegs = """
      degs AS (SELECT p, COUNT(*) AS degree FROM (
                 SELECT u AS p FROM edges UNION ALL SELECT v AS p FROM edges)
               GROUP BY p)"""
  private val OracleTri = """
      tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM edges e1 JOIN edges e2 ON e1.v = e2.u
              JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)"""

  /** The synchronous-LPA round chain unrolled ([[LpaRounds]] rounds) —
    * per round the (vertex, neighbor-label) count and the
    * (cnt DESC, label) argmax, replaying [[lpaOf]]'s min_by struct
    * order exactly (the kCore/kTruss unrolled-replay device). */
  /** The synchronous-LPA CTE chain through `l{LpaRounds}` — ONE
    * definition shared by the lpa and modularity oracles (the
    * kMeansCtes factoring discipline). */
  private def lpaChainCtes: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""c$i AS (SELECT s.x, l.label, COUNT(*) AS cnt
              FROM sym s JOIN l${i - 1} l ON l.x = s.nbr GROUP BY s.x, l.label),
      l$i AS (SELECT x, label FROM (
                SELECT x, label, ROW_NUMBER() OVER (PARTITION BY x
                  ORDER BY cnt DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n      ")
    s"""$OracleStrongEdges,
      sym AS (SELECT u AS x, v AS nbr FROM we UNION ALL SELECT v AS x, u AS nbr FROM we),
      l0 AS (SELECT DISTINCT x, x AS label FROM sym),
      $rounds"""
  }

  private def lpaOracleSql: String = s"""
      WITH $lpaChainCtes,
      sizes AS (SELECT label, COUNT(*) AS community_size FROM l$LpaRounds GROUP BY label)
      SELECT l.x AS part_key, l.label AS community, s.community_size
      FROM l$LpaRounds l JOIN sizes s USING (label)
      ORDER BY part_key"""

  private def modularityOracleSql: String = s"""
      WITH $lpaChainCtes,
      lab AS (SELECT x AS p, label AS community FROM l$LpaRounds),
      mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM we),
      intra AS (SELECT lu.community, CAST(COUNT(*) AS BIGINT) AS intra_edges
                FROM we JOIN lab lu ON lu.p = we.u JOIN lab lv ON lv.p = we.v
                WHERE lu.community = lv.community GROUP BY 1),
      deg AS (SELECT p, COUNT(*) AS degree FROM (
                SELECT u AS p FROM we UNION ALL SELECT v AS p FROM we) GROUP BY p),
      ds AS (SELECT lab.community, CAST(SUM(deg.degree) AS BIGINT) AS degree_sum,
               CAST(COUNT(*) AS BIGINT) AS n_members
             FROM deg JOIN lab ON lab.p = deg.p GROUP BY 1)
      SELECT ds.community, ds.n_members,
        COALESCE(i.intra_edges, 0) AS intra_edges, ds.degree_sum,
        CAST(4 * mm.m * COALESCE(i.intra_edges, 0)
             - ds.degree_sum * ds.degree_sum AS BIGINT) AS contribution_scaled,
        CAST(4 * mm.m * COALESCE(i.intra_edges, 0)
             - ds.degree_sum * ds.degree_sum AS DOUBLE)
          / (4.0 * mm.m * mm.m) AS q_contrib
      FROM ds LEFT JOIN intra i USING (community) CROSS JOIN mm
      ORDER BY ds.community"""

  /** Strong (support-≥ [[ComponentsMinOrders]]) edge CTE — one
    * definition shared by the components and link-predict oracles. */
  private val OracleStrongEdges = s"""
      li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      we AS (SELECT a.pk AS u, b.pk AS v
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             GROUP BY a.pk, b.pk HAVING COUNT(*) >= $ComponentsMinOrders)"""

  /** The BFS frontier chain unrolled ([[BfsRounds]] rounds) — per round
    * the frontier's neighbor set minus the visited set, replaying
    * [[bfsOf]] exactly (the kCore/lpa unrolled-replay device). */
  /** One unrolled BFS frontier chain `${pre}d0..${pre}dR` from a 1-row
    * seed CTE — shared by the b16_bfs and b16_diameter_bound oracles
    * (pre = "" keeps the original b16_bfs CTE names). */
  private def bfsChainSql(pre: String, seedCte: String): String = {
    // each d_i references d_{i-1} TWICE (carry + NOT IN); without
    // MATERIALIZED DuckDB inlines the chain into 2^rounds scans of the
    // base table — one chain survived it, the diameter oracle's two
    // chains blew the fd limit. Purely a planning hint; values unchanged.
    val rounds = (1 to BfsRounds).map { i =>
      s"""${pre}f$i AS MATERIALIZED (SELECT DISTINCT s.nbr AS x
              FROM sym s JOIN ${pre}d${i - 1} d ON d.x = s.x AND d.dist = ${i - 1}),
      ${pre}d$i AS MATERIALIZED (SELECT x, dist FROM ${pre}d${i - 1} UNION ALL
              SELECT ${pre}f$i.x, $i AS dist FROM ${pre}f$i
              WHERE ${pre}f$i.x NOT IN (SELECT x FROM ${pre}d${i - 1}))"""
    }.mkString(",\n      ")
    s"""${pre}d0 AS MATERIALIZED (SELECT x, 0 AS dist FROM $seedCte),
      $rounds"""
  }

  /** Shared sym/degs/seed preamble of the BFS-family oracles. */
  private def bfsPreambleSql: String = s"""
      $OracleStrongEdges,
      sym AS (SELECT u AS x, v AS nbr FROM we UNION ALL SELECT v AS x, u AS nbr FROM we),
      degs AS (SELECT x, COUNT(*) AS d FROM sym GROUP BY x),
      seed AS (SELECT x FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY d DESC, x) AS rn
                              FROM degs) WHERE rn = 1)"""

  private def diameterBoundOracleSql: String = s"""
      WITH $bfsPreambleSql,
      ${bfsChainSql("", "seed")},
      s2 AS (SELECT x FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY dist DESC, x) AS rn
                            FROM d$BfsRounds) WHERE rn = 1),
      ${bfsChainSql("e", "s2")},
      a1 AS (SELECT 1 AS sweep, (SELECT x FROM seed) AS seed,
               $BfsRounds AS horizon, CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(MAX(dist) AS INT) AS max_dist FROM d$BfsRounds),
      a2 AS (SELECT 2 AS sweep, (SELECT x FROM s2) AS seed,
               $BfsRounds AS horizon, CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(MAX(dist) AS INT) AS max_dist FROM ed$BfsRounds)
      SELECT sweep, seed, horizon, n_reached, max_dist
      FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
      ORDER BY sweep"""

  private def bfsOracleSql: String = {
    s"""
      WITH $bfsPreambleSql,
      ${bfsChainSql("", "seed")},
      hist AS (SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_vertices
               FROM d$BfsRounds GROUP BY dist),
      unre AS (SELECT -1 AS dist, CAST(COUNT(*) AS BIGINT) AS n_vertices
               FROM (SELECT DISTINCT x FROM sym) v
               WHERE v.x NOT IN (SELECT x FROM d$BfsRounds))
      SELECT CAST(dist AS INT) AS dist, n_vertices
      FROM (SELECT * FROM unre UNION ALL SELECT * FROM hist)
      ORDER BY dist"""
  }

  /** The Bellman-Ford relaxation chain unrolled ([[SsspRounds]] rounds):
    * per round, known distances flow across `symw` once and MIN folds —
    * the literal replay of [[ssspOf]]. */
  private def ssspOracleSql: String = {
    val rounds = (1 to SsspRounds).map { i =>
      s"""d$i AS (SELECT x, MIN(dist) AS dist FROM (
              SELECT x, dist FROM d${i - 1}
              UNION ALL
              SELECT s.nbr AS x, d.dist + s.len AS dist
              FROM symw s JOIN d${i - 1} d ON d.x = s.x) GROUP BY x)"""
    }.mkString(",\n      ")
    s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      wl AS (SELECT a.pk AS u, b.pk AS v,
               CAST(1000000 // COUNT(*) AS BIGINT) AS len
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             GROUP BY a.pk, b.pk HAVING COUNT(*) >= $ComponentsMinOrders),
      symw AS (SELECT u AS x, v AS nbr, len FROM wl
               UNION ALL SELECT v AS x, u AS nbr, len FROM wl),
      degs AS (SELECT x, COUNT(*) AS d FROM symw GROUP BY x),
      seed AS (SELECT x FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY d DESC, x) AS rn
                              FROM degs) WHERE rn = 1),
      d0 AS (SELECT x, CAST(0 AS BIGINT) AS dist FROM seed),
      $rounds
      SELECT x AS part_key, dist AS dist_micro FROM d$SsspRounds
      ORDER BY part_key"""
  }

  val oracles: Map[String, String] = Map(
    "b16_bfs" -> bfsOracleSql,
    "b16_sssp" -> ssspOracleSql,
    "b16_diameter_bound" -> diameterBoundOracleSql,
    "b16_degree_hist" -> s"""
      WITH $OracleEdges, $OracleDegs
      SELECT degree, COUNT(*) AS n_parts FROM degs GROUP BY degree ORDER BY degree
    """,
    "b16_triangles" -> s"""
      WITH $OracleEdges, $OracleTri,
      parts AS (SELECT unnest([a, b, c]) AS part_key FROM tri)
      SELECT part_key, COUNT(*) AS n_triangles FROM parts
      GROUP BY part_key ORDER BY n_triangles DESC, part_key LIMIT 20
    """,
    "b16_kcore" -> kCoreOracleSql,
    "b16_ktruss" -> kTrussOracleSql,
    "b16_lpa" -> lpaOracleSql,
    "b16_modularity" -> modularityOracleSql,
    // the full mart: shared LPA chain + exact-cents revenue attribution
    "e06_community_mart" -> s"""
      WITH $lpaChainCtes,
      lab AS (SELECT x AS p, label AS community FROM l$LpaRounds),
      sizes AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_members
                FROM lab GROUP BY 1),
      lir AS (SELECT l_partkey,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
             FROM lineitem),
      rev AS (SELECT lab.community, CAST(COUNT(*) AS BIGINT) AS n_lineitems,
                CAST(SUM(lir.cents) AS BIGINT) AS revenue_cents
              FROM lir JOIN lab ON lab.p = lir.l_partkey GROUP BY 1),
      tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS t FROM rev)
      SELECT s.community, s.n_members,
        COALESCE(r.n_lineitems, 0) AS n_lineitems,
        COALESCE(r.revenue_cents, 0) AS revenue_cents,
        CAST((CAST(COALESCE(r.revenue_cents, 0) AS HUGEINT) * 1000000000)
             // tot.t AS BIGINT) AS share_ppb
      FROM sizes s LEFT JOIN rev r USING (community) CROSS JOIN tot
      ORDER BY community""",
    "b16_summary" -> s"""
      WITH $OracleEdges, $OracleDegs, $OracleTri,
      em AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
      ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
               CAST(MAX(degree) AS BIGINT) AS max_degree,
               CAST(SUM((degree * (degree - 1)) // 2) AS BIGINT) AS n_wedges
             FROM degs),
      tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri)
      SELECT ds.n_vertices, em.n_edges, ds.max_degree,
        (2 * em.n_edges * 1000000000) // (ds.n_vertices * (ds.n_vertices - 1)) AS density_ppb,
        tr.n_triangles,
        (3 * tr.n_triangles * 1000000000) // ds.n_wedges AS global_clustering_ppb
      FROM ds CROSS JOIN em CROSS JOIN tr
    """,
    "b16_edge_jaccard" -> s"""
      WITH $OracleEdges, $OracleDegs, $OracleTri,
      tedges AS (SELECT a AS u, b AS v FROM tri UNION ALL
                 SELECT a AS u, c AS v FROM tri UNION ALL
                 SELECT b AS u, c AS v FROM tri),
      ec AS (SELECT u, v, COUNT(*) AS n_common FROM tedges GROUP BY u, v)
      SELECT ec.u AS part_u, ec.v AS part_v, ec.n_common,
             du.degree + dv.degree - 2 - ec.n_common AS n_union,
             (1000000000 * ec.n_common) // (du.degree + dv.degree - 2 - ec.n_common)
               AS jaccard_ppb
      FROM ec JOIN degs du ON du.p = ec.u JOIN degs dv ON dv.p = ec.v
      ORDER BY jaccard_ppb DESC, part_u, part_v LIMIT 20
    """,
    "b16_components" -> s"""
      WITH RECURSIVE $OracleStrongEdges,
      sym AS (SELECT u, v FROM we UNION SELECT v, u FROM we),
      reach AS (SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
                WHERE s.v <> r.u),
      labels AS (SELECT u AS part_key, CAST(LEAST(u, MIN(v)) AS BIGINT) AS component_rep
                 FROM reach GROUP BY u),
      sizes AS (SELECT component_rep, COUNT(*) AS component_size
                FROM labels GROUP BY component_rep)
      SELECT l.part_key, l.component_rep, s.component_size
      FROM labels l JOIN sizes s USING (component_rep) ORDER BY part_key
    """,
    "b16_clustering" -> s"""
      WITH $OracleEdges, $OracleDegs, $OracleTri,
      parts AS (SELECT unnest([a, b, c]) AS part_key FROM tri),
      vt AS (SELECT part_key, COUNT(*) AS n_triangles FROM parts GROUP BY part_key)
      SELECT vt.part_key, d.degree, vt.n_triangles,
             (2000000000 * vt.n_triangles) // (d.degree * (d.degree - 1))
               AS clustering_ppb
      FROM vt JOIN degs d ON d.p = vt.part_key
      ORDER BY clustering_ppb DESC, part_key LIMIT 20
    """,
    "b16_link_predict" -> s"""
      WITH $OracleStrongEdges,
      nbr AS (SELECT u AS w, v AS x FROM we UNION ALL SELECT v AS w, u AS x FROM we),
      cn AS (SELECT n1.x AS u, n2.x AS v, COUNT(*) AS n_common
             FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w AND n1.x < n2.x
             GROUP BY n1.x, n2.x)
      SELECT cn.u AS part_u, cn.v AS part_v, cn.n_common
      FROM cn LEFT JOIN we ON we.u = cn.u AND we.v = cn.v
      WHERE we.u IS NULL
      ORDER BY n_common DESC, part_u, part_v LIMIT 20
    """,
    "b16_resource_alloc" -> s"""
      WITH $OracleStrongEdges,
      nbr AS (SELECT u AS w, v AS x FROM we UNION ALL SELECT v AS w, u AS x FROM we),
      sdeg AS (SELECT w, COUNT(*) AS degree FROM nbr GROUP BY w),
      contrib AS (SELECT n.w, n.x, 1000000000 // s.degree AS c_ppb
                  FROM nbr n JOIN sdeg s ON n.w = s.w),
      cn AS (SELECT n1.x AS cu, n2.x AS cv,
                    CAST(SUM(n1.c_ppb) AS BIGINT) AS ra_ppb,
                    COUNT(*) AS n_common
             FROM contrib n1 JOIN nbr n2 ON n1.w = n2.w AND n1.x < n2.x
             GROUP BY 1, 2)
      SELECT cn.cu AS part_u, cn.cv AS part_v, cn.ra_ppb, cn.n_common
      FROM cn LEFT JOIN we ON we.u = cn.cu AND we.v = cn.cv
      WHERE we.u IS NULL
      ORDER BY ra_ppb DESC, part_u, part_v LIMIT 20
    """,
    // two unrolled synchronous HITS rounds, unnormalized exact BIGINTs;
    // SUMs cast (DuckDB HUGEINT → pandas float64 otherwise)
    "b16_hits" -> """
      WITH be AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      a1 AS (SELECT p, COUNT(*) AS a1 FROM be GROUP BY p),
      h1 AS (SELECT be.c, CAST(SUM(a1.a1) AS BIGINT) AS h1
             FROM be JOIN a1 USING (p) GROUP BY be.c),
      a2 AS (SELECT be.p, CAST(SUM(h1.h1) AS BIGINT) AS a2
             FROM be JOIN h1 USING (c) GROUP BY be.p)
      SELECT a2.p AS part_key, a1.a1 AS n_buyers, a2.a2 AS authority2
      FROM a2 JOIN a1 USING (p)
      ORDER BY authority2 DESC, part_key LIMIT 20
    """,
    "b16_squares" -> s"""
      WITH $OracleStrongEdges,
      nbr AS (SELECT u AS w, v AS x FROM we UNION ALL SELECT v AS w, u AS x FROM we),
      cd AS (SELECT n1.x, n2.x AS y, COUNT(*) AS c
             FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w AND n1.x < n2.x
             GROUP BY n1.x, n2.x
             HAVING COUNT(*) >= 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diagonals,
             CAST(SUM((c * (c - 1)) // 2) AS BIGINT) // 2 AS n_squares,
             CAST(MAX(c) AS BIGINT) AS max_codegree
      FROM cd
    """,
    "b16_assortativity" -> s"""
      WITH $OracleEdges, $OracleDegs,
      wd AS (SELECT du.degree AS du, dv.degree AS dv
             FROM edges e JOIN degs du ON du.p = e.u JOIN degs dv ON dv.p = e.v),
      sym AS (SELECT du AS x, dv AS y FROM wd UNION ALL SELECT dv AS x, du AS y FROM wd)
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(x) AS DOUBLE) /
             CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE) AS assortativity
      FROM sym
    """,
  )

  /** Unrolled-CTE replay of the bounded peel (the w07_pagerank oracle
    * pattern): a0 = all vertices; a_t = vertices with induced degree ≥ k
    * among a_{t−1}. The early-exit in [[kCore]] is invisible to the
    * result — after the fixpoint every unrolled round is an identity. */
  /** Unrolled replay of the truss peel (the kCore oracle pattern): each
    * round enumerates triangles of the surviving edge set with the naive
    * u<v three-way join (orientation-invariant, so it matches the
    * engine's degree-oriented kernel), attributes support to the three
    * edges of each triangle, and keeps edges with support ≥ k−2. After
    * the fixpoint every unrolled round is an identity. */
  private def kTrussOracleSql: String = {
    def round(r: Int): String =
      s"""t$r AS MATERIALIZED (
           SELECT a.u AS x, a.v AS y, b.v AS z
           FROM e$r a JOIN e$r b ON a.v = b.u
           JOIN e$r c ON c.u = a.u AND c.v = b.v),
         s$r AS MATERIALIZED (
           SELECT u, v, COUNT(*) AS support FROM (
             SELECT x AS u, y AS v FROM t$r
             UNION ALL SELECT x AS u, z AS v FROM t$r
             UNION ALL SELECT y AS u, z AS v FROM t$r)
           GROUP BY 1, 2),
         e${r + 1} AS MATERIALIZED (
           SELECT e.u, e.v FROM e$r e
           JOIN s$r s ON e.u = s.u AND e.v = s.v AND s.support >= ${KTrussK - 2})"""
    val peel = (0 until KTrussRounds).map(round).mkString(",\n      ")
    val last = KTrussRounds
    s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
              FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      $peel,
      tf AS MATERIALIZED (
        SELECT a.u AS x, a.v AS y, b.v AS z
        FROM e$last a JOIN e$last b ON a.v = b.u
        JOIN e$last c ON c.u = a.u AND c.v = b.v),
      sf AS (SELECT u, v, COUNT(*) AS support FROM (
               SELECT x AS u, y AS v FROM tf
               UNION ALL SELECT x AS u, z AS v FROM tf
               UNION ALL SELECT y AS u, z AS v FROM tf)
             GROUP BY 1, 2)
      SELECT e.u AS part_u, e.v AS part_v, s.support
      FROM e$last e JOIN sf s ON e.u = s.u AND e.v = s.v
      ORDER BY part_u, part_v"""
  }

  private def kCoreOracleSql: String = {
    // AS MATERIALIZED (DuckDB + Postgres syntax): each a_t references
    // a_{t-1} four times, so default CTE inlining would expand 4^rounds
    // copies of the lineitem scan — materialization keeps the replay
    // linear in rounds, exactly like the engine's per-round checkpoint
    val peel = (1 to KCoreRounds).map { r =>
      s"""a$r AS MATERIALIZED (SELECT p FROM (
           SELECT p, COUNT(*) AS deg FROM (
             SELECT e.u AS p FROM edges e
               JOIN a${r - 1} x ON e.u = x.p JOIN a${r - 1} y ON e.v = y.p
             UNION ALL
             SELECT e.v AS p FROM edges e
               JOIN a${r - 1} x ON e.u = x.p JOIN a${r - 1} y ON e.v = y.p)
           GROUP BY p) WHERE deg >= $KCoreK)"""
    }.mkString(",\n      ")
    s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      edges AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      a0 AS (SELECT u AS p FROM edges UNION SELECT v AS p FROM edges),
      $peel
      SELECT p AS part_key, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
        SELECT e.u AS p FROM edges e
          JOIN a$KCoreRounds x ON e.u = x.p JOIN a$KCoreRounds y ON e.v = y.p
        UNION ALL
        SELECT e.v AS p FROM edges e
          JOIN a$KCoreRounds x ON e.u = x.p JOIN a$KCoreRounds y ON e.v = y.p)
      GROUP BY p ORDER BY part_key"""
  }
}
