package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operator surface (SURVEY.md §2 Part B, B1–B9) expressed
  * as declarative DataFrame plans so Catalyst supplies pushdown, pruning,
  * join selection and whole-stage codegen.
  *
  * Determinism rules (oracle hash-parity with DuckDB):
  * - every DOUBLE aggregate goes through DECIMAL(38,2): per-row cast is
  *   deterministic in both engines, decimal addition is exact (so shuffle /
  *   partial-agg order cannot change the result), and the final cast back to
  *   DOUBLE is deterministic. Plain double sums would be order-dependent.
  * - every query ends in a total ORDER BY on a unique key, with explicit
  *   null ordering mirrored in the SQL.
  * - every FINAL output column that is decimal-typed is cast to DOUBLE on
  *   BOTH sides (engine + oracle SQL): internal arithmetic stays exact in
  *   decimal, but a decimal in the result set renders with its scale's
  *   trailing zeros ("138014.00") while a float64 renders shortest
  *   ("138014.0") — downstream consumers comparing textual output would
  *   see a spurious mismatch. The cast is value-exact while the unscaled
  *   decimal stays below 2^53 — and that bound is now ENFORCED, not
  *   assumed: every row-scale money sum is emitted through [[castExact]],
  *   which throws loudly once the unscaled value would make the render
  *   cast lossy (reachable at 100 TB row counts), instead of rounding
  *   silently. RenderExactnessSpec pins the throw-vs-exact contract.
  */
object Relational {
  private val Dec = "decimal(38,2)"
  /** The testdata money/rate columns are clean 2-decimal values stored as
    * double; casting to decimal recovers the exact decimal in BOTH engines
    * (the stored double is within half an ulp of the true 2dp value).
    * All downstream arithmetic then stays in decimal — exact, and immune
    * to both shuffle-order effects and cross-engine double-rounding
    * differences. Sums pre-cast to DECIMAL(28,s) so the engine sum type is
    * DECIMAL(38,s) in Spark and DuckDB alike.
    */
  private[ops] def money(c: Column): Column = c.cast("decimal(12,2)")
  private[ops] def rate(c: Column): Column = c.cast("decimal(4,2)")
  private[ops] val one = lit(1.0).cast("decimal(3,2)")
  /** r10 (VERDICT r9 #1): the final decimal→double render cast is
    * value-exact only while |unscaled| < 2^53. q1-class revenue sums reach
    * ~2·10¹⁷ unscaled at 100 TB row counts — past 2^53 ≈ 9·10¹⁵ the cast
    * would silently round the exact decimal answer. Every row-scale money
    * sum is therefore bound-checked AT THE AGGREGATE: below the bound the
    * value passes through unchanged (gate hashes unaffected, one abs+compare
    * per post-agg output row), at or above it the job fails loudly naming
    * the value — the same throw-vs-silently-wrong contract OverflowSpec
    * pins for the ppb products. Guarding the aggregate (not each render
    * site) means every downstream consumer — direct casts, avg ratios,
    * later-stage named columns — inherits the exactness guarantee.
    */
  private[ops] def castExact(c: Column, scale: Int): Column = {
    // The TRUE round-trip bound, tighter than the naive "unscaled <
    // 2^53" (which only keeps the INTEGER exact): the double must also
    // space finer than the decimal grid, i.e. ulp(v) < 10^-scale, else
    // two ADJACENT decimals collide onto one double — for scale 2 that
    // bites from |v| = 2^46 (~7.04e13, unscaled 7.04e15), a band the
    // 2^53 bound silently admits (RenderExactnessSpec pins a concrete
    // colliding cent pair there). Largest safe magnitude: 2^(53 −
    // ceil(scale·log2 10)) — a power of two, exactly representable as
    // the decimal literal compared against.
    val safeExp = 53 - math.ceil(scale * math.log(10.0) / math.log(2.0)).toInt
    val bound = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(safeExp))
    when(c.isNull || abs(c) < lit(bound), c)
      .otherwise(raise_error(concat(
        lit(s"render-exactness violated: |value| >= 2^$safeExp at scale $scale " +
          "(ulp wider than the decimal grid), the final decimal->double cast " +
          "would silently round: "),
        c.cast("string"))))
  }
  /** Exact sum of a 2dp column → DECIMAL(38,2), 2^53-render-guarded. */
  private[ops] def sum2(c: Column): Column =
    castExact(sum(money(c).cast("decimal(28,2)")), 2)
  /** Exact sum of price*(1-disc) → DECIMAL(38,4), 2^53-render-guarded. */
  private[ops] def sumRev(p: Column, d: Column): Column =
    castExact(sum((money(p) * (one - rate(d))).cast("decimal(28,4)")), 4)
  /** Exact sum of price*(1-disc)*(1+tax) → DECIMAL(38,6), 2^53-render-guarded. */
  private[ops] def sumCharge(p: Column, d: Column, t: Column): Column =
    castExact(sum((money(p) * (one - rate(d)) * (one + rate(t))).cast("decimal(28,6)")), 6)
  /** Exact sum of price*rate → DECIMAL(38,4), 2^53-render-guarded. */
  private[ops] def sumProd(p: Column, d: Column): Column =
    castExact(sum((money(p) * rate(d)).cast("decimal(28,4)")), 4)
  private[ops] def tsLit(s: String): Column = lit(s).cast("timestamp_ntz")

  // ---------------------------------------------------------------- queries

  /** TPC-H Q1-style pricing summary — the flagship scan+agg query (B4). */
  def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= tsLit("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum2($"l_quantity").cast("double").as("sum_qty"),
        sum2($"l_extendedprice").cast("double").as("sum_base_price"),
        sumRev($"l_extendedprice", $"l_discount").cast("double").as("sum_disc_price"),
        sumCharge($"l_extendedprice", $"l_discount", $"l_tax").cast("double").as("sum_charge"),
        (sum2($"l_quantity").cast("double") / count(lit(1))).as("avg_qty"),
        (sum2($"l_extendedprice").cast("double") / count(lit(1))).as("avg_price"),
        (sum2($"l_discount").cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** TPC-H Q3-style: 3-way join + agg + top-k (B3/B4/B7). Customer side is
    * small → Catalyst broadcasts it; lineitem never shuffles twice. */
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
    val o = Tables.orders(s, dir).filter($"o_orderdate" < tsLit("2000-01-01"))
    val l = Tables.lineitem(s, dir).filter($"l_shipdate" > tsLit("2000-01-01"))
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sumRev($"l_extendedprice", $"l_discount").cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** TPC-H Q5-style: 6-way join, revenue per nation (B3/B4). Dimension
    * tables (region/nation/supplier/customer) broadcast; the single big
    * shuffle is lineitem⋈orders on orderkey. */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = Tables.region(s, dir).filter($"r_name" === "ASIA")
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
      .filter($"o_orderdate" >= tsLit("1996-01-01") && $"o_orderdate" < tsLit("1997-01-01"))
    val l = Tables.lineitem(s, dir)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sumRev($"l_extendedprice", $"l_discount").cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** TPC-H Q6-style scalar filter+agg; predicates all push to parquet (B2). */
  def q6RevenueDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= tsLit("1997-01-01") && $"l_shipdate" < tsLit("1998-01-01") &&
        $"l_discount" >= 0.02 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(sumProd($"l_extendedprice", $"l_discount").cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** Projection + filter pushed into the parquet scan (A1/B1/B2). */
  def scanProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // all four columns in the sort (late r12 full-surface invariance
    // audit): the fixture repeats (l_orderkey, l_linenumber) with
    // different partkeys, so the two-key sort was not total — tie order
    // held across engines/partitionings only by coincidence
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
      .filter($"l_quantity" > 45.0)
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
  }

  /** Left-semi join: customers that have at least one order (B3). */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Left-anti join: customers with no orders (B3). */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Full-outer join nation⟗supplier: nations with no suppliers and vice
    * versa survive with nulls (B3). */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, dir)
      .join(Tables.supplier(s, dir), $"n_nationkey" === $"s_nationkey", "full_outer")
      .select($"n_nationkey", $"n_name", $"s_suppkey", $"s_name")
      .orderBy($"n_nationkey".asc_nulls_first, $"s_suppkey".asc_nulls_first)
  }

  /** Right-outer join orders⟖customer: every customer survives, including
    * those with no orders (B3 — the mirrored-build side of the outer
    * family; broadcast-able because the preserved side streams). */
  def joinRight(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey", "right_outer")
      .select($"c_custkey", $"c_name", $"o_orderkey")
      .orderBy($"c_custkey".asc, $"o_orderkey".asc_nulls_first)
  }

  /** B5: equi-width histogram with EXACT integer bucketing — the
    * profiling aggregate behind data-skew dashboards and filter-threshold
    * selection. Prices quantize to exact decimal cents first, then bucket
    * by integer division (width 50k cents = $500) — no float boundary
    * arithmetic, so bucket assignment is bit-identical cross-engine
    * (width_bucket's double math is NOT). One map-side-combinable
    * aggregate; output rows = occupied buckets only. */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = $"o_totalprice".cast("decimal(12,2)").multiply(lit(100)).cast("long")
    Tables.orders(s, dir)
      .select(cents.as("cents"))
      .select(expr("cents div 50000").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"))
      .select($"bucket", ($"bucket" * 500.0).as("lo_dollars"),
        (($"bucket" + 1) * 500.0).as("hi_dollars"), $"n")
      .orderBy($"bucket")
  }

  /** B5 (r7): exact EQUI-DEPTH histogram — the optimizer-statistics
    * primitive ([[histogram]] is equi-WIDTH; selectivity estimation
    * wants equal-count buckets): boundary k = the smallest value whose
    * cumulative count reaches k·n/B — i.e. B exact order statistics,
    * served by the distinct-value cumulative device (one combinable
    * (value, count) aggregate, a window over the DISTINCT value
    * domain, the rank gate cross-multiplied: cum·B ≥ k·n — division-
    * free, so boundaries replay bit-identically). Exactness is honest
    * only where the value domain is bounded (l_quantity: 50 distinct
    * values); a near-unique continuous column (prices) would make the
    * distinct table row-scale, and THAT regime is what the mergeable
    * KLL-style sketch (b05_quantile_sketch) is for — the two queries
    * are the two halves of the statistics story. */
  def equiDepthHistogram(s: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    import s.implicits._
    val dv = Tables.lineitem(s, dir)
      .select($"l_quantity".cast("long").as("qty"))
      .groupBy($"qty").agg(count(lit(1)).as("w"))
      .transform(Cut.eager) // total + the boundary scan
    val n = dv.agg(sum($"w")).head.getLong(0)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"qty")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = dv.withColumn("cum", sum($"w").over(w))
    val ks = s.range(1, buckets + 1).toDF("k")
    cum.join(broadcast(ks), $"cum" * buckets >= $"k" * n)
      .groupBy($"k").agg(min($"qty").as("boundary_qty"))
      .select($"k", $"boundary_qty", expr(s"(k * $n) div $buckets").as("target_rank"))
      .orderBy($"k")
  }

  /** B4 (r7 final): Gini impurity of the order-status mix per priority
    * class — the decision-tree split statistic (CART's default) and the
    * "how mixed is this segment" readout, exactly computable where
    * Shannon entropy is not (entropy needs cross-engine log();
    * impurity = 1 − Σ pᵢ² needs only integer class counts): per group
    * one combinable (group, class) count, then impurity derives from
    * the exact BIGINTs n and Σnᵢ² in ONE fixed IEEE expression
    * (1.0 − s2/(n·n) — the assortativity determinism device), so the
    * double replays bit-identically. */
  def giniImpurity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.orders(s, dir)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("ni"))
    counts.groupBy($"o_orderpriority")
      .agg(sum($"ni").as("n"), sum($"ni" * $"ni").as("s2"),
        count(lit(1)).as("n_classes"))
      .select($"o_orderpriority", $"n", $"n_classes",
        (lit(1.0) - $"s2".cast("double") / ($"n".cast("double") * $"n"))
          .as("impurity"))
      .orderBy($"o_orderpriority")
  }

  /** B3: edit-distance fuzzy self-join with COMPLETE pigeonhole blocking
    * (PassJoin-style, Li et al., VLDB 2011) — the entity-resolution join:
    * find all distinct-name pairs within Levenshtein distance `maxDist`
    * without the n² verify.
    *
    * Scale design, outside-in: (1) the join runs on the DISTINCT-name
    * frequency table, never the row table — names repeat heavily in any
    * real catalog, so pairwise work collapses to |distinct| before
    * anything quadratic can happen; (2) each indexed name splits into
    * d+1 contiguous segments — any string within d edits must contain
    * one segment EXACTLY (pigeonhole: d edits cannot touch all d+1
    * segments), at a position shifted by at most d — so the probe side
    * emits (partnerLen, segIdx, substring) keys for every partner length
    * in ±d and shift in ±d, and the equi-join on those keys is provably
    * candidate-COMPLETE; (3) only candidates pay the exact
    * `levenshtein()` verify. Fan-out is (d+1)·(2d+1)² keys per distinct
    * name — constant. Levenshtein unit costs are identical in Spark and
    * DuckDB → the whole operator hash-gates.
    *
    * Hot blocking keys — the ER twin of the LSH hot bucket
    * (`Dedup.MaxBucket`) — are capped at [[MaxBlock]]: a template family
    * sharing one segment (millions of "ACME part #NNNNN" names) would
    * otherwise emit |idx_k|·|probe_k| candidate rows for that key. Keys
    * whose side exceeds the cap are REPRESENTATIVE-LINKED instead: every
    * probe member pairs with the key-minimum indexed name and every
    * indexed member with the key-minimum probe name (2B star edges, not
    * B²), and all star candidates still pay the exact `levenshtein`
    * verify — so precision is untouched. The trade is candidate RECALL
    * inside an over-full key only, and only for pairs whose EVERY shared
    * key is over-full: a pair sharing any normal key is still found
    * (candidates are unioned across all (d+1)·(2d+1)² keys before
    * verification). Same contract, same constant, same proof shape as
    * `Dedup.candidatePairs`. */
  def fuzzyNameJoin(names0: DataFrame, maxDist: Int = 1,
                    maxBlock: Int = MaxBlock): DataFrame = {
    // r17 (VERDICT r16 #4, guide §2.4): the name table feeds FOUR plan
    // branches (index keys, probe keys, and the two final count-attach
    // joins) — materialize its aggregate once instead of re-running the
    // upstream scan+groupBy per branch (exchange reuse dedupes only
    // identical exchanges, and the four subtrees here differ).
    val names = names0.transform(Cut.eager)
    val d = maxDist
    val k = d + 1
    // 0-based segment geometry for a string of length L (even partition,
    // remainder spread over the leading segments)
    def segLen(l: String, i: Int) = s"(($l) div $k + (CASE WHEN $i < ($l) % $k THEN 1 ELSE 0 END))"
    def segStart(l: String, i: Int) = s"($i * (($l) div $k) + least($i, ($l) % $k))"
    val idxKeys = (0 until k).map { i =>
      val L = "length(name)"
      s"struct(${L} AS plen, $i AS seg, substring(name, ${segStart(L, i)} + 1, ${segLen(L, i)}) AS piece)"
    }.mkString("array(", ", ", ")")
    val probeKeys = (for {
      dl <- -d to d; i <- 0 until k; sh <- -d to d
    } yield {
      val Lp = s"(length(name) + $dl)"
      val len = segLen(Lp, i)
      val start = s"(${segStart(Lp, i)} + $sh)"
      s"""CASE WHEN $len > 0 AND $start >= 0 AND $start + $len <= length(name)
            THEN struct($Lp AS plen, $i AS seg, substring(name, $start + 1, $len) AS piece) END"""
    }).mkString("array(", ", ", ")")
    val idx = names.select(col("name").as("name_i"), col("cnt").as("cnt_i"),
        explode(expr(idxKeys)).as("key"))
    val probe = names.select(col("name").as("name_p"), col("cnt").as("cnt_p"),
        explode(expr(probeKeys)).as("key"))
      .filter(col("key").isNotNull)
    fuzzyCandidates(idx, probe, maxBlock)
      .filter(levenshtein(col("name_a"), col("name_b")) <= d)
      .join(names.select(col("name").as("name_a"), col("cnt").as("n_a")), "name_a")
      .join(names.select(col("name").as("name_b"), col("cnt").as("n_b")), "name_b")
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Per-key size cap for the fuzzy join's segment-blocking equi-join —
    * the same constant and contract as `Dedup.MaxBucket`: over-full keys
    * emit star edges to the key-minimum member instead of the full
    * idx×probe product, keeping a degenerate template family linear. */
  val MaxBlock = 256

  /** Candidate pair generation for [[fuzzyNameJoin]] — the blocking
    * equi-join with the hot-key cap, BEFORE levenshtein verification.
    * Exposed for the planted-template-family scale spec. */
  private[graft] def fuzzyCandidates(idx: DataFrame, probe: DataFrame,
                                     maxBlock: Int): DataFrame = {
    // one count+min aggregate per side per key, joined back on the key
    // (co-partitioned with the candidate join's own shuffle key). Inner
    // join of the two stats frames: a key occupied on only one side
    // yields no candidates anyway. The stats frame feeds three plan
    // branches — checkpoint so the aggregates run once, not per branch.
    val stats = idx.groupBy(col("key"))
      .agg(count(lit(1)).as("isz"), min(col("name_i")).as("imin"))
      .join(probe.groupBy(col("key"))
        .agg(count(lit(1)).as("psz"), min(col("name_p")).as("pmin")),
        Seq("key"))
      .transform(Cut.eager)
    val smallKeys = stats.filter(col("isz") <= maxBlock && col("psz") <= maxBlock)
    val hotKeys   = stats.filter(col("isz") > maxBlock || col("psz") > maxBlock)
    val fullPairs = idx.join(smallKeys.select(col("key")), Seq("key"))
      .join(probe, Seq("key"))
      .select(col("name_i"), col("name_p"))
    // star edges: every probe member of a hot key pairs with the
    // key-minimum indexed name, and every indexed member with the
    // key-minimum probe name — 2B candidates instead of B², all still
    // levenshtein-verified downstream
    val starProbe = probe.join(hotKeys.select(col("key"), col("imin")), Seq("key"))
      .select(col("imin").as("name_i"), col("name_p"))
    val starIdx = idx.join(hotKeys.select(col("key"), col("pmin")), Seq("key"))
      .select(col("name_i"), col("pmin").as("name_p"))
    fullPairs.union(starProbe).union(starIdx)
      .select(least(col("name_i"), col("name_p")).as("name_a"),
        greatest(col("name_i"), col("name_p")).as("name_b"))
      .filter(col("name_a") < col("name_b"))
      .distinct()
  }

  def fuzzyJoinQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Tables.part(s, dir)
      .groupBy($"p_name".as("name")).agg(count(lit(1)).as("cnt"))
    fuzzyNameJoin(names, maxDist = 1)
  }

  /** B9: math scalar functions — all exact-integer or engine-portable
    * double expressions (abs/sign/mod on longs, floor/ceil/sqrt/power on
    * doubles whose IEEE results are identical across engines). */
  def mathFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_linenumber" === 1)
      .select($"l_orderkey",
        abs($"l_orderkey" - 1000).as("abs_v"),
        signum(($"l_orderkey" - 1000).cast("double")).cast("int").as("sign_v"),
        pmod($"l_orderkey", lit(7)).as("mod_v"),
        floor($"l_orderkey" / 3.0).cast("long").as("floor_v"),
        ceil($"l_orderkey" / 3.0).cast("long").as("ceil_v"),
        sqrt($"l_orderkey".cast("double")).as("sqrt_v"),
        pow($"l_orderkey".cast("double"), 2.0).as("pow_v"))
      .orderBy($"l_orderkey")
  }

  /** Band (range) join on top of an equi key: hash join + range residual,
    * no cartesian blow-up (B3). */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    l.join(broadcast(p), $"l_partkey" === $"p_partkey" &&
        $"l_quantity" >= $"p_size" - 2 && $"l_quantity" <= $"p_size" + 2)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_rows"), sum2($"l_extendedprice").cast("double").as("sum_price"))
      .orderBy($"p_brand")
  }

  /** Pure theta join (non-equi): nation pairs within a region (B3). Tiny
    * inputs → broadcast nested-loop is the right plan. */
  def joinTheta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = Tables.nation(s, dir).select($"n_nationkey".as("k1"), $"n_name".as("name1"), $"n_regionkey".as("r1"))
    val n2 = Tables.nation(s, dir).select($"n_nationkey".as("k2"), $"n_name".as("name2"), $"n_regionkey".as("r2"))
    n1.join(n2, $"r1" === $"r2" && $"k1" < $"k2")
      .select($"k1", $"k2", $"name1", $"name2")
      .orderBy($"k1", $"k2")
  }

  /** As-of join expressed as a running MAX window: for each purchase event,
    * the most recent click by the same user at ts <= purchase ts (B3).
    * Scales: one shuffle on user_id, no range-join blow-up. */
  def joinAsOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).filter($"event_type".isin("click", "purchase"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_ts",
        max(when($"event_type" === "click", $"ts")).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"last_click_ts")
      .orderBy($"event_id")
  }

  /** As-of NEAREST join (B3, r6): for each purchase, the same user's click
    * minimizing |Δt| — ties prefer the earlier (backward) click. The
    * nearest-in-time semantics backward-only as-of can't express, at the
    * same cost: prev/next candidates are two frames over ONE user-keyed
    * window sort (the [[joinAsOf]] plan), never a range-join product.
    * Arithmetic in exact epoch micros (unix_micros under the pinned-UTC
    * session == DuckDB epoch_us). */
  def joinAsOfNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).filter($"event_type".isin("click", "purchase"))
      .withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
    val back = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val clickUs = when($"event_type" === "click", $"us")
    val nearest = when($"prev_us".isNull, $"next_us")
      .when($"next_us".isNull, $"prev_us")
      .when($"us" - $"prev_us" <= $"next_us" - $"us", $"prev_us")
      .otherwise($"next_us")
    ev.withColumn("prev_us", max(clickUs).over(back))
      .withColumn("next_us", min(clickUs).over(fwd))
      .filter($"event_type" === "purchase")
      .withColumn("near_us", nearest)
      .select($"event_id", $"user_id", $"ts",
        expr("timestampadd(MICROSECOND, near_us, TIMESTAMP_NTZ'1970-01-01 00:00:00')")
          .as("nearest_click_ts"),
        ($"near_us" - $"us").as("delta_us"))
      .orderBy($"event_id")
  }

  /** B4 (r6): Pearson correlation + population covariance from EXACT
    * integer moments — the statistical-aggregate family member every
    * analytics engine ships, made cross-engine deterministic. Built-in
    * `corr`/`covar_pop` accumulate doubles (shuffle-order-dependent and
    * engine-divergent); here x = quantity (integral), y = discount in
    * hundredths (exact 2dp), and all five moments (Σx, Σy, Σxy, Σx²,
    * Σy²) are map-side-combinable LONG sums — order-independent, well
    * inside 64 bits at any SF that fits a cluster (Σ(xy) grows linearly
    * in rows: ~3·10⁸ at sf0.1, ~3·10¹⁴ at a petabyte-class row count).
    * corr = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) — integer
    * numerator/denominators, then one sqrt+multiply+divide chain of
    * exactly-rounded IEEE ops, identical in both engines. */
  def corrMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = $"l_quantity".cast("long")
    val y = ($"l_discount".cast("decimal(4,2)") * 100).cast("long")
    val m = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    m.select($"l_returnflag", $"n",
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
           sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double")))).as("corr_qty_disc"),
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"n").cast("double")).as("covar_qty_disc"))
      .orderBy($"l_returnflag")
  }

  /** Columns of [[corrMatrixQuery]] as (name, exact-integer scaling SQL
    * fragment) — ONE list generates the Spark plan AND the oracle (the
    * ProfileCols no-drift device). Price scales to whole dollars, not
    * cents: Σ(price²) in cents squares past int64 at bench row counts
    * already (at 100 TB row counts the moment sums widen to
    * DECIMAL(38), the established note). */
  private val CorrMatrixCols: Seq[(String, String)] = Seq(
    "quantity" -> "CAST(l_quantity AS BIGINT)",
    "price_usd" -> "CAST(round(l_extendedprice) AS BIGINT)",
    "discount_pct" -> "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)",
    "tax_pct" -> "CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT)")

  private val CorrMatrixPairs: Seq[(String, String)] =
    for {
      (a, i) <- CorrMatrixCols.map(_._1).zipWithIndex
      b <- CorrMatrixCols.map(_._1).drop(i + 1)
    } yield (a, b)

  /** B4 (r8): the pairwise CORRELATION MATRIX over the table's numeric
    * columns, long-form — the multi-column completion of
    * [[corrMoments]] and the profiling staple beside [[profileQuery]]
    * ("which measures move together" before any feature selection).
    * ONE combinable scan pass accumulates every per-column (Σc, Σc²)
    * and per-pair Σab as exact BIGINTs; each pair's Pearson r then
    * derives in a FIXED IEEE tree with every moment cast to double
    * FIRST (n·Σx² overflows int64 for dollar-scaled price — the
    * b06_zscore device), zero-variance pairs pinned to 0. Output is
    * one row per (group, col_a, col_b) so downstream checks are data,
    * not schema. */
  def corrMatrixQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, dir).select(
      $"l_returnflag" +: CorrMatrixCols.map { case (n, sql) => expr(sql).as(n) }: _*)
    val aggs = Seq(count(lit(1)).as("n")) ++
      CorrMatrixCols.flatMap { case (nm, _) =>
        Seq(sum(col(nm)).as(s"s_$nm"), sum(col(nm) * col(nm)).as(s"ss_$nm")) } ++
      CorrMatrixPairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val m = base.groupBy($"l_returnflag").agg(aggs.head, aggs.tail: _*)
      .transform(Cut.eager) // 3 rows; feeds one branch per pair
    CorrMatrixPairs.map { case (a, b) =>
      val nD = $"n".cast("double")
      val num = nD * col(s"sp_${a}_$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
      val dena = nD * col(s"ss_$a").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$a").cast("double")
      val denb = nD * col(s"ss_$b").cast("double") -
        col(s"s_$b").cast("double") * col(s"s_$b").cast("double")
      m.select($"l_returnflag", lit(a).as("col_a"), lit(b).as("col_b"), $"n",
        when(dena <= 0.0 || denb <= 0.0, lit(0.0))
          .otherwise(num / (sqrt(dena) * sqrt(denb))).as("corr"))
    }.reduce(_ unionAll _).orderBy($"l_returnflag", $"col_a", $"col_b")
  }

  private[ops] def corrMatrixOracle: String = {
    val colDefs = CorrMatrixCols.map { case (n, sql) => s"$sql AS $n" }.mkString(",\n          ")
    val momentDefs = (CorrMatrixCols.flatMap { case (nm, _) => Seq(
        s"CAST(SUM($nm) AS BIGINT) AS s_$nm",
        s"CAST(SUM($nm*$nm) AS BIGINT) AS ss_$nm") } ++
      CorrMatrixPairs.map { case (a, b) =>
        s"CAST(SUM($a*$b) AS BIGINT) AS sp_${a}_$b" }).mkString(",\n          ")
    val branches = CorrMatrixPairs.map { case (a, b) =>
      s"""SELECT l_returnflag, '$a' AS col_a, '$b' AS col_b, n,
        CASE WHEN CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
                    - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE) <= 0
               OR CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
                    - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE) <= 0 THEN 0.0
             ELSE (CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE)
                    - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
                  / (sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
                      - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
                      - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))) END AS corr
      FROM m"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH b AS (SELECT l_returnflag,
          $colDefs
        FROM lineitem),
      m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          $momentDefs
        FROM b GROUP BY 1)
      $branches
      ORDER BY l_returnflag, col_a, col_b"""
  }

  /** ROLLUP hierarchy totals (B4). */
  def rollupSales(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .rollup($"n_name", $"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum2($"c_acctbal").cast("double").as("sum_bal"))
      .orderBy($"n_name".asc_nulls_first, $"c_mktsegment".asc_nulls_first)
  }

  /** CUBE over two low-cardinality dims (B4). */
  def cubeFlags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum2($"l_quantity").cast("double").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** GROUPING SETS via SQL (B4). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
    s.sql(s"""
      SELECT o_orderstatus, o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(${sum2Sql("o_totalprice")} AS DOUBLE) AS sum_price
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """)
  }

  /** Exact median + min/max (B5 exact side). */
  def medianQuantity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"))
      .orderBy($"l_returnflag")
  }

  /** B4/B5 (r7): exact weighted median — the smallest price whose
    * cumulative quantity weight reaches half the group total (freight
    * optimization, price-point selection: "the price below which half the
    * VOLUME trades", which a plain median of rows gets wrong whenever
    * quantity and price correlate). Event-scale work is ONE map-side-
    * combinable (flag, price) weight aggregate; the cumulative window
    * then runs over distinct prices per group — the reduced table. All
    * integer (cents × integral quantities), gate cross-multiplied
    * (2·cum ≥ total), so the pick replays bit-identically. At 100 TB
    * with unbounded distinct prices the same contract is served by the
    * KLL-style weighted quantile sketch (b05_quantile_sketch); this is
    * the exact path. */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 (guide §2.5 single-reducer windows): the running sum rides the
    // shared two-level bin+carry device (Prefix.prefixSum2L — the
    // b04_ks_test / b04_kendall precedent) instead of one window
    // partitioned by the 3-value flag axis, whose per-flag sort is a
    // single reducer over every distinct price at scale. The flag total
    // comes off the checkpointed count table with a tiny aggregate
    // instead of a second whole-partition window (wTot). Exact integer
    // sums either way; same (wmedian_cents, total_qty) row per flag.
    val pv = Tables.lineitem(s, dir)
      .select($"l_returnflag",
        (money($"l_extendedprice") * 100).cast("long").as("price_c"),
        $"l_quantity".cast("long").as("qty"))
      .groupBy($"l_returnflag", $"price_c")
      .agg(sum($"qty").as("wsum"))
      .withColumn("bin", expr("price_c div 50000"))
      .transform(Cut.eager) // feeds both prefix levels + the flag totals
    val tot = pv.groupBy($"l_returnflag").agg(sum($"wsum").as("total"))
    Prefix.prefixSum2L(pv, Seq("l_returnflag"), "bin", Seq($"price_c"), Seq("wsum"))
      .withColumnRenamed("run_wsum", "cum")
      .join(broadcast(tot), Seq("l_returnflag"))
      .filter($"cum" * 2 >= $"total")
      .groupBy($"l_returnflag")
      .agg(min($"price_c").as("wmedian_cents"), min($"total").as("total_qty"))
      .orderBy($"l_returnflag")
  }

  /** B4 (r7): exact deterministic MODE — the most frequent value per
    * group with an explicit smallest-value-on-ties rule (engines' builtin
    * `mode()` leaves ties unspecified, so it can never hash-gate). One
    * combinable (group, value) count, then one max over the zero-padded
    * (count, 10¹⁰−value) string key — lexicographic max picks the highest
    * count and, among ties, the smallest value, identically in both
    * engines (the resample ord-key device). */
  def modeQuantity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_quantity".cast("long").as("qty"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"l_returnflag")
      .agg(max(format_string("%020d|%020d", $"cnt", lit(10000000000L) - $"qty")).as("key"))
      .select($"l_returnflag",
        (lit(10000000000L) - substring($"key", 22, 20).cast("long")).as("mode_qty"),
        substring($"key", 1, 20).cast("long").as("mode_count"))
      .orderBy($"l_returnflag")
  }

  /** Approximate aggregates — HLL distinct + approx quantiles (B5). Sketch
    * implementations differ across engines, so no SQL oracle (rows-only).
    * The quartile sketch result is flattened to three scalar columns:
    * array-typed output columns break row-wise canonicalization in common
    * downstream tooling (pandas cannot sort them). */
  def approxStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = expr("percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75), 1000)")
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey").as("approx_orders"),
        approx_count_distinct($"l_partkey").as("approx_parts"),
        element_at(q, 1).as("price_p25"),
        element_at(q, 2).as("price_p50"),
        element_at(q, 3).as("price_p75"),
        stddev_pop($"l_quantity").as("qty_stddev"))
      .orderBy($"l_returnflag")
  }

  /** Heavy hitters via the Misra-Gries single-buffer sketch (B5) — the
    * bounded-memory frequent-items aggregate (blocklist mining, frequent
    * tokens, skew detection). The sketch buffer never exceeds `capacity`
    * entries, so shuffle partials are capacity-bounded regardless of
    * corpus size. This query runs in the EXACT regime (capacity 256 >>
    * the 25 distinct `p_brand`s, no counter ever evicted) so the output
    * equals the exact counts and hash-gates against plain GROUP BY/COUNT;
    * the lossy-regime guarantee (every item above n/(capacity+1)
    * survives, estimates within n/(capacity+1)) is spec-pinned in
    * HeavyHittersSpec, mirroring the b05_approx_stats exact-counterpart
    * treatment. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hh = udaf(new graft.functions.HeavyHittersAgg(256))
    Tables.part(s, dir)
      .agg(hh($"p_brand").as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e._1".as("p_brand"), $"e._2".as("n_parts"))
      .orderBy($"n_parts".desc, $"p_brand")
      .limit(25)
  }

  /** B5 (r7): the b05_approx_stats report rebuilt from this library's OWN
    * mergeable sketches (r6-verdict #2 — the b12-portable move applied
    * to the sketch family): portable-hash KMV distinct-count with
    * k = 2^14 (exact below k, the replayed BIGINT estimator beyond —
    * r14, VERDICT r13 #2), and the deterministic KLL-style quantile
    * sketch with capacity 2^19 > the largest per-flag group even at
    * sf0.1 — no compactor fires, so the quantile outputs are exactly
    * the ⌈p·n⌉-rank order statistics and the row hash-gates against
    * DuckDB at both certification SFs.
    * (The engine-HLL/percentile_approx original stays rows-only: its
    * internals are not replayable cross-engine.) Dispersion comes from
    * exact integer moments (prices as rounded cents, quantities as
    * longs): stddev_pop = sqrt(n·Σx² − (Σx)²)/n with ONE IEEE sqrt and
    * division at the end — shuffle-order-independent and portable, the
    * b04 exact-moment convention. Beyond the exact regime the SAME code
    * degrades to the documented estimator/bounded-error behavior with
    * capacity-bounded partials (KMV stays merge-tree-invariant even
    * lossy), so the 100 TB path is this query with smaller constants. */
  def approxStatsExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r14 (VERDICT r13 #2): portable-hash KMV — the oracle replays the
    // sketch, so the distinct-count columns stay hash-green at sf0.1
    // where per-flag cardinality (~110k orderkeys, ~20k partkeys)
    // leaves the 2^14 exact regime
    val kmv = udaf(new graft.functions.KmvEstimateAgg(1 << 14),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[java.lang.Long]())
    def h(c: Column): Column =
      graft.functions.Md5Prefix(concat(lit("kmv:"), c.cast("string")), 12)
    val qs = udaf(new graft.functions.QuantileSketchAgg(1 << 19,
      Seq(1 -> 4, 1 -> 2, 3 -> 4)))
    Tables.lineitem(s, dir)
      .select($"l_returnflag",
        $"l_orderkey", $"l_partkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"),
        $"l_quantity".cast("long").as("qn"))
      .groupBy($"l_returnflag")
      .agg(
        kmv(h($"l_orderkey")).as("n_orders"),
        kmv(h($"l_partkey")).as("n_parts"),
        qs($"cents").as("q"),
        count(lit(1)).as("n"),
        sum($"qn").as("sq"),
        sum($"qn" * $"qn").as("sq2"))
      .select($"l_returnflag", $"n_orders", $"n_parts",
        $"q" (0).as("price_p25_cents"),
        $"q" (1).as("price_p50_cents"),
        $"q" (2).as("price_p75_cents"),
        (sqrt(($"n" * $"sq2" - $"sq" * $"sq").cast("double")) / $"n".cast("double"))
          .as("qty_stddev"))
      .orderBy($"l_returnflag")
  }

  /** Count-Min frequency estimates over `items` (single string column
    * `k`) probed at `probes` (single long column `key`) — the core shared
    * by the declared query and the planted-skew spec. The sketch is the
    * Cormode–Muthukrishnan counter matrix: `d` rows × `w` columns, cell
    * (j, h_j(x)) accumulates every occurrence of x, the point estimate is
    * min over the d cells — never an underestimate, over by at most
    * εn = (e/w)·n with probability 1 − e^(−d). Hashes are the repo's
    * engine-portable md5-prefix contract (seeded per row j), so DuckDB
    * replays the exact counter matrix and the gate certifies the sketch
    * END TO END, not just its exact regime. Scale: the update is one
    * map-side-combinable groupBy whose partials are capped at d·w
    * counters per partition REGARDLESS of corpus size (the point of CMS
    * vs exact GROUP BY at 100 TB); the probe side joins d constant-size
    * cells per key against the ≤ d·w-row counter table (broadcast). */
  /** Columns profiled by [[profileQuery]]; ONE list generates both the
    * Spark aggregates and the oracle SQL so the two cannot drift. */
  private val ProfileCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** B1 (r7): table profile — the per-column completeness/cardinality
    * summary every data-quality harness (Deequ, Great Expectations)
    * computes before trusting a feed: row count, null count and exact
    * distinct count per column, emitted long-form (one row per column)
    * so downstream checks are data, not schema. One PASS PER COLUMN
    * (r8): the single-aggregate form planned all 11 exact
    * COUNT(DISTINCT)s through one Expand that replicated every scanned
    * row ~17×; here each column gets its own branch whose parquet scan
    * prunes to THAT column (total bytes across branches ≈ one full-row
    * scan, columnar), aggregates two-phase with no cross-column Expand,
    * and the branches union long-form. At 100 TB the per-column
    * branches also fail/retry independently; the sketch alternative
    * with bounded shuffle partials is [[profileKmvQuery]]. */
  def profileQuery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    ProfileCols.map { c =>
      li.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"),
          col("n_rows"), col("n_nulls"), col("n_distinct"))
    }.reduce(_ unionAll _).orderBy(col("column_name"))
  }

  private[ops] def profileOracle: String = profileOracleFor(ProfileCols)

  private def profileOracleFor(cols: Seq[String]): String =
    cols.map(c =>
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM lineitem""")
      .mkString(" UNION ALL ") + " ORDER BY column_name"

  /** Columns profiled by the sketch-side profiler. r14 (VERDICT r13
    * #2): with the portable-hash estimator the gate no longer needs the
    * exact regime, but the two unbounded-key columns (l_orderkey,
    * l_extendedprice) stay excluded — their VARCHAR canonicalization
    * differs by type formatting risk (decimal rendering) and they
    * already profile exactly via [[profileQuery]]. */
  private val ProfileKmvCols =
    ProfileCols.filterNot(Set("l_orderkey", "l_extendedprice"))

  /** B1/B5 (r8): the sketch-side table profile — the plan the 100 TB
    * profiling job actually runs: per-column null counts stay exact
    * combinable sums, but each COUNT(DISTINCT) swaps for the mergeable
    * [[graft.functions.KmvDistinctAgg]] whose shuffle partials are ≤k
    * longs REGARDLESS of column cardinality (the exact profile's
    * distinct shuffle moves every distinct value). Same long-form
    * output contract as [[profileQuery]]; fully partition-invariant
    * even lossy — the k smallest distinct hashes are a set property.
    * r14 (VERDICT r13 #2): the sketch is the portable-hash
    * [[graft.functions.KmvEstimateAgg]], so the oracle replays it and
    * the gate is green in BOTH regimes — at sf0.1 l_partkey (20 000
    * distinct > k = 4096) exercises the lossy estimator end to end. */
  def profileKmvQuery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val kmv = udaf(new graft.functions.KmvEstimateAgg(4096),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[java.lang.Long]())
    ProfileKmvCols.map { c =>
      li.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        kmv(graft.functions.Md5Prefix(
          concat(lit("kmv:"), col(c).cast("string")), 12)).as("n_distinct"))
        .select(lit(c).as("column_name"),
          col("n_rows"), col("n_nulls"), col("n_distinct"))
    }.reduce(_ unionAll _).orderBy(col("column_name"))
  }

  /** B4 (r7): period-over-period delta decomposition — the "what drove
    * the change" drill every BI review runs: 1998-vs-1997 revenue per
    * order priority with the exact signed cents delta, ranked by
    * magnitude so the headline driver reads first. Exact DECIMAL cents
    * throughout; NO ppb share division — total deltas can be negative
    * and `div` truncates toward zero in Spark but floors in DuckDB, so
    * a signed-share floor division would diverge cross-engine (the
    * negative-operand trap; callers derive shares from the gated
    * deltas). One scan, one combinable conditional-sum aggregate. */
  /** B4 (r8): two-sample Kolmogorov–Smirnov drift test — "did this
    * feature's distribution move between snapshots", the exact
    * counterpart of the PSI screen ([[psiDriftQuery]]): per order
    * priority, D = sup |F97 − F98| over 1997-vs-1998 price cents. The
    * supremum is computed in EXACT integers — at each distinct value,
    * |hi97·n98 − hi98·n97| (cross-multiplied CDF difference, no float
    * until one final division) — and the CDFs come from the
    * distributed two-level prefix: per-(priority, coarse-bin) running
    * sums over distinct values plus a carry-in over the bounded bin
    * axis (the b10_concurrency device), so no window ever covers a
    * priority's whole value axis in one reducer. Argmax total via the
    * (d_num DESC, cents) min_by struct. */
  def ksTestQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yr = year($"o_orderdate")
    val cc = Tables.orders(s, dir)
      .filter(yr === 1997 || yr === 1998)
      .select($"o_orderpriority".as("prio"),
        round($"o_totalprice" * 100).cast("long").as("cents"),
        when(yr === 1997, 1L).otherwise(0L).as("a"),
        when(yr === 1998, 1L).otherwise(0L).as("b"))
      .groupBy($"prio", $"cents")
      .agg(sum($"a").as("ca"), sum($"b").as("cb"))
      .withColumn("bin", expr("cents div 2500000"))
      .transform(Cut.eager) // feeds totals, in-bin prefixes, bin totals
    val n = cc.groupBy($"prio").agg(sum($"ca").as("na"), sum($"cb").as("nb"))
    // r9: the shared two-level device (Prefix.prefixSum2L) replaces the
    // hand-rolled in-bin window + carry — identical values by the
    // device's equivalence contract, hash re-gated
    Prefix.prefixSum2L(cc, Seq("prio"), "bin", Seq($"cents"), Seq("ca", "cb"))
      .join(n, Seq("prio"))
      .select($"prio", $"cents", $"na", $"nb",
        abs($"run_ca" * $"nb" - $"run_cb" * $"na").as("d_num"))
      .groupBy($"prio")
      .agg(first($"na").as("n_1997"), first($"nb").as("n_1998"),
        max($"d_num").as("d_num"),
        min_by($"cents", struct((-$"d_num").as("nd"), $"cents")).as("at_cents"))
      .withColumn("ks_d", $"d_num".cast("double")
        / ($"n_1997".cast("double") * $"n_1998".cast("double")))
      .orderBy($"prio")
  }

  /** B3 (r9): LATERAL correlated subquery — the SQL join surface's
    * "per-row subplan" form (top-2 nations per region by customer
    * count), exercising Catalyst's DECORRELATION of a correlated
    * aggregate + ORDER BY + LIMIT lateral: Spark rewrites it to a
    * ranked join (DecorrelateInnerQuery → window over the co-grouped
    * child), NOT a per-outer-row re-execution — which is why the shape
    * survives 100 TB where a naive nested-loop lateral would be
    * outer-cardinality × inner-plan. DuckDB replays the same LATERAL
    * text natively. */
  def lateralTopNQuery(s: SparkSession, dir: String): DataFrame = {
    Tables.region(s, dir).createOrReplaceTempView("region_lat")
    Tables.nation(s, dir).createOrReplaceTempView("nation_lat")
    Tables.customer(s, dir).createOrReplaceTempView("customer_lat")
    val out = s.sql("""
      SELECT r.r_name, l.n_name, l.n_customers
      FROM region_lat r,
      LATERAL (
        SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
        FROM nation_lat n JOIN customer_lat c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n.n_name
        LIMIT 2
      ) l
      ORDER BY r.r_name, l.n_customers DESC, l.n_name""")
    // the no-vacuous-gate discipline: the promise is the DECORRELATED
    // ranked-join shape (observed: hash join + WindowGroupLimit
    // partial/final), never a per-outer-row nested loop
    require(!graft.plans.PlanAudit.hasNestedLoop(out),
      "b03_lateral_topn: lateral fell back to a nested-loop join — the " +
        "gate would certify the O(outer × inner) shape")
    out
  }

  /** B4 (r9): Mann-Whitney U with midrank tie correction — the RANK
    * companion of [[ksTestQuery]]/[[welchTQuery]] (KS: "moved
    * anywhere"; Welch: "mean moved"; U: "does one year stochastically
    * dominate"), the standard nonparametric two-sample location test.
    * Everything is exact integers up to one final IEEE z expression:
    * midranks arrive DOUBLED (r2 = 2·midrank, the b04_kendall integer
    * device, via the shared [[Prefix.prefixSum2L]] two-level prefix —
    * no per-priority value sort in one reducer), so 2·R₁ = Σ ca·r2 and
    * 2·U₁ = 2·R₁ − n₁(n₁+1) stay integral under ties; the tie term
    * Σ(c³−c) feeds the tie-corrected normal variance. Products run in
    * DECIMAL(38,0) (ca·r2 and c³ cross int64 at 100 TB counts — the
    * psiDriftQuery discipline; output pieces cast back to BIGINT, which
    * ANSI mode makes loud-on-overflow). z is one fixed double tree
    * (casts, divide, sqrt — no transcendentals), replayed identically
    * by the oracle. */
  def mannWhitneyQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yr = year($"o_orderdate")
    val cc = Tables.orders(s, dir)
      .filter(yr === 1997 || yr === 1998)
      .select($"o_orderpriority".as("prio"),
        round($"o_totalprice" * 100).cast("long").as("cents"),
        when(yr === 1997, 1L).otherwise(0L).as("a"),
        when(yr === 1998, 1L).otherwise(0L).as("b"))
      .groupBy($"prio", $"cents")
      .agg(sum($"a").as("ca"), sum($"b").as("cb"))
      .withColumn("bin", expr("cents div 2500000"))
      .transform(Cut.eager) // feeds the two-level prefix twice
    val terms = Prefix.prefixSum2L(cc, Seq("prio"), "bin", Seq($"cents"), Seq("ca", "cb"))
      .withColumn("c", $"ca" + $"cb")
      .withColumn("r2", lit(2) * (($"run_ca" + $"run_cb") - $"c") + $"c" + 1)
    terms.groupBy($"prio").agg(
        sum($"ca").as("n1"), sum($"cb").as("n2"),
        sum(expr("CAST(ca AS DECIMAL(38,0)) * r2")).as("s2r1"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("tie"))
      .select($"prio", $"n1", $"n2",
        expr("CAST(s2r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT)").as("u1_x2"),
        expr("CAST(tie AS BIGINT)").as("tie_term"))
      .withColumn("u2_x2", expr("CAST(2 * CAST(n1 AS DECIMAL(38,0)) * n2 - u1_x2 AS BIGINT)"))
      .withColumn("z", expr(
        """CAST(u1_x2 - CAST(n1 AS DECIMAL(38,0)) * n2 AS DOUBLE) /
           (2.0 * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) *
             (CAST(n1 + n2 + 1 AS DOUBLE) -
              CAST(tie_term AS DOUBLE) /
                (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))))"""))
      .orderBy($"prio")
  }

  /** B4 (r10): Kruskal–Wallis H — the k-group extension of
    * [[mannWhitneyQuery]] ("is ANY of the five order priorities' price
    * distributions shifted?"), riding the same integer midrank device:
    * per distinct cents value, 2·midrank = 2·(run_c − c) + c + 1 from
    * ONE two-level prefix over value bins ([[Prefix.prefixSum2L]], so
    * no reducer ever sorts the full value axis), making each group's
    * DOUBLED rank sum 2R_g = Σ c_g·r2 an exact DECIMAL(38). The H
    * statistic is ONE fixed IEEE tree over the exact moments —
    * (2R_g) is cast to double BEFORE squaring (the cramers_v rule:
    * the square crosses DECIMAL(38) at 100 TB row counts) and the tie
    * correction's N³−N runs in DECIMAL(38) (int64 wraps at N ≈ 2·10⁶ —
    * the ppb discipline) — replayed term-for-term by the oracle.
    * With midranks, H = 3/(N(N+1)) · Σ(2R_g)²/n_g − 3(N+1), tie-
    * corrected by 1 − Σ(c³−c)/(N³−N); an all-tied degenerate corpus
    * (correction ≤ 0) pins H to 0. */
  def kruskalWallisQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Seq("1-URGENT" -> "urgent", "2-HIGH" -> "high",
      "3-MEDIUM" -> "medium", "4-NOT SPECIFIED" -> "notspec", "5-LOW" -> "low")
    val cc = Tables.orders(s, dir)
      .select($"o_orderpriority".as("prio"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"cents")
      .agg(sum(when($"prio" === keys.head._1, 1L).otherwise(0L)).as("c_urgent"),
        keys.tail.map { case (k, n) =>
          sum(when($"prio" === k, 1L).otherwise(0L)).as(s"c_$n") }: _*)
      .withColumn("c", keys.map(k => col(s"c_${k._2}")).reduce(_ + _))
      .withColumn("bin", expr("cents div 2500000"))
      .transform(Cut.eager) // feeds the two-level prefix twice
    val ranked = Prefix.prefixSum2L(cc, Seq.empty, "bin", Seq($"cents"), Seq("c"))
      .withColumn("r2", lit(2) * ($"run_c" - $"c") + $"c" + 1)
    val aggs = keys.flatMap { case (_, n) =>
      Seq(sum(col(s"c_$n")).as(s"n_$n"),
        sum(expr(s"CAST(c_$n AS DECIMAL(38,0)) * r2")).as(s"r2_$n"))
    } :+ sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("tie")
    val m = ranked.agg(aggs.head, aggs.tail: _*)
      .withColumn("n_total", keys.map(k => col(s"n_${k._2}")).reduce(_ + _))
    val nD = col("n_total").cast("double")
    val sumTerm = keys.map { case (_, n) =>
      val r2d = col(s"r2_$n").cast("double")
      when(col(s"n_$n") === 0, lit(0.0))
        .otherwise(r2d * r2d / col(s"n_$n").cast("double"))
    }.reduce(_ + _)
    val hRaw = lit(3.0) / (nD * (nD + lit(1.0))) * sumTerm -
      lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - col("tie").cast("double") /
      expr("CAST(CAST(n_total AS DECIMAL(38,0)) * n_total * n_total - n_total AS DOUBLE)")
    m.select((keys.map(k => col(s"n_${k._2}")) :+ col("n_total") :+
      when(corr <= 0.0, lit(0.0)).otherwise(hRaw / corr).as("h_stat")): _*)
  }

  /** B4 (r8): Welch's two-sample t — the parametric drift companion of
    * [[ksTestQuery]] (KS asks "did the distribution move anywhere",
    * Welch asks "did the MEAN move, variances unequal"): per order
    * priority, 1997-vs-1998 price in whole dollars (dollar scaling —
    * cents-squared sums overflow int64 at bench row counts, the
    * b04_corr_matrix note). All six moments (n, Σy, Σy²) per side are
    * exact combinable BIGINTs from ONE conditional-sum pass; the
    * statistic t = (m₁−m₂)/√(s₁²/n₁ + s₂²/n₂) is one fixed IEEE tree
    * over them — means, Bessel-corrected variances, sqrt, divide — no
    * transcendentals (the gini-vs-entropy rule), so both engines
    * replay it bit-identically. Degenerate sides (n ≤ 1 or zero
    * pooled SE) pin t to 0. */
  def welchTQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yr = year($"o_orderdate")
    val m = Tables.orders(s, dir)
      .filter(yr === 1997 || yr === 1998)
      .select($"o_orderpriority".as("prio"),
        round($"o_totalprice").cast("long").as("usd"),
        when(yr === 1997, 1L).otherwise(0L).as("a"),
        when(yr === 1998, 1L).otherwise(0L).as("b"))
      .groupBy($"prio")
      .agg(sum($"a").as("n_1997"), sum($"b").as("n_1998"),
        sum($"a" * $"usd").as("s_1997"), sum($"b" * $"usd").as("s_1998"),
        sum($"a" * $"usd" * $"usd").as("ss_1997"),
        sum($"b" * $"usd" * $"usd").as("ss_1998"))
    def nD(c: String) = col(c).cast("double")
    val m1 = nD("s_1997") / nD("n_1997"); val m2 = nD("s_1998") / nD("n_1998")
    val v1 = (nD("n_1997") * nD("ss_1997") - nD("s_1997") * nD("s_1997")) /
      (nD("n_1997") * (nD("n_1997") - 1.0))
    val v2 = (nD("n_1998") * nD("ss_1998") - nD("s_1998") * nD("s_1998")) /
      (nD("n_1998") * (nD("n_1998") - 1.0))
    val se2 = v1 / nD("n_1997") + v2 / nD("n_1998")
    m.select($"prio", $"n_1997", $"n_1998", $"s_1997", $"s_1998",
        $"ss_1997", $"ss_1998",
        when($"n_1997" <= 1 || $"n_1998" <= 1 || se2 <= 0.0, lit(0.0))
          .otherwise((m1 - m2) / sqrt(se2)).as("t_stat"))
      .orderBy($"prio")
  }

  /** B4 (r8): Population Stability Index inputs — the industry-standard
    * drift screen scored per equi-width price bucket between the 1997
    * and 1998 snapshots, served LOG-FREE: `ln` is NOT cross-engine
    * bit-stable (JVM `Math.log` and DuckDB's libm disagree at ulp grain
    * — the reason [[giniImpurity]] exists where Shannon entropy does
    * not, re-confirmed empirically this round), so the gated output is
    * the EXACT integer decomposition of every PSI term: ppb shares
    * (c·10⁹ div n), their signed delta, and the exact share ratio in
    * ppb ((c97·n98·10⁹) div (c98·n97)) — each bucket's contribution
    * (p−q)·ln(p/q) derives from (delta_ppb, ratio_ppb) with ONE log at
    * the consumer (spec pins the driver-side statistic). NULL ratio
    * when either side is empty (the ε-free convention, explicit in the
    * output rather than hidden in a smoothing constant). Row-scale work
    * is one combinable bucket count; the bucket axis is bounded.
    * The ppb products run in DECIMAL(38,0) (r9): c·n·10⁹ reaches 10¹⁷
    * at gate scale and crosses int64's 9.2·10¹⁸ at 100 TB row counts —
    * int64 would wrap SILENTLY there while staying green at small SF.
    * `div` floors the decimal quotient back to an exact BIGINT (the
    * quotient is ≤ ~10⁹ by construction, so the output schema and
    * every gate hash are unchanged); the DuckDB oracle keeps BIGINT
    * arithmetic, which is overflow-CHECKED there (errors, never
    * corrupts), so both engines are honest at any scale. OverflowSpec
    * pins the widest product per emitter under 10¹²-row cardinality. */
  def psiDriftQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yr = year($"o_orderdate")
    val buckets = Tables.orders(s, dir)
      .filter(yr === 1997 || yr === 1998)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT) div 2500000").as("bucket"),
        when(yr === 1997, 1L).otherwise(0L).as("a"),
        when(yr === 1998, 1L).otherwise(0L).as("b"))
      .groupBy($"bucket").agg(sum($"a").as("c_1997"), sum($"b").as("c_1998"))
      .transform(Cut.eager) // feeds the totals row and the share join
    val tot = buckets.agg(sum($"c_1997").as("na"), sum($"c_1998").as("nb"))
    buckets.crossJoin(broadcast(tot)) // 1-row totals side
      .select($"bucket", $"c_1997", $"c_1998",
        expr("CAST(c_1997 AS DECIMAL(38,0)) * 1000000000 div na").as("share_1997_ppb"),
        expr("CAST(c_1998 AS DECIMAL(38,0)) * 1000000000 div nb").as("share_1998_ppb"),
        (expr("CAST(c_1997 AS DECIMAL(38,0)) * 1000000000 div na") -
          expr("CAST(c_1998 AS DECIMAL(38,0)) * 1000000000 div nb")).as("delta_ppb"),
        when($"c_1997" > 0 && $"c_1998" > 0,
          expr("CAST(c_1997 AS DECIMAL(38,0)) * nb * 1000000000" +
            " div (CAST(c_1998 AS DECIMAL(38,0)) * na)")).as("ratio_ppb"))
      .orderBy($"bucket")
  }

  def deltaDriversQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yr = year($"o_orderdate")
    Tables.orders(s, dir)
      .filter(yr === 1997 || yr === 1998)
      .select($"o_orderpriority",
        when(yr === 1997, money($"o_totalprice")).otherwise(lit(0).cast(Dec)).as("a"),
        when(yr === 1998, money($"o_totalprice")).otherwise(lit(0).cast(Dec)).as("b"))
      .groupBy($"o_orderpriority")
      .agg((sum($"a") * 100).cast("long").as("rev_1997_cents"),
        (sum($"b") * 100).cast("long").as("rev_1998_cents"))
      .withColumn("delta_cents", $"rev_1998_cents" - $"rev_1997_cents")
      .orderBy(abs($"delta_cents").desc, $"o_orderpriority")
  }

  /** B9 (r7): bitmap-index set algebra — the roaring-bitmap pattern
    * every OLAP accelerator uses for fast set intersection over a
    * bounded key domain: each return flag's distinct supplier SET is a
    * table of ⌈domain/63⌉ BIGINT words (bit j of word w set ⇔ supplier
    * 63w+j present — 63 bits per word so values stay positive in both
    * engines, the Bloom-word-table device), built with one combinable
    * `bit_or` aggregate; pairwise overlap is then Σ bit_count(a & b)
    * over an equi-join on the word index — set intersection at
    * bit-parallel speed with NO distinct-value shuffle, and the exact
    * Jaccard derives from the three counts. At 100 TB the bitmap table
    * is domain-bounded (not row-bounded), which is the entire point. */
  def bitmapOpsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("flag"),
        expr("l_suppkey div 63").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 63 AS INT))").as("b"))
      .groupBy($"flag", $"w").agg(expr("bit_or(b)").as("bits"))
      .transform(Cut.eager) // sizes and the pair join both consume it
    val sz = words.groupBy($"flag")
      .agg(sum(expr("bit_count(bits)").cast("long")).as("n"))
    val px = words.toDF("flag_a", "w", "ba")
      .join(words.toDF("flag_b", "w", "bb"), "w")
      .where($"flag_a" < $"flag_b")
      .groupBy($"flag_a", $"flag_b")
      .agg(sum(expr("bit_count(ba & bb)").cast("long")).as("n_shared"))
    px.join(sz.toDF("flag_a", "n_a"), "flag_a")
      .join(sz.toDF("flag_b", "n_b"), "flag_b")
      .select($"flag_a", $"flag_b", $"n_shared", $"n_a", $"n_b",
        // DECIMAL(38) product (r9, psiDriftQuery note): n_shared·10⁹
        // wraps int64 beyond ~9.2·10⁹ distinct members per side
        expr("(CAST(n_shared AS DECIMAL(38,0)) * 1000000000)" +
          " div (n_a + n_b - n_shared)").as("jaccard_ppb"))
      .orderBy($"flag_a", $"flag_b")
  }

  /** Benford expected first-digit shares in ppb — log10(1 + 1/d)
    * computed at AUTHOR time (the literal-constants device: libm runs
    * here once, never in either engine), so the comparison is exact
    * integer arithmetic cross-engine. */
  private[ops] val BenfordPpb: Seq[(Int, Long)] = Seq(
    1 -> 301029996L, 2 -> 176091259L, 3 -> 124938737L, 4 -> 96910013L,
    5 -> 79181246L, 6 -> 66946790L, 7 -> 57991947L, 8 -> 51152522L,
    9 -> 45757491L)

  /** B4 (r7): Benford first-digit audit — the classic fraud /
    * data-quality screen: the observed first-significant-digit
    * distribution of order totals beside Benford's law expectation,
    * with the signed ppb deviation. The digit is extracted
    * ARITHMETICALLY from the exact integer cents via the decimal
    * string length (BIGINT→VARCHAR is identical cross-engine; a
    * float's leading digit via log10 would land on libm and never
    * gate); ×100 to cents shifts the decimal point and cannot change
    * the leading significant digit. Zero-cent rows (leading digit 0)
    * are excluded BEFORE totaling — Benford's law is defined on
    * nonzero magnitudes, and keeping them would inflate the obs_ppb
    * denominator against an axis that can never emit them. One
    * combinable digit count left-joined onto a 9-row constant table
    * (the ≤9-row count side is the one broadcast); a digit with zero
    * observations still reports (dense axis). */
  def benfordQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = Tables.orders(s, dir)
      .select(expr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .filter($"digit" > 0) // drop sign/zero rows the 1-9 axis can't carry
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      .transform(Cut.eager) // ≤9 rows; the total must not re-scan orders
    val exp = BenfordPpb.toDF("digit", "exp_ppb")
    val tot = obs.agg(sum($"n").as("total"))
    exp.join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select($"digit", coalesce($"n", lit(0L)).as("n"),
        // DECIMAL(38) product (r9, psiDriftQuery note): n·10⁹ wraps
        // int64 beyond ~9.2·10⁹ orders per digit
        expr("(CAST(coalesce(n, 0) AS DECIMAL(38,0)) * 1000000000) div total")
          .as("obs_ppb"), $"exp_ppb")
      .withColumn("dev_ppb", $"obs_ppb" - $"exp_ppb")
      .orderBy($"digit")
  }

  /** B10 (r7): day-of-week × hour-of-day activity heatmap — the
    * engagement matrix every analytics UI renders. Both axes are exact
    * integer epoch arithmetic ((days+3) % 7 with Monday = 0, hours mod
    * 24 — never the engines' dayofweek()/weekday(), whose start-of-week
    * and indexing conventions differ), counts + exact ppb share of
    * total. One map-side-combinable aggregate over the scan. */
  def activityHeatmapQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, dir)
      .select(expr("unix_micros(cast(ts as timestamp)) div 1000000").as("sec"))
      .select(pmod(expr("sec div 86400") + 3, lit(7)).as("dow"),
        pmod(expr("sec div 3600"), lit(24)).as("hour"))
      .groupBy($"dow", $"hour").agg(count(lit(1)).as("n"))
      .transform(Cut.eager) // ≤168 rows; the total must not re-scan events
    val tot = cells.agg(sum($"n").as("total"))
    cells.crossJoin(broadcast(tot))
      .select($"dow", $"hour", $"n",
        // DECIMAL(38) product (r9, psiDriftQuery note)
        expr("(CAST(n AS DECIMAL(38,0)) * 1000000000) div total").as("share_ppb"))
      .orderBy($"dow", $"hour")
  }

  /** HLL geometry of [[hllPortable]]: p=8 → m=256 registers, 40-bit
    * rank field, α_m bias constant. Exposed for the spec. */
  private[ops] val HllP = 8
  private[ops] val HllM = 1 << HllP
  private[ops] val HllAlpha = 0.7213 / (1 + 1.079 / HllM)
  private[ops] val HllC = HllAlpha * HllM * HllM * math.pow(2, 41)

  /** Portable HyperLogLog raw estimate over `items` (columns `g`
    * group, `v` string value) — the CMS move applied to Flajolet's
    * sketch: hashes are the engine-portable 48-bit md5 prefix (top 8
    * bits pick the register, the 40-bit remainder carries the rank),
    * the rank is `41 − length(bin(w))` — `bin()` renders the minimal
    * binary string in BOTH engines, so `length(bin(w))` IS
    * ⌊log2 w⌋+1 cross-engine with zero float math — and the harmonic
    * sum Σ 2^(−M_j) is served EXACTLY as Σ 2^(41−M_j) in BIGINT
    * (≤ 256·2^41 < 2^63), leaving ONE final IEEE division by the
    * author-time constant α·m²·2^41 (the literal-constants device).
    * Raw estimate only — no small/large-range correction, documented;
    * the exact-regime alternative is [[distinctSketch]]'s KMV. Scale:
    * one combinable (g, register) max + a 256-row-per-group axis. */
  private[ops] def hllEstimates(items: DataFrame): DataFrame = {
    import items.sparkSession.implicits._
    val field = 1L << 40
    // fused kernel == the oracle's composed md5 formulation bit-for-bit
    val h = graft.functions.Md5Prefix(concat(lit("hll:"), $"v"), 12)
    val regs = items.select($"g", h.as("h"))
      .select($"g", expr(s"h div $field").as("idx"),
        (lit(41) - length(bin(pmod($"h", lit(field))))).as("rho"))
      .groupBy($"g", $"idx").agg(max($"rho").as("mreg"))
    val axis = items.select($"g").distinct()
      .crossJoin(items.sparkSession.range(HllM).toDF("idx"))
    axis.join(regs, Seq("g", "idx"), "left")
      .select($"g",
        expr("CAST(power(2, 41 - coalesce(mreg, 0)) AS BIGINT)").as("term"))
      .groupBy($"g").agg(sum($"term").as("ssum"))
      .select($"g", (lit(HllC) / $"ssum".cast("double")).as("hll_estimate"))
  }

  /** B5 (r7): portable-HLL distinct-count report per return flag,
    * beside the exact COUNT(DISTINCT) — the lossy estimator itself
    * hash-gates (both engines compute the identical register file from
    * the portable hashes), unlike engine HLLs whose internals differ
    * (the reason b05_approx_stats is rows-only). */
  def hllPortableQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("g"), $"l_orderkey".cast("string").as("v"))
    val exact = Tables.lineitem(s, dir).groupBy($"l_returnflag".as("g"))
      .agg(countDistinct($"l_orderkey").as("n_exact"))
    hllEstimates(items).join(exact, Seq("g"))
      .select($"g".as("l_returnflag"), $"hll_estimate", $"n_exact")
      .orderBy($"l_returnflag")
  }

  // the fused Md5Prefix kernel IS the composed conv(substring(md5(·),1,12))
  // bit-for-bit (property-tested in Md5PrefixSpec) — the oracle SQL keeps
  // the composed formulation, the hot path skips three string allocations
  private def cmHash(w: Long)(j: Column, k: Column): Column =
    pmod(graft.functions.Md5Prefix(
      concat(lit("cm"), j.cast("string"), lit(":"), k), 12), lit(w))

  /** The d×w counter matrix for `items` (single string column `k`) —
    * split out so the streaming sink can fold per-batch matrices
    * (CMS matrices merge by cell-wise addition, the defining
    * mergeable-summary property). */
  private[graft] def countMinMatrix(items: DataFrame, d: Int, w: Long): DataFrame = {
    import items.sparkSession.implicits._
    val hash = cmHash(w) _
    val js = array((0 until d).map(lit): _*)
    items.select(explode(js).as("j"), $"k")
      .select($"j", hash($"j", $"k").as("col"))
      .groupBy($"j", $"col").agg(count(lit(1)).as("c"))
  }

  /** Point estimates for `probes` (single long column `key`) against a
    * counter matrix: min over the d probed cells, absent cells read 0. */
  private[graft] def countMinProbe(
      cms: DataFrame, probes: DataFrame, d: Int, w: Long): DataFrame = {
    import probes.sparkSession.implicits._
    val hash = cmHash(w) _
    val js = array((0 until d).map(lit): _*)
    probes.select($"key", explode(js).as("j"))
      .select($"key", $"j", hash($"j", $"key".cast("string")).as("col"))
      .join(broadcast(cms), Seq("j", "col"), "left")
      .groupBy($"key").agg(min(coalesce($"c", lit(0L))).as("est_count"))
  }

  private[ops] def countMinEstimates(
      items: DataFrame, probes: DataFrame, d: Int, w: Long): DataFrame =
    countMinProbe(countMinMatrix(items, d, w), probes, d, w)

  /** B5 (r7): Count-Min sketch — the classic streaming frequency
    * summary completing the mergeable-sketch family (Misra-Gries heavy
    * hitters, KMV distinct, KLL-style quantiles): per-supplier lineitem
    * frequencies estimated from a 4×512 counter matrix and reported
    * beside the exact counts. Unlike the exact-regime gates, this gate
    * checks the LOSSY estimator itself — both engines compute the same
    * collision pattern from the portable hashes, so est_count hash-gates
    * even where collisions inflate it; the CMS guarantees (est ≥ exact,
    * planted-heavy survival) are additionally spec-pinned on fixtures. */
  def countMin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = 4
    val w = 512L
    val probes = Tables.supplier(s, dir).select($"s_suppkey".as("key")).filter($"key" < 50)
    // r17 (guide §2.3 shuffle/compute fewer bytes): the counter matrix
    // is a WEIGHTED sum over per-key counts — cell(j, col) =
    // Σ_{k: h_j(k)=col} count(k) — so hash the (tiny) exact-count key
    // table the query already aggregates for its readout, not d copies
    // of every lineitem row (same cmHash on the same cast-to-string
    // keys ⇒ bit-identical collision pattern, exact integer sums).
    // The checkpoint is cheap (|suppliers| rows) and feeds 2 consumers.
    val exact = Tables.lineitem(s, dir)
      .groupBy($"l_suppkey".as("key")).agg(count(lit(1)).as("exact_count"))
      .transform(Cut.eager)
    val hash = cmHash(w) _
    val js = array((0 until d).map(lit): _*)
    val cms = exact.select(explode(js).as("j"),
        $"key".cast("string").as("k"), $"exact_count".as("cnt"))
      .select($"j", hash($"j", $"k").as("col"), $"cnt")
      .groupBy($"j", $"col").agg(sum($"cnt").as("c"))
    countMinProbe(cms, probes, d, w)
      .join(exact, Seq("key"), "left")
      .select($"key".as("s_suppkey"), $"est_count",
        coalesce($"exact_count", lit(0L)).as("exact_count"))
      .orderBy($"s_suppkey")
  }

  /** B5: per-source length percentiles via the mergeable
    * [[graft.functions.QuantileSketchAgg]] — the bounded-memory quantile
    * aggregate behind dynamic curation cutoffs (see
    * `TextAnalysis.qualityThreshold`, whose exact rank-window this
    * replaces at 100 TB). Capacity 4096 >> the per-source doc counts at
    * gate scale, so this query runs in the EXACT regime (no compaction;
    * reported values are exactly the ⌈p·n⌉-rank order statistics) and
    * hash-gates against DuckDB rank arithmetic; the lossy-regime error
    * bound and merge-tree invariance are spec-pinned in
    * QuantileSketchSpec. */
  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = udaf(new graft.functions.QuantileSketchAgg(4096,
      Seq(1 -> 4, 1 -> 2, 3 -> 4, 9 -> 10)))
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(qs($"n_chars").as("q"))
      .select($"source", $"q"(0).as("p25"), $"q"(1).as("p50"),
        $"q"(2).as("p75"), $"q"(3).as("p90"))
      .orderBy($"source")
  }

  /** B5: per-flag distinct-supplier/part cardinality via the mergeable
    * k-minimum-values sketch — the bounded-memory COUNT(DISTINCT) whose
    * shuffle partials are ≤k longs instead of the full distinct-value
    * set (Spark plans exact COUNT(DISTINCT) as a two-phase expand over
    * every distinct value). r14 (VERDICT r13 #2): hashes moved to the
    * engine-portable 48-bit md5 prefix and the estimator to pure BIGINT
    * ([[graft.functions.KmvEstimateAgg]]), so the oracle replays the
    * IDENTICAL sketch and the gate certifies BOTH regimes — exact below
    * k (suppliers everywhere; parts at sf0.01) and the lossy estimator
    * beyond it (parts at sf0.1: 20 000 distinct > k = 4096), closing
    * the two-SF certification gap. Partition-invariance (the k smallest
    * distinct hashes are a set property — no merge-tree dependence even
    * lossy) is spec-pinned in KmvSketchSpec. */
  def distinctSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kmv = udaf(new graft.functions.KmvEstimateAgg(4096),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[java.lang.Long]())
    def h(c: Column): Column =
      graft.functions.Md5Prefix(concat(lit("kmv:"), c.cast("string")), 12)
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        kmv(h($"l_suppkey")).as("distinct_suppliers"),
        kmv(h($"l_partkey")).as("distinct_parts"))
      .orderBy($"l_returnflag")
  }

  /** B4 (r7 cont.): chi-square independence screen over the
    * order-priority × order-status contingency table — the categorical
    * association test beside [[giniImpurity]] (impurity scores one
    * split; chi-square asks whether the two dimensions are associated
    * at all). Row-scale work is ONE combinable cell count; margins,
    * the full (zero-filled) cell axis, and the per-cell expected /
    * contribution derive on the bounded domain (5×3 here). Expected
    * counts and contributions are served in a FIXED IEEE tree from the
    * exact BIGINT margins (R·C overflows int64 at scale, so each
    * factor casts to double FIRST — the b06_zscore device). Per-cell
    * contributions are emitted rather than a summed χ² statistic:
    * cross-engine double SUMS are summation-order-dependent, per-cell
    * doubles are bit-exact (the b16_modularity precedent); the spec
    * pins the driver-side total. */
  def chiSquare(s: SparkSession, dir: String): DataFrame =
    chiSquareOf(Tables.orders(s, dir))

  private[ops] def chiSquareOf(orders: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val cells = orders
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy($"o_orderpriority").agg(sum($"obs").as("row_tot"))
    val colTot = cells.groupBy($"o_orderstatus").agg(sum($"obs").as("col_tot"))
    val total = cells.agg(sum($"obs").as("n"))
    val axis = rowTot.crossJoin(colTot) // bounded: |priorities| × |statuses|
    axis.join(cells, Seq("o_orderpriority", "o_orderstatus"), "left")
      .crossJoin(broadcast(total))
      .withColumn("obs", coalesce($"obs", lit(0L)))
      .withColumn("expected",
        $"row_tot".cast("double") * $"col_tot".cast("double") / $"n".cast("double"))
      .withColumn("contrib",
        ($"obs".cast("double") - $"expected") * ($"obs".cast("double") - $"expected")
          / $"expected")
      .select($"o_orderpriority", $"o_orderstatus", $"obs", $"row_tot",
        $"col_tot", $"n", $"expected", $"contrib")
      .orderBy($"o_orderpriority", $"o_orderstatus")
  }

  /** B4 (r9): Cramér's V — the [0,1]-normalized association strength
    * over the same priority × status contingency table [[chiSquareOf]]
    * scores cell-by-cell (χ² says "dependent?"; V says "how much",
    * comparable across table shapes). The per-cell term is the
    * scale-safe IEEE form ((o·n − r·c) as one exact DECIMAL(38)
    * difference cast to double BEFORE squaring — the square of the
    * products would cross 10³⁸ at 100 TB counts); the cross-cell total
    * uses the b13_lm_score ppb-quantization device: each term rounds to
    * an integer ppb BEFORE the sum, so the aggregate is an
    * order-insensitive BIGINT sum, never an order-dependent double fold
    * (the axis is bounded, but gate determinism must not depend on
    * that). χ²/V derive from the quantized total in one fixed IEEE
    * tree; the quantization (≤ 0.5 ppb per cell) is part of the
    * metric's definition, stated here rather than hidden. */
  def cramersVQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.orders(s, dir)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("obs"))
      .transform(Cut.eager) // feeds row/col/total margins and the terms
    val rowTot = cells.groupBy($"o_orderpriority").agg(sum($"obs").as("row_tot"))
    val colTot = cells.groupBy($"o_orderstatus").agg(sum($"obs").as("col_tot"))
    val total = cells.agg(sum($"obs").as("n"),
      countDistinct($"o_orderpriority").as("nr"),
      countDistinct($"o_orderstatus").as("nc"))
    val terms = rowTot.crossJoin(colTot) // bounded margin axes
      .join(cells, Seq("o_orderpriority", "o_orderstatus"), "left")
      .crossJoin(broadcast(total))
      .withColumn("obs", coalesce($"obs", lit(0L)))
      .withColumn("d", expr(
        "CAST(CAST(obs AS DECIMAL(38,0)) * n - CAST(row_tot AS DECIMAL(38,0)) * col_tot AS DOUBLE)"))
      .withColumn("contrib", $"d" * $"d" /
        expr("CAST(CAST(n AS DECIMAL(38,0)) * row_tot * col_tot AS DOUBLE)"))
      .withColumn("contrib_ppb", expr("CAST(round(contrib * 1000000000) AS BIGINT)"))
    terms.groupBy($"n", $"nr", $"nc")
      .agg(sum($"contrib_ppb").as("chi2_ppb"), count(lit(1)).as("n_cells"))
      .withColumn("cramers_v", expr(
        """sqrt((CAST(chi2_ppb AS DOUBLE) / 1000000000.0) /
           (CAST(n AS DOUBLE) * CAST(least(nr, nc) - 1 AS DOUBLE)))"""))
      .select($"n", $"nr", $"nc", $"n_cells", $"chi2_ppb", $"cramers_v")
  }

  /** B4 (r7 cont.): Spearman rank correlation per return flag — the
    * robust companion of [[b04_corr_moments]]'s Pearson (monotone
    * association, outlier-immune: one whale order bends Pearson, barely
    * moves ranks). Tie handling is the textbook AVERAGE rank, served
    * EXACTLY: from the distinct-value cumulative table, a value's
    * average rank ×2 is the pure integer 2·(rows before) + count + 1 —
    * no fractional ranks, no row-scale rank window (the
    * b04_weighted_median device, once per variable); rows join back to
    * their doubled ranks, moments are exact BIGINTs, and ρ derives in
    * the fixed IEEE tree (each moment cast to double first — the
    * b06_autocorr finish; the ×2 scaling cancels in ρ). */
  def spearman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    spearmanOf(Tables.lineitem(s, dir).select($"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      round($"l_extendedprice" * 100).cast("long").as("y")))
  }

  /** Spearman over `rows` (columns l_returnflag group, x, y longs). */
  private[ops] def spearmanOf(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    // r8 re-plan: the r7 form joined the ROW table against both rank
    // tables (two row-scale shuffles). All five moments actually factor
    // through the joint (x, y) CELL distribution: with gx(y) = Σ_x c·r2x
    // and gx2(y) = Σ_x c·r2x² per y-slice, sxy = Σ_y gx·r2y etc. — so
    // the plan is one cells aggregate, one BROADCAST join against the
    // bounded x-domain rank table, one combinable per-y aggregate, and
    // y ranks from the same table via the two-level bin+carry prefix
    // (the b04_ks_test device; no per-flag single-reducer value sort).
    // Every intermediate is the same exact integer as before.
    // r17 (guide §2.4): checkpoint — cells feeds BOTH the x-rank branch
    // (via cx) and the byY probe side; without the cut the 600k-row
    // groupBy subplan appears twice in byY's plan and only fragile
    // runtime exchange reuse dedupes it (the r16 e01 lesson).
    val cells = rows.groupBy($"l_returnflag", $"x", $"y")
      .agg(count(lit(1)).as("c"))
      .transform(Cut.eager)
    val cx = cells.groupBy($"l_returnflag", $"x").agg(sum($"c").as("cx"))
    val wx = Window.partitionBy($"l_returnflag").orderBy($"x")
      .rowsBetween(Window.unboundedPreceding, 0) // bounded discrete axis
    val rankx = cx.withColumn("hi", sum($"cx").over(wx))
      .select($"l_returnflag", $"x",
        (lit(2) * ($"hi" - $"cx") + $"cx" + 1).as("r2x"))
    val byY = cells.join(broadcast(rankx), Seq("l_returnflag", "x"))
      .groupBy($"l_returnflag", $"y")
      .agg(sum($"c").as("cy"),
        sum($"c" * $"r2x").as("gx"),
        sum($"c" * $"r2x" * $"r2x").as("gx2"))
      .withColumn("bin", expr("y div 100000"))
      .transform(Cut.eager) // feeds the prefix and the carry
    // r9: the shared two-level device (Prefix.prefixSum2L) replaces the
    // hand-rolled in-bin window + carry; run_cy = c0 + r, so
    // r2y = 2·(run_cy − cy) + cy + 1 is the identical integer
    val withRy = Prefix
      .prefixSum2L(byY, Seq("l_returnflag"), "bin", Seq($"y"), Seq("cy"))
      .withColumn("r2y", lit(2) * ($"run_cy" - $"cy") + $"cy" + 1)
    val m = withRy.groupBy($"l_returnflag").agg(
      sum($"cy").as("n"),
      sum($"gx").as("sx"), sum($"cy" * $"r2y").as("sy"),
      sum($"gx" * $"r2y").as("sxy"),
      sum($"gx2").as("sx2"),
      sum($"cy" * $"r2y" * $"r2y").as("sy2"))
    val nD = $"n".cast("double")
    val num = nD * $"sxy".cast("double") - $"sx".cast("double") * $"sy".cast("double")
    val denx = nD * $"sx2".cast("double") - $"sx".cast("double") * $"sx".cast("double")
    val deny = nD * $"sy2".cast("double") - $"sy".cast("double") * $"sy".cast("double")
    m.select($"l_returnflag", $"n", $"sx", $"sy", $"sxy",
        when(denx * deny <= 0.0, lit(0.0))
          .otherwise(num / sqrt(denx * deny)).as("spearman_rho"))
      .orderBy($"l_returnflag")
  }

  /** B4 (r8): Kendall's τ-b rank correlation — the concordant/discordant
    * pair statistic beside [[spearman]]'s rank moments, with the full
    * tie correction. The O(n²) pair form is never materialized: rows
    * collapse to contingency CELLS (group, x, y, count), and ONE
    * multi-column window pass computes, for every cell, the
    * strictly-below-y running count of EACH x-slice (the bounded
    * discrete x-domain — l_quantity, ≤50 values — collected once to
    * become |domain| same-spec window sums sharing a single sort; the
    * r8 probe-join form replicated every cell |domain|× instead and was
    * the bench's worst query at 11.9 s). The running sums are
    * decomposed two-level (in-bin RANGE −1 window per (group, ybin) +
    * a carry over the bounded bin axis — the b04_ks_test device), so no
    * partition covers a group's whole y axis in one reducer. Concordant
    * pairs come from slices left of the cell's x, discordant from
    * slices right of it; pairs tied in either coordinate fall out of
    * the frame/filter by construction, so nc + nd = C(n,2) − tx − ty
    * + txy exactly (the spec asserts this identity). All counts are
    * longs (exact to n ≈ 3·10⁹ per group); only the final τ-b ratio is
    * IEEE, as one fixed tree both engines replay. */
  def kendall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kendallOf(Tables.lineitem(s, dir).select($"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      round($"l_extendedprice" * 100).cast("long").as("y")))
  }

  private[ops] def kendallOf(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    val cells = rows.groupBy($"l_returnflag", $"x", $"y")
      .agg(count(lit(1)).as("c"))
      .withColumn("ybin", expr("y div 100000"))
      .transform(Cut.eager) // feeds 5 branches; the scan must run once
    // the bounded discrete x-domain (≤~50 quantities) — the same
    // boundedness the r8 probe-join formulation leaned on, collected
    // ONCE (domain-scale, never row-scale) to become window-expression
    // literals: one multi-column window pass replaces the |domain|-way
    // cell replication that made the probe join the bench's worst query
    // (11.9 s → the cells table is walked once, not 50×)
    val xs = cells.select($"x").distinct().collect().map(_.getLong(0)).sorted
    // strictly-below-y running count per x-slice, decomposed two-level
    // (the b04_ks_test device): an in-bin RANGE -1 window partitioned by
    // (flag, ybin) + a carry over the bounded bin axis, so no partition
    // ever covers a flag's whole y axis in one reducer; all |domain|
    // sums share ONE window spec → one sort, one WindowExec
    val wIn = Window.partitionBy($"l_returnflag", $"ybin").orderBy($"y")
      .rangeBetween(Window.unboundedPreceding, -1)
    val inBin = cells.select(
      ($"l_returnflag" +: $"x" +: $"y" +: $"ybin" +: $"c" +:
        xs.map(j => coalesce(sum(when($"x" === j, $"c")).over(wIn), lit(0L))
          .as(s"cum_$j"))): _*)
    val wBins = Window.partitionBy($"l_returnflag").orderBy($"ybin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tAggs = xs.map(j => sum(when($"x" === j, $"c")).as(s"t_$j"))
    // r17 (VERDICT r16 #2/#4, guide §2.4): binTotals now feeds TWO
    // consumers (the bin carry below AND the ties_x derivation) —
    // checkpoint the ~|bins|-row frame so the cells aggregate runs once
    // structurally, not per branch.
    val binTotals = cells.groupBy($"l_returnflag", $"ybin")
      .agg(tAggs.head, tAggs.tail: _*)
      .transform(Cut.eager)
    val carry = binTotals.select(
      ($"l_returnflag" +: $"ybin" +:
        xs.map(j => coalesce(sum(col(s"t_$j")).over(wBins), lit(0L))
          .as(s"p_$j"))): _*)
    def cumTotal(j: Long) = col(s"p_$j") + col(s"cum_$j")
    val ncE = xs.map(j => when($"x" > j, cumTotal(j)).otherwise(lit(0L)))
      .reduceOption(_ + _).getOrElse(lit(0L))
    val ndE = xs.map(j => when($"x" < j, cumTotal(j)).otherwise(lit(0L)))
      .reduceOption(_ + _).getOrElse(lit(0L))
    // r17 (VERDICT r16 #2, decided on the per-job wall table — see
    // plans/r17/b04_kendall_jobs_*.txt): the query is job-count bound
    // (21 jobs, no job over 1.3 s), so the win is FEWER cells-scale
    // aggregations, not a window rewrite. Two cuts, both exact-integer
    // regroupings of the same sums:
    //  1. n and ties_xy fold INTO the nc/nd aggregate — the inBin ⋈
    //     carry join preserves every cells row exactly once (inner join
    //     on (flag, ybin); carry covers every bin), so sum(c) and
    //     sum(c(c−1)/2) there equal the old standalone `base` aggregate.
    //  2. ties_x derives from binTotals (T_j = Σ_bins t_j per slice —
    //     the same per-(flag, x) totals the old 600k-row tieSide("x")
    //     groupBy recomputed), a ~|bins|-row aggregate instead of a
    //     second full cells pass.
    val cd = inBin.join(carry, Seq("l_returnflag", "ybin"))
      .groupBy($"l_returnflag")
      .agg(sum($"c" * ncE).as("nc"), sum($"c" * ndE).as("nd"),
        sum($"c").as("n"),
        expr("sum(c * (c - 1)) div 2").as("ties_xy"))
    // coalesce: a flag that never sees slice j has T_j NULL (sum over an
    // all-NULL t_j column) where the old per-(flag, x) groupBy simply had
    // no row — both mean "0 rows in the slice", so its tie term is 0
    val tiesX = binTotals.groupBy($"l_returnflag")
      .agg(xs.map(j => sum(col(s"t_$j")).as(s"T_$j")).head,
        xs.map(j => sum(col(s"t_$j")).as(s"T_$j")).tail: _*)
      .select($"l_returnflag",
        xs.map(j => expr(s"(coalesce(T_$j, 0) * (coalesce(T_$j, 0) - 1)) div 2"))
          .reduceOption(_ + _).getOrElse(lit(0L)).as("ties_x"))
    def tieSide(colName: String, out: String) =
      cells.groupBy($"l_returnflag", col(colName)).agg(sum($"c").as("t"))
        .groupBy($"l_returnflag").agg(expr("sum(t * (t - 1)) div 2").as(out))
    cd
      .join(tiesX, Seq("l_returnflag"))
      .join(tieSide("y", "ties_y"), Seq("l_returnflag"))
      .withColumn("n0", expr("(n * (n - 1)) div 2"))
      .select($"l_returnflag", $"n", $"nc", $"nd",
        $"ties_x", $"ties_y", $"ties_xy",
        when(($"n0" - $"ties_x").cast("double")
               * ($"n0" - $"ties_y").cast("double") <= 0.0, lit(0.0))
          .otherwise(($"nc" - $"nd").cast("double")
            / sqrt(($"n0" - $"ties_x").cast("double")
                 * ($"n0" - $"ties_y").cast("double"))).as("tau_b"))
      .orderBy($"l_returnflag")
  }

  /** B5 (r7 cont.): CONTINUOUS (interpolated) percentiles served
    * EXACTLY — the percentile_cont companion of the family's
    * percentile_disc rank picks: at quartile k/4 the interpolation
    * weight is the exact rational rem/4 with rem = (n−1)·k mod 4, so
    * the interpolated value ×4 is the pure integer
    * v_lo·(4−rem) + v_hi·rem — no float interpolation to diverge
    * cross-engine; the display value is ONE final division by 4.
    * Rank picks ride the distinct-value cumulative device (the
    * b04_weighted_median shape): one combinable (flag, cents) count,
    * a window over DISTINCT values only, and a bounded 3-row target
    * join — never a row-scale rank window. A single-row group
    * degenerates to v_hi = v_lo via the left-join coalesce. */
  def percentileCont(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 (guide §2.5 single-reducer windows / §2.4): the cumulative
    // rides the shared two-level bin+carry device (Prefix.prefixSum2L,
    // the b04_ks_test precedent) — the old per-flag window sorted every
    // distinct cents value in one reducer per flag AND its subplan
    // re-executed once per consumer (n, v_lo, v_hi = three runs; only
    // the cc exchange was reused). Now: cc is checkpointed once, n is a
    // tiny aggregate over it, and BOTH rank picks come out of ONE pass
    // over the cumulative via conditional aggregation (a (flag, quarter)
    // group has exactly one covering row per rank by construction, so
    // max(case ...) selects precisely the old join-filter's row; a
    // single-row group leaves v_hi NULL exactly where the old left join
    // did, and the same coalesce applies). Values are the same exact
    // integers; output schema and rows unchanged.
    val cc = Tables.lineitem(s, dir)
      .select($"l_returnflag",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag", $"cents").agg(count(lit(1)).as("c"))
      .withColumn("bin", expr("cents div 50000"))
      .transform(Cut.eager) // feeds both prefix levels + the flag totals
    val n = cc.groupBy($"l_returnflag").agg(sum($"c").as("n"))
    val cum = Prefix.prefixSum2L(cc, Seq("l_returnflag"), "bin", Seq($"cents"), Seq("c"))
      .select($"l_returnflag", $"cents", $"run_c".as("hi"),
        ($"run_c" - $"c").as("lo_excl"))
    val targets = n
      .crossJoin(Seq(1, 2, 3).toDF("quarter"))
      .select($"l_returnflag", $"n", $"quarter",
        expr("((n - 1) * quarter) div 4 + 1").as("lo_rank"),
        expr("((n - 1) * quarter) % 4").as("rem"))
    cum.join(broadcast(targets), Seq("l_returnflag"))
      .filter($"lo_excl" < $"lo_rank" + 1 && $"lo_rank" <= $"hi")
      .groupBy($"l_returnflag", $"quarter")
      .agg(first($"n").as("n"), first($"rem").as("rem"),
        max(when($"lo_excl" < $"lo_rank" && $"lo_rank" <= $"hi", $"cents")).as("v_lo"),
        max(when($"lo_excl" < $"lo_rank" + 1 && $"lo_rank" + 1 <= $"hi", $"cents")).as("v_hi"))
      .withColumn("v_hi", coalesce($"v_hi", $"v_lo"))
      .select($"l_returnflag", $"quarter", $"n", $"v_lo", $"v_hi",
        ($"v_lo" * (lit(4) - $"rem") + $"v_hi" * $"rem").as("cents_x4"))
      .withColumn("value_cents", $"cents_x4".cast("double") / 4.0)
      .orderBy($"l_returnflag", $"quarter")
  }

  /** B5 (r8): [[percentileCont]] generalized to ARBITRARY rational
    * p = num/den — the tail percentiles (p10/p90/p99) a latency or
    * token-budget review actually asks for, served with the same
    * exact-integer interpolation: lo_rank = (n−1)·num div den + 1,
    * rem = (n−1)·num mod den, and the interpolated value ×den is the
    * pure integer v_lo·(den−rem) + v_hi·rem — no float interpolation
    * to diverge cross-engine; the display value is ONE final IEEE
    * division by den. The percentile axis is a broadcast 3-row
    * constant; all row-scale work is the same combinable
    * distinct-value cumulative device as the quartile query. */
  def percentileAny(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 (guide §2.5/§2.4): same restructure as percentileCont — the
    // shared bin+carry prefix device replaces the per-flag
    // single-reducer window, cc is checkpointed once for every
    // consumer, and both rank picks come from ONE conditional-aggregate
    // pass over the cumulative (covering rows are unique per
    // (flag, pct, rank); v_hi NULL ⇔ the old left join missed ⇔ the
    // same coalesce). Exact integers; rows/schema unchanged.
    val cc = Tables.lineitem(s, dir)
      .select($"l_returnflag",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag", $"cents").agg(count(lit(1)).as("c"))
      .withColumn("bin", expr("cents div 50000"))
      .transform(Cut.eager) // feeds both prefix levels + the flag totals
    val n = cc.groupBy($"l_returnflag").agg(sum($"c").as("n"))
    val cum = Prefix.prefixSum2L(cc, Seq("l_returnflag"), "bin", Seq($"cents"), Seq("c"))
      .select($"l_returnflag", $"cents", $"run_c".as("hi"),
        ($"run_c" - $"c").as("lo_excl"))
    val ps = Seq((10, 1L, 10L), (90, 9L, 10L), (99, 99L, 100L))
      .toDF("pct", "num", "den")
    val targets = n.crossJoin(broadcast(ps))
      .select($"l_returnflag", $"n", $"pct", $"den",
        expr("((n - 1) * num) div den + 1").as("lo_rank"),
        expr("((n - 1) * num) % den").as("rem"))
    cum.join(broadcast(targets), Seq("l_returnflag"))
      .filter($"lo_excl" < $"lo_rank" + 1 && $"lo_rank" <= $"hi")
      .groupBy($"l_returnflag", $"pct")
      .agg(first($"n").as("n"), first($"den").as("den"), first($"rem").as("rem"),
        max(when($"lo_excl" < $"lo_rank" && $"lo_rank" <= $"hi", $"cents")).as("v_lo"),
        max(when($"lo_excl" < $"lo_rank" + 1 && $"lo_rank" + 1 <= $"hi", $"cents")).as("v_hi"))
      .withColumn("v_hi", coalesce($"v_hi", $"v_lo"))
      .select($"l_returnflag", $"pct", $"n", $"v_lo", $"v_hi",
        ($"v_lo" * ($"den" - $"rem") + $"v_hi" * $"rem").as("cents_xden"),
        (($"v_lo" * ($"den" - $"rem") + $"v_hi" * $"rem").cast("double")
          / $"den".cast("double")).as("value_cents"))
      .orderBy($"l_returnflag", $"pct")
  }

  /** AMS geometry: 64 ±1 estimators in 8 groups of 8 — each group sum
    * is an 8-scaled F2 estimate, the lower median of the 8 group sums
    * is the reported sketch value (Alon-Matias-Szegedy, STOC'96). */
  private[ops] val AmsJ = 64
  private[ops] val AmsGroup = 8

  /** B5 (r7 cont.): AMS second-frequency-moment (F2) sketch — the
    * fourth classic mergeable sketch beside Misra-Gries / KMV / KLL /
    * CMS / HLL: F2 = Σ c_k² is the self-join size (the query-planner
    * cardinality input) and the "surprise number" skew measure, and AMS
    * estimates it from J counters regardless of key cardinality: z_j =
    * Σ_k sign_j(k)·c_k with 4-wise-independent ±1 hashes, E[z²] = F2.
    * Served with engine-portable md5 sign hashes and EXACT integer
    * arithmetic end to end — group sums of z² are 8-scaled estimates,
    * the final value is their lower median (the exact even-count
    * device), so the LOSSY estimate itself hash-gates (the
    * b05_countmin discipline). The exact F2 rides along for the error
    * readout. Scale: the z table is one combinable aggregate over the
    * J-replicated DISTINCT-key table — counters move, keys don't. */
  def amsF2Query(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    amsF2Of(Tables.lineitem(s, dir)
        .select($"l_returnflag".as("g"), $"l_orderkey".as("k")))
      .select($"g".as("l_returnflag"), $"f2_exact", $"ams_f2", $"ams_scaled8")
      .orderBy($"l_returnflag")
  }

  /** The AMS ±1 counter table (g, j, z) for `items` (columns `g`, `k`;
    * multiplicity = row count per (g, k)) — split out because z
    * counters MERGE BY ADDITION, which is what the streaming sink folds
    * per micro-batch (the countMinMatrix factoring). */
  private[graft] def amsZTable(items: DataFrame): DataFrame =
    amsZOfCounts(items.groupBy(col("g"), col("k")).agg(count(lit(1)).as("c")))

  /** [[amsZTable]] over a pre-aggregated (g, k, c) count table — the
    * seam [[amsF2Of]] rides so the exact-F2 readout and the sketch share
    * ONE (g, k) aggregation (r17, guide §2.4). */
  private[graft] def amsZOfCounts(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    // all 64 signs from TWO 48-bit md5 fields per key (bits 0..47 of
    // h1, 0..15 of h2) — the first cut hashed (j, k) per estimator:
    // 64 md5s and a 64× row explode per key, 4.97 s at sf0.1 (the
    // bench's slowest query); bit-sliced + VecSumAgg-folded, the same
    // sketch is one hash pair and one combinable vector sum per key,
    // with the only explode on the |groups|-row z vectors
    val vsum = udaf(new graft.functions.VecSumAgg)
    counts
      .withColumn("h1", graft.functions.Md5Prefix(
        concat(lit("ams1:"), $"k".cast("string")), 12))
      .withColumn("h2", graft.functions.Md5Prefix(
        concat(lit("ams2:"), $"k".cast("string")), 12))
      .withColumn("sv", expr(
        s"""transform(sequence(0, ${AmsJ - 1}), j ->
            CASE WHEN j < 48
                 THEN IF((shiftright(h1, j) & 1) = 1, c, -c)
                 ELSE IF((shiftright(h2, j - 48) & 1) = 1, c, -c) END)"""))
      .groupBy($"g").agg(vsum($"sv").as("zv"))
      .select($"g", posexplode($"zv"))
      .toDF("g", "j", "z")
  }

  /** Median-of-means finish over a z table: (g, ams_f2, ams_scaled8). */
  private[graft] def amsEstimate(z: DataFrame): DataFrame = {
    import z.sparkSession.implicits._
    val groups = z.select($"g", expr(s"j div $AmsGroup").as("grp"), ($"z" * $"z").as("z2"))
      .groupBy($"g", $"grp").agg(sum($"z2").as("est8"))
    // lower median of the 8 group sums: rank 4 of 8 under (est8, grp)
    val w = Window.partitionBy($"g").orderBy($"est8", $"grp")
    groups.withColumn("rn", row_number().over(w))
      .filter($"rn" === (AmsJ / AmsGroup + 1) / 2)
      .select($"g", expr(s"est8 div $AmsGroup").as("ams_f2"),
        $"est8".as("ams_scaled8"))
  }

  /** AMS over `items` (columns `g` group, `k` key; multiplicity = row
    * count per (g, k)). Returns (g, f2_exact, ams_f2, ams_scaled8). */
  private[ops] def amsF2Of(items: DataFrame): DataFrame = {
    import items.sparkSession.implicits._
    // r17: the exact-F2 readout and the sketch's sign table share this
    // (g, k) count seam. Measured A/B (guide §1): checkpointing it here
    // is 2.3x SLOWER than recompute — the cut breaks whole-stage fusion
    // of count→sign-fold and the materialization costs more than the
    // second aggregate, so the shared frame is deliberately NOT cut.
    val counts = items.groupBy($"g", $"k").agg(count(lit(1)).as("c"))
    val exact = counts.groupBy($"g").agg(sum($"c" * $"c").as("f2_exact"))
    amsEstimate(amsZOfCounts(counts)).join(exact, Seq("g"))
      .select($"g", $"f2_exact", $"ams_f2", $"ams_scaled8")
  }

  /** Sketch size of [[kmvSetOps]] — small enough that the gate runs the
    * genuinely LOSSY regime (each return flag holds thousands of
    * distinct order keys at sf0.01, far above 256). */
  private[ops] val KmvSetK = 256

  /** KMV set-operation estimates over `items` (columns `g` group, `v`
    * string value): for every group pair, union cardinality, Jaccard
    * and intersection estimated from the groups' bottom-k sketches
    * ALONE (Beyer et al., SIGMOD 2007, "On synopses for distinct value
    * estimation under multiset operations"): the k smallest distinct
    * hashes of A ∪ B are a subset of K_A ∪ K_B, so the merged sketch
    * is re-derivable from the per-group sketches; the union estimate is
    * the plain KMV estimator (k−1)·2^48 div h_k on it, and the Jaccard
    * estimate is the fraction of merged-sketch members present in BOTH
    * input sketches. Hashes are the engine-portable 48-bit md5 prefix
    * and every estimator step is exact BIGINT arithmetic, so the LOSSY
    * estimates themselves hash-gate (the b05_countmin /
    * b05_hll_portable discipline). Scale: per-group shuffle partials
    * are ≤k longs ([[graft.functions.KmvSetSketchAgg]]); the pair
    * table is group-count-bounded, never row-bounded; all array work
    * runs on ≤k-element arrays. */
  private[ops] def kmvSetOpsOf(items: DataFrame, k: Int): DataFrame = {
    import items.sparkSession.implicits._
    val sk = udaf(new graft.functions.KmvSetSketchAgg(k))
    val h = graft.functions.Md5Prefix(concat(lit("kmv:"), $"v"), 12)
    val sketches = items.select($"g", h.as("h"))
      .groupBy($"g").agg(sk($"h").as("sk"))
    val pairs = sketches.select($"g".as("ga"), $"sk".as("ska"))
      .join(sketches.select($"g".as("gb"), $"sk".as("skb")), $"ga" < $"gb")
    pairs
      .withColumn("u", slice(array_sort(array_union($"ska", $"skb")), 1, k))
      .withColumn("m", size($"u").cast("long"))
      .withColumn("kth", element_at($"u", size($"u")))
      .withColumn("n_both",
        size(array_intersect(array_intersect($"u", $"ska"), $"skb")).cast("long"))
      // below k merged members the sketches hold EVERY distinct hash —
      // the exact regime; at k the classic estimator takes over. h_k is
      // guarded against the (2^-48-probability) zero hash: both engines
      // would divide by zero identically, but loudly failing beats that.
      .select($"ga", $"gb", $"m", $"n_both",
        when($"m" < k, $"m")
          .otherwise(expr(s"(${k - 1}L * ${1L << 48}L) div greatest(kth, 1L)"))
          .as("est_union"),
        // DECIMAL(38) products (r9, psiDriftQuery note): n_both ≤ k is
        // sketch-bounded but est_union is corpus-scale, so the
        // intersection product n_both·est_union is the one that wraps
        expr("(CAST(n_both AS DECIMAL(38,0)) * 1000000000) div m").as("jaccard_ppb"))
      .withColumn("est_intersection",
        expr("(CAST(n_both AS DECIMAL(38,0)) * est_union) div m"))
      .orderBy($"ga", $"gb")
  }

  /** B5 (r7 cont.): the set-algebra companion of [[distinctSketch]] —
    * per-return-flag order-key sets compared pairwise WITHOUT ever
    * joining the underlying rows: union / Jaccard / intersection served
    * from 256-long mergeable sketches (at 100 TB the sketches are the
    * only thing that moves; the flags' row sets never co-locate). */
  def kmvSetOpsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmvSetOpsOf(
      Tables.lineitem(s, dir)
        .select($"l_returnflag".as("g"), $"l_orderkey".cast("string").as("v")),
      KmvSetK)
  }

  /** Ranking window functions: row_number / rank / dense_rank / lag / lead
    * over a per-customer frame (B6). */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"))
      .orderBy($"o_custkey", $"rn")
  }

  /** Running sum with an explicit ROWS frame (B6). */
  def windowRunningSum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        sum($"o_totalprice".cast(Dec)).over(w).cast("double").as("running_spend"),
        count(lit(1)).over(w).as("order_seq"))
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  /** Top-k per group = ranking window + filter (B7). */
  def topKPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc, $"c_custkey")
    Tables.customer(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"c_mktsegment", $"rn", $"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_mktsegment", $"rn")
  }

  /** Global sort + limit/offset pagination (A6/A7/B7). */
  def orderLimitOffset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .orderBy($"c_acctbal".desc, $"c_custkey")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .offset(10)
      .limit(20)
  }

  /** B7 (r7 cont.): KEYSET pagination (the "seek method") — the
    * scale-correct page fetch: OFFSET n forces the engine through n
    * sorted rows before the page (at 100 TB, page 10⁶ re-sorts the
    * world), while a keyset cursor turns the page into a PUSHED-DOWN
    * range filter plus a top-k — cost proportional to the page, not
    * the offset. The cursor is the last (balance, key) of the previous
    * page — here derived by a bounded 1-row collect standing in for
    * the client-supplied cursor, embedded as plan literals precisely
    * so the predicate reaches the parquet scan (ASSERTED in-plan: a
    * cursor that stayed a join would not push down — the no-vacuous-
    * gate discipline). Ties at the page boundary are exact via the
    * strict composite (bal, key) comparison. The oracle replays plain
    * OFFSET/LIMIT under the same total order — keyset ≡ offset is the
    * correctness claim. */
  def keysetPage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ordered = Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_acctbal".desc, $"c_custkey")
    // "previous page" boundary: row 40 under the total order (bounded
    // top-40 fetch; in a real API the client sends this cursor back)
    val cur = ordered.limit(40).collect().last
    val (curBal, curKey) = (cur.getDouble(2), cur.getLong(0))
    val page = Tables.customer(s, dir)
      .filter($"c_acctbal" < curBal ||
        ($"c_acctbal" === curBal && $"c_custkey" > curKey))
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_acctbal".desc, $"c_custkey")
      .limit(20)
    require(graft.plans.PlanAudit.hasPushedLessThan(page, "c_acctbal"),
      "b07_keyset_page: cursor predicate did not reach the parquet scan — " +
        "the gate would certify an unpushed filter")
    page
  }

  /** UNION ALL with provenance tags (B8). */
  def unionTagged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      .select(lit("urgent").as("src"), $"o_orderkey".as("key"))
    val high = Tables.orders(s, dir).filter($"o_orderpriority" === "2-HIGH")
      .select(lit("high").as("src"), $"o_orderkey".as("key"))
    urgent.unionByName(high).orderBy($"src", $"key")
  }

  /** INTERSECT (distinct semantics) (B8). */
  def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val building = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val withOrders = Tables.orders(s, dir).select($"o_custkey".as("c_custkey"))
    building.intersect(withOrders).orderBy($"c_custkey")
  }

  /** EXCEPT (distinct semantics) (B8). */
  def exceptKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withOrders = Tables.orders(s, dir).select($"o_custkey".as("c_custkey"))
    val building = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    withOrders.except(building).orderBy($"c_custkey")
  }

  /** String scalar functions (B9): case, concat, split, regexp, levenshtein. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey",
        lower($"p_name").as("lname"),
        upper($"p_type").as("utype"),
        concat($"p_brand", lit(":"), $"p_name").as("tagged"),
        element_at(split($"p_name", " "), 1).as("first_tok"),
        regexp_extract($"p_brand", "#(\\d+)", 1).cast("int").as("brand_num"),
        length($"p_name").as("name_len"),
        levenshtein($"p_brand", lit("Brand#13")).as("lev_dist"))
      .orderBy($"p_partkey")
  }

  /** Date/time scalar functions (B9). */
  def dateFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey",
        year($"o_orderdate").as("yr"),
        month($"o_orderdate").as("mo"),
        dayofmonth($"o_orderdate").as("dom"),
        date_trunc("month", $"o_orderdate").cast("timestamp_ntz").as("month_start"),
        datediff($"o_orderdate", tsLit("1995-01-01")).as("days_since_epoch_start"),
        ($"o_orderdate" + expr("INTERVAL 1 MONTH")).cast("timestamp_ntz").as("plus_month"))
      .orderBy($"o_orderkey")
  }

  /** Array functions over tokenized text (B9). Arrays are rendered to
    * strings in the output for engine-portable hashing. */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        size($"toks").as("n_tokens"),
        size(array_distinct($"toks")).as("n_distinct_tokens"),
        array_contains($"toks", "spark").as("has_spark"),
        concat_ws(",", slice($"toks", 1, 3)).as("first3"),
        array_min($"toks").as("min_tok"),
        array_max($"toks").as("max_tok"))
      .orderBy($"doc_id")
  }

  /** JSON extraction from `events.props` (B9). get_json_object for the
    * engine path; the oracle uses an equivalent regexp so both engines
    * compute the identical value. */
  def jsonFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        get_json_object($"props", "$.k").cast("bigint").as("k"),
        length($"props").as("props_len"))
      .orderBy($"event_id")
  }

  /** DISTINCT over a projection (A5/B8). */
  def distinctFlags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_linestatus")
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** COUNT(DISTINCT) exact (A8/B4). */
  def countDistinctOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .agg(countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        count(lit(1)).as("n_rows"))
  }

  // ---------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing" -> (q1Pricing _),
    "q3_top_revenue" -> (q3TopRevenue _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q6_revenue_delta" -> (q6RevenueDelta _),
    "b01_scan_project" -> (scanProject _),
    "b03_join_semi" -> (joinSemi _),
    "b03_join_anti" -> (joinAnti _),
    "b03_join_full" -> (joinFull _),
    "b03_join_right" -> (joinRight _),
    "b09_math_funcs" -> (mathFuncs _),
    "b03_join_range" -> (joinRange _),
    "b03_join_theta" -> (joinTheta _),
    "b03_join_asof" -> (joinAsOf _),
    "b03_join_asof_nearest" -> (joinAsOfNearest _),
    "b04_rollup" -> (rollupSales _),
    "b04_corr_moments" -> (corrMoments _),
    "b04_corr_matrix" -> (corrMatrixQuery _),
    "b04_cube" -> (cubeFlags _),
    "b04_grouping_sets" -> (groupingSets _),
    "b05_median" -> (medianQuantity _),
    "b04_weighted_median" -> (weightedMedian _),
    "b04_mode" -> (modeQuantity _),
    "b05_approx_stats" -> (approxStats _),
    "b05_heavy_hitters" -> (heavyHitters _),
    "b05_quantile_sketch" -> (quantileSketch _),
    "b05_distinct_sketch" -> (distinctSketch _),
    "b05_approx_stats_exact" -> (approxStatsExact _),
    "b05_countmin" -> (countMin _),
    "b01_profile" -> (profileQuery _),
    "b01_profile_kmv" -> (profileKmvQuery _),
    "b05_hll_portable" -> (hllPortableQuery _),
    "b05_kmv_setops" -> (kmvSetOpsQuery _),
    "b05_ams_f2" -> (amsF2Query _),
    "b07_keyset_page" -> (keysetPage _),
    "b05_percentile_cont" -> (percentileCont _),
    "b05_percentile_any" -> (percentileAny _),
    "b04_spearman" -> (spearman _),
    "b04_kendall" -> (kendall _),
    "b04_ks_test" -> (ksTestQuery _),
    "b04_mann_whitney" -> (mannWhitneyQuery _),
    "b04_kruskal_wallis" -> (kruskalWallisQuery _),
    "b04_cramers_v" -> (cramersVQuery _),
    "b03_lateral_topn" -> (lateralTopNQuery _),
    "b04_psi_drift" -> (psiDriftQuery _),
    "b04_welch_t" -> (welchTQuery _),
    "b04_chisq" -> (chiSquare _),
    "b04_benford" -> (benfordQuery _),
    "b09_bitmap_ops" -> (bitmapOpsQuery _),
    "b04_delta_drivers" -> (deltaDriversQuery _),
    "b10_activity_heatmap" -> (activityHeatmapQuery _),
    "b03_fuzzy_join" -> (fuzzyJoinQuery _),
    "b05_histogram" -> (histogram _),
    "b05_equidepth" -> ((s: SparkSession, dir: String) => equiDepthHistogram(s, dir)),
    "b04_gini_impurity" -> (giniImpurity _),
    "b06_window_rank" -> (windowRank _),
    "b06_running_sum" -> (windowRunningSum _),
    "b07_topk_per_group" -> (topKPerGroup _),
    "b07_order_limit_offset" -> (orderLimitOffset _),
    "b08_union_tagged" -> (unionTagged _),
    "b08_intersect" -> (intersectKeys _),
    "b08_except" -> (exceptKeys _),
    "b09_string_funcs" -> (stringFuncs _),
    "b09_date_funcs" -> (dateFuncs _),
    "b09_array_funcs" -> (arrayFuncs _),
    "b09_json_funcs" -> (jsonFuncs _),
    "a05_distinct" -> (distinctFlags _),
    "a08_count_distinct" -> (countDistinctOrders _),
  )

  // SQL mirrors of the exact-decimal aggregation helpers above — the
  // oracle must perform the IDENTICAL arithmetic, not just an equivalent
  // one, so hash comparison is exact.
  private[ops] def sum2Sql(c: String) =
    s"SUM(CAST(CAST($c AS DECIMAL(12,2)) AS DECIMAL(28,2)))"
  private[ops] def sumRevSql(p: String, d: String) =
    s"SUM(CAST(CAST($p AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST($d AS DECIMAL(4,2))) AS DECIMAL(28,4)))"
  private[ops] def sumChargeSql(p: String, d: String, t: String) =
    s"SUM(CAST(CAST($p AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST($d AS DECIMAL(4,2))) * (CAST(1.0 AS DECIMAL(3,2)) + CAST($t AS DECIMAL(4,2))) AS DECIMAL(28,6)))"
  private[ops] def sumProdSql(p: String, d: String) =
    s"SUM(CAST(CAST($p AS DECIMAL(12,2)) * CAST($d AS DECIMAL(4,2)) AS DECIMAL(28,4)))"

  /** KMV replay as a SQL subquery (r14, VERDICT r13 #2): per `group`,
    * the bottom-k 48-bit md5 hashes of `'kmv:' || CAST(valueCol AS
    * VARCHAR)` finished to the [[graft.functions.KmvEstimateAgg]]
    * contract — exact count below k, `(k-1)·2^48 // greatest(kth, 1)`
    * beyond — so the oracle certifies the sketch in BOTH regimes. */
  private def kmvReplay(table: String, group: String, valueCol: String,
      k: Int, alias: String): String = s"""
    (SELECT gx.g, CASE WHEN COALESCE(a.m, 0) < $k THEN COALESCE(a.m, 0)
                       ELSE (${(k - 1).toLong} * ${1L << 48}) // greatest(a.kth, 1)
                  END AS $alias
     FROM (SELECT DISTINCT $group AS g FROM $table) gx
     LEFT JOIN (SELECT g, CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS kth
           FROM (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
                 FROM (SELECT DISTINCT $group AS g,
                         CAST(('0x' || substr(md5('kmv:' || CAST($valueCol AS VARCHAR)), 1, 12)) AS BIGINT) AS h
                       FROM $table WHERE $valueCol IS NOT NULL))
           WHERE rn <= $k GROUP BY g) a ON gx.g IS NOT DISTINCT FROM a.g)"""

  val oracles: Map[String, String] = Map(
    "q1_pricing" -> s"""
      SELECT l_returnflag, l_linestatus,
        CAST(${sum2Sql("l_quantity")} AS DOUBLE) AS sum_qty,
        CAST(${sum2Sql("l_extendedprice")} AS DOUBLE) AS sum_base_price,
        CAST(${sumRevSql("l_extendedprice", "l_discount")} AS DOUBLE) AS sum_disc_price,
        CAST(${sumChargeSql("l_extendedprice", "l_discount", "l_tax")} AS DOUBLE) AS sum_charge,
        CAST(${sum2Sql("l_quantity")} AS DOUBLE)/COUNT(*) AS avg_qty,
        CAST(${sum2Sql("l_extendedprice")} AS DOUBLE)/COUNT(*) AS avg_price,
        CAST(${sum2Sql("l_discount")} AS DOUBLE)/COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q3_top_revenue" -> s"""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(${sumRevSql("l_extendedprice", "l_discount")} AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '2000-01-01'
        AND l_shipdate > TIMESTAMP '2000-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_region_revenue" -> s"""
      SELECT n_name, CAST(${sumRevSql("l_extendedprice", "l_discount")} AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6_revenue_delta" -> s"""
      SELECT CAST(${sumProdSql("l_extendedprice", "l_discount")} AS DOUBLE) AS revenue, COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_discount >= 0.02 AND l_discount <= 0.07 AND l_quantity < 24""",
    "b01_scan_project" -> """
      SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      FROM lineitem WHERE l_quantity > 45.0
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""",
    "b03_join_semi" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
    "b03_join_anti" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
    "b03_join_full" -> """
      SELECT n_nationkey, n_name, s_suppkey, s_name
      FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
      ORDER BY n_nationkey ASC NULLS FIRST, s_suppkey ASC NULLS FIRST""",
    "b03_join_right" -> """
      SELECT c_custkey, c_name, o_orderkey
      FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
      ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""",
    "b09_math_funcs" -> """
      SELECT l_orderkey,
        abs(l_orderkey - 1000) AS abs_v,
        CAST(sign(CAST(l_orderkey - 1000 AS DOUBLE)) AS INT) AS sign_v,
        l_orderkey % 7 AS mod_v,
        CAST(floor(l_orderkey / 3.0) AS BIGINT) AS floor_v,
        CAST(ceil(l_orderkey / 3.0) AS BIGINT) AS ceil_v,
        sqrt(CAST(l_orderkey AS DOUBLE)) AS sqrt_v,
        pow(CAST(l_orderkey AS DOUBLE), 2.0) AS pow_v
      FROM lineitem WHERE l_linenumber = 1
      ORDER BY l_orderkey""",
    "b03_join_range" -> s"""
      SELECT p_brand, COUNT(*) AS n_rows, CAST(${sum2Sql("l_extendedprice")} AS DOUBLE) AS sum_price
      FROM lineitem JOIN part ON l_partkey = p_partkey
        AND l_quantity >= p_size - 2 AND l_quantity <= p_size + 2
      GROUP BY p_brand ORDER BY p_brand""",
    "b03_join_theta" -> """
      SELECT n1.n_nationkey AS k1, n2.n_nationkey AS k2,
             n1.n_name AS name1, n2.n_name AS name2
      FROM nation n1 JOIN nation n2
        ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
      ORDER BY k1, k2""",
    "b03_join_asof" -> """
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, last_click_ts FROM (
        SELECT event_id, user_id, ts, event_type,
          MAX(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        FROM events WHERE event_type IN ('click','purchase')
      ) WHERE event_type = 'purchase' ORDER BY event_id""",
    "b03_join_asof_nearest" -> """
      WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
                  FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (SELECT *,
              max(CASE WHEN event_type = 'click' THEN us END) OVER
                (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
              min(CASE WHEN event_type = 'click' THEN us END) OVER
                (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
            FROM ev),
      p AS (SELECT event_id, user_id, ts, us,
              CASE WHEN prev_us IS NULL THEN next_us
                   WHEN next_us IS NULL THEN prev_us
                   WHEN us - prev_us <= next_us - us THEN prev_us
                   ELSE next_us END AS near_us
            FROM w WHERE event_type = 'purchase')
      SELECT event_id, user_id, ts,
             make_timestamp(near_us) AS nearest_click_ts,
             CAST(near_us - us AS BIGINT) AS delta_us
      FROM p ORDER BY event_id""",
    "b04_corr_matrix" -> corrMatrixOracle,
    "b04_corr_moments" -> """
      WITH m AS (
        SELECT l_returnflag, COUNT(*) AS n,
          SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
          SUM(x*x) AS sxx, SUM(y*y) AS syy
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS y
              FROM lineitem)
        GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        CAST(n*sxy - sx*sy AS DOUBLE) /
          (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
          AS corr_qty_disc,
        CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*n AS DOUBLE) AS covar_qty_disc
      FROM m ORDER BY l_returnflag""",
    "b04_rollup" -> s"""
      SELECT n_name, c_mktsegment, COUNT(*) AS n_cust, CAST(${sum2Sql("c_acctbal")} AS DOUBLE) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name, c_mktsegment)
      ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""",
    "b04_cube" -> s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, CAST(${sum2Sql("l_quantity")} AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "b04_grouping_sets" -> s"""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
             CAST(${sum2Sql("o_totalprice")} AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "b05_median" -> """
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
             MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "b04_mode" -> """
      WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
                   COUNT(*) AS cnt
                 FROM lineitem GROUP BY 1, 2),
      k AS (SELECT l_returnflag,
              MAX(printf('%020d|%020d', cnt, 10000000000 - qty)) AS key
            FROM c GROUP BY 1)
      SELECT l_returnflag,
             10000000000 - CAST(substr(key, 22, 20) AS BIGINT) AS mode_qty,
             CAST(substr(key, 1, 20) AS BIGINT) AS mode_count
      FROM k ORDER BY l_returnflag""",
    "b04_weighted_median" -> """
      WITH pv AS (SELECT l_returnflag,
                    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c,
                    SUM(CAST(l_quantity AS BIGINT)) AS wsum
                  FROM lineitem GROUP BY 1, 2),
      c AS (SELECT *,
              SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY price_c
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              SUM(wsum) OVER (PARTITION BY l_returnflag) AS total
            FROM pv)
      SELECT l_returnflag, MIN(price_c) AS wmedian_cents,
             CAST(MIN(total) AS BIGINT) AS total_qty
      FROM c WHERE cum * 2 >= total
      GROUP BY 1 ORDER BY l_returnflag""",
    "b05_heavy_hitters" -> """
      SELECT p_brand, COUNT(*) AS n_parts
      FROM part GROUP BY p_brand
      ORDER BY n_parts DESC, p_brand LIMIT 25""",
    "b05_histogram" -> """
      WITH c AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 50000 AS bucket
        FROM orders)
      SELECT bucket, bucket * 500.0 AS lo_dollars, (bucket + 1) * 500.0 AS hi_dollars,
        COUNT(*) AS n
      FROM c GROUP BY bucket ORDER BY bucket""",
    // B exact order statistics via the distinct-value cumulative device;
    // gate cross-multiplied (cum·B ≥ k·n)
    "b05_equidepth" -> """
      WITH dv AS (SELECT CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS w
                  FROM lineitem GROUP BY 1),
      n AS (SELECT CAST(SUM(w) AS BIGINT) AS n FROM dv),
      cum AS (SELECT qty, CAST(SUM(w) OVER (ORDER BY qty) AS BIGINT) AS cum FROM dv)
      SELECT k, MIN(qty) AS boundary_qty, (k * n.n) // 10 AS target_rank
      FROM cum, UNNEST(range(1, 11)) t(k), n
      WHERE cum * 10 >= k * n.n
      GROUP BY k, n.n ORDER BY k""",
    // exact class counts, impurity in one fixed IEEE expression
    "b04_gini_impurity" -> """
      WITH c AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS ni
                 FROM orders GROUP BY 1, 2),
      g AS (SELECT o_orderpriority,
              CAST(SUM(ni) AS BIGINT) AS n,
              CAST(SUM(ni * ni) AS BIGINT) AS s2,
              COUNT(*) AS n_classes
            FROM c GROUP BY 1)
      SELECT o_orderpriority, n, n_classes,
             1.0 - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS impurity
      FROM g ORDER BY o_orderpriority""",
    "b03_fuzzy_join" -> """
      WITH n AS (SELECT p_name AS name, COUNT(*) AS cnt FROM part GROUP BY p_name)
      SELECT a.name AS name_a, b.name AS name_b,
        CAST(levenshtein(a.name, b.name) AS INT) AS dist,
        a.cnt AS n_a, b.cnt AS n_b
      FROM n a JOIN n b
        ON a.name < b.name AND levenshtein(a.name, b.name) <= 1
      ORDER BY name_a, name_b""",
    "b05_quantile_sketch" -> """
      WITH d AS (
        SELECT source, n_chars,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM documents)
      SELECT source,
        MAX(CASE WHEN rn = (cnt + 3) // 4 THEN n_chars END) AS p25,
        MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS p50,
        MAX(CASE WHEN rn = (3 * cnt + 3) // 4 THEN n_chars END) AS p75,
        MAX(CASE WHEN rn = (9 * cnt + 9) // 10 THEN n_chars END) AS p90
      FROM d GROUP BY source ORDER BY source""",
    // portable KMV replay (r14): exact below k, the BIGINT estimator
    // beyond — at sf0.1 distinct_parts (20 000 > 4096) goes lossy and
    // STILL hash-gates, closing the two-SF certification gap
    "b05_distinct_sketch" -> s"""
      SELECT s.g AS l_returnflag, s.distinct_suppliers, p.distinct_parts
      FROM ${kmvReplay("lineitem", "l_returnflag", "l_suppkey", 4096, "distinct_suppliers")} s
      JOIN ${kmvReplay("lineitem", "l_returnflag", "l_partkey", 4096, "distinct_parts")} p
        USING (g)
      ORDER BY l_returnflag""",
    // sketch semantics replayed end to end (r14): percentiles are the
    // ⌈p·n⌉-rank order statistics (the sketch's percentile_disc contract
    // — capacity 2^19 keeps it exact at both certification SFs),
    // distincts are the portable KMV replay (exact below 2^14, the
    // BIGINT estimator beyond — lossy at sf0.1 and still hash-green),
    // stddev from exact integer moments with one IEEE sqrt/division
    "b05_approx_stats_exact" -> s"""
      WITH l AS (
        SELECT l_returnflag, l_orderkey, l_partkey,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
          CAST(l_quantity AS BIGINT) AS qn
        FROM lineitem),
      r AS (
        SELECT l_returnflag, cents,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
          COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
        FROM l),
      pct AS (
        SELECT l_returnflag,
          MAX(CASE WHEN rn = (cnt + 3) // 4 THEN cents END) AS price_p25_cents,
          MAX(CASE WHEN rn = (cnt + 1) // 2 THEN cents END) AS price_p50_cents,
          MAX(CASE WHEN rn = (3 * cnt + 3) // 4 THEN cents END) AS price_p75_cents
        FROM r GROUP BY l_returnflag),
      base AS (
        SELECT l_returnflag,
          COUNT(*) AS n, SUM(qn) AS sq, SUM(qn * qn) AS sq2
        FROM l GROUP BY l_returnflag)
      SELECT b.l_returnflag, o.n_orders, pk.n_parts,
        p.price_p25_cents, p.price_p50_cents, p.price_p75_cents,
        sqrt(CAST(b.n * b.sq2 - b.sq * b.sq AS DOUBLE)) / CAST(b.n AS DOUBLE) AS qty_stddev
      FROM base b
      JOIN pct p USING (l_returnflag)
      JOIN ${kmvReplay("lineitem", "l_returnflag", "l_orderkey", 1 << 14, "n_orders")} o
        ON o.g = b.l_returnflag
      JOIN ${kmvReplay("lineitem", "l_returnflag", "l_partkey", 1 << 14, "n_parts")} pk
        ON pk.g = b.l_returnflag
      ORDER BY b.l_returnflag""",
    "b01_profile" -> profileOracle,
    // portable KMV replay per column (r14): exact below k, estimator
    // beyond — l_partkey goes lossy at sf0.1 and still hash-gates
    "b01_profile_kmv" -> (ProfileKmvCols.map { c =>
      // scalar-subquery + COALESCE so an empty table still yields the
      // row Spark's global aggregate emits (n_rows=0, n_distinct=0)
      s"""SELECT '$c' AS column_name, s.n_rows, s.n_nulls,
                 COALESCE((SELECT n_distinct
                           FROM ${kmvReplay("lineitem", "'k'", c, 4096, "n_distinct")} r),
                          0) AS n_distinct
          FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
                FROM lineitem) s"""
    }.mkString(" UNION ALL ") + " ORDER BY column_name"),
    // exact decimal cents, signed deltas, magnitude rank; no division
    // (Spark div truncates, DuckDB // floors — diverge on negatives)
    "b04_delta_drivers" -> """
      WITH p AS (
        SELECT o_orderpriority,
          CAST(SUM(CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1997
            THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE 0 END) * 100 AS BIGINT) AS rev_1997_cents,
          CAST(SUM(CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1998
            THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE 0 END) * 100 AS BIGINT) AS rev_1998_cents
        FROM orders
        WHERE year(CAST(o_orderdate AS TIMESTAMP)) IN (1997, 1998)
        GROUP BY o_orderpriority)
      SELECT o_orderpriority, rev_1997_cents, rev_1998_cents,
        rev_1998_cents - rev_1997_cents AS delta_cents
      FROM p
      ORDER BY abs(rev_1998_cents - rev_1997_cents) DESC, o_orderpriority""",
    // identical 63-bit word layout both engines; bit_or/bit_count/& are
    // exact integer ops, so the whole bitmap algebra replays
    "b09_bitmap_ops" -> """
      WITH wds AS (
        SELECT l_returnflag AS flag, l_suppkey // 63 AS w,
          CAST(bit_or(CAST(1 AS BIGINT) << CAST(l_suppkey % 63 AS INT)) AS BIGINT) AS bits
        FROM lineitem GROUP BY 1, 2),
      sz AS (SELECT flag, CAST(SUM(bit_count(bits)) AS BIGINT) AS n
             FROM wds GROUP BY flag),
      px AS (SELECT a.flag AS flag_a, b.flag AS flag_b,
               CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS n_shared
             FROM wds a JOIN wds b ON a.w = b.w AND a.flag < b.flag
             GROUP BY 1, 2)
      SELECT px.flag_a, px.flag_b, px.n_shared, sa.n AS n_a, sb.n AS n_b,
        (px.n_shared * 1000000000) // (sa.n + sb.n - px.n_shared) AS jaccard_ppb
      FROM px JOIN sz sa ON sa.flag = px.flag_a
      JOIN sz sb ON sb.flag = px.flag_b
      ORDER BY flag_a, flag_b""",
    // digit from the BIGINT cents' decimal string (identical
    // cross-engine); expectation = author-time log10 literals
    "b04_benford" -> s"""
      WITH obs AS (
        SELECT digit, COUNT(*) AS n FROM (
          SELECT TRY_CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
          FROM orders)
        WHERE digit > 0 GROUP BY 1),
      exp AS (SELECT * FROM (VALUES ${BenfordPpb.map { case (d, p) => s"($d, ${p}::BIGINT)" }.mkString(", ")}) AS t(digit, exp_ppb)),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs)
      SELECT e.digit, COALESCE(o.n, 0) AS n,
        (COALESCE(o.n, 0) * 1000000000) // t.total AS obs_ppb,
        e.exp_ppb,
        (COALESCE(o.n, 0) * 1000000000) // t.total - e.exp_ppb AS dev_ppb
      FROM exp e LEFT JOIN obs o USING (digit) CROSS JOIN tot t
      ORDER BY e.digit""",
    // exact integer epoch axes: (days+3) % 7 (Monday = 0), hours % 24 —
    // never the engines' divergent dayofweek conventions
    "b10_activity_heatmap" -> """
      WITH c AS (
        SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 86400) + 3) % 7 AS dow,
               (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600) % 24 AS hour,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
      SELECT c.dow, c.hour, c.n, (c.n * 1000000000) // t.total AS share_ppb
      FROM c CROSS JOIN t ORDER BY c.dow, c.hour""",
    // the identical register file from the portable 48-bit md5 hashes;
    // rank via length(bin(w)) — minimal binary string in both engines —
    // and the harmonic sum exact in BIGINT, one final IEEE division
    "b05_hll_portable" -> s"""
      WITH v AS (SELECT l_returnflag AS g, CAST(l_orderkey AS VARCHAR) AS v
                 FROM lineitem),
      h AS (SELECT g, CAST(('0x' || substr(md5('hll:' || v), 1, 12)) AS BIGINT) AS h
            FROM v),
      r AS (SELECT g, h // ${1L << 40} AS idx,
              41 - length(bin(h % ${1L << 40})) AS rho FROM h),
      m AS (SELECT g, idx, MAX(rho) AS mreg FROM r GROUP BY g, idx),
      ax AS (SELECT DISTINCT g FROM v),
      reg AS (SELECT unnest(range(0, $HllM)) AS idx),
      f AS (SELECT ax.g, reg.idx, COALESCE(m.mreg, 0) AS mreg
            FROM ax CROSS JOIN reg
            LEFT JOIN m ON m.g = ax.g AND m.idx = reg.idx),
      s AS (SELECT g, CAST(SUM(CAST(power(2, 41 - mreg) AS BIGINT)) AS BIGINT) AS ssum
            FROM f GROUP BY g),
      ex AS (SELECT l_returnflag AS g, COUNT(DISTINCT l_orderkey) AS n_exact
             FROM lineitem GROUP BY 1)
      SELECT s.g AS l_returnflag, $HllC / CAST(s.ssum AS DOUBLE) AS hll_estimate,
             ex.n_exact
      FROM s JOIN ex USING (g) ORDER BY l_returnflag""",
    // exact BIGINT margins over the zero-filled cell axis; expected and
    // contribution replayed in the identical fixed IEEE tree (factors
    // cast to double first); per-cell contribs, never a double sum
    "b04_chisq" -> """
      WITH c AS (SELECT o_orderpriority, o_orderstatus,
          CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2),
      r AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS row_tot
            FROM c GROUP BY 1),
      cl AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS col_tot
             FROM c GROUP BY 1),
      t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM c),
      f AS (SELECT r.o_orderpriority, cl.o_orderstatus,
              COALESCE(c.obs, 0) AS obs, r.row_tot, cl.col_tot, t.n
            FROM r CROSS JOIN cl
            LEFT JOIN c ON c.o_orderpriority = r.o_orderpriority
                       AND c.o_orderstatus = cl.o_orderstatus
            CROSS JOIN t),
      e AS (SELECT *, CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                        / CAST(n AS DOUBLE) AS expected
            FROM f)
      SELECT o_orderpriority, o_orderstatus, obs, row_tot, col_tot, n, expected,
        (CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected)
          / expected AS contrib
      FROM e ORDER BY o_orderpriority, o_orderstatus""",
    // doubled average ranks from the distinct-value table (2·before +
    // count + 1 — exact tie handling), BIGINT moments, the autocorr
    // fixed-IEEE finish
    "b04_spearman" -> """
      WITH rows_ AS (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS x,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
      rx AS (SELECT l_returnflag, v AS x, 2 * (hi - c) + c + 1 AS r2x FROM (
               SELECT l_returnflag, x AS v, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
               FROM rows_ GROUP BY l_returnflag, x)),
      ry AS (SELECT l_returnflag, v AS y, 2 * (hi - c) + c + 1 AS r2y FROM (
               SELECT l_returnflag, y AS v, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(COUNT(*)) OVER (PARTITION BY l_returnflag ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
               FROM rows_ GROUP BY l_returnflag, y)),
      rk AS (SELECT r.l_returnflag, rx.r2x, ry.r2y
             FROM rows_ r
             JOIN rx ON rx.l_returnflag = r.l_returnflag AND rx.x = r.x
             JOIN ry ON ry.l_returnflag = r.l_returnflag AND ry.y = r.y),
      m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(r2x) AS BIGINT) AS sx, CAST(SUM(r2y) AS BIGINT) AS sy,
              CAST(SUM(r2x * r2y) AS BIGINT) AS sxy,
              CAST(SUM(r2x * r2x) AS BIGINT) AS sx2,
              CAST(SUM(r2y * r2y) AS BIGINT) AS sy2
            FROM rk GROUP BY 1)
      SELECT l_returnflag, n, sx, sy, sxy,
        CASE WHEN (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0.0
             ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS spearman_rho
      FROM m ORDER BY l_returnflag""",
    // exact cross-multiplied CDF difference per distinct value; the
    // simple per-priority cumulative here equals the engine's two-level
    // bin+carry decomposition by construction
    "b04_ks_test" -> """
      WITH r AS (SELECT o_orderpriority AS prio,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1997 THEN 1 ELSE 0 END AS a,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1998 THEN 1 ELSE 0 END AS b
        FROM orders
        WHERE year(CAST(o_orderdate AS TIMESTAMP)) IN (1997, 1998)),
      cc AS (SELECT prio, cents, CAST(SUM(a) AS BIGINT) AS ca,
               CAST(SUM(b) AS BIGINT) AS cb
             FROM r GROUP BY 1, 2),
      n AS (SELECT prio, CAST(SUM(ca) AS BIGINT) AS na,
              CAST(SUM(cb) AS BIGINT) AS nb FROM cc GROUP BY 1),
      cum AS (SELECT prio, cents,
          CAST(SUM(ca) OVER (PARTITION BY prio ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fa,
          CAST(SUM(cb) OVER (PARTITION BY prio ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fb
        FROM cc),
      dn AS (SELECT c.prio, c.cents, n.na, n.nb,
               ABS(c.fa * n.nb - c.fb * n.na) AS d_num
             FROM cum c JOIN n USING (prio)),
      pick AS (SELECT prio, cents AS at_cents, d_num FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY prio
            ORDER BY d_num DESC, cents) AS rn FROM dn) WHERE rn = 1)
      SELECT p.prio, n.na AS n_1997, n.nb AS n_1998, p.d_num, p.at_cents,
        CAST(p.d_num AS DOUBLE)
          / (CAST(n.na AS DOUBLE) * CAST(n.nb AS DOUBLE)) AS ks_d
      FROM pick p JOIN n USING (prio)
      ORDER BY prio""",
    // the identical LATERAL text (DuckDB evaluates it natively; Spark
    // decorrelates to a ranked join — same rows by construction)
    "b03_lateral_topn" -> """
      SELECT r.r_name, l.n_name, l.n_customers
      FROM region r,
      LATERAL (
        SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n.n_name
        LIMIT 2
      ) l
      ORDER BY r.r_name, l.n_customers DESC, l.n_name""",
    // per-cell IEEE terms from exact HUGEINT margins, ppb-quantized
    // BEFORE the order-insensitive integer sum (the b13_lm_score device)
    "b04_cramers_v" -> """
      WITH cells AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
          FROM orders GROUP BY 1, 2),
      rt AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS row_tot
             FROM cells GROUP BY 1),
      ct AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS col_tot
             FROM cells GROUP BY 1),
      t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
              COUNT(DISTINCT o_orderpriority) AS nr,
              COUNT(DISTINCT o_orderstatus) AS nc FROM cells),
      terms AS (SELECT
          CAST(CAST(COALESCE(c.obs, 0) AS HUGEINT) * t.n
               - CAST(r.row_tot AS HUGEINT) * ct.col_tot AS DOUBLE) AS d,
          CAST(CAST(t.n AS HUGEINT) * r.row_tot * ct.col_tot AS DOUBLE) AS den,
          t.n, t.nr, t.nc
        FROM rt r CROSS JOIN ct
        LEFT JOIN cells c USING (o_orderpriority, o_orderstatus)
        CROSS JOIN t)
      SELECT n, nr, nc, COUNT(*) AS n_cells,
        CAST(SUM(CAST(round(d * d / den * 1000000000) AS BIGINT)) AS BIGINT) AS chi2_ppb,
        sqrt((CAST(SUM(CAST(round(d * d / den * 1000000000) AS BIGINT)) AS DOUBLE)
              / 1000000000.0)
             / (CAST(n AS DOUBLE) * CAST(LEAST(nr, nc) - 1 AS DOUBLE))) AS cramers_v
      FROM terms GROUP BY n, nr, nc""",
    // doubled midranks via a plain cumulative window (== the engine's
    // two-level prefix by the device's equivalence contract); HUGEINT
    // carries the DECIMAL(38) products; z is the same fixed IEEE tree
    "b04_mann_whitney" -> """
      WITH r AS (SELECT o_orderpriority AS prio,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1997 THEN 1 ELSE 0 END AS a,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1998 THEN 1 ELSE 0 END AS b
        FROM orders
        WHERE year(CAST(o_orderdate AS TIMESTAMP)) IN (1997, 1998)),
      cc AS (SELECT prio, cents, CAST(SUM(a) AS BIGINT) AS ca,
               CAST(SUM(b) AS BIGINT) AS cb
             FROM r GROUP BY 1, 2),
      rk AS (SELECT prio, cents, ca, cb, ca + cb AS c,
          2 * (CAST(SUM(ca + cb) OVER (PARTITION BY prio ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - (ca + cb)) + (ca + cb) + 1 AS r2
        FROM cc),
      m AS (SELECT prio,
          CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(cb) AS BIGINT) AS n2,
          SUM(CAST(ca AS HUGEINT) * r2) AS s2r1,
          SUM(CAST(c AS HUGEINT) * c * c - c) AS tie
        FROM rk GROUP BY 1)
      SELECT prio, n1, n2,
        CAST(s2r1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
        CAST(tie AS BIGINT) AS tie_term,
        CAST(2 * CAST(n1 AS HUGEINT) * n2
             - (s2r1 - CAST(n1 AS HUGEINT) * (n1 + 1)) AS BIGINT) AS u2_x2,
        CAST(s2r1 - CAST(n1 AS HUGEINT) * (n1 + 1)
             - CAST(n1 AS HUGEINT) * n2 AS DOUBLE) /
          (2.0 * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) *
            (CAST(n1 + n2 + 1 AS DOUBLE) -
             CAST(tie AS DOUBLE) /
               (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))) AS z
      FROM m ORDER BY prio""",
    // the k-group midrank extension: exact HUGEINT/DECIMAL rank sums,
    // H as the identical fixed IEEE tree (squares taken in double —
    // the cramers_v rule; N^3−N in wide integer — the ppb discipline)
    "b04_kruskal_wallis" -> """
      WITH cc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
          CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS c_urgent,
          CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS c_high,
          CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS c_medium,
          CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS c_notspec,
          CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS c_low
        FROM orders GROUP BY 1),
      cc2 AS (SELECT *, c_urgent + c_high + c_medium + c_notspec + c_low AS c FROM cc),
      rk AS (SELECT *,
          2 * (CAST(SUM(c) OVER (ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - c)
            + c + 1 AS r2
        FROM cc2),
      m AS (SELECT
          CAST(SUM(c_urgent) AS BIGINT) AS n_urgent,
          CAST(SUM(c_high) AS BIGINT) AS n_high,
          CAST(SUM(c_medium) AS BIGINT) AS n_medium,
          CAST(SUM(c_notspec) AS BIGINT) AS n_notspec,
          CAST(SUM(c_low) AS BIGINT) AS n_low,
          SUM(CAST(c_urgent AS HUGEINT) * r2) AS r2_urgent,
          SUM(CAST(c_high AS HUGEINT) * r2) AS r2_high,
          SUM(CAST(c_medium AS HUGEINT) * r2) AS r2_medium,
          SUM(CAST(c_notspec AS HUGEINT) * r2) AS r2_notspec,
          SUM(CAST(c_low AS HUGEINT) * r2) AS r2_low,
          SUM(CAST(c AS HUGEINT) * c * c - c) AS tie
        FROM rk),
      h AS (SELECT *,
          n_urgent + n_high + n_medium + n_notspec + n_low AS n_total,
          CAST(n_urgent + n_high + n_medium + n_notspec + n_low AS DOUBLE) AS nd,
          (CASE WHEN n_urgent = 0 THEN 0.0 ELSE CAST(r2_urgent AS DOUBLE) * CAST(r2_urgent AS DOUBLE) / CAST(n_urgent AS DOUBLE) END
           + CASE WHEN n_high = 0 THEN 0.0 ELSE CAST(r2_high AS DOUBLE) * CAST(r2_high AS DOUBLE) / CAST(n_high AS DOUBLE) END
           + CASE WHEN n_medium = 0 THEN 0.0 ELSE CAST(r2_medium AS DOUBLE) * CAST(r2_medium AS DOUBLE) / CAST(n_medium AS DOUBLE) END
           + CASE WHEN n_notspec = 0 THEN 0.0 ELSE CAST(r2_notspec AS DOUBLE) * CAST(r2_notspec AS DOUBLE) / CAST(n_notspec AS DOUBLE) END
           + CASE WHEN n_low = 0 THEN 0.0 ELSE CAST(r2_low AS DOUBLE) * CAST(r2_low AS DOUBLE) / CAST(n_low AS DOUBLE) END) AS sum_term,
          1.0 - CAST(tie AS DOUBLE) /
            CAST(CAST(n_urgent + n_high + n_medium + n_notspec + n_low AS HUGEINT)
                 * (n_urgent + n_high + n_medium + n_notspec + n_low)
                 * (n_urgent + n_high + n_medium + n_notspec + n_low)
                 - (n_urgent + n_high + n_medium + n_notspec + n_low) AS DOUBLE) AS corr
        FROM m)
      SELECT n_urgent, n_high, n_medium, n_notspec, n_low,
        CAST(n_total AS BIGINT) AS n_total,
        CASE WHEN corr <= 0.0 THEN 0.0
             ELSE (3.0 / (nd * (nd + 1.0)) * sum_term - 3.0 * (nd + 1.0)) / corr
        END AS h_stat
      FROM h""",
    // six exact BIGINT moments per priority; t is one fixed IEEE tree
    // (means, Bessel variances, sqrt, divide — no transcendentals)
    "b04_welch_t" -> """
      WITH r AS (SELECT o_orderpriority AS prio,
          CAST(round(o_totalprice) AS BIGINT) AS usd,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1997 THEN 1 ELSE 0 END AS a,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1998 THEN 1 ELSE 0 END AS b
        FROM orders
        WHERE year(CAST(o_orderdate AS TIMESTAMP)) IN (1997, 1998)),
      m AS (SELECT prio,
          CAST(SUM(a) AS BIGINT) AS n_1997, CAST(SUM(b) AS BIGINT) AS n_1998,
          CAST(SUM(a * usd) AS BIGINT) AS s_1997,
          CAST(SUM(b * usd) AS BIGINT) AS s_1998,
          CAST(SUM(a * usd * usd) AS BIGINT) AS ss_1997,
          CAST(SUM(b * usd * usd) AS BIGINT) AS ss_1998
        FROM r GROUP BY 1)
      SELECT prio, n_1997, n_1998, s_1997, s_1998, ss_1997, ss_1998,
        CASE WHEN n_1997 <= 1 OR n_1998 <= 1
               OR (CAST(n_1997 AS DOUBLE) * CAST(ss_1997 AS DOUBLE)
                     - CAST(s_1997 AS DOUBLE) * CAST(s_1997 AS DOUBLE))
                  / (CAST(n_1997 AS DOUBLE) * (CAST(n_1997 AS DOUBLE) - 1.0))
                  / CAST(n_1997 AS DOUBLE)
                  + (CAST(n_1998 AS DOUBLE) * CAST(ss_1998 AS DOUBLE)
                     - CAST(s_1998 AS DOUBLE) * CAST(s_1998 AS DOUBLE))
                  / (CAST(n_1998 AS DOUBLE) * (CAST(n_1998 AS DOUBLE) - 1.0))
                  / CAST(n_1998 AS DOUBLE) <= 0.0 THEN 0.0
             ELSE (CAST(s_1997 AS DOUBLE) / CAST(n_1997 AS DOUBLE)
                     - CAST(s_1998 AS DOUBLE) / CAST(n_1998 AS DOUBLE))
                  / sqrt((CAST(n_1997 AS DOUBLE) * CAST(ss_1997 AS DOUBLE)
                           - CAST(s_1997 AS DOUBLE) * CAST(s_1997 AS DOUBLE))
                        / (CAST(n_1997 AS DOUBLE) * (CAST(n_1997 AS DOUBLE) - 1.0))
                        / CAST(n_1997 AS DOUBLE)
                      + (CAST(n_1998 AS DOUBLE) * CAST(ss_1998 AS DOUBLE)
                           - CAST(s_1998 AS DOUBLE) * CAST(s_1998 AS DOUBLE))
                        / (CAST(n_1998 AS DOUBLE) * (CAST(n_1998 AS DOUBLE) - 1.0))
                        / CAST(n_1998 AS DOUBLE)) END AS t_stat
      FROM m ORDER BY prio""",
    // log-free exact PSI inputs: ppb shares, signed delta, exact share
    // ratio in ppb; NULL ratio where either snapshot is empty (no
    // hidden smoothing epsilon). ln is NOT cross-engine bit-stable, so
    // the one log per term happens at the consumer, never in the gate.
    "b04_psi_drift" -> """
      WITH r AS (SELECT
          CAST(round(o_totalprice * 100) AS BIGINT) // 2500000 AS bucket,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1997 THEN 1 ELSE 0 END AS a,
          CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 1998 THEN 1 ELSE 0 END AS b
        FROM orders
        WHERE year(CAST(o_orderdate AS TIMESTAMP)) IN (1997, 1998)),
      bk AS (SELECT bucket, CAST(SUM(a) AS BIGINT) AS c_1997,
               CAST(SUM(b) AS BIGINT) AS c_1998
             FROM r GROUP BY 1),
      t AS (SELECT CAST(SUM(c_1997) AS BIGINT) AS na,
              CAST(SUM(c_1998) AS BIGINT) AS nb FROM bk)
      SELECT bucket, c_1997, c_1998,
        c_1997 * 1000000000 // na AS share_1997_ppb,
        c_1998 * 1000000000 // nb AS share_1998_ppb,
        c_1997 * 1000000000 // na - c_1998 * 1000000000 // nb AS delta_ppb,
        CASE WHEN c_1997 > 0 AND c_1998 > 0 THEN
          c_1997 * nb * 1000000000 // (c_1998 * na)
        END AS ratio_ppb
      FROM bk CROSS JOIN t
      ORDER BY bucket""",
    // contingency cells probed per distinct-x slice: a strictly-below-y
    // running sum per (flag, probe-x) replays Spark's RANGE -1 window;
    // all pair counts are exact BIGINTs, only tau_b's final tree is IEEE
    "b04_kendall" -> """
      WITH rows_ AS (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS x,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
      cells AS (SELECT l_returnflag, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM rows_ GROUP BY 1, 2, 3),
      xd AS (SELECT DISTINCT l_returnflag, x AS xp FROM cells),
      probed AS (SELECT cells.l_returnflag, cells.x, cells.y, cells.c, xd.xp,
          COALESCE(SUM(CASE WHEN cells.x = xd.xp THEN cells.c END) OVER (
            PARTITION BY cells.l_returnflag, xd.xp ORDER BY cells.y
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS cum
        FROM cells JOIN xd ON cells.l_returnflag = xd.l_returnflag),
      cd AS (SELECT l_returnflag,
          CAST(SUM(CASE WHEN xp < x THEN c * cum ELSE 0 END) AS BIGINT) AS nc,
          CAST(SUM(CASE WHEN xp > x THEN c * cum ELSE 0 END) AS BIGINT) AS nd
        FROM probed GROUP BY 1),
      base AS (SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS n,
          CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS ties_xy
        FROM cells GROUP BY 1),
      tx AS (SELECT l_returnflag, CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS ties_x
        FROM (SELECT l_returnflag, x, CAST(SUM(c) AS BIGINT) AS t
              FROM cells GROUP BY 1, 2) GROUP BY 1),
      ty AS (SELECT l_returnflag, CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS ties_y
        FROM (SELECT l_returnflag, y, CAST(SUM(c) AS BIGINT) AS t
              FROM cells GROUP BY 1, 2) GROUP BY 1),
      j AS (SELECT base.l_returnflag, n, nc, nd, ties_x, ties_y, ties_xy,
          (n * (n - 1)) // 2 AS n0
        FROM base JOIN cd USING (l_returnflag)
                  JOIN tx USING (l_returnflag)
                  JOIN ty USING (l_returnflag))
      SELECT l_returnflag, n, nc, nd, ties_x, ties_y, ties_xy,
        CASE WHEN CAST(n0 - ties_x AS DOUBLE) * CAST(n0 - ties_y AS DOUBLE)
                  <= 0.0 THEN 0.0
             ELSE CAST(nc - nd AS DOUBLE)
                  / sqrt(CAST(n0 - ties_x AS DOUBLE)
                       * CAST(n0 - ties_y AS DOUBLE)) END AS tau_b
      FROM j ORDER BY l_returnflag""",
    // arbitrary p = num/den via the same exact ×den interpolation
    // integers; the display value is the one final /den division
    "b05_percentile_any" -> """
      WITH cc AS (SELECT l_returnflag,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      cum AS (SELECT l_returnflag, cents, c,
          CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
        FROM cc),
      cm AS (SELECT *, hi - c AS lo_excl FROM cum),
      n AS (SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS n FROM cc GROUP BY 1),
      q AS (SELECT * FROM (VALUES (10, CAST(1 AS BIGINT), CAST(10 AS BIGINT)),
              (90, CAST(9 AS BIGINT), CAST(10 AS BIGINT)),
              (99, CAST(99 AS BIGINT), CAST(100 AS BIGINT))) AS v(pct, num, den)),
      t AS (SELECT n.l_returnflag, n.n, q.pct, q.den,
          ((n.n - 1) * q.num) // q.den + 1 AS lo_rank,
          ((n.n - 1) * q.num) % q.den AS rem
        FROM n CROSS JOIN q),
      vlo AS (SELECT t.l_returnflag, t.pct, t.n, t.den, t.rem, cm.cents AS v_lo
              FROM t JOIN cm ON cm.l_returnflag = t.l_returnflag
                AND cm.lo_excl < t.lo_rank AND t.lo_rank <= cm.hi),
      vhi AS (SELECT t.l_returnflag, t.pct, cm.cents AS v_hi
              FROM t JOIN cm ON cm.l_returnflag = t.l_returnflag
                AND cm.lo_excl < t.lo_rank + 1 AND t.lo_rank + 1 <= cm.hi)
      SELECT vlo.l_returnflag, CAST(vlo.pct AS INT) AS pct, vlo.n,
        vlo.v_lo, COALESCE(vhi.v_hi, vlo.v_lo) AS v_hi,
        vlo.v_lo * (vlo.den - vlo.rem)
          + COALESCE(vhi.v_hi, vlo.v_lo) * vlo.rem AS cents_xden,
        CAST(vlo.v_lo * (vlo.den - vlo.rem)
          + COALESCE(vhi.v_hi, vlo.v_lo) * vlo.rem AS DOUBLE)
          / CAST(vlo.den AS DOUBLE) AS value_cents
      FROM vlo LEFT JOIN vhi USING (l_returnflag, pct)
      ORDER BY l_returnflag, pct""",
    // distinct-value ranks + the exact ×4 interpolation integers; the
    // display value is the one final /4 division
    "b05_percentile_cont" -> """
      WITH cc AS (SELECT l_returnflag,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      cum AS (SELECT l_returnflag, cents, c,
          CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
        FROM cc),
      cm AS (SELECT *, hi - c AS lo_excl FROM cum),
      n AS (SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS n FROM cc GROUP BY 1),
      q AS (SELECT unnest([1, 2, 3]) AS quarter),
      t AS (SELECT n.l_returnflag, n.n, q.quarter,
          ((n.n - 1) * q.quarter) // 4 + 1 AS lo_rank,
          ((n.n - 1) * q.quarter) % 4 AS rem
        FROM n CROSS JOIN q),
      vlo AS (SELECT t.l_returnflag, t.quarter, t.n, t.rem, cm.cents AS v_lo
              FROM t JOIN cm ON cm.l_returnflag = t.l_returnflag
                AND cm.lo_excl < t.lo_rank AND t.lo_rank <= cm.hi),
      vhi AS (SELECT t.l_returnflag, t.quarter, cm.cents AS v_hi
              FROM t JOIN cm ON cm.l_returnflag = t.l_returnflag
                AND cm.lo_excl < t.lo_rank + 1 AND t.lo_rank + 1 <= cm.hi)
      SELECT vlo.l_returnflag, CAST(vlo.quarter AS INT) AS quarter, vlo.n,
        vlo.v_lo, COALESCE(vhi.v_hi, vlo.v_lo) AS v_hi,
        vlo.v_lo * (4 - vlo.rem) + COALESCE(vhi.v_hi, vlo.v_lo) * vlo.rem AS cents_x4,
        CAST(vlo.v_lo * (4 - vlo.rem) + COALESCE(vhi.v_hi, vlo.v_lo) * vlo.rem
          AS DOUBLE) / 4.0 AS value_cents
      FROM vlo LEFT JOIN vhi USING (l_returnflag, quarter)
      ORDER BY l_returnflag, quarter""",
    // plain OFFSET/LIMIT under the identical total order — keyset page 3
    // must equal offset page 3 including boundary ties
    "b07_keyset_page" -> """
      SELECT c_custkey, c_name, c_acctbal
      FROM customer ORDER BY c_acctbal DESC, c_custkey
      LIMIT 20 OFFSET 40""",
    // the ±1 estimator matrix replays exactly (same md5 sign hashes,
    // same 8×8 geometry, lower median as rank-4-of-8), so the lossy F2
    // estimate hash-gates; all operands of div/// are non-negative
    "b05_ams_f2" -> s"""
      WITH counts AS (SELECT l_returnflag AS g, l_orderkey AS k,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      exact AS (SELECT g, CAST(SUM(c * c) AS BIGINT) AS f2_exact
                FROM counts GROUP BY g),
      js AS (SELECT unnest(range(0, $AmsJ)) AS j),
      hh AS (SELECT g, k, c,
               CAST(('0x' || substr(md5('ams1:' || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5('ams2:' || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) AS h2
             FROM counts),
      z AS (SELECT g, j,
              CAST(SUM(CASE WHEN j < 48
                       THEN (CASE WHEN ((h1 >> j) & 1) = 1 THEN c ELSE -c END)
                       ELSE (CASE WHEN ((h2 >> (j - 48)) & 1) = 1 THEN c ELSE -c END) END) AS BIGINT) AS z
            FROM hh, js GROUP BY 1, 2),
      grp AS (SELECT g, j // $AmsGroup AS grp, CAST(SUM(z * z) AS BIGINT) AS est8
              FROM z GROUP BY 1, 2),
      med AS (SELECT g, est8 AS ams_scaled8 FROM (
                SELECT g, grp, est8,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY est8, grp) AS rn
                FROM grp) WHERE rn = ${(AmsJ / AmsGroup + 1) / 2})
      SELECT med.g AS l_returnflag, exact.f2_exact,
        med.ams_scaled8 // $AmsGroup AS ams_f2, med.ams_scaled8
      FROM med JOIN exact USING (g) ORDER BY l_returnflag""",
    // the bottom-k sketches replay exactly (rank ≤ k over the identical
    // md5 hashes), so the LOSSY union/Jaccard/intersection estimates
    // hash-gate; `//` and `div` agree because every operand is ≥ 0
    "b05_kmv_setops" -> s"""
      WITH h AS (SELECT DISTINCT l_returnflag AS g,
          CAST(('0x' || substr(md5('kmv:' || CAST(l_orderkey AS VARCHAR)), 1, 12)) AS BIGINT) AS h
        FROM lineitem),
      r AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
      sk AS (SELECT g, h FROM r WHERE rn <= $KmvSetK),
      gs AS (SELECT DISTINCT g FROM sk),
      p AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
      uh AS (SELECT DISTINCT p.ga, p.gb, s.h
             FROM p JOIN sk s ON s.g = p.ga OR s.g = p.gb),
      ur AS (SELECT ga, gb, h,
               ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM uh),
      uk AS (SELECT ga, gb, h FROM ur WHERE rn <= $KmvSetK),
      mem AS (SELECT u.ga, u.gb, u.h,
          CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1 ELSE 0 END AS in_both
        FROM uk u
        LEFT JOIN sk sa ON sa.g = u.ga AND sa.h = u.h
        LEFT JOIN sk sb ON sb.g = u.gb AND sb.h = u.h),
      agg AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS kth,
          CAST(SUM(in_both) AS BIGINT) AS n_both
        FROM mem GROUP BY 1, 2),
      est AS (SELECT ga, gb, m, n_both,
          CASE WHEN m < $KmvSetK THEN m
               ELSE (${KmvSetK - 1} * ${1L << 48}) // greatest(kth, 1) END AS est_union
        FROM agg)
      SELECT ga, gb, m, n_both, est_union,
        (n_both * 1000000000) // m AS jaccard_ppb,
        (n_both * est_union) // m AS est_intersection
      FROM est ORDER BY ga, gb""",
    // the CMS counter matrix replays exactly: same md5-prefix row hashes,
    // same 4×512 geometry, so even collision-inflated estimates hash-gate
    "b05_countmin" -> """
      WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      cms AS (
        SELECT j,
          CAST(('0x' || substr(md5('cm' || j || ':' || CAST(l_suppkey AS VARCHAR)), 1, 12)) AS BIGINT) % 512 AS col,
          COUNT(*) AS c
        FROM lineitem, js
        GROUP BY 1, 2),
      probes AS (SELECT s_suppkey AS key FROM supplier WHERE s_suppkey < 50),
      est AS (
        SELECT p.key, MIN(COALESCE(c.c, 0)) AS est_count
        FROM probes p
        CROSS JOIN js
        LEFT JOIN cms c ON c.j = js.j
          AND c.col = CAST(('0x' || substr(md5('cm' || js.j || ':' || CAST(p.key AS VARCHAR)), 1, 12)) AS BIGINT) % 512
        GROUP BY 1),
      ex AS (SELECT l_suppkey AS key, COUNT(*) AS exact_count FROM lineitem GROUP BY 1)
      SELECT e.key AS s_suppkey, e.est_count,
        COALESCE(x.exact_count, 0) AS exact_count
      FROM est e LEFT JOIN ex x USING (key)
      ORDER BY s_suppkey""",
    "b06_window_rank" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        CAST(RANK() OVER w AS INT) AS rnk,
        CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        CAST(NTILE(4) OVER w AS INT) AS quartile,
        PERCENT_RANK() OVER w AS pct_rank,
        CUME_DIST() OVER w AS cume,
        LAG(o_totalprice, 1) OVER w AS prev_price,
        LEAD(o_totalprice, 1) OVER w AS next_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_custkey, rn""",
    "b06_running_sum" -> """
      SELECT o_custkey, o_orderkey, o_orderdate,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2)))
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS order_seq
      FROM orders
      ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "b07_topk_per_group" -> """
      SELECT c_mktsegment, rn, c_custkey, c_name, c_acctbal FROM (
        SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
          CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
        FROM customer
      ) WHERE rn <= 3 ORDER BY c_mktsegment, rn""",
    "b07_order_limit_offset" -> """
      SELECT c_custkey, c_name, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey LIMIT 20 OFFSET 10""",
    "b08_union_tagged" -> """
      SELECT * FROM (
        SELECT 'urgent' AS src, o_orderkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT 'high' AS src, o_orderkey AS key FROM orders WHERE o_orderpriority = '2-HIGH'
      ) ORDER BY src, key""",
    "b08_intersect" -> """
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey AS c_custkey FROM orders
      ORDER BY c_custkey""",
    "b08_except" -> """
      SELECT o_custkey AS c_custkey FROM orders
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      ORDER BY c_custkey""",
    "b09_string_funcs" -> """
      SELECT p_partkey, lower(p_name) AS lname, upper(p_type) AS utype,
        p_brand || ':' || p_name AS tagged,
        string_split(p_name, ' ')[1] AS first_tok,
        CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INT) AS brand_num,
        CAST(length(p_name) AS INT) AS name_len,
        CAST(levenshtein(p_brand, 'Brand#13') AS INT) AS lev_dist
      FROM part ORDER BY p_partkey""",
    "b09_date_funcs" -> """
      SELECT o_orderkey,
        CAST(year(o_orderdate) AS INT) AS yr,
        CAST(month(o_orderdate) AS INT) AS mo,
        CAST(day(o_orderdate) AS INT) AS dom,
        date_trunc('month', o_orderdate) AS month_start,
        CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch_start,
        o_orderdate + INTERVAL 1 MONTH AS plus_month
      FROM orders ORDER BY o_orderkey""",
    "b09_array_funcs" -> """
      SELECT doc_id,
        CAST(len(toks) AS INT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        list_contains(toks, 'spark') AS has_spark,
        array_to_string(toks[1:3], ',') AS first3,
        list_aggregate(toks, 'min') AS min_tok,
        list_aggregate(toks, 'max') AS max_tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      ORDER BY doc_id""",
    "b09_json_funcs" -> """
      SELECT event_id,
        CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k,
        CAST(length(props) AS INT) AS props_len
      FROM events ORDER BY event_id""",
    "a05_distinct" -> """
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""",
    "a08_count_distinct" -> """
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
             COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(*) AS n_rows
      FROM lineitem""",
  )
}
