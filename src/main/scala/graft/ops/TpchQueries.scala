package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The classic TPC-H compositional suite — all 18 shapes beyond the
  * q1/q3/q5/q6 flagships in [[Relational]] (q2/q4/q7–q22), adapted to
  * the testdata schema (no partsupp/commitdate/shipmode/phone columns),
  * so every one of the 22 canonical relational compositions has a
  * hash-gated declared query. The relational completeness battery a
  * user of any OLAP engine expects to run.
  *
  * Reference anchor: the reference engine answers arbitrary SPARQL-algebra
  * compositions of these same primitives (join / semi-join / anti-join /
  * grouped aggregate / correlated filters — /root/reference/harvest.py:82-140
  * composes them per page); this battery exercises the same algebra at
  * its canonical worst: correlated EXISTS (q4), multi-fact join chains
  * (q7/q8), histogram-of-counts (q13), scalar-subquery gates (q11/q15/q22),
  * correlated-aggregate predicates (q17/q18), disjunctive pushdown (q19),
  * and the sole-late-supplier double-correlation (q21).
  *
  * Scale notes (100 TB):
  *  - Every money aggregate runs in exact DECIMAL via [[Relational]]'s
  *    shared device, so results are shuffle-order-free and hash-gate.
  *  - Dimension sides are broadcast ONLY when bounded (nation/region, a
  *    filtered brand's parts, one-row scalar aggregates); customer/
  *    supplier/part joins stay shuffle joins and lean on AQE.
  *  - Correlated subqueries are re-expressed as semi/anti joins or
  *    aggregate-then-join — never per-row subquery execution: q21's
  *    classic quadruple self-join is one orderkey-keyed two-level
  *    aggregation; q17/q22's correlated AVG gates cross-multiply into
  *    exact-decimal predicates (5·qty·cnt < sum) so no division exists at
  *    all before the final display cast.
  */
object TpchQueries {
  import Relational.{castExact, money, one, rate, sum2, sumRev, tsLit}

  /** Q4 shape — order-priority checking: orders with at least one lineitem
    * shipped >300 days after the order date, counted per priority. The
    * correlated EXISTS is a left-semi join (equi on orderkey + the
    * cross-table lateness filter riding the same join), then one
    * map-side-combinable count. */
  def q4LatePriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir).select($"l_orderkey", $"l_shipdate")
    o.join(l,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 300 DAY"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** Q7 shape — volume shipping between two nations (both directions), by
    * year. Nation filters are pushed into the customer/supplier sides
    * BEFORE the fact joins (broadcast nation), so the two fact shuffles
    * (orderkey, then custkey) carry only qualifying rows. */
  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.nation(s, dir)
    val pair = Seq("NATION_1", "NATION_2")
    val sup = Tables.supplier(s, dir)
      .join(broadcast(n.filter($"n_name".isin(pair: _*))),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(n.filter($"n_name".isin(pair: _*))),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val l = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= tsLit("1996-01-01") && $"l_shipdate" < tsLit("1998-01-01"))
    l.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(sumRev($"l_extendedprice", $"l_discount").cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  /** Q8 shape — market share of NATION_5's suppliers in PROMO-part revenue
    * sold to EUROPE customers, per year. Numerator and denominator are two
    * conditional exact-decimal sums in ONE aggregate pass; the share is a
    * single exactly-rounded double division at display time. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter($"r_name" === "EUROPE")
    val euroNations = broadcast(n.join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey"))
    val cust = Tables.customer(s, dir)
      .join(euroNations, $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val sup = Tables.supplier(s, dir)
      .join(broadcast(n.select($"n_nationkey", $"n_name".as("supp_nation"))),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"supp_nation")
    val promo = Tables.part(s, dir).filter($"p_type" === "PROMO").select($"p_partkey")
    val o = Tables.orders(s, dir)
      .filter($"o_orderdate" >= tsLit("1996-01-01") && $"o_orderdate" < tsLit("1998-01-01"))
    val vol = (money($"l_extendedprice") * (one - rate($"l_discount"))).cast("decimal(28,4)")
    Tables.lineitem(s, dir)
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(promo, $"l_partkey" === $"p_partkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        castExact(sum(when($"supp_nation" === "NATION_5", vol)
          .otherwise(lit(0).cast("decimal(28,4)"))), 4).cast("double").as("nation_vol"),
        castExact(sum(vol), 4).cast("double").as("total_vol"))
      .withColumn("mkt_share", $"nation_vol" / $"total_vol")
      .orderBy($"o_year")
  }

  /** Q10 shape — returned-item reporting: top 20 customers by revenue lost
    * to returns in one quarter. The fact stream aggregates to the customer
    * dimension BEFORE touching the customer table, so the attribute join
    * input is customer-sized, not lineitem-sized. */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .filter($"o_orderdate" >= tsLit("1997-01-01") && $"o_orderdate" < tsLit("1997-04-01"))
    val rev = Tables.lineitem(s, dir).filter($"l_returnflag" === "R")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sumRev($"l_extendedprice", $"l_discount").as("rev"))
    rev.join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"c_mktsegment",
        money($"c_acctbal").cast("double").as("c_acctbal"),
        $"rev".cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  /** Q11 shape — important parts: parts whose lineitem value exceeds
    * 1.5× the mean part value (a scale-FREE gate: a fixed corpus-total
    * fraction like TPC-H's 1/10000 empties or floods as the part count
    * scales; the mean-multiple keeps selectivity stable at every sf).
    * The global (total, count) is a one-row broadcast; the gate
    * cross-multiplies in exact decimal (2·value·n_parts > 3·total), so
    * no fraction is ever computed. */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // part-dimension sized; eagerly checkpointed because BOTH the gate and
    // the one-row total read it — a second reference would otherwise
    // recompute the whole lineitem aggregate (the q21 lesson)
    val pv = Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(sum2($"l_extendedprice").as("value"))
      .transform(Cut.eager)
    val tot = pv.agg(castExact(sum($"value"), 2).as("total"), count(lit(1)).as("n_parts"))
    pv.crossJoin(broadcast(tot))
      .filter($"value" * $"n_parts" * 2 > $"total" * 3)
      .select($"l_partkey", $"value".cast("double").as("value"))
      .orderBy($"value".desc, $"l_partkey")
  }

  /** Q13 shape — customer order-count distribution (histogram of counts,
    * zero bucket included via the left join). Two aggregations: orders →
    * per-customer counts (combinable), then counts → histogram. */
  def q13OrderDistribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val oc = Tables.orders(s, dir)
      .filter($"o_orderpriority" =!= "5-LOW")
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
    Tables.customer(s, dir)
      .join(oc, $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"cnt", lit(0L)).as("c_count"))
      .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** Q14 shape — promo revenue share for one ship month: two conditional
    * exact-decimal sums in one pass; ×100 stays in decimal; one double
    * division at the end. */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vol = (money($"l_extendedprice") * (one - rate($"l_discount"))).cast("decimal(28,4)")
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= tsLit("1997-03-01") && $"l_shipdate" < tsLit("1997-04-01"))
      .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
      .agg(
        castExact(sum(when($"p_type" === "PROMO", vol)
            .otherwise(lit(0).cast("decimal(28,4)"))) * 100, 4)
          .cast("double").as("promo_num"),
        castExact(sum(vol), 4).cast("double").as("total_rev"),
        count(lit(1)).as("n_rows"))
      .withColumn("promo_pct", $"promo_num" / $"total_rev")
  }

  /** Q15 shape — top supplier(s) by revenue in a half-year window; the
    * scalar MAX subquery is a one-row broadcast and ties are kept. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // supplier-dimension sized; checkpointed — the MAX subquery and the
    // gate both read it (see q11)
    val sr = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= tsLit("1997-01-01") && $"l_shipdate" < tsLit("1997-07-01"))
      .groupBy($"l_suppkey")
      .agg(sumRev($"l_extendedprice", $"l_discount").as("total_rev"))
      .transform(Cut.eager)
    val mx = sr.agg(max($"total_rev").as("mx"))
    sr.crossJoin(broadcast(mx)).filter($"total_rev" === $"mx")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_rev".cast("double").as("total_rev"))
      .orderBy($"s_suppkey")
  }

  /** Q17 shape — small-quantity revenue for one brand: lineitems whose
    * quantity is under 20% of their part's average. The correlated AVG
    * becomes a per-part (sum,count) aggregate joined back, and the gate
    * cross-multiplies: 5·qty·cnt < sum — exact decimal, division-free. */
  def q17SmallQuantity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pa = Tables.lineitem(s, dir)
      .groupBy($"l_partkey".as("pa_partkey"))
      .agg(sum2($"l_quantity").as("sq"), count(lit(1)).as("cnt"))
    val brand = Tables.part(s, dir).filter($"p_brand" === "Brand#5").select($"p_partkey")
    Tables.lineitem(s, dir)
      .join(broadcast(brand), $"l_partkey" === $"p_partkey")
      .join(pa, $"l_partkey" === $"pa_partkey")
      .filter(money($"l_quantity") * 5 * $"cnt" < $"sq")
      .agg((sum2($"l_extendedprice").cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_rows"))
  }

  /** Q18 shape — large-volume orders: orders whose total quantity exceeds
    * 250, with customer attributes, top 100 by order value. The HAVING
    * gate runs on the combinable per-order aggregate before any
    * dimension join. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sum2($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 250)
    big.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
        money($"o_totalprice").cast("double").as("total_price"),
        $"sum_qty".cast("double").as("sum_qty"))
      .orderBy($"total_price".desc, $"o_orderkey")
      .limit(100)
  }

  /** Q19 shape — disjunctive predicate revenue: three (brand, size range,
    * quantity range) alternatives as ONE join condition, so Catalyst
    * pushes the partkey equi-key and evaluates the OR as a join filter —
    * no union-of-three-scans. */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cond =
      ($"p_brand" === "Brand#1" && $"p_size".between(1, 15) && $"l_quantity".between(1, 11)) ||
      ($"p_brand" === "Brand#2" && $"p_size".between(10, 30) && $"l_quantity".between(10, 20)) ||
      ($"p_brand" === "Brand#3" && $"p_size".between(20, 50) && $"l_quantity".between(20, 30))
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey" && cond)
      .agg(sumRev($"l_extendedprice", $"l_discount").cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** Q21 shape — suppliers who were the SOLE late supplier of a
    * multi-supplier order (late = shipped >120 days after the order
    * date). The classic formulation is a quadruple self-join with EXISTS
    * and NOT EXISTS; the scale-right plan is one orderkey-keyed two-level
    * aggregation: per-(order,supplier) late flag, then per-order
    * (suppliers, late-suppliers) counts via a WINDOW over the aggregated
    * table (not a self-join — a second reference to the aggregate would
    * make Spark recompute the whole fact subtree), then the gate
    * nsupp>1 ∧ nlate=1 picks the culprit rows. Fact data is shuffled once
    * on orderkey with map-side combine; the window re-exchange carries
    * only the order-dimension-sized aggregate. */
  def q21SoleLateSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val perSupp = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 120 DAY"), 1)
        .otherwise(0)).as("late"))
    val w = Window.partitionBy($"l_orderkey")
    perSupp
      .withColumn("nsupp", count(lit(1)).over(w))
      .withColumn("nlate", sum($"late").over(w))
      .filter($"late" === 1 && $"nsupp" > 1 && $"nlate" === 1)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      // the output key is s_name (the oracle's GROUP BY): two suppkeys
      // sharing a name must collapse to one row, not two
      .groupBy($"s_name").agg(sum($"numwait").as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(25)
  }

  /** Q22 shape — dormant high-balance customers per nation: balance above
    * the average positive balance (one-row broadcast, cross-multiplied
    * exact-decimal gate bal·cnt > sum) and no order since 2000 (left-anti
    * join). */
  def q22DormantCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pos = Tables.customer(s, dir).filter($"c_acctbal" > 0)
      .agg(sum2($"c_acctbal").as("sbal"), count(lit(1)).as("cbal"))
    val recent = Tables.orders(s, dir)
      .filter($"o_orderdate" >= tsLit("2000-01-01"))
      .select($"o_custkey")
    Tables.customer(s, dir)
      .crossJoin(broadcast(pos))
      .filter(money($"c_acctbal") * $"cbal" > $"sbal")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("numcust"), sum2($"c_acctbal").cast("double").as("totacctbal"))
      .orderBy($"c_nationkey")
  }

  /** Q2 shape — min-cost supplier per part (no partsupp table: the
    * cheapest observed lineitem price stands in for the supply cost).
    * The min-per-group WITH its argument is picked via one `min_by` on
    * a zero-padded (price_cents, suppkey) string key — lexicographic ==
    * numeric, so both engines choose the identical supplier on price
    * ties (the resample ord-key device). One combinable aggregate after
    * the broadcast part filter; no join-back pass. */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parts = Tables.part(s, dir)
      .filter($"p_type" === "LARGE" && $"p_size".between(10, 20))
      .select($"p_partkey", $"p_name")
    val best = Tables.lineitem(s, dir)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"p_name",
        format_string("%020d|%020d",
          (money($"l_extendedprice") * 100).cast("long"), $"l_suppkey").as("pk"))
      .groupBy($"l_partkey", $"p_name")
      .agg(min($"pk").as("best"))
    best.select($"l_partkey", $"p_name",
        (substring($"best", 1, 20).cast("long").cast("double") / 100).as("best_price"),
        substring($"best", 22, 20).cast("long").as("best_suppkey"))
      .join(broadcast(Tables.supplier(s, dir)), $"best_suppkey" === $"s_suppkey")
      .select($"l_partkey", $"p_name", $"best_price", $"best_suppkey", $"s_name")
      .orderBy($"best_price".desc, $"l_partkey")
      .limit(100)
  }

  /** Q9 shape — product-type profit by (supplier nation, year): revenue
    * minus a retail-derived cost proxy (qty·retail/2 — no ps_supplycost
    * column), for parts whose name contains "red". Exact decimal
    * arithmetic throughout; the LIKE filter reaches the part scan. */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val redParts = Tables.part(s, dir).filter($"p_name".contains("red"))
      .select($"p_partkey", $"p_retailprice")
    val profit = (money($"l_extendedprice") * (one - rate($"l_discount")) -
      money($"p_retailprice") * money($"l_quantity") * lit(0.5).cast("decimal(2,1)"))
      .cast("decimal(28,6)")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(redParts, $"l_partkey" === $"p_partkey")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("o_year"))
      .agg(castExact(sum(profit), 6).cast("double").as("sum_profit"), count(lit(1)).as("n_rows"))
      .orderBy($"n_name", $"o_year".desc)
  }

  /** Q12 shape — shipping-lateness priority audit: one-year lineitems
    * classed late (shipped >120 days after order) vs ontime, with
    * high/low order-priority conditional counts — the CASE-sum shape. */
  def q12LatenessPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hi = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= tsLit("1997-01-01") && $"l_shipdate" < tsLit("1998-01-01"))
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 120 DAY"), "late")
        .otherwise("ontime").as("ship_class"))
      .agg(sum(when(hi, 1).otherwise(0)).as("high_line_count"),
        sum(when(hi, 0).otherwise(1)).as("low_line_count"))
      .orderBy($"ship_class")
  }

  /** Q16 shape — supplier diversity per (brand, size): distinct
    * suppliers shipping the part class, excluding a complaint set
    * (negative-balance suppliers) via NOT IN → left-anti join. */
  def q16SupplierCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val excluded = Tables.supplier(s, dir).filter($"s_acctbal" < 0).select($"s_suppkey")
    val sized = Tables.part(s, dir).filter($"p_size".isin(5, 15, 25, 35, 45))
      .select($"p_partkey", $"p_brand", $"p_size")
    Tables.lineitem(s, dir)
      .join(broadcast(sized), $"l_partkey" === $"p_partkey")
      .join(broadcast(excluded), $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_size")
  }

  /** Q20 shape — promotion-capable suppliers: suppliers whose shipped
    * PROMO-part quantity exceeds 1.1× the mean per-supplier PROMO
    * quantity (cross-multiplied exact gate over a one-row broadcast —
    * the scalar-subquery device; the 1.1 multiple keeps selectivity
    * stable across sf on this near-uniform corpus). */
  def q20PromoSuppliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val promo = Tables.part(s, dir).filter($"p_type" === "PROMO").select($"p_partkey")
    // supplier-dimension sized; checkpointed — the one-row total and the
    // gate both read it (see q11)
    val sp = Tables.lineitem(s, dir)
      .join(broadcast(promo), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(sum($"l_quantity".cast("long")).as("promo_qty"))
      .transform(Cut.eager)
    val tot = sp.agg(sum($"promo_qty").as("tq"), count(lit(1)).as("ns"))
    sp.crossJoin(broadcast(tot))
      .filter($"promo_qty" * $"ns" * 10 > $"tq" * 11)
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name", $"promo_qty")
      .orderBy($"promo_qty".desc, $"s_suppkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q12_lateness_priority" -> (q12LatenessPriority _),
    "q16_supplier_count" -> (q16SupplierCount _),
    "q20_promo_suppliers" -> (q20PromoSuppliers _),
    "q4_late_priority" -> (q4LatePriority _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q8_market_share" -> (q8MarketShare _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q13_order_distribution" -> (q13OrderDistribution _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q17_small_quantity" -> (q17SmallQuantity _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q21_sole_late_supplier" -> (q21SoleLateSupplier _),
    "q22_dormant_customers" -> (q22DormantCustomers _),
  )

  import Relational.{sum2Sql, sumRevSql}

  private def volSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(28,4))"

  val oracles: Map[String, String] = Map(
    "q2_min_cost_supplier" -> """
      WITH best AS (
        SELECT l_partkey, p_name,
          MIN(printf('%020d|%020d',
            CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),
            l_suppkey)) AS best
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
        GROUP BY 1, 2)
      SELECT l_partkey, p_name,
             CAST(CAST(substr(best, 1, 20) AS BIGINT) AS DOUBLE) / 100 AS best_price,
             CAST(substr(best, 22, 20) AS BIGINT) AS best_suppkey,
             s_name
      FROM best JOIN supplier ON CAST(substr(best, 22, 20) AS BIGINT) = s_suppkey
      ORDER BY best_price DESC, l_partkey LIMIT 100""",
    "q9_product_profit" -> """
      SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(0.5 AS DECIMAL(2,1))
                  AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit,
             COUNT(*) AS n_rows
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
      GROUP BY 1, 2 ORDER BY n_name, o_year DESC""",
    "q12_lateness_priority" -> """
      SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY
                  THEN 'late' ELSE 'ontime' END AS ship_class,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1 ORDER BY ship_class""",
    "q16_supplier_count" -> """
      SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size IN (5, 15, 25, 35, 45)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size""",
    "q20_promo_suppliers" -> """
      WITH sp AS (SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS promo_qty
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  WHERE p_type = 'PROMO' GROUP BY 1),
      t AS (SELECT SUM(promo_qty) AS tq, COUNT(*) AS ns FROM sp)
      SELECT s_suppkey, s_name, n_name, promo_qty
      FROM sp, t
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE promo_qty * ns * 10 > tq * 11
      ORDER BY promo_qty DESC, s_suppkey""",
    "q4_late_priority" -> """
      SELECT o_orderpriority, COUNT(*) AS n_orders
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 300 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q7_nation_volume" -> s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(${sumRevSql("l_extendedprice", "l_discount")} AS DOUBLE) AS revenue,
             COUNT(*) AS n_rows
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q8_market_share" -> s"""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CASE WHEN n2.n_name = 'NATION_5' THEN $volSql
                           ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) AS nation_vol,
             CAST(SUM($volSql) AS DOUBLE) AS total_vol,
             CAST(SUM(CASE WHEN n2.n_name = 'NATION_5' THEN $volSql
                           ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
               / CAST(SUM($volSql) AS DOUBLE) AS mkt_share
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1 ORDER BY 1""",
    "q10_returned_items" -> s"""
      SELECT c_custkey, c_name, n_name, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal,
             CAST(${sumRevSql("l_extendedprice", "l_discount")} AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1, 2, 3, 4, 5
      ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q11_important_parts" -> s"""
      WITH pv AS (SELECT l_partkey, ${sum2Sql("l_extendedprice")} AS value
                  FROM lineitem GROUP BY 1),
      t AS (SELECT SUM(value) AS total, COUNT(*) AS n_parts FROM pv)
      SELECT l_partkey, CAST(value AS DOUBLE) AS value
      FROM pv, t WHERE value * n_parts * 2 > total * 3
      ORDER BY value DESC, l_partkey""",
    "q13_order_distribution" -> """
      WITH oc AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders
                  WHERE o_orderpriority <> '5-LOW' GROUP BY 1)
      SELECT COALESCE(cnt, 0) AS c_count, COUNT(*) AS custdist
      FROM customer LEFT JOIN oc ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    "q14_promo_revenue" -> s"""
      SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $volSql
                           ELSE CAST(0 AS DECIMAL(28,4)) END) * 100 AS DOUBLE) AS promo_num,
             CAST(SUM($volSql) AS DOUBLE) AS total_rev,
             COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $volSql
                           ELSE CAST(0 AS DECIMAL(28,4)) END) * 100 AS DOUBLE)
               / CAST(SUM($volSql) AS DOUBLE) AS promo_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""",
    "q15_top_supplier" -> s"""
      WITH sr AS (SELECT l_suppkey, ${sumRevSql("l_extendedprice", "l_discount")} AS total_rev
                  FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
                  GROUP BY 1)
      SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      FROM sr JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_rev = (SELECT MAX(total_rev) FROM sr)
      ORDER BY s_suppkey""",
    "q17_small_quantity" -> s"""
      WITH pa AS (SELECT l_partkey AS pa_partkey, ${sum2Sql("l_quantity")} AS sq,
                         COUNT(*) AS cnt
                  FROM lineitem GROUP BY 1)
      SELECT CAST(${sum2Sql("l_extendedprice")} AS DOUBLE) / 7.0 AS avg_yearly,
             COUNT(*) AS n_rows
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN pa ON l_partkey = pa_partkey
      WHERE p_brand = 'Brand#5'
        AND CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sq""",
    "q18_large_orders" -> s"""
      WITH big AS (SELECT l_orderkey, ${sum2Sql("l_quantity")} AS sum_qty
                   FROM lineitem GROUP BY 1 HAVING ${sum2Sql("l_quantity")} > 250)
      SELECT c_custkey, c_name, o_orderkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
             CAST(sum_qty AS DOUBLE) AS sum_qty
      FROM big
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_price DESC, o_orderkey LIMIT 100""",
    "q19_disjunctive" -> s"""
      SELECT CAST(${sumRevSql("l_extendedprice", "l_discount")} AS DOUBLE) AS revenue,
             COUNT(*) AS n_rows
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)""",
    "q21_sole_late_supplier" -> """
      WITH per_supp AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      per_order AS (
        SELECT l_orderkey AS bad_orderkey
        FROM per_supp GROUP BY 1
        HAVING COUNT(*) > 1 AND SUM(late) = 1)
      SELECT s_name, COUNT(*) AS numwait
      FROM per_supp
      JOIN per_order ON l_orderkey = bad_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE late = 1
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""",
    "q22_dormant_customers" -> s"""
      WITH pos AS (SELECT ${sum2Sql("c_acctbal")} AS sbal, COUNT(*) AS cbal
                   FROM customer WHERE c_acctbal > 0)
      SELECT c_nationkey, COUNT(*) AS numcust,
             CAST(${sum2Sql("c_acctbal")} AS DOUBLE) AS totacctbal
      FROM customer, pos
      WHERE CAST(c_acctbal AS DECIMAL(12,2)) * cbal > sbal
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-01-01')
      GROUP BY c_nationkey ORDER BY c_nationkey""",
  )
}
