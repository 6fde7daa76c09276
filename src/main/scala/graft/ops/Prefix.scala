package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed two-level bin+carry prefix sum — ONE implementation
  * of the device previously hand-rolled four times (r8 VERDICT #6:
  * kendall, ks, the concurrency curve, pps sampling).
  *
  * Problem: a running sum over a partition's ENTIRE axis
  * (`Window.partitionBy(part).orderBy(axis)`) sorts the whole
  * partition in one reducer — the classic single-reducer window
  * bottleneck at 100 TB. Decomposition: rows are pre-bucketed into a
  * BOUNDED `bin` axis (value range div constant, day number, md5
  * prefix, …); the running sum then factors into (a) an in-bin running
  * sum — windows now partitioned by (part, bin), so reducers see one
  * bin each — plus (b) a carry-in: the total of all PRIOR bins,
  * computed over the bin-grain aggregate whose size is the bin count,
  * not the row count. Both levels shuffle-bound by the bin axis;
  * nothing sorts a full partition.
  *
  * Contract: for every value column v, appends
  *   `run_v`   = inclusive running sum of v over (part, order) — the
  *               exact value `sum(v).over(partitionBy(part).orderBy
  *               (order).rowsBetween(unboundedPreceding, 0))` would
  *               give (the equivalence a spec pins on planted frames);
  *   `carry_v` = the prior-bins total alone (callers like the
  *               concurrency curve need the bin-start baseline).
  * Exclusive prefixes are `run_v - v`. `order` must be a total order
  * WITHIN each (part, bin) for the result to be well-defined — same
  * requirement the one-window form has. `bin` must be coarser than
  * `order` (equal bins ⇒ equal order prefixes up to in-bin ties).
  *
  * Callers that feed the same frame to both levels should cut it first
  * with [[graft.Cut.eager]] (all four gated call sites do).
  */
object Prefix {
  def prefixSum2L(df: DataFrame, part: Seq[String], bin: String,
      order: Seq[Column], vals: Seq[String]): DataFrame = {
    val pcols = part.map(col)
    val keyCols = part :+ bin
    val wIn = Window.partitionBy((pcols :+ col(bin)): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    // part empty ⇒ a global bin axis; single-partition by construction
    // but bin-bounded, so the sort is over the bin COUNT, not the rows
    val wBins = (if (part.isEmpty) Window.orderBy(col(bin))
                 else Window.partitionBy(pcols: _*).orderBy(col(bin)))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = vals.map(v => sum(col(v)).as(s"__t_$v"))
    val carry = df.groupBy(keyCols.map(col): _*)
      .agg(totals.head, totals.tail: _*)
      .select(keyCols.map(col) ++ vals.map(v =>
        coalesce(sum(col(s"__t_$v")).over(wBins), lit(0L)).as(s"carry_$v")): _*)
    val inBin = vals.foldLeft(df)((d, v) =>
      d.withColumn(s"__r_$v", sum(col(v)).over(wIn)))
    val joined = inBin.join(carry, keyCols)
    vals.foldLeft(joined)((d, v) =>
      d.withColumn(s"run_$v", col(s"carry_$v") + col(s"__r_$v"))
        .drop(s"__r_$v"))
  }
}
