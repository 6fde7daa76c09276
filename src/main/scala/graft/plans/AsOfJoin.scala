package graft.plans

import graft.Cut
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graftbridge.bridge

/** AS-OF join as a first-class operator: logical node + planner strategy +
  * physical merge exec (SURVEY §2 B3, §4.2 tier (c) — the whole-operator
  * Catalyst extension path).
  *
  * Semantics (pandas `merge_asof` / kdb `aj` shape): for every left row,
  * attach the single right row with equal key and the greatest
  * `(rightTime, rightTiebreak…) <= (leftTime, ∞)`; left rows with no such
  * match survive with nulls (left-outer). The tiebreak columns make the
  * choice among equal-time right rows deterministic — a plain window/max
  * formulation (see [[graft.ops.Relational.joinAsOf]]) can only carry one
  * value, while this operator attaches the WHOLE matched right row.
  *
  * Physical plan: both sides hash-cluster on the key ([[ClusteredDistribution]]
  * — EnsureRequirements inserts co-partitioned exchanges) and sort within
  * partitions by (key, time). The exec then streams the two sorted iterators
  * with a single-row lookahead and O(1) state per key — no window buffer, no
  * per-key group materialization, no time-range blow-up. At 100 TB that is
  * one shuffle per side (same cost as any equi-join) and a linear merge;
  * the classic window rewrite shuffles the UNION of both sides through one
  * sort and buffers frames.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] into [[AsOfJoinExec]]. Injected via
  * `spark.sql.extensions=graft.GraftExtensions` (injectPlannerStrategy) or
  * programmatically through [[AsOfJoin.ensureStrategy]]. */
case class AsOfJoinStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Partition-local sorted-merge as-of join.
  *
  * Requires: children clustered on the join keys and sorted by
  * (keys, time[, tiebreak…]) ascending — declared below, so
  * EnsureRequirements provisions the exchanges and sorts; AQE still
  * coalesces/splits the shuffles at runtime.
  *
  * Null semantics: keys compare by ordering, so null keys group together and
  * match each other (IS NOT DISTINCT FROM — same grouping a shuffle gives
  * them); null times sort first and therefore match any left time.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Observable in the Spark UI / explain like the built-in joins.
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    ((rightKeys :+ rightTime) ++ rightTiebreak).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Rows stream out in left order, so the left requirement is preserved. */
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val rWidth = rOut.length
    val (lKeyExprs, rKeyExprs, lTimeExpr, rTimeExpr) =
      (leftKeys, rightKeys, leftTime, rightTime)
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rWidth)
      // bind against nullability-WIDENED right attrs: the null-padding row
      // must be read through null checks even when the child schema says
      // non-nullable
      val resultProj =
        UnsafeProjection.create(outAttrs, lOut ++ rOut.map(_.withNullability(true)))
      // One-row lookahead over the right side. `matchRow` is the latest
      // right row at or before the current left (key, time) — because both
      // sides arrive key- then time-sorted, it is overwritten monotonically
      // and never buffered: O(1) state regardless of group sizes.
      var rRow: InternalRow = null
      var matchRow: InternalRow = null
      var matchKey: InternalRow = null
      def advanceRight(): Unit =
        rRow = if (rIter.hasNext) rIter.next().copy() else null
      advanceRight()
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTime = lTimeProj(lRow)
        var scanning = rRow != null
        while (scanning) {
          val rKey = rKeyProj(rRow)
          val kc = keyOrd.compare(rKey, lKey)
          if (kc < 0 || (kc == 0 && timeOrd.compare(rTimeProj(rRow), lTime) <= 0)) {
            if (kc == 0) { matchRow = rRow; matchKey = rKey.copy() }
            advanceRight()
            scanning = rRow != null
          } else scanning = false
        }
        numOutputRows += 1
        if (matchRow != null && keyOrd.compare(matchKey, lKey) == 0) {
          numMatchedRows += 1
          resultProj(joined(lRow, matchRow))
        } else resultProj(joined(lRow, nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** Idempotently register the planner strategy on an existing session
    * (config-free path; `spark.sql.extensions=graft.GraftExtensions` is the
    * cluster-wide alternative). */
  def ensureStrategy(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[AsOfJoinStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy(spark)
  }

  /** Column-name API over [[AsOfJoinPlan]].
    *
    * Output = left columns ++ matched right columns (nulls when no match).
    * Column names must be disjoint — alias the right side when self-joining
    * one source (aliasing also renews expression ids, which keeps the two
    * sides' attributes distinct without relying on analyzer deduplication
    * of a non-builtin node).
    *
    * Null right TIMES are excluded from matching, exactly like the SQL
    * formulation (`rt <= t` rejects null), by filtering them here before the
    * exec — inside the exec a null time would sort first and match any left
    * time (see [[AsOfJoinExec]]'s null note). Null KEYS keep shuffle
    * semantics: they group together and match each other.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      on: Seq[(String, String)],
      leftTimeCol: String,
      rightTimeCol: String,
      tiebreak: Seq[String] = Nil): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.where(col(rightTimeCol).isNotNull).queryExecution.analyzed
    val dup = lPlan.output.map(_.name).toSet.intersect(rPlan.output.map(_.name).toSet)
    require(dup.isEmpty,
      s"as-of join requires disjoint column names (alias the right side): ${dup.mkString(", ")}")
    def res(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"column '$n' not found among ${p.output.map(_.name).mkString(", ")}"))
    val lt = res(lPlan, leftTimeCol)
    val rt = res(rPlan, rightTimeCol)
    require(lt.dataType == rt.dataType,
      s"as-of time columns must share a type: ${lt.dataType} vs ${rt.dataType}")
    on.foreach { case (l, r) =>
      require(res(lPlan, l).dataType == res(rPlan, r).dataType,
        s"as-of key types must match for ($l, $r)")
    }
    ensureStrategy(spark)
    bridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      on.map(k => res(lPlan, k._1)), on.map(k => res(rPlan, k._2)),
      lt, rt, tiebreak.map(res(rPlan, _))))
  }

  /** B3 via the custom operator: each purchase picks up the full row of the
    * latest click (ties broken by event id) by the same user — the payload
    * column `click_event` is exactly what the window/max formulation in
    * [[graft.ops.Relational.joinAsOf]] cannot attach without struct tricks. */
  def joinAsOfExec(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_event"))
    asofJoin(purchases, clicks, Seq("user_id" -> "c_user"), "ts", "click_ts",
      tiebreak = Seq("click_event"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_ts"), col("click_event"))
      .orderBy(col("event_id"))
  }

  /** B3 (r7 final): plain SQL through [[RangeBinJoinRewrite]] — the
    * second optimizer rule driver-gated end to end (the
    * b12_hamming_join_sql treatment): a pure interval join (purchases
    * within 10 minutes AFTER any signup, across users — no equi-key
    * anywhere) that Spark would plan as a nested-loop product. The rule
    * re-plans it to the binned equi-join; the gate ASSERTS the rewrite
    * actually fired (no nested-loop in the physical plan — otherwise
    * the gate would silently certify the naive path) and the DuckDB
    * oracle replays the naive quadratic join, so a green hash proves
    * the rewrite preserves the result including multiplicity. */
  def rangeJoinSqlQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("x"))
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("x"))
      .createOrReplaceTempView("graft_range_points")
    ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("x").as("lo"),
        (col("x") + 600).as("hi"))
      .createOrReplaceTempView("graft_range_intervals")
    val prev = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = prev :+ RangeBinJoinRewrite(s)
    val prevWidth = s.conf.getOption(RangeBinJoinRewrite.WidthKey)
    s.conf.set(RangeBinJoinRewrite.WidthKey, "600")
    try {
      val out = s.sql("""
        SELECT i.s_id, p.p_id, p.x - i.lo AS lag_s
        FROM graft_range_intervals i JOIN graft_range_points p
          ON p.x >= i.lo AND p.x <= i.hi""")
      val phys = out.queryExecution.executedPlan.toString
      require(!phys.contains("NestedLoop"),
        "b03_range_join_sql: RangeBinJoinRewrite did not fire — the gate would " +
          "certify the naive nested-loop plan instead of the rewrite")
      out.transform(Cut.eager).orderBy(col("s_id"), col("p_id"))
    } finally {
      s.experimental.extraOptimizations = prev
      prevWidth match {
        case Some(v) => s.conf.set(RangeBinJoinRewrite.WidthKey, v)
        case None    => s.conf.unset(RangeBinJoinRewrite.WidthKey)
      }
      // catalog state is session-global — leave no stale views behind
      s.catalog.dropTempView("graft_range_points")
      s.catalog.dropTempView("graft_range_intervals")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b03_join_asof_exec" -> (joinAsOfExec _),
    "b03_range_join_sql" -> (rangeJoinSqlQuery _))

  val oracles: Map[String, String] = Map(
    // the NAIVE quadratic interval join — DuckDB at verify scale affords
    // the O(n·m) the rewrite exists to avoid
    "b03_range_join_sql" -> """
      WITH e AS (SELECT event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS x FROM events),
      p AS (SELECT event_id AS p_id, x FROM e WHERE event_type = 'purchase'),
      i AS (SELECT event_id AS s_id, x AS lo, x + 600 AS hi
            FROM e WHERE event_type = 'signup')
      SELECT i.s_id, p.p_id, p.x - i.lo AS lag_s
      FROM i JOIN p ON p.x >= i.lo AND p.x <= i.hi
      ORDER BY s_id, p_id""",
    "b03_join_asof_exec" -> """
      WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                 FROM events WHERE event_type = 'purchase'),
           c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS click_ts,
                        event_id AS click_event
                 FROM events WHERE event_type = 'click'),
           j AS (SELECT p.event_id, p.user_id, p.ts, c.click_ts, c.click_event,
                   ROW_NUMBER() OVER (PARTITION BY p.event_id
                     ORDER BY c.click_ts DESC, c.click_event DESC) AS rn
                 FROM p LEFT JOIN c ON p.user_id = c.c_user AND c.click_ts <= p.ts)
      SELECT event_id, user_id, ts, click_ts, click_event
      FROM j WHERE rn = 1 ORDER BY event_id""")
}
