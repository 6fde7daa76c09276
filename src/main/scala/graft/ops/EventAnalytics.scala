package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics operators over the `events` stream table — the
  * funnel / path / retention queries every event-analytics engine ships
  * (batch formulations; the streaming twins of this table's windowed
  * aggregations live in [[graft.streaming.Streaming]]).
  *
  * Scale notes (100 TB of events): every operator here keys its shuffles
  * on `user_id` — funnel steps are per-user conditional-min aggregates
  * chained by equi-joins on user_id (co-partitioned after the first
  * shuffle, and AQE broadcasts the shrinking survivor set long before
  * step k), transitions are one per-user ordered window + a
  * map-side-combinable count over a `|types|²`-row result, retention is
  * two user-keyed aggregates. No global windows, no driver-side state.
  *
  * All three are ANSI-expressible end-to-end, so unlike most event
  * engines the results here are DuckDB-oracle hash-checked. `events.ts`
  * is parquet TIMESTAMP(NANOS): Spark reads it ns→us truncated (see
  * [[graft.Tables.events]]), so every oracle comparison CASTs to
  * microsecond TIMESTAMP before comparing/ordering — the same truncation,
  * applied at the same points.
  */
object EventAnalytics {

  /** Ordered-funnel analysis: for each funnel step k>1, a user counts iff
    * they performed step k STRICTLY AFTER their earliest qualifying time
    * for step k−1 (the earliest-qualifying-chain semantics: t₁ = min ts
    * of step 1, tₖ = min ts of step k with ts > tₖ₋₁). Per step: one
    * filter + one per-user min + one user_id equi-join against the
    * previous survivor set. Each survivor frame is an eager
    * [[graft.Cut]] — it feeds both the next step's join and its own
    * count branch, and without the cut step k would re-execute steps
    * 1..k−1 once per downstream branch. */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("signup", "view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty)
    var survivors: DataFrame = null
    val counts = steps.zipWithIndex.map { case (st, i) =>
      survivors = (if (i == 0)
        events.filter(col("event_type") === st)
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      else
        events.filter(col("event_type") === st)
          .join(survivors.select(col("user_id"), col("t").as("t_prev")), Seq("user_id"))
          .filter(col("ts") > col("t_prev"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        ).transform(Cut.eager)
      survivors.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(st).as("step"), col("n_users"))
    }
    val all = counts.reduce(_ union _)
    val first = broadcast(counts.head.select(col("n_users").as("n_first")))
    all.crossJoin(first)
      .select(col("step_idx"), col("step"), col("n_users"),
        // guarded: an empty funnel (zero step-1 users) must yield NULL in
        // BOTH engines — unguarded, Spark's 0/0 is NaN while the oracle's
        // scalar-subquery division yields NULL (latent cross-engine
        // divergence on the degenerate input; mirrored with CASE WHEN in
        // the oracle SQL)
        when(col("n_first") > 0,
          col("n_users").cast("double") / col("n_first")).as("pct_of_first"))
      .orderBy(col("step_idx"))
  }

  def funnelQuery(s: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(s, dir))

  /** Event-type transition matrix (first-order path analysis): per user,
    * order events by (ts, event_id) and count (previous type → type)
    * transitions corpus-wide. One user-partitioned window + one
    * map-side-combinable count; output is |types|² rows regardless of
    * event volume. */
  def transitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  def transitionsQuery(s: SparkSession, dir: String): DataFrame =
    transitions(Tables.events(s, dir))

  /** Cohort retention: users are cohorted by their first-activity DAY;
    * for each (cohort_day, day_offset) cell, how many cohort members were
    * active that many days later. Two user-keyed aggregates and a
    * user_id equi-join — the retention triangle every growth dashboard
    * renders, at event-log scale. */
  def retention(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    events.select(col("user_id"), to_date(col("ts")).as("day"))
      .join(cohorts, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      // dates surface as midnight TIMESTAMP_NTZ, the repo's cross-engine
      // date convention (pandas reads DuckDB DATE as datetime64)
      .select(col("cohort_day").cast("timestamp_ntz").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  def retentionQuery(s: SparkSession, dir: String): DataFrame =
    retention(Tables.events(s, dir))

  /** Time-series resample + forward fill (last observation carried
    * forward): each user's value series regularized onto a fixed-step
    * grid from their first to last event, gaps filled with the previous
    * observation — the kdb/Timescale-style `asof`/`locf` resample, as a
    * distributed plan: one per-(user, bucket) `max_by` aggregate, one
    * per-user span aggregate whose grid EXPLODES from a `sequence` (no
    * driver-side calendar), one co-keyed left join, one user-partitioned
    * `last(ignoreNulls)` window. Everything keys on user_id.
    *
    * Cross-engine exactness: the bucket floor is FLOOR-division semantics
    * via the integer floor-mod identity `t − ((t % s + s) % s)` — exact
    * on longs and equal to DuckDB's `//` floor division for ALL
    * timestamps including pre-1970 negatives (Spark's `div` truncates
    * toward zero and would diverge there) — and the "last" observation
    * is PICKED (never averaged) via
    * a zero-padded `(epoch_micros, event_id)` string key — lexicographic
    * order == numeric order, so Spark's `max_by` and DuckDB's `arg_max`
    * choose the identical row even on same-microsecond ties. */
  def resampleFfill(events: DataFrame, stepSec: Long = 86400L): DataFrame = {
    val ev = events.select(col("user_id"),
      expr(s"""unix_seconds(cast(ts as timestamp))
               - ((unix_seconds(cast(ts as timestamp)) % $stepSec + $stepSec) % $stepSec)""")
        .as("bucket_sec"),
      format_string("%020d|%020d",
        expr("unix_micros(cast(ts as timestamp))"), col("event_id")).as("ord_key"),
      col("value"))
    val obs = ev.groupBy(col("user_id"), col("bucket_sec"))
      .agg(max_by(col("value"), col("ord_key")).as("v_obs"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("bucket_sec")).as("b0"), max(col("bucket_sec")).as("b1"))
      .select(col("user_id"), explode(expr(s"sequence(b0, b1, $stepSec)")).as("bucket_sec"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket_sec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "bucket_sec"), "left_outer")
      .withColumn("value_ffill", last(col("v_obs"), ignoreNulls = true).over(w))
      .select(col("user_id"),
        timestamp_seconds(col("bucket_sec")).cast("timestamp_ntz").as("bucket_ts"),
        col("value_ffill"))
      .orderBy(col("user_id"), col("bucket_ts"))
  }

  def resampleQuery(s: SparkSession, dir: String): DataFrame =
    resampleFfill(Tables.events(s, dir))

  /** B06 (r7): resample + LINEAR interpolation — the harder twin of
    * [[resampleFfill]] (gap cells take the straight line between the
    * surrounding observations instead of carrying the last one). Same
    * grid device (floor-mod bucket, sequence-explode span, max_by pick);
    * the surrounding observations come from four IGNORE-NULLS frame
    * windows over ONE user-keyed sort (prev = trailing last_value, next
    * = leading first_value — no self-join, no second shuffle).
    *
    * Cross-engine exactness: values are integer cents and every grid
    * bucket lies between its user's first and last observation, so the
    * interpolant is the convex combination
    * (pv·(nb−b) + nv·(b−pb))·1000 div (nb−pb) — a NON-NEGATIVE integer
    * numerator (events.value > 0), where truncating and floor division
    * agree, served in milli-cents. No IEEE arithmetic anywhere. */
  def resampleInterp(events: DataFrame, stepSec: Long = 86400L): DataFrame = {
    val ev = events.select(col("user_id"),
      expr(s"""unix_seconds(cast(ts as timestamp))
               - ((unix_seconds(cast(ts as timestamp)) % $stepSec + $stepSec) % $stepSec)""")
        .as("bucket_sec"),
      format_string("%020d|%020d",
        expr("unix_micros(cast(ts as timestamp))"), col("event_id")).as("ord_key"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val obs = ev.groupBy(col("user_id"), col("bucket_sec"))
      .agg(max_by(col("cents"), col("ord_key")).as("c_obs"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("bucket_sec")).as("b0"), max(col("bucket_sec")).as("b1"))
      .select(col("user_id"), explode(expr(s"sequence(b0, b1, $stepSec)")).as("bucket_sec"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("bucket_sec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("bucket_sec"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(obs, Seq("user_id", "bucket_sec"), "left_outer")
      .withColumn("pb",
        last(when(col("c_obs").isNotNull, col("bucket_sec")), ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(col("c_obs"), ignoreNulls = true).over(wPrev))
      .withColumn("nb",
        first(when(col("c_obs").isNotNull, col("bucket_sec")), ignoreNulls = true).over(wNext))
      .withColumn("nv", first(col("c_obs"), ignoreNulls = true).over(wNext))
      .select(col("user_id"),
        timestamp_seconds(col("bucket_sec")).cast("timestamp_ntz").as("bucket_ts"),
        when(col("c_obs").isNotNull, col("c_obs") * 1000)
          .otherwise(expr(
            "(pv * (nb - bucket_sec) + nv * (bucket_sec - pb)) * 1000 div (nb - pb)"))
          .as("interp_mc"),
        when(col("c_obs").isNotNull, 1).otherwise(0).as("observed"))
      .orderBy(col("user_id"), col("bucket_ts"))
  }

  def interpQuery(s: SparkSession, dir: String): DataFrame =
    resampleInterp(Tables.events(s, dir))

  /** B06 (r7): OHLC resample — the candlestick aggregate every
    * financial/telemetry store ships: per (user, day), the first (open)
    * and last (close) observed value plus high/low and volume. Open and
    * close are PICKED via min_by/max_by on the zero-padded
    * (epoch_micros, event_id) string key (the resample device — both
    * engines choose the identical row on same-microsecond ties);
    * high/low/volume are plain exact-cents aggregates. ONE map-side-
    * combinable aggregate keyed on (user, day); no windows. */
  def ohlcResample(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"),
      date_trunc("DAY", col("ts")).cast("timestamp_ntz").as("day"),
      format_string("%020d|%020d",
        expr("unix_micros(cast(ts as timestamp))"), col("event_id")).as("ord_key"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    ev.groupBy(col("user_id"), col("day"))
      .agg(
        min_by(col("cents"), col("ord_key")).as("open_c"),
        max(col("cents")).as("high_c"),
        min(col("cents")).as("low_c"),
        max_by(col("cents"), col("ord_key")).as("close_c"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("volume_c"))
      .orderBy(col("user_id"), col("day"))
  }

  def ohlcQuery(s: SparkSession, dir: String): DataFrame =
    ohlcResample(Tables.events(s, dir))

  /** B10 (r7): A/B experiment readout — the two-proportion conversion
    * comparison every product experiment ends in. Users are assigned by
    * the deterministic Knuth multiplicative hash of user_id (the b15
    * sampling device — assignment is a property of the user's own key,
    * stable under data growth); conversion = any
    * high-value purchase (value ≥ 200 — the tail event; "any purchase"
    * converts at 100% on this corpus and a degenerate p̂ ∈ {0, 1} has no
    * defined z).
    *
    * Scale shape: event-scale work is ONE combinable aggregate to the
    * user dimension (max-is-purchase flag), then one combinable
    * aggregate to the 2-variant dimension. Conversion rates are exact
    * integer ppb (floor-div); the z statistic is the single final
    * double expression over the four exact counts (every step an
    * exactly-rounded IEEE op incl. hardware sqrt — the b16_assortativity
    * determinism device), so it replays bit-identically. */
  def abTest(events: DataFrame): DataFrame = {
    val users = events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 200, 1)
        .otherwise(0)).as("converted"))
      .withColumn("variant",
        when(pmod(col("user_id") * 2654435761L, lit(100)) < 50, "A").otherwise("B"))
    users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
      // DECIMAL(38) product (r9, Relational.psiDriftQuery note):
      // n_converted·10⁹ wraps int64 beyond ~9.2·10⁹ users per variant
      .withColumn("conv_ppb",
        expr("(CAST(n_converted AS DECIMAL(38,0)) * 1000000000) div n_users"))
      .groupBy()
      .agg(
        sum(when(col("variant") === "A", col("n_users"))).as("n_a"),
        sum(when(col("variant") === "A", col("n_converted"))).as("conv_a"),
        max(when(col("variant") === "A", col("conv_ppb"))).as("cr_a_ppb"),
        sum(when(col("variant") === "B", col("n_users"))).as("n_b"),
        sum(when(col("variant") === "B", col("n_converted"))).as("conv_b"),
        max(when(col("variant") === "B", col("conv_ppb"))).as("cr_b_ppb"))
      .withColumn("z_score", expr(
        """(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
           / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b))"""))
  }

  def abTestQuery(s: SparkSession, dir: String): DataFrame =
    abTest(Tables.events(s, dir))

  /** B10 (r7 cont.): A/B power analysis — the PLANNING half of
    * [[abTest]]'s readout: given the observed baseline conversion
    * rate, how many users per arm does detecting a 5/10/20/50%
    * relative lift need at α=0.05 / power=0.80 (two-sided two-
    * proportion formula, z literals 1.96/0.84 fixed at author time)?
    * Event-scale work is the SAME per-user conversion aggregate as
    * abTest; everything after runs on one row × a 4-row lift axis in
    * a fixed IEEE tree, with n_per_arm as one final ceil. A zero-
    * conversion corpus pins n_per_arm NULL (no detectable-effect
    * denominator) instead of dividing by zero. */
  def powerAnalysis(events: DataFrame): DataFrame = {
    val base = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 200, 1L)
        .otherwise(0L)).as("converted"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
    val lifts = events.sparkSession.range(0).sparkSession
      .createDataFrame(Seq(Tuple1(5), Tuple1(10), Tuple1(20), Tuple1(50)))
      .toDF("lift_pct")
    base.crossJoin(broadcast(lifts))
      .withColumn("p1", col("n_converted").cast("double") / col("n_users"))
      .withColumn("p2",
        col("p1") * (lit(1.0) + col("lift_pct").cast("double") / 100.0))
      .select(col("lift_pct"), col("n_users"), col("n_converted"),
        col("p1"), col("p2"),
        when(col("n_converted") === 0L, lit(null).cast("long"))
          .otherwise(ceil(
            lit(2.8) * lit(2.8) *
              (col("p1") * (lit(1.0) - col("p1")) +
               col("p2") * (lit(1.0) - col("p2"))) /
              ((col("p2") - col("p1")) * (col("p2") - col("p1")))))
          .as("n_per_arm"))
      .orderBy(col("lift_pct"))
  }

  def powerQuery(s: SparkSession, dir: String): DataFrame =
    powerAnalysis(Tables.events(s, dir))

  // ---------------------------------------------------------------- wiring

  /** Top-k 3-step user paths — the "what do users actually do" census
    * behind every funnel design (which concrete event sequences dominate).
    * One per-user ordered window (two leads ride the same sort), then a
    * map-side-combinable count over a result bounded by |event_types|³ —
    * the heavy lifting is the user-keyed window the transitions query
    * already pays, never a corpus-wide sort. */
  def topPaths(events: DataFrame, k: Int = 25): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  def topPathsQuery(s: SparkSession, dir: String): DataFrame =
    topPaths(Tables.events(s, dir))

  /** B6 (r6): truncated EWMA smoothing — the time-series operator between
    * a running mean and a full recursive EWMA. True EWMA (r_t = αx_t +
    * (1−α)r_{t−1}) is an unbounded recursion no window frame expresses
    * and no SQL engine replays exactly in floats; the 8-tap truncation
    * with α = ½ keeps >99% of the mass (2⁻⁸ tail) and makes every weight
    * a power of two — value cents × {64,32,…,1,1} (last tap doubled so
    * weights sum to 128 exactly) is an EXACT integer numerator, one
    * deterministic division at the end. Emitted only where all 8 taps
    * exist (the warm region — the null-sum filter IS the contract).
    * One user-keyed window, 8 lags riding a single sort. */
  def ewmaTrunc(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val coeffs = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L, 1L)
    val num = coeffs.zipWithIndex
      .map { case (co, k) => lag(col("c"), k).over(w) * co }.reduce(_ + _)
    events
      .withColumn("c", (col("value").cast("decimal(12,2)") * 100).cast("long"))
      .withColumn("num", num)
      .filter(col("num").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("c").cast("double") / 100).as("value"),
        (col("num").cast("double") / 12800).as("ewma8"))
      .orderBy(col("event_id"))
  }

  def ewmaQuery(s: SparkSession, dir: String): DataFrame =
    ewmaTrunc(Tables.events(s, dir))

  /** B06 (r7): time-weighted average value per user — the irregular-
    * time-series mean (industrial telemetry, position/balance averaging):
    * each observation holds until the next one, so it weighs by the
    * interval it was live, not once per row (a plain AVG over-counts
    * bursts and under-counts sparse stretches). Intervals from one lead()
    * on a user-keyed window; the last observation has no successor and
    * carries no weight. All arithmetic exact: epoch-micro durations ×
    * value cents; the milli-cent average is served via the two-step
    * floor division q·1000 + (1000·r) div d (algebraically floor of
    * 1000·num/d, but immune to the 1000·num overflow), identical in
    * both engines. Users whose observations all share one timestamp
    * have zero held time and are excluded (their TWA is undefined).
    * One window sort + one combinable aggregate, both keyed on user. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    events
      .withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("cents", (col("value").cast("decimal(12,2)") * 100).cast("long"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dt", col("next_us") - col("us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("held_us"),
        sum(col("cents") * col("dt")).as("num"))
      .filter(col("held_us") > 0)
      .select(col("user_id"), col("n_intervals"), col("held_us"),
        expr("(num div held_us) * 1000L + (1000L * (num % held_us)) div held_us")
          .as("twa_millicents"))
      .orderBy(col("user_id"))
  }

  def timeWeightedAvgQuery(s: SparkSession, dir: String): DataFrame =
    timeWeightedAvg(Tables.events(s, dir))

  /** B10 (r7): RFM segmentation — the classic customer-value scoring
    * (recency / frequency / monetary quintiles, 5 = best): per user over
    * purchase events, recency = last purchase instant, frequency =
    * purchase count, monetary = exact cents sum; each metric ranked into
    * ntile(5) with the user_id tie-break so the cut is total and
    * replayable; rfm_code = 100·R + 10·F + M is the segment label
    * marketers read ("555" = champions).
    *
    * Scale shape (re-planned r9): the event-scale work is ONE
    * map-side-combinable aggregate to the user dimension; each metric's
    * ntile then derives from an exact ROW RANK computed by the shared
    * two-level bin+carry prefix ([[graft.ops.Prefix.prefixSum2L]] over
    * (metric, user_id) with a value-range bin axis) plus NTILE's closed
    * form (n div 5 base buckets, the first n mod 5 one larger — Spark's
    * own remainder-first rule, so the output is bit-identical to the
    * old ntile windows). The r7 version ran three UN-PARTITIONED ntile
    * windows over the whole user table — three row-scale single-reducer
    * sorts at 10⁹ users; now no window covers more than one bin. */
  def rfm(events: DataFrame): DataFrame = {
    val base = events
      .filter(col("event_type") === "purchase")
      .withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("cents", (col("value").cast("decimal(12,2)") * 100).cast("long"))
      .groupBy(col("user_id"))
      .agg(max(col("us")).as("recency_us"),
        count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary_cents"))
      .transform(Cut.eager) // feeds three rank passes + the total
    val tot = base.agg(count(lit(1)).as("n_users"))
    // exact ntile(5) from the distributed row rank: rank rn under
    // (metric, user_id) via the two-level device, then the closed form
    def ntile5(df: DataFrame, metric: String, bin: org.apache.spark.sql.Column, out: String): DataFrame = {
      val ranked = Prefix.prefixSum2L(
        df.withColumn("__one", lit(1L)).withColumn("__bin", bin),
        Seq.empty, "__bin", Seq(col(metric), col("user_id")), Seq("__one"))
        .withColumnRenamed("run___one", "__rn")
        .drop("__one", "__bin", "carry___one")
      ranked.withColumn(out, expr(
        s"""CASE WHEN __rn <= (n_users % 5) * (n_users div 5 + 1)
            THEN (__rn - 1) div (n_users div 5 + 1) + 1
            ELSE n_users % 5 + (__rn - (n_users % 5) * (n_users div 5 + 1) - 1)
                 div (n_users div 5) + 1 END""")).drop("__rn")
    }
    val withQ = Seq(
      ("recency_us", expr("recency_us div 2592000000000"), "r_q"),
      ("frequency", expr("frequency div 8"), "f_q"),
      ("monetary_cents", expr("monetary_cents div 1000000"), "m_q"))
      .foldLeft(base.crossJoin(broadcast(tot))) { case (df, (m, b, o)) =>
        ntile5(df, m, b, o)
      }
    withQ
      .select(col("user_id"), col("recency_us"), col("frequency"),
        col("monetary_cents"), col("r_q"), col("f_q"), col("m_q"),
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("rfm_code"))
      .orderBy(col("user_id"))
  }

  def rfmQuery(s: SparkSession, dir: String): DataFrame =
    rfm(Tables.events(s, dir))

  /** B10 (r6): position-based (U-shaped) multi-touch attribution — the
    * ads-analytics workload that ASSIGNS VALUE to touchpoints, where the
    * funnel only counts users: each purchase's value is split over the
    * same user's clicks in a 7-day lookback — 40% to the first touch,
    * 40% to the last, 20% across the middles (1 touch → 100%; 2 →
    * 50/50). All splitting is EXACT INTEGER CENTS with deterministic
    * remainder placement (n=2: odd cent to the first; n≥3: the middle
    * pool's remainder to the first middle), so every purchase's shares
    * sum to its cents identically in both engines — no float percentage
    * ever splits money.
    *
    * Scale: the lookback join is user-keyed equi + bounded time range —
    * one shuffle on user_id, per-user work bounded by activity in the
    * window (the b10_interval_join shape); the rank/count windows key on
    * purchase_id, never corpus-wide. */
  def attribution(events: DataFrame): DataFrame = {
    val ev = events.withColumn("cents",
      (col("value").cast("decimal(12,2)") * 100).cast("long"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"), col("cents"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val pairs = p.join(c, Seq("user_id"))
      .where(col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 7 DAYS"))
    val byP = Window.partitionBy(col("purchase_id"))
    val ranked = pairs
      .withColumn("rnk", row_number().over(byP.orderBy(col("cts"), col("click_id"))))
      .withColumn("n_clicks", count(lit(1)).over(byP))
      .withColumn("f", expr("(cents * 40) div 100"))
      .withColumn("mid_base", expr("CASE WHEN n_clicks >= 3 THEN (cents - 2*f) div (n_clicks - 2) END"))
      .withColumn("mid_rem", expr("CASE WHEN n_clicks >= 3 THEN (cents - 2*f) % (n_clicks - 2) END"))
    val share = expr("""
      CASE WHEN n_clicks = 1 THEN cents
           WHEN n_clicks = 2 THEN CASE WHEN rnk = 1 THEN cents div 2 + cents % 2
                                       ELSE cents div 2 END
           WHEN rnk = 1 THEN f
           WHEN rnk = n_clicks THEN f
           WHEN rnk = 2 THEN mid_base + mid_rem
           ELSE mid_base END""")
    ranked.select(col("purchase_id"), col("rnk"), col("click_id"), col("n_clicks"),
        share.as("share_cents"),
        (share.cast("double") / 100).as("share"))
      .orderBy(col("purchase_id"), col("rnk"))
  }

  def attributionQuery(s: SparkSession, dir: String): DataFrame =
    attribution(Tables.events(s, dir))

  /** Lower median of `valCol` per `keyCol` over a long-valued column —
    * the exact distinct-value-table device (b04_weighted_median): one
    * combinable (key, value) count, a cumulative window over DISTINCT
    * values (bounded domain — never a row-scale window), the gate
    * cross-multiplied so no division exists. Returns (key, med). */
  private def lowerMedian(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val n = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val dv = df.groupBy(col(keyCol), col(valCol)).agg(count(lit(1)).as("w"))
    val cum = dv.withColumn("cw",
      sum(col("w")).over(Window.partitionBy(col(keyCol)).orderBy(col(valCol))))
    cum.join(n, Seq(keyCol))
      .filter(col("cw") * 2 >= col("n"))
      .groupBy(col(keyCol)).agg(min(col(valCol)).as("med"))
  }

  /** B10 (r7): robust outlier detection via median absolute deviation —
    * the spike detector that survives the heavy tail that wrecks
    * mean/stddev z-scores (one whale purchase inflates σ until nothing
    * is an outlier; the median and MAD barely move). Per event type:
    * med = lower median of integer cents, MAD = lower median of
    * |cents − med|, outlier ⇔ dev > k·MAD — every quantity an exact
    * integer, the threshold division-free, so the flagged set replays
    * bit-identically cross-engine (a float MAD would put boundary events
    * on an IEEE knife edge).
    *
    * Scale shape: two combinable aggregates to DISTINCT-value tables
    * (value domain is price-bounded, never event-scale) + cumulative
    * windows over those tables; the 5-row per-type stats broadcast back
    * onto the event scan — no event-scale shuffle anywhere. */
  def madOutliers(events: DataFrame, k: Int = 8): DataFrame = {
    val e = events.select(col("event_id"), col("event_type"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .transform(Cut.eager) // scanned by med, dev, and the output filter
    val med = lowerMedian(e, "event_type", "cents")
      .withColumnRenamed("med", "med_c")
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med_c")))
    val mad = lowerMedian(dev, "event_type", "dev")
      .withColumnRenamed("med", "mad_c")
    dev.join(broadcast(mad), Seq("event_type"))
      .filter(col("dev") > lit(k) * col("mad_c"))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med_c"), col("mad_c"), col("dev"))
      .orderBy(col("event_type"), col("event_id"))
  }

  def madOutliersQuery(s: SparkSession, dir: String): DataFrame =
    madOutliers(Tables.events(s, dir))

  /** B10 (r7): rolling active-user counts — the DAU/WAU dashboard pair
    * (every product-analytics store's first chart). WAU's "distinct
    * users in the trailing 7 days, for every day" is NOT a window
    * aggregate Spark (or any engine) can run directly — count-distinct
    * doesn't decompose over sliding frames — so it uses the standard
    * scale-out device: each (user, active-day) row EXPLODES to the ≤7
    * future days whose trailing window it can serve, then one distinct
    * + one combinable count per day. Fan-out is a fixed ×7 of the
    * (user, day) table — which is itself the first distinct, far
    * smaller than the event log. Everything is exact integers; days
    * surface as midnight TIMESTAMP_NTZ (the repo's cross-engine date
    * convention). Output keeps days with ≥1 active user (inner join),
    * so WAU rows beyond the data's horizon never appear. */
  def activeUsers(events: DataFrame): DataFrame =
    activeUsersOfUserDays(
      events.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .transform(Cut.eager)) // feeds dau + the 7-day explode

  /** [[activeUsers]] core over an already-distinct `(user_id, day)`
    * frame — shared with the streaming refresh twin
    * ([[graft.streaming.Streaming.ActiveUsersRefresh]]), which
    * accumulates exactly this frame across triggers. Caller
    * materializes `ud` (two consumers). */
  def activeUsersOfUserDays(ud: DataFrame): DataFrame = {
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud.select(col("user_id"),
        explode(expr("sequence(0, 6)")).as("i"), col("day"))
      .select(col("user_id"), expr("date_add(day, int(i))").as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day").cast("timestamp_ntz").as("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  def activeUsersQuery(s: SparkSession, dir: String): DataFrame =
    activeUsers(Tables.events(s, dir))

  /** B10 (r7): time-to-convert — per signup-day cohort, how many users
    * converted (first purchase strictly after first signup) and the
    * median latency in whole seconds. The funnel says IF users convert;
    * this says HOW FAST — the activation-latency readout growth teams
    * steer by, and median (not mean) because conversion latencies are
    * exactly the heavy-tail regime b10_mad_outliers guards against.
    * Latency is an exact epoch-micros difference floored to seconds
    * (positive, so floor == truncate in both engines — not
    * `timestampdiff`/`date_diff`, which count boundary CROSSINGS in
    * DuckDB but complete units in Spark and diverge on sub-second
    * offsets); the median is the exact integer
    * distinct-value device shared with [[madOutliers]]. Everything
    * user-keyed until the cohort-day aggregate; cohort table is
    * day-bounded. */
  def timeToConvert(events: DataFrame): DataFrame = {
    val su = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val pu = events.filter(col("event_type") === "purchase")
      .join(su, Seq("user_id"))
      .filter(col("ts") > col("signup_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
    val conv = su.join(pu, Seq("user_id"))
      .select(to_date(col("signup_ts")).as("cohort_day"),
        expr("(unix_micros(cast(purchase_ts as timestamp)) - " +
          "unix_micros(cast(signup_ts as timestamp))) div 1000000").as("latency_s"))
      .transform(Cut.eager) // feeds the count + the median device
    val n = conv.groupBy(col("cohort_day")).agg(count(lit(1)).as("n_converted"))
    val med = lowerMedian(conv, "cohort_day", "latency_s")
      .withColumnRenamed("med", "median_latency_s")
    n.join(med, Seq("cohort_day"))
      .select(col("cohort_day").cast("timestamp_ntz").as("cohort_day"),
        col("n_converted"), col("median_latency_s"))
      .orderBy(col("cohort_day"))
  }

  def timeToConvertQuery(s: SparkSession, dir: String): DataFrame =
    timeToConvert(Tables.events(s, dir))

  /** B10 (r7): discrete survival / churn-hazard table with RIGHT
    * CENSORING — the Kaplan-Meier-style readout behind every churn
    * dashboard. Each user's observed lifetime is first→last event day;
    * users still active within `censorDays` of the corpus horizon are
    * CENSORED (we cannot know they churned — counting them as churners
    * is the classic retention-inflation bug), everyone else churned at
    * their lifetime week. Per week w: n_risk = users whose observed
    * lifetime reaches w (total minus everyone who exited earlier —
    * derived by cumulative subtraction, never a per-user × per-week
    * explode), n_churned / n_censored exits, and the discrete hazard
    * d_w/n_w as an exact integer ppb floor division. KM survival is the
    * running product Π(1 − hazard) — a float fold the cross-engine gate
    * cannot replay exactly, so the gate pins the hazard table and the
    * spec pins the product's factors; any consumer multiplies the
    * gated ratios.
    *
    * Scale: the event-scale work is ONE map-side-combinable per-user
    * min/max aggregate; everything after operates on the user table,
    * then on the week axis — bounded by the observation span in WEEKS
    * (the single-partition cumulative window runs over that axis, ~5
    * rows here, never over users or events). */
  def survival(events: DataFrame, censorDays: Int = 7): DataFrame = {
    val pu = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("first_day"),
        to_date(max(col("ts"))).as("last_day"))
      .transform(Cut.eager) // user-scale; horizon and u both consume it
    val h = pu.agg(max(col("last_day")).as("horizon"))
    val u = pu.crossJoin(broadcast(h))
      .select(col("user_id"),
        expr("datediff(last_day, first_day) div 7").cast("int").as("week"),
        when(datediff(col("horizon"), col("last_day")) >= censorDays, 1L)
          .otherwise(0L).as("churned"))
      .transform(Cut.eager) // user-scale; wk and the axis both consume it
    val wk = u.groupBy(col("week"))
      .agg(sum(col("churned")).as("n_churned"),
        sum(lit(1L) - col("churned")).as("n_censored"))
    val axis = u.agg(max(col("week")).as("mw"), count(lit(1)).as("total"))
      .select(explode(sequence(lit(0), col("mw"))).as("week"), col("total"))
    val cum = Window.orderBy(col("week"))
      .rowsBetween(Window.unboundedPreceding, -1)
    axis.join(wk, Seq("week"), "left")
      .select(col("week"), col("total"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        coalesce(col("n_censored"), lit(0L)).as("n_censored"))
      .withColumn("n_risk",
        col("total") - coalesce(
          sum(col("n_churned") + col("n_censored")).over(cum), lit(0L)))
      .select(col("week"), col("n_risk"), col("n_churned"), col("n_censored"),
        // DECIMAL(38) product (r9, Relational.psiDriftQuery note)
        expr("(CAST(n_churned AS DECIMAL(38,0)) * 1000000000) div n_risk")
          .as("hazard_ppb"))
      .orderBy(col("week"))
  }

  def survivalQuery(s: SparkSession, dir: String): DataFrame =
    survival(Tables.events(s, dir))

  /** B10 (r7): growth accounting — the weekly NEW / RETAINED /
    * RESURRECTED / CHURNED decomposition (the Social Capital growth
    * framework every consumer dashboard replicates): for each calendar
    * week, actives split into first-ever users, continuing users, and
    * returners after a gap; churned counts last week's actives who went
    * silent. The identities active(w) = new + retained + resurrected
    * and churned(w) = active(w−1) − retained(w) make the table
    * self-auditing (spec-pinned). Week index is the exact integer
    * (epoch_sec div 86400) div 7 — engine-portable floor arithmetic,
    * not `date_trunc('week')` whose week-start convention is an engine
    * choice.
    *
    * Scale: the event stream reduces to the distinct (user, week)
    * activity table in one combinable aggregate; everything after is
    * user-week-scale self-joins on (user, week±1) plus one first-week
    * aggregate — all equi-keyed, no windows over users. The dense week
    * axis explodes from a 1-row span aggregate (the b10_survival
    * device). */
  def growthAccounting(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
        expr("((unix_micros(cast(ts as timestamp)) div 1000000) div 86400) div 7")
          .as("week"))
      .distinct().transform(Cut.eager)
    val firstWeek = uw.groupBy(col("user_id")).agg(min(col("week")).as("fw"))
    val prev = uw.select(col("user_id"), (col("week") + 1).as("week"),
      lit(1).as("was_active"))
    val cur = uw.join(firstWeek, "user_id")
      .join(prev, Seq("user_id", "week"), "left")
      .select(col("week"),
        when(col("week") === col("fw"), 1L).otherwise(0L).as("is_new"),
        when(col("was_active").isNotNull && col("week") =!= col("fw"), 1L)
          .otherwise(0L).as("is_ret"),
        when(col("was_active").isNull && col("week") > col("fw"), 1L)
          .otherwise(0L).as("is_res"))
      .groupBy(col("week"))
      .agg(sum(col("is_new")).as("n_new"), sum(col("is_ret")).as("n_retained"),
        sum(col("is_res")).as("n_resurrected"))
    val churn = prev.join(uw, Seq("user_id", "week"), "left_anti")
      .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
    val axis = uw.agg(min(col("week")).as("lo"), max(col("week")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("week"))
    axis.join(cur, Seq("week"), "left").join(churn, Seq("week"), "left")
      .select(col("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("week"))
  }

  def growthAccountingQuery(s: SparkSession, dir: String): DataFrame =
    growthAccounting(Tables.events(s, dir))

  /** B10 (r7): SEASONAL outlier gate — the baseline family member the
    * rolling/MAD/z-score trio lacks: a value that is normal at Friday
    * 20:00 is a spike at Tuesday 04:00, so the threshold must condition
    * on the hour-of-week cell, not a global or trailing statistic.
    * Baseline = exact integer lower median of cents per (dow, hour)
    * cell (the shared distinct-value device); an event is flagged when
    * cents > `mult`·median — division-free, bit-replayable. Output is
    * the per-cell audit: n events, the median baseline, and the
    * flagged count. Axes are the b10_activity_heatmap exact epoch
    * integers (never the engines' divergent dayofweek()).
    *
    * Scale: the event stream reduces to (cell, cents) scan-side; the
    * median runs over the price-bounded distinct-value table per cell
    * (168 partitions); the 168-row baseline broadcasts back onto the
    * scan for the flag count. No event-scale shuffle beyond the one
    * combinable aggregate. */
  def seasonalOutliers(events: DataFrame, mult: Int = 4): DataFrame = {
    // hour-of-week via exact FLOOR division (r12, VERDICT r11: the old
    // `sec div 86400` TRUNCATED, mislabeling every pre-1970 cell — the
    // b06_seasonal treatment finished for the whole family). With
    // hodw = floor(us/3.6e9), cell = ((day+3)%7)*24 + hourOfDay
    // collapses to pmod(hodw + 72, 168): identical for us ≥ 0 (hash
    // unchanged), calendar-correct for us < 0, sub-second instants
    // included. us − pmod(us, 3.6e9) is an exact multiple of the hour,
    // so `div` there IS floor division.
    val e = events.select(
        expr("unix_micros(cast(ts as timestamp))").as("us"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .select(pmod(expr("(us - pmod(us, 3600000000)) div 3600000000") + 72,
        lit(168)).as("cell"), col("cents"))
      .transform(Cut.eager) // the median device and the flag scan share it
    val med = lowerMedian(e, "cell", "cents")
    e.join(broadcast(med), Seq("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("median_cents"),
        sum(when(col("cents") > lit(mult) * col("med"), 1L).otherwise(0L))
          .as("n_flagged"))
      .orderBy(col("cell"))
  }

  def seasonalOutliersQuery(s: SparkSession, dir: String): DataFrame =
    seasonalOutliers(Tables.events(s, dir))

  /** B10 (r7): activity-streak distribution — the gaps-and-islands
    * classic behind every "longest streak" engagement metric: a user's
    * consecutive-active-day runs are islands where day − rank(day) is
    * constant, the per-user longest island is their streak, and the
    * output is the distribution (streak length → user count) — stable
    * under corpus growth where a per-user listing would not be. Exact
    * integer epoch days.
    *
    * Scale: one combinable distinct to the user-day table, one
    * user-partitioned rank window (never global), two combinable
    * aggregates. The distribution is day-span-bounded. */
  def streaks(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
        expr("(unix_micros(cast(ts as timestamp)) div 1000000) div 86400").as("day"))
      .distinct()
    val grp = uw.withColumn("grp", col("day") -
      row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day"))))
    val longest = grp.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id")).agg(max(col("len")).as("longest"))
    longest.groupBy(col("longest").as("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("streak_days"))
  }

  def streaksQuery(s: SparkSession, dir: String): DataFrame =
    streaks(Tables.events(s, dir))

  /** B10 (r7): cohort LTV curve — cumulative purchase revenue per
    * (first-activity-day cohort, week offset): the money-weighted
    * companion of b10_retention (retention says who comes back; LTV
    * says what they're worth by week w — the payback-period readout
    * acquisition spend is judged against). Exact integer cents; the
    * cumulative window is partitioned by cohort and ordered over the
    * WEEK-OFFSET axis — bounded by the observation span, never by
    * users or events. Rows exist for observed offsets (a cohort with
    * no week-3 purchases carries its cumulative forward at the next
    * observed offset). */
  def ltv(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    val wk = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .join(cohorts, Seq("user_id"))
      .select(col("cohort_day"),
        expr("datediff(day, cohort_day) div 7").cast("int").as("week_offset"),
        col("cents"))
      .groupBy(col("cohort_day"), col("week_offset"))
      .agg(sum(col("cents")).as("week_cents"))
    val cum = Window.partitionBy(col("cohort_day")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val sizes = cohorts.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_cohort_users"))
    wk.withColumn("cum_cents", sum(col("week_cents")).over(cum))
      .join(sizes, Seq("cohort_day"))
      .select(col("cohort_day").cast("timestamp_ntz").as("cohort_day"),
        col("week_offset"), col("n_cohort_users"),
        col("week_cents"), col("cum_cents"))
      .orderBy(col("cohort_day"), col("week_offset"))
  }

  def ltvQuery(s: SparkSession, dir: String): DataFrame =
    ltv(Tables.events(s, dir))

  /** B06 (r7 final): per-type z-score standardization — the feature
    * normalization every downstream model expects, as a distributed
    * plan: the event-scale work is ONE map-side-combinable moment
    * aggregate (n, Σc, Σc² — exact BIGINTs) per type; μ, σ and each
    * row's z derive in a FIXED IEEE expression tree from those
    * integers (the b16_assortativity determinism device), so the
    * doubles replay bit-identically cross-engine. The 5-row moment
    * table broadcasts back onto the scan — no event-scale shuffle.
    * Contrast with [[madOutliers]]: z-scores are the parametric
    * normalization, MAD the robust outlier gate; a pipeline wants
    * both. */
  def zScores(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), col("event_type"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val m = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("cents")).as("s1"),
      sum(col("cents") * col("cents")).as("s2"))
    e.join(broadcast(m), Seq("event_type"))
      .withColumn("mu", col("s1").cast("double") / col("n"))
      .withColumn("sigma",
        sqrt(col("s2").cast("double") / col("n") - col("mu") * col("mu")))
      // σ = 0 (a constant-valued type) pins z to 0.0 — every value IS
      // the mean; without the guard 0/0 would emit NaN rows
      .select(col("event_id"), col("event_type"), col("cents"),
        when(col("sigma") === 0.0, lit(0.0))
          .otherwise((col("cents").cast("double") - col("mu")) / col("sigma"))
          .as("z"))
      .orderBy(col("event_type"), col("event_id"))
  }

  def zScoresQuery(s: SparkSession, dir: String): DataFrame =
    zScores(Tables.events(s, dir))

  /** B06 (r7 cont.): lag-k autocorrelation of the daily purchase-revenue
    * series — the seasonality detector behind every forecasting
    * pipeline (a strong lag-7 r is the "weekly cycle" smoking gun).
    *
    * Shape: event-scale work is ONE combinable daily aggregate; the
    * dense day grid (missing days = 0 — a calendar series, not an
    * observed-row series) is a bounded sequence-explode; the lag pairs
    * are a day-axis self-equi-join on `day + lag` (≤ maxLag·span rows);
    * moments per lag are exact BIGINT sums over that bounded axis.
    * Pearson r derives from the integer moments in a FIXED IEEE tree
    * (each moment cast to double FIRST — n·Σxy overflows int64 — then
    * one multiply/subtract/divide/sqrt chain, the b06_zscore device),
    * so the doubles replay bit-identically cross-engine. A constant
    * series (zero variance) pins r to 0.0 instead of NaN.
    *
    * 100 TB note: moments grow with DAILY totals, not row count (the
    * day axis is bounded), but at extreme scale daily cents square
    * past int64 — pre-aggregate the series to whole currency units or
    * widen the moment sums to DECIMAL(38,0) there. */
  def autocorr(events: DataFrame, maxLag: Int = 7): DataFrame =
    autocorrOfDaily(dailyCents(events), maxLag)

  /** [[autocorr]]'s kernel over the shared pre-aggregated daily table
    * (the purchase-series projection happens here). */
  private[graft] def autocorrOfDaily(daily: DataFrame, maxLag: Int = 7): DataFrame = {
    val obs = daily.filter(col("event_type") === "purchase")
      .select(col("day"), col("v"))
    val grid = obs.agg(min(col("day")).as("b0"), max(col("day")).as("b1"))
      .select(explode(expr("sequence(b0, b1)")).as("day"))
      .join(obs, Seq("day"), "left")
      .select(col("day"), coalesce(col("v"), lit(0L)).as("v"))
    val left = grid
      .select(col("day"), col("v").as("x"),
        explode(expr(s"sequence(1, $maxLag)")).as("lag_days"))
      .select(col("lag_days"), (col("day") + col("lag_days")).as("jday"), col("x"))
    val pairs = left
      .join(grid.select(col("day").as("jday"), col("v").as("y")), Seq("jday"))
    val m = pairs.groupBy(col("lag_days")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"),
      sum(col("y") * col("y")).as("sy2"))
    val nD = col("n_pairs").cast("double")
    val denx = nD * col("sx2").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val deny = nD * col("sy2").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    m.select(col("lag_days"), col("n_pairs"), col("sx"), col("sy"), col("sxy"),
      when(denx * deny <= 0.0, lit(0.0)).otherwise(num / sqrt(denx * deny))
        .as("autocorr"))
      .orderBy(col("lag_days"))
  }

  def autocorrQuery(s: SparkSession, dir: String): DataFrame =
    autocorr(Tables.events(s, dir))

  /** B06 (r7 cont.): per-type OLS trend — slope and intercept of daily
    * value against the day index, the "is this metric growing"
    * regression behind every KPI dashboard, as the exact-moments
    * companion of [[autocorr]]: same dense per-type day grid (missing
    * days = 0 — a level trend, not an activity-conditioned one), exact
    * BIGINT moments (n, Σx, Σy, Σxy, Σx²) over the bounded axis with x
    * re-based to the type's first day (keeps x² small and the
    * intercept meaningful: "level at the series start"), and the
    * closed-form slope/intercept in a FIXED IEEE tree — each moment
    * cast to double before combining (n·Σxy overflows int64), so both
    * engines replay bit-identically. A single-day series (zero x
    * variance) pins slope 0 and intercept to the day's value. */
  def trend(events: DataFrame): DataFrame = trendOfDaily(dailyCents(events))

  /** The shared series state of the b06 triad: per-(type, day) cents
    * totals — combinable BIGINT sums, so prefixes fold associatively
    * (the streaming twins' whole-state contract) and the table is
    * types×days-bounded regardless of event volume. */
  private[graft] def dailyCents(events: DataFrame): DataFrame = events
    .select(col("event_type"),
      expr("unix_date(to_date(cast(ts as timestamp)))").as("day"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    .groupBy(col("event_type"), col("day")).agg(sum(col("cents")).as("v"))

  /** [[trend]]'s kernel over a pre-aggregated daily table. */
  private[graft] def trendOfDaily(daily: DataFrame): DataFrame = {
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("b0"), max(col("day")).as("b1"))
      .select(col("event_type"), col("b0"),
        explode(expr("sequence(b0, b1)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), (col("day") - col("b0")).cast("long").as("x"),
        coalesce(col("v"), lit(0L)).as("y"))
    val m = grid.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"))
    val nD = col("n_days").cast("double")
    val den = nD * col("sx2").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = when(den <= 0.0, lit(0.0))
      .otherwise((nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) / den)
    m.withColumn("slope_cents_per_day", slope)
      .select(col("event_type"), col("n_days"), col("sx"), col("sy"),
        col("sxy"), col("sx2"), col("slope_cents_per_day"),
        ((col("sy").cast("double") -
          col("slope_cents_per_day") * col("sx").cast("double")) / nD)
          .as("intercept_cents"))
      .orderBy(col("event_type"))
  }

  def trendQuery(s: SparkSession, dir: String): DataFrame =
    trend(Tables.events(s, dir))

  /** B6 (r10): weekly-profile SEASONAL DECOMPOSITION over the per-type
    * daily series — the classical seasonal-means split
    * (v = seasonal(phase) + residual) the series triad leaves
    * uncovered ([[trend]] drift, [[changepoint]] breaks, [[autocorr]]
    * cycle STRENGTH — this extracts the cycle's SHAPE): the seasonal
    * component is the per-(type, day-of-week) MEAN of daily totals
    * over the min..max day grid (missing days count 0, the trend-grid
    * contract), the residual each day's deviation from its phase mean.
    * Exactness: daily totals are exact cents BIGINTs; the phase mean
    * is the rational phase_sum/phase_n, so the residual is computed
    * SCALED — v·phase_n − phase_sum in DECIMAL(38) (v·n crosses int64
    * at 100 TB daily volumes — the ppb discipline) — and each output
    * double is the scaled integer through one cast and one division,
    * the identical IEEE tree on both engines. dow = day mod 7: an
    * engine-portable PHASE INDEX off the unix-date axis (day 0 was a
    * Thursday; the label is a phase, not a weekday name). Scale: grid
    * is (types × days)-bounded, the phase table (types × 7) — nothing
    * row-scale past the first aggregate. */
  private[graft] def seasonalOfDaily(daily: DataFrame): DataFrame = {
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("b0"), max(col("day")).as("b1"))
      .select(col("event_type"), explode(expr("sequence(b0, b1)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day").cast("long").as("day"),
        coalesce(col("v"), lit(0L)).as("v_cents"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .transform(Cut.eager) // feeds the phase table AND the join
    val phase = grid.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("v_cents")).as("phase_sum"), count(lit(1)).as("phase_n"))
    grid.join(phase, Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"), col("v_cents"),
        (col("phase_sum").cast("double") / col("phase_n").cast("double"))
          .as("seasonal_mean"),
        (expr("CAST(CAST(v_cents AS DECIMAL(38,0)) * phase_n - phase_sum AS DOUBLE)")
          / col("phase_n").cast("double")).as("residual"))
      .orderBy(col("event_type"), col("day"))
  }

  def seasonalQuery(s: SparkSession, dir: String): DataFrame =
    seasonalOfDaily(dailyCents(Tables.events(s, dir)))

  /** B06 (r7 cont.): CUSUM changepoint detection — "when did this
    * metric's level shift" per event type, the third leg of the series
    * triad ([[autocorr]] cycles, [[trend]] drift, this: breaks). The
    * classic statistic is max_k |Σ_{i≤k}(y_i − ȳ)|; multiplied through
    * by n it is the EXACT integer n·prefix_k − (k+1)·Σy, so the whole
    * curve and its argmax replay with zero float math (the inertia
    * n-scaling device; consumers divide by n at display). Same dense
    * per-type day grid as [[trend]]; the argmax is total via the
    * (|cusum| DESC, day) min_by struct — the lpa argmax device. Window
    * runs over the bounded DAY axis, never event rows. */
  def changepoint(events: DataFrame): DataFrame =
    changepointOfDaily(dailyCents(events))

  /** [[changepoint]]'s kernel over a pre-aggregated daily table. */
  private[graft] def changepointOfDaily(daily: DataFrame): DataFrame = {
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("b0"), max(col("day")).as("b1"))
      .select(col("event_type"), col("b0"),
        explode(expr("sequence(b0, b1)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        (col("day") - col("b0")).cast("long").as("x"),
        coalesce(col("v"), lit(0L)).as("y"))
    val tot = grid.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cus = grid.join(tot, Seq("event_type"))
      .withColumn("prefix", sum(col("y")).over(w))
      .select(col("event_type"), col("n_days"), col("day"),
        (col("n_days") * col("prefix") - (col("x") + 1) * col("sy")).as("cusum_n"))
    cus.groupBy(col("event_type"))
      .agg(first(col("n_days")).as("n_days"),
        min_by(struct(col("day"), col("cusum_n")),
          struct((-abs(col("cusum_n"))).as("na"), col("day"))).as("best"))
      .select(col("event_type"), col("n_days"),
        col("best.day").as("cp_day"), col("best.cusum_n").as("cusum_n"),
        abs(col("best.cusum_n")).as("cusum_abs_n"))
      .orderBy(col("event_type"))
  }

  def changepointQuery(s: SparkSession, dir: String): DataFrame =
    changepoint(Tables.events(s, dir))

  /** B06 (r7; r8 exact): Theil-Sen robust trend — the EXACT median of
    * all pairwise slopes (Sen 1968), the estimator that shrugs off the
    * outlier days that drag [[trend]]'s OLS line (29.3% breakdown
    * point vs OLS's zero). r8 removes r7's 10⁻⁶ slope quantization:
    * each slope Δy/Δx is reduced to lowest terms via [[graft.functions.LongGcd]]
    * (px > 0 since x2 > x1), so equal rationals collapse in one
    * map-side-combinable groupBy, and the surviving DISTINCT rationals
    * are ordered EXACTLY by a two-part integer key: kq = ⌊py/px⌋ (floor
    * division via pmod, not truncation — negatives order correctly) and
    * kf = ⌊(py mod px)·10¹²/px⌋, the first 12 decimal digits of the
    * fractional part in exact integer arithmetic. Two distinct rationals
    * with denominators ≤ 10⁶ (px is a day-span delta: 10⁶ days ≈ 2700
    * years) differ by ≥ 10⁻¹², so the key is injective and
    * order-preserving on the whole reachable domain — exactness with no
    * tie-break join and no floating point anywhere. The lower median is
    * the rational whose exact cumulative multiplicity first reaches
    * ⌈n/2⌉ — an INTEGER `div`, not float division, so even pair counts
    * pick a real row (r7 silently returned zero rows for them).
    * Scale: the pair stage is DAY-AXIS-bounded (O(span²) per type,
    * never row-bounded) — the reason Theil-Sen is tractable here at
    * all; the ordered window runs over the collapsed distinct-fraction
    * table; row-scale work stays the one daily aggregate. */
  def theilSen(events: DataFrame): DataFrame = theilSenOf(
    events.select(col("event_type"),
      expr("unix_date(to_date(cast(ts as timestamp)))").as("day"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents")))

  /** Core of [[theilSen]] over pre-extracted (event_type, day, cents)
    * rows — split out so specs can plant exact sub-ulp slope pairs. */
  def theilSenOf(points: DataFrame): DataFrame = {
    val daily = points
      .groupBy(col("event_type"), col("day")).agg(sum(col("cents")).as("v"))
    // Domain guard (r8 ADVICE): the (kq, kf) order key below is
    // injective only for reduced denominators px ≤ 10⁶ (kf carries 12
    // fractional digits; fractions with denominators ≤ P differ by
    // ≥ 1/P²), and every reduced px divides some day delta ≤ the span —
    // so bounding the SPAN bounds px. theilSenOf is public and accepts
    // arbitrary planted points; an out-of-domain span must FAIL LOUDLY
    // here, not silently collide keys into a wrong median. The guard
    // sits on the TYPES-SIZED grid aggregate BEFORE the day-axis
    // explode — the same bound also stops the O(span²) pair stage from
    // ever materializing on a runaway span (a px-level guard inside the
    // pair table would fire only after that quadratic work). assert_true
    // rides the b1 dataflow (ifnull keeps the value) so it cannot be
    // pruned, and evaluates task-side over one row per event type.
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("b0"), max(col("day")).as("b1"))
      .select(col("event_type"), col("b0"),
        explode(expr("""sequence(b0, b1 + ifnull(CAST(assert_true(
          b1 - b0 <= 1000000,
          'theilSenOf: day span exceeds 1e6 - outside the (kq,kf) order-key
           injectivity domain (and the O(span^2) pair budget); widen kf and
           re-plan the pair stage before lifting the cap') AS BIGINT), 0))"""))
          .as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), (col("day") - col("b0")).cast("long").as("x"),
        coalesce(col("v"), lit(0L)).as("y"))
    val a = grid.toDF("event_type", "x1", "y1")
    val b = grid.toDF("event_type", "x2", "y2")
    // distinct reduced fractions with exact multiplicity: slope = py/px,
    // gcd-reduced, px > 0 — rational equality is now column equality
    val frac = a.join(b, Seq("event_type")).filter(col("x2") > col("x1"))
      .select(col("event_type"), (col("y2") - col("y1")).as("dy"),
        (col("x2") - col("x1")).as("dx"))
      .withColumn("g", greatest(graft.functions.LongGcd(col("dy"), col("dx")), lit(1L)))
      // g divides both exactly, so integer div IS the exact quotient
      // (no float division anywhere near the canonical form)
      .select(col("event_type"), expr("dy div g").as("py"), expr("dx div g").as("px"))
      .groupBy(col("event_type"), col("py"), col("px"))
      .agg(count(lit(1)).as("cnt"))
    // exact two-part order key: floor quotient + first 12 fractional
    // decimal digits, all in overflow-safe integer arithmetic
    // (py mod px < px ≤ 10⁶ ⇒ the 10¹²-scaled product stays < 10¹⁸)
    val ordered = frac
      .withColumn("kq", expr("(py - pmod(py, px)) div px"))
      .withColumn("kf", expr("(pmod(py, px) * 1000000000000L) div px"))
    val wCum = Window.partitionBy(col("event_type"))
      .orderBy(col("kq"), col("kf"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("event_type"))
    ordered
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_pairs", sum(col("cnt")).over(wTot))
      // exact lower median: first rational whose cumulative count reaches
      // rank (n+1) div 2 — INTEGER division (even n_pairs must still hit)
      .filter(col("cum") - col("cnt") < expr("(n_pairs + 1) div 2") &&
              expr("(n_pairs + 1) div 2") <= col("cum"))
      .select(col("event_type"), col("n_pairs"),
        col("py").as("slope_py"), col("px").as("slope_px"),
        (col("py").cast("double") / col("px").cast("double"))
          .as("slope_cents_per_day"))
      .orderBy(col("event_type"))
  }

  def theilSenQuery(s: SparkSession, dir: String): DataFrame =
    theilSen(Tables.events(s, dir))

  /** B10 (r7 final): revenue concentration — the top-k spenders with
    * their individual and CUMULATIVE share of total purchase revenue
    * (the "whale curve" behind every monetization dashboard: how much
    * of revenue the top 20 accounts carry). Event-scale work is one
    * combinable per-user spend aggregate; the total is a 1-row
    * broadcast; shares are exact ppb floor divisions; the cumulative
    * window runs over the k-row top slice only — never the full user
    * table. Cut and cumsum keyed (spend desc, user_id), total and
    * replayable. */
  def whales(events: DataFrame, k: Int = 20): DataFrame = {
    val spend = events.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("spend_c"), count(lit(1)).as("n_purchases"))
    val total = spend.agg(sum(col("spend_c")).as("total_c"))
    val top = spend.orderBy(col("spend_c").desc, col("user_id")).limit(k)
    val w = Window.orderBy(col("spend_c").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(total))
      .withColumn("cum_c", sum(col("spend_c")).over(w))
      .select(col("user_id"), col("spend_c"), col("n_purchases"),
        // DECIMAL(38) products (r9, Relational.psiDriftQuery note):
        // cents totals reach corpus-scale·10² before the ·10⁹
        expr("(CAST(spend_c AS DECIMAL(38,0)) * 1000000000) div total_c")
          .as("share_ppb"),
        expr("(CAST(cum_c AS DECIMAL(38,0)) * 1000000000) div total_c")
          .as("cum_share_ppb"))
      .orderBy(col("spend_c").desc, col("user_id"))
  }

  def whalesQuery(s: SparkSession, dir: String): DataFrame =
    whales(Tables.events(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b10_mad_outliers" -> (madOutliersQuery _),
    "b10_active_users" -> (activeUsersQuery _),
    "b10_time_to_convert" -> (timeToConvertQuery _),
    "b10_survival" -> (survivalQuery _),
    "b10_growth_accounting" -> (growthAccountingQuery _),
    "b10_seasonal_outliers" -> (seasonalOutliersQuery _),
    "b10_streaks" -> (streaksQuery _),
    "b10_ltv" -> (ltvQuery _),
    "b06_zscore" -> (zScoresQuery _),
    "b06_autocorr" -> ((s: SparkSession, dir: String) => autocorrQuery(s, dir)),
    "b06_trend" -> (trendQuery _),
    "b06_seasonal" -> (seasonalQuery _),
    "b06_changepoint" -> (changepointQuery _),
    "b10_power" -> (powerQuery _),
    "b06_theilsen" -> (theilSenQuery _),
    "b10_whales" -> (whalesQuery _),
    "b10_attribution" -> (attributionQuery _),
    "b06_ewma" -> (ewmaQuery _),
    "b06_time_weighted" -> (timeWeightedAvgQuery _),
    "b10_rfm" -> (rfmQuery _),
    "b10_ab_test" -> (abTestQuery _),
    "b06_ohlc" -> (ohlcQuery _),
    "b10_top_paths" -> (topPathsQuery _),
    "b10_funnel" -> (funnelQuery _),
    "b10_transitions" -> (transitionsQuery _),
    "b10_retention" -> (retentionQuery _),
    "b06_resample_ffill" -> (resampleQuery _),
    "b06_interpolate" -> (interpQuery _),
  )

  val oracles: Map[String, String] = Map(
    // exact BIGINT moments over the dense day grid; Pearson r replayed in
    // the identical fixed IEEE tree (each moment cast to double FIRST)
    "b06_autocorr" -> """
      WITH d AS (SELECT
          date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      obs AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS v FROM d GROUP BY day),
      span AS (SELECT MIN(day) AS b0, MAX(day) AS b1 FROM obs),
      axis AS (SELECT unnest(range(b0, b1 + 1)) AS day FROM span),
      g AS (SELECT a.day, COALESCE(obs.v, 0) AS v
            FROM axis a LEFT JOIN obs USING (day)),
      lags AS (SELECT unnest(range(1, 8)) AS lag_days),
      p AS (SELECT l.lag_days, x.v AS x, y.v AS y
            FROM lags l JOIN g x ON TRUE JOIN g y ON y.day = x.day + l.lag_days),
      m AS (SELECT lag_days, CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(x * y) AS BIGINT) AS sxy,
              CAST(SUM(x * x) AS BIGINT) AS sx2,
              CAST(SUM(y * y) AS BIGINT) AS sy2
            FROM p GROUP BY lag_days)
      SELECT CAST(lag_days AS INT) AS lag_days, n_pairs, sx, sy, sxy,
        CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0.0
             ELSE (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS autocorr
      FROM m ORDER BY lag_days""",
    // day-axis-bounded pair stage; slopes as gcd-reduced EXACT rationals;
    // exact rank via HUGEINT cross-multiplied comparison over the distinct
    // fraction table (small at oracle scale — quadratic only there); the
    // lower median is the fraction whose cumulative multiplicity first
    // reaches (n+1) // 2 — integer floor division, even pair counts included
    "b06_theilsen" -> """
      WITH d AS (SELECT event_type,
          date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
      obs AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS v
              FROM d GROUP BY 1, 2),
      span AS (SELECT event_type, MIN(day) AS b0, MAX(day) AS b1
               FROM obs GROUP BY 1),
      grid AS (SELECT event_type, b0, u.day
               FROM span, UNNEST(range(b0, b1 + 1)) AS u(day)),
      g AS (SELECT gr.event_type, gr.day - gr.b0 AS x, COALESCE(o.v, 0) AS y
            FROM grid gr LEFT JOIN obs o
              ON o.event_type = gr.event_type AND o.day = gr.day),
      p AS (SELECT a.event_type, b.y - a.y AS dy, b.x - a.x AS dx
            FROM g a JOIN g b ON b.event_type = a.event_type AND b.x > a.x),
      f AS (SELECT event_type,
              CAST(dy // GREATEST(gcd(abs(dy), dx), 1) AS BIGINT) AS py,
              CAST(dx // GREATEST(gcd(abs(dy), dx), 1) AS BIGINT) AS px,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM p GROUP BY 1, 2, 3),
      w AS (SELECT l.event_type, l.py, l.px, l.cnt,
              COALESCE(SUM(CASE WHEN CAST(r.py AS HUGEINT) * l.px
                                   < CAST(l.py AS HUGEINT) * r.px
                                THEN r.cnt END), 0) AS lt
            FROM f l LEFT JOIN f r ON r.event_type = l.event_type
            GROUP BY 1, 2, 3, 4),
      t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_pairs
            FROM f GROUP BY 1)
      SELECT w.event_type, t.n_pairs, w.py AS slope_py, w.px AS slope_px,
        CAST(w.py AS DOUBLE) / CAST(w.px AS DOUBLE) AS slope_cents_per_day
      FROM w JOIN t USING (event_type)
      WHERE w.lt < (t.n_pairs + 1) // 2 AND (t.n_pairs + 1) // 2 <= w.lt + w.cnt
      ORDER BY event_type""",
    // same per-user conversion aggregate as b10_ab_test; the planning
    // card replays the identical fixed IEEE tree + one ceil
    "b10_power" -> """
      WITH u AS (SELECT user_id,
          MAX(CASE WHEN event_type = 'purchase' AND value >= 200
                   THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id),
      b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(converted) AS BIGINT) AS n_converted FROM u),
      l AS (SELECT unnest([5, 10, 20, 50]) AS lift_pct),
      p AS (SELECT l.lift_pct, b.n_users, b.n_converted,
              CAST(b.n_converted AS DOUBLE) / b.n_users AS p1,
              (CAST(b.n_converted AS DOUBLE) / b.n_users)
                * (1.0 + CAST(l.lift_pct AS DOUBLE) / 100.0) AS p2
            FROM b CROSS JOIN l)
      SELECT CAST(lift_pct AS INT) AS lift_pct, n_users, n_converted, p1, p2,
        CASE WHEN n_converted = 0 THEN NULL
             ELSE CAST(ceil(2.8 * 2.8 * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                            / ((p2 - p1) * (p2 - p1))) AS BIGINT) END AS n_per_arm
      FROM p ORDER BY lift_pct""",
    // exact n-scaled CUSUM over the dense per-type grid; argmax replayed
    // as (|cusum| DESC, day) rank 1; window SUM cast to BIGINT (HUGEINT)
    "b06_changepoint" -> """
      WITH d AS (SELECT event_type,
          date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
      obs AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS v
              FROM d GROUP BY 1, 2),
      span AS (SELECT event_type, MIN(day) AS b0, MAX(day) AS b1
               FROM obs GROUP BY 1),
      grid AS (SELECT event_type, b0, u.day
               FROM span, UNNEST(range(b0, b1 + 1)) AS u(day)),
      g AS (SELECT gr.event_type, gr.day, gr.day - gr.b0 AS x,
              COALESCE(o.v, 0) AS y
            FROM grid gr LEFT JOIN obs o
              ON o.event_type = gr.event_type AND o.day = gr.day),
      t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
              CAST(SUM(y) AS BIGINT) AS sy FROM g GROUP BY 1),
      c AS (SELECT g.event_type, t.n_days, g.day,
              t.n_days * CAST(SUM(g.y) OVER (PARTITION BY g.event_type
                ORDER BY g.x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) - (g.x + 1) * t.sy AS cusum_n
            FROM g JOIN t USING (event_type)),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY abs(cusum_n) DESC, day) AS rn FROM c)
      SELECT event_type, n_days, CAST(day AS INT) AS cp_day, cusum_n,
        abs(cusum_n) AS cusum_abs_n
      FROM r WHERE rn = 1 ORDER BY event_type""",
    // same dense per-type day grid and fixed IEEE tree as b06_autocorr;
    // x re-based per type so moments stay small
    "b06_trend" -> """
      WITH d AS (SELECT event_type,
          date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
      obs AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS v
              FROM d GROUP BY 1, 2),
      span AS (SELECT event_type, MIN(day) AS b0, MAX(day) AS b1
               FROM obs GROUP BY 1),
      grid AS (SELECT event_type, b0, u.day
               FROM span, UNNEST(range(b0, b1 + 1)) AS u(day)),
      g AS (SELECT gr.event_type, gr.day - gr.b0 AS x, COALESCE(o.v, 0) AS y
            FROM grid gr LEFT JOIN obs o
              ON o.event_type = gr.event_type AND o.day = gr.day),
      m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(x * y) AS BIGINT) AS sxy,
              CAST(SUM(x * x) AS BIGINT) AS sx2
            FROM g GROUP BY 1),
      sl AS (SELECT *, CASE WHEN CAST(n_days AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0 THEN 0.0
               ELSE (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n_days AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END
               AS slope_cents_per_day
            FROM m)
      SELECT event_type, n_days, sx, sy, sxy, sx2, slope_cents_per_day,
        (CAST(sy AS DOUBLE) - slope_cents_per_day * CAST(sx AS DOUBLE))
          / CAST(n_days AS DOUBLE) AS intercept_cents
      FROM sl ORDER BY event_type""",
    // weekly-profile decomposition: exact cents grid (missing days 0),
    // phase means as one division, residual scaled through DECIMAL(38)
    // then ONE cast + ONE division — the identical IEEE tree
    "b06_seasonal" -> """
      WITH d AS (SELECT event_type,
          date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
      obs AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS v
              FROM d GROUP BY 1, 2),
      span AS (SELECT event_type, MIN(day) AS b0, MAX(day) AS b1
               FROM obs GROUP BY 1),
      grid0 AS (SELECT event_type, CAST(u.day AS BIGINT) AS day
                FROM span, UNNEST(range(b0, b1 + 1)) AS u(day)),
      grid AS (SELECT g0.event_type, g0.day,
                 COALESCE(o.v, 0) AS v_cents,
                 -- non-negative dow phase: DuckDB's % is sign-following,
                 -- Spark's pmod is not — pre-1970 days (negative unix
                 -- day) must phase identically on both engines (r11)
                 CAST(((g0.day % 7) + 7) % 7 AS BIGINT) AS dow
               FROM grid0 g0 LEFT JOIN obs o
                 ON o.event_type = g0.event_type AND o.day = g0.day),
      ph AS (SELECT event_type, dow, CAST(SUM(v_cents) AS BIGINT) AS phase_sum,
               CAST(COUNT(*) AS BIGINT) AS phase_n
             FROM grid GROUP BY 1, 2)
      SELECT g.event_type, g.day, g.dow, g.v_cents,
        CAST(phase_sum AS DOUBLE) / CAST(phase_n AS DOUBLE) AS seasonal_mean,
        CAST(CAST(g.v_cents AS HUGEINT) * phase_n - phase_sum AS DOUBLE)
          / CAST(phase_n AS DOUBLE) AS residual
      FROM grid g JOIN ph USING (event_type, dow)
      ORDER BY g.event_type, g.day""",
    // exact integer cents; cumulative over the bounded week-offset axis;
    // SUMs cast to BIGINT (HUGEINT → pandas float64 otherwise)
    "b10_ltv" -> """
      WITH c AS (SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS cohort_day
                 FROM events GROUP BY user_id),
      wk AS (SELECT c.cohort_day,
               date_diff('day', c.cohort_day, CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) // 7 AS week_offset,
               CAST(SUM(CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS week_cents
             FROM events e JOIN c USING (user_id)
             WHERE e.event_type = 'purchase'
             GROUP BY 1, 2),
      sz AS (SELECT cohort_day, COUNT(*) AS n_cohort_users FROM c GROUP BY cohort_day)
      SELECT CAST(wk.cohort_day AS TIMESTAMP) AS cohort_day,
        CAST(wk.week_offset AS INT) AS week_offset,
        sz.n_cohort_users, wk.week_cents,
        CAST(SUM(wk.week_cents) OVER (PARTITION BY wk.cohort_day
          ORDER BY wk.week_offset
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
      FROM wk JOIN sz USING (cohort_day)
      ORDER BY cohort_day, week_offset""",
    // gaps-and-islands: islands keyed by day − rank(day); the histogram
    // of per-user longest islands
    "b10_streaks" -> """
      WITH uw AS (
        SELECT DISTINCT user_id,
          (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 86400 AS day
        FROM events),
      g AS (SELECT user_id, day,
              day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
            FROM uw),
      runs AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2),
      longest AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS streak_days
                  FROM runs GROUP BY user_id)
      SELECT streak_days, COUNT(*) AS n_users
      FROM longest GROUP BY streak_days ORDER BY streak_days""",
    // hour-of-week cells from exact epoch integers; per-cell lower
    // median via the shared distinct-value device; division-free flag.
    // r12: cell = sign-safe (floor-hours + 72) mod 168 — DuckDB's // is
    // already floor division (matching the Spark side's exact floor, see
    // seasonalOutliers), and the outer ((x % 168) + 168) % 168 keeps
    // pre-1970 instants (negative floor-hours below −72) phasing
    // identically on both engines — the b06_seasonal sign-safe treatment,
    // closing the documented post-1970 domain note
    "b10_seasonal_outliers" -> """
      WITH e AS (
        SELECT ((((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) + 72) % 168)
                 + 168) % 168 AS cell,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
      n AS (SELECT cell, COUNT(*) AS n FROM e GROUP BY cell),
      dv AS (SELECT cell, cents, COUNT(*) AS w FROM e GROUP BY 1, 2),
      cum AS (SELECT cell, cents,
                SUM(w) OVER (PARTITION BY cell ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
              FROM dv),
      med AS (SELECT c.cell, MIN(c.cents) AS med
              FROM cum c JOIN n USING (cell)
              WHERE c.cw * 2 >= n.n GROUP BY c.cell)
      SELECT e.cell, CAST(COUNT(*) AS BIGINT) AS n, MAX(m.med) AS median_cents,
        CAST(SUM(CASE WHEN e.cents > 4 * m.med THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      FROM e JOIN med m USING (cell)
      GROUP BY e.cell ORDER BY e.cell""",
    // exact integer week index (never date_trunc('week') — week-start
    // is an engine convention); SUMs cast to BIGINT
    "b10_growth_accounting" -> """
      WITH uw AS (
        SELECT DISTINCT user_id,
          ((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 86400) // 7 AS week
        FROM events),
      fw AS (SELECT user_id, MIN(week) AS fw FROM uw GROUP BY user_id),
      cur AS (
        SELECT u.week,
          CAST(SUM(CASE WHEN u.week = f.fw THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
          CAST(SUM(CASE WHEN p.user_id IS NOT NULL AND u.week <> f.fw
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
          CAST(SUM(CASE WHEN p.user_id IS NULL AND u.week > f.fw
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        FROM uw u JOIN fw f USING (user_id)
        LEFT JOIN uw p ON p.user_id = u.user_id AND p.week = u.week - 1
        GROUP BY u.week),
      churn AS (
        SELECT a.week + 1 AS week, CAST(COUNT(*) AS BIGINT) AS n_churned
        FROM uw a LEFT JOIN uw n ON n.user_id = a.user_id AND n.week = a.week + 1
        WHERE n.user_id IS NULL
        GROUP BY a.week + 1),
      ax AS (SELECT unnest(range((SELECT MIN(week) FROM uw),
                                 (SELECT MAX(week) + 1 FROM uw))) AS week)
      SELECT ax.week,
        COALESCE(c.n_new, 0) AS n_new,
        COALESCE(c.n_retained, 0) AS n_retained,
        COALESCE(c.n_resurrected, 0) AS n_resurrected,
        COALESCE(ch.n_churned, 0) AS n_churned
      FROM ax LEFT JOIN cur c USING (week) LEFT JOIN churn ch USING (week)
      ORDER BY ax.week""",
    // every aggregate CAST to BIGINT (DuckDB SUM → HUGEINT → pandas
    // float64 otherwise); hazard is the exact ppb floor division
    "b10_survival" -> """
      WITH pu AS (
        SELECT user_id,
          CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS first_day,
          CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS last_day
        FROM events GROUP BY user_id),
      h AS (SELECT MAX(last_day) AS horizon FROM pu),
      u AS (
        SELECT user_id,
          date_diff('day', first_day, last_day) // 7 AS week,
          CASE WHEN date_diff('day', last_day, horizon) >= 7
               THEN 1 ELSE 0 END AS churned
        FROM pu CROSS JOIN h),
      wk AS (SELECT week, CAST(SUM(churned) AS BIGINT) AS n_churned,
               CAST(SUM(1 - churned) AS BIGINT) AS n_censored
             FROM u GROUP BY week),
      ax AS (SELECT unnest(range(0, (SELECT MAX(week) + 1 FROM u))) AS week),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM u),
      j AS (SELECT ax.week, COALESCE(wk.n_churned, 0) AS n_churned,
              COALESCE(wk.n_censored, 0) AS n_censored
            FROM ax LEFT JOIN wk USING (week)),
      r AS (SELECT week, n_churned, n_censored,
              t.total - CAST(COALESCE(SUM(n_churned + n_censored) OVER
                (ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS n_risk
            FROM j CROSS JOIN t)
      SELECT CAST(week AS INT) AS week, n_risk, n_churned, n_censored,
        (n_churned * 1000000000) // n_risk AS hazard_ppb
      FROM r ORDER BY week""",
    // exact integer lower medians over distinct-value tables, threshold
    // division-free — the Spark plan replayed literally
    "b10_mad_outliers" -> """
      WITH e AS (SELECT event_id, event_type,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                 FROM events),
      n AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
      dv AS (SELECT event_type, cents, COUNT(*) AS w FROM e GROUP BY 1, 2),
      cum AS (SELECT event_type, cents,
                SUM(w) OVER (PARTITION BY event_type ORDER BY cents) AS cw FROM dv),
      med AS (SELECT c.event_type, MIN(c.cents) AS med_c
              FROM cum c JOIN n USING (event_type)
              WHERE 2 * c.cw >= n.n GROUP BY 1),
      d AS (SELECT e.event_id, e.event_type, e.cents, m.med_c,
              ABS(e.cents - m.med_c) AS dev
            FROM e JOIN med m USING (event_type)),
      dd AS (SELECT event_type, dev, COUNT(*) AS w FROM d GROUP BY 1, 2),
      dcum AS (SELECT event_type, dev,
                 SUM(w) OVER (PARTITION BY event_type ORDER BY dev) AS cw FROM dd),
      mad AS (SELECT c.event_type, MIN(c.dev) AS mad_c
              FROM dcum c JOIN n USING (event_type)
              WHERE 2 * c.cw >= n.n GROUP BY 1)
      SELECT d.event_id, d.event_type, d.cents, d.med_c, mad.mad_c, d.dev
      FROM d JOIN mad USING (event_type)
      WHERE d.dev > 8 * mad.mad_c
      ORDER BY event_type, event_id""",
    // the trailing-window explode device replayed: ≤7 future days per
    // (user, day), distinct, count — exact, never a sliding distinct
    "b10_active_users" -> """
      WITH ud AS (SELECT DISTINCT user_id,
                    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
      dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
      w AS (SELECT DISTINCT user_id, day + CAST(i AS INT) AS day
            FROM ud, UNNEST(range(0, 7)) t(i)),
      wau AS (SELECT day, COUNT(*) AS wau FROM w GROUP BY 1)
      SELECT d.day, d.dau, w2.wau
      FROM dau d JOIN wau w2 USING (day) ORDER BY day""",
    // first-signup → strictly-later first-purchase latency in whole
    // seconds; exact lower median per signup-day cohort
    "b10_time_to_convert" -> """
      WITH su AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS signup_ts
                  FROM events WHERE event_type = 'signup' GROUP BY 1),
      pu AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
             FROM events e JOIN su USING (user_id)
             WHERE e.event_type = 'purchase'
               AND CAST(e.ts AS TIMESTAMP) > su.signup_ts GROUP BY 1),
      conv AS (SELECT CAST(su.signup_ts AS DATE) AS cohort_day,
                 (epoch_us(pu.purchase_ts) - epoch_us(su.signup_ts)) // 1000000
                   AS latency_s
               FROM su JOIN pu USING (user_id)),
      n AS (SELECT cohort_day, COUNT(*) AS n_converted FROM conv GROUP BY 1),
      dv AS (SELECT cohort_day, latency_s, COUNT(*) AS w FROM conv GROUP BY 1, 2),
      cum AS (SELECT cohort_day, latency_s,
                SUM(w) OVER (PARTITION BY cohort_day ORDER BY latency_s) AS cw FROM dv),
      med AS (SELECT c.cohort_day, MIN(c.latency_s) AS median_latency_s
              FROM cum c JOIN n USING (cohort_day)
              WHERE 2 * c.cw >= n.n_converted GROUP BY 1)
      SELECT n.cohort_day, n.n_converted, med.median_latency_s
      FROM n JOIN med USING (cohort_day) ORDER BY cohort_day""",
    // exact integer moments per type + the identical IEEE expression
    // tree — μ, σ, z bit-equal cross-engine
    "b06_zscore" -> """
      WITH e AS (SELECT event_id, event_type,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                 FROM events),
      m AS (SELECT event_type, COUNT(*) AS n,
              CAST(SUM(cents) AS BIGINT) AS s1,
              CAST(SUM(cents * cents) AS BIGINT) AS s2
            FROM e GROUP BY 1),
      mm AS (SELECT event_type, n, s1, s2,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sigma
             FROM m)
      SELECT e.event_id, e.event_type, e.cents,
             CASE WHEN mm.sigma = 0.0 THEN 0.0
                  ELSE (CAST(e.cents AS DOUBLE) - mm.mu) / mm.sigma END AS z
      FROM e JOIN mm USING (event_type)
      ORDER BY event_type, event_id""",
    // top-k spend slice + 1-row total; shares exact ppb; cumsum over
    // the k-row frame only
    "b10_whales" -> """
      WITH s AS (SELECT user_id,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                        AS BIGINT) AS spend_c,
                   COUNT(*) AS n_purchases
                 FROM events WHERE event_type = 'purchase' GROUP BY 1),
      t AS (SELECT CAST(SUM(spend_c) AS BIGINT) AS total_c FROM s),
      top AS (SELECT * FROM s ORDER BY spend_c DESC, user_id LIMIT 20),
      c AS (SELECT *, CAST(SUM(spend_c) OVER (ORDER BY spend_c DESC, user_id)
                           AS BIGINT) AS cum_c FROM top)
      SELECT c.user_id, c.spend_c, c.n_purchases,
             (c.spend_c * 1000000000) // t.total_c AS share_ppb,
             (c.cum_c * 1000000000) // t.total_c AS cum_share_ppb
      FROM c, t ORDER BY spend_c DESC, user_id""",
    // earliest-qualifying-chain funnel, steps chained as CTEs; ts is
    // ns→us truncated via CAST before every comparison, matching the
    // Spark reader's truncation
    "b10_funnel" -> """
      WITH u1 AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t FROM events
                  WHERE event_type = 'signup' GROUP BY user_id),
      u2 AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t FROM events e
             JOIN u1 USING (user_id)
             WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > u1.t
             GROUP BY e.user_id),
      u3 AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t FROM events e
             JOIN u2 USING (user_id)
             WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > u2.t
             GROUP BY e.user_id),
      u4 AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t FROM events e
             JOIN u3 USING (user_id)
             WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > u3.t
             GROUP BY e.user_id),
      s AS (SELECT 1 AS step_idx, 'signup' AS step, COUNT(*) AS n_users FROM u1
            UNION ALL SELECT 2, 'view', COUNT(*) FROM u2
            UNION ALL SELECT 3, 'click', COUNT(*) FROM u3
            UNION ALL SELECT 4, 'purchase', COUNT(*) FROM u4)
      SELECT step_idx, step, n_users,
             CASE WHEN (SELECT n_users FROM s WHERE step_idx = 1) > 0
               THEN CAST(n_users AS DOUBLE) / (SELECT n_users FROM s WHERE step_idx = 1)
             END AS pct_of_first
      FROM s ORDER BY step_idx""",
    "b10_attribution" -> """
      WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
                    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                  FROM events),
      p AS (SELECT event_id AS purchase_id, user_id, ts AS pts, cents
            FROM ev WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS click_id, user_id, ts AS cts
            FROM ev WHERE event_type = 'click'),
      pairs AS (SELECT p.purchase_id, p.cents, c.click_id, c.cts
                FROM p JOIN c ON p.user_id = c.user_id
                 AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 7 DAY),
      ranked AS (SELECT *,
                   CAST(ROW_NUMBER() OVER (PARTITION BY purchase_id
                     ORDER BY cts, click_id) AS INT) AS rnk,
                   COUNT(*) OVER (PARTITION BY purchase_id) AS n_clicks,
                   (cents * 40) // 100 AS f
                 FROM pairs),
      shares AS (SELECT *,
                   CASE WHEN n_clicks >= 3 THEN (cents - 2*f) // (n_clicks - 2) END AS mid_base,
                   CASE WHEN n_clicks >= 3 THEN (cents - 2*f) % (n_clicks - 2) END AS mid_rem
                 FROM ranked)
      SELECT purchase_id, rnk, click_id, n_clicks,
        CAST(CASE WHEN n_clicks = 1 THEN cents
             WHEN n_clicks = 2 THEN CASE WHEN rnk = 1 THEN cents // 2 + cents % 2
                                         ELSE cents // 2 END
             WHEN rnk = 1 THEN f
             WHEN rnk = n_clicks THEN f
             WHEN rnk = 2 THEN mid_base + mid_rem
             ELSE mid_base END AS BIGINT) AS share_cents,
        CAST(CASE WHEN n_clicks = 1 THEN cents
             WHEN n_clicks = 2 THEN CASE WHEN rnk = 1 THEN cents // 2 + cents % 2
                                         ELSE cents // 2 END
             WHEN rnk = 1 THEN f
             WHEN rnk = n_clicks THEN f
             WHEN rnk = 2 THEN mid_base + mid_rem
             ELSE mid_base END AS DOUBLE) / 100 AS share
      FROM shares ORDER BY purchase_id, rnk""",
    "b06_ewma" -> """
      WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
                  FROM events),
      l AS (SELECT event_id, user_id, ts, c,
              64*c + 32*lag(c,1) OVER w + 16*lag(c,2) OVER w + 8*lag(c,3) OVER w
              + 4*lag(c,4) OVER w + 2*lag(c,5) OVER w + 1*lag(c,6) OVER w
              + 1*lag(c,7) OVER w AS num
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_id, user_id, ts, CAST(c AS DOUBLE)/100 AS value,
             CAST(num AS DOUBLE)/12800 AS ewma8
      FROM l WHERE num IS NOT NULL ORDER BY event_id""",
    "b06_time_weighted" -> """
      WITH ev AS (SELECT user_id, event_id,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                  FROM events),
      iv AS (SELECT user_id, cents, lead(us) OVER w - us AS dt
             FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      agg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
                CAST(SUM(dt) AS BIGINT) AS held_us,
                CAST(SUM(cents * dt) AS BIGINT) AS num
              FROM iv WHERE dt IS NOT NULL GROUP BY user_id)
      SELECT user_id, n_intervals, held_us,
             (num // held_us) * 1000 + (1000 * (num % held_us)) // held_us
               AS twa_millicents
      FROM agg WHERE held_us > 0 ORDER BY user_id""",
    "b10_rfm" -> """
      WITH p AS (SELECT user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                 FROM events WHERE event_type = 'purchase'),
      base AS (SELECT user_id, MAX(us) AS recency_us,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(cents) AS BIGINT) AS monetary_cents
               FROM p GROUP BY user_id),
      q AS (SELECT *,
              CAST(ntile(5) OVER (ORDER BY recency_us, user_id) AS BIGINT) AS r_q,
              CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_q,
              CAST(ntile(5) OVER (ORDER BY monetary_cents, user_id) AS BIGINT) AS m_q
            FROM base)
      SELECT user_id, recency_us, frequency, monetary_cents, r_q, f_q, m_q,
             r_q * 100 + f_q * 10 + m_q AS rfm_code
      FROM q ORDER BY user_id""",
    "b06_ohlc" -> """
      WITH ev AS (SELECT user_id,
              date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
              printf('%020d|%020d', epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS ord_key,
              CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
            FROM events)
      SELECT user_id, day,
             arg_min(cents, ord_key) AS open_c,
             MAX(cents) AS high_c,
             MIN(cents) AS low_c,
             arg_max(cents, ord_key) AS close_c,
             COUNT(*) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS volume_c
      FROM ev GROUP BY 1, 2 ORDER BY user_id, day""",
    "b10_ab_test" -> """
      WITH u AS (SELECT user_id,
              MAX(CASE WHEN event_type = 'purchase' AND value >= 200 THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY user_id),
      v AS (SELECT CASE WHEN (user_id * 2654435761) % 100 < 50 THEN 'A' ELSE 'B' END AS variant,
              converted
            FROM u),
      g AS (SELECT variant, COUNT(*) AS n_users, SUM(converted) AS n_converted,
              (1000000000 * SUM(converted)) // COUNT(*) AS conv_ppb
            FROM v GROUP BY variant)
      SELECT CAST(SUM(CASE WHEN variant = 'A' THEN n_users END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 'A' THEN n_converted END) AS BIGINT) AS conv_a,
             CAST(MAX(CASE WHEN variant = 'A' THEN conv_ppb END) AS BIGINT) AS cr_a_ppb,
             CAST(SUM(CASE WHEN variant = 'B' THEN n_users END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 'B' THEN n_converted END) AS BIGINT) AS conv_b,
             CAST(MAX(CASE WHEN variant = 'B' THEN conv_ppb END) AS BIGINT) AS cr_b_ppb,
             (CAST(SUM(CASE WHEN variant = 'A' THEN n_converted END) AS DOUBLE)
                / SUM(CASE WHEN variant = 'A' THEN n_users END)
              - CAST(SUM(CASE WHEN variant = 'B' THEN n_converted END) AS DOUBLE)
                / SUM(CASE WHEN variant = 'B' THEN n_users END))
             / sqrt((CAST(SUM(n_converted) AS DOUBLE) / SUM(n_users))
                    * (1.0 - CAST(SUM(n_converted) AS DOUBLE) / SUM(n_users))
                    * (1.0 / SUM(CASE WHEN variant = 'A' THEN n_users END)
                       + 1.0 / SUM(CASE WHEN variant = 'B' THEN n_users END))) AS z_score
      FROM g""",
    "b10_top_paths" -> """
      WITH o AS (SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
                 FROM events
                 WINDOW w AS (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id))
      SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
      FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY path ORDER BY n DESC, path LIMIT 25""",
    "b10_transitions" -> """
      WITH o AS (SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
                 FROM events)
      SELECT prev_type, event_type, COUNT(*) AS n FROM o
      WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type ORDER BY prev_type, event_type""",
    // daily grid per user; the "last" observation is arg_max over the
    // zero-padded (epoch_micros, event_id) string key — lexicographic ==
    // numeric, the same row Spark's max_by picks
    "b06_resample_ffill" -> """
      WITH ev AS (SELECT user_id,
              CAST(epoch(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400 * 86400 AS bucket_sec,
              printf('%020d|%020d', epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS ord_key,
              value FROM events),
      obs AS (SELECT user_id, bucket_sec, arg_max(value, ord_key) AS v_obs
              FROM ev GROUP BY 1, 2),
      span AS (SELECT user_id, MIN(bucket_sec) AS b0, MAX(bucket_sec) AS b1
               FROM ev GROUP BY 1),
      grid AS (SELECT user_id, u.bucket_sec
               FROM span, UNNEST(range(b0, b1 + 86400, 86400)) AS u(bucket_sec)),
      j AS (SELECT g.user_id, g.bucket_sec, o.v_obs
            FROM grid g LEFT JOIN obs o USING (user_id, bucket_sec))
      SELECT user_id, make_timestamp(bucket_sec * 1000000) AS bucket_ts,
             last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_sec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
      FROM j ORDER BY user_id, bucket_ts""",
    "b06_interpolate" -> """
      WITH ev AS (SELECT user_id,
              CAST(epoch(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400 * 86400 AS bucket_sec,
              printf('%020d|%020d', epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS ord_key,
              CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
      obs AS (SELECT user_id, bucket_sec, arg_max(cents, ord_key) AS c_obs
              FROM ev GROUP BY 1, 2),
      span AS (SELECT user_id, MIN(bucket_sec) AS b0, MAX(bucket_sec) AS b1
               FROM ev GROUP BY 1),
      grid AS (SELECT user_id, u.bucket_sec
               FROM span, UNNEST(range(b0, b1 + 86400, 86400)) AS u(bucket_sec)),
      j AS (SELECT g.user_id, g.bucket_sec, o.c_obs
            FROM grid g LEFT JOIN obs o USING (user_id, bucket_sec)),
      f AS (SELECT *,
              last_value(CASE WHEN c_obs IS NOT NULL THEN bucket_sec END IGNORE NULLS)
                OVER wp AS pb,
              last_value(c_obs IGNORE NULLS) OVER wp AS pv,
              first_value(CASE WHEN c_obs IS NOT NULL THEN bucket_sec END IGNORE NULLS)
                OVER wn AS nb,
              first_value(c_obs IGNORE NULLS) OVER wn AS nv
            FROM j
            WINDOW wp AS (PARTITION BY user_id ORDER BY bucket_sec
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (PARTITION BY user_id ORDER BY bucket_sec
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, make_timestamp(bucket_sec * 1000000) AS bucket_ts,
             CASE WHEN c_obs IS NOT NULL THEN c_obs * 1000
                  ELSE (pv * (nb - bucket_sec) + nv * (bucket_sec - pb)) * 1000
                       // (nb - pb) END AS interp_mc,
             CASE WHEN c_obs IS NOT NULL THEN 1 ELSE 0 END AS observed
      FROM f ORDER BY user_id, bucket_ts""",
    "b10_retention" -> """
      WITH c AS (SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS cohort_day
                 FROM events GROUP BY user_id),
      a AS (SELECT DISTINCT e.user_id, c.cohort_day,
              date_diff('day', c.cohort_day, CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS day_offset
            FROM events e JOIN c USING (user_id))
      SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
             CAST(day_offset AS INT) AS day_offset, COUNT(*) AS n_users
      FROM a GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""",
  )
}
