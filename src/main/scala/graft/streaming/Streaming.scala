package graft.streaming

import graft.{Cut, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.reflect.runtime.universe.TypeTag

/** Event-time windowing + streaming surface (SURVEY §2 B10).
  *
  * The window TRANSFORMS are defined once over plain DataFrames so the
  * same code runs in batch (oracle-checkable below) and behind
  * `readStream` (exercised with MemoryStream in StreamingSpec):
  * tumbling/sliding windows, session windows, watermarked dedup, and the
  * foreachBatch incremental-harvest sink that reuses [[graft.harvest.Merge]].
  */
object Streaming {

  private val Dec = "decimal(28,2)"
  /** Exact decimal sum, emitted as DOUBLE: the arithmetic is
    * order-independent (decimal), but the final value is a double so the
    * rendered output has no decimal-scale trailing zeros (cross-engine
    * textual comparison; see [[graft.ops.Relational]] determinism notes). */
  private def vsum(c: Column): Column =
    sum(c.cast("decimal(12,2)").cast(Dec)).cast("double")

  /** B10: tumbling 5-minute windows per event type — works identically on
    * a batch DataFrame and a streaming one. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), vsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  def tumblingQuery(s: SparkSession, dir: String): DataFrame =
    tumbling(Tables.events(s, dir))
      .orderBy(col("window_start"), col("event_type"))

  /** B10: sliding 10-minute windows every 5 minutes (each event lands in
    * two windows). */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n_events"), vsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))

  def slidingQuery(s: SparkSession, dir: String): DataFrame =
    sliding(Tables.events(s, dir)).orderBy(col("window_start"))

  /** B10: sessionization with a 30-minute inactivity gap — batch
    * formulation via gaps-and-islands (lag + running sum). The streaming
    * twin uses `session_window` (see [[sessionWindowStream]]). */
  def sessionsBatch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(byUser)
    // >= : an event at exactly lastTs+gap starts a NEW session, matching
    // session_window's half-open [start, last+gap) window semantics
    val flagged = events.withColumn("new_session",
      when(prev.isNull, 1)
        .when(col("ts") >= prev + expr("INTERVAL 30 MINUTES"), 1)
        .otherwise(0))
    flagged
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  def sessionsQuery(s: SparkSession, dir: String): DataFrame =
    sessionsBatch(Tables.events(s, dir))
      .orderBy(col("user_id"), col("session_seq"))

  /** B10 (r8): the concurrency curve — "how many sessions are open at
    * once", the capacity question every ops dashboard answers — as the
    * classic sweep line over [[sessionsBatch]] boundaries WITHOUT a
    * global sort: +1/−1 deltas net per instant (simultaneous starts and
    * ends cancel — the curve is measured BETWEEN instants, a total
    * convention needing no within-instant tie order), then the
    * distributed two-level prefix sum: a day-partitioned running sum
    * over instants plus a carry-in from the DAY axis (Σ of prior days'
    * nets = sessions still open at day start, so midnight-straddling
    * sessions are correct by construction). The only unpartitioned
    * window runs over the bounded day axis, never over instants — the
    * shape that survives 100 TB where the naive global-order running
    * sum is one reducer. Per day: open-at-start, the peak, the earliest
    * instant attaining it, and the boundary count — peak argmax total
    * via the (curve DESC, ts) min_by struct. */
  def concurrency(events: DataFrame): DataFrame =
    concurrencyOfSessions(sessionsBatch(events))

  /** Interval table → per-instant net boundary deltas (day, ts, net) —
    * the additive representation the sweep line runs on, and the form
    * frozen history is stored in by the streaming refresh (net rows
    * from disjoint interval sets just re-group by sum). Zero-net
    * instants (point sessions) are KEPT — the curve's boundary count
    * includes them. */
  private[graft] def sessionDeltas(s: DataFrame): DataFrame =
    s.select(col("session_start").as("ts"), lit(1L).as("d"))
      .unionAll(s.select(col("session_end").as("ts"), lit(-1L).as("d")))
      .withColumn("day", expr("unix_date(to_date(cast(ts as timestamp)))"))
      .groupBy(col("day"), col("ts")).agg(sum(col("d")).as("net"))

  /** [[concurrency]]'s sweep line over any (session_start, session_end)
    * interval table — the seam the streaming refresh twin feeds its
    * accumulated session state through. */
  private[graft] def concurrencyOfSessions(s: DataFrame): DataFrame =
    concurrencyOfDeltas(sessionDeltas(s))

  /** The sweep line over a pre-grouped (day, ts, net) delta table.
    * `base` (r10): the cumulative net of deltas COMPACTED AWAY below
    * this table's day range — a constant offset on the running curve
    * (and so on open_at_start/peak_concurrent; the in-day argmax that
    * picks peak_ts is shift-invariant), letting the streaming refresh
    * sweep only its un-compacted suffix. */
  private[graft] def concurrencyOfDeltas(deltas: DataFrame, base: Long = 0L): DataFrame = {
    val net = deltas
      .transform(Cut.eager) // feeds the in-day prefix AND the day totals
    // r9: the shared two-level device (graft.ops.Prefix.prefixSum2L)
    // replaces the hand-rolled in-day window + day carry; the global
    // (empty-part) bin axis is day-bounded by construction
    graft.ops.Prefix.prefixSum2L(net, Seq.empty, "day", Seq(col("ts")), Seq("net"))
      .withColumn("curve", col("run_net") + lit(base))
      .groupBy(col("day"))
      .agg((min(col("carry_net")) + lit(base)).as("open_at_start"),
        max(col("curve")).as("peak_concurrent"),
        min_by(col("ts"), struct((-col("curve")).as("nc"), col("ts"))).as("peak_ts"),
        count(lit(1)).as("n_boundaries"))
      .orderBy(col("day"))
  }

  def concurrencyQuery(s: SparkSession, dir: String): DataFrame =
    concurrency(Tables.events(s, dir))

  /** Re-merge a SET of per-user session intervals under the 30-minute
    * gap rule — gaps-and-islands with a RUNNING MAX end (intervals may
    * nest, so a lag(end) flag would split islands a longer earlier
    * interval still covers). The island closure of interval sets is
    * order-insensitive: merging per-batch session intervals of any
    * partition of the event set reproduces EXACTLY the sessions of the
    * full set — every two gap-adjacent events of a full session sit in
    * intervals whose boundaries are within the gap (boundaries ARE
    * event times), and intervals of different full sessions stay ≥ gap
    * apart — which is what makes the streaming fold below correct,
    * including RETROACTIVE merges when a late batch bridges two
    * previously separate sessions. */
  private def mergeSessionIntervals(iv: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("session_start"), col("session_end"))
    val runMax = max(col("session_end"))
      .over(byUser.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("new_grp",
        when(runMax.isNull, 1)
          .when(col("session_start") >= runMax + expr("INTERVAL 30 MINUTES"), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("new_grp"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("session_start")).as("session_start"),
        max(col("session_end")).as("session_end"))
      .select(col("user_id"), col("session_start"), col("session_end"))
  }

  /** B10 streaming twin (r8, state bounded r9): the concurrency
    * dashboard as a foreachBatch refresh — each micro-batch sessionizes
    * locally, its intervals fold into the per-user OPEN interval set,
    * and one gaps-and-islands re-merge restores the exact full-history
    * sessions (see [[mergeSessionIntervals]] for why the fold is exact,
    * including retroactive cross-batch session bridging — the case
    * watermark session windows handle by delaying emission, handled
    * here by keeping sessions revisable state).
    *
    * State bound (r8 VERDICT #5): the r8 version folded every batch
    * into the ALL-HISTORY interval set — state grew with the stream's
    * life. An interval can only ever change by absorbing an event
    * within 30 min of its span; under the stream's lateness contract
    * (events arrive no more than `allowedLateness` behind the max seen
    * event time) an interval whose end sits more than
    * lateness + 30 min behind the frontier is IMMUTABLE — so it is
    * evicted from the revisable set into a frozen (day, ts, net) DELTA
    * aggregate, the additive form the sweep line consumes directly
    * (freezing moves rows between the two inputs of one re-grouped sum,
    * so every trigger's curve stays bit-identical to [[concurrency]] on
    * the event prefix — StreamingSpec pins the bridge AND the
    * frozen-path equality).
    *
    * Day compaction (r10, VERDICT r9 #3): the frozen delta set used to
    * keep one row per distinct boundary instant FOREVER — bounded per
    * day, unbounded over stream life. The curve's output is day-grain,
    * so once a day can no longer receive ANY boundary its curve row is
    * final: a whole day compacts from its instants into (its finished
    * output row, its net total folded into a scalar carry). A day d is
    * compactable when d < the cutoff's day (no future event, which
    * arrives ≥ frontier − lateness > cutoff, can open a boundary there)
    * AND d < the day of the earliest still-open interval (a multi-day
    * session's start instant belongs to d until that interval freezes).
    * State = open intervals (frontier-window-bounded) + frozen instants
    * of the few un-finalized trailing days + ONE row per finished day —
    * never all distinct instants ever. Compacted rows and the carry are
    * frame-identical to the full sweep (the carry is a constant shift,
    * see [[concurrencyOfDeltas]]), so curve bit-identity is preserved —
    * StreamingSpec pins a multi-day replay. */
  final class SessionConcurrencyRefresh(allowedLateness: String = "1 hour",
      stateDir: Option[String] = None) {
    /** The WHOLE refresher state as one immutable snapshot swapped
      * atomically (r11, ADVICE r10: the old five volatile fields let a
      * `curve` call racing a compacting update observe the new
      * compacted+carry with the STALE frozen still holding the compacted
      * days' deltas — double-counting those days). Readers take one
      * reference; writers build the whole successor then swap. */
    private case class St(open: Option[DataFrame], frozen: Option[DataFrame],
        compacted: Option[DataFrame], carryNet: Long,
        frontier: Option[java.sql.Timestamp])
    @volatile private var st: St = St(None, None, None, 0L, None)
    private val ledger = new BatchLedger(stateDir)
    /** Open-interval state size — the boundedness hook the spec pins. */
    private[graft] def openCount: Long = st.open.map(_.count()).getOrElse(0L)
    private[graft] def frozenRows: Long = st.frozen.map(_.count()).getOrElse(0L)
    /** Finished-day rows — one per compacted day, the bounded tail. */
    private[graft] def compactedDays: Long = st.compacted.map(_.count()).getOrElse(0L)
    /** Restart recovery (r11, VERDICT r10 #2): load the latest committed
      * state snapshot — the state is BOUNDED by design (open window +
      * trailing-day instants + one row per finished day), so each trigger
      * persists it whole and recovery is one read. The re-delivered
      * in-flight batch then no-ops on the ledger's high-water mark. */
    def recover(s: SparkSession): this.type = synchronized {
      ledger.recovered.filterNot(_.compact).lastOption.foreach { c =>
        // EAGERLY materialize off the ledger parquet: a later trigger
        // that compacts no new day passes `compacted` through UNCHANGED
        // into the next state, and the per-trigger snapshot prune then
        // deletes the commit these frames would lazily re-read — the
        // served curve must never dangle on pruned files (r11
        // self-review; pinned by the intraday-triggers-after-restart
        // spec)
        def tbl(n: String): Option[DataFrame] =
          if (c.meta.get(s"has_$n").contains("1"))
            Some(ledger.read(s, n, c).transform(Cut.eager))
          else None
        val frontier = c.meta.get("frontier_ms").map { ms =>
          val t = new java.sql.Timestamp(ms.toLong)
          c.meta.get("frontier_ns").foreach(ns => t.setNanos(ns.toInt))
          t
        }
        st = St(tbl("open"), tbl("frozen"), tbl("compacted"),
          c.meta.getOrElse("carry", "0").toLong, frontier)
      }
      this
    }
    /** foreachBatch body: fold the micro-batch's session intervals into
      * the open set, evict immutable intervals into the frozen delta
      * aggregate, then compact finished days into final curve rows.
      * At-least-once safe: a re-delivered batchId is a no-op (r11). */
    def update(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (ledger.alreadyApplied(batchId)) return
      val prev = st
      // normalize the event-time column: parquet-backed events arrive as
      // TIMESTAMP_NTZ, MemoryStream fixtures as TIMESTAMP — the state
      // frontier/cutoff arithmetic below needs ONE type (a no-op cast on
      // already-TIMESTAMP inputs; wall time preserved under the pinned
      // UTC session) (r11, surfaced by the b10_stream_concurrency gate)
      val b = sessionsBatch(batch.withColumn("ts", col("ts").cast("timestamp")))
        .select(col("user_id"), col("session_start"), col("session_end"))
        .transform(Cut.eager) // consumed by the merge and the frontier max
      val merged = prev.open match {
        case Some(a) => mergeSessionIntervals(a.unionByName(b))
        case None => b
      }
      val bMax = b.agg(max(col("session_end"))).head().getTimestamp(0)
      val frontier = (prev.frontier.toSeq ++ Option(bMax)).reduceOption((x, y) =>
        if (x.after(y)) x else y)
      val cutoff = frontier.map(f => new java.sql.Timestamp(
        f.getTime - intervalMs(allowedLateness) - 30L * 60 * 1000))
      val all = merged.transform(Cut.eager)
      val immutable = cutoff.map(c => all.where(col("session_end") < lit(c)))
        .getOrElse(all.limit(0))
      val newFrozen = prev.frozen match {
        case Some(fz) => fz.unionByName(sessionDeltas(immutable))
          .groupBy(col("day"), col("ts")).agg(sum(col("net")).as("net"))
        case None => sessionDeltas(immutable)
      }
      val newOpen = cutoff.map(c => all.where(!(col("session_end") < lit(c))))
        .getOrElse(all).transform(Cut.eager)
      // ---- day compaction: finalize every day no future boundary can
      // reach. Day grain is computed with the SAME expression the delta
      // rows use (unix_date over the session-timezone date), via one-row
      // Spark evaluations, so the threshold and the data can never
      // disagree on a timezone edge.
      val s = batch.sparkSession
      def dayOf(t: java.sql.Timestamp): Long =
        s.range(1).select(unix_date(to_date(lit(t)))).head().getInt(0).toLong
      val openMinDay = newOpen.agg(min(unix_date(to_date(col("session_start")))))
        .head() match { case r if r.isNullAt(0) => None; case r => Some(r.getInt(0).toLong) }
      val finalizeBefore = (cutoff.map(dayOf).toSeq ++ openMinDay).reduceOption(_ min _)
      val (keep, doneRows, doneNet) = finalizeBefore match {
        case Some(d) =>
          val fz = newFrozen.transform(Cut.eager)
          val toCompact = fz.where(col("day") < lit(d))
          if (toCompact.isEmpty) (fz, None, 0L)
          else (
            fz.where(col("day") >= lit(d)).transform(Cut.eager),
            Some(concurrencyOfDeltas(toCompact, prev.carryNet).transform(Cut.eager)),
            toCompact.agg(sum(col("net"))).head().getLong(0))
        case None => (newFrozen.transform(Cut.eager), None, 0L)
      }
      val next = doneRows match {
        case Some(dr) => St(Some(newOpen), Some(keep),
          Some(prev.compacted.map(_.unionByName(dr).transform(Cut.eager)).getOrElse(dr)),
          prev.carryNet + doneNet, frontier)
        case None => St(Some(newOpen), Some(keep), prev.compacted,
          prev.carryNet, frontier)
      }
      // durable publish BEFORE the in-JVM swap: a crash mid-persist leaves
      // no marker, so the re-delivered batch re-applies onto the PREVIOUS
      // committed state — exactly-once net effect either way
      val writes = Seq("open" -> next.open, "frozen" -> next.frozen,
        "compacted" -> next.compacted).collect { case (n, Some(df)) => n -> df }
      val meta = Map("carry" -> next.carryNet.toString) ++
        writes.map { case (n, _) => s"has_$n" -> "1" } ++
        next.frontier.toSeq.flatMap(f => Seq(
          "frontier_ms" -> f.getTime.toString, "frontier_ns" -> f.getNanos.toString))
      ledger.commit(batchId, writes, meta)
      ledger.pruneSnapshotsBelow(batchId)
      st = next
    }
    /** Latest concurrency curve (None before the first batch): finished
      * days' final rows ∪ the sweep line over the carry-offset frozen ∪
      * open deltas, re-grouped (an instant can straddle frozen and open
      * when an open interval starts before the cutoff). Reads ONE atomic
      * state snapshot — never a torn mix of generations. */
    def curve: Option[DataFrame] = {
      val cur = st
      cur.open.map { o =>
        val deltas = cur.frozen match {
          case Some(fz) => fz.unionByName(sessionDeltas(o))
            .groupBy(col("day"), col("ts")).agg(sum(col("net")).as("net"))
          case None => sessionDeltas(o)
        }
        val recent = concurrencyOfDeltas(deltas, cur.carryNet)
        cur.compacted.map(_.unionByName(recent)).getOrElse(recent)
          .orderBy(col("day"))
      }
    }
  }

  /** "1 hour" / "30 minutes" → millis (the tiny subset the refreshers
    * use; CalendarInterval would drag timezone semantics in for two
    * fixed-length units). */
  private def intervalMs(spec: String): Long = spec.trim.split("\\s+") match {
    case Array(n, u) if u.toLowerCase.startsWith("hour") => n.toLong * 3600 * 1000
    case Array(n, u) if u.toLowerCase.startsWith("min") => n.toLong * 60 * 1000
    case Array(n, u) if u.toLowerCase.startsWith("sec") => n.toLong * 1000
    case _ => throw new IllegalArgumentException(s"unsupported interval: $spec")
  }

  /** B10: trailing-window spike detection — flag events whose value
    * exceeds twice the mean of the user's previous ≤10 events (needing at
    * least 5 of history). The anomaly test is DIVISION-FREE exact decimal
    * (`value · n > 2 · Σtrail` instead of `value > 2 · Σtrail/n`), so the
    * whole operator hash-gates cross-engine; the trailing frame is a ROWS
    * frame (count-based), deterministic under the (ts, event_id) total
    * order and immune to interval-arithmetic edge cases at nano
    * resolution. Streaming twin: [[rollingAnomalyStream]], a per-user
    * bounded deque — batch and stream share this flag definition. */
  def rollingAnomaly(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-10, -1)
    val dec = col("value").cast("decimal(12,2)").cast(Dec)
    events
      .withColumn("trail_n", count(col("value")).over(w))
      .withColumn("trail_sum", sum(dec).over(w))
      .filter(col("trail_n") >= 5 && dec * col("trail_n") > col("trail_sum") * lit(2))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("trail_n"), col("trail_sum").cast("double").as("trail_sum"))
  }

  def rollingAnomalyQuery(s: SparkSession, dir: String): DataFrame =
    rollingAnomaly(Tables.events(s, dir)).orderBy(col("event_id"))

  // ------------------------------------------------- streaming-only pieces

  /** B10: watermarked tumbling aggregation for a real stream — late events
    * beyond 10 minutes are dropped; append-mode emits finalized windows. */
  def tumblingStream(events: DataFrame): DataFrame =
    tumbling(events.withWatermark("ts", "10 minutes"))

  /** B10: stateful streaming dedup bounded by the watermark. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** B10 × B12: streaming near-dup suppression by content sketch — the
    * per-row [[graft.functions.SimHash64]] expression makes the sketch a
    * stateless projection, so sketch-dedup composes with
    * `dropDuplicatesWithinWatermark` exactly like key-dedup: state is one
    * (sketch, watermark) entry per distinct sketch, no aggregation. Docs
    * whose token MULTISETS match (simhash is order-invariant) dedup even
    * when their byte strings differ — the streaming counterpart of the
    * batch exact/near-dup path, with bounded state. Expects (ts, doc_id,
    * text) rows. */
  def sketchDedupStream(docs: DataFrame): DataFrame =
    docs.withColumn("simhash", graft.functions.SimHash64(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("simhash")

  /** B10 × B14 (r7): streaming IMAGE dedup by perceptual hash — the
    * multimodal twin of [[sketchDedupStream]]: each arriving asset's
    * payload decodes partition-locally (real PNG/JPEG codec) to the
    * 63-bit [[graft.multimodal.Multimodal.imageDHash]], then
    * `dropDuplicatesWithinWatermark(dhash)` keeps the first asset per
    * perceptual hash with one bounded state entry per distinct hash —
    * re-encoded or metadata-tweaked copies of the same pixels dedup even
    * though their byte payloads differ. Expects (ts, asset_id, payload)
    * rows; undecodable payloads hash to −1 and dedup among themselves
    * (route to quarantine in production). */
  def imageDedupStream(assets: DataFrame): DataFrame = {
    val dhash = udf { (payload: Array[Byte]) =>
      graft.multimodal.Multimodal.decodeImage(payload)
        .map(graft.multimodal.Multimodal.imageDHash).getOrElse(-1L)
    }
    assets.withColumn("dhash", dhash(col("payload")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("dhash")
  }

  /** B10 × B12: streaming near-dup PAIR EMISSION — the streaming twin of
    * the batch [[graft.dedup.Dedup.minHashNearDup]] plan, completing the
    * B12 streaming story beyond suppression ([[sketchDedupStream]]):
    * per-row [[graft.functions.MinHashSig]] signatures (scan-side,
    * stateless), LSH band explode, and a band-bucket stream-stream
    * SELF-join bounded by the watermark horizon. The (band_idx,
    * band_hash) bucket is the equi key — identical to the batch
    * candidate join (the hash array is literally shared via
    * `Dedup.bandHashArray`) — and the two-sided time bound plus per-side
    * watermarks let Spark evict join state instead of buffering the
    * stream forever, exactly like [[clickAttribution]].
    *
    * Exact verification is PER-ROW array algebra: each side carries its
    * distinct shingle-hash set through the join, so Jaccard is
    * `|intersect| / |union|` computed on the matched row — no second
    * join, no aggregation, and numerically identical to the batch
    * `verifyJaccard` (both count distinct xxhash64 shingle hashes).
    * A colliding pair fires in up to 16 bands → a final watermarked
    * stateful dedup on (a, b) collapses them, mirroring the batch
    * `distinct()`. Emitted pairs within the horizon match the batch
    * pipeline's pairs on the same data (StreamingSpec). Expects
    * (ts, doc_id, text) rows. */
  def nearDupPairsStream(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
                         horizon: String = "10 minutes"): DataFrame = {
    val shset = expr(s"array_distinct(transform(sequence(1, size(toks) - ${k - 1}), " +
      s"i -> xxhash64(array_join(slice(toks, i, $k), ' '))))")
    val sigs = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= k)
      .select(col("ts"), col("doc_id"), shset.as("shset"),
        graft.functions.MinHashSig(col("text"), k, 64).as("sig"))
      .filter(col("sig").isNotNull)
    val bands = sigs.select(col("ts"), col("doc_id"), col("shset"),
        posexplode(graft.dedup.Dedup.bandHashArray(col("sig"))))
      .toDF("ts", "doc_id", "shset", "band_idx", "band_hash")
    val left = bands.select(col("ts").as("ts_a"), col("doc_id").as("a"),
        col("shset").as("sh_a"), col("band_idx"), col("band_hash"))
      .withWatermark("ts_a", horizon)
    val right = bands.select(col("ts").as("ts_b"), col("doc_id").as("b"),
        col("shset").as("sh_b"), col("band_idx").as("bi"), col("band_hash").as("bh"))
      .withWatermark("ts_b", horizon)
    val joined = left.join(right,
      col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
        col("a") < col("b") &&
        col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizon") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizon"))
    // ts_a keeps its EVENT-TIME metadata through the projection, so the
    // downstream stateful dedup rides the join's existing watermark —
    // redefining a watermark between stateful operators is disallowed
    val verified = joined.select(
        col("ts_a"), col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
    verified.dropDuplicatesWithinWatermark("a", "b")
  }

  /** B10: native session windows (streaming twin of [[sessionsBatch]]). */
  def sessionWindowStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** B10: stream-stream interval join — attribute each purchase to every
    * click by the same user in the preceding 30 minutes. The same plan
    * serves batch and streaming: `withWatermark` is a no-op on a batch
    * DataFrame, and in streaming the two watermarks plus the two-sided
    * time bound (`click_ts <= purchase_ts < click_ts + 30min`) let Spark
    * evict join state on both sides instead of buffering the streams
    * forever. The equi-key (`user_id`) keeps the shuffle an equi-join at
    * scale; the range is a post-filter within the matched key. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    p.join(c, expr("""c_user = user_id AND
        purchase_ts >= click_ts AND
        purchase_ts < click_ts + INTERVAL 30 MINUTES"""))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  def clickAttributionQuery(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    clickAttribution(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** B10: stream-static enrichment join — each micro-batch joins against a
    * fresh snapshot of the static (batch) side, so dimension updates are
    * picked up between batches with no streaming state at all. Broadcast
    * hint: dimensions are the small side; the stream never shuffles. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left_outer")

  // ---- custom state: flatMapGroupsWithState (B10)

  case class SEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double)
  case class SessionState(seq: Long, start: Long, last: Long, n: Long)
  case class SessionSummary(user_id: Long, session_seq: Long,
                            session_start: java.sql.Timestamp,
                            session_end: java.sql.Timestamp, n_events: Long)

  /** B10: sessionization with CUSTOM state — the
    * `flatMapGroupsWithState` path for logic `session_window` can't
    * express (here: per-user dense session sequence numbers carried across
    * sessions). Closed sessions emit when the gap passes inside a batch;
    * the final open session emits via event-time timeout once the
    * watermark passes `last + gap`. After a timeout close the state keeps
    * an idle `(seq, n=0)` marker with NO timeout registered, so the
    * sequence continues when the user returns. State per user is O(1)
    * (four fixed fields) and retained per distinct user — the price of a
    * cross-session counter; cap the key space upstream if users are
    * unbounded.
    *
    * Session-boundary semantics match [[sessionsBatch]]: an event at
    * exactly `last + gap` starts a NEW session (half-open windows). */
  def statefulSessions(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[SEvent]
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionizer(gapMinutes * 60000L))
  }

  private def sessionizer(gapMs: Long)(
      userId: Long, events: Iterator[SEvent],
      state: org.apache.spark.sql.streaming.GroupState[SessionState]): Iterator[SessionSummary] = {
    def summary(s: SessionState) = SessionSummary(userId, s.seq,
      new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n)
    if (state.hasTimedOut) {
      val s = state.get
      // keep an idle marker (n=0) with no timeout: the per-user sequence
      // number survives the close, so the next session numbers seq+1
      state.update(SessionState(s.seq, 0L, 0L, 0L))
      Iterator.single(summary(s))
    } else {
      // micro-batches deliver unordered; session logic needs time order
      val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[SessionSummary]
      // n == 0 is the idle marker: no open session, seq = last used
      var cur = state.getOption.filter(_.n > 0)
      var lastSeq = state.getOption.map(_.seq).getOrElse(0L)
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t >= s.last + gapMs =>
            out += summary(s)
            lastSeq = s.seq
            cur = Some(SessionState(s.seq + 1, t, t, 1))
          case Some(s) =>
            // a late-but-valid event can predate the open session's start
            // (cross-batch): extend BOTH ends, matching sessionsBatch
            cur = Some(s.copy(start = math.min(s.start, t),
              last = math.max(s.last, t), n = s.n + 1))
          case None =>
            cur = Some(SessionState(lastSeq + 1, t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last + gapMs)
      }
      out.result().iterator
    }
  }

  /** Per-user state of [[userFold]]: the operator's own step state plus
    * the events still waiting for the watermark. */
  case class Buffered[S](s: S, buf: Seq[SEvent])

  /** B10: the per-user event-order fold behind the grouped-state operators
    * below, the streaming form of their batch twins' per-user
    * `(ts, event_id)` windows. Each user's events go through `step` in
    * `(t, event_id)` order (`t` = `ts` in epoch millis), and every `Some`
    * a step returns is emitted (Update mode).
    *
    * `disorder = None`: no watermark, no timeout, and nothing buffered.
    * Each micro-batch's slice is sorted and folded as it arrives, so the
    * fold is in event order exactly when arrival is: an event that
    * arrives a batch after a later one folds after it.
    *
    * `disorder = Some(d)`: the watermark buffer, exact under any arrival
    * whose disorder stays within `d`.
    *  - Ripe means `t <= watermark`. Every later trigger drops the input
    *    rows at or below the watermark this trigger sees, and the
    *    watermark never falls, so nothing that sorts before a ripe event
    *    can still arrive: folding the ripe events in order, after all
    *    folded before them, gives the batch order (at the millisecond
    *    resolution of `t`; rows later than `d` are dropped by that rule).
    *  - The rest stay pending, and the group's event-time timeout is set
    *    to the minimum pending `t`. Every pending `t` is above the
    *    watermark, so it is a legal timeout (Spark rejects one below the
    *    watermark). It fires once the watermark passes that `t`, when the
    *    event is ripe, so a user who goes quiet still gets folded.
    *  - State is the step state plus the pending events, which all lie
    *    within `d` (and one trigger's lag) of the newest event time seen:
    *    O(the user's event rate × `d`), not the stream length. `done(s)`
    *    (the funnel's completed chain) drops the pending events, since no
    *    later event can change `s`.
    *
    * Without `disorder` no watermark is defined and asking a group for it
    * throws, so that mode never does. */
  private def userFold[S: TypeTag, O <: Product : TypeTag](events: DataFrame,
      disorder: Option[String], init: S)(step: (S, SEvent) => (S, Option[O]),
      done: S => Boolean = (_: S) => false): Dataset[O] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val evs = events.select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[SEvent]
    val timeout =
      if (disorder.isEmpty) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    disorder.fold(evs)(evs.withWatermark("ts", _))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, timeout) {
        (_: Long, in: Iterator[SEvent], state: GroupState[Buffered[S]]) =>
          val st = state.getOption.getOrElse(Buffered(init, Seq.empty))
          val wm = disorder.map(_ => state.getCurrentWatermarkMs())
          val (next, out, timeoutAt) = foldGroup(st, in.toSeq, wm)(step, done)
          state.update(next)
          timeoutAt.foreach(state.setTimeoutTimestamp)
          out.iterator
      }
  }

  /** One group call of [[userFold]], free of Spark: folds the ripe events
    * of `st.buf ++ incoming` (all of them when `wm` is None) and returns
    * the next state, the emitted rows, and the event-time timeout to set
    * (the minimum pending `t`; None when nothing is pending). */
  private[streaming] def foldGroup[S, O](st: Buffered[S], incoming: Seq[SEvent], wm: Option[Long])(
      step: (S, SEvent) => (S, Option[O]), done: S => Boolean): (Buffered[S], Seq[O], Option[Long]) = {
    val all = st.buf ++ incoming
    val (ripe, pending) = wm.fold((all, Seq.empty[SEvent]))(w => all.partition(_.ts.getTime <= w))
    val out = Seq.newBuilder[O]
    val s = ripe.sortBy(e => (e.ts.getTime, e.event_id)).foldLeft(st.s) { (s, e) =>
      val (next, o) = step(s, e)
      out ++= o
      next
    }
    val keep = if (done(s)) Seq.empty else pending
    (Buffered(s, keep), out.result(), keep.map(_.ts.getTime).minOption)
  }

  case class FunnelState(stepIdx: Int, t: Long)
  case class FunnelProgress(user_id: Long, step_idx: Int, step: String,
                            reached_at: java.sql.Timestamp)

  /** B10: streaming funnel, the twin of [[graft.ops.EventAnalytics.funnel]].
    * An event advances the chain iff it is the NEXT step's type strictly
    * after the previous step's time, so the event-order fold takes the
    * first qualifying occurrence of each step: the batch twin's
    * earliest-qualifying chain (spec-pinned). One progress row per
    * advance. State per user is O(1): steps completed and the last one's
    * time. Exact under in-order arrival only: a qualifying event that
    * arrives late cannot retro-advance the chain ([[funnelStreamOrdered]]
    * can). */
  def funnelStream(events: DataFrame,
      steps: Seq[String] = Seq("signup", "view", "click", "purchase")): Dataset[FunnelProgress] =
    funnel(events, steps, None)

  /** B10: [[funnelStream]] behind [[userFold]]'s watermark buffer: equals
    * the batch twin under any arrival order with disorder within
    * `disorder`, emitting one watermark horizon late. State is the O(1)
    * chain plus the in-horizon events, and a completed chain drops its
    * buffer for good. */
  def funnelStreamOrdered(events: DataFrame,
      steps: Seq[String] = Seq("signup", "view", "click", "purchase"),
      disorder: String = "10 minutes"): Dataset[FunnelProgress] =
    funnel(events, steps, Some(disorder))

  private def funnel(events: DataFrame, steps: Seq[String],
      disorder: Option[String]): Dataset[FunnelProgress] = {
    val stepArr = steps.toArray
    userFold(events, disorder, FunnelState(0, Long.MinValue))(
      funnelStep(stepArr), _.stepIdx >= stepArr.length)
  }

  private[streaming] def funnelStep(steps: Array[String])(
      s: FunnelState, e: SEvent): (FunnelState, Option[FunnelProgress]) = {
    val t = e.ts.getTime
    if (s.stepIdx < steps.length && e.event_type == steps(s.stepIdx) &&
        (s.stepIdx == 0 || t > s.t))
      (FunnelState(s.stepIdx + 1, t), Some(FunnelProgress(e.user_id, s.stepIdx + 1,
        steps(s.stepIdx), new java.sql.Timestamp(t))))
    else (s, None)
  }

  case class AnomalyHit(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      value: Double, trail_n: Long, trail_sum: Double)

  /** B10: streaming twin of [[rollingAnomaly]]. State per user is the
    * last ≤10 values as EXACT CENTS (a bounded deque, O(1)), mirroring the
    * batch ROWS frame; the spike test is the identical division-free
    * integer comparison. Values quantize with the same HALF_UP
    * double→DECIMAL(12,2) rounding Spark's cast applies, so under
    * in-order arrival the emitted rows equal the batch operator's
    * (spec-pinned). */
  def rollingAnomalyStream(events: DataFrame): Dataset[AnomalyHit] =
    userFold(events, None, Seq.empty[Long]) { (trail, e) =>
      val c = new java.math.BigDecimal(e.value)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
      val n = trail.length
      ((trail :+ c).takeRight(10), Option.when(n >= 5 && c * n > 2 * trail.sum)(
        AnomalyHit(e.event_id, e.user_id, e.ts, e.value, n, trail.sum / 100.0)))
    }

  case class Transition(user_id: Long, prev_type: String, event_type: String)

  /** B10: streaming transitions, the twin of
    * [[graft.ops.EventAnalytics.transitions]]: one (prev_type,
    * event_type) row per adjacency, chained across batches through the
    * stored previous event type (O(1) state). Under in-order arrival the
    * emitted multiset equals the batch lag window's pairs (spec-pinned);
    * downstream aggregation (the count matrix) composes as a streaming
    * groupBy or a foreachBatch merge. */
  def transitionsStream(events: DataFrame): Dataset[Transition] =
    transitions(events, None)

  /** B10: [[transitionsStream]] behind [[userFold]]'s watermark buffer:
    * the pair multiset equals the batch lag window's under any arrival
    * with disorder within `disorder`. State: the previous type plus the
    * in-horizon events. */
  def transitionsStreamOrdered(events: DataFrame,
      disorder: String = "10 minutes"): Dataset[Transition] =
    transitions(events, Some(disorder))

  private def transitions(events: DataFrame, disorder: Option[String]): Dataset[Transition] =
    userFold(events, disorder, Option.empty[String]) { (prev, e) =>
      (Some(e.event_type), prev.map(Transition(e.user_id, _, e.event_type)))
    }

  case class PathHit(user_id: Long, path: String)

  /** B10: streaming 3-step paths, the twin of
    * [[graft.ops.EventAnalytics.topPaths]]'s window, behind
    * [[userFold]]'s watermark buffer: one hit per completed 3-gram,
    * chained through the stored last two event types, so downstream
    * `groupBy(path).count` equals the batch path counts under any
    * arrival with disorder within `disorder` (spec-pinned). State: two
    * types plus the in-horizon events. */
  def pathsStream(events: DataFrame, disorder: String = "10 minutes"): Dataset[PathHit] =
    userFold(events, Some(disorder), Seq.empty[String]) { (last2, e) =>
      ((last2 :+ e.event_type).takeRight(2), Option.when(last2.size == 2)(
        PathHit(e.user_id, s"${last2(0)}>${last2(1)}>${e.event_type}")))
    }

  /** Retention step state; `cohortDay` Int.MinValue = no cohort yet. */
  case class RetentionState(cohortDay: Int, offsets: Seq[Int])
  case class RetentionHit(user_id: Long, cohort_day: java.time.LocalDate, day_offset: Int)

  /** B10: streaming cohort retention, the twin of
    * [[graft.ops.EventAnalytics.retention]]. The cohort day is the first
    * activity day folded; each event emits one (user, cohort_day,
    * day_offset) hit the FIRST time that offset is reached, so downstream
    * `groupBy(cohort_day, day_offset).count` IS the retention triangle —
    * the batch plan's per-user `distinct()` becomes per-key state. State
    * is O(min(active days, maxOffsetDays)) ints per user; offsets past
    * the horizon are ignored. Days are UTC epoch days, identical to
    * `to_date(ts)` under the session's pinned UTC. Exact under in-order
    * arrival (spec-pinned); a late first event would re-anchor the
    * cohort, which [[retentionStreamOrdered]] handles. */
  def retentionStream(events: DataFrame, maxOffsetDays: Int = 365): Dataset[RetentionHit] =
    retention(events, maxOffsetDays, None)

  /** B10: [[retentionStream]] behind [[userFold]]'s watermark buffer: the
    * earliest in-horizon event folds first, so the cohort day, and with
    * it the emitted hit set, equals the batch pipeline's under any arrival
    * with disorder within `disorder`. State: the retention state plus the
    * in-horizon events. */
  def retentionStreamOrdered(events: DataFrame, maxOffsetDays: Int = 365,
      disorder: String = "10 minutes"): Dataset[RetentionHit] =
    retention(events, maxOffsetDays, Some(disorder))

  private def retention(events: DataFrame, maxOffsetDays: Int,
      disorder: Option[String]): Dataset[RetentionHit] =
    userFold(events, disorder, RetentionState(Int.MinValue, Seq.empty)) { (s, e) =>
      val day = Math.floorDiv(e.ts.getTime, 86400000L).toInt
      val cohort = if (s.cohortDay == Int.MinValue) day else s.cohortDay
      val off = day - cohort
      if (off >= 0 && off <= maxOffsetDays && !s.offsets.contains(off))
        (RetentionState(cohort, s.offsets :+ off),
          Some(RetentionHit(e.user_id, java.time.LocalDate.ofEpochDay(cohort.toLong), off)))
      else (s.copy(cohortDay = cohort), None)
    }

  /** B10 + A21: incremental harvest as a streaming sink. Each trigger
    * runs the batch job's own core ([[graft.harvest.HarvestJob]]) on its
    * micro-batch against the store, so it leaves the store exactly where
    * the batch job would after harvesting the same page prefix.
    *
    * Ids: when batches arrive in URI-sorted order (the reference's
    * paginated ORDER BY delivery, harvest.py:96) the streamed store is
    * BIT-IDENTICAL to `HarvestJob.run` on the concatenated bindings,
    * surrogate ids included — gated by `b10_stream_harvest` and pinned
    * in StreamingSpec. Out-of-order arrival keeps content parity and id
    * density but, like the reference's AUTOINCREMENT under re-ordered
    * pages, assigns ids in arrival order ([[renumberHarvestStore]]
    * restores batch ids).
    *
    * Re-delivery: the at-least-once marker `_last_batch` commits AFTER
    * both table swaps, so a re-delivered committed batch skips without
    * reading the store, and a batch re-applied after a crash in between
    * is a content no-op (its terms are already merged, its fields
    * already present).
    *
    * Fencing: each trigger claims a store epoch (see below); a trigger
    * that a newer writer has superseded throws before it mutates a
    * shared path, and its staging dirs are tagged with its epoch. */
  def harvestSink(storeDir: String, asOf: java.sql.Timestamp,
      meltVars: Seq[String] = Seq("prefLabel", "altLabel", "definition"))(
      batch: DataFrame, batchId: Long): Unit =
    harvestSink(storeDir, asOf, meltVars, () => ())(batch, batchId)

  /** `beforeSwap` runs ahead of each table swap's owner check, in the
    * window after the merge where a successor's claim must still fence
    * the trigger; tests use it to inject that claim. */
  private[streaming] def harvestSink(storeDir: String, asOf: java.sql.Timestamp,
      meltVars: Seq[String], beforeSwap: () => Unit)(
      batch: DataFrame, batchId: Long): Unit = {
    // at-least-once guard (r11, VERDICT r10 #1), durable in the store dir
    // itself: a re-delivery after a clean commit skips without re-reading
    // the store
    val marker = new java.io.File(storeDir, "_last_batch")
    val last =
      if (marker.exists())
        scala.util.Try(new String(java.nio.file.Files.readAllBytes(marker.toPath),
          "UTF-8").trim.toLong).getOrElse(-1L)
      else -1L
    if (batchId <= last) return
    // ZOMBIE-WRITER FENCING for the store itself (r12 — the BatchLedger
    // discipline, brought to the fourth sink family: the other sinks
    // fence through their ledger, but the harvest store IS this sink's
    // ledger, so the claims live next to the data in `_epochs/`, managed
    // by the SAME [[EpochClaims]] idiom the ledger uses — one fencing
    // implementation, not two drifting copies). Each trigger claims a
    // store epoch create-exclusively (claim NAME is the arbiter; body =
    // batchId, diagnostic); the fence is re-checked by Store.writeTable
    // at EVERY shared-path mutation boundary — with rollback, so a stale
    // driver that had already retired a newer table puts it BACK — and
    // once more before the marker. The irreducible residue (a JVM
    // stalled inside one ms-wide metadata gap while a successor claims
    // AND completes a whole write) re-converges on the successor's next
    // trigger by content-idempotence; at lakehouse scale this fence is
    // the commit-owner service's job.
    val epochs = new java.io.File(storeDir, "_epochs")
    val epoch = EpochClaims.claim(epochs, batchId.toString)
    def requireOwner(): Unit = {
      val n = EpochClaims.newest(epochs)
      if (n > epoch) throw new IllegalStateException(
        s"harvest store fenced: epoch $epoch superseded by $n at $storeDir — " +
          "a newer writer owns this store (zombie driver)")
    }
    val spark = batch.sparkSession
    // A21 — staged atomic swaps, the fence re-checked (with rollback) at
    // every shared-path mutation inside writeTable, then the idempotence
    // marker last
    graft.harvest.HarvestJob.harvest(batch, storeDir, asOf, meltVars, None,
      (df, name) => {
        beforeSwap()
        requireOwner()
        graft.harvest.Store.writeTable(df, storeDir, name, s".e$epoch", requireOwner _)
      })
    requireOwner()
    val tmp = new java.io.File(storeDir, "._last_batch.tmp")
    java.nio.file.Files.write(tmp.toPath, batchId.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, marker.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // retention: claims below the committed epoch are superseded forever;
    // so are CRASHED writers' epoch-tagged staging dirs (r12, second
    // self-review pass: a trigger that dies between its staging write
    // and the swap leaves `_staging_<table>.e<k>` behind, and no future
    // writer reuses that name — unswept, every crash leaks a full table
    // copy into the store). A lower-epoch staging can only belong to a
    // fenced zombie: deleting it under a still-running zombie at worst
    // fails that zombie's write, which is the fence outcome anyway. The
    // batch job's bare `_staging_<table>` (no tag) is never touched.
    Option(epochs.listFiles()).getOrElse(Array.empty)
      .filter(f => scala.util.Try(f.getName.toLong).toOption.exists(_ < epoch))
      .foreach(_.delete())
    val staleStaging = "^_staging_.+\\.e(\\d+)$".r
    // Hadoop FileSystem, not java.io.File (r13 ADVICE): writeTable itself
    // stages through the FileSystem API, so on a non-local store a
    // java.io.File listing would silently no-op and crashed writers'
    // staging dirs would leak after all. (The epoch-claim fencing above
    // DOES assume a local, hard-link-capable store filesystem —
    // EpochClaims arbitrates by create-exclusive hard links; at lakehouse
    // scale the fence is the commit-owner service's job, per the
    // BatchLedger trust note.)
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val storeFs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exists-guard (r14 ADVICE): the java.io.File#listFiles path this
    // replaced was null-tolerant when the store dir didn't exist yet
    // (sweep racing ahead of writeTable's first create); listStatus
    // throws FileNotFoundException there, so keep the deliberate no-op.
    val storeEntries =
      if (storeFs.exists(storePath)) storeFs.listStatus(storePath)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    storeEntries.foreach { st =>
      st.getPath.getName match {
        case staleStaging(e) if e.toLong < epoch =>
          scala.util.Try(storeFs.delete(st.getPath, true)); ()
        case _ => ()
      }
    }
  }

  /** Optional ORDER-INSENSITIVE id mode for the streamed harvest (r13,
    * VERDICT r12 #4): a compaction-time URI-sorted renumber — the A12
    * surrogate discipline applied to the accumulated store — restoring
    * BIT-parity with the one-shot batch job under ARBITRARY delivery
    * order. The sink's default stays arrival-order ids (the reference's
    * AUTOINCREMENT-under-reordered-pages semantics, stated in the
    * harvestSink scaladoc); run this on the compaction cadence when id
    * stability across delivery orders matters (a downstream diff against
    * a batch-built store, a re-harvest reconciliation). Terms renumber
    * dense by uri; term_fields remap the FK and renumber dense by the
    * A15 key — exactly the ids the batch job assigns — with all
    * timestamps preserved per natural key. Both tables swap through the
    * A21 staged writer; inputs are eagerly cut first (the swap deletes
    * the files they read). Like the batch job — and unlike the sink —
    * this takes NO store-epoch claim, so quiesce the streaming query
    * before running it (the compaction-window discipline); a renumber
    * racing a live trigger would interleave two unfenced writers.
    * Pinned in StreamingSpec: shuffled delivery + renumber ==
    * HarvestJob.run bit-for-bit, both tables. */
  def renumberHarvestStore(spark: SparkSession, storeDir: String): Unit = {
    val terms = graft.harvest.Store.readTableOr(
      spark, storeDir, "terms", graft.harvest.Schemas.terms).transform(Cut.eager)
    val fields = graft.harvest.Store.readTableOr(
      spark, storeDir, "term_fields", graft.harvest.Schemas.termFields)
      .transform(Cut.eager)
    val newTerms = graft.harvest.Merge.assignIds(terms.drop("id"), Seq("uri"), 1L)
      .transform(Cut.eager)
    val mapped = fields.drop("id")
      .join(terms.select(col("id").as("term_id"), col("uri")), Seq("term_id"))
      .drop("term_id")
      .join(newTerms.select(col("id").as("term_id"), col("uri")), Seq("uri"))
      .drop("uri")
    val newFields = graft.harvest.Merge.assignIds(
        mapped, Seq("term_id", "field_uri", "original_value"), 1L)
      .select(col("id"), col("term_id"), col("field_uri"), col("field_term"),
        col("original_value"), col("created_at"), col("updated_at"))
      .transform(Cut.eager)
    graft.harvest.Store.writeTable(newTerms, storeDir, "terms")
    graft.harvest.Store.writeTable(newFields, storeDir, "term_fields")
  }

  /** w08 streaming twin (r7, r6-verdict #8): iterative graph algorithms
    * cannot run INSIDE a streaming dataflow — a fixed-point loop is not
    * a streaming operator (there is no cross-key iteration within a
    * trigger: each round's contributions traverse edges, i.e. cross
    * grouping keys, so `flatMapGroupsWithState` cannot express it). The
    * graph family therefore gets the OTHER production pattern, the
    * foreachBatch REFRESH: edge micro-batches accumulate into the
    * distinct edge set (per-batch lineage cut via eager checkpoint),
    * and each trigger recomputes personalized PageRank over the
    * graph-so-far with the exact batch kernel
    * ([[graft.ops.WorkflowQueries.personalizedPageRankEdges]]). Every
    * emitted snapshot is therefore bit-identical to the batch query on
    * the same edge prefix, and after the final batch streamed == batch
    * exactly — both pinned in StreamingSpec. At 100 TB the accumulated
    * edge set is a bucketed table and the refresh runs per trigger
    * cadence; incremental PPR maintenance (residual push à la
    * Andersen-Chung-Lang) would trade the exactness gate for per-edge
    * work and is deliberately not the declared semantics. */
  final class PprRefresh(stateDir: Option[String] = None)
      extends DeltaFold(stateDir, "edges") {
    protected def delta(batch: DataFrame): DataFrame =
      batch.select(col("u"), col("v")).distinct()
    protected def combine(u: DataFrame): DataFrame = u.distinct()
    override protected def view(edges: DataFrame): DataFrame =
      graft.ops.WorkflowQueries.personalizedPageRankEdges(edges)
    /** Latest ranks snapshot (None before the first batch). */
    def ranks: Option[DataFrame] = snapshot
  }

  /** B10 streaming twin (r7): the DAU/WAU dashboard as a foreachBatch
    * refresh. A single streaming dataflow cannot serve BOTH aggregates —
    * DAU and WAU count DIFFERENT distinct sets ((user, day) vs the
    * 7-day-explode (user, served-day)), and chaining two stateful
    * dedup→aggregate stages inside one query is not a supported
    * streaming plan — so the dashboard gets the [[PprRefresh]] pattern:
    * micro-batches fold into the accumulated DISTINCT (user_id, day)
    * table (the only state, far smaller than the event log; per-batch
    * lineage cut via eager checkpoint) and each trigger recomputes the
    * exact batch kernel
    * ([[graft.ops.EventAnalytics.activeUsersOfUserDays]]) over the
    * set-so-far. Every emitted snapshot is bit-identical to
    * `activeUsers` on the event prefix; after the final batch
    * streamed == batch exactly — both pinned in StreamingSpec. At
    * 100 TB the accumulated user-day set is a bucketed table and the
    * per-trigger fold is one co-partitioned distinct. */
  final class ActiveUsersRefresh(stateDir: Option[String] = None)
      extends DeltaFold(stateDir, "userdays") {
    protected def delta(batch: DataFrame): DataFrame =
      batch.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    protected def combine(u: DataFrame): DataFrame = u.distinct()
    override protected def view(userDays: DataFrame): DataFrame =
      graft.ops.EventAnalytics.activeUsersOfUserDays(userDays)
    /** Latest DAU/WAU snapshot (None before the first batch). */
    def counts: Option[DataFrame] = snapshot
  }

  /** B06 streaming twin (r8): the calendar-grid series triad — OLS
    * trend, CUSUM changepoint, lag-k autocorrelation — as ONE
    * foreachBatch refresh over their shared state: the per-(type, day)
    * daily cents table ([[graft.ops.EventAnalytics.dailyCents]]).
    * Every moment downstream is an exact combinable BIGINT, so folding
    * each micro-batch's daily partials into the accumulator with one
    * co-keyed sum makes every trigger's snapshot bit-identical to the
    * batch kernel on the event prefix — no day-grid watermark redesign,
    * because the grid, the pair joins, and the IEEE finishing trees all
    * derive from the (types×days)-bounded state, never from event rows.
    * State is the daily table only (far smaller than the event log;
    * per-batch lineage cut via eager checkpoint). At 100 TB the daily
    * table is a bucketed keyed table and the per-trigger fold is one
    * co-partitioned merge — the [[ActiveUsersRefresh]] contract. */
  final class SeriesTrendRefresh(stateDir: Option[String] = None)
      extends DeltaFold(stateDir, "daily") {
    protected def delta(batch: DataFrame): DataFrame =
      graft.ops.EventAnalytics.dailyCents(batch)
    protected def combine(u: DataFrame): DataFrame =
      u.groupBy(col("event_type"), col("day")).agg(sum(col("v")).as("v"))
    /** Latest OLS-trend snapshot (None before the first batch). */
    def trend: Option[DataFrame] =
      snapshot.map(graft.ops.EventAnalytics.trendOfDaily)
    /** Latest CUSUM-changepoint snapshot. */
    def changepoint: Option[DataFrame] =
      snapshot.map(graft.ops.EventAnalytics.changepointOfDaily)
    /** Latest lag-k autocorrelation snapshot. */
    def autocorr: Option[DataFrame] =
      snapshot.map(d => graft.ops.EventAnalytics.autocorrOfDaily(d))
    /** Latest weekly-profile seasonal decomposition (r10) — the fourth
      * kernel over the same bounded daily state. */
    def seasonal: Option[DataFrame] =
      snapshot.map(graft.ops.EventAnalytics.seasonalOfDaily)
  }

  /** r10 (VERDICT r9 #6) — INDEX-MAINTENANCE sink #1: the near-dup
    * reference index (shingle + band tables) maintained under
    * Structured Streaming. [[CrossNearDupSink]] probes a FIXED
    * reference; this class is the other half of the production
    * lifecycle — the reference itself GROWS as batches are admitted.
    * Each micro-batch appends its O(batch) portable shingle and band
    * rows — pure appends, like the r9 extend seams
    * ([[graft.dedup.Dedup.extendShingleIndex]] / `extendBandIndex`),
    * which SnapshotParitySpec proved bit-identical to the O(corpus)
    * rebuild — so N micro-batches == the fresh index, which
    * StreamingSpec pins THROUGH this class.
    * At 100 TB each fold is an append to the bucketed index tables;
    * nothing rescans the accumulated corpus. */
  final class BandIndexRefresh(k: Int = 3, stateDir: Option[String] = None) {
    // SEGMENT LISTS, not a re-checkpointed union: each trigger
    // materializes ONLY its own O(batch) increment (every index row
    // derives from one document, so appending is exact); the served
    // index is the lazy union of the immutable segments, so no trigger
    // ever rewrites or rescans the accumulated corpus — the exact shape
    // of appending partitions to a bucketed index table at 100 TB. With a `stateDir` the segments
    // ALSO persist as parquet keyed by batchId (r11, VERDICT r10 #2):
    // the per-trigger write stays O(batch), and a restarted instance
    // rebuilds the identical lazy union from the committed segments.
    // The segments are the engine-portable md5-prefix tables, so the
    // b10_stream_band_index gate hash-compares the served index against
    // DuckDB's one-shot replay (pure appends, so N micro-batches == the
    // fresh derivation bit for bit).
    private val ledger = new BatchLedger(stateDir)
    @volatile private var shSegs: List[DataFrame] = Nil
    @volatile private var bandSegs: List[DataFrame] = Nil
    private def derive(b: DataFrame): (DataFrame, DataFrame) = {
      val sh = graft.dedup.Dedup.portableShingleHashes(b, k).transform(Cut.eager)
      (sh, graft.dedup.Dedup.portableBandsOf(sh).transform(Cut.eager))
    }
    /** Restart recovery (r11): latest compaction payload (if any) + the
      * plain segments committed after it — the identical lazy union. */
    def recover(s: SparkSession): this.type = synchronized {
      val cs = ledger.recovered
      val lastCompact = cs.filter(_.compact).sortBy(_.id).lastOption
      val base = lastCompact.map(c =>
        (ledger.read(s, "sh", c), ledger.read(s, "band", c)))
      val segs = cs.filterNot(_.compact)
        .filter(c => lastCompact.forall(lc => c.id > lc.id))
        .map(c => (ledger.read(s, "sh", c), ledger.read(s, "band", c)))
      val all = base.toList ++ segs
      shSegs = all.map(_._1).reverse
      bandSegs = all.map(_._2).reverse
      this
    }
    /** foreachBatch body: append both O(batch) index increments.
      * At-least-once safe (r11, VERDICT r10 #1): a re-delivered batchId
      * is a no-op — the old id-blind append silently double-counted
      * every band bucket and broke the N-batches == one-extend parity. */
    def update(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (ledger.alreadyApplied(batchId)) return
      val b = batch.select(col("doc_id"), col("text")).transform(Cut.eager)
      val (sh, band) = derive(b)
      ledger.commit(batchId, Seq("sh" -> sh, "band" -> band))
      shSegs = sh :: shSegs
      bandSegs = band :: bandSegs
    }
    /** The maintained reference tables (None before the first batch). */
    def shingleIndex: Option[DataFrame] =
      shSegs.reduceOption(_ unionByName _)
    def bandIndex: Option[DataFrame] =
      bandSegs.reduceOption(_ unionByName _)
    /** Periodic segment merge (the small-file-compaction analogue):
      * collapses the per-batch segment lists into one checkpointed
      * segment each — content identical (pure unions), plan width reset
      * to 1. Call on the same cadence a lakehouse table compacts. In
      * durable mode the merged segment publishes under a COMPACT marker
      * at the current high-water mark, superseding (and pruning) the
      * per-batch payloads it folded — restart recovery then loads one
      * segment instead of N. */
    def compactSegments(): Unit = synchronized {
      (shingleIndex, bandIndex) match {
        case (Some(s0), Some(b0)) =>
          val sc = s0.transform(Cut.eager)
          val bc = b0.transform(Cut.eager)
          if (ledger.durable) {
            val c = ledger.highWater
            ledger.commit(c, Seq("sh" -> sc, "band" -> bc), compact = true)
            ledger.pruneSegmentsThrough(c)
          }
          shSegs = List(sc)
          bandSegs = List(bc)
        case _ => ()
      }
    }
  }

  /** r10 (VERDICT r9 #6) — INDEX-MAINTENANCE sink #2: the ANN index
    * lifecycle (build → serve → extend → compact) under Structured
    * Streaming. Each micro-batch of new vectors attaches to the served
    * hierarchy via [[graft.similarity.Similarity.hnswInsert]] —
    * O(batch) beam descents plus a touched-anchor re-prune, never a
    * rebuild — and every `compactEvery` batches the accumulated
    * segments RE-LEVEL COMPACT
    * ([[graft.similarity.Similarity.hnswCompact]]): inserted ids climb
    * to the upper layers their id-keyed md5 draw assigns (which the
    * insert path defers), restoring the canonical hierarchy ==
    * the never-inserted fresh build. StreamingSpec pins the lifecycle:
    * pre-compaction state differs from canonical (inserts genuinely
    * defer), post-compaction state is bit-identical to it, degree
    * invariants hold at EVERY trigger, and search against the
    * maintained state clears the recall floor. */
  final class AnnIndexRefresh(compactEvery: Int = 4,
      stateDir: Option[String] = None,
      phaseKey: Option[String] = None) {
    /** Sub-phase attribution under the bench gate's [[graft.PhaseTimer]]
      * key (r15): the gate's `trigger` phase is its dominant cost, so
      * the insert tick reports its descent-vs-ledger-commit split too
      * when a key is provided. No-op (and zero-cost) otherwise. */
    private def timed[T](phase: String)(body: => T): T =
      phaseKey.fold(body)(q => graft.PhaseTimer.time(q, phase)(body))
    // vector state is a SEGMENT LIST (each trigger checkpoints only its
    // own batch; the corpus view is the lazy union of immutable
    // segments — no trigger rewrites the accumulated vectors). The
    // adjacency IS re-materialized on insert/compact: hnswInsert
    // rewrites only touched-anchor rows but the checkpoint carries the
    // whole graph — at 100 TB this state is the bucketed index table
    // and the insert is a partition-level merge; here the eager cut
    // keeps each trigger's lineage flat, the same trade every refresher
    // makes.
    private val ledger = new BatchLedger(stateDir)
    @volatile private var vecSegs: List[DataFrame] = Nil
    @volatile private var adjState: Option[DataFrame] = None
    @volatile private var sinceCompact = 0
    /** The served hierarchy's PROVISIONED layer count (r12 review: the
      * batch paths pass this authority into the descent while the
      * refresher fell back to the row-tag census, so past the 4-layer
      * regime the streamed and batch lifecycles could diverge exactly
      * where the r12 authority fix matters). Set at build/compact/
      * bootstrap, persisted in the commit meta, restored at recovery;
      * inserts defer hierarchy so it is stable between compactions. */
    @volatile private var layersState: Option[Int] = None
    private def allVecs: Option[DataFrame] = vecSegs.reduceOption(_ unionByName _)
    /** Restart recovery (r11, VERDICT r10 #2; r13, VERDICT r12 #2): the
      * durable form is ONE O(batch) vector segment per committed trigger
      * plus a `kind` marker (build / insert / compact / bootstrap), and —
      * since r13 — each insert commit ALSO carries the tick's O(batch)
      * adjacency delta. Recovery starts from the last canonical point
      * (build/compact: the deterministic
      * [[graft.similarity.Similarity.hnswCompact]] hierarchy over the
      * vectors so far — levels are id-keyed md5 draws,
      * arrival-independent; bootstrap: the persisted seed adjacency) and
      * then LOADS each later insert's delta
      * ([[graft.similarity.Similarity.hnswApplyDelta]] — anti-join +
      * union, O(segments read), never a descent re-run; legacy ledgers
      * without the delta payload fall back to the
      * [[graft.similarity.Similarity.hnswInsert]] kernel replay, which
      * StreamingDurabilitySpec keeps as the bit-parity cross-check).
      * The recovered adjacency is bit-identical to the continuous run's
      * either way (pinned). Per-trigger I/O stays O(batch). */
    /** Immutability signature of a parquet dir, enforced by
      * bootstrapByRef recovery. None when missing. Folds the PER-FILE
      * (relative path, length, mtime) triples into one md5 (r14 ADVICE):
      * the old (contentSummary length, dir mtime) pair missed an
      * in-place same-length rewrite of a seed file — a directory's mtime
      * updates on child add/remove, not child content edits — so an
      * altered seed could be served silently. File mtimes do move on
      * content rewrite, and the per-file fold also catches rename and
      * split/merge games that preserve the total byte count. */
    private def pathSig(s: SparkSession, p: String): Option[String] =
      scala.util.Try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        require(fs.exists(hp))
        val it = fs.listFiles(hp, true)
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          parts += s"${st.getPath.toUri.getPath.stripPrefix(hp.toUri.getPath)}:" +
            s"${st.getLen}:${st.getModificationTime}"
        }
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(parts.sorted.mkString("\n").getBytes("UTF-8"))
        "v2-" + digest.map("%02x".format(_)).mkString
      }.toOption
    /** The r13 signature form — (contentSummary length, dir mtime) —
      * recomputed only to VALIDATE ledgers committed before the v2
      * per-file fold (r14 review: a format change with no fallback
      * would falsely refuse every untouched pre-v2 seed). */
    private def legacyPathSig(s: SparkSession, p: String): Option[String] =
      scala.util.Try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        s"${fs.getContentSummary(hp).getLength}-${fs.getFileStatus(hp).getModificationTime}"
      }.toOption

    /** Re-read a by-ref seed table, REFUSING loudly when the referenced
      * snapshot changed or vanished — by-ref recovery must never
      * silently serve a different seed than the one committed. */
    private def refRead(s: SparkSession, c: BatchLedger.Commit,
        which: String): DataFrame = {
      val p = c.meta(s"${which}_ref")
      val want = c.meta(s"${which}_sig")
      val got =
        if (want.startsWith("v2-")) pathSig(s, p)
        else legacyPathSig(s, p) // pre-v2 ledger: validate in its own format
      require(got.contains(want),
        s"bootstrapByRef seed '$which' at $p changed or vanished " +
          s"(signature ${got.getOrElse("<missing>")} != committed $want) — " +
          "by-ref mode requires the immutable seed snapshot to outlive " +
          "the ledger; re-bootstrap from the current snapshot instead")
      graft.Versions.readParquet(s, p)
    }
    def recover(s: SparkSession): this.type = synchronized {
      val cs = ledger.recovered.filterNot(_.compact)
      if (cs.nonEmpty) {
        val segs = cs.map { c =>
          val v =
            if (c.meta.get("kind").contains("bootstrap_ref")) refRead(s, c, "vecs")
            else ledger.read(s, "vecs", c)
          (c, v.transform(Cut.eager))
        }
        // canonical points: build/compact (adjacency reproducible via
        // hnswCompact over the vectors so far), bootstrap (r12 — the
        // seeded adjacency is NOT derivable from the ledger's vectors
        // alone at O(batch) cost, so the bootstrap commit carries it as
        // its own payload and recovery loads it instead of rebuilding),
        // and bootstrap_ref (r13 — the payloads live in the referenced
        // immutable snapshot, signature-checked above)
        val lastCanonical = segs.lastIndexWhere(
          _._1.meta.get("kind").exists(k =>
            k == "build" || k == "compact" || k == "bootstrap" ||
              k == "bootstrap_ref"))
        require(lastCanonical >= 0,
          s"AnnIndexRefresh ledger at $stateDir has no build/compact/bootstrap commit")
        val canonical = segs(lastCanonical)._1
        var vecs = segs.take(lastCanonical + 1).map(_._2)
          .reduce(_ unionByName _).transform(Cut.eager)
        // the canonical point's provisioned layer count rides its meta
        // (r12); legacy ledgers without it recompute from the canonical
        // corpus — the same census the build itself ran
        val layers = canonical.meta.get("layers").map(_.toInt)
          .getOrElse(graft.similarity.Similarity.provisionLayers(vecs.count()))
        var adj =
          if (canonical.meta.get("kind").contains("bootstrap"))
            ledger.read(s, "adj", canonical).transform(Cut.eager)
          else if (canonical.meta.get("kind").contains("bootstrap_ref"))
            refRead(s, canonical, "adj").transform(Cut.eager)
          else
            graft.similarity.Similarity.hnswCompact(vecs, Some(layers))
              .transform(Cut.eager)
        segs.drop(lastCanonical + 1).foreach { case (c, b) =>
          adj =
            if (c.meta.get("delta").contains("1"))
              // r13 (VERDICT r12 #2): the commit carries the tick's own
              // adjacency delta — recovery is a LOAD (anti-join + union,
              // O(segments read)), not a descent re-run. Bit-parity with
              // the kernel replay is pinned in StreamingDurabilitySpec.
              graft.similarity.Similarity.hnswApplyDelta(adj,
                ledger.read(s, "adjdelta", c)).transform(Cut.eager)
            else // legacy ledger without a delta payload: kernel replay
              graft.similarity.Similarity.hnswInsert(vecs, adj, b, Some(layers))
          vecs = vecs.unionByName(b).transform(Cut.eager)
        }
        vecSegs = List(vecs)
        adjState = Some(adj)
        layersState = Some(layers)
        sinceCompact = segs.length - 1 - lastCanonical
      }
      this
    }
    /** Seed the refresher from an ALREADY-SERVED index (r11): the
      * production lifecycle is build-once (the materialize-once
      * snapshot) → serve → extend per batch, so a refresher that joins
      * a serving stack mid-life starts from the snapshot rather than
      * replaying the corpus through trigger 0.
      *
      * r12 (ADVICE + VERDICT r11 #4): with a DURABLE ledger the seed is
      * persisted as a `bootstrap`-kind commit at id −1 (before every
      * real batchId) carrying BOTH payloads — the seed vectors and the
      * seed adjacency. The old code committed nothing, so a restart's
      * recover() found insert segments with no canonical point and
      * aborted: bootstrap+durable was constructible but unrecoverable.
      * At 100 TB this commit is a POINTER to the immutable lakehouse
      * snapshot rather than a copy — [[bootstrapByRef]] (r13) IS that
      * mode, signature-checked at recovery; this copying default keeps
      * the ledger self-contained (SnapshotStore may sweep its own files
      * independently). */
    def bootstrap(vecs: DataFrame, adj: DataFrame,
        provisionedLayers: Option[Int] = None): this.type = synchronized {
      require(vecSegs.isEmpty && adjState.isEmpty,
        "bootstrap must precede the first micro-batch")
      require(ledger.recovered.isEmpty,
        "bootstrap on a non-empty ledger — recover() instead")
      // the seed index's layer geometry: passed by callers that already
      // track it (the gate's memoized standing count), else derived from
      // the seed corpus exactly as its build did
      val layers = provisionedLayers.getOrElse(
        graft.similarity.Similarity.provisionLayers(vecs.count()))
      if (ledger.durable)
        ledger.commit(-1L, Seq("vecs" -> vecs, "adj" -> adj),
          Map("kind" -> "bootstrap", "layers" -> layers.toString))
      // caller owns the frames' stability (they come from a parquet
      // snapshot / checkpointed scan — re-materializing them here would
      // pay an extra O(corpus) job per bootstrap for nothing)
      vecSegs = List(vecs)
      adjState = Some(adj)
      layersState = Some(layers)
      sinceCompact = 0
      this
    }
    /** [[bootstrap]] BY REFERENCE (r13) — the at-scale contract the
      * bootstrap scaladoc names, executed: the seed commit stores
      * POINTERS to the immutable seed parquet tables (paths plus their
      * (length, mtime) signatures) instead of copying O(standing)
      * payloads into the ledger, so seeding is an O(1) metadata commit.
      * Recovery re-reads the referenced paths and FAILS LOUDLY when a
      * signature changed or the path vanished — a swept/rewritten seed
      * must never be silently served as the committed one. Opt-in: the
      * default [[bootstrap]] stays self-contained (correct when the
      * seed's lifetime is not guaranteed); by-ref is the right trade
      * when the seed IS an immutable lakehouse snapshot. Pinned in
      * StreamingDurabilitySpec: by-ref recovery == copy-mode recovery
      * == the continuous run bit-for-bit, and a deleted seed turns
      * recovery into a clear refusal, not wrong data. */
    def bootstrapByRef(s: SparkSession, vecsPath: String, adjPath: String,
        provisionedLayers: Option[Int] = None): this.type = synchronized {
      require(ledger.durable,
        "bootstrapByRef needs a durable ledger — the pointer commit exists " +
          "only to keep that ledger O(1); use bootstrap() for in-JVM seeding")
      require(vecSegs.isEmpty && adjState.isEmpty,
        "bootstrap must precede the first micro-batch")
      require(ledger.recovered.isEmpty,
        "bootstrap on a non-empty ledger — recover() instead")
      val vSig = pathSig(s, vecsPath).getOrElse(
        sys.error(s"bootstrapByRef: no readable seed at $vecsPath"))
      val aSig = pathSig(s, adjPath).getOrElse(
        sys.error(s"bootstrapByRef: no readable seed at $adjPath"))
      val vecs = graft.Versions.readParquet(s, vecsPath).transform(Cut.eager)
      val adj = graft.Versions.readParquet(s, adjPath).transform(Cut.eager)
      val layers = provisionedLayers.getOrElse(
        graft.similarity.Similarity.provisionLayers(vecs.count()))
      ledger.commit(-1L, Seq.empty, Map(
        "kind" -> "bootstrap_ref",
        "vecs_ref" -> vecsPath, "vecs_sig" -> vSig,
        "adj_ref" -> adjPath, "adj_sig" -> aSig,
        "layers" -> layers.toString))
      vecSegs = List(vecs)
      adjState = Some(adj)
      layersState = Some(layers)
      sinceCompact = 0
      this
    }
    /** foreachBatch body: insert the batch; compact on schedule.
      * At-least-once safe (r11, VERDICT r10 #1): a re-delivered batchId
      * is a no-op — the old id-blind body fed the SAME vec_ids back into
      * [[graft.similarity.Similarity.hnswInsert]], whose collision guard
      * then killed the streaming query instead of recovering. */
    def update(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (ledger.alreadyApplied(batchId)) return
      val b = batch.select(col("vec_id"), col("embedding")).transform(Cut.eager)
      (allVecs, adjState) match {
        case (Some(v), Some(a)) =>
          // ADVICE r10: decide compaction FIRST — the old body ran the
          // O(batch) insert descent eagerly and then discarded it on
          // every compactEvery-th trigger
          if (sinceCompact + 1 >= compactEvery) {
            // compaction coalesces the VECTOR segments too: the lazy
            // union's plan width grows with trigger count, so the
            // periodic O(corpus) pass that rebuilds the hierarchy
            // also collapses the segment list to one (the full
            // segment-merge semantics). Computed from LOCALS — the
            // in-JVM state swaps only AFTER the ledger commit (r12,
            // ADVICE: the old branch pushed b into vecSegs and reset
            // sinceCompact BEFORE commit, so a commit failure left the
            // batch inside allVecs and an in-process retry of the same
            // batchId fed duplicate vec_ids into hnswInsert's collision
            // guard — the commit-before-swap discipline of every other
            // branch, restored here)
            val merged = (b :: vecSegs).reduce(_ unionByName _).transform(Cut.eager)
            val layers = graft.similarity.Similarity.provisionLayers(merged.count())
            val adj = graft.similarity.Similarity.hnswCompact(merged, Some(layers))
              .transform(Cut.eager)
            ledger.commit(batchId, Seq("vecs" -> b),
              Map("kind" -> "compact", "layers" -> layers.toString))
            vecSegs = List(merged)
            sinceCompact = 0
            adjState = Some(adj)
            layersState = Some(layers)
          } else if (ledger.durable) {
            // r13 (VERDICT r12 #2): the durable tick commits its O(batch)
            // adjacency DELTA (re-pruned anchor rows + new out-edges)
            // alongside the vector segment — recovery then LOADS the
            // delta (hnswApplyDelta: anti-join + union) instead of
            // re-running the insert descent. One descent serves both the
            // in-JVM extended state and the payload (shared anchors).
            val (inserted, delta) = timed("trigger_descent") {
              graft.similarity.Similarity.hnswInsertWithDelta(v, a, b, layersState)
            }
            timed("trigger_commit") {
              ledger.commit(batchId, Seq("vecs" -> b, "adjdelta" -> delta),
                Map("kind" -> "insert", "delta" -> "1"))
            }
            vecSegs = b :: vecSegs
            sinceCompact += 1
            adjState = Some(inserted)
          } else {
            val inserted = graft.similarity.Similarity.hnswInsert(v, a, b, layersState)
            ledger.commit(batchId, Seq.empty, Map("kind" -> "insert"))
            vecSegs = b :: vecSegs
            sinceCompact += 1
            adjState = Some(inserted)
          }
        case _ =>
          val layers = graft.similarity.Similarity.provisionLayers(b.count())
          val adj = graft.similarity.Similarity.hnswCompact(b, Some(layers))
            .transform(Cut.eager)
          ledger.commit(batchId, Seq("vecs" -> b),
            Map("kind" -> "build", "layers" -> layers.toString))
          vecSegs = List(b)
          adjState = Some(adj)
          layersState = Some(layers)
          sinceCompact = 0
      }
    }
    /** The maintained hierarchy (None before the first batch). */
    def adjacency: Option[DataFrame] = adjState
    /** Serve a top-k search against the CURRENT maintained state —
      * entry-level authority = the build's provisioned count (r12). */
    def topK(queryPred: Column, k: Int = 10): Option[DataFrame] =
      for (v <- allVecs; a <- adjState)
        yield graft.similarity.Similarity.hnswSearch(v, a, queryPred, k, layersState)
  }

  /** B12 cross-corpus streaming twin (r7): incremental near-dedup of an
    * arriving document stream against a FIXED reference corpus — the
    * production shape of continuous ingestion ("is this new crawl doc a
    * near-dup of anything we already hold?"). The decision for each
    * incoming doc depends only on that doc and the static reference
    * (bucket stats — size and min-id witness — are computed from the
    * reference alone), so the operator is stateless across triggers and
    * the honest streaming integration is foreachBatch over the exact
    * audited batch kernel [[graft.dedup.Dedup.minHashNearDupAcross]]:
    * the union of per-batch emissions is bit-identical to the batch
    * answer on the union of the batches — including the hot-bucket
    * single-witness probing path — pinned in StreamingSpec. Per-batch
    * results accumulate with a lineage cut. At 100 TB the reference's
    * band-bucket table is materialized once as a bucketed table (the
    * [[graft.ops.GraphOps]] edge-snapshot move) instead of being derived
    * per trigger; the per-trigger work is then one bucket equi-join
    * sized by the micro-batch. */
  final class CrossNearDupSink(refDocs: DataFrame, k: Int = 3,
      threshold: Double = 0.5, stateDir: Option[String] = None)
      extends DeltaFold(stateDir, "pairs") {
    private val ref = refDocs.transform(Cut.eager)
    protected def delta(batch: DataFrame): DataFrame =
      graft.dedup.Dedup.minHashNearDupAcross(batch, ref, k, threshold)
    protected def combine(u: DataFrame): DataFrame = u
    /** All (new_id, ref_id, inter, na, nb, jaccard) hits so far. */
    def pairs: Option[DataFrame] = snapshot
  }

  /** B5 streaming twin (r7): Count-Min sketch maintenance over a
    * stream — mergeability IS the sketch's defining property (counter
    * matrices add cell-wise), so the foreachBatch fold sums each
    * micro-batch's d×w matrix into the accumulator, and the snapshot
    * is bit-identical to running the batch kernel on the union of the
    * batches (exact-integer sums are associative; StreamingSpec pins
    * snapshot == batch-on-prefix after every trigger). State is ≤ d·w
    * counter rows REGARDLESS of stream length — the reason CMS is the
    * canonical streaming frequency summary, and the contrast with the
    * unbounded distinct-key state an exact streaming GROUP BY needs. */
  final class CountMinSink(d: Int = 4, w: Long = 512L,
      stateDir: Option[String] = None) extends DeltaFold(stateDir, "cms") {
    /** Fold input: a single string column `k`. */
    protected def delta(batch: DataFrame): DataFrame =
      graft.ops.Relational.countMinMatrix(batch, d, w)
    protected def combine(u: DataFrame): DataFrame =
      u.groupBy(col("j"), col("col")).agg(sum(col("c")).as("c"))
    /** Latest accumulated d×w counter matrix (None before batch 1). */
    def matrix: Option[DataFrame] = snapshot
    /** Point estimates for `probes` (single long column `key`) from the
      * accumulated matrix. */
    def estimates(probes: DataFrame): Option[DataFrame] =
      snapshot.map(a => graft.ops.Relational.countMinProbe(a, probes, d, w))
  }

  /** B5 streaming twin (r7 cont.): AMS F2 maintenance over a stream —
    * the same mergeability argument as [[CountMinSink]] applied to the
    * second-moment sketch: z_j = Σ sign_j(k) is LINEAR in the stream,
    * so per-batch counter vectors add cell-wise (this is the "linear
    * sketch" property that also gives AMS its famous turnstile/DELETE
    * support — a retraction is just a −1 contribution). State is ≤
    * |groups|·J counter rows regardless of stream length; the estimate
    * is re-derived from the accumulated counters on demand; snapshot ==
    * batch-on-prefix pinned in StreamingSpec. */
  final class AmsSink(stateDir: Option[String] = None)
      extends DeltaFold(stateDir, "ams") {
    /** Fold input: columns `g`, `k`. */
    protected def delta(batch: DataFrame): DataFrame =
      graft.ops.Relational.amsZTable(batch)
    protected def combine(u: DataFrame): DataFrame =
      u.groupBy(col("g"), col("j")).agg(sum(col("z")).as("z"))
    /** Latest accumulated (g, j, z) counter table (None before batch 1). */
    def zTable: Option[DataFrame] = snapshot
    /** F2 estimates from the accumulated counters. */
    def estimates: Option[DataFrame] =
      snapshot.map(graft.ops.Relational.amsEstimate)
  }

  /** B10 × B12 (r11, VERDICT r10 #7): the STREAMING index lifecycle
    * itself as a hash-gated query — until now the refreshers were
    * spec-pinned while only their one-shot batch twins hash-gated. This
    * gate drives a REAL Structured Streaming query (MemoryStream →
    * foreachBatch → the durable [[BandIndexRefresh]]) through the full
    * production lifecycle inside one gated run:
    *
    *   1. three micro-batches of document KEYS arrive (doc_id % 3
    *      residues); each trigger stream-static-joins its keys to the
    *      documents table and appends O(batch) index segments, persisted
    *      to the batch ledger keyed by (sink, batchId);
    *   2. a mid-stream segment COMPACTION publishes under a compact
    *      marker and prunes the folded payloads;
    *   3. after the stream stops, the LAST batch is re-delivered
    *      (Spark's at-least-once contract) — the ledger high-water mark
    *      makes it a no-op;
    *   4. a SECOND sink instance recovers from the ledger (the driver
    *      restart) and SERVES the band table.
    *
    * The DuckDB oracle replays the one-shot derivation over all
    * documents (the shared `bnd` CTE), so the emitted hash certifies
    * stream == batch through idempotence, compaction, and restart — the
    * streaming lifecycle end-to-end, not just its batch twin. The
    * ledger dir is per-invocation and self-cleaning (the served table
    * is eagerly cut before deletion). */
  def streamBandIndexQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .transform(Cut.eager) // static join side, reused by all triggers
    val ledgerDir = java.nio.file.Files.createTempDirectory("graft_b10sbi_").toString
    try {
      val refresh = new BandIndexRefresh(3, Some(ledgerDir))
      val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)) // keys only, bounded
      val input = MemoryStream[Long](s)
      val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
      val q = input.toDF().toDF("doc_id").writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          refresh.update(b.join(docs, Seq("doc_id")), id)
          lastId.getAndUpdate(x => math.max(x, id))
          ()
        }
        .outputMode("update").start()
      try {
        graft.PhaseTimer.time("b10_stream_band_index", "triggers") {
          (0 until 3).foreach { r =>
            input.addData(ids.filter(_ % 3 == r).toSeq)
            q.processAllAvailable()
            if (r == 1) refresh.compactSegments() // durable compact marker mid-stream
          }
        }
      } finally q.stop() // a mid-stream failure must not leak the query
      // at-least-once re-delivery of the last committed batch: no-op
      if (lastId.get() >= 0)
        graft.PhaseTimer.time("b10_stream_band_index", "redelivery") {
          refresh.update(docs.filter(col("doc_id") % 3 === 2), lastId.get())
        }
      // driver restart: a fresh instance recovers the ledger and serves
      val served = graft.PhaseTimer.time("b10_stream_band_index", "recover") {
        new BandIndexRefresh(3, Some(ledgerDir))
          .recover(s).bandIndex.get.transform(Cut.eager)
      }
      served.orderBy(col("doc_id"), col("band_idx"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ledgerDir))
    }
  }

  /** B10 × B12 (r11): the ANN twin of [[streamBandIndexQuery]] — the
    * STREAMED index lifecycle certified against the one-shot oracle.
    * The refresher BOOTSTRAPS from the served standing index (the same
    * materialize-once snapshot b12_hnsw_insert rides — build-once is
    * the snapshot's job, so the per-invocation cost is the tick, not a
    * corpus rebuild), then one micro-batch of vector KEYS (%10 ≡ 3)
    * arrives through a real MemoryStream → foreachBatch and attaches
    * via the O(batch) insert path. The LAST batch is then RE-DELIVERED
    * — under the r10 code this fed duplicate vec_ids into hnswInsert
    * and the collision guard KILLED the query; now the ledger no-ops
    * it, inside the hash-compared path. The served adjacency must
    * equal the one-shot `hnswInsert(old, build(old), batch)` — the
    * exact artifact b12_hnsw_insert gates — so the two queries share
    * ONE oracle replay and the streamed and batch lifecycles can never
    * drift apart silently. r12 (VERDICT r11 #4): RESTART RECOVERY now
    * sits inside the hash-compared path too — the refresher runs
    * DURABLE (bootstrap persisted as the ledger's seed commit, the
    * insert tick as an O(batch) segment), and after the re-delivery a
    * SECOND instance recovers from the ledger and SERVES the adjacency.
    * r13 (VERDICT r12 #2): the insert commit now carries the tick's
    * O(batch) adjacency DELTA, so the recovery is a LOAD
    * (hnswApplyDelta) instead of a second descent — the gate pays ONE
    * real insert descent (the live trigger's, whose anchors
    * hnswInsertPreDelta materializes eagerly: the fail-at-the-trigger
    * collision-guard semantics) plus the bootstrap's O(standing) seed
    * write; the served artifact is the loaded one, and delta-load ==
    * kernel-replay bit-parity is pinned in StreamingDurabilitySpec. */
  def streamAnnIndexQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .transform(Cut.eager) // static join side for the trigger
    val ledgerDir = java.nio.file.Files.createTempDirectory("graft_b12sai_").toString
    try {
      // r14 (VERDICT r13 #9): bootstrap-BY-REFERENCE is now the gate's
      // (and the recommended) default — the ledger's seed commit records
      // POINTERS to the materialize-once standing snapshots instead of
      // re-writing O(standing) vector/adjacency copies per refresher,
      // which r13 measured as the dominant residual cost of this gate.
      // The copying bootstrap() remains for in-JVM seeding without a
      // durable snapshot to point at.
      val refresh = graft.PhaseTimer.time("b12_stream_ann_index", "bootstrap") {
        new AnnIndexRefresh(compactEvery = Int.MaxValue,
          stateDir = Some(ledgerDir),
          phaseKey = Some("b12_stream_ann_index"))
          .bootstrapByRef(s,
            graft.similarity.Similarity.standingVecsSnapshotPath(s, dir),
            graft.similarity.Similarity.standingAdjSnapshotPath(s, dir))
      }
      val ids = emb.select(col("vec_id")).collect().map(_.getLong(0))
      val input = MemoryStream[Long](s)
      val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
      val q = input.toDF().toDF("vec_id").writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          refresh.update(b.join(emb, Seq("vec_id")), id)
          lastId.getAndUpdate(x => math.max(x, id))
          ()
        }
        .outputMode("update").start()
      try {
        graft.PhaseTimer.time("b12_stream_ann_index", "trigger") {
          input.addData(ids.filter(_ % 10 == 3).toSeq); q.processAllAvailable()
        }
      } finally q.stop() // a mid-stream failure must not leak the query
      // at-least-once re-delivery: the retried insert batch must no-op,
      // not die on the collision guard
      if (lastId.get() >= 0)
        graft.PhaseTimer.time("b12_stream_ann_index", "redelivery") {
          refresh.update(emb.filter(col("vec_id") % 10 === 3), lastId.get())
        }
      // driver restart: a fresh instance recovers bootstrap + insert
      // from the ledger and serves — the compared artifact
      val served = graft.PhaseTimer.time("b12_stream_ann_index", "recover") {
        new AnnIndexRefresh(compactEvery = Int.MaxValue,
          stateDir = Some(ledgerDir)).recover(s)
          .adjacency.get.transform(Cut.eager)
      }
      // in-gate SIGNATURE-REFUSAL probe (r14, the by-ref default's other
      // half): recovery must REFUSE a tampered seed, never serve it. A
      // tiny synthetic seed is committed by-ref in a scratch ledger,
      // then rewritten IN PLACE preserving its byte length — exactly the
      // alteration the per-file (path, length, mtime) signature exists
      // to catch — and recover() must throw.
      val probeDir = java.nio.file.Files.createTempDirectory("graft_b12sai_probe_").toString
      try graft.PhaseTimer.time("b12_stream_ann_index", "refusal_probe") {
        val seedVecs = s"$probeDir/seed_vecs"
        val seedAdj = s"$probeDir/seed_adj"
        Seq((1L, Seq(0.1f)), (2L, Seq(0.2f))).toDF("vec_id", "embedding")
          .coalesce(1).write.parquet(seedVecs)
        Seq((0, 1L, 2L)).toDF("layer", "src", "dst")
          .coalesce(1).write.parquet(seedAdj)
        new AnnIndexRefresh(compactEvery = Int.MaxValue,
          stateDir = Some(s"$probeDir/ledger"))
          .bootstrapByRef(s, seedVecs, seedAdj, provisionedLayers = Some(1))
        val part = new java.io.File(seedVecs).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val raf = new java.io.RandomAccessFile(part, "rw")
        try {
          raf.seek(part.length() / 2)
          val b = raf.read(); raf.seek(part.length() / 2); raf.write(b ^ 0xff)
        } finally raf.close()
        part.setLastModified(part.lastModified() + 2000) // coarse-mtime filesystems
        val refused = scala.util.Try(new AnnIndexRefresh(compactEvery = Int.MaxValue,
          stateDir = Some(s"$probeDir/ledger")).recover(s))
        require(refused.isFailure && refused.failed.get.getMessage != null &&
          refused.failed.get.getMessage.contains("changed or vanished"),
          "b12_stream_ann_index: a tampered by-ref seed was NOT refused — " +
            s"got ${refused.fold(e => e.toString, _ => "a successful recovery")}")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(probeDir))
      }
      served.orderBy(col("layer"), col("src"), col("dst"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ledgerDir))
    }
  }

  /** B10 (r11): the THIRD refresher family's lifecycle gate — the
    * bounded-snapshot concurrency curve, completing the set (segment
    * band index → b10_stream_band_index; ANN hierarchy →
    * b12_stream_ann_index; bounded-state curve → this). Event KEYS
    * arrive through a real MemoryStream in CHRONOLOGICAL micro-batches
    * (halves of the distinct-day axis — chronological delivery keeps
    * every batch inside the refresher's lateness contract, so freeze +
    * finished-day compaction run for real on the early days while
    * exactness holds); each trigger stream-static-joins
    * its keys to the events table and folds into the DURABLE
    * [[SessionConcurrencyRefresh]]. After the stream stops, the last
    * batch is RE-DELIVERED (ledger no-op — an id-blind fold would
    * double-freeze its session deltas), then a SECOND instance recovers
    * the bounded state snapshot from the ledger (driver restart) and
    * SERVES the curve — which must hash-match the b10_concurrency
    * oracle's one-shot sweep line over ALL events: one shared oracle,
    * so the streamed lifecycle (folds, eviction, day compaction,
    * durability, recovery) can never drift from the batch operator. */
  def streamConcurrencyQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // a deterministic 1-in-3 user slice: the lifecycle mechanics
    // (per-trigger fold, eviction, finished-day compaction, durable
    // snapshot, recovery) are what the gate certifies — they run
    // identically at any slice, and the per-trigger job overhead, not
    // row count, is the gate's cost driver (the oracle carries the
    // same predicate, one shared string)
    val events = Tables.events(s, dir).filter(col("user_id") % 3 === 0)
      .transform(Cut.eager)
    val dayOf = unix_date(to_date(col("ts")))
    // deterministic chronological halves over the distinct-day axis
    val days = events.select(dayOf.as("d")).distinct().orderBy(col("d"))
      .collect().map(_.getInt(0)) // bounded: the day axis, not the events
    val c1 = days((days.length - 1) / 2)
    val cuts: Seq[Column] = Seq(dayOf <= c1, dayOf > c1)
    val ledgerDir = java.nio.file.Files.createTempDirectory("graft_b10scc_").toString
    try {
      val refresh = new SessionConcurrencyRefresh("1 hour", Some(ledgerDir))
      val input = MemoryStream[Long](s)
      val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
      val q = input.toDF().toDF("event_id").writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          refresh.update(b.join(events, Seq("event_id")), id)
          lastId.getAndUpdate(x => math.max(x, id))
          ()
        }
        .outputMode("update").start()
      try {
        graft.PhaseTimer.time("b10_stream_concurrency", "triggers") {
          cuts.foreach { pred =>
            input.addData(events.filter(pred).select(col("event_id"))
              .collect().map(_.getLong(0)).toSeq) // keys only, bounded
            q.processAllAvailable()
          }
        }
      } finally q.stop() // a mid-stream failure must not leak the query
      // at-least-once re-delivery of the last batch: no-op
      if (lastId.get() >= 0)
        graft.PhaseTimer.time("b10_stream_concurrency", "redelivery") {
          refresh.update(events.filter(cuts.last), lastId.get())
        }
      // driver restart: recover the bounded snapshot, serve the curve
      val served = graft.PhaseTimer.time("b10_stream_concurrency", "recover") {
        new SessionConcurrencyRefresh("1 hour", Some(ledgerDir))
          .recover(s).curve.get.transform(Cut.eager)
      }
      // back to the events table's native NTZ rendering (wall time
      // preserved under the pinned UTC session) — the type the
      // b10_concurrency twin emits and the oracle compare expects
      served.withColumn("peak_ts", col("peak_ts").cast("timestamp_ntz"))
        .orderBy(col("day"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ledgerDir))
    }
  }

  /** B10 × A-series (r12, VERDICT r11 #1): the INCREMENTAL HARVEST
    * lifecycle as a hash-gated query — the fourth refresher family to
    * certify its streamed form against the batch oracle (band index →
    * b10_stream_band_index; ANN → b12_stream_ann_index; bounded curve →
    * b10_stream_concurrency; the harvest store → this). Document KEYS
    * arrive through a real MemoryStream in three URI-SORTED micro-batches
    * (leading-digit ranges of doc_id — lexicographically ordered like the
    * reference's paginated ORDER BY delivery, harvest.py:96); each trigger
    * stream-static-joins its keys to the bindings fixture and runs the
    * FULL per-page pipeline ([[harvestSink]]: A11 upsert → A14 melt →
    * A13 FK resolve → A15 insert-if-absent → A21 staged swaps). The last
    * batch is then RE-DELIVERED (store-marker no-op, inside the compared
    * path) and the store is SERVED as terms ⟕ term_fields — which must
    * hash-match DuckDB's one-shot replay of the batch pipeline over ALL
    * bindings, surrogate ids included. Under sorted arrival the streamed
    * store is bit-identical to `HarvestJob.run` on the concatenated
    * bindings (also pinned directly in StreamingSpec), so the streamed
    * and batch harvests can never drift apart silently. */
  def streamHarvestQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bindings = graft.ops.HarvestQueries.bindings(s, dir)
      .transform(Cut.eager) // static join side, reused by all triggers
    val storeDir = java.nio.file.Files.createTempDirectory("graft_b10shv_").toString
    try {
      val asOf = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
      // URI-sorted delivery: the concept embeds doc_id as a STRING, so
      // leading-digit ranges of doc_id are exactly lexicographic ranges
      // of the concept URI ('1*','2*' < '3*'..'5*' < '6*'..'9*')
      val leadDigit = substring(col("doc_id").cast("string"), 1, 1)
      val cuts: Seq[Column] =
        Seq(leadDigit <= "2", leadDigit >= "3" && leadDigit <= "5", leadDigit >= "6")
      val ids = bindings.select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)) // keys only, bounded
      val inBatch: Seq[Long => Boolean] = Seq(
        id => id.toString.charAt(0) <= '2',
        id => { val c = id.toString.charAt(0); c >= '3' && c <= '5' },
        id => id.toString.charAt(0) >= '6')
      val input = MemoryStream[Long](s)
      val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
      val q = input.toDF().toDF("doc_id").writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          harvestSink(storeDir, asOf)(b.join(bindings, Seq("doc_id")).drop("doc_id"), id)
          lastId.getAndUpdate(x => math.max(x, id))
          ()
        }
        .outputMode("update").start()
      try {
        graft.PhaseTimer.time("b10_stream_harvest", "triggers") {
          inBatch.foreach { p => input.addData(ids.filter(p).toSeq); q.processAllAvailable() }
        }
      } finally q.stop() // a mid-stream failure must not leak the query
      // at-least-once re-delivery of the last batch: store-marker no-op
      if (lastId.get() >= 0)
        graft.PhaseTimer.time("b10_stream_harvest", "redelivery") {
          harvestSink(storeDir, asOf)(
            bindings.filter(cuts.last).drop("doc_id"), lastId.get())
        }
      // serve the store: both tables, ids included
      val terms = graft.harvest.Store.readTableOr(
        s, storeDir, "terms", graft.harvest.Schemas.terms)
        .select(col("id").as("term_id"), col("uri"))
      val fields = graft.harvest.Store.readTableOr(
        s, storeDir, "term_fields", graft.harvest.Schemas.termFields)
        .select(col("term_id"), col("id").as("field_id"), col("field_uri"),
          col("field_term"), col("original_value"))
      val served = graft.PhaseTimer.time("b10_stream_harvest", "serve") {
        terms.join(fields, Seq("term_id"), "left_outer")
          .transform(Cut.eager) // cut from the store files before cleanup
      }
      served.orderBy(col("term_id"), col("field_id").asc_nulls_first)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir))
    }
  }

  // ---------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b10_tumbling" -> (tumblingQuery _),
    "b10_sliding" -> (slidingQuery _),
    "b10_sessions" -> (sessionsQuery _),
    "b10_concurrency" -> (concurrencyQuery _),
    "b10_interval_join" -> (clickAttributionQuery _),
    "b10_rolling_anomaly" -> (rollingAnomalyQuery _),
    "b10_stream_band_index" -> (streamBandIndexQuery _),
    "b12_stream_ann_index" -> (streamAnnIndexQuery _),
    "b10_stream_concurrency" -> (streamConcurrencyQuery _),
    "b10_stream_harvest" -> (streamHarvestQuery _),
  )

  private val BUCKET5 = "make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP))/300)*300 AS BIGINT)*1000000)"

  /** The one-shot concurrency sweep-line replay — shared verbatim by
    * b10_concurrency and the streamed-lifecycle gate
    * b10_stream_concurrency (r11). */
  private val ConcurrencyOracle: String = """
      WITH flagged AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
          CASE WHEN lag(ts) OVER w IS NULL THEN 1
               WHEN CAST(ts AS TIMESTAMP) >= CAST(lag(ts) OVER w AS TIMESTAMP) + INTERVAL 30 MINUTES THEN 1
               ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      numbered AS (
        SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM flagged),
      s AS (SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end
            FROM numbered GROUP BY user_id, session_seq),
      bd AS (SELECT session_start AS ts, CAST(1 AS BIGINT) AS d FROM s
             UNION ALL SELECT session_end AS ts, CAST(-1 AS BIGINT) AS d FROM s),
      net AS (SELECT date_diff('day', DATE '1970-01-01',
                CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day, ts,
                CAST(SUM(d) AS BIGINT) AS net
              FROM bd GROUP BY 1, 2),
      ind AS (SELECT *, CAST(SUM(net) OVER (PARTITION BY day ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_in_day
              FROM net),
      carry AS (SELECT day, COALESCE(CAST(SUM(day_net) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                  CAST(0 AS BIGINT)) AS open_at_start
                FROM (SELECT day, SUM(net) AS day_net FROM net GROUP BY day)),
      curve AS (SELECT ind.day, ind.ts, carry.open_at_start,
                  carry.open_at_start + ind.run_in_day AS c
                FROM ind JOIN carry USING (day)),
      peak AS (SELECT day, c AS peak_concurrent, ts AS peak_ts FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY day
                   ORDER BY c DESC, ts) AS rn FROM curve) WHERE rn = 1),
      base AS (SELECT day, MIN(open_at_start) AS open_at_start,
                 COUNT(*) AS n_boundaries
               FROM curve GROUP BY day)
      SELECT CAST(b.day AS INT) AS day, b.open_at_start, p.peak_concurrent,
             p.peak_ts, b.n_boundaries
      FROM base b JOIN peak p USING (day)
      ORDER BY day"""

  val oracles: Map[String, String] = Map(
    // the one-shot replay of the streamed incremental harvest (r12):
    // the SAME fixture + id-assignment semantics the a11/a13/a15 batch
    // gates share — dense uri-sorted term ids, dense (term_id, field_uri,
    // original_value)-sorted field ids — so N sorted micro-batches
    // through the full per-trigger pipeline must reproduce the batch
    // job's store bit for bit
    "b10_stream_harvest" -> s"""${graft.ops.HarvestQueries.FIX},
      ids AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY uri) AS BIGINT) AS id, uri
              FROM (SELECT DISTINCT concept AS uri FROM v)),
      f AS (SELECT ids.id AS tid, eav.field_uri, eav.field_term, eav.original_value
            FROM eav JOIN ids ON eav.concept = ids.uri),
      fids AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY tid, field_uri, original_value) AS BIGINT) AS field_id,
                      tid, field_uri, field_term, original_value
               FROM f)
      SELECT ids.id AS term_id, ids.uri, fids.field_id, fids.field_uri,
             fids.field_term, fids.original_value
      FROM ids LEFT JOIN fids ON fids.tid = ids.id
      ORDER BY term_id, field_id ASC NULLS FIRST""",
    // the streamed ANN lifecycle serves EXACTLY the artifact
    // b12_hnsw_insert gates (build over the %10≠3 corpus, batch descent,
    // anchor re-prune, passthrough) — one shared oracle replay, so the
    // streamed and batch lifecycles can never drift apart silently
    "b12_stream_ann_index" ->
      graft.similarity.Similarity.oracles("b12_hnsw_insert"),
    // the one-shot replay of the streamed/compacted/restarted band
    // index: the shared per-doc `bnd` CTE over ALL documents — pure
    // per-doc derivation, so N micro-batches ∪ compaction ∪ recovery
    // must reproduce it bit for bit
    "b10_stream_band_index" -> s"""
      WITH ${graft.dedup.Dedup.portableBndCtes}
      SELECT doc_id, band_idx, band_hash FROM bnd
      ORDER BY doc_id, band_idx""",
    "b10_tumbling" -> s"""
      SELECT $BUCKET5 AS window_start, event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "b10_sliding" -> """
      WITH buckets AS (
        SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP))/600)*600 AS BIGINT)*1000000) AS window_start, value FROM events
        UNION ALL
        SELECT make_timestamp((CAST(floor((epoch(CAST(ts AS TIMESTAMP))-300)/600)*600 AS BIGINT)+300)*1000000), value FROM events)
      SELECT window_start, COUNT(*) AS n_events,
        CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
      FROM buckets GROUP BY 1 ORDER BY window_start""",
    "b10_sessions" -> """
      WITH flagged AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
          CASE WHEN lag(ts) OVER w IS NULL THEN 1
               WHEN CAST(ts AS TIMESTAMP) >= CAST(lag(ts) OVER w AS TIMESTAMP) + INTERVAL 30 MINUTES THEN 1
               ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      numbered AS (
        SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM flagged)
      SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq""",
    // sweep line over session boundaries: per-instant nets, the in-day
    // prefix + bounded day-axis carry-in, peak argmax by (c DESC, ts)
    "b10_concurrency" -> ConcurrencyOracle,
    // the streamed/evicted/compacted/restarted refresher must serve the
    // SAME curve — the shared oracle restricted to the gate's
    // deterministic user slice (one string, one substitution)
    "b10_stream_concurrency" -> ConcurrencyOracle.replace("FROM events",
      "FROM (SELECT * FROM events WHERE user_id % 3 = 0) AS events"),
    "b10_rolling_anomaly" -> """
      WITH t AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
          COUNT(value) OVER w AS trail_n,
          SUM(CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(28,2))) OVER w AS trail_sum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, ts, value, trail_n,
        CAST(trail_sum AS DOUBLE) AS trail_sum
      FROM t
      WHERE trail_n >= 5
        AND CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(28,2)) * trail_n > trail_sum * 2
      ORDER BY event_id""",
    "b10_interval_join" -> """
      SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        p.value
      FROM events p JOIN events c
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
       AND CAST(p.ts AS TIMESTAMP) < CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTES
      ORDER BY purchase_id, click_id""",
  )
}
