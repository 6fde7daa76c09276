package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Evt(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class Doc(ts: Timestamp, doc_id: Long, text: String)
case class ImgAsset(ts: Timestamp, asset_id: Long, payload: Array[Byte])

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(m: Int, s: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")

  private def runStream(events: Seq[Evt], xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        name: String, mode: String = "append") = {
    val input = MemoryStream[Evt](spark)
    input.addData(events)
    val q = xform(input.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("watermarked tumbling window emits finalized windows (B10)") {
    val events = Seq(
      Evt(1, t(0), 1, "click", 1.0), Evt(2, t(1), 1, "click", 2.0),
      Evt(3, t(6), 2, "view", 3.0),
      Evt(4, t(40), 1, "click", 9.0)) // advances watermark past earlier windows
    val out = runStream(events, Streaming.tumblingStream, "tumb")
    val rows = out.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(rows.contains((t(0), "click", 2L)))
    assert(rows.contains((t(5), "view", 1L)))
    assert(!rows.exists(_._1 == t(40))) // last window not finalized yet
  }

  test("dropDuplicatesWithinWatermark removes stream dupes (B10)") {
    val events = Seq(
      Evt(1, t(0), 1, "click", 1.0), Evt(1, t(0, 30), 1, "click", 1.0),
      Evt(2, t(1), 1, "view", 2.0))
    val out = runStream(events, Streaming.dedupStream, "dedup")
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("sketchDedupStream suppresses token-multiset duplicates, keeps distinct docs (B10xB12)") {
    val input = MemoryStream[Doc](spark)
    input.addData(Seq(
      Doc(t(0), 1L, "alpha beta gamma"),
      Doc(t(1), 2L, "gamma beta alpha"), // same token multiset → same sketch → dropped
      Doc(t(2), 3L, "delta epsilon zeta")))
    val q = Streaming.sketchDedupStream(input.toDF()).writeStream
      .format("memory").queryName("sketchdedup").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val kept = spark.table("sketchdedup").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L))
  }

  test("imageDedupStream keeps one asset per perceptual hash; re-encoded copies drop (B10xB14, r7)") {
    def png(id: Long, jpegInstead: Boolean = false): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16) {
        val r = ((id * 37 + x * 16) % 256).toInt
        val g = ((id * 11 + y * 21) % 256).toInt
        val b = if ((x * (1 + id % 11) + y * (1 + id % 13) + id) % 5 == 0) 255 else 0
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val input = MemoryStream[ImgAsset](spark)
    input.addData(Seq(
      ImgAsset(t(0), 1L, png(7L)),
      ImgAsset(t(1), 2L, png(7L)), // byte-identical re-send → same dhash → dropped
      ImgAsset(t(2), 3L, png(8L)))) // different pixels → kept
    val q = Streaming.imageDedupStream(input.toDF()).writeStream
      .format("memory").queryName("imgdedup").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val kept = spark.table("imgdedup").select("asset_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L))
  }

  test("nearDupPairsStream emits the batch pipeline's verified pairs (B10xB12)") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 29).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (100 to 130).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      Doc(t(0), 1L, base), Doc(t(1), 2L, nearDup),
      Doc(t(2), 3L, other), Doc(t(3), 4L, base))
    val input = MemoryStream[Doc](spark)
    input.addData(docs)
    val q = Streaming.nearDupPairsStream(input.toDF()).writeStream
      .format("memory").queryName("neardup_pairs").outputMode("append").start()
    q.processAllAvailable()
    // a late doc advances the watermark past the horizon so all state flushes
    input.addData(Seq(Doc(Timestamp.valueOf("2026-01-01 12:00:00"), 99L,
      (200 to 230).map(i => s"z$i").mkString(" "))))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("neardup_pairs")
      .select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the batch twin on the same docs (the late flush doc resembles nothing)
    val batch = graft.dedup.Dedup.minHashNearDup(
        (docs.map(d => (d.doc_id, d.text)) :+ ((99L, (200 to 230).map(i => s"z$i").mkString(" "))))
          .toDF("doc_id", "text"), k = 3, threshold = 0.5)
      .select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch, s"streamed=$streamed batch=$batch")
    assert(streamed.map(p => (p._1, p._2)).contains((1L, 4L))) // exact dup at jaccard 1.0
    assert(streamed.map(p => (p._1, p._2)).contains((1L, 2L))) // near-dup
  }

  test("session_window groups by inactivity gap (B10)") {
    val events = Seq(
      Evt(1, t(0), 1, "click", 1.0), Evt(2, t(10), 1, "click", 1.0),  // session A
      Evt(3, t(50), 1, "click", 1.0),                                 // session B
      Evt(4, Timestamp.valueOf("2026-01-01 12:30:00"), 9, "late", 0.0)) // watermark push
    val out = runStream(events, Streaming.sessionWindowStream, "sess")
    val u1 = out.filter($"user_id" === 1).collect()
      .map(r => (r.getTimestamp(0), r.getLong(3))).toSet
    assert(u1 === Set((t(0), 2L), (t(50), 1L))) // both sessions finalized
  }

  test("flatMapGroupsWithState sessionizer: custom state, gap close + timeout close (B10)") {
    val input = MemoryStream[Evt](spark)
    val q = Streaming.statefulSessions(input.toDF()).writeStream
      .format("memory").queryName("fmgws").outputMode("append").start()
    // batch 1: user 1 has two sessions split by a >30min gap (closes in-batch);
    // user 2 has one open session
    input.addData(Seq(
      Evt(1, t(0), 1, "a", 0), Evt(2, t(10), 1, "a", 0),
      Evt(3, t(50), 1, "a", 0),
      Evt(4, t(5), 2, "b", 0)))
    q.processAllAvailable()
    // batch 2: a much later event pushes the watermark past every timeout
    input.addData(Seq(Evt(9, Timestamp.valueOf("2026-01-01 13:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    input.addData(Seq(Evt(10, Timestamp.valueOf("2026-01-01 15:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fmgws")
      .select("user_id", "session_seq", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4)))
      .toSet
    // user 1: session 1 = events at :00/:10 (closed by the :50 gap);
    // session 2 = the :50 event (closed by event-time timeout)
    assert(rows.contains((1L, 1L, t(0), t(10), 2L)))
    assert(rows.contains((1L, 2L, t(50), t(50), 1L)))
    // user 2: single session closed by timeout
    assert(rows.contains((2L, 1L, t(5), t(5), 1L)))
    // dense per-user sequence numbers survive across session closes
    assert(rows.filter(_._1 == 1L).map(_._2) == Set(1L, 2L))
  }

  test("flatMapGroupsWithState: session sequence continues after a timeout close (B10)") {
    val input = MemoryStream[Evt](spark)
    val q = Streaming.statefulSessions(input.toDF()).writeStream
      .format("memory").queryName("fmgws_seq").outputMode("append").start()
    input.addData(Seq(Evt(1, t(0), 1, "a", 0)))
    q.processAllAvailable()
    // advance the watermark far enough to timeout-close user 1's session
    input.addData(Seq(Evt(2, Timestamp.valueOf("2026-01-01 12:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    // user 1 returns: this session must number 2, not restart at 1
    input.addData(Seq(Evt(3, Timestamp.valueOf("2026-01-01 12:30:00"), 1, "a", 0)))
    q.processAllAvailable()
    input.addData(Seq(Evt(4, Timestamp.valueOf("2026-01-01 15:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    q.stop()
    val seqs = spark.table("fmgws_seq")
      .filter(org.apache.spark.sql.functions.col("user_id") === 1)
      .select("session_seq").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(1L, 2L)) // distinct, dense, no duplicate seq=1
  }

  test("flatMapGroupsWithState: late event extends the open session backward (B10)") {
    val input = MemoryStream[Evt](spark)
    val q = Streaming.statefulSessions(input.toDF()).writeStream
      .format("memory").queryName("fmgws_late").outputMode("append").start()
    // batch 1 opens a session at :10 (watermark still far behind)
    input.addData(Seq(Evt(1, t(10), 1, "a", 0)))
    q.processAllAvailable()
    // batch 2: a valid late event at :05 for the same open session must
    // extend session_start backward, matching sessionsBatch semantics
    input.addData(Seq(Evt(2, t(5), 1, "a", 0)))
    q.processAllAvailable()
    // close by timeout
    input.addData(Seq(Evt(9, Timestamp.valueOf("2026-01-01 13:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    input.addData(Seq(Evt(10, Timestamp.valueOf("2026-01-01 15:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("fmgws_late")
      .filter($"user_id" === 1)
      .select("session_seq", "session_start", "session_end", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(u1 === Set((1L, t(5), t(10), 2L)))
  }

  test("stream-stream interval join attributes purchases to clicks (B10)") {
    val clicks = Seq(
      Evt(1, t(0), 1, "click", 0.0), Evt(2, t(5), 1, "click", 0.0),
      Evt(3, t(0), 2, "click", 0.0))
    val purchases = Seq(
      Evt(10, t(20), 1, "purchase", 9.5),  // within 30min of clicks 1 and 2
      Evt(11, t(50), 1, "purchase", 4.0),  // 50/45min after clicks — out of range
      Evt(12, t(40), 3, "purchase", 1.0))  // user with no clicks
    val cIn = MemoryStream[Evt](spark); cIn.addData(clicks)
    val pIn = MemoryStream[Evt](spark); pIn.addData(purchases)
    val q = Streaming.clickAttribution(cIn.toDF(), pIn.toDF()).writeStream
      .format("memory").queryName("ssjoin").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjoin")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === Set((10L, 1L), (10L, 2L)))
    // the identical transform over batch DataFrames gives the same pairs
    val batch = Streaming.clickAttribution(clicks.toDF(), purchases.toDF())
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch === streamed)
  }

  test("stream-static join enriches each micro-batch from the dimension (B10)") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Evt](spark)
    input.addData(Seq(
      Evt(1, t(0), 1, "click", 1.0),
      Evt(2, t(1), 2, "view", 2.0),
      Evt(3, t(2), 7, "click", 3.0))) // no dimension row -> null tier
    val q = Streaming.enrichStream(input.toDF(), dim).writeStream
      .format("memory").queryName("enrich").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enrich").select("event_id", "tier").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows === Set((1L, Some("gold")), (2L, Some("basic")), (3L, None)))
  }

  test("batch and streaming session logic agree on closed sessions (B10)") {
    val events = Seq(
      Evt(1, t(0), 1, "a", 0), Evt(2, t(5), 1, "a", 0), Evt(3, t(55), 1, "a", 0))
    val batch = Streaming.sessionsBatch(events.toDF()).collect()
    assert(batch.length === 2)
    assert(batch.map(_.getLong(4)).sorted.toSeq === Seq(1L, 2L))
  }

  test("w08 streaming refresh: per-trigger PPR snapshot == batch PPR on the " +
    "edge prefix; final streamed == batch (r6-verdict #8)") {
    // two seed nodes (0, 10 ≡ 0 mod 10) and a small DAG; batch 2 adds
    // edges that reroute mass, so prefix and final snapshots differ —
    // the pin is non-vacuous
    val batch1 = Seq((1L, 10L), (2L, 10L), (10L, 20L), (3L, 20L))
    val batch2 = Seq((20L, 0L), (4L, 10L), (0L, 30L))
    def pprOf(edges: Seq[(Long, Long)]) =
      graft.ops.WorkflowQueries.personalizedPageRankEdges(edges.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val refresh = new Streaming.PprRefresh
    val input = MemoryStream[(Long, Long)](spark)
    val q = input.toDF().toDF("u", "v").writeStream
      .foreachBatch(refresh.update _).outputMode("update").start()
    input.addData(batch1); q.processAllAvailable()
    val snap1 = refresh.ranks.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(snap1 === pprOf(batch1)) // trigger snapshot == batch on the prefix
    input.addData(batch2); q.processAllAvailable()
    val snap2 = refresh.ranks.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    q.stop()
    assert(snap2 === pprOf(batch1 ++ batch2)) // final streamed == batch
    assert(snap1 !== snap2) // batch 2 really moved mass
  }

  test("DAU/WAU streaming refresh: per-trigger snapshot == batch activeUsers " +
    "on the event prefix; final streamed == batch (B10, r7)") {
    // batch 2 re-activates user 1 on a later day and adds a brand-new
    // user inside day 1's trailing week — both DAU and WAU move, so the
    // prefix pin is non-vacuous. Duplicate (user, day) events across
    // batches must not double-count.
    def e(id: Long, d: Int, u: Long) =
      Evt(id, java.sql.Timestamp.valueOf(f"2024-03-$d%02d 12:00:00"), u, "view", 0)
    val batch1 = Seq(e(1, 1, 1), e(2, 1, 2), e(3, 2, 1))
    val batch2 = Seq(e(4, 2, 1), e(5, 2, 3), e(6, 8, 1))
    def batchOf(evs: Seq[Evt]) =
      graft.ops.EventAnalytics.activeUsers(evs.toDF()).collect()
        .map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1), r.getLong(2))).toSeq
    val refresh = new Streaming.ActiveUsersRefresh
    val input = MemoryStream[Evt](spark)
    val q = input.toDF().writeStream
      .foreachBatch(refresh.update _).outputMode("update").start()
    input.addData(batch1); q.processAllAvailable()
    val snap1 = refresh.counts.get.collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1), r.getLong(2))).toSeq
    assert(snap1 === batchOf(batch1))
    input.addData(batch2); q.processAllAvailable(); q.stop()
    val snap2 = refresh.counts.get.collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1), r.getLong(2))).toSeq
    assert(snap2 === batchOf(batch1 ++ batch2))
    assert(snap1 !== snap2) // batch 2 really moved the counts
  }

  test("concurrency sweep line: carry-in across midnight, earliest-peak tie, " +
    "point sessions invisible (B10, r8)") {
    def e(id: Long, u: Long, t: String) =
      Evt(id, Timestamp.valueOf(t), u, "view", 0)
    val events = Seq(
      e(1, 1, "2024-03-01 23:00:00"), e(2, 1, "2024-03-01 23:20:00"), // s1 [23:00,23:20]
      e(3, 2, "2024-03-01 23:10:00"),                                 // point session: +1/-1 cancel
      e(4, 3, "2024-03-01 23:50:00"), e(5, 3, "2024-03-02 00:10:00"), // straddles midnight
      e(6, 4, "2024-03-02 00:05:00"), e(7, 4, "2024-03-02 00:15:00"),
      e(8, 5, "2024-03-02 00:20:00"), e(9, 5, "2024-03-02 00:30:00"),
      e(10, 6, "2024-03-02 00:25:00"), e(11, 6, "2024-03-02 00:28:00"))
    val out = Streaming.concurrency(events.toDF()).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getTimestamp(3).toString, r.getLong(4))).toMap
    val d1 = java.time.LocalDate.parse("2024-03-01").toEpochDay.toInt
    // day 1: curve 1,1,0,1 over 4 instants (the point session nets to
    // zero and never lifts the curve); peak 1 first attained at 23:00
    assert(out(d1) === ((0L, 1L, "2024-03-01 23:00:00.0", 4L)))
    // day 2: carry-in 1 (user 3 still open); curve 2,1,0,1,2,1,0 over
    // 7 instants — peak 2 attained at 00:05 AND 00:25, earliest wins
    assert(out(d1 + 1) === ((1L, 2L, "2024-03-02 00:05:00.0", 7L)))
  }

  test("concurrency streaming refresh: snapshot == batch on the prefix, " +
    "including a retroactive cross-batch session bridge (B10, r8)") {
    def e(id: Long, u: Long, t: String) =
      Evt(id, Timestamp.valueOf(t), u, "view", 0)
    // batch 1 leaves user 1 with TWO separate sessions around user 2's
    // [10:30, 10:45] session (peak 1 — nothing overlaps); batch 2's
    // events at 10:40 and 11:05 bridge user 1's sessions (every gap
    // < 30 min) into ONE [10:00, 11:30] span that now COVERS user 2 —
    // the retroactive merge lifts the peak to 2.
    val batch1 = Seq(e(1, 1, "2024-03-01 10:00:00"), e(2, 1, "2024-03-01 10:20:00"),
      e(3, 1, "2024-03-01 11:30:00"),
      e(4, 2, "2024-03-01 10:30:00"), e(5, 2, "2024-03-01 10:45:00"))
    val batch2 = Seq(e(6, 1, "2024-03-01 10:40:00"), e(7, 1, "2024-03-01 11:05:00"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val refresh = new Streaming.SessionConcurrencyRefresh
    val input = MemoryStream[Evt](spark)
    val q = input.toDF().writeStream
      .foreachBatch(refresh.update _).outputMode("update").start()
    input.addData(batch1); q.processAllAvailable()
    val snap1 = rows(refresh.curve.get)
    assert(snap1 === rows(Streaming.concurrency(batch1.toDF())))
    input.addData(batch2); q.processAllAvailable(); q.stop()
    val snap2 = rows(refresh.curve.get)
    assert(snap2 === rows(Streaming.concurrency((batch1 ++ batch2).toDF())))
    assert(snap1 !== snap2) // the bridge really changed the curve
    // the bridged state really holds ONE user-1 session: peak over the
    // whole span is 2 only while user 2 overlaps
    val all = (batch1 ++ batch2).toDF()
    val d = Streaming.concurrency(all).collect()
    assert(d.map(_.getLong(2)).max === 2L)
  }

  test("concurrency refresh state is bounded: immutable sessions freeze into " +
    "the delta aggregate, curve stays == batch (B10, r9)") {
    def e(id: Long, u: Long, t: String) =
      Evt(id, Timestamp.valueOf(t), u, "view", 0)
    // 40 users with closed morning sessions, then the frontier jumps to
    // the evening: every morning interval ends > lateness + gap behind
    // the frontier and must leave the open set — yet the full-history
    // curve must still equal the batch sweep line on ALL events.
    val morning = (1 to 40).flatMap { u =>
      Seq(e(u * 2L, u, f"2024-03-01 08:${u % 50}%02d:00"),
        e(u * 2L + 1, u, f"2024-03-01 08:${(u % 50) + 5}%02d:00"))
    }
    val evening = Seq(e(1001, 500, "2024-03-01 20:00:00"),
      e(1002, 500, "2024-03-01 20:10:00"),
      e(1003, 501, "2024-03-01 20:05:00"), e(1004, 501, "2024-03-01 20:20:00"))
    val refresh = new Streaming.SessionConcurrencyRefresh("1 hour")
    refresh.update(morning.toDF(), 0L)
    val openAfterMorning = refresh.openCount
    refresh.update(evening.toDF(), 1L)
    // eviction: the 40 morning sessions are > 1h30m behind the 20:20
    // frontier — only the 2 evening sessions may stay revisable
    assert(refresh.openCount === 2L,
      s"open set held ${refresh.openCount} intervals, expected the 2 evening ones")
    assert(refresh.openCount < openAfterMorning)
    assert(refresh.frozenRows > 0L, "nothing froze")
    // exactness across the freeze seam: curve == batch on all events
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(refresh.curve.get) ===
      rows(Streaming.concurrency((morning ++ evening).toDF())))
  }

  test("concurrency refresh compacts finished days: frozen state bounded by " +
    "trailing days under a multi-day replay, curve stays == batch (B10, r10)") {
    def e(id: Long, u: Long, t: String) =
      Evt(id, Timestamp.valueOf(t), u, "view", 0)
    // 8 days, 3 users/day with two overlapping sessions each (plus one
    // session straddling midnight on day 3, exercising the cross-day
    // carry through compacted rows), fed chronologically one day per
    // micro-batch
    val days = (1 to 8).map { d =>
      val base = (d - 1) * 100L
      Seq(
        e(base + 1, base + 1, f"2024-03-$d%02d 09:00:00"),
        e(base + 2, base + 1, f"2024-03-$d%02d 09:20:00"),
        e(base + 3, base + 2, f"2024-03-$d%02d 09:10:00"),
        e(base + 4, base + 2, f"2024-03-$d%02d 09:30:00"),
        e(base + 5, base + 3, f"2024-03-$d%02d 10:00:00"),
        e(base + 6, base + 3, f"2024-03-$d%02d 10:15:00")) ++
        (if (d == 3) Seq(e(base + 7, base + 4, "2024-03-03 23:50:00"),
          e(base + 8, base + 4, "2024-03-04 00:10:00"))
         else Seq.empty)
    }
    val refresh = new Streaming.SessionConcurrencyRefresh("1 hour")
    days.zipWithIndex.foreach { case (b, i) => refresh.update(b.toDF(), i.toLong) }
    // all boundaries of days 1..7 are > 1h30m behind the day-8 frontier
    // and no open interval starts before day 8 — those days must be GONE
    // from the instant-grain state and present as one final row each
    assert(refresh.compactedDays === 7L,
      s"expected 7 finished days, got ${refresh.compactedDays}")
    // trailing instant state: at most the last day's boundaries
    assert(refresh.frozenRows <= 12L,
      s"frozen instants not bounded by the trailing day: ${refresh.frozenRows}")
    // bit-identity across the compaction seam, midnight straddle included
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(refresh.curve.get) ===
      rows(Streaming.concurrency(days.flatten.toDF())))
  }

  test("series-triad streaming refresh: per-trigger trend/changepoint/autocorr " +
    "snapshots == batch kernels on the event prefix (B06, r8)") {
    // purchase rows feed all three kernels (autocorr is purchase-only);
    // batch 2 extends the day span and shifts the level, so slope,
    // changepoint day, and lag moments ALL move — non-vacuous pins.
    // A duplicate (type, day) split across batches must fold by sum.
    def e(id: Long, d: Int, v: Double, ty: String = "purchase") =
      Evt(id, Timestamp.valueOf(f"2024-03-$d%02d 09:00:00"), 1L, ty, v)
    val batch1 = Seq(e(1, 1, 10.0), e(2, 2, 12.0), e(3, 2, 3.0),
      e(4, 4, 14.0), e(5, 1, 5.0, "view"))
    val batch2 = Seq(e(6, 4, 2.0), e(7, 5, 40.0), e(8, 6, 44.0),
      e(9, 7, 48.0), e(10, 3, 7.0, "view"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val refresh = new Streaming.SeriesTrendRefresh
    val input = MemoryStream[Evt](spark)
    val q = input.toDF().writeStream
      .foreachBatch(refresh.update _).outputMode("update").start()
    input.addData(batch1); q.processAllAvailable()
    val trend1 = rows(refresh.trend.get)
    assert(trend1 === rows(graft.ops.EventAnalytics.trend(batch1.toDF())))
    assert(rows(refresh.changepoint.get) ===
      rows(graft.ops.EventAnalytics.changepoint(batch1.toDF())))
    assert(rows(refresh.autocorr.get) ===
      rows(graft.ops.EventAnalytics.autocorr(batch1.toDF())))
    input.addData(batch2); q.processAllAvailable(); q.stop()
    val all = (batch1 ++ batch2).toDF()
    val trend2 = rows(refresh.trend.get)
    assert(trend2 === rows(graft.ops.EventAnalytics.trend(all)))
    assert(rows(refresh.changepoint.get) ===
      rows(graft.ops.EventAnalytics.changepoint(all)))
    assert(rows(refresh.autocorr.get) ===
      rows(graft.ops.EventAnalytics.autocorr(all)))
    // the fourth kernel over the same state (r10): seasonal snapshot ==
    // batch decomposition on the prefix
    assert(rows(refresh.seasonal.get) ===
      rows(graft.ops.EventAnalytics.seasonalOfDaily(
        graft.ops.EventAnalytics.dailyCents(all))))
    assert(trend1 !== trend2) // batch 2 really moved the line
  }

  test("cross-corpus streaming sink: union of per-batch hits == batch kernel " +
    "on the union, incl. hot-bucket witness path (B10xB12, r7)") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 29).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (100 to 130).map(i => s"word$i").mkString(" ")
    val flood = (300 to 330).map(i => s"hot$i").mkString(" ")
    // reference: base, other, and a 300-doc identical flood (over
    // MaxBucket=256 → incoming flood matches get ONE bucket-min witness)
    val ref = (Seq((101L, base), (103L, other)) ++
      (1 to 300).map(i => (1000L + i, flood))).toDF("doc_id", "text")
    val batch1 = Seq((1L, nearDup), (2L, (200 to 230).map(i => s"new$i").mkString(" ")))
    val batch2 = Seq((3L, base), (4L, flood))
    val sink = new Streaming.CrossNearDupSink(ref)
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(sink.update _).outputMode("update").start()
    input.addData(batch1); q.processAllAvailable()
    val afterB1 = sink.pairs.get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterB1 === Set((1L, 101L))) // batch-1 prefix: only the near-dup
    input.addData(batch2); q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    val streamed = sink.pairs.get.collect().map(key).toSet
    val batch = graft.dedup.Dedup.minHashNearDupAcross(
      (batch1 ++ batch2).toDF("doc_id", "text"), ref).collect().map(key).toSet
    assert(streamed === batch, s"streamed=$streamed batch=$batch")
    // the flood match was answered by the single bucket-min witness
    assert(streamed.count(_._1 == 4L) === 1)
    assert(streamed.exists(p => p._1 == 4L && p._2 == 1001L))
  }

  test("band-index refresh: N micro-batches through the extend seams == " +
    "the fresh one-shot index, bit-identical (B12 lifecycle, r10)") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").filter($"doc_id" < 120)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(docs.size > 60, "fixture too small to form 3 micro-batches")
    val refresh = new Streaming.BandIndexRefresh(3)
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(refresh.update _).outputMode("update").start()
    val groups = docs.grouped(docs.size / 3 + 1).toSeq
    groups.zipWithIndex.foreach { case (g, i) =>
      input.addData(g); q.processAllAvailable()
      // mid-stream segment merge (r10): content-identical, plan width 1
      if (i == 1) refresh.compactSegments()
    }
    q.stop()
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val all = docs.toDF("doc_id", "text")
    val fresh = graft.dedup.Dedup.portableShingleHashes(all, 3)
    assert(sortedRows(refresh.shingleIndex.get) === sortedRows(fresh))
    assert(sortedRows(refresh.bandIndex.get) ===
      sortedRows(graft.dedup.Dedup.portableBandsOf(fresh)))
  }

  test("ANN index refresh lifecycle: O(batch) inserts defer the hierarchy, " +
    "scheduled compaction restores the canonical build, invariants hold at " +
    "every trigger, served search keeps recall (B12 lifecycle, r10)") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val batches = (0 until 4).map(r =>
      emb.filter($"vec_id" % 4 === r).collect()
        .map(x => (x.getLong(0), x.getSeq[Float](1))).toSeq)
    // compactEvery=3: trigger 0 builds, 1-2 insert, 3 inserts THEN compacts
    val refresh = new Streaming.AnnIndexRefresh(compactEvery = 3)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(refresh.update _).outputMode("update").start()
    val insertedIds = (batches(1) ++ batches(2) ++ batches(3)).map(_._1).toSet
    var preCompactionUpper = -1L
    batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b); q.processAllAvailable()
      val adj = refresh.adjacency.get
      // degree invariant (R = 12) at EVERY trigger, insert or compact
      val deg = adj.groupBy($"layer", $"src").agg(count(lit(1)).as("d"))
        .agg(max($"d")).head().getLong(0)
      assert(deg <= 12L, s"trigger $i: out-degree $deg exceeds R")
      if (i == 2) {
        // pre-compaction: inserted ids sit at the BASE layer only —
        // the insert path genuinely defers hierarchy membership
        preCompactionUpper = adj.filter($"layer" > 0)
          .filter($"src".isin(insertedIds.toSeq: _*) ||
            $"dst".isin(insertedIds.toSeq: _*)).count()
        assert(preCompactionUpper === 0L,
          s"inserts leaked $preCompactionUpper rows into upper layers")
      }
    }
    q.stop()
    // post-compaction: bit-identical to the canonical build over ALL
    // vectors — the re-level merge restored every level invariant
    val canonical = graft.similarity.Similarity.hnswCompact(emb)
    val got = refresh.adjacency.get
    assert(got.exceptAll(canonical).count() === 0L &&
      canonical.exceptAll(got).count() === 0L,
      "compacted state differs from the canonical from-scratch build")
    // and the climb is non-vacuous: some inserted ids DO live on upper
    // layers canonically (their md5 draw), which inserts had deferred
    val upperNow = got.filter($"layer" > 0)
      .filter($"src".isin(insertedIds.toSeq: _*) ||
        $"dst".isin(insertedIds.toSeq: _*)).count()
    assert(upperNow > 0L, "no inserted id climbed at compaction — vacuous pin")
    // served search against the maintained state clears the floor
    val gotTopk = refresh.topK(col("vec_id") % 100 === 0).get
      .select($"query_id", $"vec_id")
    val truth = graft.similarity.Similarity.bruteForceTopK(
      emb, col("vec_id") % 100 === 0, k = 10).select($"query_id", $"vec_id")
    val hits = gotTopk.join(truth, Seq("query_id", "vec_id")).count().toDouble
    assert(hits / truth.count() >= 0.7,
      f"post-lifecycle recall ${hits / truth.count()}%.2f below 0.7")
  }

  test("foreachBatch harvest sink merges micro-batches with stable ids (B10/A21)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[String](spark)
    val bindings = input.toDF().select(
      col("value").as("concept"),
      lit(null).cast("string").as("prefLabel"),
      lit(null).cast("string").as("altLabel"),
      lit(null).cast("string").as("definition"))
    val q = bindings.writeStream
      .foreachBatch(Streaming.harvestSink(dir, Timestamp.valueOf("2026-01-01 00:00:00")) _)
      .outputMode("append").start()
    input.addData("https://v.example/t/b"); q.processAllAvailable()
    input.addData("https://v.example/t/a", "https://v.example/t/b"); q.processAllAvailable()
    q.stop()
    val terms = spark.read.parquet(s"$dir/terms").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(terms.toSeq === Seq((1L, "https://v.example/t/b"), (2L, "https://v.example/t/a")))
  }

  /** r12 (VERDICT r11 #1): the streamed incremental harvest runs the FULL
    * per-trigger pipeline (A11 → A14 → A13 → A15 → A21) — not just the
    * terms upsert — and its store is BIT-IDENTICAL to the one-shot batch
    * job on the same bindings when batches arrive URI-sorted (the
    * reference's paginated ORDER BY delivery). Out-of-order arrival keeps
    * content parity (ids dense, natural keys identical). */
  test("streamed harvestSink == HarvestJob.run bit-identically under sorted " +
    "delivery; content parity out of order (B10/A11/A13/A14/A15/A21)") {
    val asOf = Timestamp.valueOf("2026-03-01 00:00:00")
    // fixture: concepts with all three melt vars exercised, incl. a
    // no-field concept (all labels null) and a repeated EAV value
    def b(uri: String, pref: String, alt: String, defn: String) =
      (uri, Option(pref).orNull, Option(alt).orNull, Option(defn).orNull)
    val rows = Seq(
      b("https://v.example/t/a", "label a", "alt a", "def a"),
      b("https://v.example/t/b", null, "alt b", null),
      b("https://v.example/t/c", "label c", null, "def c"),
      b("https://v.example/t/d", null, null, null), // term without fields
      b("https://v.example/t/e", "label e", "alt e1", "def e"),
      b("https://v.example/t/e", "label e", "alt e2", "def e"))
    def mk(rs: Seq[(String, String, String, String)]) =
      rs.toDF("concept", "prefLabel", "altLabel", "definition")
    // one-shot batch job over the concatenated bindings
    val batchDir = java.nio.file.Files.createTempDirectory("graft_hj").toString
    val sortedDir = java.nio.file.Files.createTempDirectory("graft_shv1").toString
    val oooDir = java.nio.file.Files.createTempDirectory("graft_shv2").toString
    try {
    val bindingsPath = s"$batchDir/bindings.parquet"
    mk(rows).write.parquet(bindingsPath)
    graft.harvest.HarvestJob.run(spark, graft.harvest.HarvestJob.Config(
      "https://v.example/collection", bindingsPath, s"$batchDir/store", asOf))
    def table(dir: String, name: String) =
      spark.read.parquet(s"$dir/$name").collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
    // streamed, URI-sorted batches: a,b | c,d | e — every id, timestamp,
    // and field row must equal the batch job's
    Streaming.harvestSink(sortedDir, asOf)(mk(rows.filter(_._1 <= "https://v.example/t/b")), 0L)
    Streaming.harvestSink(sortedDir, asOf)(mk(rows.filter(r =>
      r._1 > "https://v.example/t/b" && r._1 <= "https://v.example/t/d")), 1L)
    Streaming.harvestSink(sortedDir, asOf)(mk(rows.filter(_._1 > "https://v.example/t/d")), 2L)
    // all six store tables, the four workflow tables the run never fills
    // included
    for ((name, _) <- graft.harvest.Schemas.allTables) {
      assert(new java.io.File(s"$sortedDir/$name").isDirectory, s"$name missing")
      assert(table(sortedDir, name) === table(s"$batchDir/store", name), name)
    }
    // the melt really ran: the e-concept fan-out landed as two altLabel rows
    val eFields = spark.read.parquet(s"$sortedDir/term_fields")
      .filter(col("field_term") === "skos:altLabel").count()
    assert(eFields >= 3L, "melt leg missing — terms-only store (the r11 drift)")
    // out-of-order batches: e | a,b | c,d — ids shift to arrival order
    // (AUTOINCREMENT semantics) but natural-key content is identical
    Streaming.harvestSink(oooDir, asOf)(mk(rows.filter(_._1 > "https://v.example/t/d")), 0L)
    Streaming.harvestSink(oooDir, asOf)(mk(rows.filter(_._1 <= "https://v.example/t/b")), 1L)
    Streaming.harvestSink(oooDir, asOf)(mk(rows.filter(r =>
      r._1 > "https://v.example/t/b" && r._1 <= "https://v.example/t/d")), 2L)
    def content(dir: String) = {
      val t = spark.read.parquet(s"$dir/terms").select(col("id"), col("uri"))
      val f = spark.read.parquet(s"$dir/term_fields")
        .select(col("term_id"), col("field_uri"), col("field_term"), col("original_value"))
      val joined = t.join(f, t("id") === f("term_id"), "left_outer")
        .select(col("uri"), col("field_uri"), col("field_term"), col("original_value"))
      joined.collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    assert(content(oooDir) === content(s"$batchDir/store"))
    val oooIds = spark.read.parquet(s"$oooDir/terms").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(oooIds === (1L to oooIds.length).toSeq, "ids not dense under out-of-order arrival")
    // r13 (VERDICT r12 #4): the OPTIONAL order-insensitive id mode — a
    // compaction-time uri-sorted renumber restores BIT-parity with the
    // batch job under the shuffled delivery above (both tables, ids AND
    // timestamps), while the sink default stays arrival-order
    Streaming.renumberHarvestStore(spark, oooDir)
    assert(table(oooDir, "terms") === table(s"$batchDir/store", "terms"))
    assert(table(oooDir, "term_fields") === table(s"$batchDir/store", "term_fields"))
    // and the renumber is IDEMPOTENT — on an already-canonical store
    // (the sorted-delivery one, bit-equal to batch) it is the identity
    Streaming.renumberHarvestStore(spark, sortedDir)
    assert(table(sortedDir, "terms") === table(s"$batchDir/store", "terms"))
    assert(table(sortedDir, "term_fields") === table(s"$batchDir/store", "term_fields"))
    } finally Seq(batchDir, sortedDir, oooDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("heavy-hitters aggregator runs under streaming update mode, exact regime == batch (B05xB10)") {
    val input = MemoryStream[Evt](spark)
    val hh = udaf(new graft.functions.HeavyHittersAgg(16))
    val agg = input.toDF().groupBy().agg(hh($"event_type").as("hh"))
    val q = agg.writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    val b1 = Seq(Evt(1, t(0), 1, "view", 0), Evt(2, t(1), 1, "view", 0),
      Evt(3, t(2), 2, "click", 0))
    val b2 = Seq(Evt(4, t(3), 2, "view", 0), Evt(5, t(4), 3, "signup", 0))
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hh_stream").select(explode($"hh").as("e"))
      .select($"e._1", $"e._2").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // exact regime (16 >= 3 distinct): equals exact counts, (count desc, item asc)
    assert(streamed === Seq("view" -> 3L, "click" -> 1L, "signup" -> 1L))
  }

  test("streaming retention == batch retention triangle on in-order events, across batches (B10)") {
    def d(day: Int, hh: Int) = Timestamp.valueOf(f"2026-01-$day%02d $hh%02d:00:00")
    // u1 active days 1,2,4 (two events on day 2 → ONE hit); u2 days 2,3;
    // u3 day 1 only. u1's day-4 event crosses micro-batches via state.
    val b1 = Seq(
      Evt(1, d(1, 8), 1, "view", 0), Evt(2, d(2, 9), 1, "click", 0),
      Evt(3, d(2, 10), 1, "view", 0),
      Evt(4, d(2, 8), 2, "view", 0),
      Evt(5, d(1, 9), 3, "view", 0))
    val b2 = Seq(
      Evt(6, d(4, 8), 1, "purchase", 0),
      Evt(7, d(3, 8), 2, "click", 0))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.retentionStream(input.toDF()).writeStream
      .format("memory").queryName("reten").outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("reten").groupBy("cohort_day", "day_offset")
      .count().collect()
      .map(r => ((r.getDate(0).toString, r.getInt(1)), r.getLong(2))).toMap
    val batch = graft.ops.EventAnalytics.retention((b1 ++ b2).toDF())
      .select($"cohort_day".cast("date"), $"day_offset", $"n_users").collect()
      .map(r => ((r.getDate(0).toString, r.getInt(1)), r.getLong(2))).toMap
    assert(streamed === batch)
    assert(streamed(("2026-01-01", 0)) === 2L) // u1 + u3 cohorted day 1
    assert(streamed(("2026-01-01", 3)) === 1L) // u1's cross-batch day-4 hit
    // horizon cap: offsets beyond maxOffsetDays are dropped, state stays bounded
    val input2 = MemoryStream[Evt](spark)
    val q2 = Streaming.retentionStream(input2.toDF(), maxOffsetDays = 2).writeStream
      .format("memory").queryName("reten_cap").outputMode("update").start()
    input2.addData(b1 ++ b2); q2.processAllAvailable()
    q2.stop()
    val capped = spark.table("reten_cap").select($"day_offset").collect().map(_.getInt(0))
    assert(capped.max <= 2 && !capped.contains(3))
  }

  test("streaming transitions == batch lag pairs on in-order events, across batches (B10)") {
    val b1 = Seq(
      Evt(1, t(0), 1, "signup", 0), Evt(2, t(1), 1, "view", 0),
      Evt(5, t(0), 2, "view", 0))
    val b2 = Seq(
      Evt(3, t(2), 1, "click", 0), // chains to batch-1's "view" via state
      Evt(6, t(1), 2, "view", 0), Evt(7, t(2), 2, "click", 0))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.transitionsStream(input.toDF()).writeStream
      .format("memory").queryName("trans").outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trans").groupBy("prev_type", "event_type")
      .count().collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val batch = graft.ops.EventAnalytics.transitions((b1 ++ b2).toDF())
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamed === batch)
    assert(streamed(("view", "click")) === 2L) // one of them crossed batches
  }

  test("streaming funnel == batch funnel chain on in-order events, across batches (B10)") {
    // u1 completes the funnel (split across two micro-batches); u2's
    // purchase precedes its click (chain must stop at click); u3 signup
    // only; u4's second step is at the EXACT signup ts (strict-after: no)
    val b1 = Seq(
      Evt(1, t(0), 1, "signup", 0), Evt(2, t(1), 1, "view", 0),
      Evt(5, t(0), 2, "signup", 0), Evt(6, t(1), 2, "view", 0),
      Evt(7, t(2), 2, "purchase", 0),
      Evt(9, t(0), 3, "signup", 0),
      Evt(10, t(0), 4, "signup", 0), Evt(11, t(0), 4, "view", 0))
    val b2 = Seq(
      Evt(3, t(2), 1, "click", 0), Evt(4, t(3), 1, "purchase", 0),
      Evt(8, t(3), 2, "click", 0))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.funnelStream(input.toDF()).writeStream
      .format("memory").queryName("funl").outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val reached = spark.table("funl").groupBy("user_id")
      .agg(max("step_idx").as("m")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reached === Map(1L -> 4, 2L -> 3, 3L -> 1, 4L -> 1))
    // batch twin on the union sees the same survivor counts per step
    val batch = graft.ops.EventAnalytics.funnel(
        (b1 ++ b2).toDF().select($"event_id", $"ts", $"user_id", $"event_type"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val streamCounts = (1 to 4).map(k => k -> reached.values.count(_ >= k).toLong).toMap
    assert(batch === streamCounts)
    // progress log records each advance with the qualifying event's time
    val u1 = spark.table("funl").filter($"user_id" === 1)
      .orderBy("step_idx").collect().map(r => (r.getInt(1), r.getTimestamp(3)))
    assert(u1.toSeq === Seq((1, t(0)), (2, t(1)), (3, t(2)), (4, t(3))))
  }

  test("rolling anomaly: spike after steady history flags; thin history never does (B10)") {
    // user 1: five steady 10.0 events, then a 30.0 spike (30·5 > 2·50),
    // then a 12.0 non-spike (12·6 <= 2·80). user 2: big jump but only 4
    // events of history -> below the trail_n >= 5 floor, never flagged.
    val evts =
      (0 until 5).map(i => Evt(i, t(i), 1, "m", 10.0)) ++ Seq(
        Evt(5, t(5), 1, "m", 30.0), Evt(6, t(6), 1, "m", 12.0)) ++
      (0 until 4).map(i => Evt(10 + i, t(i), 2, "m", 1.0)) ++ Seq(
        Evt(14, t(4), 2, "m", 99.0))
    val out = Streaming.rollingAnomaly(evts.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getDouble(5)))
    assert(out.map(_._1).toSeq === Seq(5L))
    assert(out.head._2 === 5L && out.head._3 === 50.0)
  }

  test("rollingAnomalyStream == batch flags across micro-batch boundaries (B10)") {
    // history accumulates in batch 1; the spike arrives in batch 2 —
    // state (the cents deque) must carry across
    val b1 = (0 until 5).map(i => Evt(i, t(i), 1, "m", 10.0))
    val b2 = Seq(Evt(5, t(5), 1, "m", 30.0), Evt(6, t(6), 1, "m", 12.0),
      Evt(7, t(7), 2, "m", 99.0))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.rollingAnomalyStream(input.toDF()).writeStream
      .format("memory").queryName("anom").outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table("anom").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getDouble(5))).toSet
    val batch = Streaming.rollingAnomaly((b1 ++ b2).toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getDouble(5))).toSet
    assert(stream === batch && stream === Set((5L, 5L, 50.0)))
  }

  test("funnelStreamOrdered == batch funnel under shuffled cross-batch delivery (B10)") {
    // The SAME event-time history as the in-order funnel spec, but
    // delivered deliberately scrambled across micro-batches: u1's
    // click+purchase arrive a batch BEFORE its signup+view; u2's
    // purchase (event-time BEFORE its click — chain must stop at click)
    // arrives last. funnelStream would under-count u1 (signup arriving
    // after click can't retro-advance); the watermark-buffered variant
    // must match the batch twin exactly.
    val all = Seq(
      Evt(1, t(0), 1, "signup", 0), Evt(2, t(1), 1, "view", 0),
      Evt(3, t(2), 1, "click", 0), Evt(4, t(3), 1, "purchase", 0),
      Evt(5, t(0), 2, "signup", 0), Evt(6, t(1), 2, "view", 0),
      Evt(7, t(2), 2, "purchase", 0), Evt(8, t(3), 2, "click", 0),
      Evt(9, t(0), 3, "signup", 0),
      Evt(10, t(0), 4, "signup", 0), Evt(11, t(0), 4, "view", 0))
    val b1 = all.filter(e => Seq(3L, 4L, 7L).contains(e.event_id))  // late-chain first
    val b2 = all.filterNot(e => Seq(3L, 4L, 7L).contains(e.event_id))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.funnelStreamOrdered(input.toDF()).writeStream
      .format("memory").queryName("funlord").outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // two sentinel batches: the first advances the watermark past every
    // real event, the second triggers the event-time timeouts under it
    input.addData(Seq(Evt(90, Timestamp.valueOf("2026-01-01 13:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    input.addData(Seq(Evt(91, Timestamp.valueOf("2026-01-01 15:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    q.stop()
    val reached = spark.table("funlord").filter($"user_id" =!= 9)
      .groupBy("user_id").agg(max("step_idx").as("m")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reached === Map(1L -> 4, 2L -> 3, 3L -> 1, 4L -> 1))
    // identical to the batch funnel on the union — the hardening contract
    val batch = graft.ops.EventAnalytics.funnel(
        all.toDF().select($"event_id", $"ts", $"user_id", $"event_type"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val streamCounts = (1 to 4).map(k => k -> reached.values.count(_ >= k).toLong).toMap
    assert(batch === streamCounts)
    // u1's progress log carries the true event times, not arrival times
    val u1 = spark.table("funlord").filter($"user_id" === 1)
      .orderBy("step_idx").collect().map(r => (r.getInt(1), r.getTimestamp(3)))
    assert(u1.toSeq === Seq((1, t(0)), (2, t(1)), (3, t(2)), (4, t(3))))
  }

  test("transitionsStreamOrdered == batch lag pairs under reversed delivery (B10)") {
    // u1's three events arrive in REVERSE event-time order across
    // batches — the plain twin would emit the wrong adjacencies
    // (click→view, view→signup); the buffered twin must emit the true
    // event-time chain signup→view→click
    val all = Seq(
      Evt(1, t(0), 1, "signup", 0), Evt(2, t(1), 1, "view", 0),
      Evt(3, t(2), 1, "click", 0),
      Evt(5, t(0), 2, "view", 0), Evt(6, t(1), 2, "view", 0))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.transitionsStreamOrdered(input.toDF()).writeStream
      .format("memory").queryName("transord").outputMode("update").start()
    input.addData(Seq(all(2), all(4))); q.processAllAvailable() // click + a u2 event first
    input.addData(Seq(all(1), all(0), all(3))); q.processAllAvailable()
    input.addData(Seq(Evt(90, Timestamp.valueOf("2026-01-01 13:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    input.addData(Seq(Evt(91, Timestamp.valueOf("2026-01-01 15:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("transord").filter($"user_id" =!= 9)
      .groupBy("prev_type", "event_type")
      .count().collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val batch = graft.ops.EventAnalytics.transitions(all.toDF())
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamed === batch)
    assert(streamed(("signup", "view")) === 1L && streamed(("view", "click")) === 1L)
    assert(!streamed.contains(("click", "view"))) // arrival order never leaks
  }

  test("pathsStream == batch 3-gram path counts under reversed delivery (B10)") {
    // u1: 4 events delivered in reverse event-time order across batches —
    // true paths are signup>view>click and view>click>purchase; u2 has
    // only 2 events (no path)
    val all = Seq(
      Evt(1, t(0), 1, "signup", 0), Evt(2, t(1), 1, "view", 0),
      Evt(3, t(2), 1, "click", 0), Evt(4, t(3), 1, "purchase", 0),
      Evt(5, t(0), 2, "view", 0), Evt(6, t(1), 2, "view", 0))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.pathsStream(input.toDF()).writeStream
      .format("memory").queryName("pathord").outputMode("update").start()
    input.addData(Seq(all(3), all(2), all(5))); q.processAllAvailable()
    input.addData(Seq(all(1), all(0), all(4))); q.processAllAvailable()
    input.addData(Seq(Evt(90, Timestamp.valueOf("2026-01-01 13:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    input.addData(Seq(Evt(91, Timestamp.valueOf("2026-01-01 15:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pathord").filter($"user_id" =!= 9)
      .groupBy("path").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch twin: topPaths with the limit wide open, same fixture
    val batch = graft.ops.EventAnalytics.topPaths(all.toDF(), k = 1000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed === Map("signup>view>click" -> 1L, "view>click>purchase" -> 1L))
  }

  test("retentionStreamOrdered re-anchors nothing: late-arriving FIRST day sets the cohort (B10)") {
    def d(day: Int, hh: Int) = Timestamp.valueOf(f"2026-01-$day%02d $hh%02d:00:00")
    // u1's day-2 event arrives a batch BEFORE its true day-1 first event
    // (disorder < the 1-day watermark? use a 3-day horizon). The plain
    // twin would cohort u1 at day 2 and mis-offset everything after.
    val all = Seq(
      Evt(1, d(1, 8), 1, "view", 0), Evt(2, d(2, 9), 1, "click", 0),
      Evt(3, d(4, 8), 1, "view", 0),
      Evt(4, d(1, 9), 2, "view", 0))
    val input = MemoryStream[Evt](spark)
    val q = Streaming.retentionStreamOrdered(input.toDF(), disorder = "3 days").writeStream
      .format("memory").queryName("retenord").outputMode("update").start()
    input.addData(Seq(all(1), all(3))); q.processAllAvailable() // day-2 first
    input.addData(Seq(all(0), all(2))); q.processAllAvailable() // true day-1 late
    input.addData(Seq(Evt(90, Timestamp.valueOf("2026-01-20 00:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    input.addData(Seq(Evt(91, Timestamp.valueOf("2026-02-10 00:00:00"), 9, "z", 0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("retenord").filter($"user_id" =!= 9)
      .groupBy("cohort_day", "day_offset").count().collect()
      .map(r => ((r.getDate(0).toString, r.getInt(1)), r.getLong(2))).toMap
    val batch = graft.ops.EventAnalytics.retention(all.toDF())
      .select($"cohort_day".cast("date"), $"day_offset", $"n_users").collect()
      .map(r => ((r.getDate(0).toString, r.getInt(1)), r.getLong(2))).toMap
    assert(streamed === batch)
    assert(streamed(("2026-01-01", 0)) === 2L) // u1 cohorted day 1 despite arrival order
    assert(streamed(("2026-01-01", 1)) === 1L && streamed(("2026-01-01", 3)) === 1L)
  }

  test("rollingAnomalyStream single-user firehose: state rows stay == users, flags == batch (B10)") {
    // one user × 20k events across two micro-batches — the per-user
    // state must remain ONE row (the ≤10-entry cents deque), not grow
    // with the stream; flags must equal the batch twin's on the union
    val n = 20000
    val evts = (0 until n).map { i =>
      // a spike every 1000th event after a steady run
      val v = if (i % 1000 == 999) 50.0 else 10.0
      Evt(i.toLong, new Timestamp(t(0).getTime + i * 1000L), 1L, "m", v)
    }
    val (b1, b2) = evts.splitAt(n / 2)
    val input = MemoryStream[Evt](spark)
    val q = Streaming.rollingAnomalyStream(input.toDF()).writeStream
      .format("memory").queryName("anomfire").outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(stateRows === 1L) // one state row for one user — O(users), not O(events)
    val stream = spark.table("anomfire").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = Streaming.rollingAnomaly(evts.toDF()).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(stream === batch && stream.nonEmpty)
  }

  test("count-min sink: snapshot matrix == batch kernel on the stream prefix (B5, r7)") {
    val sink = new Streaming.CountMinSink(d = 4, w = 64L)
    val b1 = Seq.fill(100)("7") ++ (100 to 150).map(_.toString)
    val b2 = Seq.fill(30)("7") ++ (140 to 190).map(_.toString)
    def batchMatrix(keys: Seq[String]) =
      graft.ops.Relational.countMinMatrix(keys.toDF("k"), 4, 64L)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def snapMatrix() = sink.matrix.get
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val input = MemoryStream[String](spark)
    val q = input.toDF().toDF("k").writeStream
      .foreachBatch(sink.update _).outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    assert(snapMatrix() === batchMatrix(b1))
    input.addData(b2); q.processAllAvailable(); q.stop()
    assert(snapMatrix() === batchMatrix(b1 ++ b2)) // cell-wise merge exact
    // estimates from the accumulated matrix honor the one-sided bound
    val est = sink.estimates(Seq(7L, 100L, 145L).toDF("key"))
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est(7L) >= 130L)   // the hot key across both batches
    assert(est(100L) >= 1L)
    assert(est(145L) >= 2L)   // present in both batches
  }

  test("count-min sink: the first trigger cuts its delta once — the same " +
    "jobs as one eager cut of the batch kernel") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val keys = (Seq.fill(50)("7") ++ (1 to 80).map(_.toString)).toDF("k")
    val tag = java.util.UUID.randomUUID().toString
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(s"$g-$tag", g)
      try body finally sc.clearJobGroup()
    }
    def jobs(g: String): Int = sc.statusTracker.getJobIdsForGroup(s"$g-$tag").length
    inGroup("kernel") { graft.ops.Relational.countMinMatrix(keys, 4, 64L).localCheckpoint(true) }
    inGroup("sink") { new Streaming.CountMinSink(d = 4, w = 64L).update(keys, 0L) }
    // the status tracker is fed by the listener bus in event order: once
    // a later job is visible, both groups' jobs are all registered
    inGroup("sentinel") { sc.parallelize(Seq(1)).count() }
    eventually(timeout(30.seconds), interval(50.millis)) { assert(jobs("sentinel") === 1) }
    assert(jobs("kernel") > 0)
    assert(jobs("sink") === jobs("kernel"))
  }

  test("AMS sink: snapshot z-table == batch kernel on the stream prefix (B5, r7)") {
    val sink = new Streaming.AmsSink
    val b1 = (1 to 300).map(i => ("g1", s"k${i % 37}")) ++
      (1 to 100).map(i => ("g2", s"k${i % 11}"))
    val b2 = (1 to 200).map(i => ("g1", s"k${i % 53}"))
    def batchZ(rows: Seq[(String, String)]) =
      graft.ops.Relational.amsZTable(rows.toDF("g", "k"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    def snapZ() = sink.zTable.get
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val input = MemoryStream[(String, String)](spark)
    val q = input.toDF().toDF("g", "k").writeStream
      .foreachBatch(sink.update _).outputMode("update").start()
    input.addData(b1); q.processAllAvailable()
    assert(snapZ() === batchZ(b1))
    input.addData(b2); q.processAllAvailable(); q.stop()
    assert(snapZ() === batchZ(b1 ++ b2)) // linear-sketch cell-wise merge exact
    // estimates from the accumulated counters match the batch finish
    val streamed = sink.estimates.get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Relational.amsEstimate(
        graft.ops.Relational.amsZTable((b1 ++ b2).toDF("g", "k")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }
}
