package graft.dedup

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // doc 2 is a near-duplicate of doc 1 (one token changed); doc 3 unrelated.
  private val base = (1 to 30).map(i => s"tok$i").mkString(" ")
  private val nearDup = ((1 to 29).map(i => s"tok$i") :+ "changed").mkString(" ")
  private val other = (100 to 130).map(i => s"word$i").mkString(" ")
  private def docs = Seq((1L, base), (2L, nearDup), (3L, other), (4L, base))
    .toDF("doc_id", "text")

  test("shingles: k-token windows, distinct, short docs dropped (B12)") {
    val sh = Dedup.shingles(Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text"), 3)
    assert(sh.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a b c"), (1L, "b c d")))
  }

  test("minhash LSH finds planted near-dups and exact dups, skips unrelated (B12)") {
    val pairs = Dedup.minHashNearDup(docs, k = 3, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // near-dup
    assert(pairs.contains((1L, 4L))) // exact dup → jaccard 1.0
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated
  }

  test("portable minhash: planted near/exact dups found with exact Jaccard values (B12)") {
    val out = Dedup.minHashPortable(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // base = 30 tokens → 28 distinct 3-gram shingles; nearDup differs in
    // the final token → only the last gram diverges
    assert(out((1L, 2L)) === ((27L, 28L, 28L)))
    assert(out((1L, 4L)) === ((28L, 28L, 28L))) // exact dup, jaccard 1
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // same verified pair set as the xxhash64 production path on this corpus
    val prod = Dedup.minHashNearDup(docs, k = 3, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.keySet === prod)
  }

  test("dedupClustersAtScale groups planted dups via LSH edges (B12 scale path)") {
    val out = Dedup.dedupClustersAtScale(docs, k = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1, 2 (near-dup), 4 (exact dup) cluster under min id 1
    assert(out(1L) === 1L && out(2L) === 1L && out(4L) === 1L)
    assert(!out.contains(3L)) // unrelated doc has no near-dup edge
  }

  test("hot LSH bucket is capped: planted degenerate corpus stays LINEAR in candidates") {
    // 2000 identical docs share every band → one 2000-doc bucket per band.
    // Uncapped that is ~2M candidate pairs; the star guard must emit
    // exactly n-1 representative edges instead.
    val n = 2000
    val flood = (1 to n).map(i => (i.toLong, base)).toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minHashSignaturesRow(flood, 3))
    val capped = Dedup.candidatePairs(bands)
    assert(capped.count() === (n - 1).toLong)
    // every star edge anchors at the bucket-minimum doc
    assert(capped.agg(org.apache.spark.sql.functions.min("a")).head().getLong(0) === 1L)
    // and the full pipeline still labels the flood as ONE component under
    // the minimum doc_id — the cap must not split the cluster
    val clusters = Dedup.dedupClustersAtScale(flood, k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.length === n)
    assert(clusters.forall(_._2 == 1L))
  }

  test("bucket cap leaves normal corpora untouched (capped == uncapped pairs)") {
    val bands = Dedup.lshBands(Dedup.minHashSignaturesRow(docs, 3))
    val capped = Dedup.candidatePairs(bands).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.candidatePairs(bands, maxBucket = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === uncapped && capped.nonEmpty)
  }

  test("simhash chunk join is capped: identical-doc flood emits star edges only") {
    val n = 1000
    val flood = (1 to n).map(i => (i.toLong, base)) :+ ((5000L, other))
    val pairs = Dedup.simHashNearDup(flood.toDF("doc_id", "text"), maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    // n-1 star edges, all at Hamming 0, all anchored at doc 1; the
    // unrelated doc joins nothing
    assert(pairs.length === n - 1)
    assert(pairs.forall { case ((a, _), h) => a == 1L && h == 0 })
    assert(!pairs.exists { case ((a, b), _) => a == 5000L || b == 5000L })
  }

  test("canonicalText collapses case/punctuation/whitespace variants to one hash (B11)") {
    import org.apache.spark.sql.functions.sha2
    val variants = Seq(
      "Hello, World!  This is   GRAFT.",
      "hello world this is graft",
      "HELLO WORLD — this is graft?!",
      "a different document entirely")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val hashes = variants.select(sha2(Dedup.canonicalText($"text"), 256)).collect()
      .map(_.getString(0))
    assert(hashes(0) === hashes(1), "punctuated vs plain must collapse")
    assert(hashes(1) === hashes(2), "case + unicode punctuation must collapse")
    assert(hashes.distinct.length === 2, hashes.mkString(","))
  }

  test("cross-corpus near-dedup: finds new-vs-ref dups only, never intra-set pairs (B12)") {
    // ref corpus holds base + other; incoming batch has a near-dup of
    // base (→ flagged), an exact dup of base (→ flagged), an unrelated
    // doc (→ clean), and TWO identical incoming docs (must NOT pair with
    // each other — intra-batch dedup is minHashNearDup's job)
    val ref = Seq((101L, base), (103L, other)).toDF("doc_id", "text")
    val incoming = Seq((1L, nearDup), (2L, base),
      (3L, (200 to 230).map(i => s"new$i").mkString(" ")),
      (4L, (300 to 330).map(i => s"twin$i").mkString(" ")),
      (5L, (300 to 330).map(i => s"twin$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.minHashNearDupAcross(incoming, ref, k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs === Set((1L, 101L), (2L, 101L)), out.mkString(","))
    assert(out.find(_._1 == 2L).get._3 === 1.0) // exact dup verifies at 1.0
  }

  test("cross-corpus near-dedup: hot ref bucket probes one witness per incoming doc") {
    val n = 600 // ref flood of identical docs, far over MaxBucket=256
    val ref = (1 to n).map(i => (i.toLong + 1000L, base)).toDF("doc_id", "text")
    val incoming = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    // both hash families probe through the same capped cross probe
    for ((family, out) <- Seq(
        "xxhash" -> Dedup.minHashNearDupAcross(incoming, ref, k = 3, threshold = 0.5),
        "portable" -> Dedup.minHashPortableAcross(incoming, ref, k = 3))) {
      // doc 1 is answered by the single bucket-min witness, not 600 pairs;
      // doc 2 matches nothing
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((1L, 1001L)), family)
    }
  }

  test("decontaminate: flags train docs sharing an 8-gram with the bench set (B12)") {
    val gram = (1 to 8).map(i => s"g$i").mkString(" ")
    val d = Seq(
      (0L, s"bench prefix $gram bench suffix tail pad"), // doc_id%50==0 → benchmark
      (1L, s"train copies the gram $gram and more words here"), // contaminated
      (2L, "an unrelated training document with enough tokens to form grams ok"),
      (3L, "short doc")) // < 8 tokens → no grams, must still appear clean
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(d, org.apache.spark.sql.functions.col("doc_id") % 50 === 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out.keySet === Set(1L, 2L, 3L)) // bench doc excluded from output
    assert(out(1L)._2 === 1 && out(1L)._1 >= 1L)
    assert(out(2L) === ((0L, 0)))
    assert(out(3L) === ((0L, 0)))
  }

  test("decontaminate plan: bench gram set is broadcast, never shuffled against the corpus") {
    def broadcastJoins(q: org.apache.spark.sql.DataFrame): Int = {
      q.write.format("noop").mode("overwrite").save()
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.size
    }
    val docs = graft.Tables.documents(spark, sfDir)
    val benchPred = org.apache.spark.sql.functions.col("doc_id") % 50 === 0
    // the gram-overlap join (runs inside decontaminate's checkpoint) must
    // build on the small DISTINCT bench gram side
    assert(broadcastJoins(Dedup.sharedGramCounts(Dedup.shingleHashes(docs, 8), benchPred)) === 1)
    // and the final left-outer spine join broadcasts the (small)
    // contaminated-doc aggregate against the corpus spine
    assert(broadcastJoins(Dedup.decontaminate(docs, benchPred)) === 1)
  }

  test("exact jaccard verification values are correct (B12)") {
    val sh = Dedup.shingleHashes(docs, 3)
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("a", "b")
    val j = Dedup.verifyJaccard(pairs, sh).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    assert(j((1L, 4L)) === 1.0)
    // 28 shingles each, 25 shared (windows not touching the changed token)
    assert(j((1L, 2L)) > 0.7 && j((1L, 2L)) < 1.0)
  }

  test("simhash: bag-of-words invariant, exact dups at distance 0, unrelated far (B12)") {
    // doc 5 = doc 1's tokens reversed: simhash is order-invariant → distance 0
    val reordered = (1 to 30).map(i => s"tok$i").reverse.mkString(" ")
    val d = Seq((1L, base), (3L, other), (4L, base), (5L, reordered))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDup(d, maxDist = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 4L)) === 0) // identical docs → identical sketch
    assert(pairs((1L, 5L)) === 0) // reordered tokens → identical sketch
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((3L, 4L)))
  }

  test("connectedComponents: min-label convergence on chains and separate components (B12)") {
    // chain 1-2-3 (diameter 2, needs >1 round), pair 10-11, triangle 20-21-22
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("star CC: 10k-vertex path converges in O(log n) rounds (long-chain fallback)") {
    // a path graph is the min-label worst case: diameter n-1 → O(n)
    // rounds; the alternating star algorithm must close it in O(log n)
    val n = 10000
    val chain = spark.range(n - 1).select($"id".as("a"), ($"id" + 1).as("b"))
    val (labels, rounds) = Dedup.starComponentsWithRounds(chain)
    assert(rounds <= 30, s"expected O(log2($n))≈14 rounds plus constants, got $rounds")
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === n)
    assert(out.forall(_._2 == 0L), "every vertex labels under the component minimum")
  }

  test("star CC == min-label CC on mixed components; min-label fails loudly on chains") {
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val star = Dedup.connectedComponentsStar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val minLabel = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star === minLabel)
    // the contrast that motivates the fallback: a 60-vertex path exceeds a
    // 20-round min-label budget (diameter 59) but star closes it easily
    val path = spark.range(59).select($"id".as("a"), ($"id" + 1).as("b"))
    intercept[RuntimeException](Dedup.connectedComponents(path, maxIter = 20))
    val (starPath, starRounds) = Dedup.starComponentsWithRounds(path, maxIter = 20)
    assert(starRounds < 20 && starPath.count() === 60L)
  }

  test("bloom decontamination: one-sided error vs the exact gram join (B12)") {
    val d = graft.Tables.documents(spark, sfDir)
    val pred = org.apache.spark.sql.functions.col("doc_id") % 50 === 0
    val exact = Dedup.decontaminate(d, pred).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val bloom = Dedup.bloomDecontaminate(d, pred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(bloom.length === exact.size) // same train-doc spine
    bloom.foreach { case (id, n, flag) =>
      val (nExact, fExact) = exact(id)
      // NO false negatives: every exactly-shared gram tests positive,
      // so bloom counts and flags dominate the exact ones
      assert(n >= nExact, s"doc $id: bloom $n < exact $nExact")
      assert(flag >= fExact, s"doc $id: bloom flag dropped an exact hit")
    }
  }

  test("bloom decontamination plan: word table broadcast both probes, big side never shuffled on gram") {
    val d = graft.Tables.documents(spark, sfDir)
    val pred = org.apache.spark.sql.functions.col("doc_id") % 50 === 0
    val q = Dedup.bloomDecontaminate(d, pred)
    q.write.format("noop").mode("overwrite").save()
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 2, s"expected both bloom probes as broadcast joins, got ${bhj.size}")
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    // the only sort-merge join allowed is the left-outer doc spine
    assert(smj.size <= 1, s"train gram stream leaked into a shuffle join: ${smj.size}")
  }

  test("dupSpans merges planted cross-doc duplicated grams into maximal spans (B11)") {
    // docs 10/11 share a verbatim 12-token run mid-document; doc 12 is
    // unrelated; doc 13 repeats a gram only WITHIN itself (df=1 → no span)
    val shared = (1 to 12).map(i => s"dup$i").mkString(" ")
    val d = Seq(
      (10L, s"alpha beta gamma $shared tail10a tail10b tail10c tail10d"),
      (11L, s"lead11a lead11b lead11c lead11d lead11e $shared end11"),
      (12L, (1 to 20).map(i => s"only12x$i").mkString(" ")),
      (13L, (Seq.fill(2)((1 to 8).map(i => s"self$i")).flatten ++
        (1 to 8).map(i => s"pad$i")).mkString(" "))).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(d, k = 8, maxDf = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the shared run is 12 tokens: 5 duplicated 8-grams starting at the
    // run offset, merged into ONE span of exactly the run's extent
    assert(spans.count(_._1 == 10L) === 1)
    assert(spans.count(_._1 == 11L) === 1)
    val s10 = spans.find(_._1 == 10L).get
    assert(s10._2 === 3L && s10._3 === 15L && s10._4 === 12L)
    val s11 = spans.find(_._1 == 11L).get
    assert(s11._2 === 5L && s11._3 === 17L && s11._4 === 12L)
    // unrelated and intra-doc-only repetition produce no spans
    assert(!spans.exists(s => s._1 == 12L || s._1 == 13L))
  }

  test("dupSpans df-cap drops boilerplate grams shared by too many docs (B11)") {
    // the same 8-token boilerplate in 6 docs; maxDf=4 must suppress it
    val boiler = (1 to 8).map(i => s"bp$i").mkString(" ")
    val d = (1L to 6L).map(i => (i, s"u${i}a u${i}b $boiler u${i}c")).toDF("doc_id", "text")
    assert(Dedup.dupSpans(d, k = 8, maxDf = 4).count() === 0L)
    assert(Dedup.dupSpans(d, k = 8, maxDf = 10).count() === 6L)
  }

  test("clipSpans removes exactly the flagged ranges, keeps order, empties fully-covered docs (B11)") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "x y z"), (3L, "q r")).toDF("doc_id", "text")
    val spans = Seq((1L, 1L, 3L), (1L, 4L, 5L), (3L, 0L, 2L))
      .toDF("doc_id", "span_start", "span_end")
    val out = Dedup.clipSpans(docs, spans).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq === Seq(
      (1L, "a d f", 3), // b,c (1..3) and e (4..5) removed, order kept
      (2L, "x y z", 3), // no spans → untouched
      (3L, "", 0)))     // fully covered → empty, still present
  }

  test("selfRepSpans flags intra-doc repeated grams only; span covers both occurrences (B13)") {
    // doc 1 repeats "r1 r2 r3" at positions 0 and 5 (gap > k → two spans);
    // doc 2 has the same gram ONCE (cross-doc repetition is dupSpans' job)
    val d = Seq(
      (1L, "r1 r2 r3 x1 x2 r1 r2 r3 y1"),
      (2L, "r1 r2 r3 z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text")
    val spans = Dedup.selfRepSpans(d, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSet === Set((1L, 0L, 3L, 3L), (1L, 5L, 8L, 3L)))
    // adjacent repeats merge into one span: "a b a b a b" has gram "a b a"
    // at 0,2 and "b a b" at 1,3 → hits 0..3 → one span of the whole run
    val merged = Dedup.selfRepSpans(Seq((3L, "a b a b a b")).toDF("doc_id", "text"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(merged.toSeq === Seq((3L, 0L, 6L)))
  }

  test("property: star CC == min-label CC on random graphs") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    // random sparse graphs over ≤12 vertices: enough to hit multi-edge,
    // self-loop-free cycles, disconnected pieces, and chains
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 11L); b <- Gen.chooseNum(0L, 11L) if a != b
    } yield (a, b)
    val graphGen = Gen.chooseNum(1, 14).flatMap(n => Gen.listOfN(n, edgeGen))
    val prop = Prop.forAll(graphGen) { edges: List[(Long, Long)] =>
      val df = edges.toDF("a", "b")
      val star = Dedup.connectedComponentsStar(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val minLabel = Dedup.connectedComponents(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      star == minLabel
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("dedup clusters group planted dups under the minimum doc_id (B12)") {
    val clustered = Dedup.dedupClustersQuery(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clustered.nonEmpty)
    // representative is the component minimum, present in its own cluster
    val byRep = clustered.groupBy(_._2)
    byRep.foreach { case (rep, members) =>
      assert(members.map(_._1).min === rep)
      assert(members.exists(_._1 == rep))
      assert(members.length >= 2) // singletons carry no edges -> excluded
    }
  }

  test("simHashPortable: exact dups collide, bag-of-words invariant, chunks partition the sketch (B12)") {
    val df = Seq((1L, base), (2L, base), // exact dup
      (3L, base.split(" ").reverse.mkString(" ")), // same bag, other order
      (4L, other)).toDF("doc_id", "text")
    val rows = Dedup.simHashPortable(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), (2 to 5).map(r.getLong))).toMap
    assert(rows(1L)._1 === rows(2L)._1) // identical text → identical sketch
    assert(rows(1L)._1 === rows(3L)._1) // order-free (frequency-weighted bag)
    assert(rows(1L)._1 !== rows(4L)._1) // unrelated text differs
    // sketch is 48 bits; chunks reassemble it exactly
    rows.values.foreach { case (sk, chunks) =>
      assert(sk >= 0 && sk < (1L << 48))
      assert(chunks.zipWithIndex.map { case (c, i) => c << (12 * i) }.sum === sk)
    }
  }

  test("minHashPortableAcross: planted cross dup found, no intra-set pairs, threshold honored (B12)") {
    // even ids = incoming, odd = reference; 2 (new) near-dups 1 (ref);
    // 4 (new) exact-dups 9 (ref); 6/8 unrelated
    val df = Seq((2L, nearDup), (1L, base), (4L, base), (9L, base),
      (6L, other), (8L, (200 to 230).map(i => s"x$i").mkString(" ")))
    val out = Dedup.minHashPortableAcross(
        df.filter(_._1 % 2 == 0).toDF("doc_id", "text"),
        df.filter(_._1 % 2 == 1).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((4L, 9L))) // exact cross dup
    assert(out.contains((2L, 1L)) || out.contains((2L, 9L))) // near dup vs ref copy
    // never intra-set: new ids are even, ref ids odd
    out.foreach { case (n, r) => assert(n % 2 == 0 && r % 2 == 1) }
    assert(!out.exists(_._1 == 6L) && !out.exists(_._1 == 8L))
  }

  test("entityMatch: small blocks == brute force within block; over-full block star-links (B11)") {
    // two normal blocks ("red", "blue") + one planted over-full block
    // ("hot", maxBlock=5 < 8 members)
    val recs = Seq(
      (1L, "alpha widget red"), (2L, "alphq widget red"), (3L, "zzzz gadget red"),
      (10L, "beta cog blue"), (11L, "betaa cog blue")
    ) ++ (20L to 27L).map(i => (i, s"item nr$i hot"))
    val df = recs.toDF("id", "name")
    val out = Dedup.entityMatch(df, maxDist = 4, maxBlock = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // normal blocks: all within-block pairs that survive levenshtein <= 4
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val byId = recs.toMap
    val expectedSmall = (for {
      (a, na) <- recs; (b, nb) <- recs
      if a < b && na.split(" ").last == nb.split(" ").last &&
        na.split(" ").last != "hot" && lev(na, nb) <= 4
    } yield (a, b, na.split(" ").last)).toSet
    assert(out.filter(_._3 != "hot") === expectedSmall)
    assert(expectedSmall.nonEmpty)
    // hot block: ONLY star pairs (block-min 20 as `a`), each verified —
    // "item nrXX hot" names are all within lev 2 of each other, so every
    // star edge survives: exactly B-1 = 7 pairs, never the 28 all-pairs
    val hotPairs = out.filter(_._3 == "hot")
    assert(hotPairs === (21L to 27L).map(b => (20L, b, "hot")).toSet)
    // capped == uncapped when no block is over-full
    val capped = Dedup.entityMatch(df, maxDist = 4, maxBlock = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unc = (for {
      (a, na) <- recs; (b, nb) <- recs
      if a < b && na.split(" ").last == nb.split(" ").last && lev(na, nb) <= 4
    } yield (a, b)).toSet
    assert(capped === unc)
    assert(byId.size === recs.size)
  }

  test("ppJoin: planted near/exact dups with exact counts, unrelated doc excluded (B12)") {
    val out = Dedup.ppJoin(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // identical shingle expectations as the portable-minhash fixture —
    // ppJoin is the EXACT join, so it must find at least everything LSH did
    assert(out((1L, 2L)) === ((27L, 28L, 28L)))
    assert(out((1L, 4L)) === ((28L, 28L, 28L)))
    assert(out((2L, 4L)) === ((27L, 28L, 28L))) // symmetry of the 1-2 edit
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
    assert(out.size === 3)
  }

  test("property: ppJoin == unfiltered brute-force gram join (prefix filter is lossless)") {
    // overlapping token ranges: consecutive docs share most of their
    // window, distant docs share none — a spread of Jaccard values
    // straddling the 0.5 threshold, sizes varying so the length filter
    // is exercised too
    val corpus = (1 to 80).map { i =>
      val start = (i * 3) % 60
      val len = 12 + (i % 9)
      (i.toLong, (start until start + len).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.ppJoin(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sh = Dedup.portableShingleHashes(corpus, 3).cache()
    val ids = corpus.select($"doc_id").as[Long].collect()
    val allPairs = ids.flatMap(a => ids.filter(_ > a).map(b => (a, b)))
      .toSeq.toDF("a", "b")
    val brute = Dedup.verifyJaccard(allPairs,
        sh.select($"doc_id", $"hbase".as("shingle")))
      .filter($"inter" * 2 >= $"na" + $"nb" - $"inter")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    sh.unpersist()
    assert(got === brute)
    assert(got.nonEmpty) // the fixture actually crosses the threshold
  }

  test("refTableParams is session-stable (r15 ADVICE): a RESOLVED column's " +
    "expression IDs are stripped, so the snapshot key cannot churn per JVM") {
    import org.apache.spark.sql.functions.{col, lit}
    val unresolved = Dedup.refTableParams(col("doc_id") % 2 === 0, 3)
    // a resolved predicate renders with #<exprId> suffixes; the key
    // must normalize to the unresolved rendering, not embed the ID
    val docs = graft.Tables.documents(spark, sfDir)
    val resolved = Dedup.refTableParams(docs("doc_id") % 2 === 0, 3)
    assert(!resolved.matches(".*#\\d+.*"),
      s"expression ID leaked into the snapshot key: $resolved")
    assert(resolved === unresolved,
      s"resolved vs unresolved key drift: $resolved != $unresolved")
    // different predicates still produce different keys
    assert(Dedup.refTableParams(col("doc_id") % 3 === 0, 3) !== unresolved)
    assert(Dedup.refTableParams(col("doc_id") % 2 === 0, 4) !== unresolved)
    // a string literal that LOOKS like an expression ID must not be
    // normalized into a collision (r15 review: a blind #\d+ strip keyed
    // `tag = 'item#42'` and `tag = 'item'` identically — literals render
    // QUOTED through the stable-SQL path, so they stay distinct)
    assert(Dedup.refTableParams(col("tag") === lit("item#42"), 3) !==
      Dedup.refTableParams(col("tag") === lit("item"), 3))
  }
}
