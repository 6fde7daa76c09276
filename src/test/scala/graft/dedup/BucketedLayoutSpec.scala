package graft.dedup

import graft.{SparkSpec, Tables}
import graft.plans.PlanAudit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r13 (VERDICT r12 #1): the "at 100 TB these are bucketed tables" claims,
  * EXECUTED instead of narrated — the A13/DescentPlanSpec plan-pin
  * discipline applied to the storage layout.
  *
  * Two claims get the treatment:
  *
  *  1. The cross-dedup probe / e08 gate stage: the standing corpus's
  *     band + bucket-stats tables are bucketed on the probe key
  *     (band_idx, band_hash) and the shingle table on the verify key
  *     (doc_id). At gate scale the batch side broadcasts, so nothing
  *     shuffles either way; the at-scale claim is about the regime where
  *     the batch OUTGROWS the broadcast threshold — so the pin disables
  *     broadcast and asserts the bucket-local form: the reference-side
  *     scans read their HashPartitioning straight from the layout
  *     (bucketedScan), NO shuffle exchange sits above them, and the
  *     probe's only exchange is the batch side's. Content equality with
  *     the path-snapshot tables rides b12_cross_bucketed's DuckDB oracle
  *     (same SQL family as b12_cross_portable); this spec adds the
  *     in-process cross-check.
  *
  *  2. The harvest store (at 100 TB a lakehouse table BUCKETED on the
  *     merge keys, where the upsert's and anti-join's shuffles become
  *     bucket-local merges):
  *     the terms/term_fields tables written bucketed on their merge keys
  *     feed the UNMODIFIED A11 full-outer upsert and A15 anti-join — the
  *     store side plans no exchange, only the O(batch) side shuffles,
  *     results bit-equal to the path-based forms.
  */
class BucketedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def noBroadcast[A](body: => A): A = {
    val k1 = "spark.sql.autoBroadcastJoinThreshold"
    val k2 = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val (p1, p2) = (spark.conf.getOption(k1), spark.conf.getOption(k2))
    spark.conf.set(k1, "-1"); spark.conf.set(k2, "-1")
    try body
    finally {
      p1.fold(spark.conf.unset(k1))(spark.conf.set(k1, _))
      p2.fold(spark.conf.unset(k2))(spark.conf.set(k2, _))
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("cross-dedup probe over bucketed band/stats tables: bucket-local " +
    "joins, one batch-side exchange, no exchange above the bucketed scans") {
    val (_, bRef, statsRef) = Dedup.refBucketedTables3(
      spark, sfDir, "e08_ref", col("doc_id") % 10 =!= 3)
    val batch = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 3)
    // cut the batch bands' own derivation out of the audited plan — the
    // pin is about the PROBE's exchanges, not the signature build's
    val bNew = Dedup.portableBandsOf(Dedup.portableShingleHashes(batch, 3))
      .select($"doc_id".as("a"), $"band_idx", $"band_hash")
      .localCheckpoint(true)
    noBroadcast {
      val probe = bNew
        .join(statsRef, Seq("band_idx", "band_hash"))
        .filter($"bsz" <= Dedup.MaxBucket)
        .select($"a", $"band_idx", $"band_hash")
        .join(bRef.select($"doc_id".as("b"), $"band_idx", $"band_hash"),
          Seq("band_idx", "band_hash"))
        .select($"a", $"b")
      val got = probe.collect() // post-AQE executed plan is what the audit walks
      assert(got.nonEmpty, "vacuous gate: the probe matched nothing")
      val plan = probe.queryExecution.executedPlan
      assert(PlanAudit.bucketedScans(probe).size === 2,
        s"expected bucket-local scans of stats AND bands:\n$plan")
      assert(PlanAudit.noExchangeAboveBucketedScan(probe),
        s"a reference-side table was shuffled despite the bucketed layout:\n$plan")
      assert(PlanAudit.shuffleExchanges(probe).size === 1,
        s"expected exactly the batch side's exchange:\n$plan")
    }
  }

  test("bucketed-layout probe pairs == path-snapshot probe pairs (content identity)") {
    val (_, bRefB, statsB) = Dedup.refBucketedTables3(
      spark, sfDir, "e08_ref", col("doc_id") % 10 =!= 3)
    val (_, bRefP, statsP) = Dedup.refPortableTables3(
      spark, sfDir, "bktspec_ref", col("doc_id") % 10 =!= 3)
    def pairs(bRef: DataFrame, stats: DataFrame): DataFrame = {
      val bNew = Dedup.portableBandsOf(Dedup.portableShingleHashes(
        Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 3), 3))
        .select($"doc_id".as("a"), $"band_idx", $"band_hash")
      val stat = bNew.join(stats, Seq("band_idx", "band_hash"))
      val direct = stat.filter($"bsz" <= Dedup.MaxBucket)
        .select($"a", $"band_idx", $"band_hash")
        .join(bRef.select($"doc_id".as("b"), $"band_idx", $"band_hash"),
          Seq("band_idx", "band_hash"))
        .select($"a", $"b")
      val star = stat.filter($"bsz" > Dedup.MaxBucket).select($"a", $"bmin".as("b"))
      direct.union(star).filter($"a" =!= $"b").distinct()
    }
    assert(rows(pairs(bRefB, statsB)) === rows(pairs(bRefP, statsP)))
  }

  test("full bucketed cross query == path-snapshot kernel on the same split") {
    val docs = Tables.documents(spark, sfDir)
    val bucketed = Dedup.crossBucketedQuery(spark, sfDir)
    val (shP, bP, stP) = Dedup.refPortableTables3(
      spark, sfDir, "bktspec_ref", col("doc_id") % 10 =!= 3)
    val pathBased = Dedup.minHashPortableAcrossWith(
      docs.filter(col("doc_id") % 10 === 3), shP, bP, statsRef = Some(stP))
    assert(rows(bucketed) === rows(pathBased))
  }

  test("bucketed snapshot re-registers existing files in a fresh catalog " +
    "without rebuilding (the cross-JVM path, pinned deterministically)") {
    val (_, bRef, _) = Dedup.refBucketedTables3(
      spark, sfDir, "e08_ref", col("doc_id") % 10 =!= 3)
    val scan = graft.plans.PlanAudit.allNodes(bRef.queryExecution.executedPlan)
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.nonEmpty, "bands did not come from a file scan")
    val dataDir = new java.io.File(
      new java.net.URI(scan.get.relation.location.rootPaths.head.toString))
    val before = dataDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    // simulate the fresh-JVM catalog: drop the entry (files stay — the
    // table is external), then re-derive through the same seam
    val tbl = dataDir.getParentFile.getName
    assert(spark.catalog.tableExists(tbl), s"no catalog table $tbl")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val (_, bRef2, _) = Dedup.refBucketedTables3(
      spark, sfDir, "e08_ref", col("doc_id") % 10 =!= 3)
    val after = dataDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after === before, "re-registration rewrote the bucketed files")
    // the re-registered table still carries the bucket spec: content
    // equal AND a join on the bucket key still reads bucket-locally
    assert(rows(bRef2) === rows(bRef))
    noBroadcast {
      val probeKeys = bRef2.select($"band_idx", $"band_hash").limit(5)
        .localCheckpoint(true)
      val j = probeKeys.join(bRef2, Seq("band_idx", "band_hash"))
      j.collect()
      assert(graft.plans.PlanAudit.bucketedScans(j).nonEmpty,
        s"bucket spec lost across re-registration:\n${j.queryExecution.executedPlan}")
    }
  }

  test("harvest store bucketed on the merge keys: A11 upsert and A15 " +
    "anti-join plan NO exchange on the store side (the bucket-local MERGE)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_bkt").toString
    val asOf = lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val terms = (1L to 500L).map(i => (i, s"uri:term:$i", t0, t0))
      .toDF("id", "uri", "created_at", "updated_at")
    val fields = (1L to 800L).map(i =>
      (i, i % 400 + 1, s"uri:field:${i % 7}", s"f${i % 7}", s"v$i", t0, t0))
      .toDF("id", "term_id", "field_uri", "field_term", "original_value",
        "created_at", "updated_at")
    graft.ops.ScaleOps.writeBucketed(terms, s"$dir/terms_b",
      "graft_bktspec_terms", "uri", 4)
    graft.ops.ScaleOps.writeBucketedKeys(fields, s"$dir/fields_b",
      "graft_bktspec_fields", Seq("term_id", "field_uri", "original_value"), 4)
    try noBroadcast {
      val storeTerms = spark.table("graft_bktspec_terms")
      val incoming = (450L to 520L).map(i => s"uri:term:$i").toDF("uri")
      val up = graft.harvest.Merge.upsertTerms(storeTerms, incoming, asOf,
        startId = Some(501L))
      up.collect()
      assert(PlanAudit.bucketedScans(up).nonEmpty,
        s"store scan not bucket-local:\n${up.queryExecution.executedPlan}")
      assert(PlanAudit.noExchangeAboveBucketedScan(up),
        "the A11 full-outer shuffled the STORE side despite the bucketed " +
          s"layout:\n${up.queryExecution.executedPlan}")
      // and the bucket-local form changes nothing: bit-equal to the
      // path-shaped upsert over the same content
      val plainUp = graft.harvest.Merge.upsertTerms(terms, incoming, asOf,
        startId = Some(501L))
      assert(rows(up) === rows(plainUp))

      val storeFields = spark.table("graft_bktspec_fields")
      val batch = (1L to 60L).map(i =>
        (i % 400 + 1, s"uri:field:${i % 9}", s"f${i % 9}", s"nv$i"))
        .toDF("term_id", "field_uri", "field_term", "original_value")
      // pin the ANTI-JOIN frame directly: insertIfAbsent's id assignment
      // routes through an RDD zipWithIndex, which cuts the join out of
      // the final frame's auditable plan (the union branch's store scan
      // correctly reports "Bucketed: false" — no join needs the
      // distribution there)
      val key = Seq("term_id", "field_uri", "original_value")
      val novel = batch.dropDuplicates(key).join(storeFields, key, "left_anti")
      novel.collect()
      assert(PlanAudit.bucketedScans(novel).nonEmpty,
        s"store scan not bucket-local:\n${novel.queryExecution.executedPlan}")
      assert(PlanAudit.noExchangeAboveBucketedScan(novel),
        "the A15 anti-join shuffled the STORE side despite the bucketed " +
          s"layout:\n${novel.queryExecution.executedPlan}")
      val ins = graft.harvest.Merge.insertIfAbsent(storeFields, batch, asOf,
        startId = Some(801L))
      val plainIns = graft.harvest.Merge.insertIfAbsent(fields, batch, asOf,
        startId = Some(801L))
      assert(rows(ins) === rows(plainIns))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bktspec_terms")
      spark.sql("DROP TABLE IF EXISTS graft_bktspec_fields")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
