package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gated exposure of the [[ScaleOps]] mechanics (previously
  * spec-only): the oracle proves salted plans return EXACTLY the rows of
  * their unsalted equivalents, and that the Z-order bit interleave is
  * engine-portable integer math. These are identity-under-rewrite gates —
  * the point of salting/z-ordering is changing the physical distribution
  * WITHOUT changing the answer, so the correctness contract is "equals the
  * plain plan", which is precisely what a plain-SQL oracle checks.
  */
object ScaleQueries {

  /** Per-run scratch-store path for the filesystem gates below. Keyed by
    * (tag, dataset dir) AND the Spark applicationId: two concurrent
    * harness runs over the same sf dir must not share a store — one run's
    * delete-and-rewrite would race the other's lazy read. The appId is
    * stable within a run, so a gate remains idempotent across retries in
    * the same session. Stale sweep (r8 ADVICE): each run's dir was only
    * deleted at the start of that same run, so tmpdir accumulated one
    * abandoned store per (tag × run) forever — now the FIRST runStore
    * call of a session sweeps stores left by OTHER applicationIds.
    * r10 (ADVICE): the sweep used to match ANY `graft_*`-prefixed dir in
    * the SHARED system tmpdir — reaping directories it never owned
    * (test fixtures from `Files.createTempDirectory("graft_…")`, the
    * harvest work dir, an unrelated user's `graft_*`). Ownership is now
    * structural, not name-pattern: every run store lives under a
    * dedicated `graft_runstores/` subtree that ONLY this method writes,
    * and the sweep never leaves it. Concurrent-run safety holds because
    * a live peer's store dir ends with its own appId and the sweep only
    * touches dirs idle > 1 h by mtime, which no live gate store is
    * (gates write then read within one query). */
  private val sweptStale = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Dedicated subtree: sole writer is [[runStore]], so everything inside
    * is ours to reap — nothing else may create files here. */
  private def storeRoot: java.io.File = {
    val r = new java.io.File(sys.props("java.io.tmpdir"), "graft_runstores")
    r.mkdirs()
    r
  }
  private def sweepStale(appId: String): Unit =
    if (sweptStale.compareAndSet(false, true)) {
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      val stale = Option(storeRoot.listFiles()).getOrElse(Array.empty).filter { f =>
        f.isDirectory && !f.getName.endsWith(appId) && f.lastModified() < cutoff
      }
      stale.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
      // r11 (ADVICE r10): one-shot migration sweep of the PRE-r10 layout —
      // builds before the graft_runstores/ move left their stores directly
      // in tmpdir and nothing swept them again. Those names end with a
      // Spark local appId ("..._local-<millis>"), which no other graft
      // tmp artifact shares, so the match is exact; same idle-1h guard.
      val legacy = Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty).filter { f =>
          f.isDirectory && f.getName.startsWith("graft_") &&
            f.getName.matches(".*_local-\\d+$") && !f.getName.endsWith(appId) &&
            f.lastModified() < cutoff
        }
      legacy.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    }
  private def runStore(s: SparkSession, tag: String, dir: String): String = {
    sweepStale(s.sparkContext.applicationId)
    new java.io.File(storeRoot,
      s"graft_${tag}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_${s.sparkContext.applicationId}").toString
  }

  /** B3: skew-salted supplier join — same rows as the plain equi-join,
    * produced via the salt-replicated plan that spreads one hot key over
    * `salts` reducer partitions at 100 TB. */
  def saltedJoinQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, dir)
      .select($"l_suppkey".as("suppkey"), $"l_orderkey", $"l_linenumber")
    val small = Tables.supplier(s, dir)
      .select($"s_suppkey".as("suppkey"), $"s_name")
    // suppkey tie-breaker: the fixture repeats (l_orderkey, l_linenumber)
    // with different suppkeys (late r12 invariance audit)
    ScaleOps.saltedJoin(big, small, "suppkey", salts = 8)
      .select($"l_orderkey", $"l_linenumber", $"suppkey", $"s_name")
      .orderBy($"l_orderkey", $"l_linenumber", $"suppkey")
  }

  /** B4: two-phase salted aggregation — partial on (key, salt), final on
    * key; exact for the algebraic sum/count pair. Quantities are integral
    * (TPC-H 1..50), so the long cast is value-exact and the sum is
    * order-independent. */
  def saltedAggQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_returnflag", $"l_quantity")
    ScaleOps.saltedSumCount(li, "l_returnflag", $"l_quantity".cast("long"), salts = 8)
      .orderBy($"l_returnflag")
  }

  private val ZBits = 8
  /** B1: Z-order layout keys — the bit-interleaved clustering key
    * [[ScaleOps.zOrderWrite]] sorts files by, computed here over
    * domain-reduced (mod 2^8) part/supp keys so the oracle needs no
    * min/max scaling pass. Bit b of column j lands at position b·2+j. */
  def zorderKeyQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pk = pmod($"l_partkey", lit(1 << ZBits)).cast("long")
    val sk = pmod($"l_suppkey", lit(1 << ZBits)).cast("long")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber",
        pk.as("pk_cell"), sk.as("sk_cell"),
        ScaleOps.zKey(Seq(pk, sk), ZBits).as("zkey"))
      .orderBy($"zkey", $"l_orderkey", $"l_linenumber")
      .limit(200)
  }

  /** B1 (r7 final): time-travel read through [[ScaleOps.Versioned]] —
    * the driver gate that proves snapshot isolation END TO END: commit
    * the nation table as v0, commit a row-for-row MUTATED copy (every
    * name suffixed) as v1, then read AS OF version 0 and hash-compare
    * against the original parquet. A versioned reader that leaked even
    * one v1 row — or resolved the wrong snapshot — fails the gate. The
    * temp store is rebuilt fresh per run (the a22_sqlite_artifact
    * build-then-read-back discipline). */
  def timeTravelQuery(s: SparkSession, dir: String): DataFrame = {
    val store = runStore(s, "versioned_gate", dir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    val nation = Tables.nation(s, dir)
    ScaleOps.Versioned.commit(nation, store) // v0
    ScaleOps.Versioned.commit(
      nation.withColumn("n_name", concat(col("n_name"), lit("_v1"))), store) // v1
    ScaleOps.Versioned.read(s, store, asOf = Some(0L))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** B1 (r7): file-stats data skipping end to end — write orders
    * range-clustered on o_orderdate into 8 files, then answer a
    * one-year range query through [[ScaleOps.prunedRead]]: manifest
    * lookup → read ONLY the overlapping files → residual predicate.
    * The query ASSERTS files were actually skipped (a manifest that
    * keeps everything would silently certify the plain scan — the
    * b03_range_join_sql no-vacuous-gate discipline), and the oracle
    * replays the naive full-table filter, so the green hash proves the
    * skip lost no rows and the residual predicate re-filters file-grain
    * overflow exactly. */
  def statsSkippingQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = runStore(s, "stats_skip_gate", dir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    Tables.orders(s, dir)
      .repartitionByRange(8, $"o_orderdate")
      .sortWithinPartitions($"o_orderdate")
      .write.parquet(store)
    val kt = s.read.parquet(store).schema("o_orderdate").dataType.sql
    val lo = expr(s"CAST('1997-01-01 00:00:00' AS $kt)")
    val hi = expr(s"CAST('1997-12-31 23:59:59' AS $kt)")
    val (pruned, kept, total) = ScaleOps.prunedRead(s, store, "o_orderdate", lo, hi)
    require(kept < total,
      s"stats skipping kept all $total files — the pruning gate would be vacuous")
    pruned.select($"o_orderkey", $"o_orderdate", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** B3 (r7): dynamic partition pruning end to end — the star-join scan
    * reducer every partitioned lakehouse leans on: the fact table is
    * hive-partitioned by year, the (tiny, broadcast) year dimension
    * carries the selective predicate, and Catalyst injects the dim's
    * surviving keys into the fact scan's partition filters at RUNTIME,
    * so non-matching partitions are never listed or read. The query
    * ASSERTS the dynamicpruning expression is present in the fact scan
    * (otherwise the gate would certify a full-scan plan — the
    * b03_range_join_sql discipline) and the oracle replays the naive
    * filter, so the green hash proves pruning lost no rows. */
  def dppJoinQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = runStore(s, "dpp_gate", dir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    Tables.orders(s, dir)
      .withColumn("o_year", year($"o_orderdate").cast("int"))
      .write.partitionBy("o_year").parquet(store)
    val fact = s.read.parquet(store)
    val dim = s.range(1990, 2010)
      .select($"id".cast("int").as("d_year"), ($"id" >= 1999).as("is_recent"))
    val out = fact.join(broadcast(dim),
        $"o_year" === $"d_year" && $"is_recent")
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(12,2)").cast("decimal(28,2)"))
          .cast("double").as("revenue"))
      .orderBy($"o_year")
    require(graft.plans.PlanAudit.hasDynamicPruning(out),
      "b03_dpp_join: no dynamicpruning expression in the fact scan — the gate " +
        "would certify a full-scan plan instead of runtime partition pruning")
    out
  }

  /** B1 (r7 cont.): small-file compaction end to end — write orders as
    * 32 deliberately-tiny files (the per-minute micro-batch pathology),
    * run [[ScaleOps.compact]], ASSERT the on-disk file count actually
    * dropped (a no-op rewrite would certify nothing — the
    * b01_stats_skipping vacuity discipline), and hash-compare the
    * compacted table against the plain oracle: the rewrite must be
    * row-for-row lossless through the manifest-pointer commit (r14,
    * VERDICT r13 #5 — versioned data dir + atomic marker, no live-dir
    * rename; reads resolve via [[ScaleOps.readCompacted]]). */
  def compactQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = runStore(s, "compact_gate", dir)
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    Tables.orders(s, dir).repartition(32).write.parquet(store)
    def dataFiles() = fs
      .listStatus(new org.apache.hadoop.fs.Path(ScaleOps.compactDataDir(fs, p)))
      .count(f => f.getPath.getName.endsWith(".parquet"))
    val before = dataFiles()
    ScaleOps.compact(s, store, targetMB = 512)
    val after = dataFiles()
    require(after < before,
      s"b01_compact: $before files before, $after after — compaction gate vacuous")
    ScaleOps.readCompacted(s, store)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** B1 (r7 cont.): schema evolution end to end — the add-a-column read
    * contract every lakehouse table format promises: an early batch is
    * written WITHOUT `n_name_len`, a later batch with it; the merged
    * read (`mergeSchema`) must surface the union schema with NULL for
    * the pre-evolution rows. The added column is derived
    * deterministically (length of the name) so the oracle replays the
    * whole story from the source table — a reader that dropped the old
    * batch, defaulted the missing column to anything but NULL, or lost
    * the new column entirely hash-mismatches. */
  def schemaEvolutionQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = runStore(s, "schema_evo_gate", dir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    val nation = Tables.nation(s, dir)
    nation.filter($"n_nationkey" < 13)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.parquet(s"$store/batch=0")
    nation.filter($"n_nationkey" >= 13)
      .select($"n_nationkey", $"n_name", $"n_regionkey",
        length($"n_name").cast("int").as("n_name_len"))
      .write.parquet(s"$store/batch=1")
    val merged = s.read.option("mergeSchema", "true").parquet(store)
    require(merged.columns.contains("n_name_len"),
      "b01_schema_evolution: merged schema lost the evolved column")
    merged.select($"n_nationkey", $"n_name", $"n_regionkey", $"n_name_len")
      .orderBy($"n_nationkey")
  }

  /** B3 (r7 cont.): runtime bloom-filter join pruning end to end — the
    * row-level companion of [[dppJoinQuery]]'s partition pruning: when a
    * selective dimension filters a shuffle join, Catalyst's
    * InjectRuntimeFilter builds a bloom filter over the dim's join keys
    * and pushes `might_contain` onto the fact side, so non-joining fact
    * rows die at the scan instead of crossing the shuffle — at 100 TB
    * that IS the join's cost. The gate lowers the application-side size
    * threshold (sized for real clusters, far above sf0.01) and disables
    * broadcast so the shuffle-join rewrite actually fires, ASSERTS the
    * bloom filter is in the physical plan (the no-vacuous-gate
    * discipline), restores every touched conf, and hash-compares
    * against the plain join — pruning must lose no rows. */
  def runtimeFilterQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val touched = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = touched.map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set(touched(0), "0")
      s.conf.set(touched(1), "100MB")
      s.conf.set(touched(2), "-1")
      val sel = Tables.supplier(s, dir).filter($"s_nationkey" === 3)
      // s_suppkey tie-breaker: the fixture repeats (l_orderkey,
      // l_linenumber) with different suppkeys (late r12 invariance audit)
      val out = Tables.lineitem(s, dir)
        .join(sel, $"l_suppkey" === $"s_suppkey")
        .select($"l_orderkey", $"l_linenumber", $"s_suppkey", $"s_name")
        .orderBy($"l_orderkey", $"l_linenumber", $"s_suppkey")
      // forces physical planning NOW, while the confs are in effect;
      // the plan is cached on this DataFrame for the later write
      require(graft.plans.PlanAudit.hasBloomProbe(out),
        "b03_runtime_filter: no bloom runtime filter in the physical plan — " +
          "the gate would certify the plain join instead of the rewrite")
      out
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The hazard column both round-trip gates carry: embedded comma,
    * double quote, and NEWLINE derived deterministically from each row
    * (the schema-evolution derivation device) — the corpus text itself
    * is hazard-free, so without injection the codec gates would
    * vacuously pass on any broken quoting. */
  private def hazardCol = concat(lit("v,\""), col("lang"), lit("\"\n"),
    substring(col("text"), 1, 20))

  /** B1 (r7 cont.): CSV round-trip gate — write documents with an
    * injected comma/quote/newline hazard column, read it back
    * (multiLine + RFC-style quoting), and hash-compare against the
    * oracle's replay of the derivation from the SOURCE table: one
    * mangled quote, swallowed newline, or splintered record fails the
    * gate. Certifies the codec end to end, not just happy-path
    * fields. */
  def csvRoundtripQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = runStore(s, "csv_rt_gate", dir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    // the writer TRIMS leading/trailing whitespace by default (reader
    // does not) — caught by this very gate: a hazard value ending in a
    // space came back shortened. Both toggles pinned off explicitly.
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", hazardCol.as("hazard"))
      .write.option("header", "true").option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(store)
    s.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .schema("doc_id LONG, lang STRING, hazard STRING")
      .csv(store)
      .orderBy($"doc_id")
  }

  /** B1 (r10): ORC round-trip gate — the same injected-hazard device
    * through Spark's built-in columnar alternative to parquet (ORC is
    * the other lakehouse-native format a 100 TB estate realistically
    * holds). ORC is typed, so the hazard here certifies string-value
    * fidelity (embedded comma/quote/newline survive the writer's
    * dictionary/RLE paths) plus a timestamp column — the type parquet
    * and ORC encode differently enough to have distinct failure
    * modes. */
  def orcRoundtripQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = runStore(s, "orc_rt_gate", dir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", hazardCol.as("hazard"),
        // a deterministic per-row timestamp exercises ORC's epoch encoding
        expr("timestamp_ntz '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)")
          .as("ts"))
      .write.orc(store)
    s.read.schema("doc_id LONG, lang STRING, hazard STRING, ts TIMESTAMP_NTZ")
      .orc(store)
      .orderBy($"doc_id")
  }

  /** B1 (r7 cont.): JSON-lines round-trip gate — same injected-hazard
    * device through the JSON codec (escapes live in-band: \n, \").
    * The two gates complete the B1 format story beyond parquet. */
  def jsonRoundtripQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = runStore(s, "json_rt_gate", dir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", hazardCol.as("hazard"))
      .write.json(store)
    s.read.schema("doc_id LONG, lang STRING, hazard STRING").json(store)
      .orderBy($"doc_id")
  }

  /** B3 (r9, VERDICT r8 #7): AQE runtime skew-join split — the
    * OPTIMIZER-side answer to the same problem [[saltedJoinQuery]]
    * solves by hand: a planted hot key (a third of lineitem rows
    * collapse onto skew key 1) makes one reducer partition dominate the
    * shuffle join; with `skewJoin.enabled` AQE reads that partition's
    * runtime size, splits it into partial-range reads, and replicates
    * the matching dim rows — no salt column, no plan rewrite by the
    * user. The gate pins the skew thresholds DOWN to local fixture
    * scale (they are sized for clusters — the withBloomPruning
    * conf-pinning pattern), disables broadcast so the shuffled join
    * shape exists at all, EXECUTES the frame (AQE decides from runtime
    * shuffle statistics, so unlike the bloom gate there is nothing to
    * assert at plan time), and structurally asserts the split engaged
    * via [[graft.plans.PlanAudit.hasSkewJoin]] — the no-vacuous-gate
    * discipline. The hash-compared OUTPUT is identical to the plain
    * join (identity-under-rewrite, the salted-join contract). SINGLE
    * execution (r9 final, stale doc fixed r10): the eager cut
    * ([[graft.Cut.eager]]) runs THIS frame's queryExecution — AQE finalizes
    * its stages there — the assert reads that same executed plan, and
    * the returned checkpoint serves the materialized rows, so the join
    * runs exactly once. */
  def skewJoinAqeQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val touched = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
    val saved = touched.map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set(touched(0), "true")
      s.conf.set(touched(1), "2.0")
      // thresholds sized to the smallest gated fixture (sf0.01's hot
      // partition measures ~200KB vs a ~20KB median); production keeps
      // the 256MB default — the conf-pinning pattern
      s.conf.set(touched(2), "2KB")
      s.conf.set(touched(3), "8KB")
      // un-coalesced reducers keep the median honest at fixture scale
      s.conf.set(touched(4), "false")
      s.conf.set(touched(5), "-1")
      s.conf.set(touched(6), "-1")
      // eight reducers whatever the core count: with two, the skew rule's
      // median is the mean of the hot and the cold partition, which no
      // partition can exceed twice over, so nothing would split
      s.conf.set(touched(7), "8")
      // repartition(8): AQE splits a skewed reducer partition by MAPPER
      // ranges (PartialReducerPartitionSpec carries a map-index span),
      // so a single-mapper child — which is what one small parquet file
      // scans as at fixture scale — is structurally unsplittable however
      // skewed the reducer side is (measured: the rule logged "0 skewed
      // partitions" over a 10×-median hot partition). At 100 TB the
      // fact side always has thousands of mappers; this exchange exists
      // only to give the fixture-scale gate a splittable map side.
      val fact = Tables.lineitem(s, dir).repartition(8)
        .select(when($"l_orderkey" % 3 === 0, 1L).otherwise($"l_suppkey")
          .as("skew_key"), $"l_orderkey", $"l_linenumber")
      val dim = Tables.supplier(s, dir)
        .select($"s_suppkey".as("skew_key"), $"s_name")
      // skew_key tie-breaker (late r12, caught by the FULL-surface 16-vs-7
      // partition-invariance audit): the fixture's lineitem carries
      // duplicate (l_orderkey, l_linenumber) pairs with different
      // suppkeys, so the two-key sort was not total and tie order was
      // partition-count-dependent — the one non-invariant query out of
      // 295. s_name is functionally dependent on skew_key, so three keys
      // make the order deterministic up to fully-identical rows.
      val out = fact.join(dim, Seq("skew_key"))
        .select($"l_orderkey", $"l_linenumber", $"skew_key", $"s_name")
        .orderBy($"l_orderkey", $"l_linenumber", $"skew_key")
      // the eager cut executes THIS frame's query execution (AQE
      // materializes stages and re-plans from measured sizes) AND
      // pins the rows, so the caller's write reads the materialized
      // result instead of re-running the join a second time
      val ck = out.transform(Cut.eager)
      require(graft.plans.PlanAudit.hasSkewJoin(out),
        "b03_join_skew_aqe: AQE did not split the planted skew — the gate " +
          "would certify a plain shuffle join instead of the runtime rewrite")
      ck
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b03_join_skew_aqe" -> (skewJoinAqeQuery _),
    "b01_csv_roundtrip" -> (csvRoundtripQuery _),
    "b01_json_roundtrip" -> (jsonRoundtripQuery _),
    "b01_orc_roundtrip" -> (orcRoundtripQuery _),
    "b03_runtime_filter" -> (runtimeFilterQuery _),
    "b01_compact" -> (compactQuery _),
    "b01_schema_evolution" -> (schemaEvolutionQuery _),
    "b03_join_salted" -> (saltedJoinQuery _),
    "b04_salted_agg" -> (saltedAggQuery _),
    "b01_zorder_key" -> (zorderKeyQuery _),
    "b01_time_travel" -> (timeTravelQuery _),
    "b01_stats_skipping" -> (statsSkippingQuery _),
    "b03_dpp_join" -> (dppJoinQuery _),
  )

  /** The z-key oracle replays the same interleave with SQL shift/mask
    * terms (generated here from the one definition of the bit layout). */
  private val zkeySql: String = {
    val terms = for { b <- 0 until ZBits; j <- 0 to 1 } yield {
      val c = if (j == 0) "pk_cell" else "sk_cell"
      s"((($c >> $b) & 1) << ${b * 2 + j})"
    }
    terms.mkString(" | ")
  }

  private val HazardSql =
    """'v,"' || lang || '"' || chr(10) || substr(text, 1, 20)"""

  val oracles: Map[String, String] = Map(
    // identity-under-rewrite: the AQE skew split must return EXACTLY the
    // plain join's rows — the same contract as b03_join_salted
    "b03_join_skew_aqe" -> """
      SELECT l.l_orderkey, l.l_linenumber, l.skew_key, s.s_name
      FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS skew_key,
                   l_orderkey, l_linenumber
            FROM lineitem) l
      JOIN supplier s ON s.s_suppkey = l.skew_key
      ORDER BY l.l_orderkey, l.l_linenumber, l.skew_key""",
    // the derivation replayed from the SOURCE table — any quoting or
    // record-splitting loss in the written files hash-mismatches
    "b01_csv_roundtrip" -> s"""
      SELECT doc_id, lang, $HazardSql AS hazard
      FROM documents ORDER BY doc_id
    """,
    "b01_json_roundtrip" -> s"""
      SELECT doc_id, lang, $HazardSql AS hazard
      FROM documents ORDER BY doc_id
    """,
    // string fidelity + epoch-encoded timestamp through the ORC codec
    "b01_orc_roundtrip" -> s"""
      SELECT doc_id, lang, $HazardSql AS hazard,
             TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS ts
      FROM documents ORDER BY doc_id
    """,
    // the plain join — bloom pruning must be invisible in the result
    "b03_runtime_filter" -> """
      SELECT l_orderkey, l_linenumber, s_suppkey, s_name
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 3
      ORDER BY l_orderkey, l_linenumber, s_suppkey
    """,
    // the compacted table must be row-for-row the original orders
    "b01_compact" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey
    """,
    // pre-evolution rows surface NULL for the added column; the added
    // column is a deterministic derivation the oracle replays
    "b01_schema_evolution" -> """
      SELECT n_nationkey, n_name, n_regionkey,
        CASE WHEN n_nationkey < 13 THEN NULL
             ELSE CAST(length(n_name) AS INT) END AS n_name_len
      FROM nation ORDER BY n_nationkey
    """,
    // the AS-OF-0 snapshot must be exactly the original table — v1's
    // suffixed names leak nowhere
    "b01_time_travel" -> """
      SELECT n_nationkey, n_name, n_regionkey
      FROM nation ORDER BY n_nationkey
    """,
    "b03_join_salted" -> """
      SELECT l_orderkey, l_linenumber, l_suppkey AS suppkey, s_name
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      ORDER BY l_orderkey, l_linenumber, suppkey
    """,
    // the naive filter over the unpartitioned table — identical rows
    // whether or not the engine pruned partitions
    "b03_dpp_join" -> """
      SELECT year(CAST(o_orderdate AS TIMESTAMP)) AS o_year,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders
      WHERE year(CAST(o_orderdate AS TIMESTAMP)) >= 1999
      GROUP BY 1 ORDER BY 1
    """,
    // the naive full-table filter: a pruned read that lost a file's rows
    // (or skipped the residual predicate) hash-mismatches here
    "b01_stats_skipping" -> """
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <= TIMESTAMP '1997-12-31 23:59:59'
      ORDER BY o_orderkey
    """,
    "b04_salted_agg" -> """
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_value,
             COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "b01_zorder_key" -> s"""
      WITH cells AS (
        SELECT l_orderkey, l_linenumber,
               l_partkey % ${1 << ZBits} AS pk_cell,
               l_suppkey % ${1 << ZBits} AS sk_cell
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, pk_cell, sk_cell, ($zkeySql) AS zkey
      FROM cells ORDER BY zkey, l_orderkey, l_linenumber LIMIT 200
    """,
  )
}
