package graft.ops

import graft.Cut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The at-scale mechanics (SURVEY §8 design notes made executable):
  * skew-salted joins, bucketed co-located joins, partitioned layouts.
  * These are the knobs a 1000-executor deployment turns; ScaleOpsSpec
  * asserts their plan-level effects (no exchange on bucketed joins,
  * partition pruning on partitioned layouts, salted == unsalted results).
  */
object ScaleOps {

  /** Skew-salted equi-join (inner): the small side is replicated into
    * `salts` copies; each big-side row picks one deterministic salt, so a
    * hot key's rows spread over `salts` reducer partitions instead of one.
    * Use when one key dominates (AQE's skew handling covers sort-merge
    * joins; salting also works for aggregations and older planners).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    // deterministic per-row spread: hash the whole row, not rand() — keeps
    // the query replayable and oracle-friendly
    val rowHash = xxhash64(struct(big.columns.map(col): _*))
    val saltedBig = big.withColumn("__salt", pmod(rowHash, lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Salted aggregation: two-phase groupBy for a skewed key — partial
    * aggregate on (key, salt), then final on key. Exact for algebraic
    * aggregates (sum/count here). */
  def saltedSumCount(df: DataFrame, key: String, valueCol: Column, salts: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(struct(df.columns.map(col): _*)), lit(salts)).cast("int"))
    salted.groupBy(col(key), col("__salt"))
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum(col("__psum")).as("sum_value"), sum(col("__pcnt")).as("n_rows"))
  }

  /** Write a DataFrame as a bucketed external table: co-locates rows by
    * `key` so future equi-joins/aggregations on `key` skip the shuffle
    * entirely (both sides must share bucket count + key). */
  def writeBucketed(df: DataFrame, path: String, table: String, key: String, buckets: Int): Unit =
    writeBucketedKeys(df, path, table, Seq(key), buckets)

  /** [[writeBucketed]] over a composite key (r13): the bucket columns
    * must match a consumer join's keys EXACTLY (same set — Spark's
    * co-partition check wants the full key list) for the scan-side
    * HashPartitioning to replace the join's shuffle. */
  def writeBucketedKeys(df: DataFrame, path: String, table: String,
      keys: Seq[String], buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Write a DataFrame hive-partitioned by `partitionCol`: equality/IN
    * filters on that column prune entire directories at plan time. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetMB`-sized files. Small files are the silent killer of big
    * scans (one task + one open per file; a 100 TB table written by
    * per-minute micro-batches can hit millions) — compaction restores
    * scan parallelism to bytes/target. File count derives from the
    * ACTUAL on-disk bytes (filesystem listing, no data pass);
    * `repartition(n)` round-robins rows so output files are even.
    *
    * The commit is a MANIFEST-POINTER publish through [[graft.Versions]],
    * not a live-dir rename (r14, VERDICT r13 #5: the old stage → rename
    * live out → rename staged in had a missing-path window between the
    * renames, and object-store "renames" are copy+delete, widening it to
    * seconds). Each rewrite lands immutably in `<dir>/_v<N>` and commits
    * with one marker; [[readCompacted]] resolves the highest committed
    * version, falling back to the raw top-level files before the first
    * compact, so at EVERY interleaving a reader sees one complete
    * dataset. A crash leaves an uncommitted orphan (never readable,
    * swept once its claim ages past the floor) or an unpruned
    * predecessor (pruned next time); no recovery rename exists because
    * no state ever needs putting back. Racing compactors claim distinct
    * numbers and both commit; the higher serves.
    *
    * RETENTION (r14, found by the hammering-reader race spec): a
    * superseded version, and the raw pre-compact data, go only once
    * their successor's marker is older than `retainMs` on the store's
    * clock ([[graft.Versions.vacuum]]): any read that starts within the
    * window finishes safely; size it to the longest expected scan.
    * `retainMs = 0` restores eager pruning for callers that serialize
    * readers themselves. Once the raw files are vacuumed, the sentinel
    * `_GRAFT_COMPACTED` is left in the table dir so a legacy raw reader
    * (via [[readRaw]]) fails with an actionable error instead of
    * silently scanning nothing (VERDICT r14 #6 — underscore-prefixed
    * names are invisible to `spark.read.parquet(dir)`).
    *
    * Returns the output file count. `onStep` is a test seam: called with
    * "staged" / "committed" / "pruned" as the protocol advances. A
    * hive-partitioned RAW layout is sized recursively and compacts with
    * its partition columns inferred into regular columns (the rewrite is
    * flat — callers who need partition pruning should re-partitionBy
    * downstream, as with any row-preserving rewrite). */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetMB: Int = 128,
              retainMs: Long = graft.Versions.RetainMs,
              onStep: String => Unit = _ => ()): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcDir = compactDataDir(fs, path)
    // size RECURSIVELY (r14 review): a hive-partitioned raw layout keeps
    // its data in key=value subdirs with zero top-level files — a
    // top-level-only sum would size it at 0 and squeeze any table into
    // one file/one task
    val bytes = dataEntryStatuses(fs, new org.apache.hadoop.fs.Path(srcDir))
      .flatMap { st =>
        if (st.isFile) Seq(st.getLen)
        else Seq(fs.getContentSummary(st.getPath).getLength)
      }.sum
    val n = math.max(1, math.ceil(bytes.toDouble / (targetMB.toLong << 20)).toInt)
    graft.Versions.publish(fs, path) { vdir =>
      graft.Versions.readParquet(spark, srcDir).repartition(n).write.parquet(vdir.toString)
      onStep("staged")
    }
    onStep("committed")
    // raw data (files AND hive-partition subdirs — r14 review: a
    // partitioned layout is directories, a file-only prune leaked it
    // forever) is superseded by the OLDEST commit, with the same window
    val (_, rawSupersededFor) = graft.Versions.vacuum(fs, path, retainMs)
    if (rawSupersededFor.exists(_ >= retainMs)) {
      val pruned = dataEntryStatuses(fs, path)
      pruned.foreach(st => fs.delete(st.getPath, true))
      if (pruned.nonEmpty)
        fs.create(new org.apache.hadoop.fs.Path(path, CompactedSentinel), true).close()
    }
    onStep("pruned")
    n
  }

  private[graft] val CompactedSentinel = "_GRAFT_COMPACTED"

  /** Top-level DATA entries of a dir — files and (partition) subdirs,
    * skipping `_`/`.`-prefixed names, the same visibility rule Spark's
    * file index applies (so version dirs and claims are never "data"). */
  private def dataEntryStatuses(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    (if (fs.exists(path)) fs.listStatus(path) else
      Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter { st =>
        val nm = st.getPath.getName; !nm.startsWith("_") && !nm.startsWith(".")
      }.toSeq

  /** Resolve the live data directory of a [[compact]]-managed table:
    * the max COMMITTED version, or the raw table dir before the first
    * compact. This is the reader half of the manifest-pointer contract
    * — never a missing path, at any protocol interleaving. */
  def compactDataDir(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): String =
    graft.Versions.latest(fs, path).getOrElse(path).toString

  /** Read a [[compact]]-managed table through the version resolver. */
  def readCompacted(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.Versions.readParquet(spark, compactDataDir(fs, path))
  }

  /** The migration guard for LEGACY raw readers (r15, VERDICT r14 #6):
    * a plain `spark.read.parquet(dir)` on a [[compact]]-managed table
    * silently returns an EMPTY frame once the first compact's retention
    * expires — version dirs are underscore-prefixed and invisible, and
    * the raw files are vacuumed. Reading through this helper instead
    * turns that silent emptiness into an actionable failure: it refuses
    * when the `_GRAFT_COMPACTED` sentinel (stamped at raw vacuum) or any
    * committed version is present, naming [[readCompacted]] as the fix.
    * Before the first compact it is exactly `spark.read.parquet(dir)`. */
  def readRaw(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(path, CompactedSentinel)),
      s"$dir has been compacted and its raw files vacuumed — a raw read " +
        "would silently return an empty table. Read it through " +
        "graft.ops.ScaleOps.readCompacted (the version resolver) instead.")
    require(graft.Versions.latest(fs, path).isEmpty,
      s"$dir is compact-managed (a committed _v<N> exists); its raw " +
        "top-level files are stale-then-vacuumed. Read it through " +
        "graft.ops.ScaleOps.readCompacted instead.")
    spark.read.parquet(dir)
  }

  /** Minimal versioned table with snapshot isolation and time travel —
    * the manifest-pointer design every table format (Delta, Iceberg,
    * Hudi) builds on, reduced to its load-bearing core and run by
    * [[graft.Versions]]: each commit is the next immutable version, so
    * an overwrite never mutates published data and time-travel reads of
    * older versions keep working. At 100 TB this is exactly the cheap
    * part: commits move one empty marker file regardless of data size,
    * and readers pay one directory listing. */
  object Versioned {
    private def fsOf(spark: org.apache.spark.sql.SparkSession, dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }

    /** Published version numbers, ascending (empty for a fresh dir). */
    def versions(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] = {
      val (fs, p) = fsOf(spark, dir)
      graft.Versions.committed(fs, p)
    }

    /** Commit `df` as the next version (the first is 0); returns the
      * version published. A racer that claimed a number first — in this
      * JVM or another — pushes this commit to the next one. */
    def commit(df: DataFrame, dir: String): Long = {
      val (fs, p) = fsOf(df.sparkSession, dir)
      graft.Versions.publish(fs, p)(v => df.write.parquet(v.toString))
    }

    /** Snapshot read: latest published version, or `asOf` exactly.
      * Fails loudly on an unpublished or vacuumed version. */
    def read(spark: org.apache.spark.sql.SparkSession, dir: String,
             asOf: Option[Long] = None): DataFrame = {
      val vs = versions(spark, dir)
      require(vs.nonEmpty, s"Versioned.read: no published versions under $dir")
      val v = asOf match {
        case Some(n) =>
          require(vs.contains(n),
            s"Versioned.read: version $n of $dir is not published " +
              s"(available: ${vs.mkString(",")}) — unpublished, or vacuumed")
          n
        case None => vs.last
      }
      graft.Versions.readParquet(spark,
        graft.Versions.dirOf(new org.apache.hadoop.fs.Path(dir), v).toString)
    }

    /** Drop all but the newest `keepLast` versions, marker first — a
      * reader that already resolved a version reads data that outlives
      * its marker; a reader arriving after sees only retained versions.
      * Crashed commits' leftovers go once their claim is past
      * [[graft.Versions.RetainMs]]. Returns the dropped ids. */
    def vacuum(spark: org.apache.spark.sql.SparkSession, dir: String,
               keepLast: Int): Seq[Long] = {
      require(keepLast >= 1, "Versioned.vacuum: keepLast must be >= 1")
      val (fs, p) = fsOf(spark, dir)
      graft.Versions.vacuum(fs, p, retainMs = 0L, keep = keepLast)._1
    }
  }

  /** Bit-interleaved Z-order key over pre-scaled non-negative longs
    * (each < 2^bits): bit b of column j lands at position b·ncols + j.
    * Pure column algebra (bits×ncols shift/mask/or terms) → codegen'd,
    * no UDF. */
  def zKey(scaled: Seq[Column], bits: Int): Column = {
    require(scaled.nonEmpty && bits * scaled.size <= 63,
      s"zKey: ${scaled.size} cols x $bits bits must fit in a long")
    val n = scaled.size
    val terms = for { b <- 0 until bits; (c, j) <- scaled.zipWithIndex }
      yield shiftleft(shiftrightunsigned(c, b).bitwiseAND(lit(1L)), b * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-order clustered write: multi-column data layout so min/max
    * file skipping works on EVERY z-column, not just a lead sort column —
    * a linear sort clusters its first key and leaves every other column
    * spanning the full domain in every file, while the Z-curve gives each
    * file a hypercube cell (~domain/2^(log2(files)/ncols) per side).
    * At 100 TB this is the difference between pruning on one predicate
    * column and pruning on all of them.
    *
    * Columns are min-max scaled to `bits` bits (one tiny 1-row aggregate —
    * the only driver-side step), interleaved into the z-key, then
    * range-repartitioned + sorted on it so parquet row-group stats align
    * with the curve. Constant columns scale to 0 (no div-by-zero).
    */
  def zOrderWrite(df: DataFrame, zcols: Seq[String], path: String,
                  numFiles: Int, bits: Int = 16): Unit = {
    val aggs = zcols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head() // 1 row, 2·k doubles
    val top = (1L << bits) - 1
    val scaled = zcols.zipWithIndex.map { case (c, i) =>
      // empty input → min/max are null; write the empty frame unscaled
      val mn = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val mx = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      val range = if (mx > mn) mx - mn else 1.0
      (((col(c).cast("double") - mn) / range) * top).cast("long")
    }
    df.withColumn("__z", zKey(scaled, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** File-level min/max data skipping — the manifest primitive behind
    * Delta/Iceberg-style pruning: a table written range-clustered on a
    * key (so per-file key ranges are tight and near-disjoint) carries a
    * per-file [min, max] manifest, and a range query consults the
    * manifest FIRST, then reads only the overlapping files. At 100 TB
    * the manifest is metadata-scale (one row per file, written at
    * commit time beside the data — here recomputed with one aggregate,
    * `input_file_name`-keyed, because the gate rebuilds its store per
    * run) while the data scan shrinks by the clustering factor; this is
    * the coarse complement of parquet's row-group stats, which Spark
    * only consults AFTER listing and opening every file. */
  def statsManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      key: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("mn"), max(col(key)).as("mx"))

  /** Serve the range query through the manifest AS A TABLE (r8): the
    * kept-file set stays a DataFrame joined scan-side (broadcast
    * left-semi on `input_file_name`), never a driver-side file list —
    * the shape Delta/Iceberg plan with, where at 100 TB the manifest is
    * itself a distributed metadata table and a million-file list must
    * not round-trip through the driver. The only driver values are the
    * two COUNTS backing the caller's non-vacuity assert. Physical file
    * skipping rides the pushed key predicate (parquet footer min/max
    * kill non-overlapping files' row groups at open time — the table is
    * range-clustered, so footer and manifest ranges coincide); the semi
    * join is the file-grain membership decision derived from manifest
    * DATA, and returns (frame, kept, total) so callers assert pruning
    * engaged. The residual predicate still applies — file grain is
    * coarser than row grain. */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
      key: String, lo: Column, hi: Column): (DataFrame, Int, Int) = {
    val overlaps = !(col("mx") < lo || col("mn") > hi)
    // materialize the manifest ONCE (r8 ADVICE: the counts action and
    // the semi-join side each re-scanned the key column across all
    // files); it is file-count-sized, so the eager cut is metadata-cheap
    val mf = statsManifest(spark, path, key).transform(Cut.eager)
    val cnt = mf.agg(count(lit(1)).as("total"),
      sum(when(overlaps, 1L).otherwise(0L)).as("kept")).head()
    val keepMf = mf.where(overlaps).select(col("file").as("__keep_file"))
    val out = spark.read.parquet(path)
      .where(col(key) >= lo && col(key) <= hi)
      .withColumn("__file", input_file_name())
      .join(broadcast(keepMf), col("__file") === col("__keep_file"), "left_semi")
      .drop("__file")
    (out, cnt.getLong(1).toInt, cnt.getLong(0).toInt)
  }

  /** Run `f` with Catalyst's runtime bloom-filter join pruning forced on:
    * when one join side carries a selective filter, the optimizer injects a
    * bloom-filter aggregate on that side and a `might_contain` probe into
    * the OTHER side's scan, so most non-matching fact rows die before the
    * shuffle instead of after it. This is THE cheap scan-side win for
    * star joins at 100 TB (the fact side is read once regardless; the
    * bloom probe cuts what gets hashed + exchanged). Spark gates the
    * rewrite on size estimates tuned for clusters — this helper pins the
    * thresholds so the plan shape is demonstrable (and spec-assertable) at
    * local fixture scale; production leaves the defaults on.
    */
  def withBloomPruning[T](df: DataFrame)(f: => T): T = {
    val conf = df.sparkSession.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // a broadcast join would make the bloom filter pointless (and the
      // optimizer skips injection); force the shuffle-join shape the
      // rewrite targets
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      f
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
