package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialize-once keyed parquet snapshots under the JVM tmpdir — the
  * local stand-in for the bucketed derived tables you'd write ONCE at
  * 100 TB ([[graft.ops.ScaleOps.writeBucketed]]) and point every
  * consumer at: the b16 co-purchase edge/triangle tables, and (r8) the
  * near-dedup reference shingle/band tables the
  * [[graft.streaming.Streaming.CrossNearDupSink]] scaladoc promises.
  * Moved out of GraphOps (r8) and generalized over the signature table
  * so document-derived snapshots key on documents.parquet, not
  * lineitem.parquet.
  *
  * Keyed by the source dir, the signature table's (bytes, mtime), and
  * [[SnapshotStore.Version]] — a regenerated testdata dir OR an edited
  * builder invalidates the snapshot instead of serving stale derived
  * data (bump Version when ANY builder's OUTPUT changes: the cache key
  * must invalidate on derivation-logic changes, not only data changes —
  * review finding, late r7).
  *
  * Each key's directory is published through [[Versions]]: the build is
  * written into a claimed version directory and committed with one
  * marker, and every caller serves the highest committed version. Inside
  * one JVM a per-key monitor lets one thread build while the others wait
  * for its commit. Racers in different processes may each build and
  * commit; that is safe because every builder is deterministic (the
  * oracle hash-gates their outputs), so any committed version serves the
  * same rows. A builder that died after its claim leaves an orphan that
  * no reader resolves; the next caller simply builds the next version. */
private[graft] object SnapshotStore {
  // r9: builder params join the cache key. r14: bumped for the
  // (refPred, k) fold into the ref-table keys — the prescribed
  // discipline when existing names change their key derivation, so the
  // orphaned pre-fold dirs live under the OLD versioned root and
  // sweepOldVersions ages the whole root out instead of leaking them
  // inside a live one forever. 6: each key is a versioned directory.
  private val Version = 6

  /** Snapshots live under a VERSIONED root (graft_scratch/v<N>/...) so
    * obsolete generations are identifiable by NAME: a version bump or a
    * key change orphans old snapshot dirs forever otherwise — the same
    * unbounded-tmpdir disease the r8 ADVICE flagged for the gate
    * stores. The first store touch of a JVM sweeps sibling roots of
    * OTHER versions (idle > 1 h by mtime — a live older-build JVM's
    * snapshots stay). */
  private val sweptOld = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def sweepOldVersions(): Unit =
    if (sweptOld.compareAndSet(false, true)) {
      val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_scratch")
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      val stale = Option(root.listFiles()).getOrElse(Array.empty).filter(f =>
        f.getName != s"v$Version" && f.lastModified() < cutoff)
      stale.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    }

  /** `params`: the builder's tuning constants, stringified — folded
    * into the cache key so retuning ONE builder invalidates ONLY its
    * snapshot, with no reliance on remembering to bump the shared
    * Version (r8 ADVICE: a params-free key silently serves stale
    * derived data after a constant edit). */
  def apply(s: SparkSession, dir: String, sigTable: String, name: String,
      params: String = "")(
      build: => DataFrame): DataFrame =
    Versions.readParquet(s, path(s, dir, sigTable, name, params)(build))

  /** [[apply]]'s materialize-once protocol, returning the committed
    * version DIRECTORY instead of a DataFrame over it — the handle a
    * by-reference consumer (r14: the ANN refresher's default
    * `bootstrapByRef` seed pointers) records instead of copying the
    * rows. Nothing is written inside it after its marker, and rebuilds
    * key to a NEW directory via sig/params/Version. */
  def path(s: SparkSession, dir: String, sigTable: String, name: String,
      params: String = "")(
      build: => DataFrame): String = {
    val (fs, keyDir) = keyed(s, dir, sigTable, name, params)
    servedOrBuilt(fs, keyDir)(v => build.write.parquet(v.toString)).toString
  }

  /** The key's directory: `<tmpdir>/graft_scratch/v<Version>/<name>_<key>`. */
  private def keyed(s: SparkSession, dir: String, sigTable: String, name: String,
      params: String): (FileSystem, Path) = {
    sweepOldVersions()
    val sigPath = new Path(s"$dir/$sigTable")
    val fs = sigPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sig = s"${fs.getContentSummary(sigPath).getLength}-" +
      s"${fs.getFileStatus(sigPath).getModificationTime}"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$sigTable|$sig|v$Version|$params".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    (fs, new Path(s"${sys.props("java.io.tmpdir")}/graft_scratch/v$Version/${name}_$key"))
  }

  /** The highest committed version of `keyDir`, built by `write` first
    * when none is committed. The per-key monitor is held across the
    * build (one build per key in this JVM); a build that reads another
    * snapshot takes that key's monitor, never this one. */
  private def servedOrBuilt(fs: FileSystem, keyDir: Path)(write: Path => Unit): Path =
    Versions.latest(fs, keyDir).getOrElse(lockOf(keyDir).synchronized {
      Versions.latest(fs, keyDir).getOrElse {
        val v = Versions.publish(fs, keyDir)(write)
        Versions.vacuum(fs, keyDir)
        Versions.dirOf(keyDir, v)
      }
    })

  private val keyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockOf(keyDir: Path): Object =
    keyLocks.computeIfAbsent(keyDir.toString, _ => new Object)

  /** Written into a bucketed version beside its data: the table's schema
    * as DDL, which the catalog registration needs. */
  private val SchemaFile = "_GRAFT_SCHEMA"

  /** Materialize-once BUCKETED derived table (r13, VERDICT r12 #1): the
    * EXECUTED form of the "at 100 TB this is a bucketed table" claims.
    * Same cache-key discipline and publish as [[path]], but the snapshot
    * is written with `bucketBy(buckets, keys).sortBy(keys)` and
    * registered in the session catalog, so a consumer's equi-join on the
    * bucket keys reads `HashPartitioning(keys, buckets)` straight from
    * the layout — EnsureRequirements shuffles ONLY the probe side
    * (BucketedLayoutSpec pins the executed plan: zero ShuffleExchange
    * above the bucketed scans, one on the batch side). The in-memory
    * catalog does not outlive the JVM, so a fresh session re-registers
    * the committed version's files via DDL (the schema rides a file in
    * the version) instead of rewriting them. The table is named after
    * the key's directory. */
  def bucketed(s: SparkSession, dir: String, sigTable: String, name: String,
      buckets: Int, bucketKeys: Seq[String], params: String = "")(
      build: => DataFrame): DataFrame = {
    require(bucketKeys.nonEmpty)
    val keys = bucketKeys.mkString(", ")
    val (fs, keyDir) = keyed(s, dir, sigTable, name, s"bkt$buckets|$keys|$params")
    val tbl = keyDir.getName
    lockOf(keyDir).synchronized {
      if (!s.catalog.tableExists(tbl)) {
        val vdir = servedOrBuilt(fs, keyDir) { v =>
          // saveAsTable is what writes the bucket-id file layout; its
          // throwaway catalog entry goes at once (an external table:
          // the files stay) and the real name registers below
          val df = build
          try df.write
            .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
            .sortBy(bucketKeys.head, bucketKeys.tail: _*)
            .option("path", v.toString).format("parquet").saveAsTable(s"${tbl}_staged")
          finally s.sql(s"DROP TABLE IF EXISTS ${tbl}_staged")
          val out = fs.create(new Path(v, SchemaFile), false)
          try out.write(df.schema.toDDL.getBytes("UTF-8")) finally out.close()
        }
        val in = fs.open(new Path(vdir, SchemaFile))
        val ddl = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        s.sql(s"""CREATE TABLE $tbl ($ddl) USING PARQUET
          CLUSTERED BY ($keys) SORTED BY ($keys)
          INTO $buckets BUCKETS LOCATION '$vdir'""")
      }
    }
    s.table(tbl)
  }
}
