package graft

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

/** r10: the SnapshotStore publish protocol (claim-then-rename, loser
  * waits for the winner's _SUCCESS) has been review-audited since r8
  * but never exercised under ACTUAL contention. This spec races N
  * threads on one cold key and pins the protocol's contract: every
  * caller returns the same rows, the cache directory holds exactly one
  * committed copy (no nested duplicate from a lost rename race — the
  * RawLocalFileSystem failure mode the claim file exists to prevent),
  * and a second cold JVM-equivalent touch (fresh key object, same
  * inputs) serves from disk without rebuilding. */
class SnapshotRaceSpec extends SparkSpec {

  test("N threads racing one cold snapshot key: one committed copy, " +
    "identical rows for every caller, no nested duplicates") {
    val buildCount = new AtomicInteger(0)
    val key = s"race_spec_${System.nanoTime()}"
    val n = 6
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val results = (1 to n).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Seq[Seq[Any]]] {
        def call(): Seq[Seq[Any]] = {
          start.await()
          SnapshotStore(spark, sfDir, "documents.parquet", key) {
            buildCount.incrementAndGet()
            Tables.documents(spark, sfDir)
              .select(col("doc_id"), length(col("text")).as("len"))
          }.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
        }
      })
    }
    start.countDown()
    val rows = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // every racer sees identical content
    assert(rows.distinct.size === 1, "racers saw divergent snapshot content")
    assert(rows.head.nonEmpty)
    // builds may race (losers' staged dirs are discarded) but the
    // PUBLISHED artifact is single: exactly one _SUCCESS, and no
    // nested copy inside the cache dir (the rename-into-existing-dir
    // disease the claim protocol prevents)
    val root = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_scratch")
    val cacheDirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(v =>
        Option(v.listFiles()).getOrElse(Array.empty))
      .filter(d => d.getName.startsWith(key + "_") && d.isDirectory &&
        !d.getName.contains("staged"))
      .flatMap(d => d.listFiles().filter(_.getName.matches("_v\\d+")))
    assert(cacheDirs.length === 1,
      s"expected one committed cache dir, got ${cacheDirs.map(_.getName).toSeq}")
    val inside = Option(cacheDirs.head.listFiles()).getOrElse(Array.empty)
    assert(inside.count(_.getName == "_SUCCESS") === 1, "no single _SUCCESS")
    assert(!inside.exists(_.isDirectory),
      s"nested directory inside the snapshot: ${inside.filter(_.isDirectory).map(_.getName).toSeq}")
    // a later cold touch (same key, fresh call) serves from disk: the
    // builder must NOT run again
    val before = buildCount.get()
    val again = SnapshotStore(spark, sfDir, "documents.parquet", key) {
      buildCount.incrementAndGet()
      sys.error("builder must not re-run for a published snapshot")
    }.count()
    assert(again > 0L)
    assert(buildCount.get() === before, "published snapshot was rebuilt")
  }

  test("N threads racing one cold BUCKETED snapshot key (r13): one build, " +
    "identical rows, every caller gets the catalog table") {
    val buildCount = new AtomicInteger(0)
    val key = s"race_bkt_${System.nanoTime()}"
    val n = 6
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val results = (1 to n).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Seq[Seq[Any]]] {
        def call(): Seq[Seq[Any]] = {
          start.await()
          SnapshotStore.bucketed(spark, sfDir, "documents.parquet", key,
            buckets = 4, bucketKeys = Seq("doc_id")) {
            buildCount.incrementAndGet()
            Tables.documents(spark, sfDir)
              .select(col("doc_id"), length(col("text")).as("len"))
          }.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
        }
      })
    }
    start.countDown()
    val rows = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(rows.distinct.size === 1, "racers saw divergent bucketed content")
    assert(rows.head.nonEmpty)
    // the in-JVM lock serializes the cold touch and the tableExists
    // re-check inside it skips the build for every later thread: exactly
    // one builder ran (cross-process racers would each stage into their
    // own UUID dir and the losers discard, like apply())
    assert(buildCount.get() === 1,
      s"expected exactly one bucketed build, got ${buildCount.get()}")
    // a later cold touch serves the registered table without rebuilding
    val before = buildCount.get()
    val again = SnapshotStore.bucketed(spark, sfDir, "documents.parquet", key,
      buckets = 4, bucketKeys = Seq("doc_id")) {
      buildCount.incrementAndGet()
      sys.error("builder must not re-run for a published bucketed snapshot")
    }.count()
    assert(again > 0L)
    assert(buildCount.get() === before, "published bucketed snapshot was rebuilt")
  }

  test("a snapshot build that died after its claim: the next SnapshotStore " +
    "and SnapshotStore.bucketed calls build and serve at once, and the orphan " +
    "goes only at the sweep floor") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("len"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val expect = rows(docs)
    val calls = Seq[(String, (String, () => org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame)](
      "crash_path" -> ((key, build) =>
        SnapshotStore(spark, sfDir, "documents.parquet", key)(build())),
      "crash_bkt" -> ((key, build) =>
        SnapshotStore.bucketed(spark, sfDir, "documents.parquet", key,
          buckets = 4, bucketKeys = Seq("doc_id"))(build())))
    calls.foreach { case (tag, call) =>
      val key = s"${tag}_${System.nanoTime()}"
      // the builder dies after the claim, before it wrote anything ...
      intercept[RuntimeException](call(key, () => sys.error("builder died")))
      val keyDir = Option(new java.io.File(sys.props("java.io.tmpdir"), "graft_scratch")
        .listFiles()).getOrElse(Array.empty).flatMap(v => Option(v.listFiles())
          .getOrElse(Array.empty)).filter(_.getName.startsWith(key + "_")).toSeq
      assert(keyDir.size === 1, s"$tag: no key dir for $key")
      val claim = new java.io.File(keyDir.head, "_v0.claim")
      assert(claim.exists(), s"$tag: the dead build left no claim")
      // ... or it died mid-write: an unmarked version dir with a torn file
      val orphan = new java.io.File(keyDir.head, "_v0")
      assert(orphan.mkdirs())
      java.nio.file.Files.write(new java.io.File(orphan, "part-00000.parquet").toPath,
        "torn".getBytes("UTF-8"))
      val t0 = System.nanoTime()
      assert(rows(call(key, () => docs)) === expect, s"$tag: wrong rows")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 20, f"$tag: serving past a dead claim took $secs%.1f s")
      assert(new java.io.File(keyDir.head, "_v1/_GRAFT_COMMITTED").exists())
      assert(orphan.exists() && claim.exists(),
        s"$tag: the orphan went before its claim reached the sweep floor")
      claim.setLastModified(System.currentTimeMillis() - 11 * 60000L)
      val fs = new org.apache.hadoop.fs.Path(keyDir.head.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Versions.vacuum(fs, new org.apache.hadoop.fs.Path(keyDir.head.toString))
      assert(!orphan.exists() && !claim.exists(), s"$tag: aged orphan not swept")
      assert(rows(call(key, () => sys.error("published snapshot was rebuilt"))) === expect)
    }
  }

  test("compact manifest-pointer commit (r14, VERDICT r13 #5): a reader at " +
    "EVERY protocol step sees one complete dataset — no missing-path window, " +
    "no recovery rename; a crash between stage and commit is invisible") {
    import graft.ops.ScaleOps
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_race")
      .toString + "/t"
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("len"))
    src.repartition(16).write.parquet(dir)
    val expect = src.count()
    def readNow(): Long = ScaleOps.readCompacted(spark, dir).count()
    // the old two-rename swap's failure point was BETWEEN renames (live
    // dir absent). The pointer protocol has no rename at all: probe the
    // reader at every step boundary and mid-"prune" equivalents.
    var steps = List.empty[String]
    ScaleOps.compact(spark, dir, targetMB = 128, retainMs = 0L, onStep = { step =>
      steps ::= step
      assert(readNow() === expect,
        s"reader at step '$step' lost rows — missing-path window regressed")
    })
    assert(steps.reverse === List("staged", "committed", "pruned"))
    assert(readNow() === expect)
    // simulated crash: a run that dies AFTER staging but BEFORE the
    // marker leaves an orphan version — the reader never resolves it,
    // and the next compact garbage-collects it without any recovery call
    val boom = intercept[RuntimeException] {
      ScaleOps.compact(spark, dir, targetMB = 128, retainMs = 0L, onStep = {
        case "staged" => sys.error("crash before commit")
        case _ => ()
      })
    }
    assert(boom.getMessage === "crash before commit")
    assert(readNow() === expect, "orphaned stage changed what readers see")
    // r15: a fresh claim-plus-unmarked-dir is indistinguishable from a
    // LIVE racer mid-stage, so the orphan is RETAINED (never readable
    // either way) until its claim ages past the sweep floor; age it to
    // simulate the crashed run receding into the past
    ScaleOps.compact(spark, dir, targetMB = 128, retainMs = 0L)
    assert(readNow() === expect)
    val orphanClaim = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".claim"))
    assert(orphanClaim.length === 1, "crashed stage left no claim to age")
    orphanClaim.head.setLastModified(System.currentTimeMillis() - 11 * 60000L)
    ScaleOps.compact(spark, dir, targetMB = 128, retainMs = 0L)
    assert(readNow() === expect)
    // exactly one committed version survives; the aged orphan is gone
    val vdirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_v"))
    assert(vdirs.length === 1,
      s"expected one surviving version dir, got ${vdirs.map(_.getName).mkString(",")}")
    assert(new java.io.File(vdirs.head, "_GRAFT_COMMITTED").exists())
  }

  test("concurrent COMPACTORS (r15, ADVICE r14): two compacts racing on one " +
    "table claim distinct version numbers — neither overwrites the other's " +
    "committed data, both commit, readers see the full dataset throughout") {
    import graft.ops.ScaleOps
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_claim")
      .toString + "/t"
    val src = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    src.repartition(8).write.parquet(dir)
    val expect = src.count()
    // a standing CLAIM (as if another compactor grabbed the next number
    // moments ago and is still staging): this run must skip past it —
    // the old max-over-dirs `next` would collide and its
    // mode("overwrite") stage would delete the racer's work
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(dir, "_v1.claim"), false).close()
    ScaleOps.compact(spark, dir, targetMB = 128)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("_v2"),
      s"compact did not skip the outstanding claim: $names")
    assert(!names.contains("_v1"),
      "compact staged INTO the claimed number — claim not honored")
    assert(names.contains("_v1.claim"),
      "a fresh racer's claim was reaped (it is younger than the sweep floor)")
    // a genuinely concurrent pair: both must succeed with distinct
    // numbers and the reader contract must hold after both
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val racers = (1 to 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = { start.await(); ScaleOps.compact(spark, dir, targetMB = 128) }
      })
    }
    start.countDown()
    racers.foreach(_.get(120, TimeUnit.SECONDS)) // neither may throw
    pool.shutdown()
    assert(ScaleOps.readCompacted(spark, dir).count() === expect)
    val committed = new java.io.File(dir).listFiles()
      .filter(f => f.getName.matches("_v\\d+") &&
        new java.io.File(f, "_GRAFT_COMMITTED").exists())
    assert(committed.nonEmpty, "no committed version after the race")
  }

  test("compact retention is STORE-clock based and leaves the _GRAFT_COMPACTED " +
    "sentinel (r15, VERDICT r14 #3/#6): marker ages compare against a " +
    "filesystem-stamped now, a vacuumed raw dir fails readRaw loudly") {
    import graft.ops.ScaleOps
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_skew")
      .toString + "/t"
    val src = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    src.repartition(8).write.parquet(dir)
    val expect = src.count()
    // before any compact, readRaw IS the raw read
    assert(ScaleOps.readRaw(spark, dir).count() === expect)
    val hourMs = 3600000L
    ScaleOps.compact(spark, dir, targetMB = 128, retainMs = hourMs)
    // raw files retained: v0's marker is seconds old, well inside 1 h
    assert(new java.io.File(dir).listFiles().exists(f =>
      f.getName.endsWith(".parquet") || (f.isDirectory && !f.getName.startsWith("_"))),
      "raw files vacuumed inside the retention window")
    // ... but a raw read already resolves stale data: readRaw refuses
    val early = intercept[IllegalArgumentException] {
      ScaleOps.readRaw(spark, dir)
    }
    assert(early.getMessage.contains("readCompacted"))
    // simulate 2 h of STORE time elapsing by aging v0's marker — the
    // retention decision must follow the marker's filesystem mtime
    // (both sides of the comparison now come from the store clock; a
    // skewed LOCAL clock no longer shrinks or stretches the window)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_v0/_GRAFT_COMMITTED")
    fs.setTimes(marker, System.currentTimeMillis() - 2 * hourMs, -1)
    ScaleOps.compact(spark, dir, targetMB = 128, retainMs = hourMs)
    // v0 superseded the raw files 2 h (store time) ago: raw vacuumed,
    // sentinel stamped; v0 itself is superseded only seconds ago by
    // v1's fresh marker, so it survives the window
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains(ScaleOps.CompactedSentinel), s"no sentinel in $names")
    assert(names.contains("_v0"), "v0 pruned inside its retention window")
    assert(!new java.io.File(dir).listFiles().exists(f =>
      f.getName.endsWith(".parquet")), "raw files survived an expired window")
    assert(ScaleOps.readCompacted(spark, dir).count() === expect)
    val e = intercept[IllegalArgumentException] {
      ScaleOps.readRaw(spark, dir)
    }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("readCompacted"),
      s"readRaw error not actionable: ${e.getMessage}")
  }

  test("compact under a HAMMERING concurrent reader (r14): every read during " +
    "three consecutive compactions returns the full dataset — the executed " +
    "form of the no-missing-path-window claim, not just step-boundary probes") {
    import graft.ops.ScaleOps
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_hammer")
      .toString + "/t"
    val src = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    src.repartition(8).write.parquet(dir)
    val expect = src.count()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reads = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(2)
    val readers = (1 to 2).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = while (!stop.get() && bad.get() == null) {
          try {
            val n = ScaleOps.readCompacted(spark, dir).count()
            reads.incrementAndGet()
            if (n != expect) bad.compareAndSet(null, s"read $n rows, expected $expect")
          } catch {
            case e: Exception => bad.compareAndSet(null, s"reader threw: ${e.getMessage}")
          }
        }
      })
    }
    try {
      (1 to 3).foreach(_ => ScaleOps.compact(spark, dir, targetMB = 128))
    } finally {
      stop.set(true)
      readers.foreach(_.get(60, TimeUnit.SECONDS))
      pool.shutdown()
    }
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(reads.get() > 0, "hammer never completed a read — vacuous race")
  }
}
