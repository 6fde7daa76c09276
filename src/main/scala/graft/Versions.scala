package graft

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one versioned publish protocol — the core Delta Lake reduces a
  * table commit to, written once for every caller that publishes a whole
  * dataset at a time: [[graft.ops.ScaleOps.compact]],
  * [[graft.ops.ScaleOps.Versioned]] and both [[SnapshotStore]] paths.
  *
  * Layout under a directory `dir`:
  *   - `_v<N>/`: version N's files, written once and never touched after
  *     its marker (underscore-prefixed, so a raw parquet read of `dir`
  *     does not see it);
  *   - `_v<N>/_GRAFT_COMMITTED`: the commit, one create-exclusive empty
  *     file made only after the write returned;
  *   - `_v<N>.claim`: a writer's exclusive hold on number N, from before
  *     its first write until just after its marker.
  *
  * Readers resolve the highest committed version, or a named one, so at
  * every interleaving they see one complete dataset: an unmarked version
  * is never resolved, and no number is reused while a file of it exists.
  * Racers in different processes may both commit; the higher number
  * serves, and the lower is ordinary superseded data.
  *
  * The claim's `create(overwrite = false)` is the serialization point
  * across processes. It is atomic on HDFS, the local filesystem, ABFS and
  * GCS; on raw S3 it is HEAD-then-PUT, so concurrent writers there need a
  * conditional put (If-None-Match) or an external lock — the standard
  * S3A committer restriction. On RawLocalFileSystem it is check-then-act
  * inside one JVM too, so two threads could both win one number: the
  * claim runs under a per-directory in-JVM monitor. The write runs
  * outside it, so a build that reads another directory's versions
  * cannot deadlock on it. */
private[graft] object Versions {
  private val Marker = "_GRAFT_COMMITTED"

  /** How long superseded commits are kept by default, and the least age
    * of a claim before its version counts as orphaned. */
  val RetainMs = 600000L

  private val VersionName = "^_v(\\d+)$".r
  private val ClaimName = "^_v(\\d+)\\.claim$".r

  def dirOf(dir: Path, v: Long): Path = new Path(dir, s"_v$v")
  private def claimOf(dir: Path, v: Long) = new Path(dir, s"_v$v.claim")
  private def markerOf(vdir: Path) = new Path(vdir, Marker)

  /** (version directories, claimed numbers) under `dir`. */
  private def scan(fs: FileSystem, dir: Path): (Seq[(Long, Path)], Seq[Long]) = {
    val named = (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty)
      .map(st => (st, st.getPath.getName))
    (named.collect { case (st, VersionName(v)) if st.isDirectory => (v.toLong, st.getPath) },
      named.collect { case (st, ClaimName(v)) if st.isFile => v.toLong })
  }

  /** Committed version numbers under `dir`, ascending. */
  def committed(fs: FileSystem, dir: Path): Seq[Long] =
    scan(fs, dir)._1.collect { case (v, p) if fs.exists(markerOf(p)) => v }.sorted

  /** The directory of the highest committed version. */
  def latest(fs: FileSystem, dir: Path): Option[Path] =
    committed(fs, dir).lastOption.map(dirOf(dir, _))

  /** Publish one version: claim the next number, `write` its files into
    * the fresh version directory, commit with the marker, then drop the
    * claim (from there the directory itself blocks the number). Returns
    * the version. A throw from `write` leaves the claim and whatever was
    * written: an orphan no reader resolves, swept by [[vacuum]] once its
    * claim is old enough. */
  def publish(fs: FileSystem, dir: Path)(write: Path => Unit): Long = {
    val v = claim(fs, dir)
    val vdir = dirOf(dir, v)
    write(vdir)
    fs.create(markerOf(vdir), false).close()
    fs.delete(claimOf(dir, v), false)
    v
  }

  /** A parquet read of directory `dir` that stays quiet on a version
    * directory: Spark logs "All paths were ignored" for every root path
    * whose name starts with `_` or `.`, though it reads it all the same.
    * Such a dir is read through its data entries (files and partition
    * dirs) instead, in listing order, the order a read of the dir scans
    * them in; `basePath` keeps partition discovery rooted at `dir`. */
  def readParquet(spark: SparkSession, dir: String): DataFrame = {
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    val path = new Path(dir)
    val entries = if (!hidden(path)) Seq.empty else path.getFileSystem(spark.sparkContext
      .hadoopConfiguration).listStatus(path).toSeq.map(_.getPath).filterNot(hidden).map(_.toString)
    if (entries.isEmpty) spark.read.parquet(dir)
    else spark.read.option("basePath", dir).parquet(entries: _*)
  }

  /** One monitor per directory, never released (directories are few). */
  private val claimLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Claim one above every version directory and every outstanding claim,
    * so neither a crashed writer's number nor a live racer's is reused. A
    * lost race recomputes; an IO failure that is not a lost race (a dead
    * store, no permission) surfaces after 100 attempts instead of
    * spinning. */
  private def claim(fs: FileSystem, dir: Path): Long =
    claimLocks.computeIfAbsent(fs.makeQualified(dir).toString, _ => new Object).synchronized {
      @annotation.tailrec def attempt(n: Int): Long = {
        val (vs, claims) = scan(fs, dir)
        val v = (vs.map(_._1) ++ claims).maxOption.fold(0L)(_ + 1)
        val won =
          try { fs.create(claimOf(dir, v), false).close(); true }
          catch { case e: IOException =>
            if (n >= 100) throw new IOException(
              s"could not claim a version under $dir after $n attempts", e)
            false
          }
        if (won) v else attempt(n + 1)
      }
      attempt(1)
    }

  /** Delete what no new reader can resolve, only below the newest commit:
    *   - a committed version once the `keep`-th commit above it has been
    *     live for `retainMs`. Its marker goes first, so a half-deleted
    *     version never resolves. The window is VACUUM's retention
    *     contract: Spark opens files lazily per task, well after the
    *     resolve, so a reader that resolved a version just before it was
    *     superseded has `retainMs` to finish its scan;
    *   - an uncommitted version, or a claim with no directory, once its
    *     claim is gone or older than max(retainMs, [[RetainMs]]). A live
    *     writer's version looks exactly like a crashed one; only the
    *     claim's age tells them apart (remove-orphan-files). The marker
    *     is re-checked after the claim: a writer drops its claim only
    *     after its marker, so a version that committed since the scan is
    *     never taken for an orphan.
    * Ages are on the store's clock: "now" is the newest marker's mtime,
    * stamped by the filesystem that stamped every other marker and claim,
    * so a skewed client clock neither shrinks nor stretches the window.
    * Returns the dropped commits and, before the sweep, the age of the
    * oldest commit: how long data older than every version has been
    * superseded (None when nothing is committed). */
  def vacuum(fs: FileSystem, dir: Path, retainMs: Long = RetainMs,
      keep: Int = 1): (Seq[Long], Option[Long]) = {
    val (vs, claims) = scan(fs, dir)
    def mtime(p: Path) = scala.util.Try(fs.getFileStatus(p).getModificationTime).toOption
    val commits = vs.flatMap { case (v, p) => mtime(markerOf(p)).map((v, p, _)) }.sortBy(_._1)
    if (commits.isEmpty) return (Seq.empty, None)
    val now = commits.map(_._3).max
    val dropped = commits.indices.collect {
      case i if i + keep < commits.size && now - commits(i + keep)._3 >= retainMs => commits(i)
    }
    dropped.foreach { case (v, p, _) =>
      fs.delete(markerOf(p), false); fs.delete(p, true); fs.delete(claimOf(dir, v), false)
    }
    val floor = math.max(retainMs, RetainMs)
    (vs.map(_._1) ++ claims).distinct
      .filter(v => v < commits.last._1 && !commits.exists(_._1 == v))
      .foreach { v =>
        if (mtime(claimOf(dir, v)).forall(now - _ >= floor) && !fs.exists(markerOf(dirOf(dir, v)))) {
          fs.delete(dirOf(dir, v), true); fs.delete(claimOf(dir, v), false)
        }
      }
    (dropped.map(_._1), Some(now - commits.head._3))
  }
}
