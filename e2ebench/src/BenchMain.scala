package graftbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.harvest.HarvestJob

/** JSON output, the check handshake and file helpers. */
object Io {
  private val stdin = new BufferedReader(new InputStreamReader(System.in))

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => json(other.toString)
  }

  /** Sends one call's outputs for checking; true when the check passed. */
  def check(fields: Map[String, Any]): Boolean = {
    println("@@CHECK " + json(fields))
    System.out.flush()
    val answer = stdin.readLine()
    if (answer != "ok") System.err.println(s"check failed: $answer")
    answer == "ok"
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark process: sets up a local session, runs the workload's
  * timed calls in a closed loop with one client until `seconds` of timed
  * work are done, and hands each call's outputs to the parent process for
  * its correctness check (outside the timed window) over stdin/stdout.
  *
  * Protocol lines on stdout start with "@@": `@@CHECK <json>` is answered
  * by one line on stdin ("ok" or a failure reason); `@@RESULT <json>` is
  * the last line.
  */
object BenchMain {
  import Io._

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus").toInt
    val run = s"${workload}-seed${opt("seed")}"
    val spans = new Spans(run)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- setup: session + warm-up
    val sessionT0 = Clock.nowMs
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowMs - sessionT0) / 1000.0
    val w: Workload = workload match {
      case "harvest_first" => new HarvestFirst(spark, opt, work)
      case "harvest_rerun" => new HarvestRerun(spark, opt, work)
      case "pipelines_sf0001" => new Pipelines(spark, opt, work)
      case other => sys.error(s"unknown workload $other")
    }
    warmUp(spark)
    val setupS = (Clock.nowMs - jvmStartMs) / 1000.0
    System.err.println(f"setup: session $sessionS%.2f s, total $setupS%.2f s")
    w.prepare()

    var attempted, failed = 0
    /** Hands a call's outputs to the check; true when it passed. */
    def checked(out: CallOut): Boolean = {
      attempted += 1
      val ok = check(out.checkFields ++ Map("wall_s" -> out.wallS))
      if (!ok) failed += 1
      ok
    }
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!trace) {
      val walls = mutable.ArrayBuffer[Double]()
      val bytes = mutable.ArrayBuffer[Double]()
      var timed = 0.0
      while (timed < seconds) {
        val out = w.call(None)
        timed += out.wallS
        System.err.println(f"timed call: ${out.wallS}%.2f s")
        if (checked(out)) { walls += out.wallS; bytes += out.outputBytes }
      }
      metrics("setup_s") = setupS
      metrics("wall_s") = median(walls.toSeq)
      metrics("output_bytes") = median(bytes.toSeq)
    } else {
      // one call with the tracer on: stack sampling and a job listener
      val rec = new JobRecorder
      spark.sparkContext.addSparkListener(rec)
      val tracedT0 = Clock.nowMs
      val root = spans.reserve()
      val first = w.call(Some((spans, root)))
      spans.close(root, "run", tracedT0, Clock.nowMs, 0)
      rec.settle()
      spark.sparkContext.removeSparkListener(rec)
      checked(first)
      val (layers, unattributed) = LayerTotals.attribute(spans.all, rec, tracedT0)

      def put(layer: String, full: Boolean): Unit = {
        val l = layers.getOrElse(layer, new LayerTotals)
        metrics(s"$layer.busy_s") = l.busyS
        metrics(s"$layer.jobs") = l.jobs.toDouble
        metrics(s"$layer.shuffle_write_bytes") = l.shuffleWriteBytes.toDouble
        metrics(s"$layer.spill_bytes") = l.spillBytes.toDouble
        if (full) {
          metrics(s"$layer.stages") = l.stages.toDouble
          metrics(s"$layer.tasks") = l.tasks.toDouble
          metrics(s"$layer.task_wait_s") = l.waitMs / 1000.0
          metrics(s"$layer.gc_s") = l.gcMs / 1000.0
          metrics(s"$layer.failed_tasks") = l.failedTasks.toDouble
        }
      }
      metrics("session.busy_s") = sessionS
      HarvestLayers.names.foreach(put(_, full = true))
      Pipelines.names.foreach(n => put(s"ops.$n", full = false))
      val store = layers.getOrElse("harvest.store", new LayerTotals)
      metrics("harvest.store.rows_written_per_changed_row") =
        if (first.changedRows > 0) store.recordsWritten.toDouble / first.changedRows else 0.0
      metrics("harvest.store.bytes_written") = store.bytesWritten.toDouble
      metrics("harvest.sqlite.bytes_per_store_byte") = first.sqliteBytesPerStoreByte
      def share(layer: String) =
        if (first.isHarvest) layers.get(layer).map(_.busyS).getOrElse(0.0) / first.wallS else 0.0
      metrics("harvest.sqlite.wall_share") = share("harvest.sqlite")
      metrics("harvest.job.wall_share") = share("harvest.job")
      // the traced call's wall, to set against the untraced runs' median,
      // and the tracer's own work: CPU time of stack reads and listener calls
      metrics("trace.wall_s") = first.wallS
      metrics("trace.overhead_s") = (spans.samplingNs + rec.handlerNs) / 1e9
      metrics("trace.unattributed_jobs") = unattributed.toDouble
      metrics("trace.peak_rss_mb") = vmHwmMb()
      writeSpans(work.resolve("spans.json"), spans.all)
    }
    println("@@RESULT " + json(Map("attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toMap)))
    System.out.flush()
    spark.stop()
  }

  private def writeSpans(p: Path, all: Seq[Span]): Unit = {
    val lines = all.sortBy(s => (s.startMs, s.id)).map { s =>
      json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "run" -> s.run))
    }
    Files.write(p, lines.asJava)
  }

  /** Warm-up: the session runs one small job end to end. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").head()
}

/** What one timed call leaves for the check and the metrics. */
final case class CallOut(wallS: Double, outputBytes: Double, checkFields: Map[String, Any],
                         isHarvest: Boolean = false, changedRows: Long = 0L,
                         sqliteBytesPerStoreByte: Double = 0.0)

trait Workload {
  /** Untimed preparation of inputs after setup. */
  def prepare(): Unit = ()
  /** One timed call; with `traced`, layer spans are recorded under the
    * given parent span. */
  def call(traced: Option[(Spans, Int)]): CallOut
}

/** Shared parts of the harvest workloads: the product's own entry point,
  * `HarvestJob.run`, called unmodified with the SQLite artifact. */
abstract class Harvest(spark: SparkSession, opt: Map[String, String], work: Path) extends Workload {
  protected val collection = "http://vocab.nerc.ac.uk/collection/P01/current/"
  protected val baseAsOf = Timestamp.valueOf("2026-01-01 00:00:00")
  protected val rerunAsOf = Timestamp.valueOf("2026-01-02 00:00:00")
  protected val store = work.resolve("store")
  protected val db = work.resolve("translations.db")

  protected def result(r: HarvestJob.Result): Map[String, Any] = Map(
    "bindingsRead" -> r.bindingsRead, "validRows" -> r.validRows,
    "distinctTerms" -> r.distinctTerms, "termsInserted" -> r.termsInserted,
    "termsUpdated" -> r.termsUpdated, "fieldsInserted" -> r.fieldsInserted)

  /** Times one `HarvestJob.run` into `store`, which the caller has set up. */
  protected def harvest(traced: Option[(Spans, Int)], bindings: String, asOf: Timestamp,
                        fields: Map[String, Any]): CallOut = {
    val cfg = HarvestJob.Config(collection, bindings, store.toString, asOf,
      sqliteArtifact = Some(db.toString))
    val t0 = System.nanoTime()
    val r = traced match {
      case None => HarvestJob.run(spark, cfg)
      case Some((spans, parent)) => spans.sampled(Thread.currentThread(), parent)(HarvestJob.run(spark, cfg))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val storeBytes = Io.dirBytes(store)
    val dbBytes = Files.size(db)
    CallOut(wall, (storeBytes + dbBytes).toDouble,
      fields ++ Map("store" -> store.toString, "db" -> db.toString) ++ result(r),
      isHarvest = true, changedRows = r.termsInserted + r.termsUpdated + r.fieldsInserted,
      sqliteBytesPerStoreByte = dbBytes.toDouble / storeBytes)
  }
}

/** The bootstrap run: the seeded corpus into an empty store. */
final class HarvestFirst(spark: SparkSession, opt: Map[String, String], work: Path)
    extends Harvest(spark, opt, work) {
  def call(traced: Option[(Spans, Int)]): CallOut = {
    Io.delete(store); Files.deleteIfExists(db)
    harvest(traced, opt("base"), baseAsOf, Map("kind" -> "first"))
  }
}

/** The daily re-run: the base corpus plus its increment, harvested over
  * the store committed from the base corpus. */
final class HarvestRerun(spark: SparkSession, opt: Map[String, String], work: Path)
    extends Harvest(spark, opt, work) {
  private val baseStore = work.resolve("base_store")

  /** The base store, committed by the product from the base corpus. */
  override def prepare(): Unit = {
    val r = HarvestJob.run(spark, HarvestJob.Config(collection, opt("base"), baseStore.toString, baseAsOf))
    if (!Io.check(Map("kind" -> "base", "store" -> baseStore.toString) ++ result(r)))
      sys.error("base store failed its check")
  }

  def call(traced: Option[(Spans, Int)]): CallOut = {
    Io.delete(store); Files.deleteIfExists(db)
    Io.copyTree(baseStore, store)
    harvest(traced, opt("corpus"), rerunAsOf, Map("kind" -> "rerun", "base_store" -> baseStore.toString))
  }
}

/** The eight e0x pipelines over the read-only tables, each output written
  * to parquet, in the order the seed chose. */
final class Pipelines(spark: SparkSession, opt: Map[String, String], work: Path) extends Workload {
  private val order = opt("order").split(",").toSeq
  private val tables = opt("tables")
  private val out = work.resolve("out")
  private val queries = graft.SparkEntry.queries

  override def prepare(): Unit = {
    val oracle = Pipelines.queryNames.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    Files.writeString(work.resolve("oracle.json"), Io.json(oracle))
  }

  def call(traced: Option[(Spans, Int)]): CallOut = {
    Io.delete(out)
    val t0 = System.nanoTime()
    order.foreach { n =>
      def body(): Unit = queries(n)(spark, tables).write.mode("overwrite").parquet(out.resolve(n).toString)
      traced match {
        case None => body()
        case Some((spans, parent)) => spans.around(s"ops.${n.take(3)}", parent)(body())
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    CallOut(wall, Io.dirBytes(out).toDouble,
      Map("kind" -> "pipelines", "out" -> out.toString, "oracle" -> work.resolve("oracle.json").toString,
        "tables" -> tables, "names" -> order))
  }
}

object Pipelines {
  val queryNames: Seq[String] = Seq("e01_pretrain_pipeline", "e02_rag_retrieval",
    "e03_incremental_ingest", "e04_training_batches", "e05_eval_suite",
    "e06_community_mart", "e07_multimodal_curation", "e08_index_maintenance")
  val names: Seq[String] = queryNames.map(_.take(3))
}
