package graftbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Outside-in layer tracing. Nothing here calls into a layer: a sampler
  * thread reads the stack of the thread that runs the product and opens a
  * span while a layer's public function is on it; a SparkListener records
  * jobs, stages and tasks, and each job is charged to the innermost span
  * that was open at the job's midpoint.
  */
object Clock {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread, in nanoseconds. */
  def cpuNs: Long = threads.getCurrentThreadCpuTime
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanoTime resolution, comparable with the
    * millisecond timestamps of Spark's listener events. */
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int, run: String)

/** The public functions that delimit each harvest layer, by object. */
object HarvestLayers {
  val entries: Map[(String, String), String] = Map(
    ("graft.harvest.HarvestJob", "run") -> "harvest.job",
    ("graft.harvest.Source", "readBindings") -> "harvest.source",
    ("graft.harvest.Transform", "distinctRows") -> "harvest.transform",
    ("graft.harvest.Transform", "filterValidBindings") -> "harvest.transform",
    ("graft.harvest.Transform", "meltAll") -> "harvest.transform",
    ("graft.harvest.Merge", "upsertTerms") -> "harvest.merge",
    ("graft.harvest.Merge", "resolveFk") -> "harvest.merge",
    ("graft.harvest.Merge", "insertIfAbsent") -> "harvest.merge",
    ("graft.harvest.Validate", "uniqueViolations") -> "harvest.validate",
    ("graft.harvest.Validate", "enforce") -> "harvest.validate",
    ("graft.harvest.Store", "readTableOr") -> "harvest.store",
    ("graft.harvest.Store", "writeTable") -> "harvest.store",
    ("graft.harvest.Store", "bootstrap") -> "harvest.store",
    ("graft.harvest.Store", "writeSqliteArtifact") -> "harvest.sqlite",
    ("graft.harvest.Sqlite", "writeFile") -> "harvest.sqlite")

  val names: Seq[String] = Seq("harvest.source", "harvest.transform", "harvest.merge",
    "harvest.validate", "harvest.store", "harvest.sqlite", "harvest.job")

  def layerOf(f: StackTraceElement): Option[(String, String)] =
    if (!f.getClassName.startsWith("graft.harvest.")) None
    else {
      val cls = f.getClassName.stripSuffix("$")
      entries.get((cls, f.getMethodName)).map(l => (l, s"$cls.${f.getMethodName}"))
    }
}

/** Span recorder: direct spans opened by the benchmark around its own
  * calls, plus spans sampled from a target thread's stack. */
final class Spans(run: String) {
  private val done = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  /** Runs `body` inside a direct span. */
  def around[T](name: String, parent: Int)(body: => T): T = {
    val id = newId()
    val t0 = Clock.nowMs
    try body
    finally close(id, name, t0, Clock.nowMs, parent)
  }

  def reserve(): Int = newId()
  def close(id: Int, name: String, startMs: Double, endMs: Double, parent: Int): Unit =
    synchronized { done += Span(id, name, startMs, endMs, parent, run) }

  def all: Seq[Span] = synchronized(done.toList)

  /** CPU time the sampler spent reading stacks, in nanoseconds. */
  @volatile var samplingNs = 0L

  /** Samples `target`'s stack every `intervalMs` while `body` runs, with
    * sampled spans parented under `parent`. */
  def sampled[T](target: Thread, parent: Int, intervalMs: Int = 10)(body: => T): T = {
    @volatile var running = true
    // open sampled spans, outermost first
    case class Open(key: String, id: Int, name: String, start: Double, parent: Int)
    var open = Vector.empty[Open]
    def closeFrom(i: Int, now: Double): Unit = {
      open.drop(i).reverse.foreach(o => close(o.id, o.name, o.start, now, o.parent))
      open = open.take(i)
    }
    def sample(now: Double): Unit = {
      val st = target.getStackTrace
      // frames keyed by depth from the stack bottom, so a repeated call of
      // the same function at the same depth opens a new span only when the
      // frame left the stack in between
      val chain = st.indices.reverse.flatMap { i =>
        HarvestLayers.layerOf(st(i)).map { case (layer, fn) => (s"${st.length - 1 - i}:$fn", layer) }
      }
      val common = open.zip(chain).takeWhile { case (o, c) => o.key == c._1 }.length
      closeFrom(common, now)
      chain.drop(common).foreach { case (k, layer) =>
        open :+= Open(k, reserve(), layer, now, open.lastOption.map(_.id).getOrElse(parent))
      }
    }
    val sampler = new Thread(() => {
      while (running) {
        val t0 = Clock.cpuNs
        sample(Clock.nowMs)
        samplingNs += Clock.cpuNs - t0
        java.util.concurrent.locks.LockSupport.parkNanos(intervalMs * 1000000L)
      }
    }, "layer-sampler")
    sampler.setDaemon(true)
    sampler.start()
    try body
    finally {
      running = false
      sampler.join()
      closeFrom(0, Clock.nowMs)
    }
  }
}

/** Per-stage task totals. */
final class StageAgg {
  var attempts, tasks, failedTasks = 0L
  var waitMs, gcMs, shuffleWriteBytes, spillBytes, recordsWritten, bytesWritten = 0L
}

final case class JobRec(id: Int, startMs: Long) {
  var endMs: Long = -1L
}

/** Records jobs, stage attempts and task metrics; attribution to spans
  * happens after the traced call, in [[LayerTotals]]. */
final class JobRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()    // latest job listing the stage
  val stageRunJob = mutable.Map[Int, Int]()         // job the stage ran for
  val stages = mutable.Map[Int, StageAgg]()
  /** CPU time spent in this listener's callbacks, in nanoseconds. */
  var handlerNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = Clock.cpuNs
    body
    handlerNs += Clock.cpuNs - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs(e.jobId) = JobRec(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val id = e.stageInfo.stageId
    stageJob.get(id).foreach(stageRunJob(id) = _)
    stages.getOrElseUpdate(id, new StageAgg).attempts += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val gettingResult = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      val schedulerDelay = math.max(0L, (ti.finishTime - ti.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      a.waitMs += schedulerDelay + m.executorDeserializeTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.recordsWritten += m.outputMetrics.recordsWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Waits (bounded) until every recorded job has its end event. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.endMs < 0)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Counters of one layer. */
final class LayerTotals {
  var busyS = 0.0
  var jobs, stages, tasks, failedTasks = 0L
  var waitMs, gcMs, shuffleWriteBytes, spillBytes, recordsWritten, bytesWritten = 0L
}

object LayerTotals {
  /** Self time per span name, and the job/stage/task counters of every
    * job charged to the innermost span open at the job's midpoint. */
  def attribute(spans: Seq[Span], rec: JobRecorder, fromMs: Double): (Map[String, LayerTotals], Int) = {
    val out = mutable.Map[String, LayerTotals]()
    def t(n: String) = out.getOrElseUpdate(n, new LayerTotals)
    val children = spans.groupBy(_.parent)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => k.endMs - k.startMs).sum
      t(s.name).busyS += math.max(0.0, s.endMs - s.startMs - kids) / 1000.0
    }
    var unattributed = 0
    rec.synchronized {
      val jobLayer = mutable.Map[Int, String]()
      rec.jobs.values.filter(_.startMs >= fromMs - 1).foreach { j =>
        val mid = (j.startMs + math.max(j.startMs, j.endMs)) / 2.0
        val inside = spans.filter(s => s.startMs <= mid && mid <= s.endMs)
        if (inside.isEmpty) unattributed += 1
        else {
          // innermost: the open span with the latest start
          val layer = inside.maxBy(s => (s.startMs, s.id)).name
          jobLayer(j.id) = layer
          t(layer).jobs += 1
        }
      }
      rec.stages.foreach { case (sid, a) =>
        rec.stageRunJob.get(sid).flatMap(jobLayer.get).foreach { layer =>
          val l = t(layer)
          l.stages += a.attempts; l.tasks += a.tasks; l.failedTasks += a.failedTasks
          l.waitMs += a.waitMs; l.gcMs += a.gcMs
          l.shuffleWriteBytes += a.shuffleWriteBytes; l.spillBytes += a.spillBytes
          l.recordsWritten += a.recordsWritten; l.bytesWritten += a.bytesWritten
        }
      }
    }
    (out.toMap, unattributed)
  }
}
