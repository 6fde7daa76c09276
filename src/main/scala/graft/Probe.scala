package graft

import org.apache.spark.sql.SparkSession

/** Dev-only query timer: `runMain graft.Probe <query names...>` runs each
  * named query three times (two noop writes, one count) and prints one
  * `TIME <name>/<run> <secs> s jobs=<n> persistent=<n>` line per run,
  * plus a line per Spark job of 10 ms or more. Plans print with
  * `graft.Explain`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Listener delivery is async; `time` drains the listener bus before
    // reading the counter so the job count covers the whole timed call.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet()
        val tag = js.stageInfos.lastOption.map(_.name.take(90)).getOrElse("?")
        jobStarts.put(js.jobId, (System.nanoTime(), tag)); ()
      }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val st = jobStarts.remove(je.jobId)
        if (st != null) {
          val ms = (System.nanoTime() - st._1) / 1e6
          if (ms >= 10) println(f"    job ${je.jobId}%4d ${ms}%8.0f ms  ${st._2}")
        }
        ()
      }
    })
    // Each run is one Cut.scope; `persistent` counts the RDDs still
    // persisted after it closes, so a run that leaks blocks names itself.
    def time(name: String)(f: => Unit): Unit = {
      val j0 = jobCount.get(); val t0 = System.nanoTime(); Cut.scope(f)
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.bridge.drainListenerBus(spark.sparkContext)
      val persistent = spark.sparkContext.getPersistentRDDs.size
      println(f"TIME $name $secs%.2f s jobs=${jobCount.get() - j0} persistent=$persistent")
    }
    val names = if (args.nonEmpty) args.toSeq else Seq("b04_cube")
    for (n <- names; fn <- SparkEntry.queries.get(n)) {
      time(s"$n/noop1") { fn(spark, dir).write.format("noop").mode("overwrite").save() }
      time(s"$n/noop2") { fn(spark, dir).write.format("noop").mode("overwrite").save() }
      time(s"$n/count") { fn(spark, dir).count() }
    }
    spark.stop()
  }
}
