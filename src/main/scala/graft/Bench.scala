package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // noop sink forces full materialization of every output column
    // (count() would let Catalyst prune the aggregates away). Each run is
    // one [[Cut.scope]], so a query's caches and cuts are freed when it
    // ends and the next one starts from the same storage state.
    def runOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Unit =
      Cut.scope(fn(spark, dir).write.format("noop").mode("overwrite").save())
    // optional comma-separated name filter for local iteration on a query
    // subset (driver runs with it unset → full bench); mirrors Verify's
    // SPARK_GRAFT_ONLY. Blank values count as unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Warmup at the smallest SF: triggers codegen + JIT compilation of each
    // query's generated code so the timed pass measures data-plane cost,
    // not JVM compilation.
    val warmDir = "/root/testdata/sf0.001"
    ordered.foreach { case (_, fn) =>
      try runOnce(fn, warmDir) catch { case _: Throwable => () }
    }
    // min over 2 full passes (each pass runs every query once): JVM
    // background-compilation hiccups add tens of seconds of
    // non-data-plane noise in bursts, so the two measurements of a query
    // are spaced apart rather than back-to-back.
    // a query that throws records the -1 sentinel, not its (near-zero)
    // failure time — broken queries must not inflate the bench's health.
    // r15 (VERDICT r14 #5): the five streaming-lifecycle gates report
    // per-phase wall through graft.PhaseTimer — drained around each run
    // so a pass's phases are its own, and emitted per pass so
    // warm-vs-cold attribution reads straight from the artifact.
    def timedPass(): (Map[String, Double], Map[String, Map[String, Double]]) = {
      val rows = ordered.map { case (name, fn) =>
        PhaseTimer.drain(name) // reset any residue from a prior pass
        val t0 = System.nanoTime()
        val ok = try { runOnce(fn, sfDir); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        val ph = PhaseTimer.drain(name)
        (name, if (ok) dt else -1.0, ph)
      }
      (rows.map(r => r._1 -> r._2).toMap,
        rows.collect { case (n, _, ph) if ph.nonEmpty => n -> ph }.toMap)
    }
    // r13 (VERDICT r12 #3): record the OS page-cache state per run — the
    // driver's independent r12 bench landed at the builder's "cold-cache
    // outlier" number (275 s vs the 233-256 s warmed band), so cold cache
    // is a first-class operating point, not noise to re-warm away. The
    // JSON carries the cache size at start and after the warmup pass;
    // SURVEY documents the warm and cold bands side by side.
    def meminfoGb(key: String): Double = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.trim.split("\\s+")(1).toLong / (1024.0 * 1024))
        .getOrElse(-1.0)
      finally src.close()
    }.getOrElse(-1.0)
    // r16 (VERDICT r15 #1): a fixed deterministic calibration probe — a
    // single-thread CPU-bound splitmix64 fold plus one fixed-size parquet
    // scan through the normal reader path, NO query code — timed before
    // each pass and emitted as ruler_sec per pass. Two rounds in a row
    // the headline moved double-digit percent on host noise alone
    // (238-297 s across same-head runs); the ruler turns cross-round
    // normalization into a committed-artifact computation
    // (query_sec / ruler ratio) instead of worktree A/B forensics. Runs
    // OUTSIDE every per-query timed window.
    def rulerSec(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0L
      while (i < 150000000L) {
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      // data dependency so the fold cannot be dead-code-eliminated
      if (acc == 0x5DEECE66DL) System.err.println("ruler fold sentinel")
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val cacheAtStart = meminfoGb("Cached")
    // r14 (ADVICE): sample the cache BETWEEN the passes too — the old
    // single post-run sample was emitted as "after the warmup pass",
    // mislabeling the operating point for anyone analyzing warm/cold
    // bands from the artifact. Now both points are real: _after_pass1
    // is the warm-entry state of the second pass, _at_end is post-run.
    val ruler1 = rulerSec()
    val (pass1, phases1) = timedPass()
    val cacheAfterPass1 = meminfoGb("Cached")
    val ruler2 = rulerSec()
    val (pass2, phases2) = timedPass()
    val passes = Seq(pass1, pass2)
    val phasesByPass = Seq(phases1, phases2)
    val cacheAtEnd = meminfoGb("Cached")
    // min over SUCCESSFUL passes; the -1 failure sentinel only survives
    // when every pass failed (a one-pass hiccup must not discard the
    // other pass's valid measurement)
    val results = ordered.map { case (name, _) =>
      val ok = passes.map(_(name)).filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }.toMap
    // self-check (r8 VERDICT #3, de-tautologized r10 per ADVICE): the
    // old check compared `results` against the same map it was derived
    // from, so it could never fire. The benched keyset is now asserted
    // against the INDEPENDENTLY-authored oracle registry plus the
    // explicit no-oracle allowlist (SparkEntry.registryInvariant ties
    // the three registries together first), and the full per-query map
    // is persisted to bench_full.json (VERDICT r9 #7) so the round
    // artifact itself can be diffed against CORRECTNESS_rNN — the
    // temporal "query landed post-bench" drift shows up as a file diff,
    // not a truncated stdout tail.
    if (only.isEmpty) {
      SparkEntry.registryInvariant()
      val declared = SparkEntry.oracleSql.keySet ++ SparkEntry.noOracleByDesign
      val missing = declared -- results.keySet
      val extra = results.keySet -- declared
      require(missing.isEmpty && extra.isEmpty,
        s"bench/registry drift: missing=$missing extra=$extra")
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    // r14 (VERDICT r13 #3): the artifact carries EVERY timed pass's
    // total, not just the min aggregation — the round's band is
    // auditable from the JSON itself instead of from which run happened
    // to be committed. r15 (ADVICE r14): each total sums the
    // INTERSECTION of queries successful in ALL passes — the old
    // own-successes sum made the two entries cover different query sets
    // whenever a query failed in exactly one pass, quietly distorting
    // the band; per-pass failed counts ride alongside so a one-pass
    // hiccup is visible rather than silently absorbed.
    def fmt1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val inAllPasses = ordered.map(_._1).filter(n => passes.forall(_(n) >= 0))
    val passTotals = passes.map(p => inAllPasses.map(p).sum)
      .map(fmt1).mkString("[", ",", "]")
    val passFailed = passes.map(_.values.count(_ < 0)).mkString("[", ",", "]")
    // r15 (VERDICT r14 #4): the full per-pass per-query matrix — warm-
    // vs-cold regression triage reads from the committed JSON instead
    // of needing a rerun (min-over-passes alone hid which pass owned a
    // delta). -1 stays the failure sentinel.
    def fmt3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val perPass = ordered.map { case (name, _) =>
      s"\"$name\":[${passes.map(p => fmt3(p(name))).mkString(",")}]"
    }.mkString("{", ",", "}")
    // r15 (VERDICT r14 #5): per-phase wall for the instrumented
    // streaming gates, per pass — the committed answer to "which stage
    // moved" that r14 had to reconstruct by hand for band_index
    val phasesJson = phasesByPass.zipWithIndex.flatMap { case (phs, i) =>
      phs.toSeq.sortBy(_._1).map { case (q, m) =>
        val inner = m.toSeq.sortBy(_._1)
          .map { case (p, v) => s"\"$p\":${fmt3(v)}" }.mkString("{", ",", "}")
        s"\"${q}_pass${i + 1}\":$inner"
      }
    }.mkString("{", ",", "}")
    // environment block: the round-2→3 drift saga (code-cache overflow,
    // cache churn) showed the JVM/bench configuration is half the signal —
    // record it so rounds can diff environment, not just numbers
    // real JSON string escaping (backslashes, quotes, control chars) — a
    // flag like -XX:OnOutOfMemoryError="kill %p" or a Windows-style path
    // must not emit invalid JSON
    def jsonStr(s: String): String = s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }.mkString("\"", "", "\"")
    val jvmFlags = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-XX:") || a.startsWith("-Xm"))
        .map(jsonStr)
        .mkString("[", ",", "]")
    }
    val env = s"""{"jvm_flags":$jvmFlags,"java":"${sys.props.getOrElse("java.version", "?")}",""" +
      s""""release":"per-query-scope","warmup":"sf0.001","timed_passes":2,""" +
      s""""agg":"min-over-passes","master":"local[$cpus]","shuffle_partitions":$cpus,""" +
      // Locale.ROOT formatting: the f-interpolator uses the JVM default
      // locale, whose decimal COMMA would emit invalid JSON
      s""""page_cache_gb_at_start":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(cacheAtStart))},""" +
      s""""page_cache_gb_after_pass1":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(cacheAfterPass1))},""" +
      s""""page_cache_gb_at_end":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(cacheAtEnd))},""" +
      s""""cache_note":"<~3GB at start = cold page cache; expect ~1.08x median per-query inflation (r12 driver run)"}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,""" +
      s""""pass_totals_sec":$passTotals,"pass_failed":$passFailed,""" +
      s""""ruler_sec":[${fmt3(ruler1)},${fmt3(ruler2)}],""" +
      s""""per_pass":$perPass,"phases":$phasesJson,""" +
      s""""n_benched":${results.size},"n_declared":${SparkEntry.queries.size},"sf":"$sfDir","env":$env}"""
    println(line)
    // full-artifact persistence (VERDICT r9 #7): the driver's BENCH_rNN
    // captures a truncated stdout tail (57 of 285 per-query times in r9),
    // leaving round-over-round comparison blind on 80% of the surface.
    // The complete JSON goes to a stable committed path as well; override
    // with SPARK_GRAFT_BENCH_OUT for local runs that must not touch it.
    if (only.isEmpty) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    }
    spark.stop()
  }
}
