package graft.ops

import graft.{SparkSpec, Tables}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the plain join result") {
    val orders = Tables.orders(spark, sfDir).select($"o_custkey", $"o_orderkey")
    val cust = Tables.customer(spark, sfDir).select($"c_custkey".as("o_custkey"), $"c_name")
    val plain = orders.join(cust, "o_custkey")
    val salted = ScaleOps.saltedJoin(orders, cust, "o_custkey", salts = 4)
    assert(salted.count() === plain.count())
    assert(salted.select("o_orderkey", "c_name").except(
      plain.select("o_orderkey", "c_name")).count() === 0)
  }

  test("salting actually SPREADS a degenerate hot key across partitions") {
    // 100k rows of ONE key: an unsalted equi-join hashes them all to a
    // single reducer partition; the salted plan must land them in >1
    // (up to `salts`) — the property that makes salting worth its
    // replication cost, previously untested directly
    val big = spark.range(100000).select(lit(7L).as("k"), $"id")
    val small = Seq((7L, "x")).toDF("k", "v")
    def nonEmptyParts(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0)).sum().toInt
    val plain = big.join(small, "k")
    val salted = ScaleOps.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() === plain.count())
    assert(nonEmptyParts(salted.select($"id")) >= 4,
      "salted join left the hot key on too few partitions")
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, sfDir)
    val direct = li.groupBy($"l_suppkey")
      .agg(sum($"l_quantity".cast("decimal(28,2)")).as("sum_value"), count(lit(1)).as("n_rows"))
    val salted = ScaleOps.saltedSumCount(li, "l_suppkey", $"l_quantity".cast("decimal(28,2)"), 8)
    assert(salted.except(direct).count() === 0 && direct.except(salted).count() === 0)
  }

  test("bucketed tables join without any shuffle exchange") {
    val dir = Files.createTempDirectory("graft_buckets").toString
    ScaleOps.writeBucketed(Tables.orders(spark, sfDir).select($"o_custkey", $"o_orderkey", $"o_totalprice"),
      s"$dir/orders_b", "graft_orders_b", "o_custkey", 4)
    ScaleOps.writeBucketed(Tables.customer(spark, sfDir).select($"c_custkey", $"c_name"),
      s"$dir/cust_b", "graft_cust_b", "c_custkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_cust_b"),
          col("o_custkey") === col("c_custkey"))
      joined.write.format("noop").mode("overwrite").save()
      val plan = joined.queryExecution.executedPlan
      val finalPlan = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = finalPlan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"expected shuffle-free bucketed join, got:\n$finalPlan")
      assert(joined.count() === Tables.orders(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_cust_b")
    }
  }

  test("runtime bloom-filter pruning probes the fact side before the shuffle") {
    // selective dim side (one order priority) joined to the fact table
    val orders = Tables.orders(spark, sfDir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderpriority")
    val fact = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_quantity")
    def q = fact.join(orders, $"l_orderkey" === $"o_orderkey")
    val expected = q.count()
    val (got, plan) = ScaleOps.withBloomPruning(fact) {
      val df = q
      (df.count(), df.queryExecution.executedPlan.toString)
    }
    assert(got === expected) // pruning must never change results
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    // and the probe sits on the fact (application) side scan subtree
    assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilterAggregate"),
      s"no bloom build in plan:\n$plan")
  }

  test("partitioned layout prunes directories on partition-key filters") {
    val dir = Files.createTempDirectory("graft_part").toString + "/events"
    ScaleOps.writePartitioned(
      Tables.events(spark, sfDir).select($"event_id", $"value", $"event_type"), dir, "event_type")
    val all = spark.read.parquet(dir)
    val pruned = all.filter($"event_type" === "click")
    val nClick = pruned.count() // execute → scan metrics populated
    assert(nClick > 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("event_type"),
      "partition filter not recognized at plan time")
    // only the click/ directory's files are read, not all five event types
    assert(scan.metrics("numFiles").value < all.inputFiles.length,
      s"expected pruning: ${scan.metrics("numFiles").value} of ${all.inputFiles.length}")
  }

  test("zKey interleaves bits: unit cases") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (5L, 2L)).toDF("x", "y")
    val out = df.select($"x", $"y", ScaleOps.zKey(Seq($"x", $"y"), 3).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // bit b of x -> position 2b; bit b of y -> position 2b+1
    assert(out((0L, 0L)) === 0L)
    assert(out((1L, 0L)) === 1L)
    assert(out((0L, 1L)) === 2L)
    assert(out((3L, 3L)) === 15L)   // 11 interleaved 11 = 1111
    assert(out((5L, 2L)) === 0x19L) // x=101,y=010 -> 011001
  }

  test("zOrderWrite clusters BOTH columns per file; linear sort only the first") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_quantity")
    ScaleOps.zOrderWrite(li, Seq("l_orderkey", "l_partkey"), s"$dir/z", numFiles = 16)
    li.repartitionByRange(16, $"l_orderkey").sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/linear")
    def avgSpan(path: String, c: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).cast("double").as("span"))
      spans.agg(avg($"span")).head().getDouble(0)
    }
    val (okDom, pkDom) = (li.agg(max($"l_orderkey") - min($"l_orderkey")).head().getLong(0).toDouble,
      li.agg(max($"l_partkey") - min($"l_partkey")).head().getLong(0).toDouble)
    // z-order: every z-column's per-file span is a fraction of its domain
    assert(avgSpan(s"$dir/z", "l_orderkey") < 0.5 * okDom)
    assert(avgSpan(s"$dir/z", "l_partkey") < 0.5 * pkDom)
    // linear layout clusters the sort key tightly...
    assert(avgSpan(s"$dir/linear", "l_orderkey") < 0.2 * okDom)
    // ...but the second column spans ~the full domain in every file
    assert(avgSpan(s"$dir/linear", "l_partkey") > 0.8 * pkDom)
    // and the z-ordered copy holds exactly the same rows
    val z = spark.read.parquet(s"$dir/z")
    assert(z.count() === li.count() && z.except(li).count() === 0)
  }

  test("compact rewrites a many-small-file layout into the target count, same rows") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val li = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_quantity")
    li.repartition(64).write.parquet(dir) // 64 tiny files
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files = new java.io.File(ScaleOps.compactDataDir(fs, p))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 64)
    val n = ScaleOps.compact(spark, dir, targetMB = 128, retainMs = 0L)
    assert(n === 1 && files === 1) // tiny table -> single target-size file
    val back = ScaleOps.readCompacted(spark, dir)
    assert(back.count() === li.count() && back.except(li).count() === 0)
    // superseded raw files pruned; a SECOND compact rolls the version
    // forward and prunes its predecessor
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) === 0)
    ScaleOps.compact(spark, dir, targetMB = 128, retainMs = 0L)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("_v")) === 1)
    val back2 = ScaleOps.readCompacted(spark, dir)
    assert(back2.count() === li.count() && back2.except(li).count() === 0)
  }

  test("schema-evolved parquet reads merge added columns across file generations") {
    val dir = Files.createTempDirectory("graft_evolve").toString + "/t"
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("id", "v1", "v2"))
    val rows = merged.orderBy($"id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) === 9.5)
  }

  test("zOrderWrite handles an empty input frame") {
    val dir = Files.createTempDirectory("graft_zempty").toString + "/z"
    val empty = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").filter($"l_orderkey" < 0)
    ScaleOps.zOrderWrite(empty, Seq("l_orderkey", "l_partkey"), dir, numFiles = 2)
    assert(spark.read.parquet(dir).count() === 0)
  }

  test("compact of a hive-partitioned raw layout: sized recursively, " +
    "partition dirs pruned, rows preserved (r14 review)") {
    val dir = Files.createTempDirectory("graft_compact_part").toString + "/t"
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity", ($"l_orderkey" % 4).as("bucket"))
    li.write.partitionBy("bucket").parquet(dir) // zero top-level data files
    val rows = li.count()
    val n = ScaleOps.compact(spark, dir, targetMB = 128, retainMs = 0L)
    assert(n >= 1)
    val back = ScaleOps.readCompacted(spark, dir)
    // partition column inferred into a regular column; full row parity
    assert(back.columns.toSet === Set("l_orderkey", "l_quantity", "bucket"))
    assert(back.count() === rows &&
      back.select($"l_orderkey", $"l_quantity", $"bucket".cast("long"))
        .except(li.select($"l_orderkey", $"l_quantity", $"bucket")).count() === 0)
    // the superseded partition SUBDIRS are pruned, not leaked
    assert(new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && !f.getName.startsWith("_")) === 0)
  }

  test("compact survives a crash between commit and prune (r14 pointer protocol)") {
    val base = Files.createTempDirectory("graft_compact_rec").toString
    val dir = base + "/t"
    Tables.nation(spark, sfDir).write.parquet(dir)
    val rows = spark.read.parquet(dir).count()
    // simulate: a compact that died AFTER the marker commit but BEFORE
    // pruning — readers already resolve the new version; the next
    // compact rolls forward and prunes, with no recovery call
    intercept[RuntimeException] {
      ScaleOps.compact(spark, dir, retainMs = 0L, onStep = {
        case "committed" => sys.error("crash before prune")
        case _ => ()
      })
    }
    assert(ScaleOps.readCompacted(spark, dir).count() === rows)
    val n = ScaleOps.compact(spark, dir, retainMs = 0L)
    assert(n >= 1 && ScaleOps.readCompacted(spark, dir).count() === rows)
    // one committed survivor, predecessors and raw files pruned
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("_v")) === 1)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) === 0)
  }

  test("versioned table: commits are snapshots, time travel reads any version (B1)") {
    val dir = Files.createTempDirectory("graft_versioned").toString + "/t"
    val v0 = ScaleOps.Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    val v1 = ScaleOps.Versioned.commit(Seq((1L, "a2"), (3L, "c")).toDF("id", "s"), dir)
    assert(v0 === 0L && v1 === 1L)
    assert(ScaleOps.Versioned.versions(spark, dir) === Seq(0L, 1L))
    // latest = v1; time travel = v0, unchanged by the later commit
    assert(ScaleOps.Versioned.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a2"), (3L, "c")))
    assert(ScaleOps.Versioned.read(spark, dir, Some(0L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a"), (2L, "b")))
    // unpublished version fails loudly
    val e = intercept[IllegalArgumentException] {
      ScaleOps.Versioned.read(spark, dir, Some(7L))
    }
    assert(e.getMessage.contains("not published"))
  }

  test("versioned table: lost publish race retries with the next number; vacuum drops marker-first (B1)") {
    val dir = Files.createTempDirectory("graft_versioned2").toString + "/t"
    ScaleOps.Versioned.commit(Seq((1L, "x")).toDF("id", "s"), dir)
    // simulate a concurrent writer that already claimed version 1: the
    // marker exists, so our commit must land at 2 (and clean its orphan)
    new java.io.File(dir + "/_v1").mkdirs() // the racer's data
    val claimed = new java.io.File(dir + "/_v1/_GRAFT_COMMITTED")
    assert(claimed.createNewFile())
    val v = ScaleOps.Versioned.commit(Seq((2L, "y")).toDF("id", "s"), dir)
    assert(v === 2L)
    assert(ScaleOps.Versioned.versions(spark, dir) === Seq(0L, 1L, 2L))
    assert(ScaleOps.Versioned.read(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(2L))
    // vacuum keeps the newest two; dropped version reads fail, survivors fine
    val dropped = ScaleOps.Versioned.vacuum(spark, dir, keepLast = 2)
    assert(dropped === Seq(0L))
    assert(!new java.io.File(dir + "/_v0").exists())
    assert(ScaleOps.Versioned.versions(spark, dir) === Seq(1L, 2L))
    assert(ScaleOps.Versioned.read(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(intercept[IllegalArgumentException] {
      ScaleOps.Versioned.read(spark, dir, Some(0L))
    }.getMessage.contains("vacuumed"))
  }

  test("versioned table: eight threads committing at once get eight distinct " +
    "versions, and each version reads back exactly its own row") {
    val dir = Files.createTempDirectory("graft_versioned_race").toString + "/t"
    val frames = (0 until 8).map(i => Seq((i.toLong, s"r$i")).toDF("id", "s"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val racers = frames.map { df =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { start.await(); ScaleOps.Versioned.commit(df, dir) }
      })
    }
    start.countDown()
    val got = racers.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(got.distinct.size === 8, s"versions claimed twice: $got")
    assert(ScaleOps.Versioned.versions(spark, dir) === got.sorted)
    got.zipWithIndex.foreach { case (v, i) =>
      assert(ScaleOps.Versioned.read(spark, dir, Some(v)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((i.toLong, s"r$i")),
        s"version $v does not hold exactly row $i")
    }
  }

  test("stats skipping: manifest prunes files, pruned read equals full filter (B1, r7)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_skip").toString + "/t"
    // 1000 rows over key 0..999, range-clustered into 10 files
    spark.range(1000).select($"id".as("k"), ($"id" * 7 % 91).as("payload"))
      .repartitionByRange(10, $"k").sortWithinPartitions($"k")
      .write.parquet(dir)
    val (pruned, kept, total) = ScaleOps.prunedRead(spark, dir, "k", lit(150L), lit(249L))
    assert(total === 10)
    assert(kept >= 1 && kept <= 3, s"kept $kept of $total") // ~1 file + boundary overlap
    val got = pruned.select($"k", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = (150L to 249L).map(k => (k, k * 7 % 91))
    assert(got.toSeq === want) // no row lost at file boundaries, residual exact
    // no overlap → empty frame, zero files read
    val (none, kept0, _) = ScaleOps.prunedRead(spark, dir, "k", lit(5000L), lit(6000L))
    assert(kept0 === 0 && none.count() === 0L)
  }

  test("stats skipping: manifest-join formulation on a many-file fixture (r8)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_many").toString + "/t"
    // 6400 rows over key 0..6399, range-clustered into 64 files (~100 keys each)
    spark.range(6400).select($"id".as("k"), ($"id" * 13 % 97).as("payload"))
      .repartitionByRange(64, $"k").sortWithinPartitions($"k")
      .write.parquet(dir)
    val (pruned, kept, total) = ScaleOps.prunedRead(spark, dir, "k", lit(1000L), lit(1399L))
    assert(total === 64)
    assert(kept >= 4 && kept <= 6, s"kept $kept of $total") // ~4 files + boundary overlap
    // the kept-file decision is derived from manifest DATA scan-side:
    // the physical plan must carry a broadcast semi join, not a
    // driver-enumerated path list
    val phys = pruned.queryExecution.executedPlan.toString
    assert(phys.contains("LeftSemi"), s"expected semi-join manifest probe in:\n$phys")
    val got = pruned.select($"k", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === (1000L to 1399L).map(k => (k, k * 13 % 97)))
  }

  test("runtime bloom filter: gate plan carries the filter, confs restored (B3, r7)") {
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val out = ScaleQueries.runtimeFilterQuery(spark, sfDir)
    // the in-query require already proved the bloom filter is in the plan;
    // here: result non-empty and every touched conf restored afterwards
    assert(out.count() > 0L)
    assert(spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold") === before)
    assert(spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      !== Some("0"))
  }
}
