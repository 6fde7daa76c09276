package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CutSpec extends SparkSpec {
  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def nums(n: Int): DataFrame = spark.range(n).toDF("id")
  private def rows(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  test("a scope frees the caches and cuts made inside it") {
    val before = persistent
    val inside = Cut.scope {
      val c = Cut.cached(nums(50).withColumn("sq", col("id") * col("id")))
      c.count()
      val e = Cut.eager(c.filter(col("id") > 5))
      val l = Cut.lazily(e.select(col("id") + 1))
      l.count()
      persistent -- before
    }
    assert(inside.size == 3)
    assert((persistent -- before).isEmpty)
  }

  test("a returned cut still reads its rows and is freed by the enclosing scope") {
    val before = persistent
    val keyed = nums(20).withColumn("k", col("id") % 3)
    Cut.scope {
      val direct = Cut.scope(Cut.eager(keyed))
      val joined = Cut.scope {
        val a = Cut.eager(keyed.filter(col("k") === 0))
        val dropped = Cut.eager(keyed.filter(col("k") === 1))
        dropped.count()
        a.join(nums(20), "id").select(col("id"))
      }
      val projected = Cut.scope(Cut.lazily(keyed.select(col("id") * 2)).select(col("(id * 2)")))
      assert(rows(direct) == (0L until 20L))
      assert(rows(joined) == (0L until 20L by 3))
      assert(rows(projected) == (0L until 40L by 2))
      assert((persistent -- before).size == 3)
    }
    assert((persistent -- before).isEmpty)
  }

  test("a scope whose body throws still frees what it made") {
    val before = persistent
    intercept[IllegalStateException](Cut.scope {
      Cut.cached(nums(10)).count()
      Cut.eager(nums(10).filter(col("id") > 2))
      throw new IllegalStateException("boom")
    })
    assert((persistent -- before).isEmpty)
  }

  test("a cut made in a stream's foreachBatch is freed when the starting scope exits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    val before = persistent
    val states = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    Cut.scope {
      val input = MemoryStream[Long](s)
      val q = input.toDF().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          states.add(Cut.eager(b.select(col("value") * 10))); ()
        }
        .outputMode("update").start()
      try { input.addData(1L, 2L, 3L); q.processAllAvailable() }
      finally q.stop()
      assert(states.size == 1)
      assert((persistent -- before).nonEmpty)
      assert(states.peek().collect().map(_.getLong(0)).toSet == Set(10L, 20L, 30L))
    }
    assert((persistent -- before).isEmpty)
  }

  test("a child thread's scopes do not change the parent thread's stack") {
    val before = persistent
    val opened = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    Cut.scope {
      val child = new Thread(() => Cut.scope { opened.countDown(); release.await() })
      child.start()
      opened.await()
      // the child's inner scope is open, but this thread's innermost is the outer one
      val c = Cut.eager(nums(30))
      release.countDown()
      child.join()
      assert(rows(c) == (0L until 30L))
      assert((persistent -- before).size == 1)
    }
    assert((persistent -- before).isEmpty)
  }
}
