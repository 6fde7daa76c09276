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

  // over nums(10), round r keeps the ids below max(floor, 10 - r): the
  // set shrinks by one id a round until it reaches its fixpoint at `floor`
  private def shrinkTo(floor: Long)(prev: Cut.Round): DataFrame =
    prev.frame.filter(col("id") < math.max(floor, 9L - prev.index))

  test("iterate stops at the first round whose stop test holds, measured on its own cut") {
    Cut.scope {
      val run = Cut.iterate(Cut.lazily(nums(10)), 20)(shrinkTo(6))(_.n == _.n)
      assert(run.converged)
      // rounds 1-4 drop ids 9..6; round 5 finds nothing to drop
      assert(run.rounds == 5)
      assert(run.last.n == 6L && run.last.n == run.frame.count())
      assert(rows(run.frame) == (0L until 6L))
    }
  }

  test("iterate stops at maxRounds unconverged") {
    Cut.scope {
      val run = Cut.iterate(nums(10), 3)(shrinkTo(0))((_, _) => false)
      assert(!run.converged && run.rounds == 3)
      assert(run.last.n == 7L && rows(run.frame) == (0L until 7L))
    }
    Cut.scope {
      val none = Cut.iterate(nums(4), 0)(shrinkTo(0))((_, _) => true)
      assert(!none.converged && none.rounds == 0 && rows(none.frame) == (0L until 4L))
    }
  }

  test("iterate reads 0 for a round with no rows") {
    Cut.scope {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val emptied = Cut.iterate(nums(8), 5)(_.frame.filter(col("id") < 0)) { (_, next) =>
        seen += next.n; seen.size == 2
      }
      assert(emptied.converged && seen == Seq(0L, 0L) && emptied.frame.count() == 0L)
      val pruned = Cut.iterate(nums(8), 1)(_.frame.filter(lit(false)))((_, next) => next.n == 0)
      assert(pruned.converged && pruned.last.n == 0L)
    }
  }

  test("iterate reads a caller's measure on every round") {
    val s = spark
    import s.implicits._
    // min-label propagation along the path 0-1-2-3-4
    val sym = (0L until 4L).flatMap(u => Seq((u, u + 1), (u + 1, u))).toDF("u", "v")
    val changed = scala.collection.mutable.ArrayBuffer.empty[Long]
    Cut.scope {
      val run = Cut.iterate(nums(5).select(col("id").as("u"), col("id").as("label")), 10,
          count(when(col("label") =!= col("prev"), 1))) { prev =>
        val labels = prev.frame.select(col("u"), col("label"))
        sym.join(labels.select(col("u").as("v"), col("label").as("nl")), "v")
          .groupBy("u").agg(min("nl").as("nl"))
          .join(labels, "u")
          .select(col("u"), least(col("label"), col("nl")).as("label"), col("label").as("prev"))
      } { (_, next) => changed += next.n; next.n == 0 }
      assert(run.converged && run.rounds == 5)
      assert(run.frame.select("label").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    }
    assert(changed == Seq(4L, 3L, 2L, 1L, 0L))
  }

  test("the enclosing scope frees every round's cut") {
    val before = persistent
    Cut.scope {
      val run = Cut.iterate(Cut.lazily(nums(10)), 20)(shrinkTo(5))(_.n == _.n)
      assert(run.rounds == 6)
      // the initial lazy cut and one cut per round
      assert((persistent -- before).size == 7)
    }
    assert((persistent -- before).isEmpty)
  }
}
