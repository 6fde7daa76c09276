package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.bridge
import scala.annotation.tailrec
import scala.collection.mutable

/** The one place that materializes a query intermediate and decides how
  * long it lives.
  *  - [[eager]] / [[lazily]] cut the lineage (`localCheckpoint(true)` /
  *    `(false)`): the frame reads its persisted blocks, so it stays valid
  *    after its source files are replaced, and a loop's task binaries stop
  *    growing. The blocks are not recomputable: losing an executor fails
  *    the job instead of re-reading a path that may be gone.
  *  - [[cached]] keeps the lineage (`cache()`): a lost block is recomputed.
  *  - [[iterate]] runs a fixpoint loop, one [[eager]] cut per round.
  *
  * Each registers its frame with the innermost open [[scope]] of the
  * calling thread. A scope that exits, by a throw too, frees every cache
  * made inside it and every cut its result does not reach (through the
  * result's plans and the lineage of a lazy cut not yet materialized).
  * Reached cuts move to the enclosing scope, or stay unregistered when
  * there is none. A thread started inside a scope gets a copy of its
  * parent's stack, so a stream's trigger thread registers with the scope
  * that started the stream. A closed scope takes no more registrations;
  * they go to the next open one. */
object Cut {
  private final class Scope {
    private var open = true
    private val caches = mutable.ArrayBuffer.empty[DataFrame]
    private val cuts = mutable.ArrayBuffer.empty[RDD[_]]
    def add(frame: Either[DataFrame, RDD[_]]): Boolean = synchronized {
      if (open) frame.fold(caches += _, cuts += _)
      open
    }
    def close(): (Seq[DataFrame], Seq[RDD[_]]) = synchronized {
      open = false
      (caches.toSeq, cuts.toSeq)
    }
  }

  private val stack = new InheritableThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  def eager(df: DataFrame): DataFrame = cut(df.localCheckpoint(true))
  def lazily(df: DataFrame): DataFrame = cut(df.localCheckpoint(false))
  def cached(df: DataFrame): DataFrame = { register(stack.get, Left(df.cache())); df }

  /** One frame of an [[iterate]] run; round 0 is the initial frame. `n` is
    * its measure, read on first use. */
  final class Round private[Cut] (val frame: DataFrame, val index: Int, measured: => Long) {
    lazy val n: Long = measured
  }

  /** The last round an [[iterate]] run produced, and whether its stop test
    * held there (`false`: the round budget ran out first). */
  final case class Rounds(last: Round, converged: Boolean) {
    def frame: DataFrame = last.frame
    def rounds: Int = last.index
  }

  /** A fixpoint loop, one materializing job per round. Each round runs
    * `step` on the previous round, observes `measure` (a Long aggregate,
    * the row count by default) on the result and [[eager]]-cuts it, so the
    * measure arrives with the job that materializes the round; a round
    * AQE prunes as empty reads 0. The cut keeps each round's task
    * binaries from growing with the loop, and every superseded round is
    * freed with the enclosing [[scope]]. The loop stops after the first
    * round for which `done(prev, next)` holds, or after `maxRounds`.
    *
    * `init` is used as given; its measure runs as a separate action only
    * if `done` reads it, so a stop test that reads it wants `init` cut
    * [[lazily]], which that action then materializes. */
  def iterate(init: DataFrame, maxRounds: Int, measure: Column = count(lit(1)))(
      step: Round => DataFrame)(done: (Round, Round) => Boolean): Rounds = {
    @tailrec def from(prev: Round): Rounds =
      if (prev.index >= maxRounds) Rounds(prev, converged = false)
      else {
        val o = Observation()
        val cut = eager(step(prev).observe(o, measure.as("n")))
        val next = new Round(cut, prev.index + 1, o.get.getOrElse("n", 0L).asInstanceOf[Long])
        if (done(prev, next)) Rounds(next, converged = true) else from(next)
      }
    from(new Round(init, 0, init.agg(measure).head().getLong(0)))
  }

  def scope[T](body: => T): T = {
    val s = new Scope
    val outer = stack.get
    stack.set(s :: outer)
    var result: Option[T] = None
    try { result = Some(body); result.get }
    finally {
      stack.set(outer)
      val (caches, cuts) = s.close()
      caches.foreach(_.unpersist(blocking = false))
      val kept = result.fold(Set.empty[Int])(reached)
      cuts.foreach(r => if (kept(r.id)) register(outer, Right(r)) else bridge.dropBlocks(r))
    }
  }

  private def cut(df: DataFrame): DataFrame = {
    rddsOf(df).foreach(r => register(stack.get, Right(r)))
    df
  }

  private def register(scopes: List[Scope], frame: Either[DataFrame, RDD[_]]): Unit =
    scopes.find(_.add(frame))

  private def rddsOf(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd }

  /** Ids of every RDD the value's frames read, lineage included. */
  private def reached(value: Any): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    def rdd(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => rdd(d.rdd))
    def walk(v: Any): Unit = v match {
      case ds: Dataset[_] => rddsOf(ds).foreach(rdd)
      case it: Iterable[_] => it.foreach(walk)
      case p: Product => p.productIterator.foreach(walk)
      case _ =>
    }
    walk(value)
    seen.toSet
  }
}
