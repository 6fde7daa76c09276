package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.bridge
import scala.collection.mutable

/** The one place that materializes a query intermediate and decides how
  * long it lives.
  *  - [[eager]] / [[lazily]] cut the lineage (`localCheckpoint(true)` /
  *    `(false)`): the frame reads its persisted blocks, so it stays valid
  *    after its source files are replaced, and a loop's task binaries stop
  *    growing. The blocks are not recomputable: losing an executor fails
  *    the job instead of re-reading a path that may be gone.
  *  - [[cached]] keeps the lineage (`cache()`): a lost block is recomputed.
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
