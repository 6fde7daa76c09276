package graft.streaming

import graft.Cut
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The at-least-once fold behind every sink whose state is a combinable
  * fold of per-trigger deltas (PPR, active users, the series triad,
  * cross-corpus pairs, Count-Min, AMS). A trigger's O(batch) `delta` is
  * its ledger payload `payload`; the state after any batch prefix is
  * `combine` over that prefix's deltas (`distinct`, a keyed sum, or
  * plain append — associative, so [[recover]] rebuilds the continuous
  * state bit for bit from the committed deltas). A trigger cuts the
  * delta, builds the successor state and its `view`, COMMITS, then
  * swaps: a failure before the commit leaves the high-water mark and the
  * served state at the previous batch, so the re-delivered batchId
  * applies in full. */
abstract class DeltaFold(stateDir: Option[String], payload: String) {
  /** The micro-batch's own contribution — the persisted payload. */
  protected def delta(batch: DataFrame): DataFrame
  /** Fold a union of deltas (plus the accumulator) into one state. */
  protected def combine(u: DataFrame): DataFrame
  /** The served view of an accumulator; the accumulator itself unless a
    * sink derives a snapshot per trigger. */
  protected def view(acc: DataFrame): DataFrame = acc

  private[streaming] val ledger = new BatchLedger(stateDir)
  /** (accumulator, view), swapped as one reference. */
  @volatile private var st: Option[(DataFrame, DataFrame)] = None

  /** The served view (None before the first batch). */
  protected final def snapshot: Option[DataFrame] = st.map(_._2)

  def recover(s: SparkSession): this.type = synchronized {
    ledger.recovered.filterNot(_.compact)
      .map(c => ledger.read(s, payload, c))
      .reduceOption(_ unionByName _).foreach { u =>
        val a = combine(u).transform(Cut.eager)
        st = Some(a -> view(a))
      }
    this
  }

  def update(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (ledger.alreadyApplied(batchId)) return
    val d = delta(batch).transform(Cut.eager)
    val a = st match {
      case Some(prev) => combine(prev._1.unionByName(d)).transform(Cut.eager)
      case None => d
    }
    val next = a -> view(a)
    ledger.commit(batchId, Seq(payload -> d))
    st = Some(next)
  }
}
