package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Typed aggregator producing a full MinHash signature in ONE aggregation
  * buffer (the `Aggregator` fallback SURVEY §4.2 anticipates for B12):
  * input is the shingle's 64-bit base hash; the buffer holds the
  * element-wise minimum of the `numHashes` derived hashes. One buffer per
  * group instead of 64 aggregate expressions — smaller codegen, same
  * shuffle shape (map-side partial merge works on the array buffer).
  */
class MinHashAgg(numHashes: Int = 64) extends Aggregator[Long, Array[Long], Seq[Long]] {

  /** Splitmix-style finalizer over (seed, baseHash). Deterministic and
    * seed-separated; the per-row [[MinHashSig]] expression derives the
    * same family (property-tested in MinHashSigSpec). */
  @inline private def mix(seed: Int, h: Long): Long = {
    var x = h ^ (seed.toLong * 0x9E3779B97F4A7C15L)
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  override def reduce(buf: Array[Long], baseHash: Long): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      val h = mix(i, baseHash)
      if (h < buf(i)) buf(i) = h
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
