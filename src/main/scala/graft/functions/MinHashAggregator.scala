package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (the `Aggregator[IN, BUF, OUT]` row of SURVEY §2.2):
  * a MinHash-signature aggregator — merges per-row shingle hashes into a
  * k-wide min-signature. The buffer is a fixed k-long array, so partial
  * aggregation ships k longs per group regardless of document size —
  * exactly the mergeable-sketch shape that scales aggregation to 100 TB.
  *
  * The pure-SQL formulation in [[graft.ext.Dedup.minHashSignatures]] is
  * the codegen'd production path; this Aggregator is the typed/custom-
  * buffer form (usable via `udaf()` in SQL or on KeyValueGroupedDataset).
  */
class MinHashAggregator(numHashes: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  /** Mix the element hash with each seed (splitmix64 finalizer), keep the
    * minimum per seed.
    */
  override def reduce(buf: Array[Long], elemHash: Long): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      val h = MinHashAggregator.mix(elemHash + i * 0x9E3779B97F4A7C15L)
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

  override def finish(buf: Array[Long]): Array[Long] = buf
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object MinHashAggregator {
  /** splitmix64 finalizer (public-domain mixing constants). */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** splitmix64: the golden-gamma step then the [[mix]] finalizer — the
    * seeded hash the planted fixtures derive from their ids.
    */
  def splitmix64(z0: Long): Long = mix(z0 + 0x9E3779B97F4A7C15L)

  /** Estimated Jaccard between two signatures. */
  def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    var same = 0; var i = 0
    while (i < n) { if (a(i) == b(i)) same += 1; i += 1 }
    if (n == 0) 0.0 else same.toDouble / n
  }
}
