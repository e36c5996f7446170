package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash-signature expression: `array<string>` shingles → k-wide
  * `array<bigint>` signature in one compiled loop.
  *
  * Why a custom expression (the SURVEY §4.3 "only if profiling demands"
  * case — profiling demanded it): Spark's higher-order functions
  * (`transform`/`array_min` lambdas) are evaluated interpreted, never
  * codegen'd, so a k=64 signature over ~100 shingles costs ~6400
  * interpreted lambda invocations per row — it dominated the near-dup
  * pipeline's wall time. Here each shingle is hashed once (FNV-1a 64 over
  * its bytes) and the k seeded variants derive via splitmix64 mixing in a
  * tight JIT'd loop; both the interpreted and codegen paths call the same
  * static kernel.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with Kernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  def kernel = Kernel.Static(MinHashSignature, "compute", numHashes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {

  /** Kernel shared by eval and codegen: one pass over the shingles, k mins
    * maintained in a local array. ~k·n long-mixes + n byte-hashes per row.
    */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      val h = if (s == null) 0L else fnv1a64(s.getBytes)
      var i = 0
      while (i < k) {
        val v = MinHashAggregator.mix(h + i * 0x9E3779B97F4A7C15L)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** FNV-1a 64-bit over raw bytes (public-domain constants). */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  def minhash_signature(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(shingles), numHashes))
}
