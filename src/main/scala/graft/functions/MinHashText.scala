package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle+MinHash expressions: text → k-wide `array<bigint>`
  * signature in ONE compiled pass over the raw bytes, no shingle strings
  * ever materialized.
  *
  * Why: the composable path (`WordShingles`/`CharShingles` HOF column →
  * [[MinHashSignature]]) evaluates the shingling lambdas interpreted —
  * profiled at ~4 ms/doc, ~20 CPU-seconds per signature pass over the
  * sf0.1 corpus, which AQE's concurrent broadcast-stage jobs then
  * recompute several times before the persisted signatures materialize.
  * The fused kernel hashes each shingle directly out of the text's byte
  * array, exploiting the identity that a word n-gram joined with ' ' (or
  * a char k-gram) IS a contiguous substring of the input, so a shingle's
  * FNV-1a hash can be computed over a byte range with zero allocation.
  *
  * Output is BIT-IDENTICAL to the composable path (asserted in
  * MinHashTextSpec): same FNV-1a-per-shingle, same splitmix64 seed
  * derivation, and `array_distinct`'s dedup is a free no-op under min().
  */
object MinHashText {

  /** Word n-shingle signature. Matches
    * `minhash_signature(WordShingles(n)(text), k)` exactly: split on
    * single space (empty tokens included), windows of n tokens joined
    * with ' ' — i.e. the byte range from token i's start to token
    * (i+n-1)'s end — and the whole text as the single shingle when there
    * are fewer than n tokens.
    */
  def computeWords(text: UTF8String, n: Int, k: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // token boundaries: starts(t) .. ends(t) (exclusive). One pass.
    var tokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') tokens += 1; i += 1 }
    val starts = new Array[Int](tokens)
    val ends = new Array[Int](tokens)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len
    val numShingles = math.max(tokens - n + 1, 1)
    val mins = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s < numShingles) {
      val from = starts(s)
      val to = ends(math.min(s + n - 1, tokens - 1))
      val h = fnv1a64Range(bytes, from, to)
      var j = 0
      while (j < k) {
        val v = MinHashAggregator.mix(h + j * 0x9E3779B97F4A7C15L)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** Char k-shingle signature. Matches
    * `minhash_signature(CharShingles(c)(text), k)` exactly: windows of c
    * CHARACTERS (UTF-8 aware — a window is still a contiguous byte range
    * because UTF-8 is self-synchronizing), whole text as the single
    * shingle when shorter than c chars.
    */
  def computeChars(text: UTF8String, c: Int, k: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // char start offsets
    var chars = 0
    var i = 0
    while (i < len) { i += UTF8String.numBytesForFirstByte(bytes(i)); chars += 1 }
    val starts = new Array[Int](chars + 1)
    var ci = 0
    i = 0
    while (i < len) {
      starts(ci) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      ci += 1
    }
    starts(chars) = len
    val numShingles = math.max(chars - c + 1, 1)
    val mins = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s < numShingles) {
      val from = if (chars == 0) 0 else starts(s)
      val to = starts(math.min(s + c, chars))
      val h = fnv1a64Range(bytes, from, to)
      var j = 0
      while (j < k) {
        val v = MinHashAggregator.mix(h + j * 0x9E3779B97F4A7C15L)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** FNV-1a 64-bit over bytes[from, to) — the range form of
    * [[MinHashSignature.fnv1a64]].
    */
  def fnv1a64Range(bytes: Array[Byte], from: Int, to: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < to) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  def minhash_word_shingles(text: Column, n: Int, numHashes: Int): Column =
    Bridge.column(MinHashWordShingles(Bridge.expression(text), n, numHashes))

  def minhash_char_shingles(text: Column, c: Int, numHashes: Int): Column =
    Bridge.column(MinHashCharShingles(Bridge.expression(text), c, numHashes))
}

case class MinHashWordShingles(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with Kernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_word_shingles"
  def kernel = Kernel.Static(MinHashText, "computeWords", n, numHashes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashCharShingles(child: Expression, c: Int, numHashes: Int)
    extends UnaryExpression with Kernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_char_shingles"
  def kernel = Kernel.Static(MinHashText, "computeChars", c, numHashes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
