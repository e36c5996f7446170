package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern substring search: one Aho-Corasick automaton pass instead
  * of m× `contains()` scans.
  *
  * The blocklist-filtering shape — "drop/flag any document containing one
  * of these m phrases" — composes in vanilla Spark as `OR`-chained
  * `contains` (m passes over every document) or an exploded join (a
  * shuffle). At 100 TB × a few hundred phrases, m× rescans of the corpus
  * is the whole job cost; the automaton makes it ONE pass per document,
  * independent of m. The automaton is built once at plan construction,
  * rides into generated code via `addReferenceObj` (whole-stage codegen
  * stays intact — same discipline as [[TextKernels.StopwordCount]]), and
  * is a few KB of dense int tables for realistic blocklists.
  *
  * Byte-level matching over UTF-8 is exact for full-phrase occurrence:
  * UTF-8 is self-synchronizing, so an encoded phrase's byte sequence
  * occurs iff the character sequence occurs — the semantics of
  * `contains(text, phrase)`, which is what the DuckDB oracle replays.
  */
final class AhoCorasick(terms: Seq[String]) extends Serializable {
  require(terms.nonEmpty, "AhoCorasick: empty term list")
  require(terms.forall(_.nonEmpty), "AhoCorasick: empty term")

  val termCount: Int = terms.length

  // Dense DFA: next(state)(byte) fully fail-resolved at build time; out(s)
  // = term ids completed at state s (own + inherited via fail links).
  private val (nextTab: Array[Array[Int]], outTab: Array[Array[Int]]) = {
    val bytes = terms.map(_.getBytes("UTF-8")).toArray
    val cap = bytes.map(_.length).sum + 1
    val goto = Array.fill(cap)(null: Array[Int])
    val out = Array.fill(cap)(List.empty[Int])
    goto(0) = Array.fill(256)(-1)
    var nodes = 1
    for (t <- bytes.indices) {
      var s = 0
      for (b <- bytes(t)) {
        val c = b & 0xff
        if (goto(s)(c) < 0) {
          goto(nodes) = Array.fill(256)(-1)
          goto(s)(c) = nodes
          nodes += 1
        }
        s = goto(s)(c)
      }
      out(s) ::= t
    }
    // BFS fail links; resolve into a complete transition table
    val fail = new Array[Int](nodes)
    val queue = scala.collection.mutable.Queue.empty[Int]
    for (c <- 0 until 256) {
      val s = goto(0)(c)
      if (s < 0) goto(0)(c) = 0
      else { fail(s) = 0; queue += s }
    }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      out(r) = out(r) ++ out(fail(r))
      for (c <- 0 until 256) {
        val s = goto(r)(c)
        if (s < 0) goto(r)(c) = goto(fail(r))(c)
        else { fail(s) = goto(fail(r))(c); queue += s }
      }
    }
    (goto.take(nodes), out.take(nodes).map(_.toArray))
  }

  /** Number of DISTINCT terms occurring in `text` (a phrase repeated ten
    * times counts once — the gate semantics).
    */
  def matchedCount(text: UTF8String): Long = {
    val bs = text.getBytes
    var seen = 0L // termCount ≤ 64 uses one word; larger lists use the set
    var seenSet: java.util.HashSet[Int] = null
    var nSeen = 0
    var s = 0
    var i = 0
    while (i < bs.length && nSeen < termCount) {
      s = nextTab(s)(bs(i) & 0xff)
      val hits = outTab(s)
      var j = 0
      while (j < hits.length) {
        val t = hits(j)
        if (termCount <= 64) {
          if ((seen & (1L << t)) == 0) { seen |= 1L << t; nSeen += 1 }
        } else {
          if (seenSet == null) seenSet = new java.util.HashSet[Int]()
          if (seenSet.add(t)) nSeen += 1
        }
        j += 1
      }
      i += 1
    }
    nSeen.toLong
  }
}

object MultiMatch {
  /** The static kernel of [[MultiMatchCount]]. */
  def count(text: UTF8String, ac: AhoCorasick): Long = ac.matchedCount(text)

  /** Column API: distinct-term match count via one automaton pass. */
  def multi_match_count(text: Column, terms: Seq[String]): Column =
    Bridge.column(MultiMatchCount(Bridge.expression(text), terms))
}

case class MultiMatchCount(child: Expression, terms: Seq[String])
    extends UnaryExpression with Kernel {
  require(terms.nonEmpty, "multi_match_count: empty term list")
  // Fail at plan construction, not from the automaton's first build on
  // an executor (a confusing mid-query error).
  require(terms.forall(_.nonEmpty), "multi_match_count: empty term")

  override def dataType: DataType = LongType
  override def prettyName: String = "multi_match_count"
  def kernel = Kernel.Static(MultiMatch, "count", new AhoCorasick(terms))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
