package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType

import graft.functions._

/** Spark extensions entry point: registers the engine's custom Catalyst
  * expressions for any session, including spark-submit deployments:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * // or: SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * [[GraftSql.registerFunctions]] registers the same builders on an
  * already-built session (the interactive path); both share
  * [[GraftExtensions.builders]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name)

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
}

object GraftExtensions {

  /** Name → expression builder for every custom SQL function. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> { exprs =>
      val a = Args("cosine_similarity", "a, b", exprs)
      CosineSimilarity(a(0), a(1))
    },
    "audio_fingerprint" -> { exprs =>
      AudioFingerprintExpr(Args("audio_fingerprint", "payload", exprs)(0))
    },
    "dot_product" -> { exprs =>
      val a = Args("dot_product", "a, b", exprs)
      DotProduct(a(0), a(1))
    },
    "minhash_signature" -> { exprs =>
      val a = Args("minhash_signature", "shingles, k", exprs)
      MinHashSignature(a(0), a.int(1))
    },
    // both size parameters are baked into the generated kernel call
    "minhash_word_shingles" -> { exprs =>
      val a = Args("minhash_word_shingles", "text, size, k", exprs)
      MinHashWordShingles(a(0), a.int(1), a.int(2))
    },
    "minhash_char_shingles" -> { exprs =>
      val a = Args("minhash_char_shingles", "text, size, k", exprs)
      MinHashCharShingles(a(0), a.int(1), a.int(2))
    },
    // stopword-vote language ID over the engine's built-in inventories;
    // returns struct<lang, score> (SELECT stopword_votes(text).lang ...)
    "stopword_votes" -> { exprs =>
      StopwordVotesExpr(Args("stopword_votes", "text", exprs)(0),
        graft.ext.TextAnalysis.stopwords.toSeq)
    },
    "subword_count" -> { exprs =>
      val a = Args("subword_count", "text, divisor", exprs)
      SubwordCount(a(0), a.int(1)) // SubwordCount requires divisor >= 1
    },
    // Spark's internal bloom expressions (the machinery behind runtime
    // join filters), surfaced for user queries: a mergeable set sketch
    // built in one distributed agg + a map-only membership probe. The
    // probe's sketch argument must be a literal or scalar subquery
    // (enforced by the expression itself) — the plan-shape guarantee that
    // the sketch is broadcast, never joined.
    "bloom_filter_agg" -> (exprs => exprs match {
      case Seq(child) => new BloomFilterAggregate(child)
      case Seq(child, items) => new BloomFilterAggregate(child, items)
      case Seq(child, items, bits) => new BloomFilterAggregate(child, items, bits)
      case _ => throw new IllegalArgumentException(
        s"bloom_filter_agg expects (hashed[, estimatedItems[, numBits]]), " +
          s"got ${exprs.length} arguments")
    }),
    // graft's BloomProbe, not Spark's BloomFilterMightContain: identical
    // semantics, but codegen-clean on constant-folded negative probes
    // (Spark's (Long)-literal cast trips Janino → interpreter fallback)
    "might_contain" -> { exprs =>
      val a = Args("might_contain", "sketch, hashed", exprs)
      BloomProbe(a(0), a(1))
    },
    "stopword_count" -> { exprs =>
      val a = Args("stopword_count", "text, words", exprs)
      StopwordCount(a(0), a.strings(1))
    },
    "multi_match_count" -> { exprs =>
      val a = Args("multi_match_count", "text, terms", exprs)
      MultiMatchCount(a(0), a.strings(1, nonEmpty = true))
    })

  /** The arguments of one call of `name(shape)`, `shape` naming them
    * (`"text, size, k"`): checks the arity and reads literal arguments.
    * Every error names the function and what it expected.
    */
  private final case class Args(name: String, shape: String, exprs: Seq[Expression]) {
    private val params = shape.split(", ")
    if (exprs.length != params.length)
      throw new IllegalArgumentException(
        s"$name expects ($shape), got ${exprs.length} arguments")

    def apply(i: Int): Expression = exprs(i)

    private def fail(msg: String) = throw new IllegalArgumentException(s"$name: $msg")

    private def literal(i: Int, what: String): Any = {
      if (!exprs(i).foldable) fail(s"${params(i)} must be $what")
      exprs(i).eval(null)
    }

    /** An integer literal (an INT, or a BIGINT taken as INT). */
    def int(i: Int): Int = literal(i, "an integer literal") match {
      case v: Int => v
      case v: Long => v.toInt
      case other => fail(s"${params(i)} must be an integer literal, got $other")
    }

    /** An array-of-strings literal without NULL (and without empty strings
      * when `nonEmpty`).
      */
    def strings(i: Int, nonEmpty: Boolean = false): Seq[String] =
      literal(i, "an array-of-strings literal") match {
        case a: ArrayData =>
          val elems = a.toObjectArray(StringType)
          if (elems.contains(null)) fail(s"${params(i)} array must not contain NULL")
          val out = elems.map(_.toString).toSeq
          if (nonEmpty && out.exists(_.isEmpty))
            fail(s"${params(i)} array must not contain empty strings")
          out
        case other => fail(s"${params(i)} must be an array-of-strings literal, got $other")
      }
  }
}
