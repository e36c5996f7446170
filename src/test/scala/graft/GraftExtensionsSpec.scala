package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.SparkSpec

/** The extensions class injects without error, and the SAME builders are
  * exercised end-to-end through SQL via GraftSql (shared-session safe:
  * building a second getOrCreate session here would hijack the suite-wide
  * one, so the withExtensions path is validated structurally and the
  * builders functionally).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("extension injection applies all builders without error") {
    new GraftExtensions().apply(new SparkSessionExtensions)
    assert(GraftExtensions.builders.map(_._1).sorted ==
      Seq("audio_fingerprint", "bloom_filter_agg", "cosine_similarity",
        "dot_product", "might_contain", "minhash_char_shingles",
        "minhash_signature", "minhash_word_shingles", "multi_match_count",
        "stopword_count", "stopword_votes", "subword_count"))
  }

  test("every builder works through SQL on a live session") {
    GraftSql.registerFunctions(spark)
    val r = spark.sql(
      """SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
                dot_product(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d,
                size(minhash_signature(array('ab', 'cd'), 16)) AS k,
                size(minhash_word_shingles('a b c d', 3, 8)) AS kw,
                size(minhash_char_shingles('abcdef', 5, 8)) AS kc,
                stopword_votes('the cat is here').lang AS lang,
                subword_count('a eeeeeeee', 4) AS sw,
                stopword_count('the cat the', array('the', 'a')) AS sc,
                multi_match_count('big red dog', array('red', 'cat', 'g r')) AS mm""").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 6.0)
    assert(r.getInt(2) == 16)
    assert(r.getInt(3) == 8)
    assert(r.getInt(4) == 8)
    assert(r.getString(5) == "en")
    assert(r.getLong(6) == 3L) // 1 + ceil(8/4)
    assert(r.getLong(7) == 2L)
    assert(r.getLong(8) == 2L) // 'red' and the cross-word phrase 'g r'
  }

  test("builders reject a wrong arity or a non-literal argument, naming the function") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CreateArray, Literal}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val builder = GraftExtensions.builders.toMap
    def error(name: String, args: Expression*): String =
      intercept[IllegalArgumentException](builder(name)(args)).getMessage
    for (name <- builder.keys)
      assert(error(name).startsWith(name), name)
    val text = Literal("a b")
    val col = AttributeReference("n", IntegerType)()
    assert(error("minhash_word_shingles", text, col, Literal(4)) ==
      "minhash_word_shingles: size must be an integer literal")
    assert(error("minhash_signature", text, Literal("4")) ==
      "minhash_signature: k must be an integer literal, got 4")
    assert(error("subword_count", text, Literal(0)).contains("divisor must be >= 1"))
    assert(error("stopword_count", text,
      CreateArray(Seq(Literal("the"), Literal(null, StringType)))) ==
      "stopword_count: words array must not contain NULL")
    assert(error("multi_match_count", text, CreateArray(Seq(Literal("")))) ==
      "multi_match_count: terms array must not contain empty strings")
    assert(error("multi_match_count", text, Literal("cat")).startsWith(
      "multi_match_count: terms must be an array-of-strings literal"))
  }
}
