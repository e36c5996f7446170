package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass text kernels for the quality/token scans that run
  * over the whole corpus: the composable forms
  * (`aggregate(transform(split(...)))` / `size(filter(split(...)))`)
  * evaluate higher-order lambdas interpreted and re-split the text per
  * output column — the same cost class the fused MinHash
  * ([[MinHashText]]) and language-ID ([[StopwordVotes]]) kernels
  * eliminated. Each kernel here walks the token boundaries once, with no
  * token array materialized.
  *
  * Each is semantics-identical to its composable reference form
  * (asserted corpus-wide and property-tested in TextAnalysisSpec /
  * PropertySpec); the string-rewriting kernels ([[computeRedact]],
  * [[computeSqueezeSpaces]]) are byte-identical to the `regexp_replace`
  * chains they replace, invalid UTF-8 included.
  */
object TextKernels {

  /** BPE-ish subword count: Σ over space-separated tokens of
    * max(ceil(charLen/divisor), 1). Token length is counted in
    * CHARACTERS (matching `length()` on the split tokens — UTF-8 aware).
    */
  def computeSubwords(text: UTF8String, divisor: Int): Long = {
    val bytes = text.getBytes
    val len = bytes.length
    var total = 0L
    var tokChars = 0
    var i = 0
    while (i < len) {
      if (bytes(i) == ' ') {
        total += math.max((tokChars + divisor - 1) / divisor, 1)
        tokChars = 0
        i += 1
      } else {
        i += UTF8String.numBytesForFirstByte(bytes(i))
        tokChars += 1
      }
    }
    total + math.max((tokChars + divisor - 1) / divisor, 1)
  }

  /** Number of space-separated tokens contained in `words` (with
    * multiplicity) — the stopword-hit counter behind quality scoring.
    */
  def computeStopwordHits(text: UTF8String, words: java.util.HashSet[String]): Long = {
    val s = text.toString
    var hits = 0L
    var from = 0
    val len = s.length
    while (from <= len) {
      var to = s.indexOf(' ', from)
      if (to < 0) to = len
      if (words.contains(s.substring(from, to))) hits += 1
      from = to + 1
    }
    hits
  }

  /** Token boundaries of a single-space-separated byte string (the
    * `split(text, ' ', -1)` model: empty tokens kept): returns
    * (starts, ends, tokenCount) with ends exclusive. Shared by every
    * word-oriented kernel so the subtle boundary scan exists ONCE.
    */
  private def tokenBounds(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    val len = bytes.length
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
    (starts, ends, tokens)
  }

  /** Word n-grams as zero-copy byte-range slices: a token n-gram joined
    * with the single-space separator it was split on IS a contiguous
    * substring of the input (the same identity the fused MinHash kernel
    * exploits), so each output string just wraps a (offset, length) view
    * of the text's byte array. Rows with fewer than n tokens yield an
    * empty array — matching the composable form's guard.
    */
  def computeWordNgrams(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, tokens) = tokenBounds(bytes)
    if (tokens < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](tokens - n + 1)
    var s = 0
    while (s < out.length) {
      val from = starts(s)
      out(s) = UTF8String.fromBytes(bytes, from, ends(s + n - 1) - from)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Word n-shingles: like [[computeWordNgrams]] but with the shingling
    * guard — a document with fewer than n tokens yields ONE shingle (the
    * whole text), matching `Dedup.WordShingles`' composable form (and the
    * window rule of [[MinHashText.computeWords]]).
    */
  def computeWordShingles(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, tokens) = tokenBounds(bytes)
    val numShingles = math.max(tokens - n + 1, 1)
    val out = new Array[Any](numShingles)
    var s = 0
    while (s < numShingles) {
      val from = starts(s)
      val to = ends(math.min(s + n - 1, tokens - 1))
      out(s) = UTF8String.fromBytes(bytes, from, to - from)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Char k-shingles (UTF-8 aware: a window of k CHARACTERS is still a
    * contiguous byte range), whole text as the single shingle when
    * shorter than k chars — matching `Dedup.CharShingles`' composable
    * form and [[MinHashText.computeChars]].
    */
  def computeCharShingles(text: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
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
    val numShingles = math.max(chars - k + 1, 1)
    val out = new Array[Any](numShingles)
    var s = 0
    while (s < numShingles) {
      val from = if (chars == 0) 0 else starts(s)
      val to = starts(math.min(s + k, chars))
      out(s) = UTF8String.fromBytes(bytes, from, to - from)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Overlapping token windows (context-window chunking): window w at
    * stride s over the tokens — each chunk is the byte range from token
    * (k·s)'s start to token (k·s + w - 1)'s end. Matches the composable
    * `transform(sequence(1, greatest(tokens - w + 1, 1), s), i ->
    * array_join(slice(toks, i, w), ' '))` form: at least one window, the
    * last window clamped to the end.
    */
  def computeChunks(text: UTF8String, window: Int, stride: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, tokens) = tokenBounds(bytes)
    val span = math.max(tokens - window + 1, 1)
    val numChunks = (span + stride - 1) / stride
    val out = new Array[Any](numChunks)
    var k = 0
    while (k < numChunks) {
      val first = k * stride
      val from = starts(first)
      val to = ends(math.min(first + window - 1, tokens - 1))
      out(k) = UTF8String.fromBytes(bytes, from, to - from)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `regexp_replace` decodes its input to a Java string and re-encodes the
    * result, so invalid UTF-8 comes out as U+FFFD. The kernels below start
    * from the same repaired bytes; valid input is taken as it is.
    */
  private def repaired(text: UTF8String): UTF8String =
    if (text.isValid) text else UTF8String.fromString(text.toString)

  /** Copy-on-write output: the input's bytes with some ranges replaced.
    * Nothing is allocated until the first replacement.
    */
  private final class Splice(src: Array[Byte]) {
    private var out: Array[Byte] = null
    private var len = 0
    private var from = 0

    private def append(b: Array[Byte], off: Int, n: Int): Unit = {
      if (len + n > out.length)
        out = java.util.Arrays.copyOf(out, math.max(out.length * 2, len + n))
      System.arraycopy(b, off, out, len, n)
      len += n
    }

    /** Replace `src[start, end)` with `token`. Calls come in text order. */
    def replace(start: Int, end: Int, token: Array[Byte]): Unit = {
      if (out == null) out = new Array[Byte](src.length + 16)
      append(src, from, start - from)
      append(token, 0, token.length)
      from = end
    }

    /** Leave `src[start, end)` out. */
    def drop(start: Int, end: Int): Unit = replace(start, end, Array.emptyByteArray)

    def result(orig: UTF8String): UTF8String =
      if (out == null) orig
      else {
        append(src, from, src.length - from)
        UTF8String.fromBytes(out, 0, len)
      }
  }

  private val EmailToken = "<EMAIL>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val UrlToken = "<URL>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val NumToken = "<NUM>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def isAlpha(c: Byte): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  /** `[A-Za-z0-9.-]`: the email domain class. */
  private def isDomain(c: Byte): Boolean = isAlpha(c) || isDigit(c) || c == '.' || c == '-'
  /** `[A-Za-z0-9._%+-]`: the email local-part class. */
  private def isLocal(c: Byte): Boolean = isDomain(c) || c == '_' || c == '%' || c == '+'

  /** End of the email match whose '@' is at `at`, or -1. The domain
    * `[A-Za-z0-9.-]+\.[A-Za-z]{2,}` backtracks from the longest domain run:
    * the last '.' in the run that leaves a nonempty host before it and two
    * or more letters after it, with the letters taken greedily.
    */
  private def emailEnd(b: Array[Byte], at: Int): Int = {
    val n = b.length
    var run = at + 1
    while (run < n && isDomain(b(run))) run += 1
    var dot = run - 1
    while (dot >= at + 2) {
      if (b(dot) == '.') {
        var end = dot + 1
        while (end < n && isAlpha(b(end))) end += 1
        if (end - dot > 2) return end
      }
      dot -= 1
    }
    -1
  }

  /** Start of the `[^ ]+` of a URL match at `i`, or -1: `https?://`
    * followed by at least one non-space byte.
    */
  private def urlBody(b: Array[Byte], i: Int): Int = {
    val n = b.length
    def at(j: Int, c: Char): Boolean = j < n && b(j) == c
    if (!(at(i, 'h') && at(i + 1, 't') && at(i + 2, 't') && at(i + 3, 'p'))) return -1
    val colon = if (at(i + 4, 's')) i + 5 else i + 4
    val body = colon + 3
    if (at(colon, ':') && at(colon + 1, '/') && at(colon + 2, '/') && body < n && b(body) != ' ') body
    else -1
  }

  /** The PII scrub of [[graft.ext.TextAnalysis.redact]] in one pass over
    * the bytes. Byte-identical to the three leftmost-greedy
    * `regexp_replace` calls applied in order — email
    * `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` → `<EMAIL>`, then
    * `https?://[^ ]+` → `<URL>`, then `[0-9]{5,}` → `<NUM>` — because:
    *   - an email match is decided by the local run it starts in (every
    *     start in a run of local-class bytes meets the same '@'), so a run
    *     that fails is skipped whole;
    *   - a URL cannot start where an email does (its local run ends at
    *     ':'), contains no space, and no email crosses a space, so a URL
    *     seen on the input swallows exactly what it swallows after the
    *     email pass;
    *   - the tokens hold no digit, so the digit runs left are the input's
    *     maximal runs outside the matches.
    * All three patterns are ASCII, so multi-byte characters only ever
    * match `[^ ]`; comparing bytes is comparing characters.
    */
  def computeRedact(text: UTF8String): UTF8String = {
    val s = repaired(text)
    val b = s.getBytes
    val n = b.length
    val out = new Splice(b)
    var localEnd = 0 // no email starts before this index
    var i = 0
    while (i < n) {
      val c = b(i)
      val body = if (c == 'h') urlBody(b, i) else -1
      if (body >= 0) {
        var end = body + 1
        while (end < n && b(end) != ' ') end += 1
        out.replace(i, end, UrlToken)
        i = end
      } else if (i >= localEnd && isLocal(c)) {
        var run = i + 1
        while (run < n && isLocal(b(run))) run += 1
        val end = if (run < n && b(run) == '@') emailEnd(b, run) else -1
        if (end > 0) { out.replace(i, end, EmailToken); i = end }
        else localEnd = run
      } else if (isDigit(c)) {
        var end = i + 1
        while (end < n && isDigit(b(end))) end += 1
        if (end - i >= 5) out.replace(i, end, NumToken)
        i = end
      } else i += 1
    }
    out.result(s)
  }

  /** `trim(regexp_replace(text, " +", " "))` in one pass: runs of ASCII
    * spaces become one, and leading and trailing spaces go. Other
    * whitespace is kept, as the regex and `trim` keep it.
    */
  def computeSqueezeSpaces(text: UTF8String): UTF8String = {
    val s = repaired(text)
    val b = s.getBytes
    val n = b.length
    val out = new Splice(b)
    var i = 0
    while (i < n) {
      if (b(i) == ' ') {
        var end = i + 1
        while (end < n && b(end) == ' ') end += 1
        // one space kept between words, none at either end
        if (i == 0 || end == n) out.drop(i, end)
        else if (end - i > 1) out.drop(i + 1, end)
        i = end
      } else i += 1
    }
    out.result(s)
  }

  // non-string input is cast to string first, as regexp_replace casts it
  def redact(text: Column): Column =
    Bridge.column(RedactExpr(Bridge.expression(text.cast("string"))))

  def squeeze_spaces(text: Column): Column =
    Bridge.column(SqueezeSpacesExpr(Bridge.expression(text.cast("string"))))

  def subword_count(text: Column, divisor: Int): Column =
    Bridge.column(SubwordCount(Bridge.expression(text), divisor))

  def stopword_count(text: Column, words: Seq[String]): Column =
    Bridge.column(StopwordCount(Bridge.expression(text), words))

  def word_ngrams(text: Column, n: Int): Column =
    Bridge.column(WordNgrams(Bridge.expression(text), n))

  def word_shingles(text: Column, n: Int): Column =
    Bridge.column(WordShinglesExpr(Bridge.expression(text), n))

  def char_shingles(text: Column, k: Int): Column =
    Bridge.column(CharShinglesExpr(Bridge.expression(text), k))

  def chunk_windows(text: Column, window: Int, stride: Int): Column =
    Bridge.column(ChunkWindows(Bridge.expression(text), window, stride))
}

case class SubwordCount(child: Expression, divisor: Int) extends UnaryExpression {
  require(divisor >= 1, s"subword_count: divisor must be >= 1, got $divisor")
  override def dataType: DataType = LongType
  override def prettyName: String = "subword_count"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeSubwords(input.asInstanceOf[UTF8String], divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.computeSubwords($c, $divisor);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_ngrams: n must be >= 1, got $n")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeWordNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.computeWordNgrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_shingles: n must be >= 1, got $n")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeWordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.computeWordShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class CharShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"char_shingles: k must be >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeCharShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, cIn =>
      s"${ev.value} = graft.functions.TextKernels.computeCharShingles($cIn, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ChunkWindows(child: Expression, window: Int, stride: Int)
    extends UnaryExpression {
  require(window >= 1 && stride >= 1,
    s"chunk_windows: window and stride must be >= 1, got ($window, $stride)")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "chunk_windows"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeChunks(input.asInstanceOf[UTF8String], window, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.computeChunks($c, $window, $stride);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class StopwordCount(child: Expression, words: Seq[String]) extends UnaryExpression {

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "stopword_count"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeStopwordHits(input.asInstanceOf[UTF8String], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("stopwordSet", set, "java.util.HashSet<String>")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.computeStopwordHits($c, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class RedactExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "redact"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeRedact(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.computeRedact($c);")

  override protected def withNewChildInternal(newChild: Expression): RedactExpr =
    copy(child = newChild)
}

case class SqueezeSpacesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "squeeze_spaces"

  override def nullSafeEval(input: Any): Any =
    TextKernels.computeSqueezeSpaces(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.computeSqueezeSpaces($c);")

  override protected def withNewChildInternal(newChild: Expression): SqueezeSpacesExpr =
    copy(child = newChild)
}
