package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML → text extraction — the first stage of a web-corpus training
  * pipeline (WET-style), as ONE codegen'd map-only pass per document:
  * a single-scan state machine that drops tags/comments/CDATA, skips
  * `<script>`/`<style>` raw-text elements (honoring quoted attributes,
  * so a `>` inside an attribute string doesn't close its tag), decodes
  * the common named entities plus decimal/hex numeric references
  * (supplementary code points included), renders block-level elements
  * as line breaks and inline elements as zero-width, and collapses
  * whitespace runs (a run containing a newline collapses to `\n`,
  * otherwise to one space; ends trimmed).
  *
  * Deterministic and total: malformed markup never throws — an
  * unterminated comment/script/tag simply consumes to end-of-input, a
  * bare `<` or `&` that doesn't open a tag/entity passes through as
  * text. The envelope is documented, not guessed: CDATA content is
  * skipped (HTML parsers treat it as markup error text; corpora where
  * it matters are XML, not HTML), and no DOM is built — this is the
  * scale path for billions of pages, not a browser.
  */
object HtmlText {

  private val Block: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "head", "body", "title", "p", "div", "br", "hr",
      "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
      "table", "tr", "td", "th", "thead", "tbody", "tfoot",
      "blockquote", "pre", "section", "article", "header", "footer",
      "nav", "aside", "form", "figure", "figcaption", "main",
      "dl", "dt", "dd", "address", "fieldset").foreach(s.add)
    s
  }

  def compute(input: UTF8String): UTF8String = {
    val s = input.toString
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(i, "<!--", 0, 4)) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (s.regionMatches(true, i, "<![CDATA[", 0, 9)) {
          val end = s.indexOf("]]>", i + 9)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (Character.isLetter(s.charAt(i + 1)) ||
          s.charAt(i + 1) == '/' || s.charAt(i + 1) == '!' ||
          s.charAt(i + 1) == '?')) {
          var j = i + 1
          val closing = s.charAt(j) == '/'
          if (closing || s.charAt(j) == '!' || s.charAt(j) == '?') j += 1
          val nameStart = j
          while (j < n && (Character.isLetterOrDigit(s.charAt(j)))) j += 1
          val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          // scan to the closing '>', honoring quoted attribute values
          var quote = 0
          var done = false
          while (!done && j < n) {
            val ch = s.charAt(j)
            if (quote != 0) { if (ch == quote) quote = 0; j += 1 }
            else if (ch == '"' || ch == '\'') { quote = ch; j += 1 }
            else if (ch == '>') done = true
            else j += 1
          }
          val selfClose = done && j > i && s.charAt(j - 1) == '/'
          i = if (done) j + 1 else n
          if (!closing && !selfClose &&
            (name == "script" || name == "style"))
            i = skipRawText(s, i, name)
          if (Block.contains(name)) out.append('\n')
        } else { out.append('<'); i += 1 }
      } else if (c == '&') {
        i = appendEntity(s, i, out)
      } else {
        out.append(c)
        i += 1
      }
    }
    UTF8String.fromString(collapse(out))
  }

  /** Skip a raw-text element's content: everything up to and including
    * the matching case-insensitive `</name ... >`.
    */
  private def skipRawText(s: String, from: Int, name: String): Int = {
    val n = s.length
    val close = "</" + name
    var i = from
    while (i < n) {
      if (s.regionMatches(true, i, close, 0, close.length)) {
        var j = i + close.length
        while (j < n && s.charAt(j) != '>') j += 1
        return if (j < n) j + 1 else n
      }
      i += 1
    }
    n
  }

  /** Decode one entity at `s(i) == '&'` into `out`; returns the next
    * index. Unknown/malformed entities pass '&' through as text.
    */
  private def appendEntity(s: String, i: Int, out: java.lang.StringBuilder): Int = {
    val n = s.length
    val semi = {
      var j = i + 1
      val cap = math.min(n, i + 12) // longest supported form: &#x10FFFF;
      while (j < cap && s.charAt(j) != ';') j += 1
      if (j < cap && j < n && s.charAt(j) == ';') j else -1
    }
    if (semi < 0) { out.append('&'); return i + 1 }
    val body = s.substring(i + 1, semi)
    val decoded: String = body match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case "apos" => "'"
      case "nbsp" => " "
      case _ if body.length > 1 && body.charAt(0) == '#' =>
        try {
          val cp =
            if (body.length > 2 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
              Integer.parseInt(body.substring(2), 16)
            else Integer.parseInt(body.substring(1), 10)
          // C0 controls are dropped EXCEPT tab/newline/CR — legal and
          // common in scraped HTML (&#10; &#9;); they decode here and
          // then flow into the normal whitespace collapse
          if (Character.isValidCodePoint(cp) &&
            (cp >= 32 || cp == '\t' || cp == '\n' || cp == '\r'))
            new String(Character.toChars(cp))
          else null
        } catch { case _: NumberFormatException => null }
      case _ => null
    }
    if (decoded == null) { out.append('&'); i + 1 }
    else { out.append(decoded); semi + 1 }
  }

  /** Collapse whitespace runs: a run containing '\n' → one '\n', any
    * other run → one space; leading/trailing runs dropped.
    */
  private def collapse(sb: java.lang.StringBuilder): String = {
    val n = sb.length
    val out = new java.lang.StringBuilder(n)
    var sawWs = false
    var sawNl = false
    var i = 0
    while (i < n) {
      val c = sb.charAt(i)
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
        c == 11.toChar || c == '\f') {
        sawWs = true
        sawNl ||= c == '\n'
      } else {
        if (sawWs && out.length > 0) out.append(if (sawNl) '\n' else ' ')
        sawWs = false; sawNl = false
        out.append(c)
      }
      i += 1
    }
    out.toString
  }

  /** Column form: `html_text(html)` — extracted text, codegen'd. */
  def html_text(html: Column): Column =
    Bridge.column(HtmlTextExpr(Bridge.expression(html)))
}

case class HtmlTextExpr(child: Expression) extends UnaryExpression with Kernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_text"
  def kernel = Kernel.Static(HtmlText, "compute")

  override protected def withNewChildInternal(newChild: Expression): HtmlTextExpr =
    copy(child = newChild)
}
