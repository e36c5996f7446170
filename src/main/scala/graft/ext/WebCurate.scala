package graft.ext

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.spec.{PipelineSpec, SegType, Stage}

/** The end-to-end web-corpus curation pipeline — declared as a GASKET
  * pipeline (`/root/reference/readme.md:83-111` stage forms) rather than
  * a hand-composed DataFrame chain: WARC(.gz) record extraction → HTML →
  * text → URL canonicalization → corpus-level boilerplate removal →
  * content dedup → quality gate. This welds the two halves of the engine
  * together: the reference-parity composition machinery
  * ([[graft.engine.Engine]] pipe segments) IS the orchestration, and the
  * LLM-curation operators ([[Warc]], [[graft.functions.HtmlText]],
  * [[TextAnalysis]]) are its stages. A user edits/extends the pipeline
  * the gasket way — add/remove a stage in the spec — and the engine
  * still plans ONE lazy Catalyst query end to end (inline stages compose
  * DataFrames; nothing materializes between stages).
  *
  * Scale shape: stages 1-3 are map-only (flatMap record scan + codegen'd
  * extraction kernels); boilerplate is one distinct-count aggregation
  * keyed by line + one join-back; dedup is one keyed aggregation on the
  * cleaned content (swap the key for xxhash64(clean_text) at 100 TB to
  * narrow the shuffle); the gate is a filter. No driver state anywhere.
  */
object WebCurate {

  /** One `.warc.gz` blob for a document: a warcinfo member plus a
    * response member (each its own gzip member — the Common Crawl
    * layout) whose HTTP payload wraps `text` in an HTML page carrying
    * the boilerplate chrome the pipeline must strip (universal footer +
    * rotating copyright) and a messy URL the pipeline must canonicalize.
    */
  def warcGzBlob(id: Long, text: String): Array[Byte] = {
    val page = "<html><body><p>" + text + "</p><div>SHARED FOOTER</div>" +
      "<div>Copyright w" + (id % 3) + "</div></body></html>"
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + page
    val httpBytes = http.getBytes("UTF-8")
    val resp = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: HTTPS://WWW.Example.COM:443/doc/$id/?utm_source=x&b=2&a=1#frag\r\n" +
      s"Content-Length: ${httpBytes.length}\r\n\r\n").getBytes("ISO-8859-1") ++
      httpBytes ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Length: 4\r\n\r\ninfo\r\n\r\n").getBytes("ISO-8859-1")
    Codecs.gzip(info) ++ Codecs.gzip(resp)
  }

  /** The declared pipeline. Input contract: a DataFrame of
    * `(doc_id long, warc binary)` — one WARC(.gz) blob per row (at crawl
    * scale, one ~1 GB file per row via `binaryFile`).
    *
    * Output: `(keep_id, n_copies, fp, clean_text, n_chars,
    * canonical_url, domain)` — one row per surviving content group.
    */
  def spec(maxDf: Long = 10, minChars: Int = 10): PipelineSpec = {
    def stage(name: String)(fn: DataFrame => DataFrame): Stage =
      Stage.Inline(name, fn, SegType.Pipe)
    PipelineSpec(ListMap("web_curate" -> Seq(
      stage("warc_records") { df =>
        Warc.records(df, "doc_id", "warc")
          .filter(col("warc_type") === "response" && col("http_status") === 200)
          .select(col("doc_id"), col("target_uri"),
            decode(col("body"), "UTF-8").as("html"))
      },
      stage("html_text") { df =>
        df.select(col("doc_id"), col("target_uri"),
          graft.functions.HtmlText.html_text(col("html")).as("extracted"))
      },
      stage("url_normalize") { df =>
        df.select(col("doc_id"),
          TextAnalysis.normalizeUrl(col("target_uri")).as("canonical_url"),
          TextAnalysis.urlDomain(col("target_uri")).as("domain"),
          col("extracted"))
      },
      stage("boilerplate") { df0 =>
        // Boilerplate is the pipeline's only multi-consumer point: the
        // line-frequency pass AND the join-back both read the extracted
        // corpus. Persist here (the map-tee discipline — released via
        // CacheUtils between units of work) so the gunzip+parse+extract
        // map side runs ONCE, not once per consumer; what's cached is the
        // extracted text, a fraction of the raw crawl bytes.
        val df = df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // strip keeps (doc_id, clean_text, n_lines_kept); the per-doc URL
        // metadata rides back over the id key (one keyed join; metadata
        // rows are narrow — id + two short strings)
        TextAnalysis.stripBoilerplate(df, "doc_id", "extracted", maxDf)
          .join(df.select("doc_id", "canonical_url", "domain"), "doc_id")
      },
      stage("near_dup") { df =>
        df.groupBy("clean_text")
          .agg(min("doc_id").as("keep_id"),
            count(lit(1)).as("n_copies"),
            min("n_lines_kept").as("n_lines_kept"),
            min_by(col("canonical_url"), col("doc_id")).as("canonical_url"),
            min_by(col("domain"), col("doc_id")).as("domain"))
      },
      stage("quality_gate") { df =>
        df.filter(length(col("clean_text")) >= minChars &&
            col("n_lines_kept") >= 1)
          .select(col("keep_id"), col("n_copies"),
            md5(col("clean_text")).as("fp"), col("clean_text"),
            length(col("clean_text")).cast("long").as("n_chars"),
            col("canonical_url"), col("domain"))
      })))
  }
}
