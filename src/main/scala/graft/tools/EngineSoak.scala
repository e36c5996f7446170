package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Engine, RunOptions}
import graft.spec.{PipelineSpec, SegType, Stage}

/** Engine-level scale soak: drives the gasket-parity pipeline engine
  * itself (`engine/Engine.scala` segment fold — pipe/run/fork/map/reduce
  * plus `RDD.pipe` command stages) over the ScaleSoak corpus, the one
  * layer no prior soak exercised past sf0.1.
  *
  * Measured stages:
  *   - `pipe_cmd`: a three-stage pipe segment whose middle stage is an
  *     external process (`tr a-z A-Z` via RDD.pipe, one process per
  *     partition) — the process-bridge throughput.
  *   - `fork_fan`: a fork segment fanning the input through 3 inline
  *     transforms (unioned, no ordering exchange on the single-segment path).
  *   - `map_tee`: a map segment teeing one ACCOUNTED source (a
  *     LongAccumulator counts every source-row computation) into 2
  *     consumers — then ASSERTS the persist masked recomputation
  *     (accumulator == n, not 2n; SURVEY §7.3's stated risk).
  *   - `reduce_fanin`: a reduce segment fanning 2 producers into one
  *     aggregator stage.
  *   - `multi_seg`: map-tee + run segment in ONE pipeline — pays the
  *     ordered-concat exchange (`repartitionById` over the block ordinal
  *     of each segment and run stage), the documented cost of
  *     reference-parity output ordering
  *     (`/root/reference/index.js:164` runStream concat).
  *
  * Reference semantics being scaled: `/root/reference/index.js:30-69`
  * (runStream/forkStream/map tee/reduce fan-in), `index.js:14-27`
  * (process stages).
  *
  * Usage: runMain graft.tools.EngineSoak [numDocs] (default 8000000)
  */
object EngineSoak {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(8000000L)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // same write-once corpus materialization as ScaleSoak (stages read
    // parquet from disk, like a real pipeline)
    val corpusGen = 2
    val dir = s"/tmp/graft_soak_g${corpusGen}_$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      ScaleSoak.corpus(spark, n).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)

    // the engine's data plane is a single value:string column (the
    // byte-stream analog) — one line per document
    def input: DataFrame =
      docs.select(concat_ws("\t", col("doc_id"), col("text")).as("value"))

    val teeComputed = spark.sparkContext.longAccumulator("tee_src_rows")

    def inline(name: String, seg: SegType)(fn: DataFrame => DataFrame) =
      Stage.Inline(name, fn, seg)

    def valCol(df: DataFrame, c: org.apache.spark.sql.Column): DataFrame =
      df.select(c.as("value"))

    val spec = PipelineSpec(scala.collection.immutable.ListMap(
      "pipe_cmd" -> Seq(
        inline("prep", SegType.Pipe)(df => df),
        Stage.Command("tr a-z A-Z", SegType.Pipe),
        inline("len", SegType.Pipe)(df => valCol(df, length(col("value")).cast("string")))),
      "fork_fan" -> Seq(
        inline("upper", SegType.Fork)(df => valCol(df, upper(col("value")))),
        inline("toks", SegType.Fork)(df =>
          valCol(df, size(split(col("value"), " ")).cast("string"))),
        inline("hash", SegType.Fork)(df => valCol(df, hash(col("value")).cast("string")))),
      "map_tee" -> Seq(
        // the tee SOURCE: every computed row ticks the accumulator, so a
        // branch that recomputes the source is caught arithmetically
        inline("src", SegType.MapTee) { df =>
          val ss = df.sparkSession
          import ss.implicits._
          df.select(col("value")).as[String]
            .mapPartitions { it => it.map { s => teeComputed.add(1L); s } }
            .toDF("value")
        },
        inline("branch_upper", SegType.MapTee)(df => valCol(df, upper(col("value")))),
        inline("branch_len", SegType.MapTee)(df =>
          valCol(df, length(col("value")).cast("string")))),
      "reduce_fanin" -> Seq(
        // head = aggregator; remaining stages feed it (index.js:64)
        inline("agg", SegType.Reduce)(df =>
          valCol(df.groupBy(substring(col("value"), 1, 1).as("k"))
            .agg(count(lit(1)).as("n")), concat_ws(":", col("k"), col("n")))),
        inline("feed_a", SegType.Reduce)(df => df),
        inline("feed_b", SegType.Reduce)(df => valCol(df, reverse(col("value"))))),
      "multi_seg" -> Seq(
        inline("src", SegType.MapTee)(df => df),
        inline("branch", SegType.MapTee)(df => valCol(df, upper(col("value")))),
        // second segment: ordered concat forces the block-ordinal exchange
        Stage.Command("echo SEG2-A", SegType.Run),
        Stage.Command("echo SEG2-B", SegType.Run))))

    val engine = new Engine(spec)

    def timed(name: String, expectRows: Long => Long,
        opts: RunOptions = RunOptions(), label: String = ""): Unit = {
      val t0 = System.nanoTime()
      // sum(length(value)) forces every branch's value column to actually
      // materialize — a bare count() lets Catalyst prune the inline
      // projections (cache/parquet count-star optimization) and would
      // time the engine's plumbing without the stages' work
      val r = engine.run(name, spark, Some(input), opts)
        .agg(count(lit(1)).as("rows"), sum(length(col("value"))).as("chars"))
        .head()
      val rows = r.getLong(0)
      val mb = r.getLong(1) / 1e6
      val dt = (System.nanoTime() - t0) / 1e9
      val exp = expectRows(n)
      val ok = if (rows == exp) "" else s"  ROWS MISMATCH (expected $exp)"
      val shown = if (label.isEmpty) name else label
      println(f"[engine-soak] $shown%-14s $dt%8.2f s   rows=$rows%,d   " +
        f"${mb / dt}%8.1f MB/s   (${dt * 1e9 / n}%.0f ns/doc)$ok")
      graft.ops.CacheUtils.releaseAll(spark)
    }

    println(s"[engine-soak] n=$n dir=$dir")
    timed("pipe_cmd", identity)
    timed("fork_fan", _ * 3)
    teeComputed.reset()
    timed("map_tee", _ * 2)
    val computed = teeComputed.value
    val teeOk = computed == n
    println(s"[engine-soak] map_tee source computed $computed rows for 2 " +
      s"branches of $n → persist ${if (teeOk) "MASKS" else "DOES NOT MASK"} " +
      "recomputation")
    // aggregator groups by first char: doc-id digits (feed_a) and
    // reversed-token trailing digits (feed_b) — 0–9 both ways
    timed("reduce_fanin", _ => 10L)
    timed("multi_seg", _ + 2) // one tee branch + two echo source rows
    // same pipeline with the parity exchange opted out: the pipeline stays
    // map-shaped, so per-doc cost should be flat-to-falling at 4× data
    // (the production setting for order-insensitive downstreams)
    timed("multi_seg", _ + 2, RunOptions(orderedConcat = false),
      label = "multi_seg_noord")

    // End-to-end curation THROUGH the engine (WebCurate spec): per-doc
    // .warc.gz blobs (written once, read like a real crawl landing) →
    // gzip-member WARC parse → html_text → url canon → corpus-level
    // boilerplate → content dedup → quality gate, one declared pipeline.
    // Expected survivors: the corpus's exact-dup families ({id-1, id} for
    // id ≡ 0 mod 20, id > 0) collapse; near-dups (perturbed last token)
    // stay distinct lines, so rows = n - (n/20 - 1).
    val warcDir = s"/tmp/graft_soak_warc_g1_$n"
    if (!new java.io.File(s"$warcDir/_SUCCESS").exists()) {
      import spark.implicits._
      docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, graft.ext.WebCurate.warcGzBlob(id, t)) }
        .toDF("doc_id", "warc").write.mode("overwrite").parquet(warcDir)
    }
    val warcs = spark.read.parquet(warcDir)
    val curate = new Engine(graft.ext.WebCurate.spec())
    val tc0 = System.nanoTime()
    val rc = curate
      .run("web_curate", spark, Some(warcs), RunOptions(orderedConcat = false))
      .agg(count(lit(1)).as("rows"), sum(col("n_chars")).as("chars"))
      .head()
    val curRows = rc.getLong(0)
    val curDt = (System.nanoTime() - tc0) / 1e9
    val curExp = n - (n / 20 - 1)
    val curOk = if (curRows == curExp) "" else s"  ROWS MISMATCH (expected $curExp)"
    println(f"[engine-soak] web_curate     $curDt%8.2f s   rows=$curRows%,d   " +
      f"(${curDt * 1e9 / n}%.0f ns/doc)$curOk")
    graft.ops.CacheUtils.releaseAll(spark)
    if (!teeOk) sys.error(s"map-tee persist failed to mask recomputation: " +
      s"$computed source rows computed for $n-doc input")
    spark.stop()
  }
}
