package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Sq8, Sq8Model}
import graft.sources.IndexTables

/** 8-bit scalar-quantized embedding storage + approximate search — the
  * simple point on the compression curve (FAISS's `SQ8`): 4× smaller
  * scans with near-exact recall, against [[Pq]]'s 32×-but-lossier codes.
  * When a corpus' serve tier can afford dim bytes/vector, SQ8's ADC is
  * usually recall-indistinguishable from exact search at rerank widths
  * PQ needs to be careful about (PERF.md grid).
  *
  * Same three-stage shape as the PQ family: train bounds once (one
  * distributed min/max agg — per-dimension [lo, hi] over the corpus, a
  * 2·dim-float driver artifact), encode at ingest (map-only codegen'd
  * scan → BinaryType codes column), serve by scanning ONLY the codes
  * (one fused multiply-add loop per row, [[graft.functions.Sq8]]) and
  * exactly re-ranking the top candidates via broadcast-id join.
  */
object Sq {

  /** Per-dimension [lo, hi] corpus bounds: one keyed min/max aggregation
    * (map-side combined to `dim` groups — shuffle traffic is model-sized,
    * not data-sized).
    */
  def trainBounds(
      embeddings: DataFrame,
      embCol: String): (Array[Float], Array[Float]) = {
    val rows = embeddings
      .select(posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
    require(rows.nonEmpty, "cannot train SQ8 bounds on an empty corpus")
    val dim = rows.map(_.getInt(0)).max + 1
    val lo = new Array[Float](dim)
    val hi = new Array[Float](dim)
    rows.foreach { r => lo(r.getInt(0)) = r.getFloat(1); hi(r.getInt(0)) = r.getFloat(2) }
    (lo, hi)
  }

  /** Map-only codegen'd encode: adds the dim-byte BinaryType code column. */
  def encode(
      df: DataFrame,
      embCol: String,
      lo: Array[Float],
      hi: Array[Float],
      codeCol: String = "sq_code"): DataFrame =
    df.withColumn(codeCol,
      Sq8.sq8_encode(col(embCol), lo.toIndexedSeq, hi.toIndexedSeq))

  /** Driver-built scoring model for `query` against trained bounds. */
  def model(query: Array[Float], lo: Array[Float], hi: Array[Float]): Sq8Model = {
    val dim = lo.length
    val loD = new Array[Double](dim)
    val step = new Array[Double](dim)
    val q = new Array[Double](dim)
    var qn = 0.0
    var i = 0
    while (i < dim) {
      loD(i) = lo(i)
      step(i) = if (hi(i) > lo(i)) (hi(i).toDouble - lo(i)) / 255.0 else 0.0
      q(i) = if (i < query.length) query(i) else 0.0
      qn += q(i) * q(i)
      i += 1
    }
    Sq8Model(loD, step, q, math.sqrt(qn))
  }

  /** Approximate-cosine scores from the codes column alone (map-only; the
    * raw embedding column is never read — plan-proven in SqSpec).
    */
  def adcScores(
      encoded: DataFrame,
      idCol: String,
      lo: Array[Float],
      hi: Array[Float],
      query: Array[Float],
      codeCol: String = "sq_code"): DataFrame =
    encoded.select(col(idCol),
      Sq8.sq8_score(col(codeCol), model(query, lo, hi)).as("score_sq"))

  /** Exact-cosine scores of the SQ8 top-`candidates` — the serve path:
    * stage 1 scans dim-byte codes, stage 2 is [[Similarity.exactRerank]]
    * (`candidates` raw rows scored, no top-k cut).
    */
  def rerankScores(
      encoded: DataFrame,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      lo: Array[Float],
      hi: Array[Float],
      query: Array[Float],
      candidates: Int,
      codeCol: String = "sq_code"): DataFrame =
    Similarity.exactRerank(adcScores(encoded, idCol, lo, hi, query, codeCol),
      "score_sq", raw, idCol, embCol, query, candidates)

  /** Materialize the SQ8 index as WRITE-ONCE tables ([[Pq.writePqIndex]]
    * sibling): codes in `{prefix}_codes` (idCol, dim-byte binary), bounds
    * in `{prefix}_bounds` (pos, lo, hi). Pass `bounds` to skip training.
    */
  def writeSqIndex(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      tablePrefix: String,
      basePath: Option[String] = None,
      bounds: Option[(Array[Float], Array[Float])] = None): (Array[Float], Array[Float]) = {
    val (lo, hi) = bounds.getOrElse(trainBounds(embeddings, embCol))
    val idx = IndexTables.Index(tablePrefix, basePath)
    idx.plain("codes", encode(embeddings, embCol, lo, hi).select(idCol, "sq_code"))
    val spark = embeddings.sparkSession
    import spark.implicits._
    idx.plain("bounds", lo.indices.map(i => (i, lo(i), hi(i))).toDF("pos", "lo", "hi"))
    (lo, hi)
  }

  /** Reload [[writeSqIndex]] bounds (bit-exact floats). */
  def loadBounds(
      spark: SparkSession,
      tablePrefix: String): (Array[Float], Array[Float]) = {
    val rows = spark.table(s"${tablePrefix}_bounds").orderBy("pos").collect()
    (rows.map(_.getFloat(1)), rows.map(_.getFloat(2)))
  }

  /** Serve a query from a materialized [[writeSqIndex]] index. */
  def rerankScoresIndex(
      spark: SparkSession,
      tablePrefix: String,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      query: Array[Float],
      candidates: Int): DataFrame = {
    val (lo, hi) = loadBounds(spark, tablePrefix)
    rerankScores(spark.table(s"${tablePrefix}_codes"), raw, idCol, embCol,
      lo, hi, query, candidates)
  }
}
