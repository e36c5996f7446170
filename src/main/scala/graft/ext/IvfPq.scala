package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{IvfAdcModel, IvfCells, IvfPqAdc, PqCodes}
import graft.sources.IndexTables

/** IVFADC — inverted file + residual product quantization (Jégou et al.,
  * TPAMI 2011 §IV; the FAISS `IVFx,PQy` layout): THE standard serve
  * layout for a web-scale embedding corpus, composing the repo's two
  * vector index families.
  *
  *  - IVF prunes WHICH vectors a query scores: the codes table is
  *    partitioned by coarse cell, a probe reads `nprobe` of `k`
  *    directories ([[Similarity.writeIvfIndex]]'s pruning, inherited).
  *  - PQ shrinks WHAT each scored vector costs: 12 bytes/vector
  *    (cell + packed code) instead of 4·dim ([[Pq]]'s compression,
  *    inherited).
  *  - RESIDUAL encoding is what composition adds: the codebooks quantize
  *    x − c(x), whose variance is a fraction of the raw corpus', so the
  *    same code budget reconstructs far closer — measurably higher
  *    recall at equal candidates (PERF.md grid; the paper's ADC vs
  *    IVFADC result).
  *
  * Serve = one map-only codegen'd scan of the probed partitions
  * ([[graft.functions.IvfPqAdc]] — per-query LUTs ride the plan as one
  * reference object), TakeOrdered down to `candidates` ids, then an
  * exact re-rank joining the raw corpus on the broadcast candidate set.
  * With every cell probed and `candidates` ≥ corpus the result provably
  * equals exact brute force — the oracle-checked recall=1 anchors
  * (`q_sim_ivfpq_full`, `q_sim_ivfpq_index`).
  */
object IvfPq {

  /** The trained model: k coarse centroids + m per-subspace residual
    * codebooks. Both are driver artifacts (k·dim + m·codes·dim/m floats)
    * — train once on a corpus SAMPLE, serve forever.
    */
  case class Model(
      centroids: Array[Array[Float]],
      books: Array[Array[Array[Float]]]) {
    def bits: Int = Pq.bitsPerCode(books(0).length)
  }

  private def residCol(embCol: String, cellCol: String, cents: Array[Array[Float]]) =
    IvfPqAdc.cell_residual(col(embCol), col(cellCol), cents.map(_.toSeq).toSeq)

  /** Coarse quantizer via [[Similarity.trainIvfCentroids]], then PQ
    * codebooks on the RESIDUALS (same deterministic Lloyd loop —
    * distributed scans, model-only driver traffic).
    */
  def train(
      embeddings: DataFrame,
      embCol: String,
      cells: Int,
      m: Int,
      codes: Int = 256,
      iters: Int = 3): Model = {
    val cents = Similarity.trainIvfCentroids(embeddings, embCol, cells, iters)
    val resid = Similarity.ivfAssign(embeddings, embCol, cents, "_cell")
      .select(residCol(embCol, "_cell", cents).as("_r"))
    Model(cents, Pq.trainCodebooks(resid, "_r", m, codes, iters))
  }

  /** The index rows: (idCol, cellCol, pq_code) — cell assignment and
    * residual encode fused into one map-only codegen'd scan.
    */
  def encode(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      model: Model,
      cellCol: String = "ivf_cell"): DataFrame =
    withCodes(embeddings, embCol, model, cellCol)
      .select(col(idCol), col(cellCol), col("pq_code"))

  /** [[encode]] without the index projection — every input column kept
    * (measurement tools join recall against the raw vectors).
    */
  def withCodes(
      df: DataFrame,
      embCol: String,
      model: Model,
      cellCol: String = "ivf_cell"): DataFrame =
    Similarity.ivfAssign(df, embCol, model.centroids, cellCol)
      .withColumn("pq_code", PqCodes.pq_encode(
        residCol(embCol, cellCol, model.centroids),
        model.books.map(_.map(_.toSeq).toSeq).toSeq, model.bits))

  /** Driver-built ADC lookup model for `query` over `probeCells` — the
    * LUT algebra [[graft.functions.IvfPqAdc]] documents.
    */
  def adcModel(query: Array[Float], model: Model, probeCells: Array[Int]): IvfAdcModel = {
    val m = model.books.length
    val codes = model.books(0).length
    val sub = query.length / m
    require(sub * m == query.length,
      s"query dim ${query.length} must be divisible by m=$m")
    val cellPos = Array.fill(model.centroids.length)(-1)
    probeCells.zipWithIndex.foreach { case (c, i) => cellPos(c) = i }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val ipBase = probeCells.map(c => dot(query, model.centroids(c)))
    val n2Base = probeCells.map(c => dot(model.centroids(c), model.centroids(c)))
    val lutIp = Array.tabulate(m, codes) { (j, c) =>
      val cw = model.books(j)(c)
      var s = 0.0; var i = 0
      while (i < sub) { s += query(j * sub + i).toDouble * cw(i); i += 1 }
      s
    }
    val lutN2 = probeCells.map { cell =>
      val cent = model.centroids(cell)
      Array.tabulate(m, codes) { (j, c) =>
        val cw = model.books(j)(c)
        var cdot = 0.0; var n2 = 0.0; var i = 0
        while (i < sub) {
          val v = cw(i).toDouble
          cdot += cent(j * sub + i).toDouble * v
          n2 += v * v
          i += 1
        }
        2.0 * cdot + n2
      }
    }
    IvfAdcModel(cellPos, ipBase, n2Base, lutIp, lutN2, model.bits,
      math.sqrt(dot(query, query)))
  }

  /** ADC approximate-cosine scores over the probed cells ONLY: the probe
    * set is a LITERAL `isin`, so a cell-partitioned codes table prunes to
    * `probeCells.length` directories at the scan; scoring is one
    * codegen'd lookup-sum per row over 12-byte rows.
    */
  def adcScores(
      encoded: DataFrame,
      idCol: String,
      model: Model,
      query: Array[Float],
      probeCells: Array[Int],
      cellCol: String = "ivf_cell",
      codeCol: String = "pq_code"): DataFrame =
    encoded
      .filter(col(cellCol).isin(probeCells.map(Integer.valueOf).toIndexedSeq: _*))
      .select(col(idCol),
        IvfPqAdc.ivf_adc_score(col(codeCol), col(cellCol),
          adcModel(query, model, probeCells)).as("score_adc"))

  /** Exact-cosine scores of the ADC top-`candidates` within the `nprobe`
    * nearest cells: stage 1 reads only probed partitions of the codes
    * table, stage 2 is [[Similarity.exactRerank]] (`candidates` raw rows
    * scored, no top-k cut).
    */
  def rerankScores(
      encoded: DataFrame,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      model: Model,
      query: Array[Float],
      nprobe: Int,
      candidates: Int,
      cellCol: String = "ivf_cell"): DataFrame = {
    val probeCells = IvfCells
      .computeCells(query, model.centroids, nprobe).toIntArray()
    Similarity.exactRerank(adcScores(encoded, idCol, model, query, probeCells, cellCol),
      "score_adc", raw, idCol, embCol, query, candidates)
  }

  /** Materialize the IVFADC index as first-class WRITE-ONCE tables: the
    * codes land in `{prefix}_codes` PARTITIONED BY cell (probe-time
    * partition pruning, [[Similarity.writeIvfIndex]]'s layout — including
    * its measured rebalance-before-partitionBy rule), the coarse
    * centroids in `{prefix}_centroids` and the residual codebooks in
    * `{prefix}_codebooks` (the exact shapes [[Similarity.loadIvfCentroids]]
    * and [[Pq.loadCodebooks]] reload). Pass `model` to skip training —
    * the production shape: quantizers trained once on a sample, the full
    * corpus only ever encoded (map-only).
    */
  def writeIvfPqIndex(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      tablePrefix: String,
      cells: Int,
      m: Int,
      codes: Int = 256,
      iters: Int = 3,
      cellCol: String = "ivf_cell",
      basePath: Option[String] = None,
      model: Option[Model] = None): Model = {
    require(model.forall(mm =>
      mm.centroids.length == cells && mm.books.length == m &&
        mm.books.forall(_.length == codes)),
      "pre-trained model must be cells × (m × codes)")
    val mod = model.getOrElse(train(embeddings, embCol, cells, m, codes, iters))
    val idx = IndexTables.Index(tablePrefix, basePath)
    idx.cells("codes", encode(embeddings, idCol, embCol, mod, cellCol), cellCol)
    idx.plain("centroids", Similarity.centroidsDf(embeddings.sparkSession, mod.centroids))
    idx.plain("codebooks", Pq.codebooksDf(embeddings.sparkSession, mod.books))
    mod
  }

  /** Reload a [[writeIvfPqIndex]] model (bit-exact floats — assignment,
    * encode and ADC reproduce exactly).
    */
  def loadModel(spark: SparkSession, tablePrefix: String): Model =
    Model(Similarity.loadIvfCentroids(spark, tablePrefix),
      Pq.loadCodebooks(spark, tablePrefix))

  /** Serve a query from a materialized [[writeIvfPqIndex]] index: probe →
    * ADC over the reloaded, partition-pruned codes table → exact re-rank
    * against `raw`. No retraining, no re-encoding, no corpus shuffle.
    */
  def rerankScoresIndex(
      spark: SparkSession,
      tablePrefix: String,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      query: Array[Float],
      nprobe: Int,
      candidates: Int,
      cellCol: String = "ivf_cell"): DataFrame =
    rerankScores(spark.table(s"${tablePrefix}_codes"), raw, idCol, embCol,
      loadModel(spark, tablePrefix), query, nprobe, candidates, cellCol)
}
