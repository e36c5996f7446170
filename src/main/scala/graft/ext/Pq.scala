package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PqCodes
import graft.sources.IndexTables

/** Product quantization for embedding compression + approximate search
  * (Jégou et al., TPAMI 2011 — the standard 100 TB embedding layout,
  * FAISS's `PQx` family).
  *
  * Why this exists beside IVF: IVF prunes WHICH vectors a query scores
  * (cell directories), PQ shrinks WHAT a scored vector costs. A 64-dim
  * float corpus is 256 B/vector raw; packed PQ codes (m=8 subspaces ×
  * 8-bit codes) are a single BIGINT — 32× less I/O on the scan that
  * dominates query latency. The serve-time shape is:
  *
  *   1. [[trainCodebooks]] once, on a SAMPLE (per-subspace k-means —
  *      same Lloyd loop shape as [[Similarity.trainIvfCentroids]]: one
  *      keyed shuffle of partial sums per iteration, only the
  *      m × codes × dim/m model reaches the driver);
  *   2. [[encode]] the corpus at ingest (map-only codegen'd scan,
  *      [[graft.functions.PqEncode]]) and store the codes table;
  *   3. per query, [[adcScores]] scans ONLY the codes table with two
  *      per-subspace lookup tables (asymmetric distance computation:
  *      ⟨q, x̂⟩ = Σ_j ip[j][code_j], ‖x̂‖² = Σ_j n2[j][code_j] — exact
  *      for the reconstruction because subspaces are orthogonal), built
  *      driver-side from the query and injected as literal arrays into
  *      one whole-stage-codegen'd projection;
  *   4. [[searchRerank]] takes the ADC top-`candidates` (TakeOrdered —
  *      only `candidates` rows per partition travel) and re-ranks them
  *      EXACTLY by joining the raw corpus (broadcast of the tiny
  *      candidate-id set — the corpus is scanned map-only, never
  *      shuffled).
  *
  * With `candidates` ≥ corpus size the re-rank provably equals exact
  * brute force (the oracle-checked recall=1 anchor `q_sim_pq_full`);
  * realistic candidate widths carry the measured recall@10 contract in
  * PERF.md (tools/RecallCurve) and PqSpec pins the operating point.
  */
object Pq {

  /** Bits needed to address `codes` codewords (m × this must fit a long). */
  def bitsPerCode(codes: Int): Int = {
    require(codes > 1, "codes must be > 1")
    32 - java.lang.Integer.numberOfLeadingZeros(codes - 1)
  }

  private def checkShape(m: Int, codes: Int, dim: Int): Int = {
    require(m > 0 && dim % m == 0,
      s"embedding dim $dim must be divisible by m=$m subspaces")
    val bits = bitsPerCode(codes)
    require(m * bits <= 64,
      s"m=$m × $bits bits/code exceeds one 64-bit word — lower codes or m")
    bits
  }

  /** Per-subspace k-means codebooks: `result(j)(c)` = codeword c of
    * subspace j (each of length dim/m). Deterministic init (first `codes`
    * vectors by xxhash64 order, sliced per subspace) + fixed Lloyd
    * iterations → the model is a pure function of its inputs, stable
    * across runs and retries. Train on a corpus SAMPLE at scale; empty
    * codes keep their previous codeword (same convention as IVF).
    */
  def trainCodebooks(
      embeddings: DataFrame,
      embCol: String,
      m: Int,
      codes: Int = 256,
      iters: Int = 3): Array[Array[Array[Float]]] = {
    require(iters >= 0, "iters must be >= 0")
    val seed = embeddings
      .select(col(embCol).as("e"))
      .orderBy(xxhash64(col("e")))
      .limit(codes)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(seed.nonEmpty, "cannot train codebooks on an empty corpus")
    val dim = seed(0).length
    val bits = checkShape(m, codes, dim)
    val sub = dim / m
    // short corpora (< codes vectors) wrap the seed — duplicates converge
    // apart under Lloyd or stay unused; assignment ties keep the lowest c
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m, codes)((j, c) =>
        java.util.Arrays.copyOfRange(seed(c % seed.length), j * sub, (j + 1) * sub))
    for (_ <- 0 until iters) {
      val enc = embeddings.select(
        PqCodes.pq_encode(col(embCol), books.map(_.map(_.toSeq).toSeq).toSeq, bits).as("_pk"),
        col(embCol).as("_e"))
      val codeArr = array((0 until m).map(j =>
        (shiftright(col("_pk"), j * bits).bitwiseAND(lit((1L << bits) - 1))).cast("int")): _*)
      val means = enc
        .select(posexplode(codeArr).as(Seq("j", "c")), col("_e"))
        .select(col("j"), col("c"),
          posexplode(slice(col("_e"), col("j") * sub + 1, lit(sub))).as(Seq("pos", "v")))
        .groupBy("j", "c", "pos")
        .agg(avg(col("v")).as("mean"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      books = next
    }
    books
  }

  /** Map-only codegen'd encode: adds the packed BIGINT code column. */
  def encode(
      df: DataFrame,
      embCol: String,
      books: Array[Array[Array[Float]]],
      codeCol: String = "pq_code"): DataFrame = {
    val bits = bitsPerCode(books(0).length)
    df.withColumn(codeCol,
      PqCodes.pq_encode(col(embCol), books.map(_.map(_.toSeq).toSeq).toSeq, bits))
  }

  /** ADC approximate-cosine scores from the codes table alone — the raw
    * corpus is not touched. Two driver-built lookup tables become literal
    * arrays in ONE codegen'd projection; the scan moves 8 bytes/vector.
    */
  def adcScores(
      encoded: DataFrame,
      idCol: String,
      codeCol: String,
      books: Array[Array[Array[Float]]],
      query: Array[Float]): DataFrame = {
    val m = books.length
    val codes = books(0).length
    val bits = checkShape(m, codes, query.length)
    val sub = query.length / m
    val qNorm = math.sqrt(query.map(v => v.toDouble * v).sum)
    // ip(j)(c) = ⟨q_j, codeword⟩ ; n2(j)(c) = ‖codeword‖²
    val ip = Array.tabulate(m, codes) { (j, c) =>
      var s = 0.0; var i = 0
      while (i < sub) { s += query(j * sub + i).toDouble * books(j)(c)(i); i += 1 }
      s
    }
    val n2 = Array.tabulate(m, codes) { (j, c) =>
      var s = 0.0; var i = 0
      while (i < sub) { val v = books(j)(c)(i).toDouble; s += v * v; i += 1 }
      s
    }
    def lutTerm(lut: Array[Array[Double]], j: Int): Column =
      element_at(array(lut(j).map(lit(_)): _*),
        (shiftright(col(codeCol), j * bits).bitwiseAND(lit((1L << bits) - 1))).cast("int") + 1)
    val sumIp = (0 until m).map(lutTerm(ip, _)).reduce(_ + _)
    val sumN2 = (0 until m).map(lutTerm(n2, _)).reduce(_ + _)
    val score =
      if (qNorm == 0.0) lit(0.0)
      else when(sumN2 > 0.0, sumIp / (sqrt(sumN2) * qNorm)).otherwise(lit(0.0))
    encoded.select(col(idCol), score.as("score_adc"))
  }

  /** Exact-cosine scores of the ADC top-`candidates`: the two-stage serve
    * path. Stage 1 never reads the raw corpus; stage 2 is
    * [[Similarity.exactRerank]] (broadcast candidate-id join, `candidates`
    * rows scored, no top-k cut — callers typically
    * `round(score) → orderBy → limit(k)`).
    */
  def rerankScores(
      encoded: DataFrame,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      codeCol: String,
      books: Array[Array[Array[Float]]],
      query: Array[Float],
      candidates: Int): DataFrame =
    Similarity.exactRerank(adcScores(encoded, idCol, codeCol, books, query),
      "score_adc", raw, idCol, embCol, query, candidates)

  /** ADC-then-rerank top-k (raw-score ranking form of [[rerankScores]]). */
  def searchRerank(
      encoded: DataFrame,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      codeCol: String,
      books: Array[Array[Array[Float]]],
      query: Array[Float],
      k: Int,
      candidates: Int): DataFrame =
    rerankScores(encoded, raw, idCol, embCol, codeCol, books, query, candidates)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Materialize the PQ index as first-class WRITE-ONCE tables — the
    * compression sibling of [[Similarity.writeIvfIndex]]: the corpus'
    * packed codes land in `{prefix}_codes` (idCol, BIGINT — the 8-byte
    * scan table), the trained model in `{prefix}_codebooks`
    * (subspace, code, codeword), so a later session reloads with
    * [[loadCodebooks]] and serves queries without retraining or
    * re-encoding. Pass `books` to skip training (the production shape:
    * quantizer trained once on a sample, full corpus only encoded).
    */
  def writePqIndex(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      tablePrefix: String,
      m: Int,
      codes: Int = 256,
      iters: Int = 3,
      basePath: Option[String] = None,
      books: Option[Array[Array[Array[Float]]]] = None): Array[Array[Array[Float]]] = {
    require(books.forall(b => b.length == m && b.forall(_.length == codes)),
      "pre-trained codebooks must be m × codes")
    val model = books.getOrElse(trainCodebooks(embeddings, embCol, m, codes, iters))
    val idx = IndexTables.Index(tablePrefix, basePath)
    idx.plain("codes", encode(embeddings, embCol, model).select(idCol, "pq_code"))
    idx.plain("codebooks", codebooksDf(embeddings.sparkSession, model))
    model
  }

  /** The `_codebooks` table of a PQ index: (subspace, code, codeword), the
    * shape [[loadCodebooks]] reloads.
    */
  private[ext] def codebooksDf(
      spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (bj, j) =>
      bj.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toSeq.toDF("subspace", "code", "codeword")
  }

  /** Reload a [[writePqIndex]] model (bit-exact floats — encode and ADC
    * reproduce exactly; m and codes come back from the table shape).
    */
  def loadCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Array[Array[Array[Float]]] = {
    val rows = spark.table(s"${tablePrefix}_codebooks")
      .orderBy("subspace", "code").collect()
    val m = rows.map(_.getInt(0)).max + 1
    rows.grouped(rows.length / m)
      .map(_.map(_.getSeq[Float](2).toArray).toArray).toArray
  }

  /** Serve a query from a materialized [[writePqIndex]] index: ADC over
    * the reloaded codes table, exact re-rank against `raw` (no top-k cut —
    * the [[rerankScores]] contract).
    */
  def rerankScoresIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      query: Array[Float],
      candidates: Int): DataFrame =
    rerankScores(spark.table(s"${tablePrefix}_codes"), raw, idCol, embCol,
      "pq_code", loadCodebooks(spark, tablePrefix), query, candidates)
}
