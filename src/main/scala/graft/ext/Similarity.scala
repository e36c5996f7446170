package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{functions => gf}
import graft.sources.IndexTables
import scala.util.Random

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, as a training-data pipeline needs at 100 TB:
  *   - brute-force top-k: a map-only scan scoring every vector with the
  *     codegen'd [[graft.functions.CosineSimilarity]] expression, finished
  *     by TakeOrdered(k) — no shuffle of the corpus, only k rows per
  *     partition travel to the driver-side merge;
  *   - LSH-bucketed ANN: random-hyperplane signatures put vectors into
  *     buckets; queries probe only matching buckets (multi-probe on nearby
  *     buckets for recall). The bucket id is a plain column, so the bucket
  *     scan is a pushed-down equality filter — at scale, bucket-partitioned
  *     parquet turns this into partition pruning.
  */
object Similarity {

  /** Deterministic random hyperplanes (seeded — stable across runs/nodes). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new Random(seed)
    Array.fill(numPlanes, dim)((rnd.nextGaussian()).toFloat)
  }

  private def planeCol(plane: Array[Float]): Column =
    array(plane.map(v => lit(v)): _*)

  /** Sign-bit LSH bucket id for an embedding column. */
  def lshBucket(embedding: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(gf.dot_product(embedding, planeCol(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Brute-force cosine top-k against one query vector. */
  def bruteForceTopK(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      query: Array[Float],
      k: Int): DataFrame =
    embeddings
      .select(col(idCol),
        gf.cosine_similarity(col(embCol), planeCol(query)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Brute-force cosine scores where the query vector is a ONE-ROW
    * DataFrame instead of a driver-side array: the query is broadcast
    * into a nested-loop join with a single build row, so the whole
    * operator is ONE lazy plan — no eager `.head()` job runs when the
    * query is declared. No top-k cut: callers that post-process the score
    * (e.g. rounding for a cross-engine compare) apply their transform
    * BEFORE their own orderBy+limit (still TakeOrdered — k rows per
    * partition), so the selection key is exactly the key they rank by — a
    * raw-score top-k followed by rounding could keep a different row at
    * the k boundary than a rounded-score top-k when raw scores differ but
    * round equal.
    */
  def bruteForceScoresLazy(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      query: DataFrame,
      queryEmbCol: String): DataFrame = {
    val q = broadcast(query.select(col(queryEmbCol).as("_qvec")))
    embeddings
      .crossJoin(q)
      .select(col(idCol), gf.cosine_similarity(col(embCol), col("_qvec")).as("score"))
  }

  /** Contrastive-training mining sets for one anchor: the top `posK`
    * vectors by cosine are the POSITIVES, the next `hardK` are the HARD
    * NEGATIVES (similar-but-not-matching — the band that makes contrastive
    * losses learn), and `randK` RANDOM NEGATIVES are drawn from the rest
    * by content-addressed md5 order (deterministic across runs, engines,
    * and partitionings — no rand()). Scores are rounded to 6 places
    * BEFORE ranking so the band boundaries are engine-portable.
    *
    * Scale shape: one map-only scoring scan (broadcast one-row query, the
    * [[bruteForceScoresLazy]] kernel); the positive/hard band is a single
    * TakeOrdered of posK+hardK rows; the random negatives are a second
    * TakeOrdered keyed by md5 after a broadcast anti-join against the
    * (tiny) band — the corpus is never shuffled, only scanned.
    */
  def miningSets(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      query: DataFrame,
      queryEmbCol: String,
      posK: Int,
      hardK: Int,
      randK: Int): DataFrame = {
    val scores = bruteForceScoresLazy(embeddings, idCol, embCol, query, queryEmbCol)
      .select(col(idCol), round(col("score"), 6).as("score"))
    val band = scores.orderBy(col("score").desc, col(idCol)).limit(posK + hardK)
    // rank window over the posK+hardK survivors only — bounded by the band
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol))
    val ranked = band.withColumn("rank", row_number().over(w).cast("long"))
    val positives = ranked.filter(col("rank") <= posK)
      .withColumn("role", lit("positive"))
    val hard = ranked.filter(col("rank") > posK)
      .withColumn("role", lit("hard_negative"))
    val rest = scores.join(broadcast(band.select(idCol)), Seq(idCol), "left_anti")
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(randK)
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val rand = rest.withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("role", lit("random_negative"))
    positives.unionByName(hard).unionByName(rand)
      .select(col("role"), col("rank"), col(idCol), col("score"))
  }

  /** ANN top-k with a one-row DataFrame query: the query row carries its
    * own LSH bucket, and the corpus keeps rows within `probeRadius` bucket
    * bits of it (bit_count(xor) ≤ r ≡ the multi-probe bucket set; radius 1
    * probes the query's bucket plus every bucket at Hamming distance 1).
    * Every corpus row's bucket is computed in the scan, so the probe is a
    * join-side filter that saves scoring, not reading.
    */
  def annTopKLazy(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      query: DataFrame,
      queryEmbCol: String,
      k: Int,
      dim: Int,
      numPlanes: Int = 8,
      seed: Long = 42L,
      probeRadius: Int = 1): DataFrame =
    annScoresLazy(embeddings, idCol, embCol, query, queryEmbCol, dim,
        numPlanes, seed, probeRadius)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Probe-and-score form of [[annTopKLazy]] with no top-k cut (see
    * [[bruteForceScoresLazy]] for why callers that transform the score
    * want to rank after the transform).
    */
  def annScoresLazy(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      query: DataFrame,
      queryEmbCol: String,
      dim: Int,
      numPlanes: Int = 8,
      seed: Long = 42L,
      probeRadius: Int = 1): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val q = broadcast(query.select(
      col(queryEmbCol).as("_qvec"),
      lshBucket(col(queryEmbCol), planes).as("_qbucket")))
    embeddings
      .withColumn("_bucket", lshBucket(col(embCol), planes))
      .crossJoin(q)
      .filter(bit_count(col("_bucket").bitwiseXOR(col("_qbucket"))) <= probeRadius)
      .select(col(idCol), gf.cosine_similarity(col(embCol), col("_qvec")).as("score"))
  }

  /** Exact-cosine scores of the `candidates` best rows of `approx` by its
    * approximate score `approxCol` — the second stage of every compressed
    * serve path ([[Pq]], [[IvfPq]], [[Sq]]). The cut is by approximate
    * score desc then id (TakeOrdered: only `candidates` rows per partition
    * travel); the candidate ids join `raw` as a broadcast, so the raw
    * corpus is scanned map-only, never shuffled, and exactly `candidates`
    * raw rows are scored. No top-k cut here: callers rank after their own
    * transform (see [[bruteForceScoresLazy]] for why).
    */
  def exactRerank(
      approx: DataFrame,
      approxCol: String,
      raw: DataFrame,
      idCol: String,
      embCol: String,
      query: Array[Float],
      candidates: Int): DataFrame = {
    val cand = approx
      .orderBy(col(approxCol).desc, col(idCol))
      .limit(candidates)
      .select(idCol)
    raw.join(broadcast(cand), idCol)
      .select(col(idCol), gf.cosine_similarity(col(embCol), planeCol(query)).as("score"))
  }

  // ------------------------------------------------------------------ IVF

  /** Train an IVF coarse quantizer: k centroids by Lloyd's iterations,
    * expressed as DataFrame ops so every pass is a distributed scan:
    * assignment is the codegen'd [[graft.functions.IvfCells]] argmax over
    * the broadcast centroid matrix (map-only), and the re-estimation is
    * one keyed shuffle of (cell, dim) partial sums. Only the k×dim model
    * ever reaches the driver — the classic MLlib-style training shape.
    *
    * Initialization is deterministic (first k vectors by xxhash64 order),
    * so trained models are stable across runs and retries.
    */
  def trainIvfCentroids(
      embeddings: DataFrame,
      embCol: String,
      k: Int,
      iters: Int = 3): Array[Array[Float]] = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    var cents: Array[Array[Float]] = embeddings
      .select(col(embCol).as("e"))
      .orderBy(xxhash64(col("e")))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    for (_ <- 0 until iters) {
      val means = lloydMeans(embeddings, embCol, cents).collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      cents = next // empty cells keep their previous centroid
    }
    cents
  }

  /** One Lloyd pass's per-(cell, pos) means. The cell is assigned in a
    * projection below the explode: selected next to `posexplode`, Catalyst
    * evaluates it above the Generate, once per dimension instead of once
    * per vector.
    */
  private[ext] def lloydMeans(
      embeddings: DataFrame,
      embCol: String,
      cents: Array[Array[Float]]): DataFrame =
    embeddings
      .select(graft.functions.IvfCells
        .nearest_cell(col(embCol), cents.map(_.toSeq).toSeq).as("cell"), col(embCol).as("e"))
      .select(col("cell"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg((sum(col("v")) / count(lit(1))).as("mean"))

  /** Cell assignment — the IVF WRITE path. At scale, assign at ingest and
    * `partitionBy(cellCol)` the stored corpus: searches then prune to the
    * probed cells' partitions at the parquet scan.
    */
  def ivfAssign(
      embeddings: DataFrame,
      embCol: String,
      centroids: Array[Array[Float]],
      cellCol: String = "ivf_cell"): DataFrame =
    embeddings.withColumn(cellCol,
      graft.functions.IvfCells.nearest_cell(col(embCol), centroids.map(_.toSeq).toSeq))

  /** Materialize the IVF index as first-class WRITE-ONCE tables — the
    * vector sibling of [[graft.ext.Dedup.writeBandIndex]]: the corpus is
    * written `partitionBy(cellCol)` (one directory per coarse cell), and
    * the trained centroids land in a `_centroids` table beside it, so the
    * index is self-contained — a later session reloads the model with
    * [[loadIvfCentroids]] and searches with [[ivfSearchIndex]] without
    * retraining or re-assigning anything. Every subsequent probed search
    * reads ONLY the probed cells' directories (partition pruning at the
    * scan, plan-proven in SimilaritySpec); the corpus is never re-scored
    * or re-shuffled per query.
    *
    * `basePath` places the table data outside the warehouse (external
    * table) — e.g. the curated-dataset prefix on object storage; None
    * writes managed tables. Returns the trained centroids so the writing
    * session can search immediately. Pass `centroids` to skip training —
    * the production shape at scale, where the quantizer is trained once
    * on a corpus SAMPLE and the full corpus is only ever assigned.
    */
  def writeIvfIndex(
      embeddings: DataFrame,
      embCol: String,
      tablePrefix: String,
      k: Int,
      iters: Int = 3,
      cellCol: String = "ivf_cell",
      basePath: Option[String] = None,
      centroids: Option[Array[Array[Float]]] = None): Array[Array[Float]] = {
    require(centroids.forall(_.length == k),
      "pre-trained centroids must have exactly k cells")
    val cents = centroids.getOrElse(trainIvfCentroids(embeddings, embCol, k, iters))
    val idx = IndexTables.Index(tablePrefix, basePath)
    idx.cells("cells", ivfAssign(embeddings, embCol, cents, cellCol), cellCol)
    idx.plain("centroids", centroidsDf(embeddings.sparkSession, cents))
    cents
  }

  /** The `_centroids` table of an IVF index: (cell, centroid), the shape
    * [[loadIvfCentroids]] reloads.
    */
  private[ext] def centroidsDf(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Index MAINTENANCE: append a new vector batch to a materialized
    * [[writeIvfIndex]] index without retraining or rewriting — the
    * continuous-ingest shape (daily embedding batches landing in a
    * serving index). The batch is assigned with the RELOADED centroid
    * artifact (quantizer frozen: cell numbering, probe order, and every
    * existing row's placement are untouched) and appended into the
    * cell-partitioned table, so new files land INSIDE the cell
    * directories and partition pruning keeps working unchanged. Only the
    * batch is scanned or shuffled — cost is O(|batch|), independent of
    * index size. [[IndexTables.append]] keeps the initial build's
    * rebalance-before-write rule (writers × cells sliver files would
    * otherwise accumulate per appended batch). Periodic retraining on
    * drifted corpora is a new [[writeIvfIndex]] under a fresh prefix + an
    * atomic swap, deliberately NOT this path.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      embCol: String,
      tablePrefix: String,
      cellCol: String = "ivf_cell"): Unit =
    IndexTables.append(
      ivfAssign(batch, embCol, loadIvfCentroids(spark, tablePrefix), cellCol),
      s"${tablePrefix}_cells")

  /** Reload a [[writeIvfIndex]] model: the k×dim centroid artifact (bit-
    * exact floats — cell assignment and probe order reproduce exactly).
    */
  def loadIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Array[Array[Float]] =
    spark.table(s"${tablePrefix}_centroids")
      .orderBy("cell").collect().map(_.getSeq[Float](1).toArray)

  /** IVF top-k search against a materialized [[writeIvfIndex]] index: the
    * probe set is a LITERAL `isin`, so it prunes the cell-partitioned
    * table at the scan — only `nprobe` of the k cell directories are
    * read. Exact cosine ranks within the probed cells.
    */
  def ivfSearchIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      cellCol: String = "ivf_cell"): DataFrame =
    ivfScoresIndex(spark, tablePrefix, idCol, embCol, query, nprobe, cellCol)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Probe-and-score form of [[ivfSearchIndex]] with no top-k cut (see
    * [[bruteForceScoresLazy]] for why callers that transform or round
    * the score want to rank after the transform).
    */
  def ivfScoresIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      idCol: String,
      embCol: String,
      query: Array[Float],
      nprobe: Int,
      cellCol: String = "ivf_cell"): DataFrame = {
    val cents = loadIvfCentroids(spark, tablePrefix)
    val probeCells = graft.functions.IvfCells
      .computeCells(query, cents, nprobe).toIntArray().toSeq
    spark.table(s"${tablePrefix}_cells")
      .filter(col(cellCol).isin(probeCells: _*))
      .select(col(idCol),
        gf.cosine_similarity(col(embCol), planeCol(query)).as("score"))
  }

  /** IVF top-k search, lazy one-plan form: the query is a one-row
    * DataFrame broadcast into the scan; its probe-cell set is computed by
    * the same codegen'd kernel and the corpus keeps rows whose assigned
    * cell is in it. Every row's cell is computed in the scan, so nothing
    * is pruned at the read; a materialized [[writeIvfIndex]] index
    * searched with [[ivfSearchIndex]] is the form whose literal probe set
    * prunes cell directories.
    */
  def ivfSearchLazy(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      query: DataFrame,
      queryEmbCol: String,
      k: Int,
      centroids: Array[Array[Float]],
      nprobe: Int): DataFrame =
    ivfScoresLazy(embeddings, idCol, embCol, query, queryEmbCol, centroids, nprobe)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Probe-and-score form of [[ivfSearchLazy]] with no top-k cut (see
    * [[bruteForceScoresLazy]] for why callers that transform the score
    * want to rank after the transform).
    */
  def ivfScoresLazy(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      query: DataFrame,
      queryEmbCol: String,
      centroids: Array[Array[Float]],
      nprobe: Int): DataFrame = {
    val cs = centroids.map(_.toSeq).toSeq
    val q = broadcast(query.select(
      col(queryEmbCol).as("_qvec"),
      graft.functions.IvfCells.nearest_cells(col(queryEmbCol), cs, nprobe).as("_qcells")))
    embeddings
      .withColumn("_cell", graft.functions.IvfCells.nearest_cell(col(embCol), cs))
      .crossJoin(q)
      .filter(array_contains(col("_qcells"), col("_cell")))
      .select(col(idCol), gf.cosine_similarity(col(embCol), col("_qvec")).as("score"))
  }

  /** All-pairs near-duplicate detection by embedding cosine: LSH-bucket
    * self-join (never all-pairs), exact cosine verification, threshold.
    */
  def nearDupEmbedding(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      numPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val bucketed = embeddings
      .select(col(idCol), col(embCol), lshBucket(col(embCol), planes).as("_bucket"))
    val a = bucketed.select(col("_bucket"), col(idCol).as("id1"), col(embCol).as("e1"))
    val b = bucketed.select(col("_bucket"), col(idCol).as("id2"), col(embCol).as("e2"))
    a.join(b, "_bucket")
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        gf.cosine_similarity(col("e1"), col("e2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication ("SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", Abbas et al.
    * 2023): within each cell of a coarse partition (a k-means/IVF cell
    * from [[ivfAssign]], or any deterministic grouping column), drop
    * every vector that is cosine-similar (>= threshold) to a lower-id
    * vector in the same cell. The drop rule compares against ALL lower
    * ids — not only survivors — so it is closed-form: one cell-keyed
    * self-join, no iteration, and the result is independent of
    * evaluation order (engine-portable, hence oracle-checkable when the
    * cell column is deterministic).
    *
    * Scale design: the self-join is keyed by cell, so cost is sum over
    * cells of |cell|^2 — bounded by the quantizer's cell-size cap, not
    * corpus size, which is exactly SemDeDup's design point. On a
    * cell-partitioned write layout (the same one IVF search prunes on)
    * the join co-locates shuffle-free, and the anti-join back carries
    * only dropped ids.
    */
  def semanticDedup(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      cellCol: String,
      threshold: Double): DataFrame = {
    val right = embeddings.select(col(cellCol).as("_cell"),
      col(idCol).as("_id2"), col(embCol).as("_e2"))
    val dropped = embeddings
      .select(col(cellCol).as("_cell"), col(idCol), col(embCol))
      .join(right, "_cell")
      .filter(col("_id2") < col(idCol) &&
        gf.cosine_similarity(col(embCol), col("_e2")) >= threshold)
      .select(col(idCol))
      .distinct()
    embeddings.join(dropped, Seq(idCol), "left_anti")
  }

  /** Semantic (embedding-space) decontamination: drop corpus rows whose
    * embedding is within cosine `threshold` of ANY eval-set row — the
    * vector sibling of the n-gram decontamination family
    * ([[graft.ext.TextAnalysis.decontaminate]]), catching paraphrased or
    * reformatted benchmark leakage that exact n-gram matching misses.
    * Eval sets are small by nature (benchmarks), so the eval side
    * BROADCASTS and the corpus is scored in one map-only pass
    * (|corpus| × |eval| codegen'd cosines inside a broadcast nested-loop
    * ANTI join — no corpus shuffle, plan-proven in SimilaritySpec). For
    * an eval set too big to broadcast, assign both sides to cells
    * ([[ivfAssign]]) and run the same drop per cell like
    * [[semanticDedup]] does.
    */
  def decontaminateSemantic(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double): DataFrame =
    corpus.join(broadcast(evalSet.select(col(embCol).as("_eval_emb"))),
      gf.cosine_similarity(col(embCol), col("_eval_emb")) >= threshold,
      "left_anti")

  /** Batch k-NN join: for EVERY vector, its `k` nearest neighbors within
    * its cell (IVF assignment in production — the blocked form of an ANN
    * join; the single-query searches above answer "what matches this
    * probe", this answers "what matches each of a billion rows" in one
    * plan). Scores are rounded to 6 places BEFORE ranking so the kept
    * neighbor at the k boundary is engine-portable; ties break to the
    * smaller neighbor id.
    *
    * Scale shape: one cell-keyed self-join — the only quadratic term is
    * cell-local (the SemDeDup argument: cells stay ~constant size when
    * the cell count grows with the corpus), and the per-vector top-k is
    * a rank-filter window that Spark 4 plans as WindowGroupLimit: every
    * map partition pre-truncates each vector's candidate list to k
    * before the shuffle.
    */
  def knnJoinWithinCells(
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      cellCol: String,
      k: Int): DataFrame = {
    val right = embeddings.select(col(cellCol).as("_cell"),
      col(idCol).as("nn_id"), col(embCol).as("_e2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("nn_id"))
    embeddings
      .select(col(cellCol).as("_cell"), col(idCol), col(embCol))
      .join(right, "_cell")
      .filter(col("nn_id") =!= col(idCol))
      .select(col(idCol), col("nn_id"),
        round(gf.cosine_similarity(col(embCol), col("_e2")), 6).as("score"))
      .withColumn("nn_rank", row_number().over(w).cast("long"))
      .filter(col("nn_rank") <= k)
      .select(col(idCol), col("nn_rank"), col("nn_id"), col("score"))
  }
}
