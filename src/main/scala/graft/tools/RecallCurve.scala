package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Pq, Similarity}

/** Measured recall@k for the approximate similarity paths — the accuracy
  * contract behind the ANN/IVF operators: a recall curve over
  * (numPlanes, probeRadius) for the hyperplane-LSH path and (k, nprobe)
  * for the IVF path, against exact brute-force ground truth on a
  * synthetic clustered corpus (the ScaleSoak pattern: every vector is a
  * pure function of its row id — cluster center + noise, unit-norm — so
  * runs are deterministic and the near-neighbor structure is real, which
  * uniform random vectors at dim 64 would not be).
  *
  * All measurement passes are single-plan: the query set is a broadcast
  * Q-row table cross-joined into the corpus scan, candidates filtered by
  * the method's probe predicate, and per-query top-k taken by a
  * rank-over-qid window (WindowGroupLimit pushdown). Recall@k =
  * |method ∩ truth| / k averaged over queries; `cand` is the fraction of
  * the corpus scored per query — the cost the probe parameters buy
  * recall with.
  *
  * Usage: runMain graft.tools.RecallCurve [numVectors] [numQueries] [dim]
  */
object RecallCurve {

  def corpus(
      spark: SparkSession,
      n: Long,
      dim: Int,
      clusters: Int,
      noise: Double = 0.8): DataFrame = {
    val base = spark.range(0, n, 1, 64)
    base
      .withColumn("c", pmod(hash(col("id")), lit(clusters)))
      // center(c, i) in [-1, 1) + noise·jitter(id, i): `noise` sets the
      // data regime — 0.35 is tight clusters (every method saturates),
      // the 0.8 default is clustered-but-boundary-heavy so
      // nprobe/probeRadius actually trade recall for candidates. The
      // regime matters more than any parameter: SimilaritySpec pins
      // operating points per regime, including the weakly-structured
      // real test corpus.
      .withColumn("embedding", expr(
        """transform(sequence(1, DIM),
             i -> cast((pmod(hash(c, i, 7), 2000) / 1000.0 - 1.0)
                     + NOISE * (pmod(hash(id, i, 13), 2000) / 1000.0 - 1.0) as float))"""
          .replace("DIM", dim.toString)
          .replace("NOISE", noise.toString)))
      .withColumn("_norm", sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x * x)))
      .withColumn("embedding",
        transform(col("embedding"), x => (x / col("_norm")).cast("float")))
      .select(col("id").as("vec_id"), col("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val numQueries = args.lift(1).map(_.toInt).getOrElse(20)
    val dim = args.lift(2).map(_.toInt).getOrElse(64)
    // optional 4th arg: comma-separated section filter (ann,pq,ivf,ivfpq)
    val sections = args.lift(3).map(_.split(',').toSet)
    def section(s: String): Boolean = sections.forall(_.contains(s))
    val k = 10
    val spark = Harness.session(32, 64)
    import spark.implicits._

    // materialized like a real corpus (scans from disk, not a cached range)
    val emb = Harness.materialize(spark, s"/tmp/graft_recall_${n}_$dim") {
      corpus(spark, n, dim, clusters = 256)
    }
    // held-out queries: same generator, ids past the corpus end
    val queries = corpus(spark, n + numQueries, dim, clusters = 256)
      .filter(col("vec_id") >= n)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .collect()
    val queryDf = broadcast(
      queries.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .toDF("qid", "qvec"))

    def topK(scored: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("_r", row_number().over(w)).filter(col("_r") <= k)
        .select("qid", "vec_id")
    }
    def scoreAll(filtered: DataFrame): DataFrame =
      filtered.select(col("qid"), col("vec_id"),
        graft.functions.functions
          .cosine_similarity(col("embedding"), col("qvec")).as("score"))

    def measure(name: String, candidates: DataFrame, truth: DataFrame): Unit = {
      val cand = candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = Harness.step(spark) {
        (cand.count(), topK(scoreAll(cand)).join(truth, Seq("qid", "vec_id")).count())
      }
      val (nCand, hits) = s.value
      val recall = hits.toDouble / (queries.length.toLong * k)
      val candFrac = nCand.toDouble / (n.toDouble * queries.length)
      s.report("recall", name, f"recall@$k=$recall%.3f cand=$candFrac%.4f")
      cand.unpersist(blocking = false)
    }

    val all = emb.crossJoin(queryDf)
    val truth = topK(scoreAll(all))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Harness.step(spark)(truth.count()).report("recall", "brute-force ground truth")

    // --- hyperplane LSH: (numPlanes, probeRadius) grid -------------------
    if (section("ann")) for (planes <- Seq(8, 12, 16); radius <- Seq(0, 1, 2)) {
      val hp = Similarity.hyperplanes(planes, dim)
      val cand = emb
        .withColumn("_bucket", Similarity.lshBucket(col("embedding"), hp))
        .crossJoin(queryDf.withColumn("_qbucket", Similarity.lshBucket(col("qvec"), hp)))
        .filter(bit_count(col("_bucket").bitwiseXOR(col("_qbucket"))) <= radius)
      measure(s"ann planes=$planes radius=$radius", cand, truth)
    }

    // --- PQ: (m, codes, candidates) grid --------------------------------
    // ADC ranking ≡ cosine against the reconstruction x̂ (the LUT sums ARE
    // ⟨q,x̂⟩ and ‖x̂‖², exactly), so the multi-query measurement scores
    // reconstructions in ONE plan instead of 20 per-query LUT scans; the
    // serve path's recall@k is |ADC-top-C ∩ truth@k| / k after the exact
    // re-rank, which measure() performs on the candidate rows.
    if (section("pq")) for ((m, codes) <- Seq((8, 256), (16, 16))) {
      // quantizer trained on a ~1/13 sample — the production shape
      val books = Pq.trainCodebooks(
        emb.filter(pmod(col("vec_id"), lit(13)) === 0), "embedding", m, codes, iters = 2)
      val bits = Pq.bitsPerCode(codes)
      val sub = dim / m
      val bookLit = (j: Int) => array(books(j).map(cw => array(cw.map(lit): _*)): _*)
      val recCol = flatten(array((0 until m).map { j =>
        element_at(bookLit(j),
          (shiftright(col("pq_code"), j * bits).bitwiseAND(lit((1L << bits) - 1))).cast("int") + 1)
      }: _*))
      val scored = Pq.encode(emb, "embedding", books)
        .withColumn("_rec", recCol)
        .crossJoin(queryDf)
        .select(col("vec_id"), col("embedding"), col("qid"), col("qvec"),
          graft.functions.functions
            .cosine_similarity(col("_rec"), col("qvec")).as("_adc"))
      for (c <- Seq(100, 1000, 10000)) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("_adc").desc, col("vec_id"))
        val cand = scored.withColumn("_r", row_number().over(w))
          .filter(col("_r") <= c)
          .select("qid", "vec_id", "embedding", "qvec")
        measure(s"pq m=$m codes=$codes cand=$c", cand, truth)
      }
    }

    // --- IVF: (cells, nprobe) grid --------------------------------------
    if (section("ivf")) for (cells <- Seq(64, 256)) {
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", cells, iters = 2)
      val cs = centroids.map(_.toSeq).toSeq
      val assigned = Similarity.ivfAssign(emb, "embedding", centroids, "_cell")
      for (nprobe <- Seq(1, 2, 4, 8)) {
        val cand = assigned
          .crossJoin(queryDf.withColumn("_qcells",
            graft.functions.IvfCells.nearest_cells(col("qvec"), cs, nprobe)))
          .filter(array_contains(col("_qcells"), col("_cell")))
        measure(s"ivf cells=$cells nprobe=$nprobe", cand, truth)
      }
    }

    // --- SQ8: 8-bit scalar quantization, (candidates) curve --------------
    // per-query serve-path measurement (the Sq8Score expression holds one
    // query's model): 20 map-only byte-code scans + exact re-rank, recall
    // accumulated against the collected ground truth
    if (section("sq")) {
      val (lo, hi) = graft.ext.Sq.trainBounds(
        emb.filter(pmod(col("vec_id"), lit(13)) === 0), "embedding")
      val enc = graft.ext.Sq.encode(emb, "embedding", lo, hi)
        .select("vec_id", "sq_code")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      enc.count()
      val truthMap = truth.collect().groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      val qs = queries.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      for (c <- Seq(20, 100)) {
        val s = Harness.step(spark) {
          qs.map { case (qid, q) =>
            val got = graft.ext.Sq
              .rerankScores(enc, emb, "vec_id", "embedding", lo, hi, q, c)
              .orderBy(col("score").desc, col("vec_id")).limit(k)
              .collect().map(_.getLong(0)).toSet
            (got & truthMap(qid)).size
          }.sum
        }
        val recall = s.value.toDouble / (qs.length.toLong * k)
        s.report("recall", s"sq8 cand=$c", f"recall@$k=$recall%.3f cand=${c / n.toDouble}%.4f")
      }
      enc.unpersist(blocking = false)
    }

    // --- IVFADC: residual PQ over coarse cells ---------------------------
    // the composed serve shape (graft.ext.IvfPq): candidates = ADC top-C
    // within the query's nprobe cells, scored against the residual
    // reconstruction c + r̂ — directly comparable to the `pq m=8
    // codes=256` rows (residual advantage at equal code budget) and the
    // `ivf cells=256` rows (what the PQ cut costs below plain IVF).
    if (section("ivfpq")) for ((cells, m, codes) <- Seq((256, 8, 256))) {
      val model = graft.ext.IvfPq.train(
        emb.filter(pmod(col("vec_id"), lit(13)) === 0), "embedding",
        cells, m, codes, iters = 2)
      val bits = model.bits
      val sub = dim / m
      val bookLit = (j: Int) =>
        array(model.books(j).map(cw => array(cw.map(lit): _*)): _*)
      val residRec = flatten(array((0 until m).map { j =>
        element_at(bookLit(j),
          (shiftright(col("pq_code"), j * bits).bitwiseAND(lit((1L << bits) - 1))).cast("int") + 1)
      }: _*))
      val centLit = array(model.centroids.map(c => array(c.map(lit): _*)): _*)
      val recCol = zip_with(
        element_at(centLit, col("_cell") + 1), residRec, (a, b) => a + b)
      val cs = model.centroids.map(_.toSeq).toSeq
      val scored = graft.ext.IvfPq.withCodes(emb, "embedding", model, "_cell")
        .withColumn("_rec", recCol)
        .crossJoin(queryDf.withColumn("_qcells",
          graft.functions.IvfCells.nearest_cells(col("qvec"), cs, 8)))
        .select(col("vec_id"), col("embedding"), col("qid"), col("qvec"),
          col("_cell"), col("_qcells"),
          graft.functions.functions
            .cosine_similarity(col("_rec"), col("qvec")).as("_adc"))
      for (nprobe <- Seq(4, 8); c <- Seq(100, 1000)) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("_adc").desc, col("vec_id"))
        val cand = scored
          .filter(array_contains(slice(col("_qcells"), 1, nprobe), col("_cell")))
          .withColumn("_r", row_number().over(w))
          .filter(col("_r") <= c)
          .select("qid", "vec_id", "embedding", "qvec")
        measure(s"ivfpq m=$m nprobe=$nprobe cand=$c", cand, truth)
      }
    }
    spark.stop()
  }
}
