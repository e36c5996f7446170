package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{functions => gf}
import graft.ops.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine_similarity expression matches a scala-side computation (eval + codegen)") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), gf.cosine_similarity(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
    assert(math.abs(got(3L) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
    assert(got(4L) == 0.0) // zero vector guarded
  }

  test("dot_product expression") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val v = df.select(gf.dot_product(col("a"), col("b"))).head().getDouble(0)
    assert(v == 11.0)
  }

  test("brute-force top-k returns the self-match first on a planted query") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 7L)             // exact self-match, score 1
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("ANN probe set contains the query bucket and recalls the self-match") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 7).select("embedding")
    val top = Similarity.annTopKLazy(emb, "vec_id", "embedding", q, "embedding", 5,
      dim = 64).collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(0) == 7L) // self is always in its own bucket
  }

  test("ANN candidates are a subset of brute-force scores (same scoring)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qRow = emb.filter(col("vec_id") === 3).select("embedding")
    val q = qRow.head().getSeq[Float](0).toArray
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annTopKLazy(emb, "vec_id", "embedding", qRow, "embedding", 10,
      dim = 64).collect()
    ann.foreach(r => assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-12))
  }

  test("nearDupEmbedding verifies pairs above threshold only") {
    val out = Similarity.nearDupEmbedding(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      threshold = 0.25, numPlanes = 4, dim = 64).collect()
    assert(out.forall(_.getDouble(2) >= 0.25))
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("IVF training is deterministic and assigns every vector a valid cell") {
    val emb = Tables.embeddings(spark, sfDir)
    val c1 = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 2)
    val c2 = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 2)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "training must be deterministic")
    val cells = Similarity.ivfAssign(emb, "embedding", c1)
      .select("ivf_cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 4).toSet))
    assert(cells.size > 1, "separable corpus should occupy several cells")
  }

  test("a Lloyd pass assigns each vector once, below the explode, with the same means") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.trainIvfCentroids(emb, "embedding", k = 8, iters = 0)
    val pass = Similarity.lloydMeans(emb, "embedding", cents)
    val plan = pass.queryExecution.executedPlan
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def assigns(p: org.apache.spark.sql.execution.SparkPlan) =
      p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.NearestCell]))
    val gen = Aqe.collect(plan) { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gen.size == 1, plan)
    assert(gen.head.child.exists(assigns), plan)
    assert(Aqe.collect(plan) { case p if assigns(p) => p }.size == 1, plan)
    // the form that selected the cell next to the explode
    val nextToExplode = emb
      .select(graft.functions.IvfCells.nearest_cell(col("embedding"),
        cents.map(_.toSeq).toSeq).as("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg((sum(col("v")) / count(lit(1))).as("mean"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    assert(rows(pass) == rows(nextToExplode))
  }

  test("IVF search with nprobe = k equals brute force exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 2)
    val qRow = emb.filter(col("vec_id") === 7).select("embedding")
    val q = qRow.head().getSeq[Float](0).toArray
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = Similarity.ivfSearchLazy(emb, "vec_id", "embedding", qRow, "embedding", 10,
        centroids, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute, "probing every cell must degrade to exact search")
  }

  test("IVF lazy form recalls the self-match and scores exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", k = 8, iters = 2)
    val q = emb.filter(col("vec_id") === 7).select("embedding")
    val top = Similarity.ivfSearchLazy(
      emb, "vec_id", "embedding", q, "embedding", 5, centroids, nprobe = 3).collect()
    assert(top.nonEmpty)
    // the self-vector's cell is by construction in its own probe set
    assert(top.head.getLong(0) == 7L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("all-NaN probe scores still pick deterministic cells (no crash)") {
    // a NaN component makes every cosine score NaN; NaN > -Inf is false,
    // so the old scan left best = -1 and threw on used(best)
    val cents = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f))
    val nanVec = Array(Float.NaN, 1f)
    val cells = graft.functions.IvfCells
      .computeCells(nanVec, cents, nprobe = 2).toIntArray().toSeq
    assert(cells == Seq(0, 1), "must fall back to lowest unused indices")
    assert(graft.functions.IvfCells.computeCell(nanVec, cents) == 0)
  }

  test("a NaN centroid loses to every real cell, identically in assign and probe") {
    // one degenerate trained centroid (NaN) must not shadow valid cells:
    // NaN scores normalize to -Infinity, so the real argmax wins and the
    // assign path and the probe path agree on it
    val cents = Array(Array(Float.NaN, Float.NaN), Array(1f, 0f), Array(0f, 1f))
    val q = Array(1f, 0f)
    assert(graft.functions.IvfCells.computeCell(q, cents) == 1)
    val probes = graft.functions.IvfCells
      .computeCells(q, cents, nprobe = 2).toIntArray().toSeq
    assert(probes == Seq(1, 2), "NaN cell must be probed last, not first")
  }

  test("cell-partitioned corpus: IVF probe filter prunes partitions at the scan") {
    // The 100 TB story made checkable at sf: assign cells at WRITE time and
    // partitionBy the cell column; a probed search's literal isin filter
    // must then reach the scan as a partition filter, reading only the
    // probed cells' directories — not a post-scan row filter.
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_part").toString
    try {
      Similarity.ivfAssign(emb, "embedding", centroids)
        .write.partitionBy("ivf_cell").mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      val totalCells = corpus.select("ivf_cell").distinct().count()
      assert(totalCells >= 2, "corpus must occupy several cells for the proof to bite")
      val q = emb.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0).toArray
      // nprobe = 1: the strictest pruning case — exactly one cell directory
      val probeCells = graft.functions.IvfCells
        .computeCells(q, centroids, 1).toIntArray().toSeq
      val searched = corpus.filter(col("ivf_cell").isin(probeCells: _*))
      val scan = searched.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan in plan"))
      // the probe predicate must be a PARTITION filter on the cell column —
      // not a post-scan row filter
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "ivf_cell")),
        s"ivf_cell probe must prune partitions; got ${scan.partitionFilters}")
      searched.collect()
      // the scan's own metric: directories actually read < total cells
      val partsRead = scan.metrics("numPartitions").value
      assert(partsRead == probeCells.size.toLong,
        s"read $partsRead partitions, expected exactly ${probeCells.size}")
      assert(partsRead < totalCells, "pruning must skip the unprobed cells")
      // and scoring over the pruned scan still finds the self-match
      val top = searched
        .select(col("vec_id"),
          gf.cosine_similarity(col("embedding"),
            array(q.map(v => lit(v)): _*)).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(3).collect()
      assert(top.head.getLong(0) == 7L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("writeIvfIndex: reloadable centroids, pruned search, full-probe = brute force") {
    // the first-class write-once index API: one call trains + writes the
    // cell-partitioned corpus and the centroid artifact; a (simulated)
    // later session reloads the model bit-exact and searches with
    // partition pruning — the production serve path with no retraining
    val emb = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val prefix = "spec_ivf_idx"
    try {
      val trained = Similarity.writeIvfIndex(emb, "embedding", prefix,
        k = 4, iters = 1, basePath = Some(dir))
      // centroid artifact round-trips bit-exact (floats, cell order)
      val reloaded = Similarity.loadIvfCentroids(spark, prefix)
      assert(reloaded.length == trained.length)
      assert(reloaded.zip(trained).forall { case (a, b) => a.sameElements(b) })
      val q = emb.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0).toArray
      // nprobe = 1: the literal probe set must reach the scan as a
      // PARTITION filter and read exactly one cell directory
      val pruned = Similarity.ivfSearchIndex(spark, prefix,
        "vec_id", "embedding", q, k = 3, nprobe = 1)
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan in plan"))
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "ivf_cell")),
        s"probe must prune partitions; got ${scan.partitionFilters}")
      val top = pruned.collect()
      assert(scan.metrics("numPartitions").value == 1L)
      assert(top.head.getLong(0) == 7L) // self-match survives the pruning
      // full probe (nprobe = k) must return exactly the brute-force answer
      val full = Similarity.ivfSearchIndex(spark, prefix,
          "vec_id", "embedding", q, k = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(full.sameElements(brute))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_cells")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_centroids")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("appendToIvfIndex: batch append ≡ all-at-once build, pruning intact") {
    // continuous ingest: build the index on half the corpus, append the
    // other half through the RELOADED frozen quantizer — the resulting
    // table must be row-identical to building on everything at once with
    // the same centroids (assignment is a pure function of the model),
    // and partition pruning must still read exactly nprobe directories
    val emb = Tables.embeddings(spark, sfDir)
    val dirA = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_ivf_all").toString
    val pA = "spec_ivf_app"
    val pB = "spec_ivf_all"
    try {
      val cents = Similarity.trainIvfCentroids(emb, "embedding", k = 4, iters = 1)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 1), "embedding",
        pA, k = 4, basePath = Some(dirA), centroids = Some(cents))
      Similarity.appendToIvfIndex(spark,
        emb.filter(col("vec_id") % 2 === 0), "embedding", pA)
      Similarity.writeIvfIndex(emb, "embedding",
        pB, k = 4, basePath = Some(dirB), centroids = Some(cents))
      val a = spark.table(s"${pA}_cells").orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(r.length - 1)))
      val b = spark.table(s"${pB}_cells").orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(r.length - 1)))
      assert(a.sameElements(b), "appended index must equal the all-at-once build")
      // an appended-batch vector is findable, and the probe still prunes
      val q = emb.filter(col("vec_id") === 8).select("embedding")
        .head().getSeq[Float](0).toArray
      val pruned = Similarity.ivfSearchIndex(spark, pA,
        "vec_id", "embedding", q, k = 3, nprobe = 1)
      val top = pruned.collect()
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan in plan"))
      assert(scan.metrics("numPartitions").value == 1L)
      assert(top.head.getLong(0) == 8L)
    } finally {
      Seq(pA, pB).foreach { p =>
        spark.sql(s"DROP TABLE IF EXISTS ${p}_cells")
        spark.sql(s"DROP TABLE IF EXISTS ${p}_centroids")
      }
      Seq(dirA, dirB).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("semantic decontamination: near-eval rows drop, one map-only anti-join pass") {
    // corpus vec 1 is nearly parallel to an eval vector (cos ~0.999),
    // vec 2 orthogonal, vec 3 anti-parallel — only vec 1 drops at tau 0.9
    val corpus = Seq(
      (1L, Array(0.99f, 0.14f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val evalSet = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val kept = Similarity.decontaminateSemantic(
      corpus, evalSet, "vec_id", "embedding", threshold = 0.9)
    assert(kept.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // the at-scale contract: eval broadcasts into a nested-loop ANTI join
    // and the corpus is never shuffled
    val plan = kept.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, "corpus must not shuffle")
  }

  test("semantic dedup: within-cell similars drop to the min id, across cells kept") {
    val e1 = Array(1.0f, 0.0f, 0.0f)
    val e2 = Array(0.99f, 0.14f, 0.0f) // cos(e1,e2) ≈ 0.99
    val e3 = Array(0.0f, 1.0f, 0.0f)   // orthogonal to e1
    val emb = Seq(
      (0L, e1, 10), (1L, e1, 10),      // identical, same cell → 1 dropped
      (2L, e2, 10),                    // similar to 0 AND 1 → dropped
      (3L, e3, 10),                    // orthogonal → kept
      (4L, e1, 20)                     // copy of 0 but other cell → kept
    ).toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding", "label", 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L))
  }

  test("semantic dedup drop rule compares against all lower ids, not survivors") {
    // 1 is similar to 0 (dropped); 2 is similar to 1 but NOT to 0. The
    // closed-form rule still drops 2 — it matched a lower id regardless
    // of that id's own fate — which is what makes the operator a single
    // self-join instead of a sequential scan.
    val a = Array(1.0f, 0.0f)
    val b = Array(0.92f, 0.39f)  // cos(a,b) ≈ 0.92
    val c = Array(0.71f, 0.71f)  // cos(b,c) ≈ 0.93, cos(a,c) ≈ 0.71
    val emb = Seq((0L, a, 1), (1L, b, 1), (2L, c, 1)).toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding", "label", 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L))
  }

  test("measured recall@10 meets the documented operating points per data regime") {
    // the accuracy CONTRACT behind the approximate paths: recall@10
    // (mean over a query set, batched single-plan measurement — the
    // RecallCurve shape, which also runs the full grid at 1M vectors for
    // PERF.md) must reach 0.9 at the documented operating points. The
    // REGIME is part of the contract: on clustered embeddings (what real
    // encoders emit) IVF reaches 0.9 probing ~3% of the corpus and
    // multi-probe ANN reaches 0.9 on tight clusters; on the
    // weakly-structured test corpus (near-random vectors — the regime
    // approximate search is NOT for) IVF needs nprobe=6 of 8 cells to
    // clear 0.9, and that degradation is pinned here rather than hidden.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val k = 10
    def meanRecall(emb: DataFrame, queryDf: DataFrame, nQ: Int,
        cand: DataFrame => DataFrame): Double = {
      val q = broadcast(queryDf)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      def topk(df: DataFrame) = df
        .select(col("qid"), col("vec_id"),
          graft.functions.functions
            .cosine_similarity(col("embedding"), col("qvec")).as("score"))
        .withColumn("_r", row_number().over(w)).filter(col("_r") <= k)
        .select("qid", "vec_id")
      val truth = topk(emb.crossJoin(q))
      topk(cand(emb.crossJoin(q))).join(truth, Seq("qid", "vec_id"))
        .count().toDouble / (k.toDouble * nQ)
    }
    def held(n: Long, noise: Double) = graft.tools.RecallCurve
      .corpus(spark, n + 10, 64, 256, noise).filter(col("vec_id") >= n)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    // regime 1: clustered, boundary-heavy (noise 0.8) — IVF 64 cells,
    // nprobe 2 probes ~3% of the corpus and must clear 0.9
    val emb1 = graft.tools.RecallCurve.corpus(spark, 10000, 64, 256, 0.8)
    val cents1 = Similarity.trainIvfCentroids(emb1, "embedding", 64, iters = 2)
    val cs1 = cents1.map(_.toSeq).toSeq
    val rIvf = meanRecall(emb1, held(10000, 0.8), 10, joined => joined
      .withColumn("_cell", graft.functions.IvfCells.nearest_cell(col("embedding"), cs1))
      .withColumn("_qcells", graft.functions.IvfCells.nearest_cells(col("qvec"), cs1, 2))
      .filter(array_contains(col("_qcells"), col("_cell"))))
    assert(rIvf >= 0.9, s"IVF (64 cells, nprobe=2, clustered) recall@10 = $rIvf")

    // regime 2: tight clusters (noise 0.35) — multi-probe ANN at
    // 8 planes / radius 2 must clear 0.9
    val emb2 = graft.tools.RecallCurve.corpus(spark, 10000, 64, 256, 0.35)
    val hp = Similarity.hyperplanes(8, 64)
    val rAnn = meanRecall(emb2, held(10000, 0.35), 10, joined => joined
      .withColumn("_bucket", Similarity.lshBucket(col("embedding"), hp))
      .withColumn("_qbucket", Similarity.lshBucket(col("qvec"), hp))
      .filter(bit_count(col("_bucket").bitwiseXOR(col("_qbucket"))) <= 2))
    assert(rAnn >= 0.9, s"ANN (8 planes, radius 2, tight clusters) recall@10 = $rAnn")

    // regime 3: the real test corpus (weakly structured) — IVF must
    // still clear 0.9 at the documented wide-probe point (nprobe 6 of 8)
    val emb3 = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val q3 = emb3.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents3 = Similarity.trainIvfCentroids(emb3, "embedding", 8, iters = 2)
    val cs3 = cents3.map(_.toSeq).toSeq
    val rReal = meanRecall(emb3, q3, 10, joined => joined
      .withColumn("_cell", graft.functions.IvfCells.nearest_cell(col("embedding"), cs3))
      .withColumn("_qcells", graft.functions.IvfCells.nearest_cells(col("qvec"), cs3, 6))
      .filter(array_contains(col("_qcells"), col("_cell"))))
    assert(rReal >= 0.9, s"IVF (8 cells, nprobe=6, real corpus) recall@10 = $rReal")
  }

  test("IVF probed search reaches useful recall against brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", k = 8, iters = 2)
    val qRow = emb.filter(col("vec_id") === 3).select("embedding")
    val q = qRow.head().getSeq[Float](0).toArray
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfSearchLazy(emb, "vec_id", "embedding", qRow, "embedding", 10,
        centroids, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@10 was $recall with half the cells probed")
  }
}
