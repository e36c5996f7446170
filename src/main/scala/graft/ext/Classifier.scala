package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hashed-feature linear quality classifier — the fastText-shaped "train a
  * cheap model ON the corpus, then gate the corpus WITH it" curation step
  * (Joulin et al. 2016's linear classifier over hashed bag-of-words;
  * the quality-filter role described for e.g. CCNet/GPT-3-style pipelines).
  *
  * Scale shape:
  *   - featurization is one explode + two keyed aggregations producing ONE
  *     compact row per document (`array<struct<i,x>>` of its nonzero
  *     hashed-feature weights) — persisted once, reused every iteration;
  *   - each training iteration is a map-only scoring pass over that table
  *     plus ONE keyed shuffle bounded by `dim` reducer keys (the gradient
  *     histogram), then a driver-side weight update on a `dim`-sized
  *     vector — the Bpe.scala shape: the corpus-sized computation is an
  *     aggregation, the model loop runs on the compact artifact;
  *   - gradient terms are aggregated as DECIMAL(28,12), so training is
  *     bit-deterministic regardless of partitioning (the lmScore
  *     order-insensitive-sum discipline applied to learning);
  *   - scoring/gating is a pure column expression over builtins
  *     (`transform`/`element_at`/`aggregate` with the weight vector as one
  *     literal plan object) — codegen'd, map-only, runs at scan speed.
  *
  * The intercept rides as a constant feature at index `dim` (weights array
  * length dim+1), so one gradient histogram covers weights AND bias.
  */
object Classifier {

  /** Trained model artifact: `weights(dim)` is the intercept.
    * `itersRun` records how many full-batch steps [[train]] actually
    * took (< the cap when the convergence gate fired).
    */
  final case class Model(weights: Array[Double], dim: Int, itersRun: Int = 0) {
    require(weights.length == dim + 1, s"weights must be dim+1 (${dim + 1})")
    def bias: Double = weights(dim)
  }

  /** Production feature hash: xxhash64 bucket in [0, dim). */
  def hashIndex(tok: Column, dim: Int): Column =
    pmod(xxhash64(tok), lit(dim.toLong)).cast("int")

  /** Engine-portable feature hash in [0, 256): two md5 hex nibbles.
    * `instr`/`strpos` replay identically in DuckDB, which makes the whole
    * scoring kernel oracle-checkable cross-engine.
    */
  def md5Index(tok: Column): Column =
    ((instr(lit("0123456789abcdef"), substring(md5(tok), 1, 1)) - 1) * 16 +
      (instr(lit("0123456789abcdef"), substring(md5(tok), 2, 1)) - 1)).cast("int")

  private def toks(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Mean-of-hashed-weights logit + sigmoid, as one map-only expression.
    * `indexOf` picks the hash family (md5Index for the portable kernel,
    * hashIndex(_, dim) for production).
    */
  def scoreExpr(text: Column, model: Model, indexOf: Column => Column): Column = {
    val w = typedlit(model.weights.toSeq)
    val t = toks(text)
    val z = lit(model.bias) +
      aggregate(
        transform(t, tok => element_at(w, indexOf(tok) + 1)),
        lit(0.0), (acc, x) => acc + x) / size(t)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Score a corpus: (id, n_toks, score). Rows with no tokens are dropped
    * (a mean over zero features has no defined logit).
    */
  def score(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: Model,
      indexOf: Column => Column): DataFrame =
    df.filter(size(toks(col(textCol))) > 0)
      .select(col(idCol),
        size(toks(col(textCol))).cast("long").as("n_toks"),
        scoreExpr(col(textCol), model, indexOf).as("score"))

  /** Production scoring path: the fused [[graft.functions.ScoreHashed]]
    * kernel — one codegen'd pass per document (split + xxhash64 + mean
    * weight + sigmoid), no token array, no per-token interpreted lambda.
    * Bit-equal to `score(df, …, hashIndex(_, dim))` (property-tested);
    * use [[score]] with [[md5Index]] only for the cross-engine oracle.
    */
  def scoreFast(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: Model): DataFrame =
    df.select(col(idCol),
        graft.functions.ScoreHashed
          .score_hashed(col(textCol), model.weights, model.dim).as("st"))
      .filter(col("st.n_toks") > 0)
      .select(col(idCol), col("st.n_toks").as("n_toks"),
        col("st.score").as("score"))

  /** One compact feature row per document:
    * (_id, _y, _f: array<struct<i:int, x:double>>) where x = count/n_toks
    * and the intercept feature (i=dim, x=1) is appended. Built with one
    * explode + two keyed aggregations; the caller persists it across
    * iterations.
    */
  private[ext] def featurize(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      dim: Int,
      indexOf: Column => Column): DataFrame =
    df.select(col(idCol).as("_id"), col(labelCol).cast("double").as("_y"),
        toks(col(textCol)).as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col("_id"), col("_y"), size(col("_t")).as("_n"),
        explode(transform(col("_t"), indexOf)).as("_i"))
      .groupBy("_id", "_y", "_n", "_i")
      .agg(count(lit(1)).as("_c"))
      .groupBy("_id", "_y")
      .agg(collect_list(
        struct(col("_i").cast("int").as("i"),
          (col("_c").cast("double") / col("_n")).as("x"))).as("_f"))
      .select(col("_id"), col("_y"),
        concat(col("_f"),
          array(struct(lit(dim).cast("int").as("i"), lit(1.0).as("x")))).as("_f"))

  /** Full-batch logistic regression over hashed features, optimized with
    * Adagrad (per-coordinate adaptive steps): mean-normalized bag-of-words
    * gradients span orders of magnitude across buckets, so a fixed global
    * step either diverges on hot buckets or never moves cold ones —
    * adaptive scaling is what makes tens (not thousands) of full-batch
    * passes sufficient. The accumulator lives driver-side next to the
    * weights (dim+1 doubles), so the distributed work per step stays one
    * map-only scoring pass + one dim-bounded gradient histogram.
    *
    * @param labelCol 0/1 (castable to double) target column
    * @param dim      hashed feature dimension (weight vector is dim+1)
    * @param iters    CAP on full-batch gradient steps
    * @param lr       Adagrad base step (first update per touched
    *                 coordinate is ±lr; total movement is O(lr·iters))
    * @param tol      convergence gate: stop once the L2 norm of the
    *                 mean gradient falls to/under this. The norm is
    *                 computed from the EXACT decimal gradient sum, so
    *                 the stopping step is a pure function of the data —
    *                 same corpus, same stop, same artifact — while a
    *                 converged 100 TB training run stops paying for
    *                 passes that no longer move the weights. 0 disables.
    */
  def train(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      dim: Int = 1 << 12,
      iters: Int = 20,
      lr: Double = 1.0,
      indexOf: Column => Column = null,
      tol: Double = 1e-6,
      driverLoopMaxDocs: Int = 32768): Model = {
    val idx = Option(indexOf).getOrElse(hashIndex(_: Column, dim))
    // Cache width rides the INPUT's scan width (file-size derived), not
    // the session shuffle width: the compact feature table is ~one row
    // per document, and 20 iterations × 32 near-empty map tasks is pure
    // scheduler overhead at small corpora while a large corpus keeps its
    // parallelism (scan width grows with data).
    val spark0 = df.sparkSession
    val featWidth = math.max(1, math.min(
      spark0.sparkContext.defaultParallelism, df.rdd.getNumPartitions))
    val feats = featurize(df, idCol, textCol, labelCol, dim, idx)
      .coalesce(featWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = feats.count().toDouble // materializes the persist
    require(nDocs > 0, "no non-empty documents to train on")
    val w = Array.fill(dim + 1)(0.0)
    val gsq = Array.fill(dim + 1)(0.0)
    // The iteration loop runs at the RDD layer (the MLlib treeAggregate
    // discipline), not as a per-iteration SQL plan: a fresh Catalyst
    // plan costs ~0.15 s of analysis/optimization per step (more than
    // the step's work at moderate corpora), and a REUSED plan is wrong —
    // the DAG scheduler skips the already-computed shuffle map stage, so
    // the updated weights would never be re-scored. treeAggregate has
    // neither problem: the closure (carrying the live weight array) is
    // serialized fresh per job, there is no shuffle, and each partition
    // ships one dim+1 gradient vector — bounded by model size, not data.
    // The compact feature rows are decoded ONCE into primitive arrays.
    val featRdd = feats
      .select(col("_y"), col("_f"))
      .rdd.map { r =>
        val fs = r.getSeq[org.apache.spark.sql.Row](1)
        val is = new Array[Int](fs.length)
        val xs = new Array[Double](fs.length)
        var j = 0
        while (j < fs.length) { is(j) = fs(j).getInt(0); xs(j) = fs(j).getDouble(1); j += 1 }
        (r.getDouble(0), is, xs)
      }
      // width rides the CORPUS (one partition per ~50 k compact feature
      // rows): 20 iterations × near-empty tasks is pure scheduler
      // overhead at small corpora, while a large corpus keeps—and a
      // huge one grows—its parallelism
      .coalesce(math.max(1, math.min(
        spark0.sparkContext.defaultParallelism * 4, (nDocs / 50000).toInt + 1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    featRdd.count() // materialize, then drop the row-form cache
    feats.unpersist()
    // Small-corpus fast path (the Bpe discipline taken one step further):
    // the compact feature table IS the model-loop artifact, and below
    // ~32 k documents it is megabytes — collect it ONCE and run the
    // iteration loop driver-side, replacing 10-20 one-task jobs (each
    // dominated by scheduler/closure overhead, ~0.1 s apiece at bench
    // scale) with a local loop. The gradient sum is EXACT decimal
    // addition (associative and commutative), so the local loop is
    // bit-identical to the distributed one — same corpus, same weights,
    // same stopping step. Larger corpora keep the treeAggregate path:
    // the artifact grows with the corpus and must stay distributed.
    // (`driverLoopMaxDocs` is a parameter so specs can pin the two paths
    // bit-identical by forcing the distributed loop on a small corpus)
    val localFeats: Array[(Double, Array[Int], Array[Double])] =
      if (nDocs <= driverLoopMaxDocs) featRdd.collect() else null
    var itersRun = 0
    try {
      var converged = false
      while (!converged && itersRun < iters) {
        // Per-doc: margin (left-to-right double dot — the SparseDotW
        // order), sigmoid, residual; per-coordinate gradient terms
        // quantized to DECIMAL scale 12 and summed EXACTLY ([[GradSum]]) —
        // the sum is associative/commutative, so the trained model is
        // bit-stable under any partitioning, as the SQL DECIMAL(28,12)
        // aggregate it replaces was.
        val wB = w // captured by the closure, serialized per job
        val seqOp: (GradSum, (Double, Array[Int], Array[Double])) => GradSum = {
          case (acc, (y, is, xs)) =>
            var z = 0.0
            var j = 0
            while (j < is.length) { z += wB(is(j)) * xs(j); j += 1 }
            // StrictMath = Spark SQL's exp(): platform-reproducible and
            // bit-matching the DECIMAL-aggregate form this loop replaced
            val r = 1.0 / (1.0 + java.lang.StrictMath.exp(-z)) - y
            j = 0
            while (j < is.length) { acc.add(is(j), r * xs(j)); j += 1 }
            acc
        }
        val grad =
          if (localFeats != null) {
            val acc = new GradSum(dim + 1)
            var di = 0
            while (di < localFeats.length) { seqOp(acc, localFeats(di)); di += 1 }
            acc
          } else featRdd.treeAggregate(new GradSum(dim + 1))(seqOp, _ merge _)
        var normSq = 0.0
        var i = 0
        while (i <= dim) {
          val gi = grad.value(i)
          if (gi.signum != 0) {
            val g = gi.doubleValue() / nDocs
            normSq += g * g
            gsq(i) += g * g
            if (gsq(i) > 0.0) w(i) -= lr * g / math.sqrt(gsq(i))
          }
          i += 1
        }
        itersRun += 1
        // convergence gate: the exact-decimal gradient makes the norm —
        // and therefore the stopping iteration — deterministic for a
        // given corpus; the update above is still applied, so a gated
        // run equals the same run truncated at this step
        if (tol > 0.0 && math.sqrt(normSq) <= tol) converged = true
      }
    } finally featRdd.unpersist()
    Model(w, dim, itersRun)
  }

  /** Exact per-coordinate sum of gradient terms, each term quantized to
    * DECIMAL scale 12 as `BigDecimal.valueOf(d).setScale(12, HALF_UP)`
    * (Spark's double→decimal cast). [[value]] is that `BigDecimal` sum,
    * but a term costs a multiply and a `long` add, not a `Double.toString`
    * and two allocations: most terms are rounded in binary to units of
    * 1e-12 and added to a `long` per coordinate. That rounding equals the
    * decimal one wherever the double error cannot cross a rounding
    * boundary: |d·1e12| < 2^40 bounds the product's error by 2^-14 units
    * and the gap between `Double.toString(d)` and d by 1e12·ulp(d) < 2.5e-4
    * units, so a fraction at least [[TieMargin]] from ½ rounds the same way
    * in both. Every other term (near-ties, |d| ≥ ~1.1, NaN or infinite,
    * which throw as the cast does), and any `long` add that would
    * overflow, goes to a sparse `BigDecimal` side sum.
    */
  private[ext] final class GradSum(n: Int) extends Serializable {
    private[ext] val units = new Array[Long](n)
    private val spilled = scala.collection.mutable.HashMap.empty[Int, java.math.BigDecimal]

    def add(i: Int, d: Double): Unit = {
      val t = d * 1e12
      val a = math.abs(t)
      val fl = math.floor(a)
      if (a < GradSum.FastBound && math.abs(a - fl - 0.5) >= GradSum.TieMargin) {
        val u = fl.toLong + (if (a - fl > 0.5) 1L else 0L)
        addUnits(i, if (t < 0) -u else u)
      } else addBig(i, GradSum.quantize(d))
    }

    def merge(o: GradSum): GradSum = {
      var i = 0
      while (i < n) { addUnits(i, o.units(i)); i += 1 }
      o.spilled.foreach { case (j, v) => addBig(j, v) }
      this
    }

    def value(i: Int): java.math.BigDecimal = {
      val u = java.math.BigDecimal.valueOf(units(i), 12)
      spilled.get(i).fold(u)(u.add)
    }

    private def addUnits(i: Int, u: Long): Unit =
      try units(i) = Math.addExact(units(i), u)
      catch { case _: ArithmeticException => addBig(i, java.math.BigDecimal.valueOf(u, 12)) }

    private def addBig(i: Int, v: java.math.BigDecimal): Unit =
      spilled.update(i, spilled.get(i).fold(v)(_.add(v)))
  }

  private[ext] object GradSum {
    val FastBound: Double = (1L << 40).toDouble
    val TieMargin: Double = 1e-3

    /** The decimal form of one term: the reference [[GradSum]] equals. */
    def quantize(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d).setScale(12, java.math.RoundingMode.HALF_UP)
  }
}
