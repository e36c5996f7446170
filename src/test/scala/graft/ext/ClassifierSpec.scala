package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64

  private def planted = {
    // separable corpus: positives carry a marker token, shared filler on
    // both classes so the classifier must isolate the marker's bucket
    val pos = (0 until 20).map(i => (i.toLong, s"common filler words zzspam zzspam item $i", 1))
    val neg = (100 until 120).map(i => (i.toLong, s"common filler words plain item $i", 0))
    (pos ++ neg).toDF("doc_id", "text", "label")
  }

  test("train separates a planted marker token perfectly") {
    val m = Classifier.train(planted, "doc_id", "text", "label",
      dim = dim, iters = 60, lr = 5.0)
    val scored = Classifier.score(planted, "doc_id", "text", m,
        Classifier.hashIndex(_, dim))
      .join(planted.select("doc_id", "label"), "doc_id")
    val wrong = scored.filter(
      (col("score") > 0.5) =!= (col("label") === 1)).count()
    assert(wrong == 0, s"$wrong misclassified")
    // and with real margin, not 0.5-coin-flips
    val margins = scored
      .select(min(when(col("label") === 1, col("score"))).as("minPos"),
        max(when(col("label") === 0, col("score"))).as("maxNeg"))
      .head()
    assert(margins.getDouble(0) > 0.7 && margins.getDouble(1) < 0.3)
  }

  test("training is deterministic across runs and repartitionings") {
    val a = Classifier.train(planted, "doc_id", "text", "label",
      dim = dim, iters = 10, lr = 5.0)
    val b = Classifier.train(planted.repartition(7), "doc_id", "text", "label",
      dim = dim, iters = 10, lr = 5.0)
    assert(a.weights.toSeq == b.weights.toSeq)
    // the driver-side small-corpus loop and the distributed treeAggregate
    // loop must be BIT-identical (exact decimal gradient sums are order-
    // insensitive): force the distributed path on the same corpus
    val c = Classifier.train(planted, "doc_id", "text", "label",
      dim = dim, iters = 10, lr = 5.0, driverLoopMaxDocs = 0)
    assert(a.weights.toSeq == c.weights.toSeq,
      "driver-loop and treeAggregate paths diverged")
  }

  test("one gradient step matches the closed form on a two-doc corpus") {
    // doc A: "x x" label 1 → single feature i=h(x), x=1; doc B: "y" label 0.
    // From w=0: p=sigmoid(0)=0.5 for both; mean grads g(hx)=(0.5-1)/2,
    // g(hy)=0.5/2, g(bias)=((0.5-1)+(0.5-0))/2=0. Adagrad's first step per
    // touched coordinate is exactly lr·sign(g) (G=g² ⇒ g/√G=±1), and a
    // zero gradient leaves the coordinate untouched → w[hx]=+lr,
    // w[hy]=-lr, bias=0, everything else 0.
    val df = Seq((1L, "x x", 1), (2L, "y", 0)).toDF("doc_id", "text", "label")
    val m = Classifier.train(df, "doc_id", "text", "label",
      dim = dim, iters = 1, lr = 4.0)
    val hx = Seq("x").toDF("t").select(Classifier.hashIndex(col("t"), dim)).head().getInt(0)
    val hy = Seq("y").toDF("t").select(Classifier.hashIndex(col("t"), dim)).head().getInt(0)
    assert(math.abs(m.weights(hx) - 4.0) < 1e-9)
    assert(math.abs(m.weights(hy) + 4.0) < 1e-9)
    assert(math.abs(m.bias) < 1e-9)
    assert(m.weights.zipWithIndex.forall { case (w, i) =>
      i == hx || i == hy || i == dim || w == 0.0 })
  }

  test("md5Index is a stable [0,256) bucket and scoreExpr replays it") {
    val toks = Seq("the", "a", "zz", "", "école").toDF("t")
    val idx = toks.filter(col("t") =!= "")
      .select(Classifier.md5Index(col("t")).as("i")).as[Int].collect()
    assert(idx.forall(i => i >= 0 && i < 256))
    // portable-kernel score on a known doc: mean of w(idx(tok)) through
    // sigmoid, with w[j] = j/256 - 0.5
    val w = Array.tabulate(257)(j => if (j < 256) j / 256.0 - 0.5 else 0.0)
    val m = Classifier.Model(w, 256)
    val got = Seq((1L, "the a zz")).toDF("doc_id", "text")
    val s = Classifier.score(got, "doc_id", "text", m, Classifier.md5Index).head()
    val expected = {
      val zs = idx.take(3).map(i => i / 256.0 - 0.5)
      1.0 / (1.0 + math.exp(-(zs.sum / 3.0)))
    }
    assert(s.getLong(1) == 3L)
    assert(math.abs(s.getDouble(2) - expected) < 1e-12)
  }

  test("scoring plan is map-only (no exchange)") {
    val m = Classifier.Model(Array.fill(257)(0.1), 256)
    val plan = Classifier.score(planted, "doc_id", "text", m, Classifier.md5Index)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected map-only plan:\n$plan")
  }

  test("scoreFast kernel is bit-equal to the declarative hashIndex score") {
    val dim = 1 << 8
    // deterministic pseudo-random weights incl. a nonzero bias
    val w = Array.tabulate(dim + 1)(j =>
      ((j * 2654435761L % 997).toDouble / 997.0) - 0.5)
    val m = Classifier.Model(w, dim)
    val docs = graft.ops.Tables.documents(spark, sfDir).limit(200)
      .select(col("doc_id"), col("text"))
      .union(Seq((900001L, "solo"), (900002L, "  double  spaces  x "),
        (900003L, "école Δδ émile")).toDF("doc_id", "text"))
    val slow = Classifier.score(docs, "doc_id", "text", m,
        Classifier.hashIndex(_, dim))
      .orderBy("doc_id").collect()
    val fast = Classifier.scoreFast(docs, "doc_id", "text", m)
      .orderBy("doc_id").collect()
    assert(slow.length == fast.length && slow.nonEmpty)
    slow.zip(fast).foreach { case (a, b) =>
      assert(a.getLong(1) == b.getLong(1), s"n_toks for ${a.get(0)}")
      // bit-equal, not approximately equal: same split, same xxhash64,
      // same sum order, same sigmoid
      assert(java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(b.getDouble(2)),
        s"score for ${a.get(0)}: ${a.getDouble(2)} vs ${b.getDouble(2)}")
    }
    // kernel plan stays map-only too
    val plan = Classifier.scoreFast(planted, "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("label riding the scoreFast projection equals the scoreFast ⋈ label self-join") {
    // round-17 q_classifier_train shape change: the final label attach is
    // a same-row projection, not a doc_id self-join of the labeled table
    // with itself. Pins row-set equality on a corpus with an empty doc
    // (dropped by scoreFast's n_toks>0 filter AND by the old inner join —
    // both sides must agree) and a unique id per row.
    val dim2 = 1 << 8
    val w = Array.tabulate(dim2 + 1)(j =>
      ((j * 48271L % 499).toDouble / 499.0) - 0.5)
    val m = Classifier.Model(w, dim2)
    val labeled = Seq(
      (0L, "alpha beta gamma", 1), (1L, "beta beta", 0),
      (2L, "", 1), (3L, "   ", 0), (4L, "zz yy xx ww vv", 1)
    ).toDF("doc_id", "text", "_y")
    val joined = Classifier.scoreFast(labeled, "doc_id", "text", m)
      .join(labeled.select(col("doc_id"), col("_y").as("label")), "doc_id")
      .select(col("doc_id"), col("label"), round(col("score"), 4).as("q_score"),
        (col("score") > 0.5).cast("int").as("pred"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val projected = labeled
      .select(col("doc_id"), col("_y").as("label"),
        graft.functions.ScoreHashed.score_hashed(col("text"), m.weights, m.dim).as("st"))
      .filter(col("st.n_toks") > 0)
      .select(col("doc_id"), col("label"), round(col("st.score"), 4).as("q_score"),
        (col("st.score") > 0.5).cast("int").as("pred"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(projected == joined)
    assert(projected.map(_.head) == Seq(0L, 1L, 4L)) // empty docs dropped by both
  }

  test("convergence gate stops early on a separable fixture, deterministically") {
    // generous cap, loose tol: the planted corpus separates and the mean
    // gradient collapses well before 400 passes
    val m = Classifier.train(planted, "doc_id", "text", "label",
      dim = dim, iters = 400, lr = 5.0, tol = 1e-3)
    assert(m.itersRun < 400, s"gate never fired (ran ${m.itersRun})")
    assert(m.itersRun > 1)
    // deterministic: same data -> same stopping step and same weights
    val m2 = Classifier.train(planted.repartition(5), "doc_id", "text", "label",
      dim = dim, iters = 400, lr = 5.0, tol = 1e-3)
    assert(m2.itersRun == m.itersRun)
    assert(m2.weights.toSeq == m.weights.toSeq)
    // a gated run equals the ungated run truncated at the same step
    val trunc = Classifier.train(planted, "doc_id", "text", "label",
      dim = dim, iters = m.itersRun, lr = 5.0, tol = 0.0)
    assert(trunc.weights.toSeq == m.weights.toSeq)
    // tol = 0 disables the gate entirely
    val full = Classifier.train(planted, "doc_id", "text", "label",
      dim = dim, iters = 25, lr = 5.0, tol = 0.0)
    assert(full.itersRun == 25)
  }

  /** The reference [[Classifier.GradSum]] equals: each term quantized to
    * scale 12 and added as a `BigDecimal`, per coordinate.
    */
  private def referenceSums(terms: Seq[(Int, Double)], n: Int): Seq[java.math.BigDecimal] = {
    val acc = Array.fill(n)(java.math.BigDecimal.ZERO.setScale(12))
    terms.foreach { case (i, d) => acc(i) = acc(i).add(Classifier.GradSum.quantize(d)) }
    acc.toSeq
  }

  private def gradSums(terms: Seq[(Int, Double)], n: Int): Seq[java.math.BigDecimal] = {
    val acc = new Classifier.GradSum(n)
    terms.foreach { case (i, d) => acc.add(i, d) }
    (0 until n).map(acc.value)
  }

  test("the fixed-point gradient sum equals the BigDecimal sum on random terms") {
    val r = new scala.util.Random(901L)
    val n = 17
    // classifier-shaped terms (residual in (-1, 1) times a feature weight
    // in (0, 1]), then doubles across many magnitudes
    val shaped = Seq.fill(200000)((r.nextInt(n), (r.nextDouble() * 2 - 1) * (1.0 / (1 + r.nextInt(40)))))
    val wide = Seq.fill(50000)((r.nextInt(n),
      (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(20) - 16)))
    val terms = r.shuffle(shaped ++ wide)
    assert(gradSums(terms, n) == referenceSums(terms, n))
    // any split into partial sums merges to the same value
    val parts = terms.grouped(9973).map { g =>
      val a = new Classifier.GradSum(n); g.foreach { case (i, d) => a.add(i, d) }; a
    }.toSeq
    val merged = parts.reduce(_ merge _)
    assert((0 until n).map(merged.value) == referenceSums(terms, n))
  }

  test("the fixed-point gradient sum equals the BigDecimal sum on ties, large terms and overflow") {
    def dec(s: String): Double = new java.math.BigDecimal(s).doubleValue()
    // exact decimal ties at scale 12 (k.5e-12), both signs, and terms just
    // inside and outside the fast path's tie margin
    val ties = for {
      k <- Seq(0L, 1L, 2L, 7L, 12345L, 999999999L, 123456789012L)
      frac <- Seq("5", "4995", "5005", "4990", "5010", "49999999", "50000001")
      sign <- Seq("", "-")
    } yield dec(s"$sign$k.${frac}e-12")
    // |d| past the fast bound (|d·1e12| ≥ 2^40), and classifier extremes
    val large = Seq(1.0, -1.0, 1.0995, 1.1, -1.5, 3.75, 1e6, -9.9e6, 1e12, 1e300, -1e300,
      Double.MinPositiveValue, -0.0, 0.0)
    val terms = (ties ++ large).zipWithIndex.map { case (d, j) => (j % 5, d) }
    assert(gradSums(terms, 5) == referenceSums(terms, 5))
    // a forced long overflow spills into the side sum, in add and in merge
    val acc = new Classifier.GradSum(3)
    acc.units(0) = Long.MaxValue - 5
    acc.units(1) = Long.MinValue + 5
    Seq(1.0, 0.5, 2e-12, 1.0).foreach(acc.add(0, _))
    Seq(-1.0, -0.5, -2e-12).foreach(acc.add(1, _))
    val other = new Classifier.GradSum(3)
    other.units(0) = Long.MaxValue
    other.units(2) = 7
    acc.merge(other)
    def units(u: Long) = java.math.BigDecimal.valueOf(u, 12)
    assert(acc.value(0) == units(Long.MaxValue - 5).add(units(Long.MaxValue))
      .add(Classifier.GradSum.quantize(1.0)).add(Classifier.GradSum.quantize(0.5))
      .add(units(2)).add(Classifier.GradSum.quantize(1.0)))
    assert(acc.value(1) == units(Long.MinValue + 5).add(Classifier.GradSum.quantize(-1.0))
      .add(Classifier.GradSum.quantize(-0.5)).add(units(-2)))
    assert(acc.value(2) == units(7))
    // ten million intercept terms of 1.0 pass 2^63 units, as at ~9 M docs
    val bias = new Classifier.GradSum(1)
    var i = 0
    while (i < 10000000) { bias.add(0, if (i % 2 == 0) 1.0 else 0.999999999999); i += 1 }
    assert(bias.value(0) == new java.math.BigDecimal("9999999.999995000000"))
    // a NaN term fails as the decimal cast does
    intercept[NumberFormatException](new Classifier.GradSum(1).add(0, Double.NaN))
    intercept[NumberFormatException](Classifier.GradSum.quantize(Double.NaN))
  }

  test("a model is bit-identical through the driver loop and the treeAggregate loop") {
    val r = new scala.util.Random(7L)
    val vocab = Seq.tabulate(300)(i => s"w$i")
    val docs = (0 until 400).map { i =>
      val label = i % 2
      val n = 3 + r.nextInt(30)
      val text = Seq.fill(n)(vocab(r.nextInt(if (label == 1) 300 else 200))).mkString(" ")
      (i.toLong, text, label)
    }.toDF("doc_id", "text", "label")
    val local = Classifier.train(docs, "doc_id", "text", "label", dim = 256, iters = 8, lr = 2.0)
    val dist = Classifier.train(docs.repartition(3), "doc_id", "text", "label",
      dim = 256, iters = 8, lr = 2.0, driverLoopMaxDocs = 0)
    assert(local.itersRun == 8 && dist.itersRun == 8)
    assert(local.weights.toSeq == dist.weights.toSeq)
    assert(local.weights.count(_ != 0.0) > 150)
  }
}
