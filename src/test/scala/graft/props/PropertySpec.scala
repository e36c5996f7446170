package graft.props

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.engine.Engine
import graft.ext.Dedup
import graft.spec.{PipelineSpec, SegType, Stage}
import graft.stages.{CommandStage, ModuleRegistry, NdjsonBridge}

/** Property-based checks (SURVEY §5.2 item 3): algebraic laws the
  * combinators must satisfy on generated inputs. ScalaCheck generators
  * with fixed seeds (scalatestplus isn't in the offline cache, so
  * sampling is explicit — same coverage, deterministic).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  private val lineGen: Gen[List[String]] =
    Gen.listOfN(6, Gen.alphaNumStr.map(_.take(8))).map(_.filter(_.nonEmpty))

  test("fork union is multiset-equal to its inputs (index.js:42-49)") {
    (1L to 5L).foreach { seed =>
      val xs = sample(lineGen, seed)
      val ys = sample(lineGen, seed + 100)
      val reg = ModuleRegistry.default
        .register("xs", _ => xs.toDF(CommandStage.ValueCol))
        .register("ys", _ => ys.toDF(CommandStage.ValueCol))
      val spec = PipelineSpec(ListMap("f" -> Seq(
        Stage.Module("xs", SegType.Fork), Stage.Module("ys", SegType.Fork))))
      val out = new Engine(spec, reg).run("f", spark)
        .as[String].collect().toSeq.sorted
      assert(out == (xs ++ ys).sorted, s"seed=$seed")
    }
  }

  test("map tee row count = branches × source count (index.js:62)") {
    (1L to 5L).foreach { seed =>
      val xs = sample(lineGen, seed) match {
        case Nil => List("fallback")
        case l   => l
      }
      val branches = 1 + (seed % 3).toInt
      val reg = (1 to branches).foldLeft(
        ModuleRegistry.default.register("src", _ => xs.toDF(CommandStage.ValueCol))) {
        (r, i) => r.register(s"b$i", df => df)
      }
      val stages = Stage.Module("src", SegType.MapTee) +:
        (1 to branches).map(i => Stage.Module(s"b$i", SegType.MapTee))
      val spec = PipelineSpec(ListMap("t" -> stages.toSeq))
      val n = new Engine(spec, reg).run("t", spark).count()
      assert(n == branches.toLong * xs.size, s"seed=$seed")
    }
  }

  test("NDJSON round-trip preserves rows: parse ∘ serialize = id") {
    val rowGen = Gen.listOfN(5,
      Gen.zip(Gen.chooseNum(0L, 9999L), Gen.alphaNumStr.map(_.take(6))))
    (1L to 5L).foreach { seed =>
      // dedupe keys post-generation (suchThat can exhaust the sampler)
      val rows = sample(rowGen, seed).distinctBy(_._1) match {
        case Nil => List((1L, "x"))
        case rs  => rs
      }
      val df = rows.toDF("id", "s")
      val back = NdjsonBridge.parse(NdjsonBridge.serialize(df))
      val a = df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val b = back.select(col("id").cast("long"), col("s")).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(a == b, s"seed=$seed")
    }
  }

  test("minhash estimate tracks exact jaccard across overlap levels") {
    val words = (1 to 40).map(i => s"w$i")
    Seq(0, 5, 10, 15, 20).foreach { overlap =>
      val a = words.take(20 + overlap).mkString(" ")
      val b = words.drop(20 - overlap).mkString(" ")
      val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 64, Dedup.WordShingles(2))
      val est = Dedup.estimatedJaccard(
        Seq((1L, 2L)).toDF("id1", "id2"), sigs, "doc_id", 64)
        .head().getDouble(2)
      val exact = Dedup.exactJaccard(
        Seq((1L, 2L)).toDF("id1", "id2"), docs, "doc_id", "text", Dedup.WordShingles(2))
        .head().getDouble(2)
      // k=64 unbiased estimator → loose tolerance
      assert(math.abs(est - exact) <= 0.3, s"overlap=$overlap est=$est exact=$exact")
    }
  }

  test("capped candidatePairs obeys its emission law on generated bucket structures") {
    // the documented degenerate-bucket bound, as an algebraic law over
    // random bucket compositions: a bucket's emission is EXACTLY the full
    // clique over its first `cap` ascending-id members plus a min-id star
    // pair per overflow member — so the result is a subset of the
    // unbounded pair set, every bucket member stays connected, and a cap
    // no bucket exceeds reproduces the unbounded result identically
    val rnd = new scala.util.Random(7)
    val cap = 5
    (1 to 4).foreach { _ =>
      // overlapping id universes across buckets — the real LSH shape
      val buckets = (0 until 2 + rnd.nextInt(4)).map { b =>
        val ids = rnd.shuffle((0L until 40L).toList).take(1 + rnd.nextInt(14))
        (b, ids)
      }
      val bands = buckets
        .flatMap { case (b, ids) => ids.map(id => (b % 3, b.toLong, id)) }
        .toDF("band_id", "band_hash", "doc_id")
      def pairs(maxBucket: Int) =
        Dedup.candidatePairs(bands, "doc_id", maxBucket = maxBucket)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bounded = pairs(cap)
      val unbounded = pairs(Int.MaxValue)
      assert(bounded.subsetOf(unbounded))
      assert(bounded.forall(p => p._1 < p._2))
      // the exact emission law, bucket by bucket
      val expected = buckets.flatMap { case (_, ids) =>
        val s = ids.sorted
        val head = math.min(s.size, cap)
        (for (i <- 0 until head; j <- (i + 1) until head) yield (s(i), s(j))) ++
          s.drop(cap).map(j => (s.head, j))
      }.toSet
      assert(bounded == expected)
      // connectivity: every member of every real bucket appears in a pair
      buckets.filter(_._2.size >= 2).foreach { case (_, ids) =>
        assert(ids.forall(id => bounded.exists(p => p._1 == id || p._2 == id)))
      }
      // a cap nothing exceeds is the identity
      assert(pairs(64) == unbounded)
    }
  }

  test("candidatePairs' sort-scan equals the collect_list reference on generated band tables, AQE on and off") {
    val cap = 8
    // one band table per seed: buckets of size 1, 2, cap - 1, cap,
    // cap + 1 and random sizes, ids drawn WITH replacement from a small
    // universe (duplicate (band, id) rows, shared ids across buckets),
    // ~5% null ids, and one bucket whose band_hash is null
    def generated(seed: Long): Seq[(Int, Option[Long], Option[Long])] = {
      val rnd = new scala.util.Random(seed)
      val sizes = Seq(1, 1, 2, cap - 1, cap, cap + 1) ++ Seq.fill(6)(1 + rnd.nextInt(30))
      sizes.zipWithIndex.flatMap { case (n, b) =>
        val hash = if (b == 3) None else Some(b.toLong * 7919L)
        Seq.fill(n) {
          (b % 3, hash, if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(60).toLong))
        }
      }
    }
    // one 50 000-id bucket beside small ones; at cap 8 only (its
    // unbounded clique would be 1.25 G pairs)
    val mass = (0L until 50000L).map(i => (1, Option(42L), Option((i * 7919L) % 50000L))) ++
      generated(99L).filter(_._1 != 1)
    val cases: Seq[(String, Seq[(Int, Option[Long], Option[Long])], Seq[Int])] =
      (1L to 4L).map(s => (s"seed $s", generated(s), Seq(cap, Int.MaxValue))) :+
        (("50 000-id bucket", mass, Seq(cap)))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
      df.collect().map(r => (r.get(0), r.get(1))).toSet
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (on <- Seq("true", "false"); (tag, rows, maxBuckets) <- cases;
           maxBucket <- maxBuckets; strIds <- Seq(false, true)) {
        spark.conf.set("spark.sql.adaptive.enabled", on)
        val longBands = rows.toDF("band_id", "band_hash", "doc_id")
        val bands =
          if (!strIds) longBands
          else longBands.withColumn("doc_id", concat(lit("d"), lpad(col("doc_id").cast("string"), 5, "0")))
        val ours = Dedup.candidatePairs(bands, "doc_id", maxBucket)
        val ref = graft.ext.CandidatePairsReference.candidatePairs(bands, "doc_id", maxBucket)
        val what = s"$tag maxBucket=$maxBucket aqe=$on strIds=$strIds"
        assert(ours.schema.map(_.dataType) == ref.schema.map(_.dataType), what)
        val expected = pairs(ref)
        val got = pairs(ours)
        assert(expected.nonEmpty, what)
        assert(got.size == expected.size && (expected -- got).isEmpty,
          s"$what: ${got.size} pairs, reference ${expected.size}; " +
            s"missing ${(expected -- got).take(5)}, extra ${(got -- expected).take(5)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("span dedup matches a brute-force reference on generated corpora") {
    val n = 3
    (1L to 5L).foreach { seed =>
      // tiny alphabet + short docs → duplicated windows arise organically
      val docGen = Gen.listOfN(12,
        Gen.chooseNum(1, 9).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // plain-Scala reference: windows, cross-doc dup set, coverage, prune
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val grams = docs.flatMap { case (id, _) =>
        val w = toks(id)
        if (w.size >= n) (0 to w.size - n).map(i => (id, i, w.slice(i, i + n).mkString(" ")))
        else Nil
      }
      val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
      val expect = docs.map { case (id, _) =>
        val w = toks(id)
        val cov = grams.collect { case (d, i, g) if d == id && dup(g) =>
          i until i + n }.flatten.toSet
        val pruned = w.zipWithIndex.collect { case (t, i) if !cov(i) => t }.mkString(" ")
        id -> ((w.size.toLong, cov.size.toLong, pruned))
      }.toMap
      val got = Dedup.spanDuplicates(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
        .toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("self-repetition prune matches a brute-force reference on generated docs") {
    val n = 2
    (1L to 5L).foreach { seed =>
      val docGen = Gen.listOfN(10,
        Gen.chooseNum(1, 12).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("x", "y", "z")).map(_.mkString(" "))))
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expect = docs.map { case (id, t) =>
        val w = t.split(" ", -1).toSeq
        val g = if (w.size >= n) (0 to w.size - n).map(i => w.slice(i, i + n).mkString(" "))
                else Nil
        val flagged = g.zipWithIndex.collect { case (gr, i) if g.take(i).contains(gr) => i }
        val cov = flagged.flatMap(i => i until i + n).toSet
        val pruned = w.zipWithIndex.collect { case (t2, i) if !cov(i) => t2 }.mkString(" ")
        id -> ((w.size.toLong, cov.size.toLong, pruned))
      }.toMap
      val got = graft.ext.TextAnalysis
        .selfRepetitionPrune(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
        .toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("keepBest matches a brute-force reference on generated corpora") {
    val prefixLen = 12
    (1L to 5L).foreach { seed =>
      // mixed case + a trailing-space word → normalization (lower, squeeze,
      // trim) does real work before the prefix fingerprint groups anything
      val docGen = Gen.listOfN(30, for {
        len <- Gen.chooseNum(1, 6)
        ws <- Gen.listOfN(len, Gen.oneOf("alpha", "Beta", "GAMMA", "delta "))
      } yield ws.mkString(" "))
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def norm(s: String) = s.toLowerCase.replaceAll(" +", " ").trim
      val expect = docs.groupBy { case (_, t) => norm(t).take(prefixLen) }
        .map { case (_, members) =>
          val (bestId, _) = members.maxBy { case (id, t) => (t.length.toLong, -id) }
          (bestId, members.size.toLong, members.map(_._2.length).max.toLong)
        }.toSet
      val got = Dedup.keepBest(docs.toDF("doc_id", "text"), "text", "doc_id", prefixLen)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("interval containment join matches the quadratic reference on generated data") {
    (1L to 5L).foreach { seed =>
      val probeGen = Gen.listOfN(40, Gen.chooseNum(0L, 300L))
      val ivGen = Gen.listOfN(15, for {
        s <- Gen.chooseNum(0L, 280L)
        len <- Gen.chooseNum(0L, 60L)
      } yield (s, s + len))
      val probes = sample(probeGen, seed).zipWithIndex
        .map { case (x, i) => (i.toLong, x) }
      val ivs = sample(ivGen, seed + 100).zipWithIndex
        .map { case ((st, en), i) => (i.toLong, st, en) }
      val expect = (for {
        (pid, x) <- probes
        (iid, st, en) <- ivs
        if x >= st && x <= en
      } yield (pid, iid)).toSet
      val pdf = probes.toDF("probe_id", "x")
      val idf = ivs.toDF("interval_id", "s", "e")
      for (w <- Seq(7L, 50L)) {
        val got = graft.ops.IntervalJoin.containment(pdf, "x", idf, "s", "e", w)
          .select("probe_id", "interval_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(got.length == got.toSet.size, s"seed=$seed width=$w: duplicate pairs")
        assert(got.toSet == expect, s"seed=$seed width=$w")
      }
    }
  }

  test("paragraphDedup matches a brute-force reference on generated corpora") {
    val k = 3 // 3-token paragraphs over a tiny vocab → real cross-doc dups
    (1L to 5L).foreach { seed =>
      val docGen = Gen.listOfN(25, for {
        len <- Gen.chooseNum(1, 12)
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
      } yield ws.mkString(" "))
      val docs = sample(docGen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      // brute force: segment, keep global first occurrence by (id, pos),
      // reassemble in pos order, drop emptied docs
      val segs = docs.flatMap { case (id, t) =>
        t.split(" ").grouped(k).map(_.mkString(" ")).zipWithIndex
          .map { case (p, pos) => (id, pos, p) }
      }
      val firsts = segs.groupBy(_._3).map { case (p, occ) =>
        (p, occ.map(o => (o._1, o._2)).min)
      }
      val expect = segs
        .filter { case (id, pos, p) => firsts(p) == (id, pos) }
        .groupBy(_._1)
        .map { case (id, kept) =>
          val total = segs.count(_._1 == id).toLong
          (id, total, kept.size.toLong,
            kept.sortBy(_._2).map(_._3).mkString(" "))
        }.toSet
      val got = Dedup.paragraphDedup(docs.toDF("doc_id", "text"), "doc_id",
          graft.ext.TextAnalysis.fixedTokenSegments(col("text"), k))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("tokenBudgetSample is greedy-prefix-exact per source") {
    val budgets = Map("s0" -> 20L, "s1" -> 7L)
    (1L to 5L).foreach { seed =>
      val docGen = Gen.listOfN(30, for {
        src <- Gen.oneOf("s0", "s1", "s2")
        len <- Gen.chooseNum(1, 6)
        ws <- Gen.listOfN(len, Gen.oneOf("x", "y"))
      } yield (src, ws.mkString(" ")))
      val docs = sample(docGen, seed).zipWithIndex
        .map { case ((src, t), i) => (i.toLong, src, t) }
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      // brute force: per source, docs in (md5(id), id) order, keep while
      // the running total BEFORE the doc is still under budget
      val expect = docs.groupBy(_._2).flatMap { case (src, members) =>
        budgets.get(src).toSeq.flatMap { b =>
          var cum = 0L
          members.sortBy { case (id, _, _) => (md5hex(id.toString), id) }
            .flatMap { case (id, _, t) =>
              val n = t.split(" ").length.toLong
              val keep = cum < b
              cum += n
              if (keep) Some((id, src, n, cum)) else None
            }
        }
      }.toSet
      val got = graft.ext.TextAnalysis.tokenBudgetSample(
          docs.toDF("doc_id", "source", "text"),
          "doc_id", "source", "text", budgets)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("vocabCoverage is the exact frequency-ranked prefix of the corpus") {
    (1L to 5L).foreach { seed =>
      val docGen = Gen.listOfN(20, Gen.listOfN(8,
        Gen.oneOf("p", "q", "r", "s", "t", "u")).map(_.mkString(" ")))
      val docs = sample(docGen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val counts = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, o) => (w, o.size.toLong) }
      val total = counts.values.sum
      val ranked = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(4)
      val expect = ranked.zipWithIndex.map { case ((w, n), i) =>
        val cum = ranked.take(i + 1).map(_._2).sum
        (i + 1L, w, n, cum,
          BigDecimal(cum.toDouble / total)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
      val got = graft.ext.TextAnalysis.vocabCoverage(
          docs.toDF("doc_id", "text"), "text", topV = 4)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4)))
        .toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("corpusDiff matches a brute-force map diff on generated snapshots") {
    (1L to 5L).foreach { seed =>
      val gen = Gen.listOfN(30, for {
        id <- Gen.chooseNum(0L, 20L)
        t <- Gen.oneOf("aa", "bb", "cc")
      } yield (id, t))
      // last write wins per id → well-defined keyed snapshots
      val v1 = sample(gen, seed).toMap
      val v2 = sample(gen, seed + 100).toMap
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expect = (v1.keySet ++ v2.keySet).flatMap { id =>
        (v1.get(id), v2.get(id)) match {
          case (None, Some(n))              => Some((id, "added", null, md5hex(n)))
          case (Some(o), None)              => Some((id, "removed", md5hex(o), null))
          case (Some(o), Some(n)) if o != n => Some((id, "changed", md5hex(o), md5hex(n)))
          case _                            => None
        }
      }
      val got = Dedup.corpusDiff(
          v1.toSeq.toDF("doc_id", "text"), v2.toSeq.toDF("doc_id", "text"),
          "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
        .toSet
      assert(got == expect.map(t => (t._1, t._2, t._3, t._4)), s"seed=$seed")
    }
  }

  test("miningSets bands are the exact rank partition of the corpus") {
    import graft.ext.Similarity
    (1L to 3L).foreach { seed =>
      // integer-valued components → every dot/norm is exact in double, so
      // the rounded scores are engine- and order-deterministic
      val vecGen = Gen.listOfN(40,
        Gen.listOfN(8, Gen.chooseNum(-3, 3).map(_.toFloat)).map(_.toArray))
        .suchThat(_.forall(v => v.exists(_ != 0f)))
      val vecs = sample(vecGen, seed).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val (posK, hardK, randK) = (4, 6, 5)
      val anchor = vecs.head._2
      val corpus = vecs.tail
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        }
        if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      def r6(d: Double): Double =
        BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val scored = corpus.map { case (id, v) => (id, r6(cos(v, anchor))) }
      val rankOrder = scored.sortBy { case (id, sc) => (-sc, id) }
      val band = rankOrder.take(posK + hardK)
      val expectPos = band.take(posK).map(_._1).toSet
      val expectHard = band.drop(posK).map(_._1).toSet
      val bandIds = band.map(_._1).toSet
      val expectRand = scored.filterNot(s => bandIds(s._1))
        .sortBy { case (id, _) => (md5hex(id.toString), id) }
        .take(randK).map(_._1).toSet
      val got = Similarity.miningSets(
          corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
          vecs.take(1).map(_._2).toSeq.toDF("embedding"), "embedding",
          posK, hardK, randK)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.filter(_._1 == "positive").map(_._3).toSet == expectPos, s"seed=$seed pos")
      assert(got.filter(_._1 == "hard_negative").map(_._3).toSet == expectHard, s"seed=$seed hard")
      assert(got.filter(_._1 == "random_negative").map(_._3).toSet == expectRand, s"seed=$seed rand")
      // ranks: 1..posK, posK+1..posK+hardK, 1..randK — each band total
      assert(got.filter(_._1 == "positive").map(_._2).sorted.toSeq == (1L to posK),
        s"seed=$seed posrank")
      assert(got.filter(_._1 == "hard_negative").map(_._2).sorted.toSeq ==
        ((posK + 1).toLong to (posK + hardK)), s"seed=$seed hardrank")
      assert(got.filter(_._1 == "random_negative").map(_._2).sorted.toSeq == (1L to randK),
        s"seed=$seed randrank")
    }
  }

  test("knnJoinWithinCells matches the brute-force per-vector top-k") {
    import graft.ext.Similarity
    (1L to 3L).foreach { seed =>
      val vecGen = Gen.listOfN(30,
        Gen.listOfN(6, Gen.chooseNum(-3, 3).map(_.toFloat)).map(_.toArray))
        .suchThat(_.forall(v => v.exists(_ != 0f)))
      val vecs = sample(vecGen, seed).zipWithIndex
        .map { case (v, i) => (i.toLong, (i % 3).toInt, v) }
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        }
        if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      def r6(d: Double): Double =
        BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val k = 2
      val expect = vecs.flatMap { case (id, cell, v) =>
        vecs.filter(o => o._2 == cell && o._1 != id)
          .map(o => (o._1, r6(cos(v, o._3))))
          .sortBy { case (nid, sc) => (-sc, nid) }
          .take(k).zipWithIndex
          .map { case ((nid, sc), i) => (id, i + 1L, nid, sc) }
      }.toSet
      val got = Similarity.knnJoinWithinCells(
          vecs.toDF("vec_id", "cell", "embedding"),
          "vec_id", "embedding", "cell", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("stable split is a total function into {train,val,test}") {
    (1L to 5L).foreach { seed =>
      val keys = sample(Gen.listOfN(30, Gen.chooseNum(0L, 1000000L)), seed)
      val out = keys.toDF("k")
        .select(graft.ext.TextAnalysis.stableSplit(col("k")).as("s"))
        .distinct().as[String].collect().toSet
      assert(out.subsetOf(Set("train", "val", "test")), s"seed=$seed")
    }
  }

  test("fused minhash kernels equal the composable HOF path on generated text") {
    // unicode chars + runs of spaces + empty strings: the boundary cases
    // where a byte-range hash could diverge from the string-built path
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar,
      3 -> Gen.const(' '),
      1 -> Gen.oneOf('é', 'ß', '中', 'Я'))
    val textGen = Gen.listOfN(40, charGen).map(_.mkString)
    (1L to 10L).foreach { seed =>
      val texts = "" :: " " :: sample(Gen.listOfN(20, textGen), seed)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      for ((shingler, fused) <- Seq(
          (Dedup.WordShingles(3): Dedup.Shingler,
            graft.functions.MinHashText.minhash_word_shingles(col("text"), 3, 16)),
          (Dedup.CharShingles(4): Dedup.Shingler,
            graft.functions.MinHashText.minhash_char_shingles(col("text"), 4, 16)))) {
        val mismatch = df.select(
            fused.as("a"),
            graft.functions.MinHashSignature
              .minhash_signature(shingler("text"), 16).as("b"))
          .filter(col("a") =!= col("b")).count()
        assert(mismatch == 0, s"seed=$seed shingler=$shingler")
        // the fused shingle ARRAYS must equal the composable HOF form too
        // (exactJaccard materializes them for candidate verification)
        val shMismatch = df.select(
            shingler("text").as("f"), shingler.composable("text").as("r"))
          .filter(col("f") =!= col("r")).count()
        assert(shMismatch == 0, s"seed=$seed shingle-array parity $shingler")
      }
    }
  }

  test("fused stopword votes equal the composable HOF path on generated text") {
    // mix real stopwords from several languages with noise tokens and
    // irregular spacing — exercising tie-breaks and empty-token edges
    val tokGen = Gen.frequency(
      5 -> Gen.oneOf(graft.ext.TextAnalysis.stopwords.values.flatten.toSeq),
      3 -> Gen.alphaNumStr.map(_.take(6)),
      1 -> Gen.const(""))
    val textGen = Gen.listOfN(12, tokGen).map(_.mkString(" "))
    (1L to 10L).foreach { seed =>
      val texts = "" :: " " :: "  " :: sample(Gen.listOfN(25, textGen), seed)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val mismatch = df.select(
          graft.ext.TextAnalysis.langId(col("text")).as("fl"),
          graft.ext.TextAnalysis.langIdScore(col("text")).as("fs"),
          graft.ext.TextAnalysis.langIdComposable(col("text")).as("rl"),
          graft.ext.TextAnalysis.langIdScoreComposable(col("text")).as("rs"))
        .filter(col("fl") =!= col("rl") || col("fs") =!= col("rs")).count()
      assert(mismatch == 0, s"seed=$seed")
    }
  }

  test("binary header parsers terminate and never throw on arbitrary bytes") {
    // the decode stage's input is an arbitrary binary corpus — fuzz the
    // walkers with random payloads, plus adversarial prefixes that carry
    // valid magics followed by garbage chunk/segment structure
    val bytesGen = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    def withMagic(magic: Array[Byte], rest: Array[Byte]): Array[Byte] =
      magic ++ rest
    val riff = "RIFF1234WAVE".getBytes("US-ASCII")
    val pngSig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val jpegSig = Array(0xFF, 0xD8).map(_.toByte)
    (1L to 20L).foreach { seed =>
      val raw = sample(bytesGen, seed)
      for (payload <- Seq(raw, withMagic(riff, raw), withMagic(pngSig, raw),
          withMagic(jpegSig, raw))) {
        // must return (any value) without throwing; termination is implied
        graft.ext.AudioHeaders.wav(payload)
        graft.ext.ImageHeaders.decode(payload)
        graft.ext.StubDecoders.decodeImageMeta(payload)
        graft.ext.StubDecoders.decodeAudioMeta(payload)
      }
    }
  }
}
