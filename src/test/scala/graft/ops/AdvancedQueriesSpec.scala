package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Dedup

/** Semantics checks for the round-7 query family beyond the per-query
  * smoke/oracle gates: HLL sketch merge algebra and containment asymmetry.
  */
class AdvancedQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("sharded HLL merge equals the monolithic sketch, within 5% of exact") {
    val ev = Tables.events(spark, sfDir)
    val sharded = ev
      .withColumn("shard", (col("user_id") % 8).cast("long"))
      .groupBy("event_type", "shard")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
    val mono = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
    val s = sharded.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = mono.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = exact.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s == m, "shard-merge must be estimate-identical to one big sketch")
    e.foreach { case (k, n) =>
      assert(math.abs(s(k) - n).toDouble / n < 0.05,
        s"$k: estimate ${s(k)} vs exact $n drifts > 5%")
    }
  }

  test("sharded count-min merge equals the monolithic sketch on every probe") {
    // the mergeability claim behind q_heavy_hitters_cms, isolated: the
    // driver-side mergeInPlace of per-shard blobs must estimate exactly
    // what one monolithic sketch over the full data estimates
    import org.apache.spark.util.sketch.CountMinSketch
    val toks = Tables.documents(spark, sfDir)
      .select((col("doc_id") % 8).as("shard"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
    def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Array[Byte]] =
      df.collect().map(_.getAs[Array[Byte]]("cms"))
    val shardBlobs = sketchOf(toks.groupBy("shard")
      .agg(expr("count_min_sketch(tok, 0.0001d, 0.99d, 42)").as("cms")))
    val monoBlob = sketchOf(toks.groupBy()
      .agg(expr("count_min_sketch(tok, 0.0001d, 0.99d, 42)").as("cms"))).head
    val merged = shardBlobs.map(b => CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)))
      .reduceLeft { (a, b) => a.mergeInPlace(b); a }
    val mono = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(monoBlob))
    val vocab = toks.select("tok").distinct().collect().map(_.getString(0))
    assert(vocab.nonEmpty)
    vocab.foreach { t =>
      val k = t.getBytes("UTF-8")
      assert(merged.estimateCount(k) == mono.estimateCount(k), t)
    }
    assert(merged.totalCount() == mono.totalCount())
  }

  test("containment is asymmetric: embedded doc scores 1 against its container") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      // 2 CONTAINS 1 verbatim plus much more text
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val r = Dedup.exactContainment(pairs, docs, "doc_id", "text",
      Dedup.WordShingles(3)).collect().head
    assert(r.getDouble(2) == 1.0, "all of doc 1's shingles appear in doc 2")
    assert(r.getDouble(3) < 0.2, "doc 2 is mostly NOT covered by doc 1")
    // Jaccard on the same pair is low — the case containment exists for
    val j = Dedup.exactJaccard(pairs, docs, "doc_id", "text",
      Dedup.WordShingles(3)).collect().head.getDouble(2)
    assert(j < 0.2)
  }

  test("empty shingle side scores 0, not null") {
    val docs = Seq((1L, ""), (2L, "some actual text here")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val r = Dedup.exactContainment(pairs, docs, "doc_id", "text",
      Dedup.WordShingles(3)).collect().head
    assert(!r.isNullAt(2) && !r.isNullAt(3))
  }

  test("q_join_bucketed: co-located join — bucketed scans, one exchange, one sort") {
    // the join itself must consume bucket files directly: the ONLY
    // hash exchange is the downstream groupBy, the ONLY sort is the
    // final ORDER BY — neither belongs to the join subtree
    val df = graft.SparkEntry.queries("q_join_bucketed")(spark, sfDir)
    df.collect() // AQE: final plan forms after execution
    // AQE's toString echoes the Initial Plan too — assert on the final
    // section only
    val plan = df.queryExecution.executedPlan.toString
      .split(java.util.regex.Pattern.quote("== Initial Plan ==")).head
    assert(plan.contains("Bucketed: true"), s"scans not bucketed:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 16 out of 16"), plan)
    def occurs(p: String, needle: String) = p.split(java.util.regex.Pattern.quote(needle)).length - 1
    assert(occurs(plan, "Exchange hashpartitioning") == 1,
      s"join subtree should be exchange-free (1 = the groupBy):\n$plan")
    // the SMJ's remaining sorts are partition-LOCAL (global=false) over
    // already-sorted bucket files — O(n) merge detection, no shuffle;
    // the only global sort is the final ORDER BY
    assert(occurs(plan, "], true, 0") == 1,
      s"exactly one GLOBAL sort (the ORDER BY) expected:\n$plan")
    // and the layout never changes the answer: hash-equal to the
    // shuffle form computing the same aggregate
    val viaShuffle = graft.ops.Tables.lineitem(spark, sfDir).hint("merge")
      .join(graft.ops.Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority", "l_returnflag")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val viaBuckets = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(viaBuckets.toSeq == viaShuffle.toSeq)
  }

  test("ensureBucketedFacts: per-corpus tags never collide; rebuild survives stale locations") {
    val d1 = sfDir
    val d2 = "/root/testdata/sf0.01"
    val (lt1, ot1) = RelationalQueries.ensureBucketedFacts(spark, d1)
    val (lt2, ot2) = RelationalQueries.ensureBucketedFacts(spark, d2)
    // md5-hex tags: distinct per corpus dir (the old 32-bit hashCode tag
    // could collide and silently serve the wrong corpus' bucketed twin)
    assert(lt1 != lt2 && ot1 != ot2, "per-corpus table tags must differ")
    val n1 = spark.table(lt1).count()
    val n2 = spark.table(lt2).count()
    assert(n1 == Tables.lineitem(spark, d1).count(),
      s"$lt1 must serve $d1's lineitem")
    assert(n2 == Tables.lineitem(spark, d2).count(),
      s"$lt2 must serve $d2's lineitem")
    assert(n1 != n2, "the two SFs differ, so the twins must too")
    // fresh-JVM shape: memo gone, catalog entries gone, the external
    // /tmp/graft_bkt_* location still on disk — the rebuild must
    // overwrite the stale location, not fail (the TokenizerStore
    // stale-location class applied to the bucketed twins)
    Seq(lt1, ot1).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val (lt1b, ot1b) = RelationalQueries.ensureBucketedFacts(spark, d1)
    assert((lt1b, ot1b) == ((lt1, ot1)), "tag must be stable across rebuilds")
    assert(spark.table(lt1b).count() == n1)
    // memo hit with a live catalog serves without rebuilding (names equal)
    assert(RelationalQueries.ensureBucketedFacts(spark, d1) == ((lt1, ot1)))
  }
}
