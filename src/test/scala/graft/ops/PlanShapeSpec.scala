package graft.ops

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec
import graft.ext.Dedup

/** Physical-plan REGRESSION gate for the headline queries: the audited
  * plan shapes (shuffle-exchange count, broadcast vs sort-merge join,
  * no cartesian products) are snapshotted here so a plan regression —
  * a lost broadcast, an extra shuffle from a refactor, a join reorder
  * gone wrong — fails in CI instead of surfacing as a bench-diff
  * surprise a round later. Bounds are ≤ the audited counts (AQE and
  * stats drift may only ever REMOVE work); join-strategy expectations
  * are exact because they are structural, not statistical.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private final case class Shape(
      shuffles: Int, bcast: Int, bhj: Int, smj: Int, cartesian: Int)

  private def shape(name: String): Shape = {
    val plan = graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
    // cached intermediates (the eager-materialize-then-unpersist pattern
    // the oriented pairing uses) EMBED their build plan under the
    // InMemoryTableScan node in explain output, but that subtree was
    // executed once at build — only operators ABOVE the cache boundary
    // run when this query executes, so the audit must stop there. The
    // embedded subtree renders at deeper indentation than the scan node.
    val lines0 = plan.split("\n")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var skipDeeperThan = -1
    def indent(s: String): Int = s.takeWhile(c => !c.isLetter && c != '*').length
    for (l <- lines0) {
      val ind = indent(l)
      if (skipDeeperThan >= 0 && ind <= skipDeeperThan) skipDeeperThan = -1
      if (skipDeeperThan < 0) {
        out += l
        if (l.contains("InMemoryTableScan") || l.contains("InMemoryRelation"))
          skipDeeperThan = ind
      }
    }
    val lines = out.toSeq
    def c(s: String) = lines.count(_.contains(s))
    val bcastX = c("BroadcastExchange")
    // broadcast-join PRESENCE is audited over the FULL tree (a >= check,
    // safe under the embedded-subtree duplication): the build phase's
    // joins are part of the executed work even though they ran at cache
    // build. SMJ/cartesian are banned over the full tree for the same
    // reason; the shuffle BOUND applies to the per-run outer plan.
    val full = lines0
    def cf(s: String) = full.count(_.contains(s))
    Shape(c("Exchange ") - bcastX, bcastX, cf("BroadcastHashJoin"),
      cf("SortMergeJoin"), cf("CartesianProduct"))
  }

  // name → (max shuffle exchanges, min broadcast joins, max sort-merge joins)
  private val audited: Seq[(String, Int, Int, Int)] = Seq(
    ("q_scan", 1, 0, 0),             // orderBy only
    ("q_filter", 1, 0, 0),           // pushdown + orderBy
    ("q_topk", 0, 0, 0),             // TakeOrdered, never a full sort
    ("q_agg", 2, 0, 0),              // partial+final agg, orderBy
    ("q_dedup_exact", 2, 0, 0),      // one keyed agg + orderBy
    ("q_join_broadcast", 2, 1, 0),   // dim side MUST broadcast
    ("q_join_sortmerge", 4, 0, 1),   // fact-fact stays SMJ
    ("q_sim_topk", 0, 0, 0),         // probes broadcast, corpus unshuffled
    ("q_lm_backoff", 9, 5, 0),       // five count-table joins, all broadcast at sf
    ("q_media_curate_engine", 4, 1, 0),
    ("q_curate_dispatch", 1, 0, 0),  // five map arms + certificate sort
    ("q_span_index", 4, 1, 1),
    // round 14: the D4-orbit pairing's verification joins MUST broadcast
    // (the orbit table is id-bounded) and the pipeline stays banded —
    // a cartesian or SMJ here is the all-pairs regression
    // (re-audited round 15: the pairing materializes eagerly behind a
    // cache boundary, so the per-run plan is cache-scan + aggregate; the
    // >=2 broadcast verification joins are asserted over the full tree)
    ("q_dedup_image_orient_anchor", 2, 2, 0),
    ("q_mp3_roundtrip", 2, 0, 0),   // repartition + final aggregate only
    ("q_vorbis_roundtrip", 2, 0, 0),
    // round 15: both new certificates are map-only per doc + one final
    // aggregate — any join/extra shuffle here is a regression
    ("q_webp_lossy_roundtrip", 2, 0, 0),
    ("q_dedup_audio_offset_anchor", 2, 0, 0),
    // round 16: the video-thumbnail plant rides the banded Hamming
    // pairing — both verification joins MUST broadcast (id-bounded
    // hash tables), banding is the only shuffle family; the CCITT
    // certificate is map-only per doc + certificate sort
    ("q_video_thumb_anchor", 3, 2, 0),
    ("q_tiff_ccitt", 2, 0, 0))

  audited.foreach { case (name, maxShuffles, minBhj, maxSmj) =>
    test(s"$name plan shape holds (≤$maxShuffles shuffles, ≥$minBhj bcast join, ≤$maxSmj SMJ)") {
      val s = shape(name)
      assert(s.cartesian == 0, s"cartesian product appeared: $s")
      assert(s.shuffles <= maxShuffles,
        s"shuffle count regressed: $s (audited ≤$maxShuffles)")
      assert(s.bhj >= minBhj,
        s"a broadcast join was lost: $s (audited ≥$minBhj)")
      assert(s.smj <= maxSmj,
        s"a join fell back to sort-merge: $s (audited ≤$maxSmj)")
    }
  }

  // ---- candidatePairs: the sort-scan shape every LSH/Hamming path takes

  private def bandTable = {
    import spark.implicits._
    (0 until 400).map(i => (i % 3, (i % 37).toLong, (i * 7919 % 400).toLong))
      .toDF("band_id", "band_hash", "doc_id")
  }

  test("candidatePairs: one exchange on the bucket key ahead of the distinct, no collect_list aggregate") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (on <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", on)
        val df = Dedup.candidatePairs(bandTable, "doc_id", maxBucket = 8)
        assert(df.collect().nonEmpty)
        val plan = df.queryExecution.executedPlan
        def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
          case other => Seq(other.toString)
        }
        val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
        assert(exchanges.map(keys).toSet == Set(Seq("band_id", "band_hash"), Seq("id1", "id2")) &&
          exchanges.size == 2, s"aqe=$on: ${exchanges.map(keys)}")
        // the bucket-key exchange feeds the distinct's exchange
        val distinctX = exchanges.find(keys(_) == Seq("id1", "id2")).get
        assert(collect(distinctX.child) { case e: ShuffleExchangeExec => keys(e) } ==
          Seq(Seq("band_id", "band_hash")), s"aqe=$on")
        assert(collect(plan) {
          case a: ObjectHashAggregateExec => a
          case a: SortAggregateExec => a
        }.isEmpty, s"aqe=$on")
        assert(!collect(plan) { case a: BaseAggregateExec => a }
          .flatMap(_.aggregateExpressions)
          .exists(_.aggregateFunction.isInstanceOf[CollectList]), s"aqe=$on")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("two builds of candidatePairs over the same input are sameResult, so a persisted build is found again") {
    val bands = bandTable
    val a = Dedup.candidatePairs(bands, "doc_id", maxBucket = 8)
    val b = Dedup.candidatePairs(bands, "doc_id", maxBucket = 8)
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    assert(!a.queryExecution.analyzed.sameResult(
      Dedup.candidatePairs(bands, "doc_id", maxBucket = 9).queryExecution.analyzed))
    // storageLevel asks the cache manager for b's plan
    a.persist()
    try assert(b.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    finally a.unpersist(blocking = true)
  }
}
