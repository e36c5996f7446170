package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for the shapes AQE can't fix alone.
  *
  * AQE's skew-join splitting handles sort-merge joins at runtime; these
  * helpers cover the remaining patterns — skewed aggregations and
  * broadcast-infeasible skewed joins — with deterministic salting
  * (content-derived, not rand(), so results are reproducible and
  * retry-safe on task re-execution, which rand() salting is not).
  *
  * Measured boundary (planted-skew join soak, 50 M facts with 30 % on
  * one key, PERF.md round-9): salting a JOIN is a LOSS — 7–19× — while the hot
  * key still fits one task's sort budget, because the right side
  * replicates buckets× and every row of both sides pays a wider
  * sort; AQE-on plain SMJ beat everything. Reach for [[saltedJoin]]
  * only when one key's partition exceeds what a single task can
  * sort/spill, and prefer [[saltedAggregate]] (no replication cost)
  * for skewed GROUP BYs, where AQE has no mitigation at all.
  */
object SkewUtils {

  /** Deterministic salt in [0, buckets): hash of the whole row's key
    * columns plus a distinguishing column, stable across retries.
    */
  def salt(distinguishing: Column, buckets: Int): Column =
    pmod(xxhash64(distinguishing), lit(buckets))

  /** Two-phase salted aggregation for skewed group keys: partial
    * aggregation over (key, salt) spreads a hot key across `buckets`
    * reducers, the final phase re-aggregates per key. Caller supplies the
    * partial aggs and the matching final (re-)aggs, e.g.
    * partial `sum(x) as s` → final `sum(s) as s`.
    */
  def saltedAggregate(
      df: DataFrame,
      keys: Seq[String],
      distinguishing: Column,
      buckets: Int,
      partialAggs: Seq[Column],
      finalAggs: Seq[Column]): DataFrame = {
    val salted = df.withColumn("_salt", salt(distinguishing, buckets))
    val partial = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Salted equi-join for a skewed left side against a small-ish right
    * side that still exceeds the broadcast threshold: left rows get a
    * deterministic salt, right rows are replicated once per salt value,
    * and the join key becomes (key, salt) — a hot key spreads over
    * `buckets` tasks at the cost of replicating the right side
    * `buckets`×.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      distinguishing: Column,
      buckets: Int): DataFrame = {
    // repartition BEFORE the explode: a single-file right side would
    // otherwise replicate buckets× inside one task (the explode runs
    // upstream of the join's exchange, so its parallelism is the scan's —
    // measured 3.2 s serial CPU on a 1-file orders table at sf0.1). One
    // cheap shuffle of the un-replicated rows spreads the buckets× blowup
    // across the cluster.
    val parallelism = right.sparkSession.sparkContext.defaultParallelism
    val saltedLeft = left.withColumn("_salt", salt(distinguishing, buckets))
    val replicatedRight = right.repartition(parallelism).withColumn("_salt",
      explode(sequence(lit(0L), lit((buckets - 1).toLong))))
    saltedLeft.join(replicatedRight, Seq(key, "_salt")).drop("_salt")
  }

  /** Deterministic heavy-hitter detection on a hash-sample: rows where
    * `xxhash64(distinguishing, seed) % sampleOneIn == 0` are counted per
    * key, and keys whose estimated full count reaches `minCount` are
    * returned. The sample hashes a row-DISTINGUISHING column, never the
    * key itself — hashing the key would include each key's rows
    * all-or-nothing and miss hot keys entirely. Hash-sampling (not
    * `rand()`) keeps the sample — and thus the plan — identical across
    * retries and re-runs. The result is expected to be tiny (it is a
    * heavy-hitter set by construction) and is broadcast by the callers
    * below.
    */
  def hotKeys(
      df: DataFrame,
      key: String,
      distinguishing: Column,
      sampleOneIn: Int,
      minCount: Long): DataFrame = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1, got $sampleOneIn")
    val sampledCutoff = math.max(1L, minCount / sampleOneIn)
    df.filter(pmod(xxhash64(distinguishing, lit("hot-sample")), lit(sampleOneIn)) === 0)
      .groupBy(key)
      .count()
      .filter(col("count") >= sampledCutoff)
      .select(key)
  }

  /** Production form of the salted join: salt ONLY detected heavy-hitter
    * keys. Uniform keys join on salt 0 with an un-replicated right side —
    * no blowup — while each hot key spreads over `buckets` reducers with
    * the right side replicated for that key alone. Result-identical to the
    * plain equi-join for any hot-key set, so skew mitigation can never
    * change answers (property-tested in SkewUtilsSpec).
    */
  def saltedJoinHotKeys(
      left: DataFrame,
      right: DataFrame,
      key: String,
      distinguishing: Column,
      buckets: Int,
      sampleOneIn: Int = 64,
      minCount: Long = 100000L): DataFrame = {
    val hot = hotKeys(left, key, distinguishing, sampleOneIn, minCount)
      .withColumn("_hot", lit(true))
    val saltedLeft = left
      .join(broadcast(hot), Seq(key), "left")
      .withColumn("_salt",
        when(col("_hot"), salt(distinguishing, buckets)).otherwise(lit(0L)))
      .drop("_hot")
    val replicatedRight = right
      .join(broadcast(hot), Seq(key), "left")
      .withColumn("_salt",
        explode(when(col("_hot"), sequence(lit(0L), lit((buckets - 1).toLong)))
          .otherwise(array(lit(0L)))))
      .drop("_hot")
    saltedLeft.join(replicatedRight, Seq(key, "_salt")).drop("_salt")
  }
}
