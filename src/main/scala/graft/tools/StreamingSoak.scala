package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.commons.io.FileUtils

/** Round-8 streaming scale soak: the Structured-Streaming operator family
  * (tumbling / sliding / session windows, watermark dedup, custom
  * flatMapGroupsWithState) driven over a 40 M-event ordered replay in
  * many micro-batches — 100× the sf0.1 corpus the correctness replays
  * use. Reports wall time, throughput, micro-batch count, and the
  * state-store metrics (rows, memory) that decide whether the state
  * width derivation (`RelationalQueries.stateWidthFor`: one partition
  * per ~32 MB input, so width GROWS with data) holds at scale.
  *
  * Event time advances with file order and every stage carries a
  * watermark, so state is bounded by the watermark horizon — the soak
  * verifies eviction actually bounds it (state rows ≪ input rows).
  *
  * Usage: runMain graft.tools.StreamingSoak [nEvents] [nFiles] [filesPerBatch]
  *        (defaults 40M, 64, 8 → 8 micro-batches)
  */
object StreamingSoak {

  /** Write-once ordered 30-day event corpus in `nFiles` contiguous time
    * slices (file order == time order, so AvailableNow batches advance
    * the watermark monotonically); returns the parquet dir. Shared with
    * [[SessionTune]].
    */
  def corpus(spark: SparkSession, nEvents: Long, nFiles: Int): String = {
    val dir = s"/tmp/graft_streamsoak_${nEvents}_$nFiles"
    Harness.materialize(spark, dir) {
      val spanUs = 30L * 24 * 3600 * 1000000
      val stepUs = math.max(1L, spanUs / nEvents) // id*spanUs would overflow
      spark.range(0, nEvents, 1, nFiles)
        .select(
          col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            col("id") * lit(stepUs)).as("ts"),
          pmod(hash(col("id")), lit(1000000)).cast("long").as("user_id"),
          concat(lit("t"), pmod(col("id"), lit(5))).as("event_type"),
          (pmod(hash(col("id"), lit(7)), lit(10000)) / lit(100.0)).as("value"))
    }
    dir
  }

  /** The micro-batches a replay ran and its end-of-run state-store
    * footprint.
    */
  final case class Replay(batches: Int, stateRows: Long, stateMb: Double)

  /** One bounded replay as a metered step: `agg` runs AvailableNow to a
    * noop sink from a fresh checkpoint under /dev/shm, with `confs` set
    * while it is built and started (the stream keeps the confs it started
    * with). Shared with [[SessionTune]].
    */
  def replay(spark: SparkSession, name: String, mode: String = "append",
      confs: Map[String, String] = Map.empty)(agg: => DataFrame): Harness.Step[Replay] = {
    val ck = new java.io.File(s"/dev/shm/graft_replay_$name")
    FileUtils.deleteQuietly(ck)
    try Harness.step(spark) {
      val q = Harness.withConf(spark, confs) {
        agg.writeStream.outputMode(mode).format("noop")
          .option("checkpointLocation", ck.getPath)
          .trigger(Trigger.AvailableNow()).start()
      }
      try {
        q.awaitTermination()
        val progress = q.recentProgress
        val st = progress.reverseIterator
          .find(p => p.stateOperators != null && p.stateOperators.nonEmpty)
          .map(_.stateOperators)
        Replay(progress.length, st.map(_.map(_.numRowsTotal).sum).getOrElse(0L),
          st.map(_.map(_.memoryUsedBytes).sum / 1e6).getOrElse(0.0))
      } finally q.stop()
    } finally FileUtils.deleteQuietly(ck)
  }

  /** Prints a replay of `nEvents` events: wall, throughput, batches and
    * state footprint.
    */
  def report(prefix: String, name: String, nEvents: Long, s: Harness.Step[Replay]): Unit =
    s.report(prefix, name, f"${nEvents / s.wallS / 1e6}%6.2f M ev/s  batches=${s.value.batches}%2d" +
      f"  stateRows=${s.value.stateRows}%,12d  stateMB=${s.value.stateMb}%8.1f")

  /** Micro-batch floor certification (`runMain ... floor`): the bench's
    * q_stream_* family sits at 1–2.4 s per query by design (bounded
    * multi-batch replays — the multi-batch path IS the certificate).
    * This measures that the cost is TRIGGER MACHINERY, not data work:
    * the same tumbling aggregation is replayed (a) at 100× and 400×
    * the events with the batch count pinned — wall must stay flat —
    * and (b) at 2/4/8/16 batches with the events pinned — wall must be
    * ~affine in batches. Together: wall ≈ a + b·batches, invariant to
    * data size at bench scale, so the ~9 s the six ≥1 s stream queries
    * cost is N_batches × T_trigger, shrinkable only by cutting batch
    * counts (which would weaken the certificates), not by optimizing
    * data paths. Numbers land in PERF.md.
    */
  private def floorCert(spark: SparkSession): Unit = {
    val schemaDir = corpus(spark, 10000L, 16)
    val schema = spark.read.parquet(schemaDir).schema
    def run(nEvents: Long, nFiles: Int): Unit = {
      val dir = corpus(spark, nEvents, nFiles)
      val s = replay(spark, s"floor_${nEvents}_$nFiles") {
        graft.streaming.StreamOps.tumblingCounts(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
          "ts", "event_type", "1 hour", "1 hour")
      }
      s.report("ssoak", f"floor events=$nEvents%,10d",
        f"files=$nFiles%2d batches=${s.value.batches}%2d  (${s.wallS / s.value.batches}%5.2f s/batch)")
    }
    println("[ssoak] -- data-invariance at pinned batch count (4) --")
    Seq((10000L, 4), (1000000L, 4), (4000000L, 4)).foreach { case (e, f) => run(e, f) }
    println("[ssoak] -- batch-linearity at pinned events (10k) --")
    Seq((10000L, 2), (10000L, 4), (10000L, 8), (10000L, 16)).foreach { case (e, f) => run(e, f) }
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(32, 32)
    if (args.headOption.contains("floor")) {
      floorCert(spark)
      spark.stop()
      return
    }
    val nEvents = args.headOption.map(_.toLong).getOrElse(40000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val filesPerBatch = args.lift(2).map(_.toInt).getOrElse(8)
    import spark.implicits._

    val dir = corpus(spark, nEvents, nFiles)
    val schema = spark.read.parquet(dir).schema
    println(s"[ssoak] events=$nEvents files=$nFiles filesPerBatch=$filesPerBatch")

    def source(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch).parquet(dir)

    def soak(name: String, mode: String = "append")(agg: => DataFrame): Unit =
      report("ssoak", name, nEvents, replay(spark, name, mode)(agg))

    soak("tumbling_1h")(graft.streaming.StreamOps
      .tumblingCounts(source(), "ts", "event_type", "1 hour", "30 minutes"))
    soak("sliding_1h_15m")(graft.streaming.StreamOps
      .slidingCounts(source(), "ts", "event_type", "1 hour", "15 minutes",
        "30 minutes"))
    soak("session_gap30m")(graft.streaming.StreamOps
      .sessionCounts(source(), "ts", "user_id", "30 minutes", "30 minutes"))
    soak("dedup_watermark")(graft.streaming.StreamOps
      .dedupWithinWatermark(
        source().withColumn("dup_key", col("event_id") % (nEvents / 2)),
        "ts", Seq("dup_key"), "30 minutes"))
    soak("fmgws_running", "update") {
      val ev = source()
        .select(col("user_id").as("key"), col("ts"),
          floor(col("value") * lit(10000.0)).cast("double").as("value"))
        .as[graft.streaming.Stateful.KeyedEvent]
      graft.streaming.Stateful.runningStats(ev).toDF()
    }

    spark.stop()
  }
}
