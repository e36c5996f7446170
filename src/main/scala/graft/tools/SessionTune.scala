package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Session-window state-store tuning matrix (round-9 verdict #3): the
  * session stage ran ~5× below its streaming siblings in the 80 M soak
  * (PERF.md) — correct and horizon-bounded, but it would dominate a real
  * deployment. This tool replays ONLY the session stage over the
  * StreamingSoak corpus under the candidate configurations:
  *
  *   - local-merge: `spark.sql.streaming.sessionWindow.merge.sessions.in
  *     .local.partition` — pre-merges each partition's sessions BEFORE
  *     the shuffle, trading a per-partition sort for fewer shuffled rows
  *     and less state-merge work.
  *   - RocksDB state store provider (vs the default HDFS-backed heap
  *     map) — off-heap state with incremental checkpointing.
  *   - state width (shuffle partitions at first checkpoint).
  *
  * Usage: runMain graft.tools.SessionTune [nEvents] [nFiles] [filesPerBatch]
  */
object SessionTune {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(40000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val filesPerBatch = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = Harness.session(32, 32)

    val dir = StreamingSoak.corpus(spark, nEvents, nFiles)
    val schema = spark.read.parquet(dir).schema
    println(s"[stune] events=$nEvents files=$nFiles filesPerBatch=$filesPerBatch")

    def source(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch).parquet(dir)

    val LocalMerge = "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition"
    val Provider = "spark.sql.streaming.stateStore.providerClass"
    val RocksDb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

    def sessions(src: DataFrame): DataFrame = graft.streaming.StreamOps
      .sessionCounts(src, "ts", "user_id", "30 minutes", "30 minutes")
    def fastSessions(src: DataFrame): DataFrame = graft.streaming.StreamOps
      .sessionCountsFast(src, "ts", "user_id", "30 minutes", "30 minutes")

    // wall clock on this host is noisy (2× swings between identical
    // runs); the replay's executor CPU time + shuffle volume are the
    // contention-independent cost of the variant
    def run(name: String, confs: Map[String, String], statePartitions: Int = 32,
        build: DataFrame => DataFrame = sessions): Unit =
      StreamingSoak.report("stune", name, nEvents, StreamingSoak.replay(spark, name,
        confs = confs + ("spark.sql.shuffle.partitions" -> statePartitions.toString))(
        build(source())))

    val Changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    args.lift(3).getOrElse("round1") match {
      case "round1" =>
        run("baseline_hdfs32", Map.empty)
        run("local_merge", Map(LocalMerge -> "true"))
        run("rocksdb", Map(Provider -> RocksDb))
        run("rocksdb_local_merge", Map(Provider -> RocksDb, LocalMerge -> "true"))
        run("local_merge_w8", Map(LocalMerge -> "true"), statePartitions = 8)
        run("local_merge_w64", Map(LocalMerge -> "true"), statePartitions = 64)
      case "round2" =>
        run("local_merge_w4", Map(LocalMerge -> "true"), statePartitions = 4)
        run("local_merge_w16", Map(LocalMerge -> "true"), statePartitions = 16)
        run("rocksdb_chlog_lm_w8",
          Map(Provider -> RocksDb, Changelog -> "true", LocalMerge -> "true"),
          statePartitions = 8)
      case "round3" =>
        // micro-batch sizing sweep: same data, fewer/larger batches (the
        // filesPerBatch CLI arg) — isolates per-batch fixed cost
        run("lm_w8_fpb", Map(LocalMerge -> "true"), statePartitions = 8)
        run("lm_w32_fpb", Map(LocalMerge -> "true"))
      // round-17 scale evidence: the state-width sweep at a corpus where
      // stateWidthFor's derived width exceeds the measured floor of 4 —
      // does the derived width actually win past the floor?
      case "widths" =>
        Seq(1, 4, 8, 16, 32).foreach(w =>
          run(s"session_w$w", Map.empty, statePartitions = w))
      case "widths:fast" =>
        Seq(1, 4, 8, 16, 32).foreach(w =>
          run(s"fmgws_w$w", Map.empty, w, fastSessions))
      // one variant per JVM, for clean A/B runs
      case "only:base" => run("baseline_hdfs32", Map.empty)
      case "only:lm"   => run("local_merge", Map(LocalMerge -> "true"))
      case "only:rocks" => run("rocksdb", Map(Provider -> RocksDb))
      case "only:fast" =>
        // the fMGWS sessionizer (StreamOps.sessionCountsFast) — same
        // sessions, hand-rolled state machine (oracle-certified by
        // q_stream_session_fast)
        run("fmgws_sessions", Map.empty, build = fastSessions)
      case "only:dense" =>
        // dense-key replay: 1 k session keys instead of 1 M — the regime
        // where per-partition pre-merge has sessions to actually merge
        def dense(src: DataFrame): DataFrame =
          sessions(src.withColumn("user_id", pmod(col("user_id"), lit(1000L))))
        run("dense_base", Map.empty, build = dense)
        run("dense_lm", Map(LocalMerge -> "true"), build = dense)
      case other => sys.error(s"unknown variant set: $other")
    }
    spark.stop()
  }
}
