package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The declared-query timer: times DECLARED queries by name in a fresh
  * JVM (sbt forks), under controlled conf overrides, plus the
  * experiment-only Q21 rewrite (`x_q21_agg`) so the contested
  * aggregate-vs-semi/anti decision can be re-measured WITHOUT touching
  * the declared query.
  *
  * Usage:
  *   runMain graft.tools.ScaleExperiments <sfDir> <reps> \
  *     [--conf k=v]... [--check] [--json=PATH] [<queryName|x_q21_agg>...]
  *
  * With no query names the watch set below is timed. `--check` proves
  * `x_q21_agg` equal to the declared q_tpch_q21 before any timing.
  * `--json=PATH` also writes every rep's wall and cost, with the run's
  * config, to PATH (or PATH's `_runN` twin if PATH exists, as Bench does).
  *
  * Conf overrides of interest (guide §2.3/§3.1):
  *   spark.io.compression.codec=zstd            (shuffle codec experiment)
  *   spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64MB
  *                                              (AQE SMJ→SHJ experiment)
  * State width for the replay queries is overridden via the
  * SPARK_GRAFT_STATE_WIDTH env var (see RelationalQueries.stateWidthFor).
  *
  * Methodology mirrors Bench: one untimed warmup pass per query, then
  * `reps` timed passes (odd, so the median is a middle element);
  * CacheUtils.releaseAll after every run. Each rep prints its wall, its
  * cost and its stages slower than 0.15 s; each query then prints min
  * (floor), median, and executor CPU, shuffle write and driver-only
  * seconds (wall that no job covered) per rep.
  */
object ScaleExperiments {

  /** Probed when no names are given: queries whose bench numbers have
    * needed adjudication (two rounds of 0.94–0.96× hovering earns an
    * entry), plus the newest cost-bearing paths.
    */
  val WatchSet = Seq(
    "q_span_index", "q_7z_extract", "q_classifier_train", "q_zip_methods",
    "q_mp3_roundtrip", "q_webp_lossy_roundtrip", "q_recursive_cte",
    "q_dedup_audio_incremental", "q_kmeans",
    "q_dedup_image_anchor", "q_dedup_image_orient_anchor",
    "q_tiff_ccitt", "q_video_thumb_anchor",
    "q_hamming_absorb", "q_hamming_index",
    "q_lm_score", "q_web_curate_engine")

  /** The session confs of Bench, which the timings must be comparable to. */
  val BenchConfs: Map[String, String] = Harness.NanosAsLong ++ Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  final case class Config(sfDir: String, reps: Int, confs: Map[String, String],
      check: Boolean, json: Option[String], names: Seq[String])

  private val Usage = "usage: ScaleExperiments <sfDir> <reps> [--conf k=v]... " +
    "[--check] [--json=PATH] [queryName|x_q21_agg]..."

  /** The arguments, checked before any session starts. */
  def parse(args: Seq[String]): Config = {
    require(args.length >= 2, Usage)
    val reps = args(1).toIntOption.getOrElse(0)
    require(reps >= 1 && reps % 2 == 1,
      s"reps must be a positive odd number (the median is a middle element), got '${args(1)}'")
    @annotation.tailrec
    def flags(rest: List[String], cfg: Config): Config = rest match {
      case "--conf" :: kv :: tail =>
        require(kv.contains('='), s"--conf expects key=value, got '$kv'")
        val Array(k, v) = kv.split("=", 2)
        flags(tail, cfg.copy(confs = cfg.confs + (k -> v)))
      case "--check" :: tail => flags(tail, cfg.copy(check = true))
      case a :: tail if a.startsWith("--json=") =>
        val p = a.stripPrefix("--json=")
        require(p.endsWith(".json"), s"--json path must end in .json, got '$p'")
        flags(tail, cfg.copy(json = Some(p)))
      case a :: _ if a.startsWith("--") =>
        throw new IllegalArgumentException(s"'$a' without its value, or an unknown flag; $Usage")
      case q :: tail =>
        require(q == "x_q21_agg" || graft.SparkEntry.queries.contains(q), s"unknown query '$q'")
        flags(tail, cfg.copy(names = cfg.names :+ q))
      case Nil => cfg
    }
    val cfg = flags(args.drop(2).toList, Config(args.head, reps, Map.empty, false, None, Nil))
    if (cfg.names.isEmpty) cfg.copy(names = WatchSet) else cfg
  }

  /** The round-16 Q21 rewrite (per-(order,supplier) max-shipdate
    * aggregate + same-key window stats + join back), reconstructed from
    * OPTIMIZATION_r16.md finding 2 for the sf1 re-measure. Semantics: a
    * row l1 of (order o, supplier s) counts iff o has another supplier
    * (EXISTS) and no other supplier of o shipped strictly later than l1
    * (NOT EXISTS) — i.e. l1.shipdate >= max over other suppliers'
    * max-shipdates. The tool's --check flag proves result equality
    * against the declared q_tpch_q21 before timing is trusted.
    */
  def q21Agg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = s.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val g = l.groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("ms"))
    val w = Window.partitionBy("l_orderkey")
    val stats = g
      .withColumn("nsupp", count(lit(1)).over(w))
      .withColumn("mx", max(col("ms")).over(w))
      .withColumn("nmx",
        sum(when(col("ms") === col("mx"), 1L).otherwise(0L)).over(w))
      .withColumn("mx2", max(when(col("ms") =!= col("mx"), col("ms"))).over(w))
      .filter(col("nsupp") >= 2)
      .withColumn("mother",
        when(col("ms") === col("mx") && col("nmx") === 1, col("mx2"))
          .otherwise(col("mx")))
      .select("l_orderkey", "l_suppkey", "mother")
    l.join(stats, Seq("l_orderkey", "l_suppkey"))
      .filter(col("l_shipdate") >= col("mother"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).cast("long").as("numwait"))
      .orderBy(desc("numwait"), col("l_suppkey"))
      .limit(50)
  }

  /** Runs `cfg` on `spark` (its confs must already be set on it); returns
    * the JSON record, which is also written to `cfg.json` when set.
    */
  def run(spark: SparkSession, cfg: Config): String = {
    val sc = spark.sparkContext
    println(s"[scalex] sfDir=${cfg.sfDir} master=${sc.master} " +
      s"parallelism=${sc.defaultParallelism} reps=${cfg.reps} confs=${cfg.confs} " +
      s"stateWidthEnv=${sys.env.get("SPARK_GRAFT_STATE_WIDTH")}")
    def build(name: String): DataFrame = name match {
      case "x_q21_agg" => q21Agg(spark, cfg.sfDir)
      case n => graft.SparkEntry.queries(n)(spark, cfg.sfDir)
    }

    if (cfg.check) {
      val a = build("x_q21_agg").collect().map(_.toSeq).toSeq
      val b = build("q_tpch_q21").collect().map(_.toSeq).toSeq
      println(s"[scalex] q21 equivalence: agg=${a.size} rows, " +
        s"declared=${b.size} rows, equal=${a == b}")
      require(a == b, "x_q21_agg differs from declared q_tpch_q21")
      graft.ops.CacheUtils.releaseAll(spark)
    }

    val queries = cfg.names.map { n =>
      // untimed warmup (Bench methodology: codegen/JIT absorbed)
      build(n).count(); graft.ops.CacheUtils.releaseAll(spark)
      val steps = (0 until cfg.reps).map { r =>
        val s = Harness.step(spark)(build(n).count())
        graft.ops.CacheUtils.releaseAll(spark)
        s.report("scalex", s"$n rep$r")
        s.cost.stages.filter(_.wallMs > 150).foreach { st =>
          println(f"[stage] ${st.id}%4d tasks=${st.tasks}%3d wall=${st.wallMs / 1e3}%6.2f " +
            f"run=${st.runMs / 1e3}%6.2f cpu=${st.cpuNs / 1e9}%6.2f gc=${st.gcMs / 1e3}%5.2f " +
            f"deser=${st.deserMs / 1e3}%6.2f ${st.name.take(40)}")
        }
        s
      }
      val sorted = steps.map(_.wallS).sorted
      val (minS, medianS) = (sorted.head, sorted(sorted.size / 2))
      println(f"[scalex] $n%-28s min=$minS%7.2f s  median=$medianS%7.2f s  " +
        f"cpu/rep=${steps.map(_.cost.cpuNs).sum / 1e9 / cfg.reps}%7.2f s  " +
        f"shufMB/rep=${steps.map(_.cost.shuffleWriteBytes).sum / 1e6 / cfg.reps}%8.1f  " +
        f"driver/rep=${steps.map(_.cost.driverS).sum / cfg.reps}%6.2f s")
      s""""$n":{"min":$minS,"median":$medianS,""" +
        s""""runs":${steps.map(_.wallS).mkString("[", ",", "]")},""" +
        s""""cost":${steps.map(_.cost.json).mkString("[", ",", "]")}}"""
    }

    val confs = cfg.confs.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val doc = s"""{"sf":"${cfg.sfDir}","cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""master":"${sc.master}","parallelism":${sc.defaultParallelism},""" +
      s""""reps":${cfg.reps},"warmup":1,"confs":$confs,""" +
      s""""queries":${queries.mkString("{", ",", "}")}}"""
    cfg.json.foreach { p =>
      val path = java.nio.file.Paths.get(p).toAbsolutePath
      val out = graft.Bench.freshDetailPath(path.getParent, path.getFileName.toString.stripSuffix(".json"))
      java.nio.file.Files.writeString(out, doc + "\n", java.nio.file.StandardOpenOption.CREATE_NEW)
      println(s"[scalex] wrote $out")
    }
    doc
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toSeq)
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus, cpus, BenchConfs ++ cfg.confs)
    try run(spark, cfg) finally spark.stop()
  }
}
