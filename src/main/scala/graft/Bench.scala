package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** `SPARK_GRAFT_CPUS` (default 4), checked to be a positive integer: it
    * becomes `local[N]`, the shuffle width and the bare JSON number
    * `cpus_requested`, so anything else must fail before the run.
    */
  def requestedCpus(env: Option[String]): String = {
    val cpus = env.getOrElse("4")
    require(cpus.matches("[1-9][0-9]*") && cpus.toIntOption.isDefined,
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$cpus'")
    cpus
  }

  /** `<base>.json` in `dir`, or `<base>_runN.json` with the smallest N >= 2
    * that does not exist yet: a second run in the same round never
    * overwrites the first run's detail file.
    */
  def freshDetailPath(dir: java.nio.file.Path, base: String): java.nio.file.Path =
    Iterator.from(1)
      .map(i => dir.resolve(if (i == 1) s"$base.json" else s"${base}_run$i.json"))
      .find(p => !java.nio.file.Files.exists(p)).get

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = requestedCpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // 70+ queries × several codegen units each blows straight through
      // the default 100-entry generated-class cache — warmup compilations
      // would be evicted before the timed pass reuses them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Steady-state methodology (JMH-style): one untimed warmup pass over
    // every query absorbs the one-shot JVM costs — Janino compilation of
    // each plan's generated code, C2 JIT of the hot loops, first-touch of
    // the parquet footers — then the timed pass measures execution alone.
    // That is the number that extrapolates to the 100 TB target, where
    // per-plan codegen cost amortizes to zero; without it the measurement
    // is dominated by which query happens to run a plan shape first
    // (q_dedup_clusters absorbed ~5 s of the dedup family's codegen purely
    // by map-iteration order). Persisted intermediates are released after
    // every run, warmup included — only JIT state stays warm, no data.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        warmup: Boolean): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          if (!warmup) System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      // failed queries report -1 so a breakage can't masquerade as a
      // fast run (and is excluded from the total)
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // release pipeline-local persisted intermediates between queries so
      // caching helps within a query but can't accumulate across 70+
      ops.CacheUtils.releaseAll(spark)
      elapsed
    }
    // fail BEFORE the ~2-min warmup pass, not after; and odd reps make
    // the median an actual middle element (even reps would silently
    // report the upper-middle)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1 && reps % 2 == 1,
      s"SPARK_GRAFT_BENCH_REPS must be a positive odd number, got $reps")
    // Ambient host load (1-min loadavg), sampled before and after the
    // run: the headline is already a median-of-reps, but cross-round
    // comparisons on a shared host still need to see the weather — a
    // 2× wall swing with load recorded is adjudicable without prose.
    def loadAvg(): Double =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0)
        math.rint(s.toDouble * 100) / 100
      } catch { case _: Exception => -1.0 }
    val loadBefore = loadAvg()
    SparkEntry.queries.foreach { case (name, fn) => runOnce(name, fn, warmup = true) }
    // MEDIAN of `reps` timed passes per query, interleaved ROUND-ROBIN
    // (pass 1 of every query, then pass 2, ...) rather than back-to-back:
    // two rounds of single-pass numbers on byte-identical code showed 2-4×
    // per-query drift (GC/codegen-cache weather in a 124-query JVM), and
    // back-to-back reps would share whatever weather hit that moment —
    // interleaving decorrelates the passes, so the median discards the
    // unlucky one. Any failed pass reports the query as -1 (a breakage
    // must never hide behind two good passes).
    val names = SparkEntry.queries.keys.toSeq
    val samples: Map[String, Seq[Double]] = {
      val passes = (0 until reps).map { _ =>
        names.map(n => n -> runOnce(n, SparkEntry.queries(n), warmup = false)).toMap
      }
      names.map(n => n -> passes.map(_(n))).toMap
    }
    def median(xs: Seq[Double]): Double =
      if (xs.exists(_ < 0)) -1.0
      else { val s = xs.sorted; s(s.size / 2) }
    val results: Map[String, Double] = samples.map { case (n, xs) => n -> median(xs) }
    // min-of-reps alongside the median: the median is the headline, but on
    // a shared host the min is the load-robust floor — a rep spread like
    // [7.0, 14.2, 0.5] is ambient weather, and carrying the min per round
    // lets that be adjudicated from artifacts instead of re-measurement
    def minRep(xs: Seq[Double]): Double =
      if (xs.exists(_ < 0)) -1.0 else xs.min
    val mins: Map[String, Double] = samples.map { case (n, xs) => n -> minRep(xs) }
    val total = math.rint(results.values.filter(_ >= 0).sum * 1000) / 1000
    val totalMin = math.rint(mins.values.filter(_ >= 0).sum * 1000) / 1000
    // Full-precision per-rep samples to a file for plan/variance audits…
    val detail = samples.map { case (k, xs) =>
      s"\"" + k + "\":{\"median\":" + median(xs) + ",\"min\":" + minRep(xs) +
        ",\"runs\":" + xs.mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    val loadAfter = loadAvg()
    val loadJson =
      s""""load":{"before":$loadBefore,"after":$loadAfter,"cpus":${Runtime.getRuntime.availableProcessors}}"""
    // the bench's parallelism contract, self-evident in the artifact
    // (round-16 adjudication: "cpus" above is the HOST core count, which
    // made an 8-core driver run look like the env var was ignored):
    // cpus_requested echoes $SPARK_GRAFT_CPUS, parallelism is the live
    // sc.defaultParallelism under local[$cpus] — the two must agree
    val parJson =
      s""""cpus_requested":$cpus,"parallelism":${spark.sparkContext.defaultParallelism}"""
    val detailLine =
      s"""{"metric":"total","value":$total,"min":$totalMin,"unit":"sec","reps":$reps,$parJson,$loadJson,"queries":$detail,"sf":"$sfDir"}""" + "\n"
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_DETAIL.json"), detailLine)
      // …and an immutable per-round copy (BENCH_DETAIL_r{N}.json): the
      // driver stamps BENCH_r{N}.json after this run, so the round in
      // flight is max(existing N) + 1 — keeping every round's rep history
      // on disk makes bench-weather adjudication artifact-only
      val dir = java.nio.file.Paths.get(".")
      val benchRe = java.util.regex.Pattern.compile("BENCH_r(\\d+)\\.json")
      var maxRound = 0
      val ls = java.nio.file.Files.list(dir)
      try {
        ls.forEach { p =>
          val m = benchRe.matcher(p.getFileName.toString)
          if (m.matches()) maxRound = math.max(maxRound, m.group(1).toInt)
        }
      } finally ls.close()
      // the sf tag keys the filename too: the gate benches BOTH scale
      // factors in one round, and without it the second invocation would
      // silently overwrite the first run's rep history — defeating the
      // artifact-only weather adjudication this file exists for
      val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
        .replaceAll("[^A-Za-z0-9.]", "_")
      java.nio.file.Files.writeString(
        freshDetailPath(dir, f"BENCH_DETAIL_r${maxRound + 1}%02d_$sfTag%s"),
        detailLine, java.nio.file.StandardOpenOption.CREATE_NEW)
    } catch { case _: Exception => () } // cwd may not be writable under the harness
    // …but the stdout line must survive the harness's bounded (2000-char)
    // output-tail capture with sbt's footer behind it, or it never parses:
    // 2-decimal values, and if the query map alone would blow the budget,
    // the FASTEST queries are dropped (the slow ones are the audit surface)
    // with an "omitted" count so truncation is visible.
    // was 1580; the top-level "min" joined the line, then the two
    // parallelism fields (~45 chars) — keep the whole line under the
    // harness's 2000-char tail capture with sbt's footer behind it
    val budget = 1515
    def fmt(v: Double): String =
      if (v < 0) "-1"
      // Locale.ROOT: the default-locale f"" interpolator would emit a
      // comma decimal separator under e.g. de_DE — invalid JSON
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // failures (-1) sort FIRST so budget truncation can never hide a
    // broken query in the omitted tail; then slowest-first
    val bySlowest = results.toSeq.sortBy { case (_, v) => if (v < 0) Double.NegativeInfinity else -v }
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var len = 0
    var omitted = 0
    bySlowest.foreach { case (k, v) =>
      val entry = s"\"" + k + "\":" + fmt(v)
      if (len + entry.length + 1 <= budget) { kept += entry; len += entry.length + 1 }
      else omitted += 1
    }
    val qs = kept.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"min":$totalMin,"unit":"sec","reps":$reps,$parJson,$loadJson,"queries":$qs,"omitted":$omitted,"sf":"$sfDir"}""")
    spark.stop()
  }
}
