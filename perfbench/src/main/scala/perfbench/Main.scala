package perfbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark JVM: one workload, one client thread, closed loop, on
  * inputs run.py made before launching it.
  *
  * Phases: session start; an untimed warm pass over every unit; then whole
  * timed passes, each over the units in a seeded order (see [[phase]]).
  * `--trace 0` reports the end-to-end metrics. `--trace 1` traces every
  * other unit instead (spans, Catalyst phases, plan shapes, layer calls),
  * then runs the workload's layer probes and, on `catalog_head`, the kernel
  * pass, and reports the per-layer metrics. Every unit's output is checked.
  *
  * Prints `name value unit` lines, `# note` lines, then the result as one
  * JSON line.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      corpus: Path,
      golden: Option[Path],
      work: Path,
      spans: Path,
      t0Ms: Long,
      prepS: Double,
      corruptGolden: Boolean)

  /** Arguments come from run.py: the inputs are made before the JVM starts,
    * `--t0-ms` is when it was launched and `--prep-s` the median time to
    * make the inputs once.
    */
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("corpus")), m.get("golden").map(Paths.get(_)), Paths.get(need("work")),
      Paths.get(need("spans")), need("t0-ms").toLong, need("prep-s").toDouble,
      m.get("corrupt-golden").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(cpus, o.work)
    val probe = new Probe(spark.sparkContext)
    probe.register(spark)
    try run(o, spark, probe, cpus) finally spark.stop()
  }

  /** The session every benchmark JVM uses: Bench's settings, with Spark's
    * scratch space under `work`.
    */
  def session(cpus: Int, work: Path): SparkSession = {
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(o: Opts, spark: SparkSession, probe: Probe, cpus: Int): Unit = {
    val tracer = new Tracer(probe)
    val (wl, catalog) = o.workload match {
      case "pipeline_cli" => (new PipelineCli(spark, o.corpus, tracer), None)
      case _ =>
        val golden = Golden.read(o.golden.get).zipWithIndex.map { case (g, i) =>
          // self-test: a wrong golden value must surface as failed units
          if (o.corruptGolden && i == 0) g.copy(rows = g.rows + 1, digest = "0:0") else g
        }
        val c = new CatalogWorkload(spark, o.corpus, golden, tracer)
        (c, Some(c))
    }

    val outcomes = new Outcomes
    val rng = new Rng(o.seed)
    val units = wl.units
    // warm pass: every unit once, in seeded order
    val compileStart = CodeGenerator.compileTime
    val warmStart = System.nanoTime()
    shuffled(units, rng).foreach(w => outcomes.record(w.name, runUnit(w, "warm", spark, probe, traced = false)._2))
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val warmCompileS = (CodeGenerator.compileTime - compileStart) / 1e9
    probe.sync()
    probe.drain()
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1000.0 + o.prepS

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, String]
    def put(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)
    val outBefore = wl match { case p: PipelineCli => p.outBytes; case _ => 0L }
    catalog.foreach(_.buildS = 0)
    val r = phase(units, o.seconds, rng, spark, probe, outcomes, mixed = o.trace)
    val n = r.samples.size.toDouble
    val e = r.exec

    if (!o.trace) {
      put("setup_s", setupS, "s")
      val unitS = r.perUnit(_.s)
      put("unit_p50_s", geomean(unitS), "s")
      put("unit_tail_s", r.tail._2, "s")
      put("units_per_s", unitS.size / unitS.sum, "1/s")
      put("exec_cpu_s_per_unit", geomean(r.perUnit(_.cpuS)), "s")
      put("shuffle_mb_per_unit", e.shuffleWrite / 1e6 / n, "MB")
      notes("unit_tail") = s"p${r.tail._1} of ${r.samples.size} samples in ${r.passes} passes"
      notes("unit_medians_s") = r.byName(_.s)
      notes("unit_cpu_medians_s") = r.byName(_.cpuS)
      notes("units_per_s_over_wall") = fmt(n / r.wallS)
      notes("pass_s") = r.samples.grouped(units.size).map(p => f"${p.map(_.s).sum}%.3f").mkString(" ")
      notes("cpu_in_unit_groups") = fmt(r.samples.map(_.cpuS).sum / (e.cpuNs / 1e9))
    } else {
      // per-unit values: executor totals and counts cover every unit of the
      // phase; spans, Catalyst phases, plan shapes and layer calls only the
      // traced half
      val tracedTimes = r.samples.filter(_.traced).map(_.s)
      val nt = tracedTimes.size.toDouble
      val spans = probe.spans.toSeq
      val self = Probe.selfTimes(spans)
      put("spec.load_s", r.layer("spec.load_s"), "s")
      put("cli.self_s", if (o.workload == "pipeline_cli") jobFree(spans) else 0.0, "s")
      put("cli.out_mb", wl match {
        case p: PipelineCli => (p.outBytes - outBefore) / 1e6 / n
        case _ => 0.0
      }, "MB")
      put("engine.plan_s", r.layer("engine.plan_s"), "s")
      put("engine.sorts", probe.sorts / nt, "count")
      put("engine.exchanges", probe.exchanges / nt, "count")
      put("engine.persisted_after", r.persistedAfter / n, "count")
      put("stages.cmd_processes", e.pipeProcesses / n, "count")
      val stageProbes = wl.layerProbes(probe)
      Seq("stages.cmd_mb_per_s", "stages.ndjson_infer_jobs", "stages.ndjson_mb_per_s").foreach { k =>
        put(k, stageProbes.getOrElse(k, 0.0), if (k.endsWith("jobs")) "count" else "MB/s")
      }
      put("ops.build_s", catalog.fold(0.0)(_.buildS / n), "s")
      put("ops.files_read", probe.filesRead.values.sum / nt, "count")
      put("ops.fs_read_mb", e.inputBytes / 1e6 / n, "MB")
      put("ops.tmp_dirs_after", tmpLeftovers(), "count")
      Seq("analysis", "optimization", "planning").foreach(p => put(s"catalyst.${p}_s", probe.phases(p) / nt, "s"))
      put("catalyst.query_executions", probe.queryExecutions / nt, "count")
      put("catalyst.codegen_compile_s", warmCompileS / units.size, "s")
      put("exec.jobs", e.jobs / n, "count")
      put("exec.stages", e.stages / n, "count")
      put("exec.tasks", e.tasks / n, "count")
      put("exec.task_run_s", e.runMs / 1e3 / n, "s")
      put("exec.task_cpu_s", e.cpuNs / 1e9 / n, "s")
      put("exec.gc_s", e.gcMs / 1e3 / n, "s")
      put("exec.task_wait_s", e.waitMs / 1e3 / n, "s")
      put("exec.shuffle_write_mb", e.shuffleWrite / 1e6 / n, "MB")
      put("exec.shuffle_read_mb", e.shuffleRead / 1e6 / n, "MB")
      put("exec.spill_mb", e.spill / 1e6 / n, "MB")
      put("exec.peak_exec_mem_mb", e.peakExecMem / 1e6, "MB")
      put("exec.failed_tasks", e.failedTasks / n, "count")
      put("exec.skew", if (e.skews.isEmpty) 1.0 else median(e.skews.toSeq), "ratio")
      val kernels = if (o.workload == "catalog_head") {
        val (k, bad) = Kernels.run(spark, wl.corpusDir)
        outcomes.record("kernels", if (bad.isEmpty) None else Some(bad.mkString(", ")))
        k
      } else Map.empty[String, Double]
      Seq("functions.minhash_ns_per_doc", "functions.shingles_ns_per_doc",
        "functions.html_text_ns_per_doc").foreach(k => put(k, kernels.getOrElse(k, 0.0), "ns"))
      Seq("ext.gunzip_mb_per_s", "ext.warc_parse_mb_per_s").foreach(k => put(k, kernels.getOrElse(k, 0.0), "MB/s"))
      Seq("unit", "ops.build", "catalyst.analysis", "catalyst.optimization", "catalyst.planning",
        "exec.job", "exec.stage").foreach { s =>
        put(s"self.${s.replace('.', '_')}_s", self.getOrElse(s, 0.0) / nt, "s")
      }
      // each unit ran traced in one pass and untraced in another
      put("trace.overhead_s", median(tracedTimes) - median(r.samples.filterNot(_.traced).map(_.s)), "s")
      notes("traced_units") = s"${nt.toInt} of ${r.samples.size}"
      notes("files_read_by_unit") = r.samples.filter(_.traced).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (k, xs) => s"$k=${median(xs.map(x => probe.filesRead(x.id).toDouble))}" }.mkString(", ")
      notes("input_mb_by_unit") = r.byName(x => e.inputBytesByGroup(x.id) / 1e6)
      notes("spans") = spans.size.toString
      writeSpans(o, spans)
      // per-layer rather than end-to-end: the peak RSS of a G1 JVM varies
      // too much between runs of the same code to carry a bound
      put("peak_rss_mb", vmHwmMb(), "MB")
    }
    notes("error_rate") = f"${outcomes.failed}%d/${outcomes.attempted}%d"

    notes("warm_pass_s") = fmt(warmS)
    notes("timed_phase_s") = fmt(r.wallS)
    notes("cpus") = cpus.toString
    notes("parallelism") = spark.sparkContext.defaultParallelism.toString
    notes("jvm") = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.mkString(" ")

    outcomes.failures.take(20).foreach(f => System.err.println(s"[perfbench] wrong or failed: $f"))
    metrics.foreach { case (k, (v, u)) => println(f"$k%s ${fmt(v)}%s $u%s") }
    notes.foreach { case (k, v) => println(s"# $k $v") }
    val result = "{\"correct\": " + (outcomes.failed == 0) + ", \"attempted\": " + outcomes.attempted +
      ", \"failed\": " + outcomes.failed + ", \"metrics\": {" + metrics.map { case (k, (v, u)) =>
        "\"" + k + "\": {\"value\": " + fmt(v) + ", \"unit\": \"" + u + "\"}"
      }.mkString(", ") + "}}"
    println(result)
  }

  // ----------------------------------------------------------- the loop

  /** Outcomes of every unit attempted, warm pass included. */
  final class Outcomes {
    var attempted, failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def record(name: String, wrong: Option[String]): Unit = {
      attempted += 1
      wrong.foreach { w => failed += 1; failures += s"$name: $w" }
    }
  }

  private def attempt(f: => Option[String]): Option[String] =
    try f catch { case e: Throwable => Some(e.toString.take(300)) }

  /** Run one unit under its own job group; returns seconds, outcome and
    * the persisted RDDs it left. With `sync`, waits for the unit's listener
    * events before returning, so that every event is handled while the
    * unit's id and tracing state are current.
    */
  private def runUnit(w: Work, id: String, spark: SparkSession, probe: Probe,
      traced: Boolean, sync: Boolean = false,
      layers: mutable.Buffer[Map[String, Double]] = mutable.Buffer.empty): (Double, Option[String], Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, w.name)
    probe.current = id
    probe.tracing = traced
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val check = try w.run() catch { case e: Throwable => () => Some(e.toString.take(300)) }
    val s = (System.nanoTime() - t0) / 1e9
    val wrong = attempt(check())
    sc.clearJobGroup()
    val persisted = sc.getPersistentRDDs.size
    graft.ops.CacheUtils.releaseAll(spark)
    if (sync) probe.sync()
    if (traced) {
      probe.addSpan(Span(id, "unit", startMs.toDouble, startMs + s * 1000))
      sc.setJobGroup(Probe.LayerGroup, w.name)
      try layers += w.layers() finally sc.clearJobGroup()
    }
    probe.tracing = false
    (s, wrong, persisted)
  }

  /** One timed unit: its name, id, wall seconds, executor CPU seconds of
    * its jobs, and whether it ran traced.
    */
  final case class Sample(name: String, id: String, s: Double, cpuS: Double, traced: Boolean)

  final case class PhaseResult(samples: Seq[Sample], passes: Int, wallS: Double, exec: ExecTotals,
      persistedAfter: Long, layers: Seq[Map[String, Double]]) {
    def times: Seq[Double] = samples.map(_.s)
    /** The median of `f` for each unit of the pass. The units differ in
      * size, so end-to-end figures aggregate these rather than pooling all
      * samples: each unit then moves them, and a slow pass moves none.
      */
    def perUnit(f: Sample => Double): Seq[Double] = named(f).map(_._2)
    /** [[perUnit]] with the unit names, for the artifact. */
    def byName(f: Sample => Double): String = named(f).map { case (k, v) => f"$k%s=$v%.4f" }.mkString(", ")
    private def named(f: Sample => Double): Seq[(String, Double)] =
      samples.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, xs) => k -> median(xs.map(f)) }
    /** The highest of p99.9/p99/p95/p90/p75/p50 with at least ten samples
      * beyond it; the median when there are fewer than twenty.
      */
    def tail: (String, Double) = {
      val sorted = times.sorted
      Seq(99.9 -> "99.9", 99.0 -> "99", 95.0 -> "95", 90.0 -> "90", 75.0 -> "75")
        .find { case (p, _) => sorted.size * (1 - p / 100) >= 10 }
        .map { case (p, label) => label -> sorted(math.min(sorted.size - 1, math.ceil(sorted.size * p / 100).toInt - 1)) }
        .getOrElse("50" -> median(sorted))
    }
    def layer(k: String): Double = {
      val xs = layers.flatMap(_.get(k))
      if (xs.isEmpty) 0.0 else median(xs)
    }
  }

  /** Median over traced units of the unit time not covered by a Spark job. */
  private def jobFree(spans: Seq[Span]): Double = {
    val per = spans.groupBy(_.unit).values.flatMap { ss =>
      ss.find(_.name == "unit").map { u =>
        val jobs = ss.filter(_.name == "exec.job")
          .map(j => (math.max(j.startMs, u.startMs), math.min(j.endMs, u.endMs)))
          .filter(j => j._2 > j._1).sortBy(_._1)
        var covered = 0.0
        var reach = u.startMs
        jobs.foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
        (u.durMs - covered) / 1000.0
      }
    }.toSeq
    if (per.isEmpty) 0.0 else median(per)
  }

  /** Whole passes over the units, each in a fresh seeded order, started
    * until `seconds` have passed (the last pass is finished), and at least
    * [[MinPasses]]: each unit's median then comes from passes after the
    * first, which still runs partly in the interpreter. `mixed` (the traced
    * run) traces every other unit, alternating between passes, so each unit
    * runs both traced and untraced.
    */
  private def phase(units: IndexedSeq[Work], seconds: Double, rng: Rng, spark: SparkSession,
      probe: Probe, outcomes: Outcomes, mixed: Boolean): PhaseResult = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var persisted = 0L
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val order = shuffled(units.indices, rng)
      order.foreach { i =>
        val w = units(i)
        val traced = mixed && (i + pass) % 2 == 0
        val id = s"p${pass}u$i"
        val (s, wrong, p) = runUnit(w, id, spark, probe, traced, sync = mixed, layers)
        samples += Sample(w.name, id, s, 0.0, traced)
        persisted += p
        outcomes.record(w.name, wrong)
      }
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    probe.sync()
    val exec = probe.drain()
    PhaseResult(samples.toSeq.map(x => x.copy(cpuS = exec.cpuNsByGroup(x.id) / 1e9)), pass, wall, exec,
      persisted, layers.toSeq)
  }

  val MinPasses = 3

  private def shuffled[A](xs: IndexedSeq[A], rng: Rng): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  // ------------------------------------------------------------- helpers

  /** SplitMix64, for the seeded order of each pass. */
  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def int(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Peak resident set of this JVM, in MB. */
  private def vmHwmMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
    finally status.close()
  }

  /** `graft*` entries the program left in the JVM's temp directory. */
  private def tmpLeftovers(): Double = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"))
    val ls = Files.list(dir)
    try ls.filter(_.getFileName.toString.startsWith("graft")).count().toDouble finally ls.close()
  }

  private def writeSpans(o: Opts, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => f"""{"unit": "${s.unit}", "name": "${s.name}", "start_ms": ${fmt(s.startMs)}, "end_ms": ${fmt(s.endMs)}}""")
    Files.writeString(o.spans, lines.mkString("", "\n", "\n"), StandardOpenOption.CREATE_NEW)
  }
}

/** Times a call into a layer, and records it as a span while tracing is on. */
final class Tracer(probe: Probe) {
  def timed[A](name: String)(f: => A): (A, Double) = {
    val start = System.currentTimeMillis()
    val t = System.nanoTime()
    val a = f
    val s = (System.nanoTime() - t) / 1e9
    if (probe.tracing) probe.addSpan(Span(probe.current, name, start.toDouble, start + s * 1000))
    (a, s)
  }
}
