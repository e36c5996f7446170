package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.spec.{PipelineSpec, SegType, Stage}
import graft.stages.{CommandStage, ModuleRegistry, NdjsonBridge}

/** Execution context — parity with the reference's option plumbing:
  * `cwd`/`env` inherited by all stages (`index.js:124-125`), `params` argv
  * appended to every command with the pipeline name always argv[1]
  * (`index.js:85`). `stderr` reproduces index.js:20-23: false (default) =
  * child stderr discarded (`stderr.resume()`), true = passed through —
  * to the terminal in local mode, the executor log on a cluster (see
  * [[graft.stages.CommandStage]]).
  * `partitions` is the Spark-native addition: None = keep the input's
  * partitioning (distributed; one process per partition for command
  * stages), Some(1) = strict single-process reference parity.
  * `orderedConcat` is the scale escape hatch: true (default) reproduces
  * the reference's sequential output order across segments and run-stages
  * (`runStream(mainPipeline)`, index.js:164) at the price of ONE global
  * sort over the unioned output; false skips that sort entirely — rows
  * from different segments interleave freely (fork semantics for the
  * whole pipeline). At 100 TB, order parity is usually chrome: any
  * downstream aggregation/dedup/sink repartitions anyway, and the global
  * sort is the only super-linear stage in an otherwise map-shaped
  * pipeline — so a production run flips it off without restructuring
  * the spec (EngineSpec asserts the plan carries no global Sort when
  * off; EngineSoak measures the multi-segment per-doc cost flat).
  */
final case class RunOptions(
    cwd: String = ".",
    env: Map[String, String] = Map.empty,
    params: Seq[String] = Nil,
    stderr: Boolean = false,
    partitions: Option[Int] = None,
    debug: Boolean = false,
    orderedConcat: Boolean = true)

/** The pipeline engine — registry + planner, the Spark-native rebuild of
  * `gasket(config, defaults)` (`/root/reference/index.js:117-212`).
  *
  * Planner semantics, traced from the reference (SURVEY §2.1):
  *   - stages are grouped into maximal same-type segments
  *     (`split()`, index.js:94-115);
  *   - a `pipe` segment composes its stages serially
  *     (`pipeStream`, index.js:52-56);
  *   - a `run` segment runs stages independently and concatenates outputs
  *     in stage order (`runStream`, index.js:30-39);
  *   - a `fork` segment runs stages independently, outputs interleaved
  *     (`forkStream`, index.js:42-49) — `unionByName`, which makes no
  *     inter-input ordering promise: exactly the interleave contract;
  *   - a `map` segment tees the FIRST stage's output into each remaining
  *     stage (index.js:62); the source is persisted so effectful stages
  *     (external commands) run once, like Node's byte-tee; the caller
  *     releases that cache with [[Engine.release]];
  *   - a `reduce` segment pipes each remaining stage into the first — the
  *     aggregator (index.js:64);
  *   - segment outputs are CONCATENATED in order (`runStream(mainPipeline)`,
  *     index.js:164) — segments do not feed each other; each non-head
  *     segment starts from the empty source, matching
  *     `pipe.end() // first not writable` (index.js:54);
  *   - `background` segments run beside the main pipeline and their output
  *     is merged (index.js:167-173); in batch they union unordered, in
  *     streaming use [[graft.streaming.BackgroundRunner]].
  *
  * Laziness parity: `.pipe` builds the DataFrame (no action), `.run` is the
  * same here because DataFrames are lazy — the *caller's action* is
  * gasket's `stream.end()` (index.js:197-201).
  */
final class Engine(
    val spec: PipelineSpec,
    val modules: ModuleRegistry = ModuleRegistry.default,
    val defaults: RunOptions = RunOptions()) {

  /** Internal ordinal column carrying a run-segment's stage index from
    * buildSegment to the single ordering sort in plan().
    */
  private val RunOrdCol = "_graft_run"

  /** `.list()` parity (index.js:180-182). */
  def list: Seq[String] = spec.list

  /** `.has(name)` parity (index.js:184-186). */
  def has(name: String): Boolean = spec.has(name)

  /** `.pipe(name)` parity (index.js:188-195): build the pipeline lazily;
    * unknown name → None (the reference returns undefined). `input` is the
    * engine-level stdin analog (`gasket pipe`, bin.js:157-184) and feeds
    * the first segment's head.
    */
  def pipe(
      name: String,
      spark: SparkSession,
      input: Option[DataFrame] = None,
      opts: RunOptions = defaults): Option[DataFrame] =
    spec.pipelines.get(name).map(stages => plan(name, stages, spark, input, opts))

  /** `.run(name)` parity (index.js:197-201): close the input side and hand
    * back the source-driven DataFrame. Throws on unknown pipelines (the CLI
    * errors for missing non-`main` names, bin.js:142-145).
    */
  def run(
      name: String,
      spark: SparkSession,
      input: Option[DataFrame] = None,
      opts: RunOptions = defaults): DataFrame =
    pipe(name, spark, input, opts).getOrElse(
      throw new NoSuchElementException(s"Could not find pipeline: $name"))

  /** `gasket.exec` parity (index.js:203-206): ad-hoc command outside any
    * pipeline. As with pipeline command stages, only explicit user params
    * are appended (documented semantics; the reference also injects the
    * literal name 'exec' as argv[1], see the discrepancy note below).
    */
  def exec(
      command: String,
      input: DataFrame,
      opts: RunOptions = defaults): DataFrame =
    CommandStage(input, command, opts.params, opts.env, opts.partitions,
      Some(opts.cwd), opts.stderr)

  /** `.toJSON()` parity (index.js:208-210). */
  def toJson: String = spec.toJson

  /** Map-tee sources persisted by the pipelines this engine built (see
    * [[buildSegment]]). They are caller-owned: a DataFrame is lazy, so the
    * cache must outlive `pipe`/`run` until the caller has consumed the
    * output, and then be released with [[release]].
    */
  private val teeSources = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every map-tee source this engine has persisted so far. */
  def release(): Unit =
    Iterator.continually(teeSources.poll()).takeWhile(_ != null).foreach(_.unpersist())

  // ------------------------------------------------------------- planner

  /** Segments → one DataFrame: segment outputs in order, background
    * outputs merged unordered.
    *
    * Open divergence from `runStream` (index.js:30-39,164): the ordered
    * concat below is a global sort, and its range partitioner samples the
    * sorted input with a job of its own before the real run. Each `run`
    * segment command therefore runs twice per action — a 2-stage `run`
    * segment whose commands append a line to a file appends 4 lines, where
    * the reference spawns each command once.
    */
  private def plan(
      name: String,
      stages: Seq[Stage],
      spark: SparkSession,
      input: Option[DataFrame],
      opts: RunOptions): DataFrame = {
    val segments = split(stages)
    val empty = emptySource(spark)
    val stageCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    var background = List.empty[DataFrame]
    var segOutputs = List.empty[DataFrame]
    // engine input feeds the first MAIN segment's head — background
    // segments run beside the main chain and never consume its input
    // (the reference pulls them out of mainPipeline, index.js:150-151)
    var mainInputPending = input.isDefined
    segments.foreach { seg =>
      val isBackground = seg.head.segType == SegType.Background
      val segInput =
        if (!isBackground && mainInputPending) { mainInputPending = false; input.get }
        else empty
      val out = buildSegment(name, seg, spark, segInput, opts, stageCounter)
      if (isBackground) background ::= out
      else segOutputs ::= out
    }
    val mains = segOutputs.reverse
    // ordered concat of segment outputs (runStream, index.js:164): ONE
    // sort over (segment ordinal, intra-segment stage ordinal) reproduces
    // sequential output order without serializing execution. Run segments
    // carry their stage ordinal in `_run` (buildSegment) — sorting only by
    // `_seg` would let Catalyst eliminate the inner `_run` sort as
    // redundant and lose stage order WITHIN a run segment.
    def dropOrd(df: DataFrame): DataFrame =
      if (df.columns.contains(RunOrdCol)) df.drop(RunOrdCol) else df
    val main = mains match {
      case Nil => empty
      case one :: Nil =>
        if (!opts.orderedConcat) dropOrd(one)
        else if (one.columns.contains(RunOrdCol))
          one.orderBy(RunOrdCol).drop(RunOrdCol)
        else one
      case many if !opts.orderedConcat =>
        // opt-out: plain union, no ordinal columns, NO global sort — the
        // whole pipeline stays map-shaped (fork semantics across segments)
        many.map(dropOrd).reduce(_ unionByName _)
      case many =>
        many.zipWithIndex
          .map { case (df, i) =>
            val withRun =
              if (df.columns.contains(RunOrdCol)) df
              else df.withColumn(RunOrdCol, lit(0))
            withRun.withColumn("_seg", lit(i))
          }
          .reduce(_ unionByName _)
          .orderBy("_seg", RunOrdCol)
          .drop("_seg", RunOrdCol)
    }
    // background output merged unordered (parallel([main, bkgds]),
    // index.js:172)
    background.foldLeft(main)(_ unionByName _)
  }

  /** `split()` parity (index.js:94-115): maximal runs of equal type. */
  private[engine] def split(stages: Seq[Stage]): List[List[Stage]] =
    stages.foldRight(List.empty[List[Stage]]) {
      case (s, (h :: t) :: rest) if h.segType == s.segType => ((s :: h :: t)) :: rest
      case (s, acc) => List(s) :: acc
    }

  private def buildSegment(
      pipelineName: String,
      seg: List[Stage],
      spark: SparkSession,
      segInput: DataFrame,
      opts: RunOptions,
      stageCounter: java.util.concurrent.atomic.AtomicInteger): DataFrame = {
    // pipeline-global stage index: observe() metric names must be unique
    // across the whole (possibly multi-segment, unioned) query
    def app(st: Stage, in: DataFrame): DataFrame =
      applyStage(pipelineName, st, stageCounter.getAndIncrement(), in, opts)
    seg.head.segType match {
      case SegType.Pipe =>
        seg.foldLeft(segInput)((df, st) => app(st, df))
      case SegType.Run =>
        // stage ordinal kept as a column — the SINGLE ordering sort runs
        // in plan() over (_seg, _run); sorting here would be eliminated
        // by the outer sort anyway (and was: round-1 multi-segment
        // pipelines lost intra-run order exactly that way)
        seg.zipWithIndex
          .map { case (st, i) => app(st, segInput).withColumn(RunOrdCol, lit(i)) }
          .reduce(_ unionByName _)
      case SegType.Fork | SegType.Background =>
        seg.map(app(_, segInput)).reduce(_ unionByName _)
      case SegType.MapTee =>
        // tee: first stage's output duplicated into each remaining stage
        // (index.js:62). persist() keeps effectful sources single-run, the
        // DataFrame analog of Node duplicating bytes to N destinations.
        val src = app(seg.head, segInput).persist(StorageLevel.MEMORY_AND_DISK)
        teeSources.add(src)
        seg.tail match {
          case Nil => src
          case rest => rest.map(app(_, src)).reduce(_ unionByName _)
        }
      case SegType.Reduce =>
        // fan-in: every remaining stage feeds the first (index.js:64)
        seg.tail match {
          case Nil => app(seg.head, segInput)
          case rest =>
            app(seg.head, rest.map(app(_, segInput)).reduce(_ unionByName _))
        }
    }
  }

  private def applyStage(
      pipelineName: String,
      st: Stage,
      idx: Int,
      in: DataFrame,
      opts: RunOptions): DataFrame = {
    val out = st match {
      case Stage.Command(cmd, _, _) if in.isStreaming =>
        // RDD.pipe has no streaming analog; fail with intent instead of a
        // cryptic planner error deep inside the query
        throw new UnsupportedOperationException(
          s"Command stage '$cmd' cannot run on a streaming input — module/" +
            "inline stages are stream-agnostic, external-process stages are " +
            "batch-only (use foreachBatch to bridge if needed)")
      case Stage.Command(cmd, _, _) =>
        // Documented-vs-actual discrepancy (SURVEY §2.1): the reference
        // appends [pipelineName, ...params] to EVERY command's argv
        // (index.js:85 + execspawn), which makes its own canonical example
        // print "HELLO WORLD EXAMPLE", contradicting readme.md:47
        // ("will print HELLO WORLD"). We implement the documented
        // semantics: only explicit user params reach the command line.
        CommandStage(in, cmd, opts.params, opts.env, opts.partitions,
          Some(opts.cwd), opts.stderr)
      case Stage.Module(name, _, json) =>
        bridgeJson(json, modules.resolve(name), in)
      case Stage.Inline(_, fn, _, json) =>
        bridgeJson(json, fn, in)
    }
    // DEBUG tap parity (index.js:77-80, debug-stream per stage): under
    // opts.debug every stage output carries an observed row-count metric,
    // retrievable from QueryExecution.observedMetrics / a listener —
    // the plan-metric analog of tapping the byte stream.
    if (opts.debug)
      out.observe(s"graft_${pipelineName}_stage$idx",
        count(lit(1)).as("rows"))
    else out
  }

  private def bridgeJson(
      json: Boolean,
      fn: DataFrame => DataFrame,
      in: DataFrame): DataFrame =
    if (json) NdjsonBridge.serialize(fn(NdjsonBridge.parse(in)))
    else fn(in)

  /** Empty source with exactly ONE empty partition — an empty
    * LocalRelation plans to a zero-partition RDD, and `RDD.pipe` on zero
    * partitions never launches the process; one empty partition makes a
    * leading command stage run once with closed stdin, the reference's
    * source semantics (`pipe.end()`, index.js:54).
    */
  private def emptySource(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(Seq.empty[String], 1))
      .toDF(CommandStage.ValueCol)
  }
}

object Engine {
  /** Load + construct from config discovery (`gasket.load`, SURVEY §1.2). */
  def load(
      cwd: String = ".",
      explicitFile: Option[String] = None,
      modules: ModuleRegistry = ModuleRegistry.default,
      defaults: RunOptions = RunOptions()): Engine = {
    val loaded = graft.spec.ConfigLoader.load(cwd, explicitFile)
    // opts.cwd rebinds to the config file's directory (index.js:237)
    new Engine(loaded.spec, modules, defaults.copy(cwd = loaded.configDir.toString))
  }
}
