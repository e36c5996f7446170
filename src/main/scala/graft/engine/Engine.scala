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
  * (`runStream(mainPipeline)`, index.js:164) with ONE exchange: every
  * segment output, and every stage output of a run segment, is a block
  * with a dense ordinal, and `repartitionById` sends block k to output
  * partition k — ordered output partitions, no global sort and no
  * sampling job, so each command still runs once per action. false skips
  * that exchange entirely — rows from different segments interleave
  * freely (fork semantics for the whole pipeline), and the pipeline stays
  * map-shaped: at 100 TB order parity is usually chrome, since any
  * downstream aggregation/dedup/sink repartitions anyway (EngineSpec
  * asserts the plan carries no exchange for it when off; EngineSoak
  * measures the multi-segment per-doc cost flat).
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
  *     (`pipeStream`, index.js:52-56); adjacent `json: true` module/inline
  *     stages share one NDJSON parse and one serialize ([[fuse]]);
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

  /** Internal block-ordinal column: carries a run-segment's stage index
    * from buildSegment to the single ordering exchange in plan().
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
    var segOutputs = List.empty[(DataFrame, Int)]
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
      else segOutputs ::= (out, if (seg.head.segType == SegType.Run) seg.size else 1)
    }
    val mains = segOutputs.reverse
    def dropOrd(df: DataFrame): DataFrame =
      if (df.columns.contains(RunOrdCol)) df.drop(RunOrdCol) else df
    val main = mains match {
      case Nil => empty
      case (one, _) :: Nil if !one.columns.contains(RunOrdCol) => one
      case many if !opts.orderedConcat =>
        // opt-out: plain union, no ordinal columns, NO exchange — the
        // whole pipeline stays map-shaped (fork semantics across segments)
        many.map { case (df, _) => dropOrd(df) }.reduce(_ unionByName _)
      case many =>
        // ordered concat of segment outputs (runStream, index.js:164):
        // each segment output — each stage output of a run segment — is
        // one block with a dense ordinal, and block k becomes output
        // partition k. Partition order is output order (collect and
        // printLines both read partitions in order), and no range
        // partitioner samples the input, so every command spawns once.
        val (blocks, total) = many.foldLeft((List.empty[DataFrame], 0)) {
          case ((acc, first), (df, n)) =>
            val ord =
              if (df.columns.contains(RunOrdCol)) col(RunOrdCol) + first else lit(first)
            (df.withColumn(RunOrdCol, ord) :: acc, first + n)
        }
        blocks.reverse.reduce(_ unionByName _)
          .repartitionById(total, col(RunOrdCol))
          .drop(RunOrdCol)
    }
    // background output merged unordered (parallel([main, bkgds]),
    // index.js:172)
    background.foldLeft(main)(_ unionByName _)
  }

  /** `split()` parity (index.js:94-115): maximal runs of equal type. */
  private[engine] def split(stages: Seq[Stage]): List[List[Stage]] =
    adjacentRuns(stages)(_.segType == _.segType)

  /** A pipe segment's stages as units of application: each maximal run
    * of adjacent `json: true` module/inline stages is one unit, any other
    * stage is a unit of its own.
    */
  private def fuse(seg: List[Stage]): List[List[Stage]] =
    adjacentRuns(seg)((a, b) => onRecords(a) && onRecords(b))

  private def adjacentRuns(stages: Seq[Stage])(together: (Stage, Stage) => Boolean): List[List[Stage]] =
    stages.foldRight(List.empty[List[Stage]]) {
      case (s, (h :: t) :: rest) if together(s, h) => (s :: h :: t) :: rest
      case (s, acc) => List(s) :: acc
    }

  /** A module or inline stage that runs on NDJSON records. */
  private def onRecords(st: Stage): Boolean = st.json && !st.isInstanceOf[Stage.Command]

  private def buildSegment(
      pipelineName: String,
      seg: List[Stage],
      spark: SparkSession,
      segInput: DataFrame,
      opts: RunOptions,
      stageCounter: java.util.concurrent.atomic.AtomicInteger): DataFrame = {
    // pipeline-global stage index: observe() metric names must be unique
    // across the whole (possibly multi-segment, unioned) query
    def applyRun(unit: List[Stage], in: DataFrame): DataFrame =
      applyUnit(pipelineName, unit, stageCounter, in, opts)
    def app(st: Stage, in: DataFrame): DataFrame = applyRun(List(st), in)
    seg.head.segType match {
      case SegType.Pipe =>
        fuse(seg).foldLeft(segInput)((df, unit) => applyRun(unit, df))
      case SegType.Run =>
        // stage ordinal kept as a column — the SINGLE ordering exchange
        // runs in plan() over the pipeline's dense block ordinal
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

  /** Apply one unit of [[fuse]]. A run of `json: true` stages is
    * `serialize(fn_k(…fn_1(parse(in))))`: ONE parse (one schema-inference
    * job) and ONE serialize for the whole run, rows passing between the
    * modules as rows — the way ndjson hands objects from one through-stream
    * to the next (index.js:73). A single stage is a run of one.
    */
  private def applyUnit(
      pipelineName: String,
      unit: List[Stage],
      stageCounter: java.util.concurrent.atomic.AtomicInteger,
      in: DataFrame,
      opts: RunOptions): DataFrame = {
    def step(st: Stage, df: DataFrame): DataFrame =
      observed(pipelineName, stageCounter.getAndIncrement(), applyStage(st, df, opts), opts)
    if (onRecords(unit.head))
      NdjsonBridge.serialize(unit.foldLeft(NdjsonBridge.parse(in))((rows, st) => step(st, rows)))
    else unit.foldLeft(in)((df, st) => step(st, df))
  }

  private def applyStage(st: Stage, in: DataFrame, opts: RunOptions): DataFrame =
    st match {
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
      case Stage.Module(name, _, _) => modules.resolve(name)(in)
      case Stage.Inline(_, fn, _, _) => fn(in)
    }

  /** DEBUG tap parity (index.js:77-80, debug-stream per stage): under
    * opts.debug every stage output — each stage of a fused json run
    * included — carries an observed row-count metric, retrievable from
    * QueryExecution.observedMetrics / a listener: the plan-metric analog
    * of tapping the byte stream.
    */
  private def observed(pipelineName: String, idx: Int, out: DataFrame, opts: RunOptions): DataFrame =
    if (opts.debug) out.observe(s"graft_${pipelineName}_stage$idx", count(lit(1)).as("rows"))
    else out

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
