package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.engine.{Engine, RunOptions}
import graft.spec.{ConfigLoader, PipelineSpec}
import graft.sources.Sources
import graft.stages.CommandStage

/** CLI — the `bin.js` verb surface (SURVEY §2.1 CLI table):
  *
  *   run [pipes…]     run pipelines sequentially, print to stdout (bin.js:132-155)
  *   pipe [pipes…]    stdin → pipeline₁ → … → stdout (bin.js:157-184)
  *   pipe --stream d  unbounded form: follow a growing dir of line files
  *                    (the reference keeps stdin open; the Spark-native
  *                    unbounded transport is a file-stream source)
  *   exec <cmd>       stdin → ad-hoc command → stdout (bin.js:79-84)
  *   add <pipe> <cmd> append a plain-string stage + persist (bin.js:94-103)
  *   rm <pipe>        delete pipeline + persist (bin.js:122-130)
  *   ls               list pipeline names (bin.js:73-77)
  *   show <pipe>      shell-style pretty print (bin.js:105-120)
  *   completion       bash completion script (completion sources, bin.js:57-67)
  *   help             full usage text (help.txt parity, bin.js:90-92)
  *   version          engine version
  *
  * Options: `-c <file>` explicit config, `--cwd <dir>` working directory.
  * stdout EPIPE is tolerated so `run x | head` doesn't crash (bin.js:12-14).
  *
  * Data plane: stdin is spooled to a temp file (never held as a driver-
  * side Seq) and read back as line-aligned splits of at least 1 MiB, at
  * most `defaultParallelism` of them; a command stage runs one process per
  * split, so a stdin under 2 MiB is one split and one process per command
  * stage. The spool is deleted when the invocation ends. Results are
  * printed by [[Sources.printLines]], which holds at most
  * `defaultParallelism` fetched partitions on the driver — the CLI handles
  * inputs/outputs larger than the driver heap. Map-tee sources the
  * pipelines persisted are released once the output is printed.
  */
object Main {

  final case class Args(
      verb: String,
      positional: Seq[String],
      cwd: String = ".",
      config: Option[String] = None,
      stream: Option[String] = None)

  def parseArgs(argv: Array[String]): Args = {
    var cwd = "."
    var config: Option[String] = None
    var stream: Option[String] = None
    val pos = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case f @ ("-c" | "--config" | "--cwd" | "--stream") =>
          if (i + 1 >= argv.length)
            throw new IllegalArgumentException(s"$f requires a value")
          f match {
            case "--cwd"    => cwd = argv(i + 1)
            case "--stream" => stream = Some(argv(i + 1))
            case _          => config = Some(argv(i + 1))
          }
          i += 2
        case other => pos += other; i += 1
      }
    }
    Args(pos.headOption.getOrElse("help"), pos.drop(1).toSeq, cwd, config, stream)
  }

  def main(argv: Array[String]): Unit = run(argv, () => session())

  /** Testable entry: verbs that need Spark take a session factory so pure
    * config verbs (ls/show/add/rm) run without one.
    */
  def run(argv: Array[String], mkSession: () => SparkSession): Unit = {
    val args = try parseArgs(argv) catch {
      case e: IllegalArgumentException =>
        Console.err.println(e.getMessage)
        // the full help text IS the usage surface — keep one source of
        // truth rather than a drifting one-line verb list
        Console.err.println(helpText)
        return
    }
    args.verb match {
      case "ls" =>
        loadEngine(args).list.foreach(printSafe)
      case "show" =>
        val engine = loadEngine(args)
        args.positional.foreach(n => engine.spec.show(n).foreach(printSafe))
      case "add" =>
        val loaded = ConfigLoader.load(args.cwd, args.config)
        save(args, loaded.spec.add(args.positional.head, args.positional.drop(1).mkString(" ")))
      case "rm" =>
        val loaded = ConfigLoader.load(args.cwd, args.config)
        save(args, loaded.spec.rm(args.positional.head))
      case "run" =>
        // pipelines run sequentially in argument order (default: main),
        // output printed to stdout (bin.js:138-153); missing names error
        // except the default 'main' which is silent (bin.js:142-145)
        val engine = loadEngine(args)
        val spark = mkSession()
        val names = if (args.positional.nonEmpty) args.positional else Seq("main")
        try names.foreach { n =>
          engine.pipe(n, spark) match {
            case Some(df) => Sources.printLines(df, Int.MaxValue)
            case None if n == "main" => ()
            case None => Console.err.println(s"Could not find pipe: $n")
          }
        } finally engine.release()
      case "pipe" =>
        val engine = loadEngine(args)
        val spark = mkSession()
        // default to 'main' and skip missing names with a stderr note
        // (silent for 'main'), as the reference does (bin.js:158-175)
        val names = if (args.positional.nonEmpty) args.positional else Seq("main")
        args.stream match {
          case Some(dir) =>
            // unbounded parity: the reference's `pipe` keeps stdin open
            // indefinitely (bin.js:157-184); the Spark-native unbounded
            // transport is a file-stream source over a growing directory,
            // the same pipeline chain, and an incremental stdout sink.
            // Runs until interrupted (like the reference until stdin EOF).
            pipeStream(engine, spark, dir, names).foreach(_.awaitTermination())
          case None => withSpooledStdin(spark) { stdin =>
            var applied = 0
            val out = names.foldLeft(stdin) { (df, n) =>
              engine.pipe(n, spark, Some(df)) match {
                case Some(next) => applied += 1; next
                case None =>
                  if (n != "main") Console.err.println(s"$n does not exist")
                  df
              }
            }
            // zero resolved pipelines → no output (bin.js:174 `if
            // (!streams.length) return` — stdin is NOT echoed through)
            try if (applied > 0) Sources.printLines(out, Int.MaxValue)
            finally engine.release()
          }
        }
      case "exec" =>
        val spark = mkSession()
        withSpooledStdin(spark) { stdin =>
          val out = new Engine(PipelineSpec.empty)
            .exec(args.positional.mkString(" "), stdin, RunOptions(partitions = Some(1)))
          Sources.printLines(out, Int.MaxValue)
        }
      case "version" => printSafe("graft 0.1.0")
      case "completion" => printSafe(completionScript)
      case _ => printSafe(helpText)
    }
  }

  /** Streaming pipe chain: file-stream lines → pipelines → incremental
    * sink per micro-batch. Returns None when no named pipeline resolves
    * (parity with the batch form's no-output rule). Factored from the
    * verb so tests can drive micro-batches without blocking on
    * awaitTermination.
    */
  private[cli] def pipeStream(
      engine: Engine,
      spark: SparkSession,
      dir: String,
      names: Seq[String],
      sink: DataFrame => Unit = Sources.printLines(_, Int.MaxValue))
      : Option[org.apache.spark.sql.streaming.StreamingQuery] = {
    val input = Sources.linesStream(spark, dir)
    var applied = 0
    val out = names.foldLeft(input) { (df, n) =>
      engine.pipe(n, spark, Some(df)) match {
        case Some(next) => applied += 1; next
        case None =>
          if (n != "main") Console.err.println(s"$n does not exist")
          df
      }
    }
    if (applied == 0) None
    else Some(out.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, _: Long) => sink(batch))
      .start())
  }

  /** stdin → temp-file spool → line-aligned splits, no shuffle. Keeps
    * arbitrarily large stdin off the driver heap; reads from Console.in so
    * tests can inject input. Splits are at least 1 MiB and at most
    * `defaultParallelism`: a small stdin stays one split (one process per
    * command stage), and a large one gets no fewer splits than a file scan
    * would give it. The spool is deleted when `body` returns or throws.
    */
  private def withSpooledStdin[A](spark: SparkSession)(body: DataFrame => A): A = {
    val tmp = Files.createTempFile("graft-stdin-", ".txt")
    try {
      val w = Files.newBufferedWriter(tmp)
      try {
        val buf = new Array[Char](8192)
        var n = Console.in.read(buf)
        while (n >= 0) { w.write(buf, 0, n); n = Console.in.read(buf) }
      } finally w.close()
      val sc = spark.sparkContext
      val splits = math.min(math.max(Files.size(tmp) / SplitBytes, 1L), sc.defaultParallelism.toLong).toInt
      import spark.implicits._
      body(sc.textFile(tmp.toString, splits).toDF(CommandStage.ValueCol))
    } finally Files.deleteIfExists(tmp)
  }

  /** Smallest stdin split: each split costs a process per command stage. */
  private val SplitBytes = 1L << 20

  private val helpText =
    """Usage: graft <command> [args] [-c <config>] [--cwd <dir>]
      |
      |Commands:
      |  run [names...]       Run pipelines sequentially, print output to stdout
      |  pipe [names...]      Read stdin through the named pipelines to stdout
      |  pipe --stream <dir>  Unbounded pipe: follow a growing directory of line
      |                       files through the pipelines (Ctrl-C to stop)
      |  exec <cmd...>        Run an ad-hoc shell command over stdin
      |  add <name> <cmd...>  Append a command stage to a pipeline and persist
      |  rm <name>            Remove a pipeline and persist
      |  ls                   List pipeline names
      |  show <name>          Print a pipeline's stages shell-style
      |  completion           Print a bash completion script (source it)
      |  version              Print engine version
      |  help                 This message
      |
      |Options:
      |  -c, --config <file>  Explicit config file (gasket.json format)
      |  --cwd <dir>          Working directory for config discovery and stages
      |  --stream <dir>       With pipe: watch <dir> for new line files
      |
      |Config is discovered as gasket.json or the "gasket" key of package.json
      |in the working directory.""".stripMargin

  private val completionScript =
    """# bash completion for graft — source this file or add to ~/.bashrc
      |_graft_complete() {
      |  local cur="${COMP_WORDS[COMP_CWORD]}"
      |  if [ "$COMP_CWORD" -eq 1 ]; then
      |    COMPREPLY=( $(compgen -W "run pipe exec add rm ls show completion version help" -- "$cur") )
      |  else
      |    COMPREPLY=( $(compgen -W "$(graft ls 2>/dev/null)" -- "$cur") )
      |  fi
      |}
      |complete -F _graft_complete graft""".stripMargin

  /** DEBUG env-var parity (index.js:78-79): when DEBUG is set, every
    * stage output carries an observed row-count metric — the plan-metric
    * analog of the reference's per-stage debug-stream taps.
    */
  private def loadEngine(args: Args): Engine =
    Engine.load(args.cwd, args.config,
      defaults = RunOptions(debug = sys.env.get("DEBUG").exists(_.nonEmpty)))

  /** Persist parity (`save`, bin.js:26-46): write gasket.json directly, or
    * rewrite package.json's "gasket" key when that's where config lives.
    */
  private def save(args: Args, spec: PipelineSpec): Unit = {
    val dir = Paths.get(args.cwd)
    val explicit = args.config.map(dir.resolve)
    val gasketJson = dir.resolve("gasket.json")
    val packageJson = dir.resolve("package.json")
    val target = explicit.getOrElse(
      if (Files.exists(gasketJson) || !Files.exists(packageJson)) gasketJson
      else packageJson)
    if (target.getFileName.toString == "package.json") {
      val root = JsonMethods.parse(Files.readString(target)).asInstanceOf[JObject]
      val updated = JObject(root.obj.filterNot(_._1 == "gasket") :+
        ("gasket" -> JsonMethods.parse(spec.toJson)))
      Files.writeString(target, JsonMethods.pretty(JsonMethods.render(updated)))
    } else {
      Files.writeString(target, spec.toJson)
    }
  }

  /** EPIPE-tolerant print (bin.js:12-14). */
  private def printSafe(s: String): Unit =
    try println(s) catch { case _: java.io.IOException => () }

  private def session(): SparkSession =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}
