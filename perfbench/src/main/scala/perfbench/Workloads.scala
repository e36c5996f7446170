package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One unit of work. `run` does the timed work and returns the check of its
  * output, which runs after the clock stops: None when the output is right,
  * else what was wrong. An exception is a failed unit. `layers` times the
  * unit's layer functions on its own inputs, outside the unit, in the
  * traced run.
  */
final case class Work(
    name: String,
    run: () => (() => Option[String]),
    layers: () => Map[String, Double] = () => Map.empty)

/** A workload: the units of one pass over inputs made before the JVM started. */
trait Workload {
  def units: IndexedSeq[Work]
  /** Extra per-layer metrics from calls straight into layer functions. */
  def layerProbes(probe: Probe): Map[String, Double] = Map.empty
  def corpusDir: Path
}

// ----------------------------------------------------------- output sinks

/** Condenses stdout, one line at a time, to a digest. */
trait LineSink { def add(line: String): Unit; def digest: String }

final class BagSink extends LineSink {
  private val bag = new Digest.Bag
  def add(line: String): Unit = bag.add(line)
  def digest: String = bag.digest
}

/** Ordered concat: lines come in blocks marked by a prefix; the blocks must
  * appear in prefix order, and within a block order is not promised.
  */
final class BlockSink(prefixes: Seq[String]) extends LineSink {
  private val bags = prefixes.map(_ => new Digest.Bag)
  private var at = 0
  private var disorder = 0
  def add(line: String): Unit = {
    val i = prefixes.indexWhere(line.startsWith)
    if (i < at || i < 0) disorder += 1 else { at = i; bags(i).add(line) }
  }
  def digest: String = s"disorder=$disorder " + bags.map(_.digest).mkString(" ")
}

/** Captured stdout: complete lines, kept for the check after the clock stops. */
final class Captured extends OutputStream {
  private val buf = new ByteArrayOutputStream()
  val lines = scala.collection.mutable.ArrayBuffer.empty[String]
  var bytes = 0L
  override def write(b: Int): Unit = {
    bytes += 1
    if (b == '\n') { lines += buf.toString(UTF_8); buf.reset() } else buf.write(b)
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var i = off
    while (i < off + len) { write(b(i).toInt); i += 1 }
  }
}

// ----------------------------------------------------------- pipeline_cli

/** `graft.cli.Main.run` on the inputs `inputs.py` made: each line of
  * `units.tsv` is one invocation (argv, stdin file, ordered-block prefixes,
  * expected stdout digest). stdin and stdout are redirected in-process, and
  * every invocation shares the benchmark's session.
  */
final class PipelineCli(spark: SparkSession, val corpusDir: Path, trace: Tracer) extends Workload {
  import PipelineCli._

  var outBytes = 0L

  private val invocations: Seq[Invocation] =
    Files.readAllLines(corpusDir.resolve("units.tsv")).asScala.toSeq.filterNot(_.startsWith("#")).map { l =>
      val f = l.split('\t')
      Invocation(f(0), Option(f(1)).filter(_ != "-"), Option(f(2)).filter(_ != "-").map(_.split('|').toSeq), f(3))
    }

  def units: IndexedSeq[Work] = invocations.map { inv =>
    Work(inv.argv, () => {
      val captured = new Captured
      val out = new PrintStream(captured, true, UTF_8)
      val in = inv.stdin.fold[java.io.Reader](new java.io.StringReader(""))(f =>
        Files.newBufferedReader(corpusDir.resolve(f), UTF_8))
      val argv = inv.argv.split(' ') ++ Seq("--cwd", corpusDir.toString)
      try Console.withIn(in) { Console.withOut(out) { graft.cli.Main.run(argv, () => spark) } }
      finally { in.close(); out.flush() }
      outBytes += captured.bytes
      () => {
        val sink = inv.blocks.fold[LineSink](new BagSink)(new BlockSink(_))
        captured.lines.foreach(sink.add)
        if (sink.digest == inv.digest) None else Some(s"stdout ${sink.digest}, expected ${inv.digest}")
      }
    }, () => layerTimes(inv))
  }.toIndexedSeq

  /** spec and engine: the config load and the DataFrame build of this
    * invocation's pipelines, called directly (the CLI makes the same calls).
    */
  private def layerTimes(inv: Invocation): Map[String, Double] = {
    val (loaded, loadS) = trace.timed("spec.load")(graft.spec.ConfigLoader.load(corpusDir.toString))
    val engine = new graft.engine.Engine(loaded.spec,
      defaults = graft.engine.RunOptions(cwd = loaded.configDir.toString))
    val input = inv.stdin.map(f => graft.sources.Sources.lines(spark, corpusDir.resolve(f).toString))
    val (_, planS) = trace.timed("engine.plan")(inv.argv.split(' ').drop(1).foreach(p => engine.pipe(p, spark, input)))
    Map("spec.load_s" -> loadS, "engine.plan_s" -> planS)
  }

  /** stages: throughput of a command stage and of the NDJSON bridge on
    * this workload's corpus, and the jobs the bridge's parse runs.
    */
  override def layerProbes(probe: Probe): Map[String, Double] = {
    val lines = graft.sources.Sources.lines(spark, corpusDir.resolve(Lines).toString)
    val ndjson = graft.sources.Sources.lines(spark, corpusDir.resolve(Ndjson).toString)
    val mbLines = Files.size(corpusDir.resolve(Lines)) / 1e6
    val mbJson = Files.size(corpusDir.resolve(Ndjson)) / 1e6
    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val cmd = Seq.fill(3)(secs(graft.stages.CommandStage(lines, "tr 'A-Z' 'a-z'").count())).sorted.apply(1)
    // schema inference is the one job parse runs before any action
    probe.sync(); probe.drain()
    graft.stages.NdjsonBridge.parse(ndjson)
    probe.sync()
    val inferJobs = probe.drain().jobs.toDouble
    val json = Seq.fill(3)(secs(graft.stages.NdjsonBridge.serialize(
      graft.stages.NdjsonBridge.parse(ndjson)).count())).sorted.apply(1)
    Map("stages.cmd_mb_per_s" -> mbLines / cmd, "stages.ndjson_infer_jobs" -> inferJobs,
      "stages.ndjson_mb_per_s" -> mbJson / json)
  }
}

object PipelineCli {
  final case class Invocation(argv: String, stdin: Option[String], blocks: Option[Seq[String]], digest: String)
  val Lines = "lines.txt"
  val Ndjson = "lines.ndjson"
}

// ---------------------------------------------------------------- catalog

/** One golden line: a declared query with the row count and digest of its
  * result on the benchmark's corpus.
  */
final case class Golden(name: String, rows: Long, digest: String)

object Golden {
  def read(p: Path): Seq[Golden] =
    Files.readAllLines(p).asScala.toSeq.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val f = l.split('\t')
      Golden(f(0), f(1).toLong, f(2))
    }

  /** Row count and order-insensitive digest of a result. */
  def of(columns: Seq[String], rows: Iterable[org.apache.spark.sql.Row]): (Long, String) = {
    val bag = new Digest.Bag
    rows.foreach(r => bag.add(Digest.canonicalRow(columns, r)))
    (bag.count, bag.digest)
  }
}

/** Declared queries run to completion, their rows collected to the driver.
  * A query's `count()` would let Catalyst prune the columns it computes,
  * and would need a second execution to check the output; collecting
  * measures the whole query and lets every unit's rows be checked against
  * the golden digest after the clock stops.
  */
final class CatalogWorkload(spark: SparkSession, val corpusDir: Path, golden: Seq[Golden], trace: Tracer)
    extends Workload {
  private val dir = corpusDir.toString
  var buildS = 0.0

  def units: IndexedSeq[Work] = golden.map { g =>
    val query = graft.SparkEntry.queries.getOrElse(g.name, throw new IllegalStateException(s"no query ${g.name}"))
    Work(g.name, () => {
      val (df, s) = trace.timed("ops.build")(query(spark, dir))
      buildS += s
      val rows = df.collect()
      () => {
        val (n, d) = Golden.of(df.columns.toSeq, rows)
        if (n == g.rows && d == g.digest) None else Some(s"$d, expected ${g.digest}")
      }
    })
  }.toIndexedSeq
}
