package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** What the tool mains share: the session they run on, the metered step
  * every measurement is, the write-once corpora they read and the confs
  * they switch around one run.
  *
  * Wall clock on a shared host swings with ambient load, so every step
  * also reports its executor work (jobs, stages, tasks, CPU, GC, shuffle,
  * spill): the contention-robust cost of what ran.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` when set (checked as Bench checks it), else
    * `default`.
    */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(c => graft.Bench.requestedCpus(Some(c)).toInt)

  /** A tool main's session. Master `SPARK_MASTER`, else
    * `local[cpus(defaultCpus)]`; `shuffle` shuffle partitions; UI off,
    * UTC, log level WARN; then `confs`.
    */
  def session(defaultCpus: Int, shuffle: Int,
      confs: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${cpus(defaultCpus)}]"))
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The conf the declared queries need to read the sf corpora's
    * TIMESTAMP(NANOS) events (as Verify's and Bench's sessions set it).
    */
  val NanosAsLong: Map[String, String] = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** One completed stage's executor work. */
  final case class StageCost(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** The Spark work of one step: the jobs it started and the stages they
    * completed (spill is bytes spilled to disk).
    */
  final case class Cost(jobs: Int, stages: Seq[StageCost]) {
    def tasks: Long = stages.map(_.tasks.toLong).sum
    def cpuNs: Long = stages.map(_.cpuNs).sum
    def gcMs: Long = stages.map(_.gcMs).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum

    /** The cost columns every tool line ends with. */
    def columns: String =
      f"jobs=$jobs stages=${stages.size} tasks=$tasks cpu=${cpuNs / 1e9}%.2f s " +
        f"gc=${gcMs / 1e3}%.2f s shufR=${shuffleReadBytes / 1e6}%.1f MB " +
        f"shufW=${shuffleWriteBytes / 1e6}%.1f MB spill=${spillBytes / 1e6}%.1f MB"

    def json: String =
      s"""{"jobs":$jobs,"stages":${stages.size},"tasks":$tasks,""" +
        s""""cpu_s":${cpuNs / 1e9},"gc_s":${gcMs / 1e3},""" +
        s""""shuffle_read_mb":${shuffleReadBytes / 1e6},""" +
        s""""shuffle_write_mb":${shuffleWriteBytes / 1e6},"spill_mb":${spillBytes / 1e6}}"""
  }

  /** A step's value, wall seconds and cost. */
  final case class Step[A](value: A, wallS: Double, cost: Cost) {
    /** Prints `[prefix] name  wall s  fields  cost columns`; returns the value. */
    def report(prefix: String, name: String, fields: String = ""): A = {
      val tail = Seq(fields, cost.columns).filter(_.nonEmpty).mkString("   ")
      println(f"[$prefix] $name%-24s $wallS%8.2f s   $tail")
      value
    }
  }

  private final class Meter extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[StageCost]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.add(StageCost(si.stageId, si.name, si.numTasks,
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  /** Runs `body` as one measured step. The listener bus is drained before
    * the step's listener is added and again before its counters are read,
    * so no event of an earlier step is counted and none of this one is
    * missed.
    */
  def step[A](spark: SparkSession)(body: => A): Step[A] = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val meter = new Meter
    sc.addSparkListener(meter)
    try {
      val t0 = System.nanoTime()
      val value = body
      val wallS = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(sc)
      Step(value, wallS, Cost(meter.jobs.get, meter.stages.asScala.toVector))
    } finally sc.removeSparkListener(meter)
  }

  /** A soak main's named stages. `only` is a comma-separated list of
    * substrings: a stage runs only when its name contains one of them (all
    * run when it is absent). A stage is one step, printed with its rows
    * and µs per unit; the session's persisted data is released after it.
    */
  final class Stages(spark: SparkSession, prefix: String, only: Option[String]) {
    val names: Seq[String] = only.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    def selected(name: String): Boolean = names.isEmpty || names.exists(name.contains)
    def apply(name: String, units: Long, unit: String = "doc")(body: => Long): Unit =
      if (selected(name)) {
        val s = step(spark)(body)
        s.report(prefix, name, f"rows=${s.value}%,d   (${s.wallS * 1e6 / units}%.2f µs/$unit)")
        graft.ops.CacheUtils.releaseAll(spark)
      }
  }

  /** The parquet data at `dir`, written from `df` first unless a finished
    * earlier write (its `_SUCCESS` marker) is there. What `df` computes
    * must be a pure function of `dir`: put a generator version into the
    * path and bump it when the generator changes, or later runs read
    * stale data.
    */
  def materialize(spark: SparkSession, dir: String)(df: => DataFrame): DataFrame = {
    if (!new java.io.File(dir, "_SUCCESS").exists()) df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Runs `body` with `confs` set on the session, then puts each key back
    * as it was, also when `body` throws: its old value, or unset when it
    * was not set.
    */
  def withConf[A](spark: SparkSession, confs: Map[String, String])(body: => A): A = {
    val set = spark.conf.getAll
    val prev = confs.keys.map(k => k -> set.get(k))
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
