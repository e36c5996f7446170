package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `unit` is the id of the unit of work it belongs to;
  * times are epoch milliseconds, the resolution of Spark's own events.
  */
final case class Span(unit: String, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Executor-side totals, summed from task-end events. */
final class ExecTotals {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var peakExecMem = 0L
  var pipeProcesses = 0L
  val skews = mutable.ArrayBuffer.empty[Double]
  /** Task CPU nanoseconds and input bytes per job group, i.e. per unit of work. */
  val cpuNsByGroup, inputBytesByGroup = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Reads Spark's public listener interfaces. The executor totals are always
  * on (they feed end-to-end metrics and cost one callback per task); spans,
  * plan shapes and Catalyst phases are recorded only while `tracing` is set.
  */
final class Probe(sc: SparkContext) extends SparkListener with QueryExecutionListener {

  @volatile var tracing = false
  /** The unit in flight; set by the client thread, read by the bus thread.
    * In the traced run each unit ends with [[sync]], so every event of a
    * unit is handled while its id is current.
    */
  @volatile var current = "setup"

  private val lock = new Object
  private var totals = new ExecTotals
  val spans = mutable.ArrayBuffer.empty[Span]
  val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var queryExecutions = 0L
  var sorts, exchanges = 0L
  /** Files the scans of traced units read, per unit id. */
  val filesRead = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Plan nodes already counted for the unit in flight. */
  private val counted = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
  private var countedFor = ""

  /** Submission time and job group of each running stage. */
  private val stageSubmit = mutable.Map.empty[Int, (Long, String)]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var markerSeen = -1L

  private def group(props: java.util.Properties): String =
    if (props == null) null else props.getProperty("spark.jobGroup.id")

  /** Jobs the benchmark itself runs (sync markers, layer calls) are not counted. */
  private def ignored(props: java.util.Properties): Boolean =
    Option(group(props)).exists(_.startsWith(Probe.OwnGroup))

  def addSpan(s: Span): Unit = lock.synchronized { spans += s }

  /** Take and reset the executor totals. */
  def drain(): ExecTotals = lock.synchronized { val t = totals; totals = new ExecTotals; t }

  /** Block until the bus has handled every event posted before this call:
    * run a one-task marker job and wait for its start event, which the bus
    * delivers after everything queued before it.
    */
  def sync(): Unit = {
    val seq = Probe.markers.incrementAndGet()
    sc.setJobGroup(Probe.MarkerGroup, seq.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    lock.synchronized {
      while (markerSeen < seq && System.nanoTime() < deadline) lock.wait(50)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    if (group(e.properties) == Probe.MarkerGroup) {
      markerSeen = e.properties.getProperty("spark.job.description").toLong
      lock.notifyAll()
    } else if (!ignored(e.properties)) {
      totals.jobs += 1
      if (tracing) jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { t =>
      spans += Span(current, "exec.job", t.toDouble, e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    if (!ignored(e.properties)) {
      totals.stages += 1
      stageSubmit(e.stageInfo.stageId) =
        (e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()), group(e.properties))
      // one external process per task of a stage that contains RDD.pipe
      val pipes = e.stageInfo.rddInfos.count(_.scope.exists(_.name == "pipe"))
      totals.pipeProcesses += pipes.toLong * e.stageInfo.numTasks
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val id = e.stageInfo.stageId
    stageSubmit.remove(id).foreach { case (sub, _) =>
      val durs = stageTaskMs.remove(id).getOrElse(mutable.ArrayBuffer.empty[Long])
      if (durs.size >= 2 && durs.sum > 0)
        totals.skews += durs.max.toDouble / (durs.sum.toDouble / durs.size)
      if (tracing)
        spans += Span(current, "exec.stage", sub.toDouble,
          e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageSubmit.get(e.stageId).foreach { case (sub, group) =>
      val t = totals
      t.tasks += 1
      if (!e.taskInfo.successful) t.failedTasks += 1
      t.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.cpuNsByGroup(group) += m.executorCpuTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputBytesByGroup(group) += m.inputMetrics.bytesRead
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  // --------------------------------------------- QueryExecutionListener

  private def record(qe: QueryExecution): Unit = if (tracing) lock.synchronized {
    queryExecutions += 1
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phase != "parsing") {
        phases(phase) += s.durationMs / 1000.0
        spans += Span(current, s"catalyst.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
    }
    // a node reached twice (a reused exchange, or a cached relation that
    // several queries of the unit read) ran once, so it is counted once
    if (countedFor != current) { counted.clear(); countedFor = current }
    val fresh = Probe.nodes(qe.executedPlan).filter(counted.add)
    sorts += fresh.count(_.isInstanceOf[SortExec])
    exchanges += fresh.count(_.isInstanceOf[ShuffleExchangeExec])
    filesRead(current) += fresh.collect { case f: FileSourceScanExec => f.metrics.get("numFiles").fold(0L)(_.value) }.sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

object Probe {
  val OwnGroup = "perfbench-"
  val MarkerGroup = OwnGroup + "marker"
  val LayerGroup = OwnGroup + "layers"
  private val markers = new java.util.concurrent.atomic.AtomicLong(0)

  /** Every physical node, through adaptive query stages, reused exchanges
    * and cached relations.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Self time per span name: each instant of a unit belongs to the deepest
    * span covering it, in the order unit < ops.build < catalyst / exec.job
    * < exec.stage.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    def depth(name: String): Int = name match {
      case "unit" => 0
      case "ops.build" => 1
      case n if n.startsWith("catalyst.") || n == "exec.job" => 2
      case "exec.stage" => 3
      case _ => -1
    }
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.filter(s => depth(s.name) >= 0).groupBy(_.unit).values.foreach { ss =>
      val cuts = ss.flatMap(s => Seq(s.startMs, s.endMs)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val covering = ss.filter(s => s.startMs <= a && s.endMs >= b)
        if (covering.nonEmpty) out(covering.maxBy(s => depth(s.name)).name) += (b - a) / 1000.0
      }
    }
    out.toMap
  }
}
