package graft.tools

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

/** The tool mains' harness: the metered step's counters are exact and
  * per step, materialize writes once, withConf restores, and the
  * declared-query timer runs on a given session and states its config.
  */
class HarnessSpec extends SparkSpec {

  /** Sums the same counters from task-end events, read only after the bus
    * is drained.
    */
  private final class Reference extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val cpuNs, gcMs, shufRead, shufWrite, spill = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Runs `body` while a listener ahead of every later one in the shared
    * queue takes 100 ms per job and stage event, so the bus lags well
    * behind the jobs: a counter read without a drain would miss events.
    */
  private def withLaggingBus[A](body: => A): A = {
    val lag = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(100)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(lag)
    try body finally spark.sparkContext.removeSparkListener(lag)
  }

  test("a step's counters, read with no sleep, equal a drained reference listener's") {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val ref = new Reference
    val s = withLaggingBus {
      sc.addSparkListener(ref)
      try {
        val s = Harness.step(spark) {
          val joined = spark.range(0, 200000, 1, 8).groupBy((col("id") % 97).as("k")).count()
            .join(spark.range(0, 97).withColumnRenamed("id", "k"), "k").collect().length
          (joined, sc.parallelize(1 to 200000, 8).map(i => (i % 97, 1L)).reduceByKey(_ + _).count())
        }
        Bridge.drainListenerBus(sc)
        s
      } finally sc.removeSparkListener(ref)
    }
    assert(s.value == ((97, 97L)))
    assert(s.cost.jobs == ref.jobs.get && s.cost.jobs >= 1)
    assert(s.cost.stages.size == ref.stages.get && s.cost.stages.size >= 2)
    assert(s.cost.tasks == ref.tasks.get)
    assert(s.cost.cpuNs == ref.cpuNs.get && s.cost.cpuNs > 0)
    assert(s.cost.gcMs == ref.gcMs.get)
    assert(s.cost.shuffleReadBytes == ref.shufRead.get)
    assert(s.cost.shuffleWriteBytes == ref.shufWrite.get && s.cost.shuffleWriteBytes > 0)
    assert(s.cost.spillBytes == ref.spill.get)
  }

  test("a step counts only its own jobs") {
    withLaggingBus {
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      val idle = Harness.step(spark)(42)
      assert(idle.value == 42)
      assert(idle.cost.jobs == 0 && idle.cost.stages.isEmpty, idle.cost)
      val one = Harness.step(spark)(spark.sparkContext.parallelize(1 to 10, 3).count())
      assert(one.cost.jobs == 1 && one.cost.stages.size == 1 && one.cost.tasks == 3, one.cost)
      assert(Harness.step(spark)(()).cost.jobs == 0)
    }
  }

  test("materialize writes once and rewrites a dir without _SUCCESS") {
    val dir = Files.createTempDirectory("graft-harness").resolve("data").toString
    try {
      assert(Harness.materialize(spark, dir)(spark.range(5).toDF()).count() == 5)
      val again = Harness.materialize(spark, dir)(sys.error("a finished dir is not rewritten"))
      assert(again.count() == 5)
      Files.delete(java.nio.file.Paths.get(dir, "_SUCCESS"))
      assert(Harness.materialize(spark, dir)(spark.range(3).toDF()).count() == 3)
      assert(new java.io.File(dir, "_SUCCESS").exists())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
  }

  test("withConf restores set and unset keys when the body throws") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graft.harness.unsetKey"
    val before = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(unset))
    val e = intercept[IllegalStateException] {
      Harness.withConf(spark, Map(set -> "7", unset -> "x")) {
        assert(spark.conf.get(set) == "7" && spark.conf.get(unset) == "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.get(set) == before)
    assert(!spark.conf.getAll.contains(unset))
  }

  test("the query timer runs a declared query on a given session and states its config") {
    val dir = Files.createTempDirectory("graft-timer")
    try {
      val path = dir.resolve("timer.json")
      Files.writeString(path, "earlier run")
      val cfg = ScaleExperiments.parse(Seq(sfDir, "1", "--json=" + path, "q_filter"))
      val doc = ScaleExperiments.run(spark, cfg)
      val par = spark.sparkContext.defaultParallelism
      Seq(s""""sf":"$sfDir"""", """"cpus":""", s""""parallelism":$par,""", """"reps":1,""",
        """"warmup":1,""", """"queries":{"q_filter":{"min":""", """"cost":[{"jobs":""")
        .foreach(f => assert(doc.contains(f), f))
      // an existing artifact is never overwritten
      assert(Files.readString(path) == "earlier run")
      assert(Files.readString(dir.resolve("timer_run2.json")) == doc + "\n")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("the query timer rejects bad arguments before any run") {
    def rejected(args: String*): String =
      intercept[IllegalArgumentException](ScaleExperiments.parse(args)).getMessage
    assert(rejected(sfDir, "1", "--conf", "spark.sql.shuffle.partitions") ==
      "requirement failed: --conf expects key=value, got 'spark.sql.shuffle.partitions'")
    assert(rejected(sfDir, "1", "q_filter", "--conf").contains("'--conf' without its value"))
    Seq("2", "0", "-1", "three").foreach(r =>
      assert(rejected(sfDir, r, "q_filter").contains("reps must be a positive odd number"), r))
    assert(rejected(sfDir, "3", "q_no_such_query").contains("unknown query 'q_no_such_query'"))
    assert(rejected(sfDir, "3", "--json=out.txt").contains("must end in .json"))
    assert(rejected(sfDir).contains("usage"))
    val ok = ScaleExperiments.parse(Seq(sfDir, "3", "--conf", "a.b=c=d", "--check"))
    assert(ok.confs == Map("a.b" -> "c=d") && ok.check && ok.names == ScaleExperiments.WatchSet)
  }
}
