package graft.engine

import scala.collection.immutable.ListMap

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.spec.{PipelineSpec, SegType, Stage}
import graft.stages.{CommandStage, ModuleRegistry}

/** Engine planner semantics vs the reference's combinators (SURVEY §2.1).
  * Each test reproduces a documented reference behavior.
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def lines(xs: String*): DataFrame = xs.toDF(CommandStage.ValueCol)
  private def collectValues(df: DataFrame): Seq[String] =
    df.select(CommandStage.ValueCol).as[String].collect().toSeq

  test("flagship parity: echo hello world | uppercase => HELLO WORLD (test.js:5-13)") {
    val spec = PipelineSpec(ListMap("example" -> Seq(
      Stage.Command("echo hello world"),
      Stage.Module("uppercase"))))
    val out = new Engine(spec).run("example", spark)
    assert(collectValues(out) == Seq("HELLO WORLD"))
  }

  test("curation modules compose as a gasket pipeline: normalize | redact | dedup | shuffle") {
    val spec = graft.spec.ConfigLoader.parse(
      """{"curate": [{"module": "normalize"}, {"module": "redact"},
                     {"module": "dedup-lines"}, {"module": "shuffle-lines"}]}""")
    val in = lines(
      "  Contact Bob at bob@example.com  ",
      "contact bob at BOB@EXAMPLE.COM",   // normalize+redact-equal to line 1
      "plain line")
    val out = collectValues(new Engine(spec).run("curate", spark, Some(in)))
    // dedup collapsed the two equivalent lines; emails are redacted;
    // order is the content-addressed permutation (deterministic)
    assert(out.toSet == Set("contact bob at <EMAIL>", "plain line"))
    val again = collectValues(new Engine(spec).run("curate", spark, Some(in)))
    assert(out == again)
  }

  test("plain-string stage is a command stage (gasket add form, bin.js:100)") {
    val spec = graft.spec.ConfigLoader.parse("""{"test": ["echo hi"]}""")
    val out = new Engine(spec).run("test", spark)
    assert(collectValues(out) == Seq("hi"))
  }

  test("run segment concatenates outputs in order (readme.md:55-77)") {
    val spec = PipelineSpec(ListMap("main" -> Seq(
      Stage.Command("echo hello world", SegType.Run),
      Stage.Command("echo hello afterwards", SegType.Run))))
    val out = new Engine(spec).run("main", spark)
    assert(collectValues(out) == Seq("hello world", "hello afterwards"))
  }

  test("fork segment merges outputs as a multiset (index.js:42-49)") {
    val spec = PipelineSpec(ListMap("main" -> Seq(
      Stage.Command("echo a", SegType.Fork),
      Stage.Command("echo b", SegType.Fork),
      Stage.Command("echo c", SegType.Fork))))
    val out = new Engine(spec).run("main", spark)
    assert(collectValues(out).sorted == Seq("a", "b", "c"))
  }

  test("map segment tees the first stage into each other stage (index.js:62)") {
    val reg = ModuleRegistry.default
      .register("suffix_x", df => df.withColumn(CommandStage.ValueCol,
        concat(col(CommandStage.ValueCol), lit("-x"))))
      .register("suffix_y", df => df.withColumn(CommandStage.ValueCol,
        concat(col(CommandStage.ValueCol), lit("-y"))))
    val spec = PipelineSpec(ListMap("tee" -> Seq(
      Stage.Command("echo src", SegType.MapTee),
      Stage.Module("suffix_x", SegType.MapTee),
      Stage.Module("suffix_y", SegType.MapTee))))
    val out = new Engine(spec, reg).run("tee", spark)
    assert(collectValues(out).sorted == Seq("src-x", "src-y"))
  }

  test("reduce segment fans producers into the first aggregator (index.js:64)") {
    val reg = ModuleRegistry.default
      .register("emit_1", _ => lines("1", "2")) // producers ignore input
      .register("emit_2", _ => lines("3"))
    val spec = PipelineSpec(ListMap("fanin" -> Seq(
      Stage.Module("linecount", SegType.Reduce), // aggregator is FIRST
      Stage.Module("emit_1", SegType.Reduce),
      Stage.Module("emit_2", SegType.Reduce))))
    val out = new Engine(spec, reg).run("fanin", spark)
    assert(collectValues(out) == Seq("3"))
  }

  test("segments are concatenated, not piped (runStream concat, index.js:164)") {
    // [run-segment producing 'first'] then [pipe-segment echoing 'second']:
    // the pipe segment starts from the EMPTY source, not the run output.
    val spec = PipelineSpec(ListMap("main" -> Seq(
      Stage.Command("echo first", SegType.Run),
      Stage.Command("echo second", SegType.Pipe))))
    val out = new Engine(spec).run("main", spark)
    assert(collectValues(out) == Seq("first", "second"))
  }

  test("orderedConcat=false: same multiset, NO global sort in the plan") {
    val spec = PipelineSpec(ListMap("main" -> Seq(
      Stage.Command("echo first", SegType.Run),
      Stage.Command("echo second", SegType.Run),
      Stage.Command("echo third", SegType.Pipe))))
    val ordered = new Engine(spec).run("main", spark)
    assert(collectValues(ordered) == Seq("first", "second", "third"))
    val unordered = new Engine(spec).run("main", spark,
      opts = RunOptions(orderedConcat = false))
    assert(collectValues(unordered).sorted == Seq("first", "second", "third"))
    def globalSorts(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }
    def byId(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
        if r.partitionExpressions.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DirectShufflePartitionID]) => r
    }
    assert(globalSorts(unordered).isEmpty && byId(unordered).isEmpty,
      "orderedConcat=false must keep the pipeline free of ordering exchanges")
    assert(globalSorts(ordered).isEmpty, "the ordered concat needs no global sort")
    assert(byId(ordered).size == 1,
      "sanity: the default parity path pays exactly the exchange being opted out")
    // ordinal bookkeeping columns must not leak into the opted-out output
    assert(unordered.columns.toSeq == Seq(CommandStage.ValueCol))
  }

  test("pipe composes stages serially over the input (pipeStream, index.js:52-56)") {
    val spec = PipelineSpec(ListMap("chain" -> Seq(
      Stage.Module("uppercase"),
      Stage.Command("rev"))))
    val out = new Engine(spec).run("chain", spark, Some(lines("abc", "xyz")))
    assert(collectValues(out).sorted == Seq("CBA", "ZYX"))
  }

  test("non-zero exit destroys the stream with an error (index.js:16-18)") {
    val spec = PipelineSpec(ListMap("boom" -> Seq(Stage.Command("exit 3"))))
    val e = intercept[SparkException] {
      new Engine(spec).run("boom", spark, Some(lines("x"))).collect()
    }
    assert(e.getMessage.contains("status 3") ||
      Option(e.getCause).exists(_.getMessage.contains("status 3")))
  }

  test("unknown pipeline: pipe → None (index.js:194), run → error (bin.js:142-145)") {
    val engine = new Engine(PipelineSpec.empty)
    assert(engine.pipe("nope", spark).isEmpty)
    intercept[NoSuchElementException] { engine.run("nope", spark) }
  }

  test("exec runs an ad-hoc command; user params reach argv (index.js:203-206)") {
    val out = new Engine(PipelineSpec.empty)
      .exec("tr a-z A-Z", lines("ok"), RunOptions(partitions = Some(1)))
    assert(collectValues(out) == Seq("OK"))
    val withParams = new Engine(PipelineSpec.empty)
      .exec("tr", lines("ok"), RunOptions(params = Seq("a-z", "A-Z"), partitions = Some(1)))
    assert(collectValues(withParams) == Seq("OK"))
  }

  test("env vars reach command stages (index.js:124-125)") {
    val spec = PipelineSpec(ListMap("env" -> Seq(
      Stage.Command("printenv GREETING"))))
    val out = new Engine(spec, defaults = RunOptions(env = Map("GREETING" -> "bonjour")))
      .run("env", spark)
    assert(collectValues(out) == Seq("bonjour"))
  }

  test("DEBUG taps expose per-stage row counts (index.js:77-80)") {
    val spec = PipelineSpec(ListMap("example" -> Seq(
      Stage.Command("echo hello world"),
      Stage.Module("uppercase"))))
    val out = new Engine(spec).run("example", spark, opts = RunOptions(debug = true))
    out.collect()
    val metrics = out.queryExecution.observedMetrics
    assert(metrics.keySet == Set("graft_example_stage0", "graft_example_stage1"))
    assert(metrics("graft_example_stage1").getAs[Long]("rows") == 1L)
  }

  test("DEBUG taps stay unique across segments (multi-segment pipeline)") {
    val spec = PipelineSpec(ListMap("multi" -> Seq(
      Stage.Command("echo first", SegType.Run),
      Stage.Command("echo second", SegType.Pipe))))
    val out = new Engine(spec).run("multi", spark, opts = RunOptions(debug = true))
    out.collect() // duplicate metric names would fail analysis here
    assert(out.queryExecution.observedMetrics.keySet ==
      Set("graft_multi_stage0", "graft_multi_stage1"))
  }

  test("background segments do not consume the pipeline input (index.js:150-151)") {
    val spec = PipelineSpec(ListMap("bg" -> Seq(
      Stage.Module("linecount", SegType.Background),
      Stage.Command("cat -", SegType.Pipe))))
    val out = new Engine(spec).run("bg", spark, Some(lines("x", "y")))
    // main chain sees the input (cat echoes both rows); the background
    // linecount ran on the empty source (contributes "0")
    assert(collectValues(out).sorted == Seq("0", "x", "y"))
  }

  test("cwd makes relative paths in commands resolve against the config dir (index.js:124)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cwd")
    java.nio.file.Files.writeString(dir.resolve("data.txt"), "from-config-dir\n")
    val spec = PipelineSpec(ListMap("readit" -> Seq(Stage.Command("cat data.txt"))))
    val out = new Engine(spec, defaults = RunOptions(cwd = dir.toString))
      .run("readit", spark)
    assert(collectValues(out) == Seq("from-config-dir"))
  }

  test("degenerate pipelines: empty stage list and single-stage map/reduce") {
    val spec = PipelineSpec(ListMap(
      "empty" -> Seq.empty,
      "solo_map" -> Seq(Stage.Command("echo solo", SegType.MapTee)),
      "solo_reduce" -> Seq(Stage.Command("echo solo", SegType.Reduce))))
    val engine = new Engine(spec)
    assert(engine.run("empty", spark).isEmpty)
    assert(collectValues(engine.run("solo_map", spark)) == Seq("solo"))
    assert(collectValues(engine.run("solo_reduce", spark)) == Seq("solo"))
  }

  test("empty input still spawns the command once with closed stdin (pipe.end(), index.js:54)") {
    // an empty LocalRelation plans to a ZERO-partition RDD; without the
    // 0→1 raise the process would never run and `echo hi` would emit
    // nothing — the reference always spawns each stage
    val out = CommandStage(lines(), "echo hi")
    assert(collectValues(out) == Seq("hi"))
    // engine-level: empty engine input into a command-headed pipeline
    val spec = PipelineSpec(ListMap("main" -> Seq(Stage.Command("echo ran"))))
    val piped = new Engine(spec).run("main", spark, Some(lines()))
    assert(collectValues(piped) == Seq("ran"))
  }

  test("multi-segment pipelines keep stage order WITHIN a run segment (runStream, index.js:30-39)") {
    // run segment (two multi-line stages) followed by a pipe segment:
    // output must be seg0-stage0 lines, seg0-stage1 lines, then seg1 —
    // sorting only by the segment ordinal loses the intra-run order
    val spec = PipelineSpec(ListMap("main" -> Seq(
      Stage.Command("printf 'a1\\na2\\n'", SegType.Run),
      Stage.Command("printf 'b1\\nb2\\n'", SegType.Run),
      Stage.Command("echo c1", SegType.Pipe))))
    val out = collectValues(new Engine(spec).run("main", spark))
    assert(out == Seq("a1", "a2", "b1", "b2", "c1"))
  }

  test("stderr flag: discarded by default (stderr.resume(), index.js:23), passed through when set") {
    val spec = PipelineSpec(ListMap("noisy" -> Seq(
      Stage.Command("echo data; echo oops-marker 1>&2"))))
    def captureErr(body: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(buf, true))
      // the pipe stderr-reader thread may still be draining just after
      // the action returns — keep the redirect in place briefly
      try { body; Thread.sleep(300) } finally System.setErr(old)
      buf.toString
    }
    val quiet = captureErr {
      val out = new Engine(spec).run("noisy", spark, Some(lines("x")))
      assert(collectValues(out) == Seq("data"))
    }
    assert(!quiet.contains("oops-marker"))
    val loud = captureErr {
      val out = new Engine(spec, defaults = RunOptions(stderr = true))
        .run("noisy", spark, Some(lines("x")))
      assert(collectValues(out) == Seq("data"))
    }
    assert(loud.contains("oops-marker"))
  }

  test("json: true module stages run on parsed records, one after another (index.js:73)") {
    val spec = graft.spec.ConfigLoader.parse(
      """{"records": [{"module": "redact", "json": true}, {"module": "normalize", "json": true}]}""")
    val in = lines(
      """{"id":1,"tag":"T1","value":"  Mail BOB@Example.com   NOW  "}""",
      """{"id":2,"tag":"T2","value":"See http://x.org/p/1 and 1234567"}""")
    val out = collectValues(new Engine(spec).run("records", spark, Some(in)))
    // redact, then normalize: the placeholders are lower-cased too; only
    // the transformed field changes, and records stay in input order
    assert(out == Seq(
      """{"id":1,"tag":"T1","value":"mail <email> now"}""",
      """{"id":2,"tag":"T2","value":"see <url> and <num>"}"""))
  }

  /** Jobs that `body` starts on this thread. Listener events arrive in
    * order, so once a marker job started afterwards has been seen, every
    * job of `body` has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"engine-spec-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("adjacent json stages share one parse: one inference job, not one per stage") {
    val spec = graft.spec.ConfigLoader.parse(
      """{"records": [{"module": "redact", "json": true}, {"module": "normalize", "json": true}]}""")
    val in = lines("""{"id":1,"value":"Mail BOB@Example.com"}""", """{"id":2,"value":"x  y"}""")
    var out: DataFrame = null
    // the schema-inference job is the only job building the pipeline runs
    assert(jobsDuring { out = new Engine(spec).run("records", spark, Some(in)) } == 1)
    assert(collectValues(out) == Seq("""{"id":1,"value":"mail <email>"}""", """{"id":2,"value":"x y"}"""))
  }

  test("a fused json run equals per-stage chaining for JSON-native field types") {
    val bump: DataFrame => DataFrame = df =>
      df.withColumn("l", col("l") + 1).withColumn("d", col("d") * 2)
        .withColumn("st", struct((col("st.x") + 1).as("x"), col("st.y").as("y")))
    val shout: DataFrame => DataFrame = df =>
      df.withColumn("s", upper(col("s"))).withColumn("b", !col("b"))
        .withColumn("arr", transform(col("arr"), _ * 10))
    val spec = PipelineSpec(ListMap("typed" -> Seq(
      Stage.Inline("bump", bump, json = true), Stage.Inline("shout", shout, json = true))))
    val in = lines(
      """{"arr":[1,2],"b":true,"d":1.5,"l":7,"n":null,"s":"ab","st":{"x":1,"y":"p"}}""",
      """{"arr":[],"b":false,"d":-0.25,"l":9000000000,"n":"set","s":"é","st":{"x":-3,"y":null}}""",
      """{"arr":[5],"b":true,"d":2.0,"l":0,"s":"","st":{"x":0,"y":"q"}}""")
    val fused = collectValues(new Engine(spec).run("typed", spark, Some(in)))
    import graft.stages.NdjsonBridge.{parse, serialize}
    val chained = collectValues(serialize(shout(parse(serialize(bump(parse(in)))))))
    assert(fused == chained)
    assert(fused.head == """{"arr":[10,20],"b":false,"d":3.0,"l":8,"s":"AB","st":{"x":2,"y":"p"}}""")
  }

  test("a fused json run keeps the module's key order; a command stage splits the run") {
    val addNote: DataFrame => DataFrame = _.withColumn("note", lit("n"))
    val keep: DataFrame => DataFrame = df => df
    val spec = PipelineSpec(ListMap(
      "fused" -> Seq(Stage.Inline("add", addNote, json = true), Stage.Inline("keep", keep, json = true)),
      "split" -> Seq(Stage.Inline("add", addNote, json = true), Stage.Command("cat -"),
        Stage.Inline("keep", keep, json = true))))
    val in = lines("""{"id":1,"value":"x"}""")
    val engine = new Engine(spec)
    // the module appended `note`: no re-parse between the stages re-sorts it
    assert(collectValues(engine.run("fused", spark, Some(in))) == Seq("""{"id":1,"value":"x","note":"n"}"""))
    var split: DataFrame = null
    // two runs of one stage each: two parses, each with its inference job
    assert(jobsDuring { split = engine.run("split", spark, Some(in)) } == 2)
    // the second parse infers from text, and inference sorts the keys
    assert(collectValues(split) == Seq("""{"id":1,"note":"n","value":"x"}"""))
  }

  test("DEBUG taps report every fused json stage's own row count") {
    val spec = PipelineSpec(ListMap("recs" -> Seq(
      Stage.Inline("tag", _.withColumn("seen", lit(true)), json = true),
      Stage.Inline("keep_big", _.filter(col("id") > 1), json = true))))
    val in = lines("""{"id":1}""", """{"id":2}""", """{"id":3}""")
    val out = new Engine(spec).run("recs", spark, Some(in), RunOptions(debug = true))
    assert(out.collect().map(_.getString(0)).toSeq ==
      Seq("""{"id":2,"seen":true}""", """{"id":3,"seen":true}"""))
    val metrics = out.queryExecution.observedMetrics
    assert(metrics.keySet == Set("graft_recs_stage0", "graft_recs_stage1"))
    assert(metrics("graft_recs_stage0").getAs[Long]("rows") == 3L)
    assert(metrics("graft_recs_stage1").getAs[Long]("rows") == 2L)
  }

  test("run-segment commands spawn once per action, through collect and printLines") {
    val log = java.nio.file.Files.createTempFile("graft-spawns", ".log")
    def spawned(): Seq[String] = {
      val got = java.nio.file.Files.readAllLines(log).toArray.toSeq.map(_.toString)
      java.nio.file.Files.write(log, Array.emptyByteArray)
      got
    }
    def cmd(tag: String, seg: SegType) =
      Stage.Command(s"echo $tag >> '$log'; printf '${tag}1\\n${tag}2\\n'", seg)
    val spec = PipelineSpec(ListMap(
      "two" -> Seq(cmd("x", SegType.Run), cmd("y", SegType.Run)),
      "multi" -> Seq(cmd("a", SegType.Run), cmd("b", SegType.Run), cmd("c", SegType.Pipe),
        cmd("d", SegType.Run), cmd("e", SegType.Run))))
    val engine = new Engine(spec)
    try {
      assert(collectValues(engine.run("two", spark)) == Seq("x1", "x2", "y1", "y2"))
      assert(spawned().sorted == Seq("x", "y"))
      val multi = Seq("a1", "a2", "b1", "b2", "c1", "c2", "d1", "d2", "e1", "e2")
      assert(collectValues(engine.run("multi", spark)) == multi)
      assert(spawned().sorted == Seq("a", "b", "c", "d", "e"))
      val printed = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(printed, true, "UTF-8")) {
        graft.sources.Sources.printLines(engine.run("multi", spark), Int.MaxValue)
      }
      assert(printed.toString("UTF-8").split("\n").toSeq == multi)
      assert(spawned().sorted == Seq("a", "b", "c", "d", "e"))
    } finally java.nio.file.Files.deleteIfExists(log)
  }

  test("registry surface: list/has/toJson round-trip (index.js:180-210)") {
    val spec = PipelineSpec(ListMap(
      "a" -> Seq(Stage.Command("cat -")),
      "b" -> Seq(Stage.Module("uppercase", json = true))))
    val engine = new Engine(spec)
    assert(engine.list == Seq("a", "b"))
    assert(engine.has("a") && !engine.has("z"))
    val reparsed = graft.spec.ConfigLoader.parse(engine.toJson)
    assert(reparsed == spec)
  }
}
