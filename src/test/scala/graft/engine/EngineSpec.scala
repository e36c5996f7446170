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
    assert(globalSorts(unordered).isEmpty,
      "orderedConcat=false must keep the pipeline free of global sorts")
    assert(globalSorts(ordered).nonEmpty,
      "sanity: the default parity path pays exactly the sort being opted out")
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
