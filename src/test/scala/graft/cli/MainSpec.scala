package graft.cli

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException

import graft.SparkSpec

class MainSpec extends SparkSpec {

  private def withDir(cfg: String)(f: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft-cli")
    Files.writeString(d.resolve("gasket.json"), cfg)
    f(d.toString)
  }

  private def capture(body: => Unit): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, UTF_8))(body)
    out.toString(UTF_8)
  }

  /** Runs the CLI with `stdin` and returns its stdout lines. */
  private def piped(stdin: String, argv: String*): Seq[String] =
    capture {
      Console.withIn(new java.io.StringReader(stdin))(Main.run(argv.toArray, () => spark))
    }.linesIterator.toSeq

  /** The stdin spools present in the JVM's temp directory. */
  private def spools(): Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith("graft-stdin-")).toSet
    finally ls.close()
  }

  /** About 3.4 MiB of CRLF lines of multi-byte characters, so that split
    * boundaries fall inside both lines and characters.
    */
  private lazy val bigLines: Seq[String] =
    (0 until 36000).map(i => s"$i ü€😀中é " + "ñø€" * (i % 23))
  private lazy val bigStdin: String = bigLines.mkString("", "\r\n", "\r\n")

  test("ls / show verbs") {
    withDir("""{"a": ["echo hi"], "b": ["cat -"]}""") { cwd =>
      val ls = capture(Main.run(Array("ls", "--cwd", cwd), () => spark))
      assert(ls.trim.split("\n").toSeq == Seq("a", "b"))
      val show = capture(Main.run(Array("show", "a", "--cwd", cwd), () => spark))
      assert(show.trim == "echo hi")
    }
  }

  test("add + rm persist to gasket.json (bin.js:26-46,94-130)") {
    withDir("""{"main": ["cat -"]}""") { cwd =>
      Main.run(Array("add", "build", "make", "install", "--cwd", cwd), () => spark)
      val ls = capture(Main.run(Array("ls", "--cwd", cwd), () => spark))
      assert(ls.contains("build"))
      val show = capture(Main.run(Array("show", "build", "--cwd", cwd), () => spark))
      assert(show.trim == "make install")
      Main.run(Array("rm", "build", "--cwd", cwd), () => spark)
      val ls2 = capture(Main.run(Array("ls", "--cwd", cwd), () => spark))
      assert(!ls2.contains("build"))
    }
  }

  test("add persists under package.json's gasket key when that is the config source") {
    val d = Files.createTempDirectory("graft-cli-pkg")
    Files.writeString(d.resolve("package.json"),
      """{"name": "x", "gasket": {"main": ["cat -"]}}""")
    Main.run(Array("add", "extra", "echo", "hi", "--cwd", d.toString), () => spark)
    val pkg = Files.readString(d.resolve("package.json"))
    assert(pkg.contains("\"extra\""))
    assert(pkg.contains("\"name\"")) // other keys preserved
    val ls = capture(Main.run(Array("ls", "--cwd", d.toString), () => spark))
    assert(ls.contains("extra") && ls.contains("main"))
  }

  test("run prints pipeline output to stdout (bin.js:132-155)") {
    withDir("""{"greet": ["echo hello world"]}""") { cwd =>
      val out = capture(Main.run(Array("run", "greet", "--cwd", cwd), () => spark))
      assert(out.trim == "hello world")
    }
  }

  test("a trailing flag without a value prints usage instead of crashing") {
    val err = new ByteArrayOutputStream()
    Console.withErr(err) {
      Main.run(Array("ls", "-c"), () => spark)
    }
    assert(err.toString.contains("-c requires a value"))
    // parse failure prints the FULL help text — the single usage surface,
    // so new verbs/options can't drift out of the error path
    assert(err.toString.contains("Usage: graft"))
    assert(err.toString.contains("completion"))
    assert(err.toString.contains("--stream"))
  }

  test("pipe reads stdin through the pipeline (bin.js:157-184)") {
    withDir("""{"main": ["tr a-z A-Z"]}""") { cwd =>
      val out = capture {
        Console.withIn(new java.io.StringReader("hello\nworld\n")) {
          Main.run(Array("pipe", "--cwd", cwd), () => spark)
        }
      }
      assert(out.trim.split("\n").toSeq == Seq("HELLO", "WORLD"))
    }
  }

  test("pipe with EMPTY stdin still spawns an echo-headed pipeline (pipe.end(), index.js:54)") {
    withDir("""{"main": ["echo spawned"]}""") { cwd =>
      val out = capture {
        Console.withIn(new java.io.StringReader("")) {
          Main.run(Array("pipe", "--cwd", cwd), () => spark)
        }
      }
      assert(out.trim == "spawned")
    }
  }

  test("exec runs an ad-hoc command over stdin (bin.js:79-84)") {
    val out = capture {
      Console.withIn(new java.io.StringReader("abc\n")) {
        Main.run(Array("exec", "rev"), () => spark)
      }
    }
    assert(out.trim == "cba")
  }

  test("a stdin of 2 MiB or more is split and prints its lines in input order") {
    assert(bigStdin.getBytes(UTF_8).length >= (3 << 20))
    withDir("""{"main": ["cat -"], "up": [{"module": "uppercase"}], "count": ["wc -l"]}""") { cwd =>
      assert(piped(bigStdin, "pipe", "--cwd", cwd) == bigLines)
      assert(piped(bigStdin, "pipe", "up", "--cwd", cwd) == bigLines.map(_.toUpperCase(Locale.ROOT)))
      // one process per split: 3 MiB and more is at least 3 splits
      val counts = piped(bigStdin, "pipe", "count", "--cwd", cwd).map(_.trim.toLong)
      assert(counts.size >= 3 && counts.sum == bigLines.size)
    }
  }

  test("a small stdin stays one split: wc -l prints one count") {
    withDir("""{"main": ["wc -l"]}""") { cwd =>
      assert(piped("a\nb\nc\n", "pipe", "--cwd", cwd).map(_.trim) == Seq("3"))
    }
  }

  test("a command that exits non-zero on a split stdin fails with its exit status") {
    withDir("""{"main": ["cat >/dev/null; exit 7"]}""") { cwd =>
      val e = intercept[SparkException](piped(bigStdin, "pipe", "--cwd", cwd))
      assert(e.getMessage.contains("status 7") ||
        Option(e.getCause).exists(_.getMessage.contains("status 7")))
    }
  }

  test("pipe and exec leave no stdin spool behind, on success or failure") {
    val before = spools()
    withDir("""{"main": ["tr a-z A-Z"], "boom": ["exit 3"]}""") { cwd =>
      assert(piped("abc\n", "pipe", "--cwd", cwd) == Seq("ABC"))
      assert(piped("abc\n", "exec", "rev") == Seq("cba"))
      intercept[SparkException](piped("abc\n", "pipe", "boom", "--cwd", cwd))
    }
    assert(spools().diff(before).isEmpty)
  }

  test("pipe through a map segment releases the tee cache once the output is printed") {
    val spec = """{"main": [{"command": "sed 's/^/src /'", "type": "map"},
                 |  {"module": "uppercase", "type": "map"}, {"command": "rev", "type": "map"}]}""".stripMargin
    withDir(spec) { cwd =>
      // sanity: building the map segment registers the tee source's cache
      spark.catalog.clearCache()
      val engine = graft.engine.Engine.load(cwd)
      val df = engine.pipe("main", spark, Some(spark.range(1).selectExpr("'x' AS value"))).get
      assert(!spark.sharedState.cacheManager.isEmpty)
      df.collect()
      engine.release()
      assert(spark.sharedState.cacheManager.isEmpty)
      // the CLI releases it after printing
      assert(piped("ab\n", "pipe", "--cwd", cwd).sorted == Seq("SRC AB", "ba crs"))
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("pipe through a command then a json stage releases the command's cache") {
    withDir("""{"main": ["cat", {"module": "uppercase", "json": true}]}""") { cwd =>
      spark.catalog.clearCache()
      assert(piped("""{"value":"x"}""" + "\n", "pipe", "--cwd", cwd) == Seq("""{"value":"X"}"""))
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("pipe --stream follows a growing directory incrementally") {
    withDir("""{"main": [{"module": "uppercase"}]}""") { cwd =>
      // module stage: command stages are batch-only; the module registry's
      // uppercase is the streaming-safe flagship transform
      val streamDir = Files.createTempDirectory("graft-stream")
      val collected = scala.collection.mutable.ArrayBuffer[String]()
      val engine = graft.engine.Engine.load(cwd)
      val q = Main.pipeStream(engine, spark, streamDir.toString, Seq("main"),
        batch => collected ++= batch.collect().map(_.getString(0))).get
      try {
        Files.writeString(streamDir.resolve("a.txt"), "first\n")
        q.processAllAvailable()
        assert(collected.toSeq == Seq("FIRST"))
        Files.writeString(streamDir.resolve("b.txt"), "second\n")
        q.processAllAvailable()
        assert(collected.sorted.toSeq == Seq("FIRST", "SECOND"))
      } finally q.stop()
    }
  }

  test("pipe --stream with no resolvable pipeline returns no query (bin.js:174)") {
    withDir("""{"x": ["cat -"]}""") { cwd =>
      val streamDir = Files.createTempDirectory("graft-stream-none")
      val engine = graft.engine.Engine.load(cwd)
      assert(Main.pipeStream(engine, spark, streamDir.toString, Seq("main"), _ => ()).isEmpty)
    }
  }

  test("help and completion verbs print the full surface") {
    val help = capture(Main.run(Array("help"), () => spark))
    Seq("run", "pipe", "exec", "add", "rm", "ls", "show", "--stream", "completion")
      .foreach(v => assert(help.contains(v), s"help is missing $v"))
    val comp = capture(Main.run(Array("completion"), () => spark))
    assert(comp.contains("complete -F") && comp.contains("graft ls"))
  }

  test("run of missing non-main name errors to stderr, missing main is silent") {
    withDir("""{"x": ["echo hi"]}""") { cwd =>
      val err = new ByteArrayOutputStream()
      Console.withErr(err) {
        capture(Main.run(Array("run", "--cwd", cwd), () => spark)) // default main: silent
      }
      assert(err.toString.isEmpty)
      Console.withErr(err) {
        capture(Main.run(Array("run", "nope", "--cwd", cwd), () => spark))
      }
      assert(err.toString.contains("Could not find pipe: nope"))
    }
  }
}
