package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Bench's artifact guards: the cpus setting it echoes into its JSON, and
  * the per-round detail file that must never be overwritten.
  */
class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS must be a positive integer (default 4)") {
    assert(Bench.requestedCpus(None) == "4")
    assert(Bench.requestedCpus(Some("8")) == "8")
    assert(Bench.requestedCpus(Some("32")) == "32")
    Seq("", "0", "-2", "08", "4.0", "*", "4 ", "eight", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](Bench.requestedCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS must be a positive integer"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("a repeated round's detail file gets a _runN suffix instead of overwriting") {
    val dir = Files.createTempDirectory("graft-bench-detail")
    try {
      val base = "BENCH_DETAIL_r19_sf0.1"
      val first = Bench.freshDetailPath(dir, base)
      assert(first == dir.resolve(s"$base.json"))
      Files.writeString(first, "run 1")
      val second = Bench.freshDetailPath(dir, base)
      assert(second == dir.resolve(s"${base}_run2.json"))
      Files.writeString(second, "run 2")
      assert(Bench.freshDetailPath(dir, base) == dir.resolve(s"${base}_run3.json"))
      assert(Files.readString(first) == "run 1")
      // another sf in the same round starts its own sequence
      assert(Bench.freshDetailPath(dir, "BENCH_DETAIL_r19_sf0.01") ==
        dir.resolve("BENCH_DETAIL_r19_sf0.01.json"))
    } finally {
      scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }
}
