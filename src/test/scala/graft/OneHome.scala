package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.Assertions

/** The source scan behind the "one home" rules: a concern (byte order,
  * deflate, bit order, catalog writes, generated code) lives in its home
  * files, and no other file of `src/main/scala` may match its patterns.
  */
object OneHome extends Assertions {

  /** Fails, listing `file:line: text`, on every line of a `src/main/scala`
    * file outside `homes` that matches one of `patterns`, unless
    * `allowed(file, trimmedLine)`. Each home must exist.
    */
  def assertOnlyIn(
      homes: Seq[String],
      patterns: Seq[Regex],
      allowed: (Path, String) => Boolean = (_, _) => false): Unit = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    homes.foreach(h => assert(files.exists(_.endsWith(h)), h))
    val found = for {
      f <- files if !homes.exists(f.endsWith)
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if patterns.exists(_.findFirstIn(line).isDefined)
      if !allowed(f, line.trim)
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }
}
