package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Writes the golden file of a catalog workload: runs the `--names`
  * declared queries on a corpus `inputs.py` made and keeps those that
  * succeed, return the same rows twice and make nothing new under /tmp or
  * /dev/shm. Writes `oracle.json` (the DuckDB oracle SQL of the kept
  * queries) into the work directory for `oracle_check.py`.
  *
  * Args: --workload <name> --sf <x> --corpus <dir> --out <tsv> --work <dir>
  *       --names a,b,c
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = Paths.get(m("work"))
    val spark = Main.session(math.min(4, Runtime.getRuntime.availableProcessors), work)
    val corpus = Paths.get(m("corpus"))
    val names = m("names").split(',').toSeq
    def outside(): Set[String] = Seq("/tmp", "/dev/shm").flatMap { d =>
      val p = Paths.get(d)
      if (!Files.isDirectory(p)) Nil
      else { val ls = Files.list(p); try ls.toArray.map(_.toString).filter(_.contains("graft")).toSeq finally ls.close() }
    }.toSet
    val kept = mutable.ArrayBuffer.empty[(String, Long, String)]
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val before = outside()
      val res = try {
        def digest() = { val df = fn(spark, corpus.toString); Golden.of(df.columns.toSeq, df.collect()) }
        val a = digest()
        val b = digest()
        graft.ops.CacheUtils.releaseAll(spark)
        val wrote = outside() -- before
        if (a != b) Left("unstable") else if (wrote.nonEmpty) Left(s"writes ${wrote.mkString(" ")}")
        else Right(a)
      } catch { case e: Throwable => Left(e.toString.take(200)) }
      res match {
        case Right((rows, digest)) => kept += ((name, rows, digest)); System.err.println(s"[calibrate] $name ok")
        case Left(why) => System.err.println(s"[calibrate] $name dropped: $why")
      }
    }
    val lines = s"# ${m("workload")} at sf${m("sf")}: name, rows, order-insensitive digest (perfbench.Calibrate)" +:
      kept.map { case (n, r, d) => s"$n\t$r\t$d" }
    Files.write(Paths.get(m("out")), scala.jdk.CollectionConverters.SeqHasAsJava(lines.toSeq).asJava)
    val oracle = graft.SparkEntry.oracleSql
    val json = kept.flatMap { case (n, r, d) => oracle.get(n).map { sql =>
      "  {\"name\": " + q(n) + ", \"rows\": " + r + ", \"digest\": " + q(d) + ", \"sql\": " + q(sql) + "}"
    } }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(work.resolve("oracle.json"), json)
    System.err.println(f"[calibrate] kept ${kept.size}%d of ${names.size}%d")
    spark.stop()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
