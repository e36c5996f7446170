package graft.stages

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}

/** External-process stage — the Spark-native analog of the reference's
  * `toStream` (`/root/reference/index.js:14-27`): a shell command bridged
  * via stdin/stdout, non-zero exit failing the stream.
  *
  * Mapping differences (documented, SURVEY §7.3):
  *   - the reference spawns ONE process per stage; `RDD.pipe` spawns one
  *     process *per partition* — the distributed generalization. Tests that
  *     need strict single-process parity pass `partitions = Some(1)`.
  *   - non-zero exit: `RDD.pipe` (checkCode=true) throws
  *     `Pipe function exited with status N`, reproducing
  *     `Error('Process exited with code: N')` (index.js:16-18).
  *   - stderr: the reference DISCARDS child stderr by default
  *     (`child.stderr.resume()`, index.js:23) and pipes it to the
  *     caller's stderr only under `opts.stderr` (index.js:20-22). Here
  *     `stderr = false` (the default) redirects to /dev/null in the shell
  *     wrapper; `stderr = true` lets Spark's pipe machinery forward child
  *     stderr to the executor's stderr — the terminal in local mode, the
  *     executor log on a cluster (the distributed generalization of
  *     inheriting the fd).
  */
object CommandStage {

  /** Data-plane contract: a single `value: string` column — the
    * line-oriented analog of gasket's byte stream (§1.1: records are raw
    * bytes; the closest "row" is a line).
    */
  val ValueCol = "value"

  def apply(
      input: DataFrame,
      command: String,
      params: Seq[String] = Nil,
      env: Map[String, String] = Map.empty,
      partitions: Option[Int] = None,
      cwd: Option[String] = None,
      stderr: Boolean = false): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    // Params are appended to the command line, shell-quoted — parity with
    // `p.params` argv appending (index.js:85, npm-execspawn behavior).
    // cwd: RDD.pipe has no working-directory knob, so the shell cd's first
    // (execspawn's cwd option parity, index.js:124) — relative paths in
    // commands resolve against the config directory. Only meaningful
    // where the path exists on every executor (shared FS / local mode).
    val base = (command +: params.map(shellQuote)).mkString(" ")
    val cded = cwd.filter(_ != ".")
      .fold(base)(d => s"cd ${shellQuote(d)} && ($base)")
    // stderr default = discard, the reference's `child.stderr.resume()`
    val full = if (stderr) cded else s"{ $cded ; } 2>/dev/null"
    val lines = input.select(ValueCol).as[String]
    val sized = partitions.fold(lines)(n => lines.coalesce(n))
    // An empty input (empty LocalRelation, empty file scan) plans to a
    // ZERO-partition RDD, and RDD.pipe on zero partitions never spawns
    // the process — but the reference always spawns each stage and just
    // closes its stdin (pipe.end(), index.js:54): `echo hi` with empty
    // stdin must still emit. Raise 0 → 1 empty partition so the command
    // runs exactly once with closed stdin. (coalesce can shrink but
    // cannot raise 0 partitions.)
    val rdd0 = sized.rdd
    val inputRdd =
      if (rdd0.getNumPartitions == 0) spark.sparkContext.parallelize(Seq.empty[String], 1)
      else rdd0
    val piped = inputRdd.pipe(
      Seq("/bin/sh", "-c", full),
      env,
      null, null, false, 8192, java.nio.charset.StandardCharsets.UTF_8.name())
      .setName(PipedName)
    spark.createDataset(piped).toDF(ValueCol)
  }

  /** Name of the RDD each command stage pipes through its process. */
  private val PipedName = "graft-command"

  /** Whether computing `df` runs a command stage that no cache holds: the
    * plan, with cached parts swapped in, reads an RDD whose lineage holds
    * a command's pipe.
    */
  private[graft] def feeds(df: DataFrame): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Int] // lineages share ancestors
    def piped(rdd: RDD[_]): Boolean =
      seen.add(rdd.id) && (rdd.name == PipedName || rdd.dependencies.exists(d => piped(d.rdd)))
    df.queryExecution.withCachedData.exists {
      case r: ExternalRDD[_] => piped(r.rdd)
      case r: LogicalRDD => piped(r.rdd)
      case _ => false
    }
  }

  /** Source form: run the command against empty stdin — how a leading
    * `echo …` stage behaves when the pipeline head's writable side is
    * closed (`pipe.end()`, index.js:54).
    */
  def source(
      spark: SparkSession,
      command: String,
      params: Seq[String] = Nil,
      env: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    apply(Seq.empty[String].toDF(ValueCol), command, params, env, partitions = Some(1))
  }

  private[graft] def shellQuote(s: String): String =
    "'" + s.replace("'", "'\\''") + "'"
}
