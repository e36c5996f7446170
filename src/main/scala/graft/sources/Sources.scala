package graft.sources

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.SimpleFutureAction
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.stages.{CommandStage, NdjsonBridge}

/** Source/sink surface of the engine.
  *
  * The reference's data plane is stdin/stdout byte streams with optional
  * NDJSON framing (`/root/reference/index.js:14-27,73`); files enter via
  * shell stages (`cat file`). Here each transport is a first-class typed
  * reader/writer on Spark's native connectors, so scans prune/push down
  * and writes are partitioned:
  *
  *   - lines: text files ↔ the `value`-column byte-stream analog;
  *   - ndjson: text lines parsed to structured rows (schema inference or
  *     explicit schema — the scale path, no inference pass);
  *   - parquet/csv/json: standard columnar/row formats;
  *   - binary: whole-file payloads for multimodal columns
  *     (`binaryFile` connector: path, modificationTime, length, content).
  */
object Sources {

  // ------------------------------------------------------------- readers

  /** Text lines as the engine's pipe-data-plane (`value: string`). */
  def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).withColumnRenamed("value", CommandStage.ValueCol)

  /** NDJSON file → structured rows. Pass a schema at scale (inference
    * costs an extra pass).
    */
  def ndjson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    NdjsonBridge.parse(lines(spark, path), schema)

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def csv(spark: SparkSession, path: String, header: Boolean = true,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  /** Whole-file binary payloads (images/audio/video) with file metadata —
    * the ingestion path for [[graft.ext.Multimodal]].
    */
  def binaryFiles(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("length").as("byte_len"), col("content").as("payload"))

  /** Streaming variants — same schemas, unbounded (`gasket pipe` analog:
    * stdin stays open, bin.js:157-184).
    */
  def linesStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.text(path).withColumnRenamed("value", CommandStage.ValueCol)

  def ndjsonStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    NdjsonBridge.parse(linesStream(spark, path), Some(schema))

  // --------------------------------------------------------------- sinks

  /** Structured rows → NDJSON text files (ndjson.serialize parity). */
  def writeNdjson(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    NdjsonBridge.serialize(df).write.mode(mode).text(path)

  def writeParquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** Compact a parquet dataset into ~`targetBytes` files, optionally
    * range-sorted so every output file covers a tight key range and its
    * row-group min/max statistics support predicate skipping on read.
    *
    * The small-files problem is the chronic operational failure of a
    * 100 TB ingest pipeline (per-file open/footer cost dominates scans;
    * driver file-listing balloons): streaming sinks and fine-grained
    * upstream partitioning produce thousands of KB-sized files. This is
    * the standard maintenance pass: one job, one shuffle (none when
    * `sortCols` is empty — plain coalesce), idempotent output.
    *
    * Returns (filesBefore, filesAfter).
    */
  def compactParquet(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    def countParquet(path: String): (Int, Long, Set[String]) = {
      val p = new org.apache.hadoop.fs.Path(path)
      // each path resolves its OWN FileSystem — in and out may live on
      // different stores (hdfs → s3a compaction is the common shape)
      val fs = p.getFileSystem(conf)
      val root = fs.makeQualified(p)
      val files = fs.listFiles(p, true)
      var bytes = 0L
      var n = 0
      val partDirs = scala.collection.mutable.Set[String]()
      while (files.hasNext) {
        val f = files.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          bytes += f.getLen
          n += 1
          // hive-style partition dirs (name=value) strictly BELOW the root
          var d = f.getPath.getParent
          while (d != null && d != root) {
            val seg = d.getName
            val eq = seg.indexOf('=')
            if (eq > 0) partDirs += seg.substring(0, eq)
            d = d.getParent
          }
        }
      }
      (n, bytes, partDirs.toSet)
    }
    val (filesBefore, totalBytes, foundPartCols) = countParquet(inPath)
    // refusing beats silently flattening: a hive-partitioned input whose
    // layout the caller didn't ask to preserve would lose partition
    // pruning for every downstream reader
    val missing = foundPartCols -- partitionCols.toSet
    require(missing.isEmpty,
      s"input is hive-partitioned by ${missing.mkString(", ")} — pass them in " +
        "partitionCols to preserve the layout (compacting would flatten it)")
    // parquet compresses ~2-4x better than its in-memory width; sizing by
    // ON-DISK bytes of the input is the honest target (ceiling division:
    // 250 MB at a 128 MB target is two ~125 MB files, not one 250 MB file)
    val tgt = math.max(targetBytes, 1L)
    val numFiles = math.max(((totalBytes + tgt - 1) / tgt).toInt, 1)
    val df = spark.read.parquet(inPath)
    val shapeCols = (partitionCols ++ sortCols).map(col)
    val shaped =
      if (shapeCols.nonEmpty)
        // range partition + in-file sort: each output file covers a tight
        // key range → min/max row-group stats prune reads on that key
        // (partition cols lead so a partitioned write stays one-file-per-
        // output-partition-per-task)
        df.repartitionByRange(numFiles, shapeCols: _*)
          .sortWithinPartitions(shapeCols: _*)
      else df.coalesce(numFiles)
    val writer = shaped.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(outPath)
    val (filesAfter, _, _) = countParquet(outPath)
    (filesBefore, filesAfter)
  }

  /** ORC source/sink — the other columnar format a lakehouse pipeline
    * meets; schema rides in the files, so reads need no external schema.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** XML source/sink (Spark 4's built-in `xml` format) — the third
    * interchange round-trip next to CSV and ORC, for feeds that arrive as
    * XML records. `rowTag` names the per-record element. Reads take an
    * explicit schema at scale (like [[ndjson]] — inference costs an extra
    * pass); the fidelity risk this format adds is entity escaping of
    * free text, which the round-trip query hash-checks.
    */
  def xml(spark: SparkSession, path: String, rowTag: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format("xml").option("rowTag", rowTag)
    schema.fold(r)(r.schema).load(path)
  }

  def writeXml(df: DataFrame, path: String, rowTag: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format("xml").option("rowTag", rowTag).save(path)

  /** stdout sink (CLI `gasket run` prints to stdout, bin.js:149). Driver-
    * side by nature, so the result is fetched one partition per job — a
    * whole-result `collect()` would cap output size at driver memory, and
    * `spark.driver.maxResultSize` applies to each partition on its own.
    * Up to `defaultParallelism` of those jobs run at once (an ordered
    * prefetch), so at most that many fetched partitions are resident on
    * the driver heap. Lines are printed in partition order. A failing job
    * raises its error once every partition before it has been printed,
    * and cancels the jobs still in flight.
    */
  def printLines(df: DataFrame, limit: Int = 1000): Unit = {
    val projected = df.select(CommandStage.ValueCol)
    val limited = if (limit == Int.MaxValue) projected else projected.limit(limit)
    val qe = limited.queryExecution
    // the execution id ties the jobs to this query, as Dataset actions do;
    // each job is submitted from this thread, so it carries the caller's
    // job group and local properties
    SQLExecution.withNewExecutionId(qe, Some("printLines")) {
      val rows = qe.toRdd.map(r => if (r.isNullAt(0)) null else r.getString(0))
      val sc = rows.sparkContext
      val window = math.max(1, sc.defaultParallelism)
      val inFlight = mutable.Queue.empty[SimpleFutureAction[Array[String]]]
      def submit(p: Int): Unit = {
        val slot = new Array[Array[String]](1)
        inFlight += sc.submitJob(rows, (it: Iterator[String]) => it.toArray, Seq(p),
          (_: Int, lines: Array[String]) => slot(0) = lines, slot(0))
      }
      val parts = rows.getNumPartitions
      var next = 0
      try {
        while (next < parts || inFlight.nonEmpty) {
          while (next < parts && inFlight.size < window) { submit(next); next += 1 }
          Await.result(inFlight.dequeue(), Duration.Inf).foreach(println)
        }
      } finally inFlight.foreach(_.cancel())
    }
  }
}
