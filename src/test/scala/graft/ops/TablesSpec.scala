package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.SparkSpec
import graft.tools.Harness

/** The table loaders' schema memo: one footer-read job per table version
  * and conf, a rewrite in place or another conf reads the file again, and
  * a missing path fails as a plain read does.
  */
class TablesSpec extends SparkSpec {

  private def withDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("graft-tables")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** Writes `rows` (each a field name → value map) as ONE parquet file at
    * `dir/name.parquet` with the given message type, replacing any file
    * there.
    */
  private def writeFile(dir: Path, name: String, messageType: String,
      rows: Seq[Map[String, Any]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(messageType)
    val file = new HPath(dir.resolve(s"$name.parquet").toString)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, new Configuration()))
      .withType(schema)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach {
        case (k, v: Long)   => g.add(k, v)
        case (k, v: String) => g.add(k, v)
        case (k, v)         => sys.error(s"unsupported $k=$v")
      }
      w.write(g)
    } finally w.close()
  }

  /** The Spark jobs `body` started, counted once the listener bus drained. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val a = body
      Bridge.drainListenerBus(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("a second reference to the same file runs no Spark job before its action") {
    withDir { dir =>
      writeFile(dir, "t", "message t { required int64 a; }", (1L to 5L).map(a => Map("a" -> a)))
      val (first, firstJobs) = jobsOf(Tables.table(spark, dir.toString, "t"))
      assert(firstJobs == 1, "the first reference reads the footer in one job")
      val (again, jobs) = jobsOf {
        val t = Tables.table(spark, dir.toString, "t")
        val self = t.as("x").join(Tables.table(spark, dir.toString, "t").as("y"), "a")
        (t, self.schema)
      }
      assert(jobs == 0)
      assert(again._1.schema == first.schema)
      assert(first.schema == StructType(Seq(StructField("a", LongType))))
      // the memoized read is the plain read: same rows, and a self-join
      // of two references still resolves
      val (rows, actionJobs) = jobsOf(again._1.collect().map(_.getLong(0)).sorted.toSeq)
      assert(rows == (1L to 5L) && actionJobs >= 1)
      assert(again._1.as("x").join(Tables.table(spark, dir.toString, "t").as("y"), "a").count() == 5)
    }
  }

  test("a rewrite in place with a different schema returns the new schema") {
    withDir { dir =>
      writeFile(dir, "t", "message t { required int64 a; }", Seq(Map("a" -> 1L)))
      assert(Tables.table(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("a"))
      writeFile(dir, "t", "message t { required int64 a; required binary b (STRING); }",
        Seq(Map("a" -> 2L, "b" -> "two")))
      val t = Tables.table(spark, dir.toString, "t")
      assert(t.schema == StructType(Seq(StructField("a", LongType), StructField("b", StringType))))
      assert(t.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "two")))
    }
  }

  test("one events file read under different confs gets each conf's ts type") {
    withDir { dir =>
      val at = java.time.Instant.parse("2023-11-14T22:13:20.123456Z")
      def eventsAs(tsType: String, ts: Long): Unit = writeFile(dir, "events",
        s"message events { required int64 event_id; required int64 ts ($tsType); }",
        Seq(Map("event_id" -> 1L, "ts" -> ts)))
      def read(confs: (String, Boolean)*) =
        Harness.withConf(spark, confs.map { case (k, v) => k -> v.toString }.toMap) {
          (Tables.table(spark, dir.toString, "events").schema("ts").dataType,
            Tables.events(spark, dir.toString).head().getAs[java.sql.Timestamp]("ts").toInstant)
        }
      val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
      eventsAs("TIMESTAMP(NANOS,false)", at.getEpochSecond * 1000000000L + at.getNano)
      assert(read(nanosAsLong -> true) == ((LongType, at)))
      // off, the same file is illegal: the memo never serves the Long type
      val e = intercept[AnalysisException](read(nanosAsLong -> false))
      assert(e.getCondition == "PARQUET_TYPE_ILLEGAL", e.getMessage)
      assert(read(nanosAsLong -> true) == ((LongType, at)))
      val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
      eventsAs("TIMESTAMP(MICROS,false)", at.getEpochSecond * 1000000L + at.getNano / 1000)
      assert(read(ntz -> true) == ((TimestampNTZType, at)))
      assert(read(ntz -> false) == ((TimestampType, at)))
      assert(read(ntz -> true) == ((TimestampNTZType, at)))
    }
  }

  test("a missing path fails with the plain read's error") {
    withDir { dir =>
      val e = intercept[AnalysisException](Tables.table(spark, dir.toString, "absent"))
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    }
  }
}
