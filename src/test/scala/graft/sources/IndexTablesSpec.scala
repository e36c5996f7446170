package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Dedup

class IndexTablesSpec extends SparkSpec {
  import spark.implicits._

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def meta(table: String) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  /** A directory with an unreadable file in it, as a crashed JVM leaves. */
  private def leaveJunk(dir: java.nio.file.Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-00000-stale.parquet"), Array[Byte](1, 2, 3))
  }

  test("a managed index writes over a leftover warehouse directory") {
    // an earlier JVM's table directory without its catalog entry: Spark
    // refuses a managed CREATE there (LOCATION_ALREADY_EXISTS) unless the
    // writer clears it first
    val prefix = s"idx_leftover_${System.nanoTime()}"
    val bandsDir = Paths.get(spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(s"${prefix}_bands")))
    try {
      leaveJunk(bandsDir)
      val corpus = (0L until 50L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "fp")
      Dedup.writeHammingIndex(corpus, "id", "fp", prefix, maxHamming = 3,
        nBlocks = 6, numBuckets = 4)
      assert(spark.table(s"${prefix}_fps").count() == 50)
      val probe = Seq((9007L, 7L * 0x9E3779B97F4A7C15L ^ 1L)).toDF("id", "fp")
      val hits = Dedup.hammingAgainstIndex(spark, prefix, probe, "id", "fp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(hits.toSeq == Seq((9007L, 7L, 1)))
    } finally drop(Seq("bands", "fps", "meta").map(p => s"${prefix}_$p"): _*)
  }

  test("an external table writes over a stale location and an earlier table") {
    val t = s"idx_ext_${System.nanoTime()}"
    val loc = Files.createTempDirectory("graft-idx").resolve("part")
    try {
      leaveJunk(loc)
      IndexTables.plain((1 to 5).toDF("v"), t, Some(loc.toString))
      assert(spark.table(t).as[Int].collect().sorted.toSeq == (1 to 5))
      // an overwrite replaces the rows, never adds to them
      IndexTables.plain(Seq(7, 8).toDF("v"), t, Some(loc.toString))
      assert(spark.table(t).as[Int].collect().sorted.toSeq == Seq(7, 8))
      // catalog entry gone, location left behind: the rebuild starts clean
      drop(t)
      IndexTables.plain(Seq(9).toDF("v"), t, Some(loc.toString))
      assert(spark.table(t).as[Int].collect().toSeq == Seq(9))
    } finally drop(t)
  }

  test("Index names its tables prefix_part and places them under basePath/part") {
    val prefix = s"idx_named_${System.nanoTime()}"
    val base = Files.createTempDirectory("graft-idx").toString
    val idx = IndexTables.Index(prefix, Some(base))
    try {
      idx.plain("meta", Seq((3, "x")).toDF("n", "tag"))
      assert(idx.table("meta") == s"${prefix}_meta")
      assert(meta(s"${prefix}_meta").location.getPath == s"$base/meta")
      assert(spark.table(s"${prefix}_meta").columns.toSeq == Seq("n", "tag"))
    } finally drop(s"${prefix}_meta")
  }

  test("each layout is what the catalog records") {
    val tag = System.nanoTime()
    val (b, c, p) = (s"idx_b_$tag", s"idx_c_$tag", s"idx_p_$tag")
    val df = (0L until 40L).toDF("id").withColumn("cell", (col("id") % 4).cast("int"))
    try {
      IndexTables.bucketed(df, b, Seq("id"), 4, sortCol = Some("id"))
      IndexTables.cells(df, c, "cell")
      IndexTables.plain(df, p)
      val bs = meta(b).bucketSpec.get
      assert((bs.numBuckets, bs.bucketColumnNames, bs.sortColumnNames) ==
        ((4, Seq("id"), Seq("id"))))
      assert(meta(b).partitionColumnNames.isEmpty)
      assert(meta(c).bucketSpec.isEmpty && meta(c).partitionColumnNames == Seq("cell"))
      assert(meta(p).bucketSpec.isEmpty && meta(p).partitionColumnNames.isEmpty)
      Seq(b, c, p).foreach(t => assert(spark.table(t).count() == 40))
      // the bucketed write repartitions on the key first: one file per bucket
      val files = new java.io.File(meta(b).location).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"expected one file per bucket, got $files")
    } finally drop(b, c, p)
  }

  test("append follows the catalog's bucket spec, partitions and column order") {
    val tag = System.nanoTime()
    val (b, c, p) = (s"idx_ab_$tag", s"idx_ac_$tag", s"idx_ap_$tag")
    def rows(from: Long, until: Long) = (from until until).toDF("id")
      .withColumn("cell", (col("id") % 4).cast("int"))
      .withColumn("name", concat(lit("v"), col("id").cast("string")))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      IndexTables.bucketed(rows(0, 40), b, Seq("id"), 4, sortCol = Some("id"))
      IndexTables.cells(rows(0, 40), c, "cell")
      IndexTables.plain(rows(0, 40), p)
      // the batch arrives with its columns in another order
      val batch = rows(40, 60).select("name", "cell", "id")
      Seq(b, c).foreach(IndexTables.append(batch, _))
      // a plain table has no layout to append under
      intercept[IllegalArgumentException](IndexTables.append(batch, p))
      Seq(b, c).foreach { t =>
        val got = spark.table(t).select("id", "cell", "name").as[(Long, Int, String)]
          .collect().sorted.toSeq
        assert(got == rows(0, 60).as[(Long, Int, String)].collect().sorted.toSeq, t)
      }
      assert(spark.table(c).columns.toSeq == Seq("id", "name", "cell"))
      assert(meta(b).bucketSpec.map(bs => (bs.numBuckets, bs.sortColumnNames))
        .contains((4, Seq("id"))))
      // the appended files land in the cell directories: a literal cell
      // probe still prunes to one partition and finds the appended rows
      val cell1 = spark.table(c).filter(col("cell") === 1)
      assert(cell1.queryExecution.executedPlan.toString.contains("PartitionFilters"))
      assert(cell1.count() == 15)
      // and the bucketed table still joins on its key without a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val self = spark.table(b).as("l").join(spark.table(b).as("r"), "id")
      assert(!self.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
      assert(self.count() == 60)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      drop(b, c, p)
    }
  }

  test("ensure builds once and rebuilds only when the catalog lost a table") {
    val tag = System.nanoTime()
    val (t1, t2) = (s"idx_e1_$tag", s"idx_e2_$tag")
    var builds = 0
    def build(): Unit = {
      builds += 1
      IndexTables.plain(Seq(builds).toDF("build"), t1)
      IndexTables.plain(Seq(builds).toDF("build"), t2)
    }
    try {
      IndexTables.ensure(spark, t1, t2)(build())
      IndexTables.ensure(spark, t1, t2)(build())
      assert(builds == 1)
      drop(t2)
      IndexTables.ensure(spark, t1, t2)(build())
      assert(builds == 2)
      assert(spark.table(t1).as[Int].collect().toSeq == Seq(2))
      IndexTables.ensure(spark, t1, t2)(build())
      assert(builds == 2)
    } finally drop(t1, t2)
  }

  test("src/main writes catalog tables only through IndexTables") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val write = """\b(saveAsTable|insertInto)\b""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("sources/IndexTables.scala")))
    val found = for {
      f <- files if !f.endsWith("sources/IndexTables.scala")
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if write.findFirstIn(line).isDefined
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }
}
