package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Tables

class SourcesSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory("graft-src").resolve(name).toString

  test("ndjson round-trip: write → read back equals original") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    val path = tmp("docs_ndjson")
    Sources.writeNdjson(docs, path)
    val back = Sources.ndjson(spark, path)
    assert(back.count() == docs.count())
    val a = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = back.select("doc_id", "lang", "n_chars").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("csv round-trip with header") {
    val df = Tables.nation(spark, sfDir)
    val path = tmp("nation_csv")
    Sources.writeCsv(df, path)
    val back = Sources.csv(spark, path)
    assert(back.count() == df.count())
    assert(back.columns.toSeq == df.columns.toSeq)
  }

  test("xml round-trip preserves markup-significant text via entity escaping") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain text"),
      (2L, "a < b & c > d"),          // the characters XML must escape
      (3L, "quotes \" and ' survive"),
      (4L, "tags <record>nested</record> as data")
    ).toDF("id", "txt")
    val path = tmp("xml_rt")
    Sources.writeXml(df, path, rowTag = "rec")
    val back = Sources.xml(spark, path, rowTag = "rec", schema = Some(df.schema))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(back == Seq(
      (1L, "plain text"),
      (2L, "a < b & c > d"),
      (3L, "quotes \" and ' survive"),
      (4L, "tags <record>nested</record> as data")))
  }

  test("partitioned parquet write prunes partitions on read") {
    val docs = Tables.documents(spark, sfDir)
    val path = tmp("docs_part")
    Sources.writeParquet(docs, path, partitionBy = Seq("lang"))
    val back = Sources.parquet(spark, path).filter(col("lang") === "en")
    assert(back.count() ==
      docs.filter(col("lang") === "en").count())
    // partition pruning visible in the plan: only the lang=en directory
    val plan = back.queryExecution.executedPlan.toString
    assert(!plan.contains("lang=fr"))
  }

  test("compaction collapses a small-files dataset; sorted form enables skipping") {
    // simulate a streaming sink's output: 40 tiny files
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    val fragmented = tmp("frag")
    docs.repartition(40).write.parquet(fragmented)
    val out = tmp("compacted")
    val (before, after) =
      Sources.compactParquet(spark, fragmented, out, targetBytes = 512L << 20)
    assert(before == 40)
    assert(after == 1, s"tiny dataset must compact to one file, got $after")
    // content identical (same rows, nothing lost or duplicated)
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // sorted variant: files cover disjoint key ranges (range partitioning),
    // rows sorted within each file so row-group min/max prune on doc_id
    val sortedOut = tmp("compacted_sorted")
    Sources.compactParquet(spark, fragmented, sortedOut,
      targetBytes = docs.count() * 8, sortCols = Seq("doc_id"))
    val perFile = spark.read.parquet(sortedOut)
      .select(col("doc_id"), input_file_name().as("f"))
      .groupBy("f").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length > 1, "sorted form should produce several ranged files")
    perFile.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, "file key ranges must be disjoint for stat-based skipping")
    case _ => ()
    }
  }

  test("compaction preserves (and refuses to flatten) hive partition layout") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    val partitioned = tmp("part_frag")
    docs.repartition(10).write.partitionBy("lang").parquet(partitioned)
    // not listing the partition column must refuse loudly, not flatten
    val out = tmp("part_compacted")
    val e = intercept[IllegalArgumentException] {
      Sources.compactParquet(spark, partitioned, out)
    }
    assert(e.getMessage.contains("lang"))
    // listing it preserves the layout: lang= dirs exist in the output and
    // partition pruning still works on the compacted dataset
    Sources.compactParquet(spark, partitioned, out, partitionCols = Seq("lang"))
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    val scan = back.filter(col("lang") === "en")
      .queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "lang")),
      "compacted output must still prune on the partition column")
  }

  test("binaryFiles loads whole-file payloads with metadata") {
    val dir = Files.createTempDirectory("graft-bin")
    Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.bin"), Array[Byte](4, 5))
    val media = Sources.binaryFiles(spark, dir.toString + "/*.bin")
    val rows = media.orderBy("byte_len").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("byte_len") == 2L)
    assert(rows(1).getAs[Array[Byte]]("payload").toSeq == Seq[Byte](1, 2, 3))
  }

  test("bucketed tables join without a shuffle (co-located join layout)") {
    // unique names + cleanup: the metastore is per-JVM but the warehouse
    // dir persists, and saveAsTable refuses orphaned locations
    val tag = System.nanoTime()
    val liT = s"li_bucketed_$tag"; val oT = s"o_bucketed_$tag"
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path so the bucket layout (not a broadcast)
      // is what eliminates the exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      IndexTables.bucketed(li, liT, Seq("l_orderkey"), 4, Some("l_orderkey"))
      IndexTables.bucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
        oT, Seq("l_orderkey"), 4, Some("l_orderkey"))
      val joined = spark.table(liT).join(spark.table(oT), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")
      assert(joined.count() > 0)
      // layout contract: one file per bucket, not one per (task × bucket) —
      // the writer repartitions on the bucket key so small files can't
      // accumulate (the 8 M-doc soak measured 2048 files without this)
      val loc = spark.sql(s"DESCRIBE FORMATTED $liT").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      val files = new java.io.File(new java.net.URI(loc))
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"expected one file per bucket, got $files")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $liT")
      spark.sql(s"DROP TABLE IF EXISTS $oT")
    }
  }

  test("lines source feeds the pipeline data plane") {
    val dir = Files.createTempDirectory("graft-lines")
    Files.writeString(dir.resolve("in.txt"), "alpha\nbeta\n")
    val df = Sources.lines(spark, dir.toString)
    assert(df.columns.toSeq == Seq("value"))
    assert(df.count() == 2)
  }
}
