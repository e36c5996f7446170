package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** IVF index ingest-lifecycle soak (round-9 verdict #8: the one index
  * lifecycle without a multi-scale point). Claim under test — scaladoc'd
  * on [[Similarity.appendToIvfIndex]]: absorbing a batch into a
  * materialized cell-partitioned index costs O(|batch|), INDEPENDENT of
  * index size (the batch is assigned with the reloaded frozen quantizer
  * and appended into cell directories; the index itself is never scanned
  * or shuffled). So the measurement: the SAME absolute batch (250 k
  * vectors × dim 64) absorbed into indexes of different sizes must cost
  * the same wall/CPU, while probes stay pruned (nprobe cell directories
  * read, plus only the appended files inside them).
  *
  * Usage: runMain graft.tools.IvfSoak [nBase] [batchSize] [nBatches]
  */
object IvfSoak {

  /** Seeded, partition-independent vectors: every component is a pure
    * function of (id, dim index).
    */
  def vectors(spark: SparkSession, from: Long, until: Long, parts: Int): DataFrame =
    spark.range(from, until, 1, parts)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> " +
          "cast((pmod(hash(id, i), 2000) - 1000) / 1000.0 as float))")
          .as("embedding"))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val batch = args.lift(1).map(_.toLong).getOrElse(250000L)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = Harness.session(32, 64)

    val prefix = s"ivfsoak_$n"
    val base = s"/tmp/graft_ivfsoak_$n"
    // clean slate across JVMs: catalog entry AND location (the
    // LOCATION_ALREADY_EXISTS class — see TokenizerStore.reset)
    Seq(s"${prefix}_cells", s"${prefix}_centroids").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))

    def timed[A](name: String)(body: => A): A =
      Harness.step(spark)(body).report("ivf-soak", f"n=$n%-9d $name")

    println(s"[ivf-soak] base=$n batch=$batch nBatches=$nBatches dim=64 k=256")
    timed("build_index") {
      Similarity.writeIvfIndex(vectors(spark, 0, n, 64), "embedding",
        prefix, k = 256, iters = 2, basePath = Some(base))
    }
    val query = Array.tabulate(64)(i =>
      (((i * 2654435761L % 2000) - 1000).toFloat / 1000.0f))
    timed("probe_cold") {
      val got = Similarity.ivfSearchIndex(spark, prefix, "vec_id",
        "embedding", query, k = 10, nprobe = 8).collect()
      require(got.length == 10, s"probe returned ${got.length} rows")
    }
    var off = n
    for (b <- 1 to nBatches) {
      timed(s"absorb_$b") {
        Similarity.appendToIvfIndex(spark,
          vectors(spark, off, off + batch, 16), "embedding", prefix)
      }
      off += batch
    }
    timed("probe_after") {
      val got = Similarity.ivfSearchIndex(spark, prefix, "vec_id",
        "embedding", query, k = 10, nprobe = 8).collect()
      require(got.length == 10, s"probe returned ${got.length} rows")
    }
    val rows = timed("count_all")(spark.table(s"${prefix}_cells").count())
    val expect = n + batch * nBatches
    println(s"[ivf-soak] rows=$rows expected=$expect " +
      (if (rows == expect) "OK" else "MISMATCH"))
    if (rows != expect) sys.error(s"index row count $rows != $expect")
    spark.stop()
  }
}
