package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.MinHashAggregator.splitmix64

/** Round-14 scale soak for the D4-orbit oriented image pairing
  * ([[graft.ext.Multimodal.nearDupImagesOriented]]): the orbit fan-out
  * multiplies band rows by 8 versus single-hash Hamming pairing, so the
  * property worth MEASURING (not asserting) is that the pipeline's one
  * shuffle still scales with images x orbit x subsets — never with
  * candidate pairs — and wall stays near-linear in images.
  *
  * Synthetic orbits (the pairing machinery is the object under test;
  * decode cost is covered per-doc by DocSoak): each image gets a random
  * base hash + its 7 "orientations" as deterministic remixes, with a 1%
  * planted rotated-noisy twin (3 bits flipped on one orbit member) that
  * must surface at Hamming <= 5.
  *
  * Usage: runMain graft.tools.OrientSoak [imagesThousands,...]
  *        [maxResidentSubsets] [nBlocks]
  *        (defaults "200,800" 0 7). The round-15 3.2 M measurement runs
  *        waves ("3200" 7 9): nBlocks 9 widens band keys to ~28 bits —
  *        the round-14 "spill wall" was quadratic random-collision
  *        CANDIDATE volume at nBlocks 7's ~18-bit keys, not band rows —
  *        and 18 waves of 7 subsets bound each banding job's footprint.
  */
object OrientSoak {
  def main(args: Array[String]): Unit = {
    val points: Seq[Long] = args.headOption
      .map(_.split(",").toSeq.map(_.trim.toLong))
      .getOrElse(Seq(200L, 800L))
    val maxResidentSubsets = if (args.length > 1) args(1).toInt else 0
    val nBlocks = if (args.length > 2) args(2).toInt else 7
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    for (k <- points) {
      val n = k * 1000
      val t0 = System.nanoTime()
      // orbits table: (media_id, orbit[8]); every 100th image gets a
      // twin whose orbit member 3 is the base hash with 3 bits flipped
      val orbits = spark.range(n)
        .repartition(spark.sparkContext.defaultParallelism)
        .as[Long]
        .flatMap { id =>
          val base = splitmix64(id)
          val orbit = Array.tabulate(8)(j => if (j == 0) base else splitmix64(base + j))
          val out = scala.collection.mutable.ArrayBuffer((id, orbit))
          if (id % 100 == 0) {
            val twin = Array.tabulate(8)(j =>
              if (j == 3) base ^ 0x1600L // 3 bits
              else splitmix64(base * 31 + j + 7))
            out += ((id + n, twin))
          }
          out.toSeq
        }
        .toDF("media_id", "orbit")
      // the pairing core itself (shared with nearDupImagesOriented)
      val orbitsP = orbits.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = graft.ext.Multimodal.orientedPairsFromOrbits(
        orbitsP, 5, nBlocks, maxResidentSubsets)
      val found = pairs.count()
      val planted = (n + 99) / 100
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[orientsoak] images=$n%,d planted=$planted%,d found=$found%,d wall=$wall%.2f s (${wall * 1e6 / n}%.2f us/img)")
      require(found >= planted,
        s"oriented pairing lost planted twins: $found < $planted")
      orbitsP.unpersist()
    }
    spark.stop()
  }
}
