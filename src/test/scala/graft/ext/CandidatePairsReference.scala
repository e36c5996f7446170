package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucket-aggregation form [[Dedup.candidatePairs]] replaced, kept
  * verbatim as the spec its sort-scan kernel is checked against: each
  * (band_id, band_hash) bucket is built as one `sort_array(collect_list)`
  * array and paired through array lambdas — the full clique over the
  * first `cap` ascending ids plus a min-id star pair for each later id.
  */
object CandidatePairsReference {
  def candidatePairs(
      bandsDf: DataFrame,
      idCol: String,
      maxBucket: Int = 1024): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // clamped so the `cap + 1` slice start below stays a valid int literal
    val cap = math.min(maxBucket, Int.MaxValue - 1)
    val pairGen =
      s"""concat(
            flatten(transform(sequence(1, least(size(ids), $cap) - 1),
              i -> transform(slice(ids, i + 1, least(size(ids), $cap) - i),
                             j -> struct(ids[i - 1] AS id1, j AS id2)))),
            transform(slice(ids, ${cap + 1}, greatest(size(ids) - $cap, 0)),
              j -> struct(ids[0] AS id1, j AS id2)))"""
    bandsDf
      .groupBy("band_id", "band_hash")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2)
      // tiny by here: interpreted pair-gen lambdas touch only real buckets
      .select(explode(expr(pairGen)).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
  }
}
