package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SkewUtils

/** Planted-skew join soak (round-9 verdict optional headroom): proves the
  * mitigation advice the library emits is right, by measuring the same
  * skewed fact⋈dim join four ways at scale.
  *
  * Corpus: `n` fact rows where `hotFrac` of ALL rows share ONE join key
  * (the planted hot key) and the rest spread uniformly over `nKeys`; the
  * dim side carries every key and is merge-hinted past the broadcast
  * planner (the broadcast-infeasible shape salting exists for).
  *
  * Variants:
  *   - aqe_off_plain: unmitigated sort-merge join — one reducer owns the
  *     hot key; wall time is the straggler's.
  *   - aqe_on_plain: AQE skew-join splitting (the advice for plain SMJ:
  *     let the runtime re-planner split the hot partition).
  *   - aqe_off_salted: SkewUtils.saltedJoin — deterministic salt spreads
  *     the hot key over `buckets` tasks, dim replicated buckets×.
  *   - aqe_on_salted: salting under AQE (checks the two compose).
  *
  * All four must agree on the verification aggregate (count, sum of a
  * value column) — mitigation must never change the answer.
  *
  * Usage: runMain graft.tools.SkewSoak [nFacts] [hotPct] [buckets]
  */
object SkewSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    val hotPct = args.lift(1).map(_.toInt).getOrElse(30)
    val buckets = args.lift(2).map(_.toInt).getOrElse(32)
    val nKeys = 1000000L
    val spark = Harness.session(32, 32)

    val dir = s"/tmp/graft_skewsoak_${n}_$hotPct"
    // hotPct% of rows carry key 0; the rest hash over [1, nKeys)
    val facts = Harness.materialize(spark, s"$dir/facts") {
      spark.range(0, n, 1, 64)
        .select(
          when(pmod(col("id"), lit(100)) < hotPct, lit(0L))
            .otherwise(pmod(hash(col("id")), lit(nKeys - 1)) + 1).as("k"),
          (col("id") % 997).as("v"))
    }
    val dim = Harness.materialize(spark, s"$dir/dim") {
      spark.range(0, nKeys, 1, 32)
        .select(col("id").as("k"),
          concat(lit("dim_"), col("id") % 13).as("attr"))
    }
    println(s"[skew-soak] n=$n hotPct=$hotPct nKeys=$nKeys buckets=$buckets")

    def verify(joined: DataFrame): (Long, Long) = {
      val r = joined.agg(count(lit(1)).as("rows"), sum(col("v")).as("sv")).head()
      (r.getLong(0), r.getLong(1))
    }

    var expected: Option[(Long, Long)] = None
    def timed(name: String, aqe: Boolean)(join: => DataFrame): Unit = {
      val s = Harness.withConf(spark, Map("spark.sql.adaptive.enabled" -> aqe.toString)) {
        Harness.step(spark)(verify(join))
      }
      val check = expected match {
        case None => expected = Some(s.value); "(reference)"
        case Some(e) if e == s.value => "agree"
        case Some(e) => s"MISMATCH: ${s.value} vs $e"
      }
      s.report("skew-soak", name, f"${n / s.wallS / 1e6}%6.2f M rows/s   $check")
    }

    def plain = facts.hint("merge").join(dim, "k")
    def salted = SkewUtils.saltedJoin(
      facts, dim, "k", col("v"), buckets = buckets)

    timed("aqe_off_plain", aqe = false)(plain)
    timed("aqe_on_plain", aqe = true)(plain)
    timed("aqe_off_salted", aqe = false)(salted)
    timed("aqe_on_salted", aqe = true)(salted)
    spark.stop()
  }
}
