package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank scale soak: synthetic power-law-ish edge list (pure function
  * of the row id, partition-independent), 10 nodes per 100 edges, in-degree
  * skewed toward low node ids (each edge draws a modulus uniformly, then
  * the target uniformly below it — harmonic in-link decay, the web-graph
  * shape). Measures wall time and per-edge cost of
  * [[graft.ext.Graph.pageRank]] — the evidence behind PERF.md's claim that
  * the per-round join+agg loop scales like any keyed aggregation.
  *
  * Usage: runMain graft.tools.GraphSoak [numEdges] [iters] (default 8M, 5)
  */
object GraphSoak {

  /** The `n`-row edge list (self-loops dropped) over ~n/10 nodes, written
    * once; shared with [[AnalyticsSoak]].
    */
  def edges(spark: SparkSession, n: Long): DataFrame = {
    val v = nodes(n)
    Harness.materialize(spark, s"/tmp/graft_graphsoak_$n") {
      spark.range(0, n, 1, 64)
        .select(
          pmod(hash(col("id"), lit(1)), lit(v)).cast("long").as("src"),
          pmod(hash(col("id"), lit(2)),
            lit(1L) + pmod(hash(col("id"), lit(3)), lit(v))).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
    }
  }

  private def nodes(n: Long): Long = math.max(n / 10, 16L)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(8000000L)
    val iters = args.lift(1).map(_.toInt).getOrElse(5)
    val v = nodes(n)
    val spark = Harness.session(32, 64)
    val edges = GraphSoak.edges(spark, n)
    val m = edges.count()
    println(s"[graphsoak] $m edges, ~$v nodes, $iters iterations")
    val s = Harness.step(spark) {
      graft.ext.Graph.pageRank(edges, iters).orderBy(col("rank").desc).limit(5).collect()
    }
    val top = s.report("graphsoak", "pagerank", f"(${s.wallS / iters}%.2f s/round, " +
      f"${s.wallS * 1e6 / m / iters}%.3f µs/edge/round)")
    println("[graphsoak] top ranks: " + top.map(r =>
      s"${r.getLong(0)}:${r.getLong(1)}").mkString(" "))
    // skew sanity: low ids must dominate (the planted in-degree decay)
    assert(top.forall(_.getLong(0) < v / 10),
      "hub ranks should concentrate in the low-id head")
    spark.stop()
  }
}
