package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge lists.
  *
  * Companion to the connected-components loop in [[Dedup]] (cluster
  * labeling); this adds importance scoring. On a training-data lake the
  * natural graph is link structure (page → outlink) and the natural use is
  * curation: PageRank-style centrality as a document quality prior
  * (harmonized with the classifier gate in [[Classifier]]).
  *
  * The reference has no graph operators at all — any iteration would have
  * to be hand-looped through external stages
  * (`/root/reference/index.js:30-39` run-segments); here each round is two
  * keyed shuffles Catalyst plans like any aggregation.
  */
object Graph {

  /** Fixed-iteration PageRank in FIXED-POINT integer arithmetic.
    *
    * Ranks are scaled longs (`scale` = 1.0 of total mass). All updates are
    * integer multiply/divide/sum, so the result is bit-identical regardless
    * of partitioning, parallelism, or engine — float PageRank is
    * summation-order-dependent, which would make a cross-engine (or even
    * run-to-run, under AQE re-partitioning) hash check flaky. Integer
    * division drops sub-ulp mass (and dangling nodes leak theirs — the
    * standard local formulation); neither affects ranking fidelity at
    * `scale` = 1e12, and determinism is what a correctness-gated 100 TB
    * pipeline needs: the same crawl must score identically on every rerun.
    *
    * Update: `rank'(n) = (scale·(100-damp))/100/N  +  damp·Σ_{e:(s→n)}
    * (rank(s) div outdeg(s)) div 100` — per-round cost is one join of the
    * edge list with the (1-row-per-node) rank table on `src` plus one
    * aggregation by `dst`: two keyed shuffles, no driver data path. The
    * edge⋈outdeg join is computed ONCE and cached; rounds re-use it.
    * Lineage is cut per round with a lazy localCheckpoint exactly like the
    * CC loop ([[Dedup.connectedComponents]]).
    *
    * @param edges  (src, dst) long columns; pre-deduplicated by the caller
    *               (multi-edges weight the contribution, which is sometimes
    *               wanted — so this function does not `distinct` for you).
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      damp: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damp >= 0 && damp <= 100, s"damp must be a percentage, got $damp")
    // Conf isolation (the [[Dedup.connectedComponents]] pattern): the loop
    // wants an edge-derived shuffle width, so it runs on a CLONED session
    // of the same SparkContext (Bridge.rebind hand-off, shared cache) —
    // concurrent queries on the caller's session never see the loop width.
    // Clones are pooled per (context, purpose) and LEASED for the call
    // ([[LoopSessions.withLoopSession]]): repeated calls in a long-lived
    // driver don't accumulate SessionStates, and a concurrent pageRank
    // never observes this call's data-derived width.
    val caller = edges.sparkSession
    LoopSessions.withLoopSession(caller, "graph.pagerank") { clone =>
    val (fan, (nodes, n)) = edgeFan(caller, clone, edges) { e =>
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // N is a MODEL SCALAR (like IVF centroid counts), not a data path
      (nodes, nodes.count())
    }
    val base = scale * (100L - damp) / 100L / n
    var ranks = nodes.select(col("node"), lit(scale / n).as("rank"))
    for (_ <- 0 until iterations) {
      val contrib = fan.join(ranks, fan("src") === ranks("node"))
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("contrib"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"$damp * coalesce(contrib, 0L) div 100")).as("rank"))
        .localCheckpoint(eager = false)
    }
    // materialize the final round (driver-orchestrated loop, like the CC
    // loop) BEFORE releasing the cached edge fan — a lazy handoff would
    // recompute the edge⋈outdeg join once per round at first use
    ranks.count()
    nodes.unpersist(blocking = false)
    fan.unpersist(blocking = false)
    org.apache.spark.sql.graftbridge.Bridge.rebind(caller, ranks)
    } // lease ends: ranks are checkpoint-materialized, conf may be retuned
  }

  /** The edge fan both diffusion loops join every round: `edges` rebound
    * to the loop session `clone`, cast to long, joined with each source's
    * out-degree — (src, dst, deg) — and persisted. `useEdges` sees the
    * persisted edges before the fan is counted and they are released.
    *
    * Then the loop's shuffle width is set on the clone from the fan's row
    * count: one reducer per ~1 M rows, floor 1, at most 4× the caller's
    * width. `iterations` rounds × 3 shuffle stages at the session width
    * is pure task-scheduling overhead on small graphs, while a large
    * graph keeps — and a huge one grows — its parallelism. Both loops'
    * arithmetic is exact integers, so results are width-invariant. The
    * width never touches the caller's session conf.
    */
  private def edgeFan[A](caller: SparkSession, clone: SparkSession, edges: DataFrame)(
      useEdges: DataFrame => A): (DataFrame, A) = {
    val e = org.apache.spark.sql.graftbridge.Bridge.rebind(clone, edges)
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val used = useEdges(e)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val fan = e.join(outDeg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val m = fan.count()
    e.unpersist(blocking = false)
    val callerParts = scala.util.Try(
      caller.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(caller.sparkContext.defaultParallelism)
    val loopWidth = math.max(1L, math.min(callerParts.toLong * 4, m / 1000000L + 1L))
    clone.conf.set("spark.sql.shuffle.partitions", loopWidth.toString)
    (fan, used)
  }

  /** Semi-supervised label propagation by FIXED-POINT mass diffusion —
    * the curation use: spread a handful of trusted quality/topic labels
    * (seeds) over a similarity or link graph to label the rest of the
    * corpus.
    *
    * Classic "adopt the majority neighbor label" propagation is
    * iteration-order-dependent (ties resolved by visit order) — useless
    * under a correctness gate. This is the LINEAR formulation instead:
    * each label's mass diffuses independently (personalized-PageRank
    * style), `mass'(n,l) = keep·seed(n,l)/100 + (100-keep)·Σ_{s→n}
    * (mass(s,l) div outdeg(s))/100`, all in scaled-long integer
    * arithmetic — deterministic under any partitioning and replayable
    * exactly by an unrolled SQL oracle (the [[pageRank]] trick, one more
    * key column). The mass table stays SPARSE: only (node, label) pairs
    * with nonzero mass exist, so cost scales with reachable mass, not
    * nodes × labels. Per round: one edge⋈mass join + one sum by
    * (dst, label) — two keyed shuffles.
    *
    * Returns (node, label, mass) for every touched pair; argmax per node
    * (max mass, ties to the smaller label) is the final assignment and is
    * exact on integer masses.
    *
    * @param seeds (node, label) long columns; each seeded pair starts
    *              with `scale` mass and keeps re-injecting `keep`% of it
    *              every round (the restart term).
    */
  def labelSpread(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int,
      keep: Int = 50,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(keep >= 0 && keep <= 100, s"keep must be a percentage, got $keep")
    // conf-isolated leased clone, exactly as in [[pageRank]]
    val caller = edges.sparkSession
    LoopSessions.withLoopSession(caller, "graph.labelspread") { clone =>
    val seedsC = org.apache.spark.sql.graftbridge.Bridge.rebind(clone, seeds)
    // cached before edgeFan sets the loop width, so the seeds' own plan
    // keeps the clone's width
    val seedMass = seedsC
      .select(col("node").cast("long").as("node"), col("label").cast("long").as("label"),
        lit(scale * keep / 100L).as("m"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (fan, _) = edgeFan(caller, clone, edges)(_ => ())
    var mass = seedsC.select(col("node").cast("long").as("node"),
      col("label").cast("long").as("label"), lit(scale).as("m"))
    for (_ <- 0 until iterations) {
      val inflow = fan.join(mass, fan("src") === mass("node"))
        .select(col("dst").as("node"), col("label"), expr("m div deg").as("c"))
        .groupBy("node", "label")
        .agg(expr(s"${100 - keep} * sum(c) div 100").as("m"))
      mass = seedMass.unionByName(inflow)
        .groupBy("node", "label")
        .agg(sum("m").as("m"))
        // keep the table truly sparse: integer scale-down can strand
        // zero-mass rows, which would then ride (and join) through every
        // remaining round for free noise (0 contributes 0 — dropping is
        // exact, and the oracle prunes identically)
        .filter(col("m") > 0)
        .localCheckpoint(eager = false)
    }
    mass.count()
    seedMass.unpersist(blocking = false)
    fan.unpersist(blocking = false)
    org.apache.spark.sql.graftbridge.Bridge.rebind(caller, mass)
    } // lease ends: mass is checkpoint-materialized, conf may be retuned
  }

  /** Single-source BFS shortest paths, frontier-style: per hop, only the
    * nodes first reached in the PREVIOUS hop join the edge list, and a
    * left-anti join against the settled set keeps the frontier shrinking —
    * cost per round is O(frontier ⋈ edges), not O(visited ⋈ edges), the
    * difference between BFS and Bellman-Ford at 100 TB graph scale. BFS
    * distances are exact small integers, so the result is deterministic
    * under any partitioning (no float mass to drift) and oracle-replayable
    * by a bounded recursive CTE.
    *
    * The per-hop emptiness check is a driver-orchestrated convergence
    * probe on an AGGREGATED count (the [[Dedup.connectedComponents]]
    * pattern), not a data collect. Unreached nodes are absent from the
    * result (the oracle mirrors that rule).
    */
  def shortestPaths(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    var dist = Seq((source, 0L)).toDF("node", "dist")
      .localCheckpoint(eager = true)
    var frontier = dist
    var hop = 1L
    var done = hop > maxHops
    while (!done) {
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
      val fresh = reached.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("dist"))
        // eager checkpoint: `fresh` is consumed twice (union + next
        // frontier) and its lineage holds the whole previous round
        .localCheckpoint(eager = true)
      if (fresh.isEmpty) done = true
      else {
        dist = dist.unionByName(fresh).localCheckpoint(eager = false)
        frontier = fresh
        hop += 1
        if (hop > maxHops) done = true
      }
    }
    dist.count()
    e.unpersist(blocking = false)
    dist
  }

  /** Fixed-round k-core peeling on an undirected edge list: each round
    * drops nodes with degree < k and the edges touching them. `rounds`
    * is FIXED (not run-to-convergence) so the distributed loop is
    * replayable by an unrolled SQL oracle; peeling converges in ≤
    * diameter rounds, so a fixed budget is an upper-approximation of
    * the true k-core that both engines compute identically. Per round:
    * one degree aggregate + two semi joins — all keyed shuffles.
    * Returns (node, deg) of the surviving subgraph.
    *
    * @param edges undirected: pass each edge ONCE; symmetrization
    *              happens here (union + distinct).
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got k=$k rounds=$rounds")
    val base = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    var e = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      val alive = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      e = e.join(alive, e("src") === alive("node"), "left_semi")
        .join(alive, e("dst") === alive("node"), "left_semi")
        .localCheckpoint(eager = false)
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }
}
