package graft.ops

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Graph, Linkage}
import Tables._

/** Round-7 additions: Catalyst subquery-decorrelation shapes (the TPC-H
  * Q17/Q18/Q21/Q22 family), iterative graph centrality (fixed-point
  * PageRank), blocked fuzzy record linkage (Jaro-Winkler), asymmetric
  * containment dedup, and the HLL-sketch shard/merge pre-aggregation
  * pattern.
  *
  * The subquery family is deliberately written through `spark.sql` on temp
  * views: correlated EXISTS / NOT EXISTS / IN / scalar subqueries are the
  * one relational surface the DataFrame API cannot express directly, and
  * the point is to prove Catalyst's decorrelation (RewriteCorrelatedScalarSubquery,
  * RewritePredicateSubquery → semi/anti joins) produces oracle-exact
  * results on the same shapes DuckDB plans natively.
  */
object AdvancedQueries {

  private def dec(c: org.apache.spark.sql.Column) =
    c.cast(org.apache.spark.sql.types.DecimalType(18, 2))

  // exact-decimal revenue term (q_tpch_q3 discipline): both factors decimal
  // before the multiply so the grouped SUM is order-insensitive cross-engine
  private def revenueAdv: org.apache.spark.sql.Column =
    sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
      .cast("double")

  private val revenueAdvSql =
    """CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"""

  // ---------------------------------------------------------------- Q17
  private val qTpchQ17 = Q(
    "q_tpch_q17",
    (s, d) => {
      // TPC-H Q17 shape (small-quantity-order revenue): the correlated
      // scalar subquery avg(l_quantity) per part, hand-decorrelated the
      // way Catalyst itself rewrites it — pre-aggregate lineitem per
      // partkey (partial map-side combine), join back on the part key.
      // The brand dim filter is broadcast; the per-part aggregate joins
      // the fact by shuffle on l_partkey. Threshold arithmetic is
      // decimal-sum → double so both engines derive the identical IEEE
      // double before comparing.
      val li = lineitem(s, d)
      val avgByPart = li.groupBy("l_partkey")
        .agg((sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
      val brandParts = broadcast(part(s, d)
        .filter(col("p_brand") === "Brand#1").select("p_partkey"))
      li.join(brandParts, col("l_partkey") === col("p_partkey"))
        // merge hint: the per-part aggregate is one row per PART — dim-sized
        // locally but data-proportional at 100 TB; never broadcast it
        .join(avgByPart.hint("merge"), "l_partkey")
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(
          (sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
          count(lit(1)).cast("long").as("n_rows"))
    },
    Some("""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / 7.0
                     AS avg_yearly,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#1'
              AND l.l_quantity < 0.5 *
                  (SELECT CAST(CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                          / count(*)
                   FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""),
    "TPC-H Q17 shape: correlated per-part avg subquery, decorrelated to a " +
      "pre-aggregate + join; brand dim broadcast")

  // ---------------------------------------------------------------- Q18
  private val qTpchQ18 = Q(
    "q_tpch_q18",
    (s, d) => {
      // TPC-H Q18 (large-volume customers): IN over a grouped-HAVING
      // subquery. Written as SQL so Catalyst plans the IN as a left-semi
      // join against the aggregated key set (RewritePredicateSubquery) —
      // the fact table is never driver-collected and the semi side is a
      // partial-aggregated key list.
      customer(s, d).createOrReplaceTempView("customer_adv")
      orders(s, d).createOrReplaceTempView("orders_adv")
      lineitem(s, d).createOrReplaceTempView("lineitem_adv")
      // MERGE(lineitem_adv): never broadcast the raw fact (q_join_sortmerge
      // discipline). The IN-subquery's semi build side is left to the
      // optimizer on purpose: it is an AGGREGATED key list whose size is
      // data-dependent — at toy scale stats pick broadcast, at 100 TB AQE
      // flips the same plan to sort-merge. That size-driven flip is the
      // scale story, not a fixed choice.
      s.sql("""SELECT /*+ MERGE(lineitem_adv) */
                      c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
               FROM customer_adv
               JOIN orders_adv ON c_custkey = o_custkey
               JOIN lineitem_adv ON o_orderkey = l_orderkey
               WHERE o_orderkey IN (
                 SELECT l_orderkey FROM lineitem_adv
                 GROUP BY l_orderkey
                 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
               GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 100""")
    },
    Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_qty
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey
              HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100"""),
    "TPC-H Q18 shape: IN over grouped HAVING → left-semi join on the " +
      "aggregated key set")

  // ---------------------------------------------------------------- Q21
  private val qTpchQ21 = Q(
    "q_tpch_q21",
    (s, d) => {
      // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
      // correlated EXISTS + NOT EXISTS chain — Catalyst decorrelates to a
      // left-semi then a left-anti self-join of lineitem on the order key.
      // Both rewritten joins shuffle on l_orderkey, so the three scans of
      // the fact co-partition; the synthetic schema has no
      // commitdate/receiptdate, so "waiting" is shipdate-based: the last
      // shipper in a multi-supplier order.
      //
      // Round-16 adjudication (OPTIMIZATION_r16.md): two rewrites that
      // replace the self-join chain with a per-(order, supplier)
      // max-shipdate aggregate were built, oracle-verified, and MEASURED
      // SLOWER at sf0.1 — window-stats + co-partitioned join-back 0.81 →
      // 1.47 s floor (1.39 with a shuffle_hash join-back), and a
      // join-free collect_list/array-count form 2.08 s (interpreted
      // higher-order filter + arrays riding the window exchange). The
      // decorrelated semi/anti SMJs stream with near-zero per-row cost,
      // and the rewrites' shuffle-byte saving (≈8 → ≈6.5 column-units of
      // fact traffic) is too small to buy back their sort/window/buffer
      // CPU. Kept as-is; revisit only if a deployment shows the order-key
      // exchanges dominating.
      lineitem(s, d).createOrReplaceTempView("lineitem_adv21")
      // MERGE hints inside the subquery blocks survive decorrelation and
      // pin the rewritten semi/anti joins to sort-merge — the build side
      // is the RAW fact table (same q_join_sortmerge discipline: a plan
      // that driver-broadcasts lineitem is wrong at 100 TB even if the
      // local file squeaks under the broadcast threshold)
      s.sql("""SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
               FROM lineitem_adv21 l1
               WHERE EXISTS (
                       SELECT /*+ MERGE(l2) */ 1 FROM lineitem_adv21 l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
                 AND NOT EXISTS (
                       SELECT /*+ MERGE(l3) */ 1 FROM lineitem_adv21 l3
                       WHERE l3.l_orderkey = l1.l_orderkey
                         AND l3.l_suppkey <> l1.l_suppkey
                         AND l3.l_shipdate > l1.l_shipdate)
               GROUP BY l_suppkey
               ORDER BY numwait DESC, l_suppkey
               LIMIT 50""")
    },
    Some("""SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
            FROM lineitem l1
            WHERE EXISTS (
                    SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                    SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > l1.l_shipdate)
            GROUP BY l_suppkey
            ORDER BY numwait DESC, l_suppkey
            LIMIT 50"""),
    "TPC-H Q21 shape: correlated EXISTS + NOT EXISTS → co-partitioned " +
      "semi/anti self-joins on the order key (two aggregate-based " +
      "rewrites measured slower and reverted — see OPTIMIZATION_r16.md)")

  // ---------------------------------------------------------------- Q22
  private val qTpchQ22 = Q(
    "q_tpch_q22",
    (s, d) => {
      // TPC-H Q22 shape (well-funded customers with no big orders):
      // uncorrelated scalar subquery (average balance — planned as a
      // broadcast one-row join) + correlated NOT EXISTS (→ left-anti
      // join against orders). Threshold derivation is decimal-exact.
      customer(s, d).createOrReplaceTempView("customer_adv22")
      orders(s, d).createOrReplaceTempView("orders_adv22")
      s.sql("""SELECT c_mktsegment,
                      CAST(count(*) AS BIGINT) AS n_cust,
                      CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
               FROM customer_adv22 c
               WHERE c_acctbal > (
                       SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                              / count(*)
                       FROM customer_adv22 WHERE c_acctbal > 0)
                 AND NOT EXISTS (
                       SELECT 1 FROM orders_adv22 o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 400000)
               GROUP BY c_mktsegment
               ORDER BY c_mktsegment""")
    },
    Some("""SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_cust,
                   CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_bal
            FROM customer c
            WHERE c_acctbal > (
                    SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                           / count(*)
                    FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (
                    SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000)
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment"""),
    "TPC-H Q22 shape: uncorrelated scalar subquery + correlated NOT " +
      "EXISTS → broadcast one-row join + left-anti join")

  // ----------------------------------------------------------- PageRank
  /** Unrolled fixed-point PageRank oracle: the SAME integer arithmetic as
    * [[graft.ext.Graph.pageRank]], as `iters` chained CTEs. DuckDB `//` is
    * Spark's `div` (both truncate; all values here are non-negative).
    */
  private def pageRankOracleSql(iters: Int): String = {
    val base = "(1000000000000 * 15 // 100) // (SELECT count(*) FROM nodes)"
    val head =
      s"""WITH edges AS (
         |  SELECT DISTINCT (user_id % 64) AS src,
         |                  (event_id % ((user_id % 64) + 2)) AS dst
         |  FROM events
         |  WHERE (user_id % 64) <> (event_id % ((user_id % 64) + 2))),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT node, 1000000000000 // (SELECT count(*) FROM nodes) AS rank
         |       FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |r$k AS (
         |  SELECT n.node,
         |         $base + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.rank // o.deg) AS BIGINT) AS contrib
         |    FROM edges e
         |    JOIN r${k - 1} p ON p.node = e.src
         |    JOIN outd o ON o.src = e.src
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters ORDER BY node"
  }

  private val qPagerank = Q(
    "q_pagerank",
    (s, d) => {
      // Derived deterministic link graph over the events table: 64 hub-
      // skewed nodes (dst = event_id mod (src+2) biases in-links toward
      // low ids — a preferential-attachment-ish in-degree skew, the
      // realistic shape for web-crawl centrality). The fixed-point integer
      // loop makes the 5-round distributed iteration hash-identical to
      // DuckDB's unrolled replay — float PageRank could never be
      // cross-engine-checked like this.
      val ev = events(s, d)
      val edges = ev.select(
          (col("user_id") % 64).as("src"),
          (col("event_id") % ((col("user_id") % 64) + 2)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      Graph.pageRank(edges, iterations = 5).orderBy("node")
    },
    Some(pageRankOracleSql(5)),
    "fixed-point integer PageRank, 5 rounds over a derived hub-skewed " +
      "graph — distributed loop hash-equal to DuckDB's unrolled CTE replay")

  // --------------------------------------------------------- fuzzy join
  private val qFuzzyJoin = Q(
    "q_fuzzy_join",
    (s, d) => {
      // Record linkage demo: every 5th customer name with its 11th char
      // deleted (a mid-string typo that preserves the last-3-digit
      // blocking key) is matched back against the clean table. Blocking
      // on the name's 3-char suffix bounds candidates to ~N/1000 per
      // block; the codegen'd Jaro-Winkler kernel scores candidates and
      // the rank-1 window keeps the best match per probe. Scores are
      // rounded BEFORE ranking so cross-engine ordering can't hinge on a
      // final ulp.
      val cust = customer(s, d)
      val dirty = cust.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("dirty_id"),
          concat(substring(col("c_name"), 1, 10),
            expr("substring(c_name, 12)")).as("dname"))
      Linkage.fuzzyJoin(dirty, cust, "dirty_id", "dname", "c_custkey", "c_name",
          name => substring(name, -3, 3), threshold = 0.9)
        .orderBy("probe_id")
    },
    Some("""WITH dirty AS (
              SELECT c_custkey AS probe_id,
                     concat(substr(c_name, 1, 10), substr(c_name, 12)) AS dname
              FROM customer WHERE c_custkey % 5 = 0),
            cand AS (
              SELECT d.probe_id, c.c_custkey AS match_id,
                     round(jaro_winkler_similarity(d.dname, c.c_name), 6) AS score
              FROM dirty d
              JOIN customer c ON right(d.dname, 3) = right(c.c_name, 3)),
            ranked AS (
              SELECT probe_id, match_id, score,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY score DESC, match_id) AS rn,
                     count(*) OVER (PARTITION BY probe_id) AS ncand
              FROM cand WHERE score >= 0.9)
            SELECT probe_id, match_id, score, CAST(ncand AS BIGINT) AS ncand
            FROM ranked WHERE rn = 1 ORDER BY probe_id"""),
    "blocked fuzzy join: suffix blocking + codegen'd Jaro-Winkler scoring " +
      "+ rank-1 best match, value-exact against DuckDB's jaro_winkler")

  // -------------------------------------------------------- containment
  private val qDedupContainment = Q(
    "q_dedup_containment",
    (s, d) => {
      // Asymmetric containment on the same deterministic successor grid
      // as q_dedup_jaccard — the doc-in-doc verification kernel (Broder's
      // containment vs resemblance), both directions in one pass.
      val docs = documents(s, d)
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.exactContainment(pairs, docs, "doc_id", "text", Dedup.WordShingles(3))
        .select(col("id1"), col("id2"),
          round(col("containment_12"), 6).as("containment_12"),
          round(col("containment_21"), 6).as("containment_21"))
        .orderBy("id1")
    },
    Some("""WITH sets AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            )
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(a.sh), 6) AS containment_12,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(b.sh), 6) AS containment_21
            FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
            ORDER BY id1"""),
    "exact word-3-shingle CONTAINMENT (both directions) on the successor " +
      "grid — the doc-in-doc dedup verification kernel, cross-engine checked")

  // -------------------------------------------------------- HLL sketches
  private val qHllShards = Q(
    "q_hll_shards",
    (s, d) =>
      // The 100 TB distinct-count pattern: sketch each SHARD independently
      // (one pass, map-side partial HLL buffers), persist/ship the tiny
      // sketch blobs, and MERGE at query time — re-aggregating the union
      // of shards without ever re-reading the data. Here: per-(type,
      // shard) DataSketches HLL over user_id, merged per type. Estimates
      // are approximate → rows-only; q_hll_exact is the oracle-checked
      // exact twin, and SketchesSpec pins merge-vs-monolithic equality
      // and the estimate error bound.
      events(s, d)
        .withColumn("shard", (col("user_id") % 8).cast("long"))
        .groupBy("event_type", "shard")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("approx_users"))
        .orderBy("event_type"),
    None, // approximate (HLL estimate); exact twin q_hll_exact is checked
    "sharded HLL sketches merged per group — the write-once pre-agg " +
      "distinct-count serve path (DataSketches HLL, lgK=12)")

  private val qHllExact = Q(
    "q_hll_exact",
    (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).cast("long").as("n_users"))
        .orderBy("event_type"),
    Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type"""),
    "exact distinct twin anchoring q_hll_shards")

  // ---------------------------------------------------------------- Q6
  private val qTpchQ6 = Q(
    "q_tpch_q6",
    (s, d) =>
      // TPC-H Q6 (forecasting revenue change): THE predicate-pushdown
      // microbenchmark — a single fact scan where all three filters reach
      // the parquet reader (PushedFilters) and the aggregate is one
      // map-side partial + one-row final. No join, no wide shuffle: at
      // 100 TB this runs at scan speed, bounded by I/O alone.
      lineitem(s, d)
        .filter(col("l_shipdate") >= expr("timestamp'1997-01-01 00:00:00'") &&
          col("l_shipdate") < expr("timestamp'1998-01-01 00:00:00'") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).cast("long").as("n_rows")),
    Some("""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                     AS revenue,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24"""),
    "TPC-H Q6: pure pushed-predicate scan + one-row decimal aggregate")

  // ------------------------------------------------------ bloom join
  private val qJoinBloom = Q(
    "q_join_bloom",
    (s, d) => {
      // Runtime bloom-filter join (Spark 3.5+ AQE runtime filtering): a
      // selective dim-side filter is turned into a bloom sketch INJECTED
      // into the fact scan, so fact rows that cannot join are dropped at
      // the scan before paying the shuffle — at 100 TB this is the
      // difference between shuffling the whole fact and shuffling the
      // ~10% that survives. Runs on a CLONED session (CC-loop precedent)
      // so the creation thresholds — tuned down to fire at toy scale; the
      // default 10 MB/10 GB thresholds fire on their own at real scale —
      // never leak into concurrent queries. The join itself stays
      // sort-merge (fact side never broadcast); JoinBloomSpec asserts the
      // might_contain filter is actually in the executed plan.
      val s2 = graft.ext.LoopSessions.forPurpose(s, "join.bloom")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // InjectRuntimeFilter only fires on probably-SHUFFLE joins, and
      // "probably" is decided by broadcast-size estimates — at test scale
      // every side is broadcastable so the rule would never trigger. At
      // 100 TB neither side is, so the production default is exactly the
      // injected plan this query pins; disabling size-based broadcast on
      // the clone makes the toy plan the production plan.
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sel = orders(s2, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 450000)
      lineitem(s2, d).hint("merge")
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(revenueAdv.as("revenue"), count(lit(1)).cast("long").as("n_rows"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, $revenueAdvSql AS revenue,
                    CAST(count(*) AS BIGINT) AS n_rows
             FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000
             GROUP BY o_orderpriority
             ORDER BY o_orderpriority"""),
    "runtime bloom-filter join: selective dim filter injected as a bloom " +
      "probe into the fact scan before the sort-merge shuffle")

  // ------------------------------------------------- split leakage audit
  private val qSplitLeakage = Q(
    "q_split_leakage",
    (s, d) => {
      // Train/test leakage audit — the curation gate q_split_stable needs:
      // a row-keyed split (by doc_id) lets DUPLICATE FAMILIES straddle
      // train and test (memorized eval contamination); a content-keyed
      // split (same stableSplit, keyed by the content fingerprint) makes
      // straddling structurally impossible. Duplicates are PLANTED (the
      // q_dedup_incremental pattern: re-id'd copies of every 11th doc) and
      // the audit counts groups whose members span >1 split under each
      // keying — the row-keyed count is nonzero, the content-keyed count
      // is zero by construction. Both replayed exactly by DuckDB.
      import graft.ext.TextAnalysis
      val docs = documents(s, d).select("doc_id", "text")
      val aug = docs.unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val g = aug
        .withColumn("fp", md5(col("text")))
        .withColumn("naive", TextAnalysis.stableSplit(col("doc_id")))
        .withColumn("grouped", TextAnalysis.stableSplit(col("fp")))
      val per = g.groupBy("fp").agg(
        countDistinct(col("naive")).as("cn"),
        countDistinct(col("grouped")).as("cg"))
      val naive = per.agg(
        count(lit(1)).cast("long").as("n_groups"),
        sum(when(col("cn") > 1, 1L).otherwise(0L)).cast("long").as("leaking_groups"))
        .select(lit("by_doc_id").as("method"), col("n_groups"), col("leaking_groups"))
      val grouped = per.agg(
        count(lit(1)).cast("long").as("n_groups"),
        sum(when(col("cg") > 1, 1L).otherwise(0L)).cast("long").as("leaking_groups"))
        .select(lit("by_content").as("method"), col("n_groups"), col("leaking_groups"))
      naive.unionByName(grouped).orderBy("method")
    },
    Some("""WITH aug AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0),
            g AS (
              SELECT fp,
                     CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('d','e') THEN 'val'
                          WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' THEN 'test'
                          ELSE 'train' END AS naive,
                     CASE WHEN substring(md5(fp), 1, 1) IN ('d','e') THEN 'val'
                          WHEN substring(md5(fp), 1, 1) = 'f' THEN 'test'
                          ELSE 'train' END AS grouped
              FROM (SELECT doc_id, md5(text) AS fp FROM aug)),
            per AS (
              SELECT fp, count(DISTINCT naive) AS cn, count(DISTINCT grouped) AS cg
              FROM g GROUP BY fp)
            SELECT 'by_doc_id' AS method,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(CASE WHEN cn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaking_groups
            FROM per
            UNION ALL
            SELECT 'by_content',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN cg > 1 THEN 1 ELSE 0 END) AS BIGINT)
            FROM per
            ORDER BY method"""),
    "train/test leakage audit: planted dup families straddle a row-keyed " +
      "split but NEVER a content-keyed one — the split gate dedup needs")

  // --------------------------------------------- incremental aggregation
  private val qIncrAgg = Q(
    "q_incr_agg",
    (s, d) => {
      // Incremental aggregate maintenance — the dashboard/rollup pattern
      // at 100 TB: historical partials are WRITTEN ONCE (count / decimal
      // sum / min / max are all algebraically mergeable), and a new delta
      // batch is folded in by re-aggregating partials — the history is
      // never re-read at event grain. The oracle recomputes the full
      // aggregate from raw events, so the hash compare PROVES
      // merge-of-partials ≡ full recompute (including the derived avg).
      val ev = events(s, d)
      val cut = expr("timestamp'2024-01-15 00:00:00'")
      def partial(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sum_v"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      val histPath = s"/tmp/graft_incragg_${Tables.corpusTag(d)}"
      partial(ev.filter(col("ts") < cut))
        .write.mode("overwrite").parquet(histPath)
      s.read.parquet(histPath)
        .unionByName(partial(ev.filter(col("ts") >= cut)))
        .groupBy("day", "event_type")
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("sum_v")).as("sum_dec"),
          min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
        .select(col("day"), col("event_type"), col("n"),
          col("sum_dec").cast("double").as("sum_value"),
          (col("sum_dec").cast("double") / col("n")).as("avg_value"),
          col("min_v"), col("max_v"))
        .orderBy("day", "event_type")
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*)
                     AS avg_value,
                   min(value) AS min_v, max(value) AS max_v
            FROM events GROUP BY 1, 2 ORDER BY day, event_type"""),
    "incremental aggregate maintenance: write-once daily partials + delta " +
      "merge, hash-proven equal to a full recompute from raw events")

  // ------------------------------------------------- label propagation
  /** Unrolled oracle for [[graft.ext.Graph.labelSpread]] — same integer
    * arithmetic as the distributed loop, over the q_pagerank edge graph
    * with seeds = nodes < 6 labelled (node % 3).
    */
  private def labelSpreadOracleSql(iters: Int, keep: Int): String = {
    val head =
      s"""WITH edges AS (
         |  SELECT DISTINCT (user_id % 64) AS src,
         |                  (event_id % ((user_id % 64) + 2)) AS dst
         |  FROM events
         |  WHERE (user_id % 64) <> (event_id % ((user_id % 64) + 2))),
         |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |seeds AS (SELECT DISTINCT src AS node, src % 3 AS label
         |          FROM edges WHERE src < 6),
         |r0 AS (SELECT node, label, 1000000000000 AS m FROM seeds)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |r$k AS (
         |  SELECT node, label, CAST(SUM(m) AS BIGINT) AS m FROM (
         |    SELECT node, label, ${1000000000000L * keep / 100L} AS m FROM seeds
         |    UNION ALL
         |    SELECT e.dst AS node, p.label,
         |           (${100 - keep} * CAST(SUM(p.m // o.deg) AS BIGINT)) // 100 AS m
         |    FROM edges e
         |    JOIN r${k - 1} p ON p.node = e.src
         |    JOIN outd o ON o.src = e.src
         |    GROUP BY e.dst, p.label) u
         |  GROUP BY node, label
         |  HAVING CAST(SUM(m) AS BIGINT) > 0)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT node, label, m AS mass FROM (
         |  SELECT node, label, m,
         |         row_number() OVER (PARTITION BY node
         |                            ORDER BY m DESC, label) AS rn
         |  FROM r$iters) x
         |WHERE rn = 1 ORDER BY node""".stripMargin
  }

  private val qLabelSpread = Q(
    "q_label_spread",
    (s, d) => {
      // Semi-supervised labeling over the q_pagerank link graph: 6 seed
      // nodes carry labels 0/1/2; 4 rounds of fixed-point mass diffusion
      // label every reachable node; argmax mass (ties to the smaller
      // label — exact on integer masses) is the assignment. Same
      // cross-engine-determinism trick as q_pagerank: the distributed
      // loop is hash-identical to DuckDB's unrolled replay.
      val ev = events(s, d)
      val edges = ev.select(
          (col("user_id") % 64).as("src"),
          (col("event_id") % ((col("user_id") % 64) + 2)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") < 6)
        .select(col("node"), (col("node") % 3).as("label"))
      val mass = Graph.labelSpread(edges, seeds, iterations = 4, keep = 50)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("m").desc, col("label"))
      mass.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("label"), col("m").as("mass"))
        .orderBy("node")
    },
    Some(labelSpreadOracleSql(4, 50)),
    "semi-supervised label propagation: fixed-point per-label mass " +
      "diffusion + integer argmax, hash-equal to DuckDB's unrolled replay")

  // ---------------------------------------------------- unigram tokenizer
  private def unigramVocab(s: org.apache.spark.sql.SparkSession, d: String) =
    trainedModel(d, "unigram", 256, 20000, 5000)(
      graft.ext.Unigram.train(documents(s, d), "text", vocabSize = 256,
        maxWords = 20000, seedSize = 5000))

  private val qUnigramVocab = Q(
    "q_unigram_vocab",
    (s, d) =>
      graft.ext.Unigram.vocabDf(s, unigramVocab(s, d)).orderBy("rank"),
    None, // model-defined (EM/prune loop not SQL-expressible); UnigramSpec
    // anchors max-likelihood segmentation, losslessness (fuzzed),
    // determinism; the histogram kernel is oracle-checked by q_vocab_build
    "unigram-LM (SentencePiece-style) tokenizer training: distributed " +
      "word histogram + driver-side hard-EM prune loop — the trained " +
      "piece table as a first-class model artifact (the BPE twin)")

  private val qUnigramTokens = Q(
    "q_unigram_tokens",
    (s, d) => {
      val vocab = unigramVocab(s, d)
      documents(s, d)
        .select(
          col("doc_id"),
          size(graft.ext.Unigram.tokens(col("text"), vocab)).as("n_pieces"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_words"))
        .orderBy("doc_id")
    },
    None, // model-defined (trained vocabulary); q_token_count is the
    // oracle-checked counting twin and q_unigram_anchor is the
    // driver-visible conservation certificate over the same trained vocab
    "unigram max-likelihood tokenization against the trained piece table " +
      "(map-only codegen'd Viterbi scan) — per-doc piece counts")

  private val qUnigramAnchor = Q(
    "q_unigram_anchor",
    (s, d) => {
      // Driver-visible certificate for the unigram encode path: the
      // Viterbi segmentation is lossless by construction (pieces
      // concatenate back to the word; unknown chars fall back to
      // single-char pieces), so the per-doc sum of piece lengths computed
      // THROUGH the real codegen encoder must equal the doc's
      // non-whitespace character count, which DuckDB computes
      // independently from the raw text — the q_bpe_anchor invariant for
      // the unigram family.
      val vocab = unigramVocab(s, d)
      documents(s, d)
        .select(col("doc_id"),
          aggregate(
            transform(graft.ext.Unigram.tokens(col("text"), vocab),
              p => length(p).cast("long")),
            lit(0L), (acc, x) => acc + x).as("n_piece_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g'))
                        AS BIGINT) AS n_piece_chars
            FROM documents ORDER BY doc_id"""),
    "unigram conservation anchor: per-doc piece-length sum through the " +
      "real trained encoder equals the independent non-whitespace char " +
      "count — segmentation-is-a-partition, driver-checked")

  // ------------------------------------------------------- triangles
  private val qTriangles = Q(
    "q_triangles",
    (s, d) => {
      // Triangle count with DEGREE-ORDERED edge orientation (Suri &
      // Vassilvitskii, WWW'11): every undirected edge points from its
      // (degree, id)-smaller endpoint, so each triangle is counted once
      // AND the join fan-out per vertex is bounded by its ORIENTED
      // out-degree ≈ O(√m) — the skew bound that makes distributed
      // triangle counting survive power-law hubs (a hub's edges mostly
      // point AT it, so it never explodes a join). Same derived graph as
      // q_pagerank; two self-joins on the oriented edge list.
      val ev = events(s, d)
      val und = ev.select(
          least(col("user_id") % 64,
            col("event_id") % ((col("user_id") % 64) + 2)).as("a"),
          greatest(col("user_id") % 64,
            col("event_id") % ((col("user_id") % 64) + 2)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val ed = und
        .join(deg.select(col("node").as("a"), col("dg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("dg").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("u"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a")).as("v"))
      val e1 = ed.select(col("u").as("u1"), col("v").as("v1"))
      val e2 = ed.select(col("u").as("u2"), col("v").as("v2"))
      val e3 = ed.select(col("u").as("u3"), col("v").as("v3"))
      e1.join(e2, col("u2") === col("v1"))
        .join(e3, col("u3") === col("u1") && col("v3") === col("v2"))
        .agg(count(lit(1)).cast("long").as("n_triangles"))
    },
    Some("""WITH und AS (
              SELECT DISTINCT least(user_id % 64, event_id % ((user_id % 64) + 2)) AS a,
                              greatest(user_id % 64, event_id % ((user_id % 64) + 2)) AS b
              FROM events
              WHERE (user_id % 64) <> (event_id % ((user_id % 64) + 2))),
            deg AS (SELECT node, count(*) AS dg FROM (
                      SELECT a AS node FROM und UNION ALL SELECT b FROM und) t
                    GROUP BY node),
            ed AS (
              SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
                          THEN u.a ELSE u.b END AS u,
                     CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
                          THEN u.b ELSE u.a END AS v
              FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b)
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM ed e1
            JOIN ed e2 ON e2.u = e1.v
            JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v"""),
    "triangle count via degree-ordered orientation (oriented out-degree " +
      "O(sqrt m) bounds hub fan-out) — each triangle counted exactly once")

  // ------------------------------------------------------ co-occurrence
  private val qCooccur = Q(
    "q_cooccur",
    (s, d) => {
      // Collocation mining: top token pairs co-occurring within a
      // document (market-basket over per-doc DISTINCT tokens, t1 < t2 so
      // each unordered pair counts once). The per-doc distinct explode
      // bounds the self-join: a doc with k eligible tokens yields k(k-1)/2
      // pairs — bounded by document length, never corpus size; the global
      // count is one map-side-combined aggregation and the top-50 a
      // TakeOrdered. The curation use: boilerplate phrase discovery.
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .filter(length(col("t")) >= 4)
        .distinct()
      toks.select(col("doc_id"), col("t").as("t1"))
        .join(toks.select(col("doc_id"), col("t").as("t2")), "doc_id")
        .filter(col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"))
        .limit(50)
    },
    Some("""WITH toks AS (
              SELECT DISTINCT doc_id, t FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents) x
              WHERE length(t) >= 4)
            SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS n
            FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.t < b.t
            GROUP BY t1, t2 ORDER BY n DESC, t1, t2 LIMIT 50"""),
    "top-50 within-document token co-occurrence (market-basket over " +
      "per-doc distinct tokens) — collocation/boilerplate discovery")

  // --------------------------------------------------------- outliers
  private val qOutliers = Q(
    "q_outliers",
    (s, d) => {
      // Per-group z-score anomaly gate. Mean and variance are derived
      // from DECIMAL-exact sum and sum-of-squares (the one-pass
      // sufficient statistics — mergeable, so this composes with the
      // q_incr_agg partial pattern), then finished in IEEE double:
      // identical on both engines, unlike a direct stddev over doubles
      // (summation-order-dependent). sqrt is correctly rounded by IEEE —
      // deterministic cross-engine.
      val ev = events(s, d)
      val st = ev.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("s"),
          sum(dec(col("value")) * dec(col("value"))).cast("double").as("sq"))
      val z = (col("value") - col("s") / col("n")) /
        sqrt((col("sq") - col("s") * col("s") / col("n")) / (col("n") - 1))
      ev.join(st, col("event_type") === col("et"))
        .filter(abs(z) > 3)
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 6).as("z"))
        .orderBy("event_id")
    },
    Some("""WITH st AS (
              SELECT event_type AS et, count(*) AS n,
                     CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s,
                     CAST(CAST(sum(CAST(value AS DECIMAL(18,2))
                              * CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sq
              FROM events GROUP BY event_type)
            SELECT event_id, event_type, value,
                   round((value - s / n) / sqrt((sq - s * s / n) / (n - 1)), 6) AS z
            FROM events e JOIN st ON st.et = e.event_type
            WHERE abs((value - s / n) / sqrt((sq - s * s / n) / (n - 1))) > 3
            ORDER BY event_id"""),
    "per-group z-score outlier gate from decimal-exact one-pass moments " +
      "(mergeable sufficient statistics, IEEE-deterministic finish)")

  // ---------------------------------------------- streaming partial log
  private val qStreamIncrAgg = Q(
    "q_stream_incr_agg",
    (s, d) => {
      // The STREAMING half of q_incr_agg: continuous ingest appends each
      // micro-batch's daily partials to an append-only partial log
      // (foreachBatch; count/sum/min/max are mergeable so append-only is
      // enough — no read-modify-write, no transactional sink needed), and
      // serving re-aggregates the log. The oracle recomputes from raw
      // events, proving replay → partial log → merge ≡ batch truth.
      // StreamIncrAggSpec drives the multi-batch path (maxFilesPerTrigger)
      // — the driver corpus is a single file, so this replay is 1 batch.
      val runId = streamIncrRuns.incrementAndGet()
      val logPath = s"/tmp/graft_stream_incragg_${Tables.corpusTag(d)}_$runId"
      val ckDir = s"/dev/shm/graft_ck_incragg_$runId"
      for (p <- Seq(logPath, ckDir))
        try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
        catch { case _: Exception => () }
      val schema = events(s, d).schema
      val raw = s.readStream.schema(schema).parquet(s"$d/events.*")
      val ev = Tables.normalizeEventTs(raw)
      val q = ev.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch
            .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sum_v"),
              min(col("value")).as("min_v"), max(col("value")).as("max_v"))
            .write.mode("append").parquet(logPath)
          ()
        }
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckDir))
      catch { case _: Exception => () }
      s.read.parquet(logPath)
        .groupBy("day", "event_type")
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("sum_v")).cast("double").as("sum_value"),
          min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
        .orderBy("day", "event_type")
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
                   min(value) AS min_v, max(value) AS max_v
            FROM events GROUP BY 1, 2 ORDER BY day, event_type"""),
    "streaming incremental rollup: foreachBatch appends mergeable daily " +
      "partials to an append-only log; serve-time merge hash-equals the " +
      "batch truth recomputed from raw events")

  private val streamIncrRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  def all: Seq[Q] = Seq(
    qTpchQ17, qTpchQ18, qTpchQ21, qTpchQ22, qTpchQ6,
    qPagerank, qFuzzyJoin, qDedupContainment,
    qHllShards, qHllExact, qJoinBloom, qSplitLeakage,
    qIncrAgg, qLabelSpread, qUnigramVocab, qUnigramTokens, qUnigramAnchor,
    qTriangles, qCooccur, qOutliers, qStreamIncrAgg)
}
