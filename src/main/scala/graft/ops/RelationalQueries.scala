package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.IndexTables
import Catalog.dec
import Tables._

/** The relational operator catalog (SURVEY §2.2).
  *
  * The reference engine (`/root/reference/index.js`) has no relational
  * operators of its own — it delegates record-level work to Unix stages
  * (`grep` = filter, `sort` = order, `uniq -c` = group-count,
  * `transform-uppercase` = scalar fn; SURVEY §2.2). Here each capability is
  * a first-class declarative DataFrame expression so Catalyst handles
  * pushdown, pruning, join selection, partial aggregation and AQE — the
  * whole point of the Spark-first rebuild (SURVEY §4.3).
  *
  * Scale notes (100 TB design intent, verified on the local plans):
  *   - scans are bare parquet reads: filters/projections land in the scan
  *     (`PushedFilters`, pruned `ReadSchema`);
  *   - dimension joins (`part`, `region`, `customer` at dim-scale) are
  *     explicitly `broadcast()`; fact⋈fact joins (lineitem⋈orders) stay
  *     shuffle joins on their natural keys so AQE can pick SMJ/SHJ;
  *   - aggregations are expressed as groupBy().agg(...) → Spark always
  *     plans partial (map-side) + final aggregation, so the shuffle carries
  *     pre-combined state, not raw rows;
  *   - the trailing global orderBy on every query exists ONLY for oracle
  *     determinism (driver hash-compares sorted output); at production
  *     scale the same plans run without the final sort.
  */
object RelationalQueries {

  // ---------------------------------------------------------------- scans

  // (l_orderkey, l_linenumber) is NOT unique in the generated lineitem —
  // the unique key (verified against the data) also needs partkey/suppkey/
  // quantity/extendedprice. Oracle orderings below always use a key that is
  // total over the projected columns (ties only between identical rows).
  private val liKey = Seq("l_orderkey", "l_linenumber", "l_partkey",
    "l_suppkey", "l_quantity", "l_extendedprice")
  private val liKeySql = liKey.mkString(", ")

  private val qScan = Q(
    "q_scan",
    (s, d) => lineitem(s, d).orderBy(liKey.map(col): _*),
    Some(s"SELECT * FROM lineitem ORDER BY $liKeySql"),
    "full parquet scan (reference source = stdin/cat, index.js:14-27)")

  private val qProject = Q(
    "q_project",
    (s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""),
    "projection → pruned ReadSchema at the parquet scan")

  private val qFilter = Q(
    "q_filter",
    (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= expr("timestamp'1995-06-01 00:00:00'") &&
          col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "l_discount"),
    Some("""SELECT l_orderkey, l_linenumber, l_shipdate, l_discount
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
              AND l_discount > 0.05
            ORDER BY l_orderkey, l_linenumber, l_shipdate, l_discount"""),
    "predicate pushdown → PushedFilters on the parquet scan")

  // ------------------------------------------------------ scalar functions

  private val qStringFns = Q(
    "q_string_fns",
    (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 20)).as("prefix_upper"),
        length(col("text")).cast("long").as("len"),
        concat_ws(":", col("lang"), col("source")).as("tag"),
        expr("replace(source, 'src', 'source_')").as("src_renamed"),
        instr(col("text"), "agg").cast("long").as("agg_pos"),
        lpad(col("lang"), 5, "_").as("lang_padded")
      ).orderBy("doc_id"),
    Some("""SELECT doc_id,
                   upper(substring(text, 1, 20)) AS prefix_upper,
                   CAST(length(text) AS BIGINT) AS len,
                   lang || ':' || source AS tag,
                   replace(source, 'src', 'source_') AS src_renamed,
                   CAST(instr(text, 'agg') AS BIGINT) AS agg_pos,
                   lpad(lang, 5, '_') AS lang_padded
            FROM documents ORDER BY doc_id"""),
    "scalar string fns (reference: transform-uppercase stage, test.js:11)")

  private val qDateFns = Q(
    "q_date_fns",
    (s, d) =>
      events(s, d).select(
        col("event_id"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("dom"),
        hour(col("ts")).cast("long").as("h"),
        date_trunc("hour", col("ts")).as("ts_hour"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).cast("long").as("days_since")
      ).orderBy("event_id"),
    Some("""SELECT event_id,
                   CAST(year(ts) AS BIGINT) AS y,
                   CAST(month(ts) AS BIGINT) AS m,
                   CAST(day(ts) AS BIGINT) AS dom,
                   CAST(hour(ts) AS BIGINT) AS h,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
                   CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since
            FROM events ORDER BY event_id"""),
    "date/time fns; ns→µs-stable derivations only (see Catalog scaladoc)")

  private val qMathFns = Q(
    "q_math_fns",
    (s, d) =>
      lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        (col("l_orderkey") % 7).cast("long").as("ok_mod7"),
        signum(col("l_discount") - 0.05).as("disc_sign")
      ).orderBy("l_orderkey", "l_linenumber", "price_ceil", "disc_dev", "qty_sqrt"),
    Some("""SELECT l_orderkey, l_linenumber,
                   CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
                   CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
                   abs(l_discount - 0.05) AS disc_dev,
                   sqrt(l_quantity) AS qty_sqrt,
                   CAST(l_orderkey % 7 AS BIGINT) AS ok_mod7,
                   CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, price_ceil, disc_dev, qty_sqrt"""),
    "math fns limited to IEEE-deterministic ops (no libm pow/log)")

  private val qArrayFns = Q(
    "q_array_fns",
    (s, d) =>
      embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).as("e_first"),
        element_at(col("embedding"), -1).as("e_last"),
        array_min(col("embedding")).as("e_min"),
        array_max(col("embedding")).as("e_max"),
        col("label").cast("long").as("label")
      ).orderBy("vec_id"),
    Some("""SELECT vec_id,
                   CAST(len(embedding) AS BIGINT) AS dim,
                   embedding[1] AS e_first,
                   embedding[-1] AS e_last,
                   list_aggregate(embedding, 'min') AS e_min,
                   list_aggregate(embedding, 'max') AS e_max,
                   CAST(label AS BIGINT) AS label
            FROM embeddings ORDER BY vec_id"""),
    "array fns on the embedding column (exact element ops, no float sums)")

  private val qJsonFns = Q(
    "q_json_fns",
    (s, d) =>
      events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k")
      ).orderBy("event_id"),
    Some("""SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events ORDER BY event_id"""),
    "JSON path extraction (reference ndjson framing, index.js:73)")

  private val qScanNdjson = Q(
    "q_scan_ndjson",
    (s, d) =>
      events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("obj"))
        .select(col("event_id"), col("obj.k").as("k"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events ORDER BY event_id"""),
    "schema-on-read NDJSON parse via from_json (index.js:73 parity)")

  private val qCsvRoundtrip = Q(
    "q_csv_roundtrip",
    (s, d) => {
      // sink → source round-trip through the CSV format: written from the
      // parquet original and read back with an explicit schema, then
      // hash-compared against DuckDB reading the parquet directly — one
      // green row proves quoting, header, and type fidelity of both the
      // CSV sink and the CSV source. Free-text documents exercise quoting.
      val src = documents(s, d)
        .select("doc_id", "lang", "text", "n_chars")
      val out = s"/tmp/graft_csv_${Tables.corpusTag(d)}"
      graft.sources.Sources.writeCsv(src, out)
      graft.sources.Sources.csv(s, out, header = true, schema = Some(src.schema))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, text, n_chars
            FROM documents ORDER BY doc_id"""),
    "CSV sink -> CSV source round-trip, hash-checked against the parquet original")

  private val qOrcRoundtrip = Q(
    "q_orc_roundtrip",
    (s, d) => {
      // same contract as q_csv_roundtrip through the OTHER columnar
      // format: written from the parquet original, read back (schema
      // rides in the ORC files), hash-compared against DuckDB reading
      // the parquet — type + value fidelity of the ORC sink and source.
      val src = orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate") // timestamp column: the fidelity risk surface
      val out = s"/tmp/graft_orc_${Tables.corpusTag(d)}"
      graft.sources.Sources.writeOrc(src, out)
      graft.sources.Sources.orc(s, out).orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_orderdate
            FROM orders ORDER BY o_orderkey"""),
    "ORC sink -> ORC source round-trip, hash-checked against the parquet original")

  private val qXmlRoundtrip = Q(
    "q_xml_roundtrip",
    (s, d) => {
      // third round-trip format: row-oriented XML (Spark 4 built-in
      // source), for feeds that arrive as XML records. p_name/p_type are
      // multi-word free-ish text — the entity-escaping risk surface —
      // and the read passes the write schema explicitly (no inference).
      val src = part(s, d)
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
      val out = s"/tmp/graft_xml_${Tables.corpusTag(d)}"
      graft.sources.Sources.writeXml(src, out, rowTag = "part")
      graft.sources.Sources.xml(s, out, rowTag = "part", schema = Some(src.schema))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, p_name, p_brand, p_type, p_size
            FROM part ORDER BY p_partkey"""),
    "XML sink -> XML source round-trip (rowTag records, entity escaping), " +
      "hash-checked against the parquet original")

  private val qSchemaEvolution = Q(
    "q_schema_evolution",
    (s, d) => {
      // schema-on-read evolution: batch 1 written with the narrow schema,
      // batch 2 with two added columns, one mergeSchema read unifies them
      // (missing columns surface as NULL) — the append-only ingestion
      // reality at scale, where a crawl's schema grows over time and old
      // files are never rewritten. The oracle replays the union with
      // typed NULLs.
      val docs = documents(s, d)
      val out = s"/tmp/graft_evolve_${Tables.corpusTag(d)}"
      docs.select(col("doc_id"), lit(1L).as("batch"), col("text"))
        .write.mode("overwrite").parquet(s"$out/b1")
      docs.select(col("doc_id"), lit(2L).as("batch"), col("text"),
          col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/b2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
        .select("doc_id", "batch", "text", "lang", "n_chars")
        .orderBy("doc_id", "batch")
    },
    Some("""SELECT doc_id, CAST(1 AS BIGINT) AS batch, text,
                   CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_chars
            FROM documents
            UNION ALL
            SELECT doc_id, CAST(2 AS BIGINT) AS batch, text, lang, n_chars
            FROM documents
            ORDER BY doc_id, batch"""),
    "parquet schema evolution: two batches with differing schemas, one " +
      "mergeSchema read (added columns NULL-filled for old files)")

  // ---------------------------------------------------------------- joins

  private val qJoinBroadcast = Q(
    "q_join_broadcast",
    (s, d) =>
      lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("p_brand"),
    Some("""SELECT p_brand,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY p_brand"""),
    "explicit broadcast-hash join against the dim table")

  private val qJoinSortmerge = Q(
    "q_join_sortmerge",
    (s, d) =>
      // merge hint pins the documented fact⋈fact shuffle join: at test SF
      // the column-pruned lineitem size estimate sneaks under the 10 MB
      // broadcast threshold and Catalyst would hash-build all 600k fact
      // rows ON THE DRIVER — exactly the shape that cannot scale. The hint
      // keeps the plan the one that survives 100×; AQE still picks the
      // shuffle-side strategy within it.
      lineitem(s, d)
        .hint("merge")
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority", "l_returnflag"),
    Some("""SELECT o_orderpriority, l_returnflag,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority, l_returnflag
            ORDER BY o_orderpriority, l_returnflag"""),
    "fact⋈fact shuffle join — Catalyst/AQE picks SMJ or SHJ on l_orderkey")

  /** Bucketed twins of the two fact tables, written once per corpus dir
    * and catalog ([[IndexTables.ensure]]; write-once serve-many, the
    * tokenizer/IVF model discipline applied to STORAGE LAYOUT). Both
    * bucketed+sorted on the join key with the same bucket count, so the
    * q_join_bucketed join needs neither Exchange nor Sort — the
    * co-located-join layout that at 100 TB turns the recurring fact⋈fact
    * shuffle (the single largest cost in q_join_sortmerge's plan) into a
    * per-bucket merge.
    */
  private[ops] def ensureBucketedFacts(s: SparkSession, d: String): (String, String) = {
    val tag = Tables.corpusTag(d)
    val lt = s"graft_bkt_lineitem_$tag"
    val ot = s"graft_bkt_orders_$tag"
    IndexTables.ensure(s, lt, ot) {
      IndexTables.bucketed(
        lineitem(s, d).select("l_orderkey", "l_quantity", "l_returnflag"),
        lt, Seq("l_orderkey"), numBuckets = 16, sortCol = Some("l_orderkey"),
        location = Some(s"/tmp/graft_bkt_$tag/lineitem"))
      IndexTables.bucketed(
        orders(s, d).select("o_orderkey", "o_orderpriority"),
        ot, Seq("o_orderkey"), numBuckets = 16, sortCol = Some("o_orderkey"),
        location = Some(s"/tmp/graft_bkt_$tag/orders"))
    }
    (lt, ot)
  }

  private val qJoinBucketed = Q(
    "q_join_bucketed",
    (s, d) => {
      // The co-located join: both sides read from bucketed+sorted tables
      // that share the join key and bucket count, so the sort-merge join
      // consumes bucket files directly — NO Exchange, NO Sort in the join
      // subtree (plan-asserted in AdvancedQueriesSpec). Result is
      // hash-identical to the shuffle form, which is exactly the point:
      // bucketing changes the physical layout, never the answer.
      val (lt, ot) = ensureBucketedFacts(s, d)
      // merge hint for the same reason as q_join_sortmerge: at test SF
      // the small side sneaks under the broadcast threshold and Catalyst
      // would driver-broadcast a fact table — the hint keeps the plan
      // the co-located SMJ that the bucketed layout exists for
      s.table(lt).hint("merge")
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority", "l_returnflag")
    },
    Some("""SELECT o_orderpriority, l_returnflag,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority, l_returnflag
            ORDER BY o_orderpriority, l_returnflag"""),
    "co-located bucketed join: both facts bucketed+sorted on the join " +
      "key (write-once layout) — exchange-free, sort-free join subtree, " +
      "hash-identical to the shuffle form")

  private val qJoinOuter = Q(
    "q_join_outer",
    (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("total_spend"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name,
                   count(o_orderkey) AS n_orders,
                   coalesce(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE), 0.0) AS total_spend
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_name ORDER BY c_custkey"""),
    "left outer join preserving customers without orders")

  private val qJoinSemi = Q(
    "q_join_semi",
    (s, d) =>
      orders(s, d)
        .join(
          lineitem(s, d).filter(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_totalprice, o_orderstatus
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
            ORDER BY o_orderkey"""),
    "left-semi join (EXISTS)")

  private val qJoinAnti = Q(
    "q_join_anti",
    (s, d) =>
      orders(s, d)
        .join(
          lineitem(s, d).filter(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_totalprice, o_orderstatus
            FROM orders
            WHERE NOT EXISTS (SELECT 1 FROM lineitem
                              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
            ORDER BY o_orderkey"""),
    "left-anti join (NOT EXISTS)")

  private val qJoinRange = Q(
    "q_join_range",
    (s, d) =>
      lineitem(s, d)
        .join(
          broadcast(region(s, d)
            .select(
              col("r_regionkey").cast("long").as("bucket"),
              (col("r_regionkey") * 10).cast("double").as("lo"),
              ((col("r_regionkey") + 1) * 10).cast("double").as("hi"))),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy("bucket"),
    Some("""SELECT CAST(r_regionkey AS BIGINT) AS bucket,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
            FROM lineitem
            JOIN region ON l_quantity >= r_regionkey * 10
                       AND l_quantity < (r_regionkey + 1) * 10
            GROUP BY r_regionkey ORDER BY bucket"""),
    "theta/range join → broadcast-nested-loop against the tiny bucket dim")

  private val qJoinAsof = Q(
    "q_join_asof",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("prev_click_id",
          max(when(col("event_type") === "click", col("event_id"))).over(w))
        .select("event_id", "user_id", "event_type", "prev_click_id")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type,
                   max(CASE WHEN event_type = 'click' THEN event_id END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_id
            FROM events ORDER BY event_id"""),
    "as-of join: latest prior 'click' per user (event_id is ts-monotone, " +
      "so max(event_id) over the preceding frame = most recent)")

  private val qJoinAsofGeneric = Q(
    "q_join_asof_generic",
    (s, d) => {
      // The generic two-table as-of operator (graft.ops.AsOfJoin) on the
      // trades⋈quotes shape: left = non-click events, right = clicks.
      // Cross-engine ts discipline: Spark reads events.ts at µs, DuckDB
      // at ns — both sides of the oracle work on the µs truncation, and
      // the right side is pre-aggregated to ONE row per (user_id, ts) so
      // equal-timestamp right rows can't make `last()` nondeterministic.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val lefts = ev.filter(col("event_type") =!= "click")
        .select("event_id", "user_id", "ts")
      AsOfJoin.asof(lefts, clicks, "user_id", "ts", "ts", Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("asof_click_id"),
          unix_micros(col("asof_ts")).as("asof_us"))
        .orderBy("event_id")
    },
    Some("""WITH clicks AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, max(event_id) AS click_id
              FROM events WHERE event_type = 'click' GROUP BY 1, 2
            ), lefts AS (
              SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS lts
              FROM events WHERE event_type <> 'click'
            )
            SELECT l.event_id, l.user_id,
                   c.click_id AS asof_click_id,
                   epoch_us(c.cts) AS asof_us
            FROM lefts l
            LEFT JOIN clicks c ON c.user_id = l.user_id AND c.cts =
              (SELECT max(c2.cts) FROM clicks c2
               WHERE c2.user_id = l.user_id AND c2.cts <= l.lts)
            ORDER BY event_id"""),
    "generic two-table as-of join (AsOfJoin.asof, trades⋈quotes shape): " +
      "latest click at-or-before each event per user, with the matched " +
      "row's timestamp — tolerance/tie-break semantics checked cross-engine")

  private val qJoinInterval = Q(
    "q_join_interval",
    (s, d) => {
      // interval containment WITHOUT an equi-key — which Catalyst can only
      // plan as a nested-loop join. graft.ops.IntervalJoin bins both sides
      // onto bucket ids (width = the 10-min interval span, so each
      // interval explodes to ≤ 2 buckets) and equi-joins on the bucket:
      // clicks falling inside any purchase's 10-minute attribution window,
      // corpus-wide. µs epochs on both engines (the ns-safe derivation).
      val ev = events(s, d)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val probes = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("us"))
      val intervals = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("us").as("start_us"), (col("us") + 600000000L).as("end_us"))
      IntervalJoin.containment(probes, "us", intervals,
          "start_us", "end_us", bucketWidth = 600000000L)
        .select(col("click_id"), col("purchase_id"),
          (col("us") - col("start_us")).as("lag_us"))
        .orderBy("click_id", "purchase_id")
    },
    Some("""WITH ev AS (SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                        FROM events),
            p AS (SELECT event_id AS click_id, us FROM ev WHERE event_type = 'click'),
            i AS (SELECT event_id AS purchase_id, us AS start_us,
                         us + 600000000 AS end_us
                  FROM ev WHERE event_type = 'purchase')
            SELECT p.click_id, i.purchase_id, p.us - i.start_us AS lag_us
            FROM p JOIN i ON p.us BETWEEN i.start_us AND i.end_us
            ORDER BY click_id, purchase_id"""),
    "no-equi-key interval containment via bucket binning (IntervalJoin): " +
      "a keyed shuffle join instead of the quadratic nested-loop plan")

  // ------------------------------------------------------------ aggregates

  private val qAgg = Q(
    "q_agg",
    (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""),
    "TPC-H Q1-style hash aggregate; partial+final agg planned by Spark")

  private val qAggDistinct = Q(
    "q_agg_distinct",
    (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS nd_parts,
                   count(DISTINCT l_suppkey) AS nd_supps,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    "exact distinct aggregation (expand + two-phase agg)")

  private val qAggApprox = Q(
    "q_agg_approx",
    (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
    None, // approximate — not oracle-comparable; covered by unit test bounds
    "HyperLogLog++ approx distinct — sketch mergeable across partitions")

  // Two-phase grouping sets: Spark plans CUBE/ROLLUP/GROUPING SETS as an
  // Expand that replicates EVERY input row once per grouping set BEFORE the
  // (partial) aggregation — at 100 TB that is a 3-4× blowup of the scan
  // feeding the shuffle. Aggregating by the full dimension set first
  // collapses the fact table to |distinct dim combos| rows in one keyed
  // shuffle; the Expand then multiplies only that tiny intermediate. Valid
  // because count/sum are decomposable (count → sum of partial counts);
  // grouping() markers are computed by the outer rollup exactly as before.
  private val qRollup = Q(
    "q_rollup",
    (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("_n"), sum(dec(col("l_quantity"))).as("_sq"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          // coalesce: on EMPTY input the () grouping set still emits one
          // row, where sum(_n) is NULL but count(*) semantics demand 0
          coalesce(sum(col("_n")), lit(0L)).as("n"),
          sum(col("_sq")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("status"),
          col("n"), col("sum_qty"), col("g_flag"), col("g_status"))
        .orderBy("g_flag", "g_status", "flag", "status"),
    Some("""SELECT coalesce(l_returnflag, '(all)') AS flag,
                   coalesce(l_linestatus, '(all)') AS status,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
                   CAST(grouping(l_linestatus) AS BIGINT) AS g_status
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY g_flag, g_status, flag, status"""),
    "rollup with grouping() markers; NULL group keys coalesced for ordering parity")

  private val qCube = Q(
    "q_cube",
    (s, d) =>
      // same two-phase shape as q_rollup: collapse to (flag, year) first,
      // cube over the ~tens-of-rows pre-aggregate
      lineitem(s, d)
        .withColumn("ship_year", year(col("l_shipdate")).cast("long"))
        .groupBy("l_returnflag", "ship_year")
        .agg(count(lit(1)).as("_n"))
        .cube("l_returnflag", "ship_year")
        .agg(
          coalesce(sum(col("_n")), lit(0L)).as("n"), // count(*)=0 on empty input
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("ship_year")).cast("long").as("g_year"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("ship_year"), lit(-1L)).as("ship_year"),
          col("n"), col("g_flag"), col("g_year"))
        .orderBy("g_flag", "g_year", "flag", "ship_year"),
    Some("""SELECT coalesce(l_returnflag, '(all)') AS flag,
                   coalesce(CAST(year(l_shipdate) AS BIGINT), -1) AS ship_year,
                   count(*) AS n,
                   CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
                   CAST(grouping(year(l_shipdate)) AS BIGINT) AS g_year
            FROM lineitem
            GROUP BY CUBE (l_returnflag, year(l_shipdate))
            ORDER BY g_flag, g_year, flag, ship_year"""),
    "cube over (flag, ship year)")

  private val qGroupingSets = Q(
    "q_grouping_sets",
    (s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      // two-phase on the SQL surface too: the CTE's plain GROUP BY takes
      // the one full-width shuffle; the Expand only sees its output
      s.sql("""WITH pre AS (
                 SELECT l_returnflag, l_linestatus, count(*) AS _n
                 FROM lineitem_gs GROUP BY l_returnflag, l_linestatus)
               SELECT coalesce(l_returnflag, '(all)') AS flag,
                      coalesce(l_linestatus, '(all)') AS status,
                      coalesce(sum(_n), 0) AS n, -- count(*)=0 on empty input

                      CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
                      CAST(grouping(l_linestatus) AS BIGINT) AS g_status
               FROM pre
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               ORDER BY g_flag, g_status, flag, status""")
    },
    Some("""SELECT coalesce(l_returnflag, '(all)') AS flag,
                   coalesce(l_linestatus, '(all)') AS status,
                   count(*) AS n,
                   CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
                   CAST(grouping(l_linestatus) AS BIGINT) AS g_status
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            ORDER BY g_flag, g_status, flag, status"""),
    "explicit GROUPING SETS via the SQL surface")

  private val qPivot = Q(
    "q_pivot",
    (s, d) =>
      events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("click"), col("view"), col("purchase"),
          col("signup"), col("error"))
        .orderBy("user_id"),
    Some("""SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'view') AS view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'error') AS error
            FROM events GROUP BY user_id ORDER BY user_id"""),
    "pivot with explicit value list (single-pass, no extra distinct job)")

  // --------------------------------------------------------------- windows

  private val qWindowRank = Q(
    "q_window_rank",
    (s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      lineitem(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_suppkey", "rn")
    },
    Some("""SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice
            FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                         CAST(row_number() OVER (PARTITION BY l_suppkey
                              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn
                  FROM lineitem)
            WHERE rn <= 3 ORDER BY l_suppkey, rn"""),
    "top-3 per supplier via ranking window (total tiebreak order)")

  private val qWindowFrame = Q(
    "q_window_frame",
    (s, d) => {
      // window order must be total within a partition: (shipdate, orderkey,
      // linenumber) ties on duplicate keys, so quantity/extendedprice join
      // the ordering (identical leftover ties produce identical rows)
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
      lineitem(s, d)
        .withColumn("running_qty",
          sum(dec(col("l_quantity")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
        .withColumn("next_qty", lead(col("l_quantity"), 1).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity",
          "running_qty", "prev_qty", "next_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "running_qty")
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                        OVER (PARTITION BY l_suppkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
                   lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS prev_qty,
                   lead(l_quantity, 1) OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS next_qty
            FROM lineitem
            ORDER BY l_suppkey, l_orderkey, l_linenumber, l_quantity, running_qty"""),
    "analytic window with running frame + lag/lead")

  private val qSessionize = Q(
    "q_sessionize",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_seq", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "session_seq")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
            FROM (SELECT event_id, user_id, ts,
                         CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                                OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              > 1800000000 OR
                              lag(epoch_us(ts), 1)
                                OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         THEN 1 ELSE 0 END AS new_sess
                  FROM events)
            ORDER BY event_id"""),
    "gap-based sessionization (30-min gap) — batch analog of session windows; " +
      "µs-exact on both engines via unix_micros/epoch_us")

  private val qTumblingWindow = Q(
    "q_tumbling_window",
    (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(col("window.start").as("h"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("h", "event_type"),
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY h, event_type"""),
    "tumbling event-time window (batch form of the streaming window op)")

  /** Unique memory-sink names so warmup + timed + repeated Verify runs
    * never collide on the temp view.
    */
  private[ops] val streamRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The events table as a bounded file-stream source (explicit schema,
    * ts normalization mirroring Tables.events — ns-long and NTZ corpus
    * generations both surface as a plain TIMESTAMP for watermarks).
    */
  private[ops] def streamEvents(s: SparkSession, d: String): DataFrame = {
    // glob form: the file-stream source requires a directory or glob
    // basePath (a bare file path is rejected); the explicit schema is the
    // batch table's, from the Tables schema memo
    val raw = s.readStream.schema(Tables.table(s, d, "events").schema).parquet(s"$d/events.*")
    Tables.normalizeEventTs(raw)
  }

  /** Bounded Structured-Streaming replay harness shared by the q_stream_*
    * queries: fresh checkpoint (a crashed prior run leaves committed
    * offsets whose resume would silently yield an empty batch), tmpfs
    * checkpoint placement (every state-store partition fsyncs its delta at
    * commit — against disk-backed /tmp those fsyncs cost ~70 task-seconds
    * per 10k-row replay; on a cluster this is HDFS/S3), memory sink,
    * AvailableNow trigger, narrowed state width (see [[stateWidthFor]]:
    * far fewer partitions than the session default win, because the
    * stateful stages are dominated by per-partition state-store commit
    * wait — but the round-16 re-measure put the optimum at a floor of 4,
    * not 1), cleanup after success.
    */
  /** Replay state width derived from the input footprint: one state
    * partition per ~32 MB of input, with a floor of 4 and a cap at the
    * session's parallelism. The floor is measured (round 16, quiet box,
    * 3-rep floors): width 4 beats width 1 on every stateful kernel tried
    * — session 1.56 vs 1.77 s, flatMapGroupsWithState 0.79 vs 0.92,
    * stream-stream join 2.23 vs 2.60 — a little task parallelism hides
    * the per-partition state-store commit latency, while 32 near-empty
    * state partitions (the session default) pay 2 batches × 4 commits
    * each for nothing. At 100× the same derivation widens the state with
    * the data, so the declared query is the scale shape rather than a
    * pinned toy width.
    */
  private[ops] def stateWidthFor(s: SparkSession, d: String, table: String): String = {
    // operator escape hatch (and the round-17 scale-experiment hook): a
    // deployment that knows its state width sets SPARK_GRAFT_STATE_WIDTH;
    // unset (the default, and what the driver's bench sees) keeps the
    // measured data-derived rule below
    sys.env.get("SPARK_GRAFT_STATE_WIDTH") match {
      case Some(w) if w.trim.nonEmpty => return w.trim
      case _ => ()
    }
    val width =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
        val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
        math.min(s.sparkContext.defaultParallelism.toLong,
          math.max(4L, bytes / (32L << 20) + 1L))
      } catch { case _: Exception => 4L }
    width.toString
  }

  private[ops] def boundedReplay(
      s: SparkSession,
      name: String,
      agg: DataFrame,
      mode: String,
      statePartitions: String = "4"): DataFrame = {
    // keyed by PID: two JVMs replaying the same query concurrently (a
    // bench run next to a test run) must not delete each other's
    // checkpoint mid-stream; both ends of this function clean up, so a
    // pid-suffixed dir only outlives a crash
    val ckDir = s"/dev/shm/graft_ck_${name}_${ProcessHandle.current().pid()}"
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckDir))
    catch { case _: Exception => () }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val q =
      try {
        s.conf.set("spark.sql.shuffle.partitions", statePartitions)
        agg.writeStream
          .outputMode(mode)
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", ckDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckDir))
    catch { case _: Exception => () }
    s.table(name)
  }

  private val qStreamTumbling = Q(
    "q_stream_tumbling",
    (s, d) => {
      // The SAME tumbling-window operator, driven through Structured
      // Streaming: a bounded file-stream replay (Trigger.AvailableNow)
      // through StreamOps.tumblingCounts into a memory sink, in complete
      // mode so every window emits at end-of-stream. The result must
      // hash-match the batch GROUP BY oracle — streaming/batch parity is
      // checked cross-engine, not just claimed. Values are summed as
      // DECIMAL so the result is partition-order-insensitive (exactness,
      // not float luck).
      val name = s"graft_stream_tumbling_${streamRuns.incrementAndGet()}"
      val ev = streamEvents(s, d).withColumn("value", dec(col("value")))
      val agg = graft.streaming.StreamOps
        .tumblingCounts(ev, "ts", "event_type", "1 hour", "30 minutes")
      boundedReplay(s, name, agg, "complete", stateWidthFor(s, d, "events"))
        .select(col("w_start").as("h"), col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("h", "event_type")
    },
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY h, event_type"""),
    "tumbling window executed by Structured Streaming (bounded replay, " +
      "complete-mode memory sink) — hash-equal to the batch oracle")

  private val qStreamSliding = Q(
    "q_stream_sliding",
    (s, d) => {
      // Sliding event-time windows (2 h length, 1 h slide — every event
      // lands in exactly two windows) through the same bounded-replay
      // harness; the oracle replays the overlap by exploding each event
      // into both of its hour-aligned window starts.
      val name = s"graft_stream_sliding_${streamRuns.incrementAndGet()}"
      val agg = graft.streaming.StreamOps.slidingCounts(
        streamEvents(s, d), "ts", "event_type", "2 hours", "1 hour", "30 minutes")
      boundedReplay(s, name, agg, "complete", stateWidthFor(s, d, "events"))
        .orderBy("w_start", "event_type")
    },
    Some("""WITH starts AS (
              SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                     event_type FROM events
              UNION ALL
              SELECT CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP)
                       AS w_start,
                     event_type FROM events)
            SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end, event_type,
                   count(*) AS n
            FROM starts GROUP BY w_start, event_type
            ORDER BY w_start, event_type"""),
    "sliding windows executed by Structured Streaming (bounded replay) — " +
      "hash-equal to a batch oracle that explodes each event into both " +
      "overlapping windows")

  private val qStreamSession = Q(
    "q_stream_session",
    (s, d) => {
      // session_window gap semantics (merge while next.ts ≤ prev.ts + gap,
      // split on STRICTLY greater) must equal the batch lag/cumsum
      // sessionization — proven by hash-matching a DuckDB oracle that
      // builds sessions the lag way. Same bounded-replay harness as
      // q_stream_tumbling.
      val name = s"graft_stream_session_${streamRuns.incrementAndGet()}"
      val agg = graft.streaming.StreamOps
        .sessionCounts(streamEvents(s, d), "ts", "user_id", "30 minutes", "30 minutes")
      boundedReplay(s, name, agg, "complete", stateWidthFor(s, d, "events"))
        .select(col("user_id"), col("s_start"), col("n"))
        .orderBy("user_id", "s_start")
    },
    Some("""WITH marked AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM marked)
            SELECT user_id, min(ts) AS s_start, count(*) AS n
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, s_start"""),
    "session windows executed by Structured Streaming (session_window + " +
      "watermark, bounded replay) — hash-equal to a lag/cumsum batch oracle")

  private val qStreamSessionFast = Q(
    "q_stream_session_fast",
    (s, d) => {
      // The fMGWS sessionizer (StreamOps.sessionCountsFast) against the
      // SAME lag/cumsum batch oracle as q_stream_session — plus the
      // append-mode emission rule made explicit: a session is final once
      // the watermark (max event time, ms floor, minus the 30-minute
      // delay) passes its end (last + gap), so the oracle applies exactly
      // that cutoff. Hash equality here certifies the hand-rolled state
      // machine end-to-end: gap merge, late-event absorption, timeout
      // flush on the trailing no-data batch.
      val name = s"graft_stream_session_fast_${streamRuns.incrementAndGet()}"
      val agg = graft.streaming.StreamOps
        .sessionCountsFast(streamEvents(s, d), "ts", "user_id",
          "30 minutes", "30 minutes")
      boundedReplay(s, name, agg, "append", stateWidthFor(s, d, "events"))
        .select(col("user_id"), col("s_start"), col("n"))
        .orderBy("user_id", "s_start")
    },
    Some("""WITH marked AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM marked),
            agg AS (
              SELECT user_id, min(ts) AS s_start, max(ts) AS s_last, count(*) AS n
              FROM sess GROUP BY user_id, sid),
            wm AS (
              SELECT (epoch_us(max(ts)) // 1000 - 1800000) * 1000 AS wm_us
              FROM events)
            SELECT user_id, s_start, n
            FROM agg, wm
            WHERE epoch_us(s_last) + 1800000000 <= wm_us
            ORDER BY user_id, s_start"""),
    "session windows via flatMapGroupsWithState (the built-in session_" +
      "window's fast twin) — hash-equal to the lag/cumsum batch oracle " +
      "under the exact append-mode watermark cutoff")

  private val qStreamDedup = Q(
    "q_stream_dedup",
    (s, d) => {
      // Stateful streaming dedup (dropDuplicatesWithinWatermark) through
      // the same bounded-replay harness. The surviving ROW per key is
      // arrival-order-dependent, so the oracle-able projection is the key
      // columns themselves: append-mode dedup emits exactly one row per
      // distinct (user_id, event_type) — DISTINCT, cross-engine. The
      // watermark delay spans the whole corpus so a multi-batch replay
      // can never evict state mid-replay and re-emit a key.
      val name = s"graft_stream_dedup_${streamRuns.incrementAndGet()}"
      val deduped = graft.streaming.StreamOps
        .dedupWithinWatermark(streamEvents(s, d), "ts",
          Seq("user_id", "event_type"), "3650 days")
        .select("user_id", "event_type")
      boundedReplay(s, name, deduped, "append",
        stateWidthFor(s, d, "events")).orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type"""),
    "stateful streaming dedup (dropDuplicatesWithinWatermark, bounded " +
      "replay) — key set hash-equal to batch DISTINCT")

  private val qStreamDedupCorpus = Q(
    "q_stream_dedup_corpus",
    (s, d) => {
      // Continuous-ingest dedup: the documents table replayed as a
      // bounded file stream, each micro-batch anti-joined against the
      // historical corpus' fingerprint set (docs with doc_id % 3 != 0)
      // via StreamOps.dedupAgainstCorpus — the streaming form of
      // Dedup.incremental, stream-static and stateless (no watermark:
      // "new vs corpus" is a per-row predicate). Corpus members
      // self-match and drop; only genuinely novel text survives. The
      // surviving doc_id set is arrival-order-INDEPENDENT, so the full
      // anti-join is oracle-checkable cross-engine.
      val name = s"graft_stream_dedupc_${streamRuns.incrementAndGet()}"
      val docsSchema = Tables.documents(s, d).schema
      val stream = s.readStream.schema(docsSchema).parquet(s"$d/documents.*")
      val corpusFp = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(md5(col("text")).as("fp")).distinct()
      val novel = graft.streaming.StreamOps
        .dedupAgainstCorpus(stream, "text", corpusFp)
        .select("doc_id")
      boundedReplay(s, name, novel, "append",
        stateWidthFor(s, d, "documents")).orderBy("doc_id")
    },
    Some("""SELECT doc_id FROM documents
            WHERE md5(text) NOT IN
              (SELECT md5(text) FROM documents WHERE doc_id % 3 <> 0)
            ORDER BY doc_id"""),
    "streaming ingest dedup against the historical corpus fingerprint " +
      "set (stream-static anti-join, bounded replay) — hash-equal to the " +
      "batch incremental-dedup anti-join")

  private val qStreamClassify = Q(
    "q_stream_classify",
    (s, d) => {
      // Online model serving: the documents table replayed as a bounded
      // file stream, scored row-by-row with the hashed-linear-classifier
      // serving kernel and gated at 0.5 (StreamOps.classifyStream) —
      // stateless map-only inference, the streaming half of the "train
      // offline, serve online" hand-off (q_classifier_train is the
      // offline half; same scoring expression on both sides of the
      // read/readStream divide). The engine-portable md5-nibble model
      // (the q_classifier_score ramp) makes the STREAMING output
      // hash-checkable against a batch DuckDB oracle — serving parity is
      // proven cross-engine, not just claimed.
      val name = s"graft_stream_classify_${streamRuns.incrementAndGet()}"
      val docsSchema = Tables.documents(s, d).schema
      val stream = s.readStream.schema(docsSchema).parquet(s"$d/documents.*")
      val w = Array.tabulate(257)(j => if (j < 256) j / 256.0 - 0.5 else 0.0)
      val kept = graft.streaming.StreamOps.classifyStream(
          stream, "text",
          graft.ext.Classifier.Model(w, 256), graft.ext.Classifier.md5Index,
          threshold = 0.5)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
      boundedReplay(s, name, kept, "append",
        stateWidthFor(s, d, "documents")).orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            feat AS (SELECT doc_id,
                       (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS i
                     FROM t2),
            scored AS (
              SELECT doc_id,
                     1.0 / (1.0 + exp(-(sum(i / 256.0 - 0.5) / count(*)))) AS s
              FROM feat GROUP BY doc_id)
            SELECT doc_id, round(s, 6) AS score FROM scored
            WHERE s >= 0.5 ORDER BY doc_id"""),
    "streaming model serving: classifier gate over a bounded document " +
      "replay (stateless map-only inference) — hash-equal to the batch " +
      "scoring oracle")

  private val qStreamJoin = Q(
    "q_stream_join",
    (s, d) => {
      // Stream⋈stream interval join (watermark-bounded state on BOTH
      // sides), bounded-replay through Structured Streaming and
      // hash-compared against a plain batch interval join in DuckDB:
      // each click joined to the same user's purchases within the next
      // 10 minutes. Append-mode inner join emits exactly the matched
      // rows, so the bounded replay must equal the batch result.
      val name = s"graft_stream_join_${streamRuns.incrementAndGet()}"
      def side(eventType: String, prefix: String) =
        streamEvents(s, d).filter(col("event_type") === eventType)
          .select(col("user_id"),
            col("event_id").as(s"${prefix}_id"), col("ts").as(s"${prefix}_ts"))
      val joined = graft.streaming.StreamOps.intervalJoin(
        side("click", "l"), side("purchase", "r"),
        "user_id", "l_ts", "r_ts", "30 minutes", "10 minutes")
        .select(col("l.user_id").as("user_id"), col("l_id"), col("r_id"))
      // state width derived from the input footprint (resolves to 1 at
      // replay scale — the interval join pays 2 batches × 4 state stores
      // per PARTITION, so the commit machinery dominates here — and
      // widens with the data at 100×)
      boundedReplay(s, name, joined, "append",
        statePartitions = stateWidthFor(s, d, "events"))
        .orderBy("user_id", "l_id", "r_id")
    },
    Some("""SELECT l.user_id AS user_id, l.event_id AS l_id, r.event_id AS r_id
            FROM events l
            JOIN events r ON r.user_id = l.user_id
             AND l.event_type = 'click' AND r.event_type = 'purchase'
             AND epoch_us(r.ts) >= epoch_us(l.ts)
             AND epoch_us(r.ts) <= epoch_us(l.ts) + 600000000
            ORDER BY l.user_id, l_id, r_id"""),
    "stream-stream interval join (watermarked state both sides), bounded " +
      "replay hash-equal to the batch interval join")

  // exact-decimal revenue term: both factors cast to DECIMAL before the
  // multiply so the grouped SUM is order-insensitive and identical
  // cross-engine (a double product would make the hash compare float luck)
  private def revenue: org.apache.spark.sql.Column =
    sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
      .cast("double")

  private val revenueSql =
    """CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"""

  private val qTpchQ3 = Q(
    "q_tpch_q3",
    (s, d) =>
      // TPC-H Q3 shape on the synthetic schema: segment-filtered customer
      // dim broadcast into the orders⋈lineitem fact join (which stays a
      // shuffle join for AQE), grouped revenue, top-10 by revenue. The
      // classic "shipping priority" analytics query — exercises selective
      // dim filter pushdown + multi-join ordering end-to-end.
      broadcast(customer(s, d).filter(col("c_mktsegment") === "BUILDING"))
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        // merge hint: see q_join_sortmerge — never driver-build the fact side
        .join(lineitem(s, d).hint("merge"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") < expr("timestamp'1998-01-01 00:00:00'") &&
          col("l_shipdate") > expr("timestamp'1998-01-01 00:00:00'"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10),
    Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $revenueSql AS revenue
             FROM customer
             JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON o_orderkey = l_orderkey
             WHERE c_mktsegment = 'BUILDING'
               AND o_orderdate < TIMESTAMP '1998-01-01'
               AND l_shipdate > TIMESTAMP '1998-01-01'
             GROUP BY 1, 2, 3
             ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    "TPC-H Q3 shape: segment dim filter + 3-way join + grouped revenue top-10")

  private val qTpchQ5 = Q(
    "q_tpch_q5",
    (s, d) =>
      // TPC-H Q5 shape: region→nation dims broadcast, customer⋈orders⋈
      // lineitem fact chain shuffled on natural keys, supplier joined on
      // BOTH the lineitem supplier key and the customer's nation (the
      // local-supplier condition that makes Q5 a genuine 6-way join).
      broadcast(region(s, d).filter(col("r_name") === "ASIA"))
        .join(broadcast(nation(s, d)), col("n_regionkey") === col("r_regionkey"))
        .join(customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(orders(s, d), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("timestamp'1997-01-01 00:00:00'"))
        // merge hint: see q_join_sortmerge — never driver-build the fact side
        .join(lineitem(s, d).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name")),
    Some(s"""SELECT n_name, $revenueSql AS revenue
             FROM region
             JOIN nation ON n_regionkey = r_regionkey
             JOIN customer ON c_nationkey = n_nationkey
             JOIN orders ON o_custkey = c_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
             JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
             WHERE r_name = 'ASIA'
               AND o_orderdate >= TIMESTAMP '1996-01-01'
               AND o_orderdate < TIMESTAMP '1997-01-01'
             GROUP BY n_name
             ORDER BY revenue DESC, n_name"""),
    "TPC-H Q5 shape: 6-way join with the local-supplier nation condition")

  private val qTpchQ10 = Q(
    "q_tpch_q10",
    (s, d) =>
      // TPC-H Q10 shape (returned-item report): quarter-filtered orders ⋈
      // returned lineitems shuffled on the order key, customer dim joined
      // on the grouped custkey, nation broadcast for the display name —
      // top-20 customers by lost revenue. The synthetic schema carries no
      // c_address/c_phone/c_comment; the grouped keys are the ones it has.
      customer(s, d)
        .join(orders(s, d)
          .filter(col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
            col("o_orderdate") < expr("timestamp'1996-04-01 00:00:00'")),
          col("c_custkey") === col("o_custkey"))
        // merge hint: see q_join_sortmerge — never driver-build the fact side
        .join(lineitem(s, d).hint("merge").filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
    Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name, $revenueSql AS revenue
             FROM customer
             JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON o_orderkey = l_orderkey
             JOIN nation ON c_nationkey = n_nationkey
             WHERE o_orderdate >= TIMESTAMP '1996-01-01'
               AND o_orderdate < TIMESTAMP '1996-04-01'
               AND l_returnflag = 'R'
             GROUP BY 1, 2, 3, 4
             ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    "TPC-H Q10 shape: returned-item revenue by customer, dim broadcast + " +
      "fact shuffle join, top-20")

  private val qJoinSalted = Q(
    "q_join_salted",
    (s, d) =>
      // the salted join must be RESULT-IDENTICAL to the plain equi-join —
      // proven here by oracle-matching the plain SQL join. The salt is
      // content-derived (retry-safe); the orders side is replicated
      // buckets× with the hot left key spread across that many tasks.
      SkewUtils.saltedJoin(
          lineitem(s, d),
          orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
          "l_orderkey", col("l_linenumber"), buckets = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority, count(*) AS n,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    "salted skew join, hash-proven identical to the plain equi-join")

  private val qTopk = Q(
    "q_topk",
    (s, d) =>
      lineitem(s, d)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
            LIMIT 100"""),
    "top-k → TakeOrderedAndProject (no global sort materialization)")

  // --------------------------------------------------------------- set ops

  private val qUnionAll = Q(
    "q_union_all",
    (s, d) => {
      val li = lineitem(s, d)
      val hi = li.filter(col("l_quantity") >= 45)
        .select(lit("hi").as("src"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val lo = li.filter(col("l_quantity") <= 5)
        .select(lit("lo").as("src"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      hi.unionByName(lo).orderBy("src", "l_orderkey", "l_linenumber", "l_quantity")
    },
    Some("""SELECT * FROM (
              SELECT 'hi' AS src, l_orderkey, l_linenumber, l_quantity
              FROM lineitem WHERE l_quantity >= 45
              UNION ALL
              SELECT 'lo' AS src, l_orderkey, l_linenumber, l_quantity
              FROM lineitem WHERE l_quantity <= 5)
            ORDER BY src, l_orderkey, l_linenumber, l_quantity"""),
    "union-all = the reference's `fork` merge (index.js:42-49): unordered interleave")

  private val qConcatOrdered = Q(
    "q_concat_ordered",
    (s, d) => {
      val o = orders(s, d)
      val a = o.filter(col("o_orderstatus") === "F")
        .select(lit(0L).as("seg"), col("o_orderkey"), col("o_orderstatus"))
      val b = o.filter(col("o_orderstatus") === "O")
        .select(lit(1L).as("seg"), col("o_orderkey"), col("o_orderstatus"))
      a.unionByName(b).orderBy("seg", "o_orderkey")
    },
    Some("""SELECT * FROM (
              SELECT CAST(0 AS BIGINT) AS seg, o_orderkey, o_orderstatus
              FROM orders WHERE o_orderstatus = 'F'
              UNION ALL
              SELECT CAST(1 AS BIGINT) AS seg, o_orderkey, o_orderstatus
              FROM orders WHERE o_orderstatus = 'O')
            ORDER BY seg, o_orderkey"""),
    "ordered concat = the reference's `run` segment (index.js:30-39): " +
      "segment ordinal + sort reproduces sequential output order")

  private val qIntersect = Q(
    "q_intersect",
    (s, d) =>
      lineitem(s, d).select(col("l_orderkey").as("okey"))
        .intersect(
          orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_orderkey").as("okey")))
        .orderBy("okey"),
    Some("""SELECT l_orderkey AS okey FROM lineitem
            INTERSECT
            SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'
            ORDER BY okey"""),
    "set intersect (distinct semantics in both engines)")

  private val qExcept = Q(
    "q_except",
    (s, d) =>
      orders(s, d).select(col("o_orderkey").as("okey"))
        .except(
          lineitem(s, d).filter(col("l_quantity") >= 40).select(col("l_orderkey").as("okey")))
        .orderBy("okey"),
    Some("""SELECT o_orderkey AS okey FROM orders
            EXCEPT
            SELECT l_orderkey AS okey FROM lineitem WHERE l_quantity >= 40
            ORDER BY okey"""),
    "set except (distinct semantics in both engines)")

  private val qMultiJoin = Q(
    "q_multi_join",
    (s, d) =>
      // 5-way star join: two broadcast dims chained off customer, the
      // fact⋈fact core left as a shuffle join — Catalyst reorders and
      // picks build sides; the shape of TPC-H Q5
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("r_name", "n_name"),
    Some("""SELECT r_name, n_name, count(*) AS n,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name"""),
    "5-way star join (TPC-H Q5 shape): broadcast dims + shuffled fact join")

  private val qQuantiles = Q(
    "q_quantiles",
    (s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_qq")
      // percentile() (exact, linear interpolation) matches DuckDB's
      // quantile_cont on integer-valued doubles
      s.sql("""SELECT l_returnflag,
                      CAST(percentile(l_quantity, 0.25) AS DOUBLE) AS p25,
                      CAST(percentile(l_quantity, 0.5) AS DOUBLE) AS p50,
                      CAST(percentile(l_quantity, 0.75) AS DOUBLE) AS p75,
                      CAST(min(l_quantity) AS DOUBLE) AS qmin,
                      CAST(max(l_quantity) AS DOUBLE) AS qmax
               FROM lineitem_qq GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.25) AS p25,
                   quantile_cont(l_quantity, 0.5) AS p50,
                   quantile_cont(l_quantity, 0.75) AS p75,
                   CAST(min(l_quantity) AS DOUBLE) AS qmin,
                   CAST(max(l_quantity) AS DOUBLE) AS qmax
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    "exact interpolated quantiles (sort-based; approx_percentile is the " +
      "sketch path at scale — see q_agg_approx for the approximate family)")

  private val qStringAgg = Q(
    "q_string_agg",
    (s, d) =>
      // deterministic listagg: collect_list has no ordering promise, so
      // sort_array fixes the element order before joining
      nation(s, d)
        .groupBy("n_regionkey")
        .agg(
          concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"),
          count(lit(1)).as("n"))
        .select(col("n_regionkey").cast("long").as("region_key"), col("nations"), col("n"))
        .orderBy("region_key"),
    Some("""SELECT CAST(n_regionkey AS BIGINT) AS region_key,
                   string_agg(n_name, ',' ORDER BY n_name) AS nations,
                   count(*) AS n
            FROM nation GROUP BY n_regionkey ORDER BY region_key"""),
    "ordered string aggregation (listagg) — sort_array fixes collect_list's " +
      "unordered contract")

  private val qFirstLastWindow = Q(
    "q_first_last_window",
    (s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      lineitem(s, d)
        .withColumn("first_qty", first(col("l_quantity")).over(w))
        .withColumn("last_qty", last(col("l_quantity")).over(w))
        .groupBy("l_suppkey", "first_qty", "last_qty")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_suppkey")
    },
    Some("""SELECT l_suppkey, first_qty, last_qty, count(*) AS n
            FROM (SELECT l_suppkey,
                         first_value(l_quantity) OVER w AS first_qty,
                         last_value(l_quantity) OVER w AS last_qty
                  FROM lineitem
                  WINDOW w AS (PARTITION BY l_suppkey
                               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                        l_quantity, l_extendedprice
                               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
            GROUP BY l_suppkey, first_qty, last_qty ORDER BY l_suppkey"""),
    "first_value/last_value over an unbounded frame (total order per partition)")

  private val qCrossJoin = Q(
    "q_cross_join",
    (s, d) =>
      region(s, d).crossJoin(nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name"),
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
            ORDER BY r_name, n_name"""),
    "explicit cartesian product (dim×dim only — never on facts)")

  private val qUnionDistinct = Q(
    "q_union_distinct",
    (s, d) => {
      val o = orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("ck"))
        .union(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("ck")))
        .distinct()
        .orderBy("ck")
    },
    Some("""SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
            UNION
            SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'O'
            ORDER BY ck"""),
    "UNION (distinct) vs the fork-parity UNION ALL")

  private val qNullHandling = Q(
    "q_null_handling",
    (s, d) =>
      // left join produces genuine NULLs; coalesce/nullif/null-aware count
      // exercised over them
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_matched"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_null"),
          coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("spend"))
        .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment,
                   count(*) AS n_rows,
                   count(o_orderkey) AS n_matched,
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   coalesce(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE), 0.0) AS spend
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_totalprice > 400000
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    "NULL semantics: null-skipping count, null-aware conditional sum, coalesce")

  private val qCaseBuckets = Q(
    "q_case_buckets",
    (s, d) =>
      lineitem(s, d)
        .withColumn("qty_band",
          when(col("l_quantity") < 10, "small")
            .when(col("l_quantity") < 35, "medium")
            .otherwise("large"))
        .groupBy("qty_band")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy("qty_band"),
    Some("""SELECT CASE WHEN l_quantity < 10 THEN 'small'
                        WHEN l_quantity < 35 THEN 'medium'
                        ELSE 'large' END AS qty_band,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
            FROM lineitem GROUP BY 1 ORDER BY qty_band"""),
    "conditional bucketing (CASE WHEN) feeding aggregation")

  private val qStatsMoments = Q(
    "q_stats_moments",
    (s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_sm")
      // variance/correlation from EXACT decimal co-moments, finished with
      // the same IEEE double formula on both engines — the built-in
      // corr()/stddev() stream in doubles and are summation-order
      // sensitive, so they can't be oracle-compared
      s.sql("""SELECT l_returnflag,
                      sqrt((n * sxx - sx * sx) / (n * n)) AS stddev_pop_qty,
                      (n * sxy - sx * sy)
                        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
               FROM (SELECT l_returnflag,
                            CAST(count(*) AS DOUBLE) AS n,
                            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                                     * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                                     * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
                     FROM lineitem_sm GROUP BY l_returnflag)
               ORDER BY l_returnflag""")
    },
    // Oracle-side decimal→double casts go THROUGH VARCHAR: DuckDB's
    // direct DECIMAL→DOUBLE cast converts the int128 significand to
    // double BEFORE dividing by 10^scale, which mis-rounds once the
    // decimal carries ≳17 significant digits (measured round 16 on the
    // on-box DuckDB: syy 7096786968835.8685 → …869 direct vs the
    // correctly-rounded …868 that Spark's BigDecimal cast and DuckDB's
    // string→double path both produce). The VARCHAR hop is exact (the
    // decimal prints exactly) and its parse is correctly rounded in
    // every DuckDB version, so both engines now derive the IDENTICAL
    // IEEE double before the formula — the Spark side is untouched.
    Some("""SELECT l_returnflag,
                   sqrt((n * sxx - sx * sx) / (n * n)) AS stddev_pop_qty,
                   (n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
            FROM (SELECT l_returnflag,
                         CAST(count(*) AS DOUBLE) AS n,
                         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
                         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                                  * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
                         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
                         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy,
                         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy
                  FROM lineitem GROUP BY l_returnflag)
            ORDER BY l_returnflag"""),
    "stddev/correlation from exact decimal co-moments (deterministic " +
      "cross-engine, unlike streaming corr()/stddev())")

  private val qHistogram = Q(
    "q_histogram",
    (s, d) =>
      lineitem(s, d)
        .withColumn("bucket", floor(col("l_extendedprice") / 10000).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
    Some("""SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
                   count(*) AS n
            FROM lineitem GROUP BY 1 ORDER BY bucket"""),
    "fixed-width histogram by manual bucketing (no width_bucket in DuckDB)")

  private val qDateArith = Q(
    "q_date_arith",
    (s, d) =>
      // TIMESTAMP outputs on both sides: DATE columns reach the compare as
      // different host types (DuckDB dates widen to datetimes in pandas)
      orders(s, d).select(
        col("o_orderkey"),
        expr("CAST(CAST(o_orderdate AS DATE) + INTERVAL 5 DAY AS TIMESTAMP)").as("plus5"),
        last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
        date_trunc("month", col("o_orderdate")).as("month_start")
      ).orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) + INTERVAL 5 DAY AS TIMESTAMP) AS plus5,
                   CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
                   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
            FROM orders ORDER BY o_orderkey"""),
    "date arithmetic: interval add, month end/start (timestamp-typed for " +
      "cross-engine value parity)")

  // -------------------------------------------------- subqueries & misc

  private val qScalarSubquery = Q(
    "q_scalar_subquery",
    (s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_sq")
      // threshold computed as exact decimal sum → double → IEEE ops, so
      // both engines derive the identical double before comparing
      s.sql("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
               FROM lineitem_sq
               WHERE l_quantity > 1.9 * (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                                / COUNT(*) FROM lineitem_sq)
               ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
            WHERE l_quantity > 1.9 * (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                             / COUNT(*) FROM lineitem)
            ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""),
    "uncorrelated scalar subquery (planned as a broadcast one-row join)")

  private val qWindowDistribution = Q(
    "q_window_distribution",
    (s, d) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_suppkey"), col("l_partkey"))
      lineitem(s, d)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("prank", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
        .filter(col("l_orderkey") % 100 === 0) // keep output bounded
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity",
          "quartile", "prank", "cdist")
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity", "prank")
    },
    Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity, quartile, prank, cdist
            FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
                         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                         percent_rank() OVER w AS prank,
                         cume_dist() OVER w AS cdist
                  FROM lineitem
                  WINDOW w AS (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey, l_linenumber,
                                        l_quantity, l_suppkey, l_partkey))
            WHERE l_orderkey % 100 = 0
            ORDER BY l_returnflag, l_orderkey, l_linenumber, l_quantity, prank"""),
    "distribution window functions (ntile / percent_rank / cume_dist)")

  private val qRegexFns = Q(
    "q_regex_fns",
    (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        regexp_replace(substring(col("text"), 1, 30), "[aeiou]", "*").as("devoweled"),
        col("text").rlike("agg").as("has_agg")
      ).orderBy("doc_id"),
    Some("""SELECT doc_id,
                   regexp_extract(text, '([a-z]+)', 1) AS first_word,
                   regexp_replace(substring(text, 1, 30), '[aeiou]', '*', 'g') AS devoweled,
                   regexp_matches(text, 'agg') AS has_agg
            FROM documents ORDER BY doc_id"""),
    "regex functions (patterns restricted to the RE2∩Java-regex dialect)")

  private val qSampleHash = Q(
    "q_sample_hash",
    (s, d) =>
      lineitem(s, d)
        .filter(substring(md5(concat_ws("-",
          col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
          col("l_quantity").cast("string"))), 1, 1).isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, count(*) AS n,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem
            WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                                CAST(l_linenumber AS VARCHAR) || '-' ||
                                CAST(l_quantity AS VARCHAR)), 1, 1) IN ('0', '1')
            GROUP BY l_returnflag ORDER BY l_returnflag"""),
    "deterministic content-addressed sampling (~12.5%) — engine-portable, " +
      "stable across partitionings; the scalable alternative to rand() samples")

  def all: Seq[Q] = Seq(
    qScan, qProject, qFilter,
    qScalarSubquery, qWindowDistribution, qRegexFns, qSampleHash,
    qMultiJoin, qQuantiles,
    qStringAgg, qFirstLastWindow, qCrossJoin, qUnionDistinct,
    qNullHandling, qCaseBuckets,
    qStatsMoments, qHistogram, qDateArith,
    qStringFns, qDateFns, qMathFns, qArrayFns, qJsonFns, qScanNdjson,
    qCsvRoundtrip, qOrcRoundtrip, qXmlRoundtrip, qSchemaEvolution,
    qJoinBroadcast, qJoinSortmerge, qJoinBucketed, qJoinOuter, qJoinSemi, qJoinAnti,
    qJoinRange, qJoinAsof, qJoinAsofGeneric, qJoinInterval,
    qAgg, qAggDistinct, qAggApprox, qRollup, qCube, qGroupingSets, qPivot,
    qWindowRank, qWindowFrame, qSessionize, qTumblingWindow, qStreamTumbling,
    qStreamSliding, qStreamSession, qStreamSessionFast, qStreamJoin, qStreamDedup,
    qStreamDedupCorpus, qStreamClassify,
    qTpchQ3, qTpchQ5, qTpchQ10, qJoinSalted, qTopk,
    qUnionAll, qConcatOrdered, qIntersect, qExcept)
}
