package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.{Cluster, Graph}
import Tables._

/** Round-7 additions beyond the TPC-H completion: oracle-certified
  * distributed clustering (quantized Lloyd's k-means), frontier BFS
  * shortest paths, SCD-2 temporal dimension construction, a k-anonymity
  * curation audit, and a stream-static broadcast enrichment through the
  * bounded-replay harness.
  */
object AnalyticsQueries {

  private def dec(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(18, 2))

  // -------------------------------------------------------------- k-means
  /** DuckDB replay of [[Cluster.assignments]]: `iters` unrolled Lloyd
    * rounds in the same quantized integer arithmetic (1-based list indexing
    * vs Spark's 0-based posexplode changes nothing — both emit centroids in
    * component order).
    */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    def assignFrom(cents: String): String =
      s"""SELECT id, v, cell FROM (
         |    SELECT q.id, q.v, c.cell,
         |           row_number() OVER (PARTITION BY q.id ORDER BY
         |             list_sum(list_transform(range(1, len(q.v)+1),
         |               j -> CAST(q.v[j]-c.cv[j] AS DOUBLE)*(q.v[j]-c.cv[j]))),
         |             c.cell) AS rn
         |    FROM q CROSS JOIN $cents c)
         |  WHERE rn = 1""".stripMargin
    val head =
      s"""WITH q AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
         |  FROM embeddings),
         |pos AS (SELECT unnest(range(1, ${dim + 1})) AS pos),
         |c0 AS (SELECT id AS cell, v AS cv FROM q ORDER BY id LIMIT $k)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |a$i AS (
         |  ${assignFrom(s"c${i - 1}")}),
         |c$i AS (
         |  SELECT cell, list(s ORDER BY pos) AS cv FROM (
         |    SELECT cell, pos,
         |           CAST(floor(CAST(sum(v[pos]) AS DOUBLE)/count(*)) AS BIGINT) AS s
         |    FROM a$i CROSS JOIN pos GROUP BY cell, pos)
         |  GROUP BY cell)""".stripMargin
    }.mkString
    s"""$head$rounds,
       |afin AS (
       |  ${assignFrom(s"c$iters")})
       |SELECT cell, n AS n_members, CAST(pos - 1 AS BIGINT) AS dim_idx,
       |       s AS coord FROM (
       |  SELECT cell, pos, CAST(count(*) AS BIGINT) AS n,
       |         CAST(floor(CAST(sum(v[pos]) AS DOUBLE)/count(*)) AS BIGINT) AS s
       |  FROM afin CROSS JOIN pos GROUP BY cell, pos)
       |ORDER BY cell, dim_idx""".stripMargin
  }

  private val qKmeans = Q(
    "q_kmeans",
    (s, d) =>
      // Scalarized output: the centroid array is exploded to one
      // (cell, n_members, dim_idx, coord) row per component so every
      // declared column is atomic (array cells are ungradeable by the
      // oracle comparator). Cluster.clusterProfile stays the array-valued
      // library API.
      Cluster.clusterProfile(embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2)
        .select(col("cell"), col("n_members"),
          posexplode(col("centroid")).as(Seq("p", "coord")))
        .select(col("cell"), col("n_members"),
          col("p").cast("long").as("dim_idx"), col("coord"))
        .orderBy("cell", "dim_idx"),
    Some(kmeansOracleSql(k = 8, iters = 2, dim = 64)),
    "Lloyd's k-means (2 full rounds, deterministic lowest-id seeds) in " +
      "quantized integer space — the distributed broadcast-assign/keyed-" +
      "update loop is hash-identical to DuckDB's unrolled replay")

  // ------------------------------------------------------- shortest paths
  private val qShortestPath = Q(
    "q_shortest_path",
    (s, d) => {
      // Same derived hub-skewed graph as q_pagerank. The source is the
      // max src node — the widest fan-out hub in this construction (dst ∈
      // [0, src+2)) — computed as a one-scalar aggregate (a model scalar,
      // like IVF's N; the data never drives through the driver). At tiny
      // SF the id space shrinks, so a pinned literal source would not
      // even exist in the graph.
      val ev = events(s, d)
      val edges = ev.select(
          (col("user_id") % 64).as("src"),
          (col("event_id") % ((col("user_id") % 64) + 2)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val source = edges.agg(max(col("src"))).head().getLong(0)
      Graph.shortestPaths(edges, source, maxHops = 6).orderBy("node")
    },
    Some("""WITH RECURSIVE edges AS (
              SELECT DISTINCT (user_id % 64) AS src,
                              (event_id % ((user_id % 64) + 2)) AS dst
              FROM events
              WHERE (user_id % 64) <> (event_id % ((user_id % 64) + 2))),
            walk(node, dist) AS (
              SELECT (SELECT max(src) FROM edges), CAST(0 AS BIGINT)
              UNION
              SELECT e.dst, w.dist + 1
              FROM walk w JOIN edges e ON e.src = w.node
              WHERE w.dist < 6)
            SELECT node, min(dist) AS dist FROM walk GROUP BY node
            ORDER BY node"""),
    "single-source BFS shortest paths (frontier joins + anti-join settled " +
      "set) — hash-equal to a bounded recursive-CTE oracle")

  // ----------------------------------------------------------------- SCD2
  private val qScd2 = Q(
    "q_scd2",
    (s, d) => {
      // Slowly-changing-dimension type-2 construction from an event log:
      // per user, consecutive runs of the same event_type collapse to one
      // validity interval [valid_from_us, valid_to_us) with the current
      // row open-ended. This is the CDC→dimension-table shape (MERGE
      // without a mutable store: intervals derived declaratively). All
      // windows share one (user_id × time) sort — Catalyst plans a single
      // shuffle+sort reused by lag, cumsum, and lead.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("us", "event_id")
      val seg = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("seg", sum(col("chg")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val iv = seg.groupBy("user_id", "seg")
        .agg(min(col("event_type")).as("event_type"),
          min(col("us")).as("valid_from_us"),
          count(lit(1)).as("n_events"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("seg")
      iv.withColumn("valid_to_us",
          coalesce(lead(col("valid_from_us"), 1).over(w2), lit(-1L)))
        .withColumn("is_current",
          when(col("valid_to_us") === -1L, 1L).otherwise(0L))
        .select("user_id", "event_type", "valid_from_us", "valid_to_us",
          "is_current", "n_events")
        .orderBy("user_id", "valid_from_us")
    },
    Some("""WITH marked AS (
              SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                     CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
            seg AS (
              SELECT user_id, event_type, us,
                     sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS seg
              FROM marked),
            iv AS (
              SELECT user_id, seg, min(event_type) AS event_type,
                     min(us) AS valid_from_us, count(*) AS n_events
              FROM seg GROUP BY user_id, seg)
            SELECT user_id, event_type, valid_from_us,
                   coalesce(lead(valid_from_us)
                              OVER (PARTITION BY user_id ORDER BY seg),
                            -1) AS valid_to_us,
                   CASE WHEN lead(valid_from_us)
                              OVER (PARTITION BY user_id ORDER BY seg) IS NULL
                        THEN 1 ELSE 0 END AS is_current,
                   n_events
            FROM iv
            ORDER BY user_id, valid_from_us"""),
    "SCD-2 dimension build from an event log: run-length change detection " +
      "+ interval assembly, one shared shuffle+sort across all windows")

  // ----------------------------------------------------------- k-anonymity
  private val qKAnonymity = Q(
    "q_k_anonymity",
    (s, d) =>
      // Privacy-risk audit over the curation quasi-identifiers: any
      // (lang, source) equivalence class smaller than k=10 re-identifies
      // its members. One hash aggregate — the audit a release gate runs
      // before publishing a training corpus.
      documents(s, d)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("group_size"))
        .withColumn("at_risk", when(col("group_size") < 10, 1L).otherwise(0L))
        .orderBy("lang", "source"),
    Some("""SELECT lang, source, count(*) AS group_size,
                   CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS at_risk
            FROM documents GROUP BY lang, source
            ORDER BY lang, source"""),
    "k-anonymity audit: quasi-identifier equivalence-class sizes with a " +
      "k=10 risk flag — the pre-release privacy gate for a training corpus")

  // ------------------------------------------------- stream-static enrich
  private val qStreamEnrich = Q(
    "q_stream_enrich",
    (s, d) => {
      // Stream-static join: the event stream enriched against a STATIC
      // dimension (nation, keyed by user_id % 25) — the canonical serving
      // topology where reference data rides every micro-batch as a
      // broadcast, no state store involved for the join itself (only the
      // downstream windowless aggregate holds state). Hash-equal to the
      // batch join oracle.
      val name = s"graft_stream_enrich_${RelationalQueries.streamRuns.incrementAndGet()}"
      val dim = nation(s, d)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      val ev = RelationalQueries.streamEvents(s, d)
        .withColumn("nk", col("user_id") % 25)
        .join(broadcast(dim), "nk")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sum_value"))
      RelationalQueries.boundedReplay(s, name, ev, "complete",
        RelationalQueries.stateWidthFor(s, d, "events"))
        .select(col("n_name"), col("n"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name, count(*) AS n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM events JOIN nation ON n_nationkey = user_id % 25
            GROUP BY n_name ORDER BY n_name"""),
    "stream-static broadcast enrichment through the bounded-replay " +
      "harness — dimension join per micro-batch, hash-equal to the batch " +
      "join oracle")

  // -------------------------------------------------------- blocklist gate
  /** Multi-word phrases on purpose: substring (not token) semantics, the
    * part `contains`-composition and the oracle agree on exactly.
    */
  private val blockTerms = Seq("spark merge", "customer query", "slow sort",
    "hash value", "window")

  private val qBlocklist = Q(
    "q_blocklist",
    (s, d) =>
      // Compliance/blocklist gate: flag documents containing any of m
      // phrases in ONE automaton pass (multi_match_count — Aho-Corasick
      // behind whole-stage codegen) instead of m chained contains() scans;
      // at 100 TB × hundreds of phrases the m× rescan IS the job cost.
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.MultiMatch
            .multi_match_count(col("text"), blockTerms).as("n_hits"))
        .filter(col("n_hits") > 0)
        .orderBy("doc_id"),
    Some {
      val hits = blockTerms
        .map(t => s"CASE WHEN contains(text, '$t') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""SELECT doc_id, CAST($hits AS BIGINT) AS n_hits
         |FROM documents
         |WHERE $hits > 0
         |ORDER BY doc_id""".stripMargin
    },
    "blocklist gate: distinct-phrase hit count via a single Aho-Corasick " +
      "pass (custom codegen expression) — oracle replays with m contains()")

  // ------------------------------------------------------------ WordPiece
  private def wpVocab(s: org.apache.spark.sql.SparkSession, d: String) =
    trainedModel(d, "wordpiece", 64)(
      graft.ext.WordPiece.train(documents(s, d), "text", numMerges = 64))

  private val qWordpieceVocab = Q(
    "q_wordpiece_vocab",
    (s, d) =>
      graft.ext.WordPiece.vocabDf(s, wpVocab(s, d)).orderBy("piece_id"),
    None, // model-defined (likelihood-scored merge loop); WordPieceSpec
    // anchors the trainer and greedy segmenter; the histogram kernel is
    // oracle-checked by q_vocab_build
    "WordPiece vocabulary training (likelihood-scored merges over the " +
      "distributed word histogram) — the trained vocab as a write-once " +
      "artifact; completes the BPE/unigram/WordPiece tokenizer family")

  private val qWordpieceTokens = Q(
    "q_wordpiece_tokens",
    (s, d) => {
      // greedy longest-match segmentation of the corpus against the
      // trained vocab: one codegen'd map-only scan, vocab resident in the
      // generated code; per-doc piece + UNK accounting.
      val v = wpVocab(s, d)
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.WordPieceOps
            .wordpiece_stats(col("text"), v).as("st"))
        .select(col("doc_id"), col("st.n_pieces").as("n_pieces"),
          col("st.n_unk").as("n_unk"))
        .orderBy("doc_id")
    },
    None, // model-defined (trained vocab); q_token_count is the
    // oracle-checked counting twin and q_wordpiece_anchor drives the same
    // greedy kernel under a driver-checkable vocabulary
    "WordPiece tokenization of the corpus (greedy longest-match, " +
      "map-only codegen'd scan) — per-doc piece/UNK counts")

  private val qWordpieceAnchor = Q(
    "q_wordpiece_anchor",
    (s, d) => {
      // Driver-visible certificate for the greedy WordPiece kernel: under
      // a single-character vocabulary (every corpus char, in both start
      // and `##`-continuation form — a bounded charset-sized model
      // artifact), greedy longest-match MUST segment every word into
      // exactly one piece per character with zero UNKs. So n_pieces
      // equals the doc's non-whitespace char count, which DuckDB computes
      // independently from raw text. This drives the real serve kernel —
      // word-boundary walk, start-vs-## lookup, UNK accounting — through
      // a hash-checked oracle; the trained-vocab run (q_wordpiece_tokens)
      // shares every code path but the vocab content.
      val chars = documents(s, d)
        .select(explode(split(regexp_replace(col("text"), "\\s+", ""), "")).as("c"))
        .filter(col("c") =!= "")
        .distinct().collect().map(_.getString(0)).sorted
      val vocab = chars.toSeq ++ chars.map("##" + _)
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.WordPieceOps
            .wordpiece_stats(col("text"), vocab).as("st"))
        .select(col("doc_id"), col("st.n_pieces").as("n_pieces"),
          col("st.n_unk").as("n_unk"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g'))
                        AS BIGINT) AS n_pieces,
                   CAST(0 AS BIGINT) AS n_unk
            FROM documents ORDER BY doc_id"""),
    "WordPiece kernel anchor: single-char vocabulary forces one piece " +
      "per character and zero UNKs — greedy walk, ##-continuation " +
      "lookups and UNK accounting hash-checked against the independent " +
      "char count")

  // ------------------------------------------------- weighted sampling
  private val qSampleWeighted = Q(
    "q_sample_weighted",
    (s, d) => {
      // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
      // A-Res): priority key ln(u)/w with u content-addressed from
      // md5(doc_id) — fully deterministic and distributed (map-only key
      // + TakeOrderedAndProject top-k; no RNG state, so re-runs and the
      // oracle agree bit-for-bit). Weights here are document length —
      // the "sample proportional to token mass" curation step. The key
      // is rounded to 12 decimals BEFORE ranking (q_fuzzy_join
      // discipline: cross-engine order must not hinge on a final ulp).
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
      val u = (h.cast("double") + lit(0.5)) / lit(281474976710656.0) // 2^48
      documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          round(log(u) / col("n_chars"), 12).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(50)
    },
    Some("""SELECT doc_id, n_chars,
                   round(ln((CAST(concat('0x',
                                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                                AS UBIGINT) + 0.5) / 281474976710656.0)
                         / n_chars, 12) AS es_key
            FROM documents
            ORDER BY es_key DESC, doc_id
            LIMIT 50"""),
    "Efraimidis–Spirakis weighted sampling without replacement: " +
      "content-addressed priorities (md5-derived u, ln(u)/w), map-only + " +
      "top-k — deterministic distributed weighted sampling")

  // ------------------------------------------------------ curriculum
  private val qCurriculum = Q(
    "q_curriculum",
    (s, d) => {
      // Curriculum phase assignment by difficulty quartiles. The
      // SCALE-RIGHT shape: exact quartile cutoffs as ONE aggregate
      // (3 scalars), broadcast back, phase assignment map-only — not a
      // global ntile() window (a single-reducer sort at 100 TB).
      val cuts = documents(s, d).agg(
        percentile(col("n_chars"), lit(0.25)).as("q1"),
        percentile(col("n_chars"), lit(0.5)).as("q2"),
        percentile(col("n_chars"), lit(0.75)).as("q3"))
      documents(s, d).crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_chars"),
          (lit(1L) + when(col("n_chars") > col("q1"), 1L).otherwise(0L)
            + when(col("n_chars") > col("q2"), 1L).otherwise(0L)
            + when(col("n_chars") > col("q3"), 1L).otherwise(0L)).as("phase"))
        .orderBy("doc_id")
    },
    Some("""WITH cuts AS (
              SELECT quantile_cont(n_chars, 0.25) AS q1,
                     quantile_cont(n_chars, 0.5) AS q2,
                     quantile_cont(n_chars, 0.75) AS q3
              FROM documents)
            SELECT doc_id, n_chars,
                   1 + CASE WHEN n_chars > q1 THEN 1 ELSE 0 END
                     + CASE WHEN n_chars > q2 THEN 1 ELSE 0 END
                     + CASE WHEN n_chars > q3 THEN 1 ELSE 0 END AS phase
            FROM documents CROSS JOIN cuts
            ORDER BY doc_id"""),
    "curriculum phases by difficulty quartiles: one 3-scalar aggregate " +
      "broadcast back, map-only phase assignment (no global-sort ntile)")

  // ---------------------------------------------------- OLS regression
  private val qRegression = Q(
    "q_regression",
    (s, d) => {
      // Per-group closed-form OLS (value vs time) from MERGEABLE
      // sufficient statistics (n, Σx, Σy, Σxy, Σx²) — the q_outliers
      // moment discipline extended to two variables: sums are
      // decimal/integer-exact (order-free), the slope/intercept division
      // happens ONCE at the end in IEEE double on exact-in-double
      // operands, so both engines agree bit-for-bit. Mergeable stats
      // compose with the q_incr_agg partial pattern — per-day partial
      // moments roll up to any window without re-reading events.
      val x = floor(unix_micros(col("ts")).cast("double") / lit(86400000000.0))
        .cast("long")
      val pts = events(s, d).select(col("event_type"), x.as("x"),
        dec(col("value")).as("y"))
      val st = pts.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast(DecimalType(28, 2)) * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      st.select(col("event_type"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"),
          ((col("sy").cast("double") -
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              col("sx").cast("double")) / col("n").cast("double"))
            .as("intercept"))
        .orderBy("event_type")
    },
    Some("""WITH pts AS (
              SELECT event_type,
                     CAST(floor(epoch_us(ts)/86400000000.0) AS BIGINT) AS x,
                     CAST(value AS DECIMAL(18,2)) AS y
              FROM events),
            stats AS (
              SELECT event_type, count(*) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(CAST(x AS DECIMAL(28,2)) * y) AS sxy,
                     sum(x*x) AS sxx
              FROM pts GROUP BY event_type)
            SELECT event_type, n,
                   CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) AS slope,
                   (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                    - (CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE))
                      * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                     / CAST(n AS DOUBLE) AS intercept
            FROM stats ORDER BY event_type"""),
    "per-group closed-form OLS trend from mergeable decimal-exact " +
      "sufficient statistics — one aggregate, division once at the end " +
      "in IEEE double")

  // ---------------------------------------------------- MERGE / upsert
  private val qMergeUpsert = Q(
    "q_merge_upsert",
    (s, d) => {
      // Lakehouse MERGE INTO semantics without a mutable store: base ⋈
      // updates full-outer on the key, rows classified
      // insert/update/delete/keep, deletes dropped from the merged
      // state. The update batch is derived deterministically (U for
      // id%7=0, D for id%7=1, I beyond the id space) so both engines
      // plant the same batch. One keyed shuffle per side — the shape a
      // MERGE compiles to in any lakehouse engine.
      val base = documents(s, d).select(col("doc_id"), col("n_chars"))
      val updates = documents(s, d)
        .filter(col("doc_id") % 7 < 2)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit("U")).otherwise(lit("D")).as("op"),
          (col("n_chars") + 1000L).as("new_n_chars"))
        .unionByName(
          documents(s, d).filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), lit("I").as("op"),
              col("n_chars").as("new_n_chars")))
      base.join(updates.hint("merge"), Seq("doc_id"), "full_outer")
        .withColumn("action",
          when(col("op") === "D", "delete")
            .when(col("op") === "U", "update")
            .when(col("op") === "I", "insert")
            .otherwise("keep"))
        .filter(col("action") =!= "delete")
        .select(col("doc_id"),
          coalesce(col("new_n_chars"), col("n_chars")).as("n_chars"),
          col("action"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (SELECT doc_id, n_chars FROM documents),
            updates AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN 'U' ELSE 'D' END AS op,
                     n_chars + 1000 AS new_n_chars
              FROM documents WHERE doc_id % 7 < 2
              UNION ALL
              SELECT doc_id + 1000000, 'I', n_chars
              FROM documents WHERE doc_id % 11 = 0),
            merged AS (
              SELECT coalesce(b.doc_id, u.doc_id) AS doc_id,
                     coalesce(u.new_n_chars, b.n_chars) AS n_chars,
                     CASE WHEN u.op = 'D' THEN 'delete'
                          WHEN u.op = 'U' THEN 'update'
                          WHEN u.op = 'I' THEN 'insert'
                          ELSE 'keep' END AS action
              FROM base b FULL OUTER JOIN updates u ON b.doc_id = u.doc_id)
            SELECT doc_id, n_chars, action FROM merged
            WHERE action <> 'delete'
            ORDER BY doc_id"""),
    "MERGE INTO semantics: keyed full-outer join classifying " +
      "insert/update/delete/keep, deletes dropped from the merged state " +
      "— one shuffle per side, the lakehouse upsert shape")

  // ------------------------------------------------- corpus overlap
  private val qCorpusOverlap = Q(
    "q_corpus_overlap",
    (s, d) => {
      // Corpus-level similarity: exact 3-gram-set Jaccard + both-way
      // containments between two (deliberately overlapping) corpus
      // slices — the "how much of corpus B is already in corpus A"
      // question a mixture designer asks before adding a source.
      // Distinct gram sets shuffle once each; all three measures come
      // from one full-outer join via membership flags, no second pass.
      // (Token grain saturates on this synthetic vocab — every slice
      // contains all ~31 tokens — so the gram grain is the informative
      // one.)
      def grams(f: org.apache.spark.sql.Column) =
        documents(s, d).filter(f)
          .select(explode(graft.ext.TextAnalysis.wordNgramsExpr("text", 3))
            .as("tok")).distinct()
      val a = grams(col("doc_id") % 3 =!= 0).withColumn("in_a", lit(1))
      val b = grams(col("doc_id") % 2 =!= 0).withColumn("in_b", lit(1))
      a.join(b, Seq("tok"), "full_outer")
        .agg(
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
            .as("n_common"),
          sum(when(col("in_a") === 1, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("in_b") === 1, 1L).otherwise(0L)).as("n_b"),
          count(lit(1)).as("n_union"))
        .select(col("n_common"), col("n_a"), col("n_b"), col("n_union"),
          (col("n_common").cast("double") / col("n_union")).as("jaccard"),
          (col("n_common").cast("double") / col("n_a")).as("containment_a"),
          (col("n_common").cast("double") / col("n_b")).as("containment_b"))
    },
    Some("""WITH af AS (
              SELECT DISTINCT unnest(list_transform(
                       generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                     AS tok
              FROM (SELECT string_split(text, ' ') AS toks FROM documents
                    WHERE doc_id % 3 <> 0
                      AND len(string_split(text, ' ')) >= 3)),
            bf AS (
              SELECT DISTINCT unnest(list_transform(
                       generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                     AS tok
              FROM (SELECT string_split(text, ' ') AS toks FROM documents
                    WHERE doc_id % 2 <> 0
                      AND len(string_split(text, ' ')) >= 3)),
            j AS (
              SELECT count(*) FILTER (WHERE af.tok IS NOT NULL
                                        AND bf.tok IS NOT NULL) AS n_common,
                     count(*) FILTER (WHERE af.tok IS NOT NULL) AS n_a,
                     count(*) FILTER (WHERE bf.tok IS NOT NULL) AS n_b,
                     count(*) AS n_union
              FROM af FULL OUTER JOIN bf ON af.tok = bf.tok)
            SELECT n_common, n_a, n_b, n_union,
                   CAST(n_common AS DOUBLE) / n_union AS jaccard,
                   CAST(n_common AS DOUBLE) / n_a AS containment_a,
                   CAST(n_common AS DOUBLE) / n_b AS containment_b
            FROM j"""),
    "corpus-level exact 3-gram-set Jaccard + both-way containment " +
      "between overlapping corpus slices — one distinct per side, one " +
      "full-outer join, all three measures from membership flags")

  private val qCorpusOverlapEst = Q(
    "q_corpus_overlap_est",
    (s, d) => {
      // The 100 TB form of q_corpus_overlap: a CORPUS-LEVEL MinHash
      // sketch per slice — component-wise min over every document's
      // signature, i.e. the signature of the union shingle set. min is
      // associative/commutative, so the sketch is MERGEABLE: kilobytes
      // per corpus, combinable across shards/days without re-reading
      // text (the HLL-shards discipline for set similarity). Estimated
      // Jaccard = fraction of agreeing components. Rows-only (a sketch
      // estimate); q_corpus_overlap is the exact anchor and
      // AnalyticsSpec bounds the estimate against it.
      def sketch(f: org.apache.spark.sql.Column, name: String) =
        documents(s, d).filter(f)
          .select(posexplode(graft.functions.MinHashText
            .minhash_word_shingles(col("text"), 3, 128)).as(Seq("pos", "h")))
          .groupBy("pos").agg(min(col("h")).as(name))
      sketch(col("doc_id") % 3 =!= 0, "ha")
        .join(sketch(col("doc_id") % 2 =!= 0, "hb"), "pos")
        .agg(
          sum(when(col("ha") === col("hb"), 1L).otherwise(0L)).as("n_agree"),
          count(lit(1)).as("k"))
        .select(col("n_agree"), col("k"),
          (col("n_agree").cast("double") / col("k")).as("est_jaccard"))
    },
    None, // sketch estimate (engine-specific hash family); exact anchor
    // is q_corpus_overlap, and AnalyticsSpec pins |est - exact| on the
    // same slice pair
    "corpus-level MinHash sketch overlap estimate: component-wise min " +
      "over doc signatures = union-set signature (mergeable, kilobytes " +
      "per corpus) — the sketch form of q_corpus_overlap")

  // -------------------------------------------- entropy / KL divergence
  private val qDivergence = Q(
    "q_divergence",
    (s, d) => {
      // Per-source information profile: token entropy and KL divergence
      // from the corpus distribution — the "is this source distributionally
      // anomalous" mixture-design signal. All probabilities come from
      // EXACT counts (one corpus-sized (source, tok) aggregate; the
      // per-source and per-token totals are dim-bounded rollups of it);
      // the transcendental finish is summed in double and rounded to 6 dp
      // (31-term sums, ulp-level order noise ≪ the rounding grain — the
      // q_fuzzy_join discipline).
      val st = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      val stot = st.groupBy("source").agg(sum(col("n")).as("ns"))
      val ct = st.groupBy("tok").agg(sum(col("n")).as("nc"))
      val ctot = ct.agg(sum(col("nc")).as("nall"))
      val p = col("n").cast("double") / col("ns")
      val q = col("nc").cast("double") / col("nall")
      st.join(broadcast(stot), "source")
        .join(ct, "tok")
        .crossJoin(broadcast(ctot))
        .groupBy("source")
        .agg(
          round(-sum(p * log(p)), 6).as("entropy"),
          round(sum(p * log(p / q)), 6).as("kl_vs_corpus"))
        .orderBy("source")
    },
    Some("""WITH toks AS (
              SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            t2 AS (SELECT source, tok FROM toks WHERE tok <> ''),
            st AS (SELECT source, tok, count(*) AS n FROM t2 GROUP BY 1, 2),
            stot AS (SELECT source, sum(n) AS ns FROM st GROUP BY 1),
            ct AS (SELECT tok, sum(n) AS nc FROM st GROUP BY 1),
            ctot AS (SELECT sum(nc) AS nall FROM ct)
            SELECT source,
                   round(-sum((CAST(n AS DOUBLE)/ns)
                              * ln(CAST(n AS DOUBLE)/ns)), 6) AS entropy,
                   round(sum((CAST(n AS DOUBLE)/ns)
                             * ln((CAST(n AS DOUBLE)/ns)
                                  / (CAST(nc AS DOUBLE)/nall))), 6)
                     AS kl_vs_corpus
            FROM st JOIN stot USING (source) JOIN ct USING (tok)
            CROSS JOIN ctot
            GROUP BY source ORDER BY source"""),
    "per-source token entropy + KL divergence vs the corpus distribution " +
      "— exact-count probabilities, transcendental finish rounded before " +
      "compare; the distributional-anomaly signal for mixture design")

  // ----------------------------------------------- approx quantile twin
  private val qQuantilesApprox = Q(
    "q_quantiles_approx",
    (s, d) =>
      // The sketch form of q_quantiles: approx_percentile's mergeable
      // quantile summary (KLL-family) — at 100 TB the exact interpolated
      // percentile needs a global sort, the sketch needs one map-side-
      // combined aggregate shipping kilobyte summaries. Rows-only
      // (approximate by definition); q_quantiles is the exact twin, and
      // accuracy=10000 bounds rank error at 1/10000.
      // Scalarized: one (event_type, q_ppm, approx_value) row per
      // quartile — array cells are ungradeable by the oracle comparator.
      events(s, d)
        .groupBy("event_type")
        .agg(expr("approx_percentile(value, array(0.25, 0.5, 0.75), 10000)")
          .as("qs"))
        .select(col("event_type"), posexplode(col("qs")).as(Seq("p", "approx_value")))
        .select(col("event_type"),
          ((col("p") + 1) * 250000L).cast("long").as("q_ppm"),
          col("approx_value"))
        .orderBy("event_type", "q_ppm"),
    None, // sketch estimate; exact anchor q_quantiles (same quartile set
    // computed exactly and oracle-checked)
    "mergeable approximate quantile sketch per group (approx_percentile " +
      "accuracy=10000) — the 100 TB form of q_quantiles, which anchors it")

  // -------------------------------------------- RANGE-interval frames
  private val qWindowRange = Q(
    "q_window_range",
    (s, d) => {
      // Event-time rolling aggregate via a RANGE frame (value-based: all
      // events within the trailing hour, however many rows that is) —
      // the windowed-rows twin q_window_frame can't express. Ordered on
      // integer microseconds so the frame bound is the same literal in
      // both engines; peers (equal timestamps) aggregate together by
      // RANGE semantics, identically.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600000000L, 0L)
      events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          dec(col("value")).as("v"))
        .withColumn("rolling_1h", sum(col("v")).over(w).cast("double"))
        .select("user_id", "event_id", "us", "rolling_1h")
        .orderBy("user_id", "us", "event_id")
    },
    Some("""SELECT user_id, event_id, us,
                   CAST(sum(v) OVER (
                     PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS rolling_1h
            FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
                         CAST(value AS DECIMAL(18,2)) AS v
                  FROM events)
            ORDER BY user_id, us, event_id"""),
    "event-time rolling sum over a RANGE frame (trailing hour by VALUE, " +
      "not row count) — decimal-exact, peers aggregate together")

  // ------------------------------------------------- LATERAL subquery
  private val qLateralTopk = Q(
    "q_lateral_topk",
    (s, d) => {
      // Correlated LATERAL subquery (top-3 customers per nation) —
      // written through spark.sql because LATERAL is SQL-only surface;
      // Catalyst decorrelates the correlated ORDER BY ... LIMIT into a
      // per-key window group limit, so the plan is the same rank-1
      // pattern q_window_rank declares, reached from the other syntax.
      customer(s, d).createOrReplaceTempView("customer_lat")
      nation(s, d).createOrReplaceTempView("nation_lat")
      s.sql("""SELECT n_name, c_name, c_acctbal
               FROM nation_lat,
               LATERAL (SELECT c_name, c_acctbal FROM customer_lat
                        WHERE c_nationkey = n_nationkey
                        ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
               ORDER BY n_name, c_acctbal DESC, c_name""")
    },
    Some("""SELECT n_name, c_name, c_acctbal
            FROM nation,
            LATERAL (SELECT c_name, c_acctbal FROM customer
                     WHERE c_nationkey = n_nationkey
                     ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
            ORDER BY n_name, c_acctbal DESC, c_name"""),
    "correlated LATERAL top-k subquery — decorrelated by Catalyst to the " +
      "per-key group-limit plan; completes the subquery-surface family")

  // ------------------------------------------------------------ UNPIVOT
  private val qUnpivot = Q(
    "q_unpivot",
    (s, d) =>
      // wide→long melt (the inverse of q_pivot): part metrics unpivoted
      // to (metric, val) rows — map-only, output = rows × metrics.
      part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("size_v"),
          col("p_retailprice").as("price_v"))
        .unpivot(Array(col("p_partkey")), Array(col("size_v"), col("price_v")),
          "metric", "val")
        .orderBy("p_partkey", "metric"),
    Some("""SELECT p_partkey, metric, val
            FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_v,
                         p_retailprice AS price_v FROM part)
            UNPIVOT (val FOR metric IN (size_v, price_v))
            ORDER BY p_partkey, metric"""),
    "UNPIVOT wide→long melt (inverse of q_pivot) — map-only row " +
      "explosion, schema-dynamic")

  // ------------------------------------- custom-state streaming (FMGWS)
  private val qStreamStateful = Q(
    "q_stream_stateful",
    (s, d) => {
      // flatMapGroupsWithState through the bounded-replay harness: the
      // custom-state API (previously unit-tested only) promoted to the
      // oracle gate. Per-key running count/sum in update mode emits one
      // row per key per micro-batch; the LAST update per key (max n —
      // n is monotone) is the final state, which must equal the batch
      // GROUP BY — robust to however many micro-batches the replay
      // splits into. Values are pre-quantized to exact integer
      // ten-thousandths (the fixed-point discipline): the Double state
      // accumulates exact-in-double integers, so the final sums are
      // bit-identical regardless of state-merge order or engine.
      val name = s"graft_stream_stateful_${RelationalQueries.streamRuns.incrementAndGet()}"
      import s.implicits._
      val ev = RelationalQueries.streamEvents(s, d)
        .select(col("user_id").as("key"), col("ts"),
          floor(col("value") * lit(10000.0)).as("value"))
        .as[graft.streaming.Stateful.KeyedEvent]
      val agg = graft.streaming.Stateful.runningStats(ev).toDF()
      RelationalQueries.boundedReplay(s, name, agg, "update",
        RelationalQueries.stateWidthFor(s, d, "events"))
        .groupBy(col("key").as("user_id"))
        .agg(max(struct(col("n"), col("sum"))).as("fin"))
        .select(col("user_id"), col("fin.n").as("n"),
          (col("fin.sum") / lit(10000.0)).as("sum_value"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, count(*) AS n,
                   sum(floor(value * 10000.0)) / 10000.0 AS sum_value
            FROM events GROUP BY user_id ORDER BY user_id"""),
    "flatMapGroupsWithState running per-key stats through bounded " +
      "replay — final state hash-equal to the batch GROUP BY; promotes " +
      "the custom-state streaming API into the oracle gate")

  // -------------------------------------- append-mode watermark close
  private val qStreamAppend = Q(
    "q_stream_append",
    (s, d) => {
      // APPEND output mode: a window emits exactly once, when the
      // watermark passes its end — the finalize-and-never-revise
      // semantics production sinks rely on (complete mode, which the
      // other q_stream_* use, re-emits everything). On bounded replay
      // the final watermark is max(event ts) − delay, so the last
      // still-open window is withheld — and the oracle states that
      // cutoff explicitly: windows with end ≤ max(ts) − 30 min. This
      // pins Spark's append/watermark contract cross-engine, not just
      // the aggregation values.
      val name = s"graft_stream_append_${RelationalQueries.streamRuns.incrementAndGet()}"
      val ev = RelationalQueries.streamEvents(s, d)
        .withColumn("value", dec(col("value")))
      val agg = graft.streaming.StreamOps
        .tumblingCounts(ev, "ts", "event_type", "1 hour", "30 minutes")
      RelationalQueries.boundedReplay(s, name, agg, "append",
        RelationalQueries.stateWidthFor(s, d, "events"))
        .select(col("w_start").as("h"), col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("h", "event_type")
    },
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
                   count(*) AS n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2
            HAVING h + INTERVAL 1 HOUR
                 <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM events)
            ORDER BY h, event_type"""),
    "append-mode tumbling windows: emit-once-on-watermark-close " +
      "semantics, with the withheld still-open window stated explicitly " +
      "in the oracle's cutoff — pins the watermark contract cross-engine")

  // --------------------------------- stream-stream LEFT OUTER join
  private val qStreamJoinOuter = Q(
    "q_stream_join_outer",
    (s, d) => {
      // LEFT OUTER stream-stream interval join: every click, matched to
      // same-user purchases within 10 minutes — and clicks with NO such
      // purchase emitted null-matched once the watermark proves no match
      // can still arrive. The oracle replays BOTH halves: the batch
      // interval join, plus unmatched clicks GATED BY THE FINAL
      // WATERMARK (min of both sides' max ts, minus the 30-minute
      // delay): a click whose 10-minute horizon hasn't closed under that
      // watermark is withheld by Spark and must be absent from the
      // oracle too. This pins the outer-join state-eviction contract,
      // not just the matched values.
      val name = s"graft_stream_join_outer_${RelationalQueries.streamRuns.incrementAndGet()}"
      def side(eventType: String, prefix: String) =
        RelationalQueries.streamEvents(s, d)
          .filter(col("event_type") === eventType)
          .select(col("user_id"),
            col("event_id").as(s"${prefix}_id"), col("ts").as(s"${prefix}_ts"))
      val joined = graft.streaming.StreamOps.intervalJoinOuter(
        side("click", "l"), side("purchase", "r"),
        "user_id", "l_ts", "r_ts", "30 minutes", "10 minutes")
      // the LEFT key survives null-extension (l alias); -1 marks the
      // no-match rows so the output schema stays non-null long
      val j2 = joined.select(col("l.user_id").as("user_id"), col("l_id"),
        coalesce(col("r_id"), lit(-1L)).as("r_id"))
      RelationalQueries.boundedReplay(s, name, j2, "append",
        statePartitions = RelationalQueries.stateWidthFor(s, d, "events"))
        .orderBy("user_id", "l_id", "r_id")
    },
    Some("""WITH clicks AS (
              SELECT user_id, event_id AS l_id, epoch_us(ts) AS l_us
              FROM events WHERE event_type = 'click'),
            purchases AS (
              SELECT user_id, event_id AS r_id, epoch_us(ts) AS r_us
              FROM events WHERE event_type = 'purchase'),
            wm AS (
              SELECT least((SELECT max(l_us) FROM clicks),
                           (SELECT max(r_us) FROM purchases))
                     - 1800000000 AS wm_us),
            matched AS (
              SELECT c.user_id, c.l_id, p.r_id
              FROM clicks c JOIN purchases p
                ON p.user_id = c.user_id
               AND p.r_us >= c.l_us AND p.r_us <= c.l_us + 600000000),
            unmatched AS (
              SELECT c.user_id, c.l_id, -1 AS r_id
              FROM clicks c CROSS JOIN wm
              WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.l_id = c.l_id)
                AND c.l_us + 600000000 < wm.wm_us)
            SELECT user_id, l_id, r_id FROM matched
            UNION ALL
            SELECT user_id, l_id, r_id FROM unmatched
            ORDER BY user_id, l_id, r_id"""),
    "LEFT OUTER stream-stream interval join: matched rows plus " +
      "null-extended unmatched clicks gated by the final watermark — " +
      "the outer state-eviction contract replayed exactly in the oracle")

  // ----------------------------------- multiset set-ops + null-safe join
  private val qExceptAll = Q(
    "q_except_all",
    (s, d) =>
      // MULTISET difference (bag semantics): each occurrence subtracts
      // one — the q_except twin that preserves duplicates, which is what
      // reconciliation over fact tables actually needs (three identical
      // rows minus one = two, not zero).
      lineitem(s, d).select(col("l_orderkey").as("okey"))
        .exceptAll(
          lineitem(s, d).filter(col("l_quantity") >= 25)
            .select(col("l_orderkey").as("okey")))
        .groupBy("okey").agg(count(lit(1)).as("n"))
        .orderBy("okey"),
    Some("""SELECT okey, count(*) AS n FROM (
              SELECT l_orderkey AS okey FROM lineitem
              EXCEPT ALL
              SELECT l_orderkey AS okey FROM lineitem WHERE l_quantity >= 25)
            GROUP BY okey ORDER BY okey"""),
    "EXCEPT ALL multiset difference (duplicates preserved) — the bag " +
      "semantics reconciliation needs; grouped for a stable compare")

  private val qIntersectAll = Q(
    "q_intersect_all",
    (s, d) =>
      // MULTISET intersection: min(multiplicity) per value across the
      // two sides — the other half of the bag-semantics pair.
      lineitem(s, d).filter(col("l_quantity") >= 20)
        .select(col("l_orderkey").as("okey"))
        .intersectAll(
          lineitem(s, d).filter(col("l_discount") >= 0.03)
            .select(col("l_orderkey").as("okey")))
        .groupBy("okey").agg(count(lit(1)).as("n"))
        .orderBy("okey"),
    Some("""SELECT okey, count(*) AS n FROM (
              SELECT l_orderkey AS okey FROM lineitem WHERE l_quantity >= 20
              INTERSECT ALL
              SELECT l_orderkey AS okey FROM lineitem WHERE l_discount >= 0.03)
            GROUP BY okey ORDER BY okey"""),
    "INTERSECT ALL multiset intersection (min multiplicity per value) — " +
      "completes the bag-semantics set-op pair")

  private val qNullSafeJoin = Q(
    "q_null_safe_join",
    (s, d) => {
      // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
      // MATCH each other — the semantics CDC reconciliation needs when
      // the join key is nullable. Derived nullable keys on both sides so
      // the NULL bucket is exercised — SPARSELY (every 97th order): NULL
      // is one shared join key, so its bucket is a planted hot key whose
      // cost is |nullA|×|nullB|; a production-nullable key wants exactly
      // this guard (or the salted-join path) before a <=> join.
      val a = orders(s, d).select(
        when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey") % 1000).as("k"),
        col("o_orderkey"))
      val b = customer(s, d).select(
        when(col("c_custkey") % 101 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey") % 1000).as("k2"),
        col("c_custkey"))
      a.join(b, col("k") <=> col("k2"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_cust"))
        .select(coalesce(col("k"), lit(-1L)).as("k"), col("n_pairs"), col("n_cust"))
        .orderBy("k")
    },
    Some("""SELECT coalesce(k, -1) AS k, count(*) AS n_pairs,
                   count(DISTINCT c_custkey) AS n_cust
            FROM (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                              ELSE o_custkey % 1000 END AS k, o_orderkey
                  FROM orders) a
            JOIN (SELECT CASE WHEN c_custkey % 101 = 0 THEN NULL
                              ELSE c_custkey % 1000 END AS k2, c_custkey
                  FROM customer) b
              ON a.k IS NOT DISTINCT FROM b.k2
            GROUP BY a.k ORDER BY k"""),
    "null-safe equality join (<=>): NULL keys match each other — the " +
      "nullable-key reconciliation semantics, NULL bucket exercised")

  // --------------------------------------------- MMR diversified top-k
  /** Unrolled greedy replay of [[graft.ext.Mmr.diversifiedTopK]]: k−1
    * rounds of penalty-max + argmax CTEs over the same integer-exact dot
    * products.
    */
  private def mmrOracleSql(k: Int, poolSize: Int, dim: Int): String = {
    val quant =
      "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT))"
    def dot(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
        s"j -> CAST($a[j] AS DOUBLE)*$b[j])) AS BIGINT)"
    val head =
      s"""WITH qv AS (SELECT $quant AS v FROM embeddings WHERE vec_id = 0),
         |pool AS (
         |  SELECT vec_id, ev AS v, ${dot("ev", "q.v")} AS rel
         |  FROM (SELECT vec_id, $quant AS ev FROM embeddings
         |        WHERE vec_id <> 0) e
         |  CROSS JOIN qv q
         |  ORDER BY rel DESC, vec_id LIMIT $poolSize),
         |sel1 AS (SELECT vec_id, v, rel, CAST(0 AS BIGINT) AS penalty,
         |                CAST(1 AS BIGINT) AS rank
         |         FROM pool ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
    val rounds = (2 to k).map { n =>
      s""",
         |p$n AS (
         |  SELECT p.vec_id, p.v, p.rel, max(${dot("p.v", "s.v")}) AS pen
         |  FROM pool p CROSS JOIN sel${n - 1} s
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${n - 1})
         |  GROUP BY p.vec_id, p.v, p.rel),
         |s$n AS (SELECT vec_id, v, rel, pen AS penalty,
         |               CAST($n AS BIGINT) AS rank
         |        FROM p$n ORDER BY (rel - pen) DESC, vec_id LIMIT 1),
         |sel$n AS (SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM s$n)""".stripMargin
    }.mkString
    s"$head$rounds\nSELECT rank, vec_id, rel, penalty FROM sel$k ORDER BY rank"
  }

  private val qSimMmr = Q(
    "q_sim_mmr",
    (s, d) => {
      // MMR diversified retrieval: top-5 for the vec_id-0 query from a
      // top-50 candidate pool, greedily penalizing similarity to what's
      // already picked. Integer-exact quantized dot products (the
      // fixed-point discipline) make the greedy path — including its
      // ties — bit-identical to the unrolled DuckDB replay; the
      // distributed stage is the corpus scoring + TakeOrdered pool, the
      // greedy runs over the bounded rerank set.
      val emb = embeddings(s, d)
      val q = Plants.queryVector(emb)
      graft.ext.Mmr.diversifiedTopK(s, emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, k = 5, poolSize = 50)
    },
    Some(mmrOracleSql(k = 5, poolSize = 50, dim = 64)),
    "MMR diversified top-k (relevance minus max-similarity-to-selected, " +
      "λ=0.5) in exact integer arithmetic — greedy path hash-identical " +
      "to the unrolled oracle; the serve-side counterpart of SemDeDup")

  // ------------------------------------------------- recursive CTE
  private val recursiveTreeSql =
    """WITH RECURSIVE tree(custkey, level, chain_bal) AS (
      |  SELECT c_custkey, CAST(0 AS BIGINT), CAST(c_acctbal AS DECIMAL(18,2))
      |  FROM customer WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT c.c_custkey, t.level + 1,
      |         CAST(t.chain_bal + CAST(c.c_acctbal AS DECIMAL(18,2))
      |              AS DECIMAL(18,2))
      |  FROM tree t JOIN customer c
      |    ON c.c_custkey = 2*t.custkey OR c.c_custkey = 2*t.custkey + 1
      |  WHERE t.level < 12)
      |SELECT custkey, level, CAST(chain_bal AS DOUBLE) AS chain_bal
      |FROM tree ORDER BY custkey""".stripMargin

  private val qRecursiveCte = Q(
    "q_recursive_cte",
    (s, d) => {
      // Spark 4's NATIVE recursive CTE (SPARK-24497): a hierarchy walk
      // over the implicit binary tree parent(c)=c div 2, accumulating
      // root-to-node decimal-exact balance chains. UNION ALL recursion
      // is exact here because a tree reaches each node once (Spark does
      // not yet support UNION-dedup recursion — cyclic fixpoints remain
      // the iterative-DataFrame loops: shortestPaths/pageRank/kCore).
      // The SAME SQL text runs in DuckDB — engine parity at the dialect
      // level, not just the result level.
      //
      // Round-17 session-tuning attempt, measured and NOT shipped: the
      // BenchOne profile shows the cost is 13 UnionLoop iterations of
      // sub-50 ms jobs — per-job scheduling floor, not shuffle or state.
      // A direct-conf matrix looked promising (3-rep floors, sf0.1:
      // AQE+32 parts 2.47 s; AQE off+32 2.94; AQE+4 2.27; AQE off+4
      // 2.09) but neither graph-loop treatment reproduced it on the
      // same harness minutes later — leased clone + AQE off + width 4 +
      // localCheckpoint: 2.50; shared forPurpose clone, lazy: 2.72 —
      // the clone/view/materialization overhead eats the conf delta and
      // the 2.1–2.9 spread is box weather. Every exchange here carries
      // ≤ 2^13−1 tree rows regardless of corpus size, so there is no
      // scale risk being left on the table; kept on the caller session.
      customer(s, d).createOrReplaceTempView("customer")
      s.sql(recursiveTreeSql) // literally the oracle text
    },
    Some(recursiveTreeSql),
    "native recursive CTE (Spark 4 WITH RECURSIVE): binary-tree " +
      "hierarchy walk with decimal-exact chain accumulation — the " +
      "identical SQL text runs in both engines")

  def all: Seq[Q] = Seq(qKmeans, qShortestPath, qScd2, qKAnonymity,
    qStreamEnrich, qBlocklist, qWordpieceVocab, qWordpieceTokens,
    qWordpieceAnchor,
    qSampleWeighted, qCurriculum, qRegression, qMergeUpsert, qCorpusOverlap,
    qCorpusOverlapEst, qDivergence, qQuantilesApprox, qWindowRange,
    qLateralTopk, qUnpivot, qStreamStateful, qStreamAppend, qStreamJoinOuter,
    qExceptAll, qIntersectAll, qNullSafeJoin, qSimMmr, qRecursiveCte,
    qVariant, qSqlUdf, qSqlTableUdf)

  // --------------------------------------------------- VARIANT columns
  private val qVariant = Q(
    "q_variant",
    (s, d) =>
      // Spark 4's VARIANT type (open semi-structured storage): parse the
      // JSON props column once into a variant, extract typed paths with
      // variant_get, aggregate — the schema-on-read path for
      // heterogeneous metadata columns at lake scale (binary variant
      // encoding scans ~an order faster than re-parsing JSON text per
      // access). The oracle replays the same paths with DuckDB's JSON
      // extraction over the raw strings — value parity across the two
      // representations.
      events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type"""),
    "VARIANT semi-structured column (Spark 4): parse_json → typed " +
      "variant_get paths → aggregate; oracle replays via DuckDB JSON " +
      "extraction — value parity across representations")

  // ------------------------------------------------------- SQL UDFs
  private val qSqlUdf = Q(
    "q_sql_udf",
    (s, d) => {
      // Declarative SQL UDF (CREATE FUNCTION ... RETURN expr): the
      // engine-native UDF surface that stays INSIDE Catalyst — the body
      // inlines into the plan (codegen, pushdown-eligible), unlike
      // black-box JVM lambdas. The oracle states the inlined expression
      // directly, proving the UDF is pure plan sugar.
      // Exact-decimal discipline: the product stays DECIMAL end-to-end
      // (scale 2×2→4, ×2→6 — each step lossless), the sum is decimal,
      // and DOUBLE appears exactly once at the very end. A
      // decimal→double→decimal round-trip here would re-quantize
      // 6th-decimal "…50" ties HALF_UP (Spark) vs half-even (DuckDB)
      // and drift the sum.
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_charge(
                 price DOUBLE, disc DOUBLE, tax DOUBLE)
               RETURNS DECIMAL(18,6)
               RETURN CAST(CAST(CAST(price AS DECIMAL(18,2))
                                * (CAST(1 AS DECIMAL(18,2)) - CAST(disc AS DECIMAL(18,2)))
                                AS DECIMAL(18,4))
                           * (CAST(1 AS DECIMAL(18,2)) + CAST(tax AS DECIMAL(18,2)))
                           AS DECIMAL(18,6))""")
      lineitem(s, d).createOrReplaceTempView("lineitem_udf")
      s.sql("""SELECT l_returnflag,
                      CAST(sum(graft_charge(l_extendedprice, l_discount, l_tax))
                           AS DOUBLE) AS total_charge,
                      count(*) AS n
               FROM lineitem_udf
               GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   CAST(CAST(sum(CAST(
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                          AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))
                     AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_charge,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    "declarative SQL UDF (CREATE FUNCTION ... RETURN): body inlines into " +
      "the Catalyst plan (codegen/pushdown-eligible); oracle states the " +
      "inlined expression, proving the UDF is plan sugar, not a black box")

  // ------------------------------------------------ SQL table functions
  private val qSqlTableUdf = Q(
    "q_sql_table_udf",
    (s, d) => {
      // SQL TABLE function (RETURNS TABLE ... RETURN SELECT): a
      // parameterized view invocable in FROM position — the declarative
      // UDTF surface (module-stage analog), planned like any subquery.
      // The oracle inlines the body with the same arguments.
      customer(s, d).createOrReplaceTempView("customer_tf")
      // a parameter cannot drive LIMIT (must be a constant expression),
      // so top-k is a rank filter — which the group-limit optimization
      // executes as the same bounded scan anyway
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_top_customers(
                 seg STRING, k INT)
               RETURNS TABLE(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)
               RETURN SELECT c_custkey, c_name, c_acctbal FROM (
                        SELECT c_custkey, c_name, c_acctbal,
                               row_number() OVER (ORDER BY c_acctbal DESC,
                                                  c_custkey) AS rn
                        FROM customer_tf
                        WHERE c_mktsegment = seg)
                      WHERE rn <= k""")
      s.sql("""SELECT * FROM graft_top_customers('BUILDING', 15)
               ORDER BY c_acctbal DESC, c_custkey""")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_mktsegment = 'BUILDING'
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 15"""),
    "SQL TABLE function (parameterized view in FROM position) — the " +
      "declarative UDTF surface; oracle inlines the body with the bound " +
      "arguments")
}
