package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The one home of the write-once index table layout: every LSH,
  * Hamming, gram, IVF, PQ, IVF-PQ and SQ8 index, every trained tokenizer
  * table and the bucketed fact twins are written, appended and rebuilt
  * here, so the naming, placement, overwrite and append rules cannot
  * drift between them.
  *
  *   - An index's tables are named `${prefix}_${part}` ([[Index]]).
  *   - `basePath` makes them external, each at `basePath/part` (e.g. a
  *     curated-dataset prefix on object storage); None writes managed
  *     tables in the warehouse.
  *   - Every write is parquet with overwrite, after dropping a stale
  *     catalog entry and its location (see [[reset]]).
  *   - The index, not its caller, picks one of three layouts:
  *     [[bucketed]] by key, [[cells]] (partitioned by a coarse cell) or
  *     [[plain]] (a model, parameter or scan-only codes table).
  *   - [[append]] takes the table's layout from the catalog, and
  *     [[ensure]] builds an index once per catalog.
  */
object IndexTables {

  /** The tables of one index: `${prefix}_${part}`, external at
    * `basePath/part` when `basePath` is set.
    */
  final case class Index(prefix: String, basePath: Option[String] = None) {
    def table(part: String): String = s"${prefix}_$part"
    private def location(part: String) = basePath.map(p => s"$p/$part")

    def bucketed(part: String, df: DataFrame, keys: Seq[String], numBuckets: Int): Unit =
      IndexTables.bucketed(df, table(part), keys, numBuckets, location = location(part))

    def cells(part: String, df: DataFrame, cellCol: String): Unit =
      IndexTables.cells(df, table(part), cellCol, location(part))

    def plain(part: String, df: DataFrame): Unit =
      IndexTables.plain(df, table(part), location(part))
  }

  /** Bucketed by `keys`: pre-shuffles once at write time so repeated
    * equi-joins and aggregations on the key run WITHOUT a shuffle — the
    * co-located layout of a probed index and of fact⋈fact twins (write
    * cost is paid once, every later join on the key is exchange-free).
    */
  def bucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      numBuckets: Int,
      sortCol: Option[String] = None,
      location: Option[String] = None): Unit = {
    require(keys.nonEmpty, "bucket keys must be non-empty")
    // repartition on the bucket key first: Spark's bucketed write emits
    // one file per (task × bucket), so writing from arbitrary upstream
    // partitioning costs writers × buckets small files. The repartition
    // uses the same Murmur3 pmod as the bucket id, so each task holds
    // exactly one bucket → one well-sized file per bucket (measured
    // 2048 → 64 on the 8 M-doc LSH band index).
    val w = df.repartition(numBuckets, keys.map(col): _*).write
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    overwrite(df, sortCol.fold(w)(c => w.sortBy(c)), table, location)
  }

  /** Partitioned by `cellCol` (one directory per coarse cell), so a probe
    * with a literal cell set reads only the probed directories.
    */
  def cells(df: DataFrame, table: String, cellCol: String,
      location: Option[String] = None): Unit =
    overwrite(df, rebalanced(df, Seq(cellCol)).write.partitionBy(cellCol),
      table, location)

  /** Neither bucketed nor partitioned: a model or parameter table, or a
    * codes table every query scans whole.
    */
  def plain(df: DataFrame, table: String, location: Option[String] = None): Unit =
    overwrite(df, df.write, table, location)

  /** Append a batch into an EXISTING index table under the table's own
    * layout, read from the catalog: bucket spec, partition columns and
    * column order (partition columns last), so a caller cannot mis-bucket
    * or mis-partition. A mismatched spec is rejected by Spark rather than
    * silently breaking the shuffle-free join or the partition pruning.
    * Each append adds one file per bucket or per touched cell (the same
    * discipline as the initial write); a long-running ingest compacts
    * periodically with [[Sources.compactParquet]] — reads stay correct in
    * between because bucket and partition pruning are by id, not file
    * count.
    */
  def append(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val ordered = df.select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    val parts = meta.partitionColumnNames
    val w = meta.bucketSpec match {
      case Some(b) =>
        val keys = b.bucketColumnNames
        val bw = ordered.repartition(b.numBuckets, keys.map(col): _*).write
          .bucketBy(b.numBuckets, keys.head, keys.tail: _*)
        if (b.sortColumnNames.isEmpty) bw
        else bw.sortBy(b.sortColumnNames.head, b.sortColumnNames.tail: _*)
      case None if parts.nonEmpty =>
        rebalanced(ordered, parts).write.partitionBy(parts: _*)
      case None =>
        throw new IllegalArgumentException(s"$table is neither bucketed nor partitioned")
    }
    w.mode(SaveMode.Append).format("parquet").saveAsTable(table)
  }

  /** Build an index once: run `build` only when the catalog does not
    * serve every one of `tables`. The catalog is the memo — a new
    * SparkContext in the same JVM starts with an empty catalog and so
    * rebuilds, where an in-memory "already built" flag would serve
    * dangling names. Builds are serialized, so two threads never write
    * the same index at once.
    */
  def ensure(spark: SparkSession, tables: String*)(build: => Unit): Unit =
    synchronized { if (!tables.forall(spark.catalog.tableExists)) build }

  // REBALANCE on the partition columns BEFORE a partitioned write:
  // otherwise every input task writes a sliver into every cell directory
  // (writers × cells files) and probes drown in file-open overhead —
  // measured 11.9 s → 1.0 s per probe at 1 M vectors. The rebalance hint
  // (not a plain repartition, which pins each cell to exactly one task)
  // lets AQE both coalesce small cells and SPLIT a skewed hot cell across
  // tasks — real encoder embeddings cluster heavily, and a hot cell
  // written by one straggler task as one giant file would also be read
  // without parallelism at probe time.
  private def rebalanced(df: DataFrame, parts: Seq[String]): DataFrame =
    df.hint("rebalance", parts.map(col): _*)

  private def overwrite(df: DataFrame, w: DataFrameWriter[Row], table: String,
      location: Option[String]): Unit = {
    reset(df.sparkSession, table, location)
    val pw = w.mode(SaveMode.Overwrite).format("parquet")
    location.fold(pw)(p => pw.option("path", p)).saveAsTable(table)
  }

  /** Overwrite-proof create: a crashed or earlier JVM can leave a table's
    * directory behind without its catalog entry, and an overwrite then
    * fails with LOCATION_ALREADY_EXISTS (Spark validates a managed
    * location on CREATE). So drop the entry — resolving its real location
    * from the catalog while it still exists — and delete that location
    * and the one about to be written (`location`, or the managed path,
    * which handles qualified `db.tbl` names), managed or external alike.
    * A failed delete surfaces rather than being swallowed, since the
    * write would fail right after anyway.
    */
  private def reset(spark: SparkSession, table: String,
      location: Option[String]): Unit = {
    val catalog = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val old =
      if (catalog.tableExists(id)) Some(catalog.getTableMetadata(id).location.toString)
      else None
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val target = location.getOrElse(catalog.defaultTablePath(id).toString)
    (old.toSeq :+ target).distinct.foreach { loc =>
      val p = new Path(loc)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p) && !fs.delete(p, true))
        throw new java.io.IOException(s"cannot clear stale location $loc of $table")
    }
  }
}
