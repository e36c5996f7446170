package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a runtime parameter so the
  * same plan runs unchanged from sf0.001 (unit tests) to a 100 TB lake — the
  * parquet scans are plain `spark.read.parquet`, so Catalyst pushes filters
  * and prunes columns into the scan regardless of data size.
  */
object Tables {

  /** `dir/name.parquet`, read with its inferred schema from [[schemas]]
    * when the path is a file: schema inference reads a footer in a Spark
    * job of its own, which the memo runs once per table version instead of
    * once per table reference. A path that cannot be stat'ed, or a
    * directory (whose status does not name its contents), keeps the plain
    * read and its errors.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    inferredSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Inferred parquet schemas, memoized per table version. Owner: this
    * object, on behalf of [[table]]. The key is the file's qualified path,
    * its modification time and length (a rewrite in place is a new entry)
    * and the session confs the inference reads — the parquet schema
    * converter's eight flags (binary as string, INT96 as timestamp, case
    * sensitivity, NTZ inference, nanos as long, field ids, variant and
    * unknown type annotations) and schema merging and summary files — so a
    * session with other settings never gets another session's types.
    * Entries live as long as the JVM; they are bounded by the corpus files
    * it reads, times their versions, times the conf combinations its
    * sessions use.
    */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long, Seq[Boolean]), StructType]

  private def inferredSchema(spark: SparkSession, path: String): Option[StructType] =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    }.toOption.filter(_.isFile).map { st =>
      val c = spark.sessionState.conf
      val confs = Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
        c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
        c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
        c.parquetReaderRespectUnknownTypeAnnotation, c.isParquetSchemaMergingEnabled,
        c.isParquetSchemaRespectSummaries)
      schemas.getOrElseUpdate((st.getPath.toString, st.getModificationTime, st.getLen, confs),
        spark.read.parquet(path).schema)
    }

  /** Collision-safe per-corpus tag for write-once artifact names (bucketed
    * twins, LSH/ANN index tables, scratch dirs): md5-hex of the corpus
    * path. The previous `math.abs(dir.hashCode)` tag could collide across
    * two corpus dirs (32-bit, and `abs(Int.MinValue)` stays negative),
    * silently serving one corpus' write-once artifact to the other.
    */
  def corpusTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)

  /** Trained query models (IVF centroids, PQ and IVF-PQ codebooks, SQ8
    * bounds, BPE merges, WordPiece and unigram vocabularies), memoized per
    * (corpus dir, model, params). Owner: this object, on behalf of the
    * declared queries, which train a model at most once per JVM and
    * serve every later query on that corpus from it — the "train once,
    * serve many" shape of a real deployment. Training is deterministic
    * (seeded init, fixed iterations), so a model is a pure function of
    * its key and a hit never changes an answer. Entries live as long as
    * the JVM; they are bounded by the corpus dirs it serves times the
    * fixed (model, params) keys the catalog declares. Each `model` name
    * is used with one result type.
    */
  private val trainedModels =
    scala.collection.concurrent.TrieMap.empty[(String, String, Seq[Any]), Any]

  private[ops] def trainedModel[M](dir: String, model: String, params: Any*)(
      train: => M): M =
    trainedModels.getOrElseUpdate((dir, model, params), train).asInstanceOf[M]

  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  /** `events.ts` normalization across the corpus generations the driver has
    * shipped: parquet TIMESTAMP(NANOS) surfaces as LONG nanos (under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by Verify/Bench/tests)
    * and is converted with integer division — ns epochs (~1.7e18) overflow
    * double math, so `div`, not `/` — while TIMESTAMP(MICROS) without a
    * timezone surfaces as TIMESTAMP_NTZ and is cast to the session-local
    * TIMESTAMP (all entry points pin the session timezone to UTC, so the
    * cast maps wall-clock to the same instant DuckDB's naive TIMESTAMP
    * arithmetic sees). Downstream `unix_micros`/watermark/window code can
    * then assume a plain TIMESTAMP column in every generation.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType           => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                  => raw
    }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
