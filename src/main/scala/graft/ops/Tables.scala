package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a runtime parameter so the
  * same plan runs unchanged from sf0.001 (unit tests) to a 100 TB lake — the
  * parquet scans are plain `spark.read.parquet`, so Catalyst pushes filters
  * and prunes columns into the scan regardless of data size.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
