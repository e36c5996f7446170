package graft.ext

import org.apache.spark.sql.SparkSession

import graft.sources.IndexTables

/** Write-once/reload lifecycle for the tokenizer model artifacts — the
  * [[Similarity.writeIvfIndex]]/[[Similarity.loadIvfCentroids]] discipline
  * applied to the three trained tokenizers. Training is expensive (a
  * corpus histogram + a driver model loop); serving is a map-only scan
  * with the model as a plan reference object — so the model is written
  * ONCE as a catalog table beside the corpus it tokenizes and reloaded
  * bit-identically by every later serving session. Order columns
  * (`rank`/`piece_id`) make the reload exact: merge RANK is semantic in
  * BPE (apply order), and vocab iteration order feeds deterministic
  * tie-breaks. The tables are written by [[IndexTables]], which also
  * clears a stale catalog entry or location left by an earlier JVM.
  */
object TokenizerStore {

  def writeBpe(spark: SparkSession, merges: Seq[(String, String)],
      table: String): Unit =
    IndexTables.plain(Bpe.mergesDf(spark, merges), table)

  def loadBpe(spark: SparkSession, table: String): Seq[(String, String)] =
    spark.table(table).orderBy("rank")
      .select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  def writeWordPiece(spark: SparkSession, vocab: Seq[String],
      table: String): Unit =
    IndexTables.plain(WordPiece.vocabDf(spark, vocab), table)

  def loadWordPiece(spark: SparkSession, table: String): Seq[String] =
    spark.table(table).orderBy("piece_id")
      .select("piece").collect().map(_.getString(0)).toSeq

  def writeUnigram(spark: SparkSession, pieces: Seq[(String, Double)],
      table: String): Unit =
    IndexTables.plain(Unigram.vocabDf(spark, pieces), table)

  def loadUnigram(spark: SparkSession, table: String): Seq[(String, Double)] =
    spark.table(table).orderBy("rank")
      .select("piece", "log_prob").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
}
