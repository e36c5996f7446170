package graft.stages

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** NDJSON framing — parity with the reference's
  * `pumpify(ndjson.parse(), module, ndjson.serialize())`
  * (`/root/reference/index.js:73`): a `json: true` module stage sees an
  * object stream, and its output is re-serialized to NDJSON lines.
  *
  * Schema handling mirrors ndjson's dynamic typing: with no schema given we
  * infer (an extra pass over the data — paid once per run of json stages,
  * and the scale path passes an explicit [[StructType]] so the parse is a
  * single streaming-friendly `from_json` projection with no inference job).
  *
  * The engine fuses adjacent `json: true` module/inline stages of a `pipe`
  * segment: one [[parse]], the modules applied to the rows in turn, one
  * [[serialize]]. Rows cross the module boundaries as rows, so a module's
  * key order is kept and non-JSON-native types (int, date, timestamp,
  * decimal, binary) reach the next fused module as Spark types, where a
  * serialize/parse boundary would re-infer them from their JSON text.
  */
object NdjsonBridge {

  /** NDJSON lines (`value: string`) → structured DataFrame. */
  def parse(lines: DataFrame, schema: Option[StructType] = None): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val ds: Dataset[String] = lines.select(CommandStage.ValueCol).as[String]
    schema match {
      case Some(st) =>
        ds.toDF(CommandStage.ValueCol)
          .select(from_json(col(CommandStage.ValueCol), st).as("r"))
          .select("r.*")
      case None => spark.read.json(ds)
    }
  }

  /** Structured DataFrame → NDJSON lines (`value: string`). */
  def serialize(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as(CommandStage.ValueCol))
}
