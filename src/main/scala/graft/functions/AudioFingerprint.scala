package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `audio_fingerprint(payload)` — the [[graft.ext.AudioFp]] band-energy
  * fingerprint as a SQL/Column function over a binary column: a 64-bit
  * BIGINT for any decodable WAV-family or FLAC payload, NULL otherwise.
  * With `hamming64` (via xor/bit_count) this makes the whole audio
  * near-dup pipeline expressible from `spark.sql`, matching the text
  * (minhash/simhash) and vector surfaces.
  *
  * The per-row cost is the audio decode itself, so there is nothing to
  * inline beyond the one static call.
  */
object AudioFingerprint {

  /** Boxed bridge for generated code: null = undecodable. */
  def compute(bytes: Array[Byte]): java.lang.Long =
    graft.ext.AudioFp.fingerprint(bytes)
      .map(java.lang.Long.valueOf).orNull

  def audio_fingerprint(payload: Column): Column =
    Bridge.column(AudioFingerprintExpr(Bridge.expression(payload)))
}

case class AudioFingerprintExpr(child: Expression) extends UnaryExpression with Kernel {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"audio_fingerprint requires binary, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "audio_fingerprint"
  def kernel = Kernel.Static(AudioFingerprint, "compute")
  override protected def resultNullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
