package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The `regexp_replace` chains that [[TextKernels.redact]] and
  * [[TextKernels.squeeze_spaces]] replace: the portable RE2-subset spec
  * (the oracle SQL runs the same patterns on DuckDB) the kernels are
  * checked against byte for byte.
  */
object RegexReference {
  val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Url = "https?://[^ ]+"
  val Num = "[0-9]{5,}"

  def redact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text, Email, "<EMAIL>"), Url, "<URL>"), Num, "<NUM>")

  def squeezeSpaces(text: Column): Column = trim(regexp_replace(text, " +", " "))

  def normalize(text: Column): Column = squeezeSpaces(lower(text))
}
