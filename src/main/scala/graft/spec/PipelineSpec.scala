package graft.spec

import org.apache.spark.sql.DataFrame
import scala.collection.immutable.ListMap

/** Segment/composition type of a stage — the reference's six composition
  * types (`/root/reference/index.js:140-161`). Consecutive stages of the
  * same type form a segment (`split()`, index.js:94-115).
  */
sealed abstract class SegType(val name: String)
object SegType {
  case object Pipe       extends SegType("pipe")
  case object Run        extends SegType("run")
  case object Fork       extends SegType("fork")
  case object MapTee     extends SegType("map")
  case object Reduce     extends SegType("reduce")
  case object Background extends SegType("background")

  val values: Seq[SegType] = Seq(Pipe, Run, Fork, MapTee, Reduce, Background)

  def parse(s: String): SegType =
    values.find(_.name == s.toLowerCase).getOrElse(
      throw new IllegalArgumentException(s"Unknown stage type: $s " +
        "(reference throws the same way, index.js:160)"))
}

/** One pipeline stage — the reference's stage forms (`index.js:76-92`):
  * shell command, named module, or a programmatic function stage. We
  * implement the *documented* semantics (readme.md:83-111): plain strings
  * are command stages, and `{module, json}` objects are honored (see
  * SURVEY §2.1 discrepancy note on the v2.0.1 `visit()` regression).
  */
sealed trait Stage {
  def segType: SegType
  def json: Boolean
}
object Stage {
  /** Shell command bridged via stdin/stdout (`toStream`, index.js:14-27). */
  final case class Command(
      command: String,
      segType: SegType = SegType.Pipe,
      json: Boolean = false) extends Stage

  /** Named transform resolved from the [[graft.stages.ModuleRegistry]]
    * (`compileModule`, index.js:71-74). `json=true` sandwiches the module
    * between NDJSON parse/serialize, like
    * `pumpify(ndjson.parse(), fn, ndjson.serialize())` (index.js:73).
    * Fusion rule: inside a `pipe` segment, a maximal run of adjacent
    * `json=true` module/inline stages shares ONE parse and ONE serialize,
    * `serialize(fn_k(…fn_1(parse(in))))`; rows pass between the modules as
    * rows, the way ndjson passes objects between through-streams. For
    * JSON-native values this changes no output (parse ∘ serialize = id);
    * a module's key order is kept, and non-JSON-native types (int, date,
    * timestamp, decimal, binary) reach the next fused module as Spark
    * types instead of their re-inferred JSON form. Any other stage between
    * two json stages splits the run.
    */
  final case class Module(
      module: String,
      segType: SegType = SegType.Pipe,
      json: Boolean = false) extends Stage

  /** Programmatic function stage (`index.js:84` — a JS function returning a
    * stream). The DataFrame *is* the composable stream analog.
    */
  final case class Inline(
      name: String,
      fn: DataFrame => DataFrame,
      segType: SegType = SegType.Pipe,
      json: Boolean = false) extends Stage
}

/** Named pipelines — the parsed form of `gasket.json` / the `"gasket"` key
  * of `package.json` (`index.js:214-256`). Insertion order is preserved
  * (pipelines run sequentially in declaration order under `run`,
  * bin.js:138-153).
  */
final case class PipelineSpec(pipelines: ListMap[String, Seq[Stage]]) {

  def list: Seq[String] = pipelines.keys.toSeq
  def has(name: String): Boolean = pipelines.contains(name)

  /** `gasket add` parity (bin.js:94-103): append a plain-string (command)
    * stage, creating the pipeline if absent.
    */
  def add(pipeline: String, script: String): PipelineSpec =
    copy(pipelines = pipelines.updated(pipeline,
      pipelines.getOrElse(pipeline, Nil) :+ Stage.Command(script)))

  /** `gasket rm` parity (bin.js:122-130). */
  def rm(pipeline: String): PipelineSpec =
    copy(pipelines = pipelines - pipeline)

  /** `gasket show` parity (bin.js:105-120): shell-style pretty print. */
  def show(pipeline: String): Option[String] =
    pipelines.get(pipeline).map(_.map {
      case Stage.Command(c, t, _) => if (t == SegType.Pipe) c else s"[${t.name}] $c"
      case Stage.Module(m, t, j)  => s"[module${if (j) ":json" else ""}] $m"
      case Stage.Inline(n, _, t, _) => s"[fn] $n"
    }.mkString(" | "))

  /** `.toJSON()` parity (index.js:208-210): live config serialization used
    * by add/rm to persist. Inline stages serialize as module references.
    */
  def toJson: String = {
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    def stage(st: Stage): String = st match {
      case Stage.Command(c, SegType.Pipe, false) => "\"" + esc(c) + "\""
      case Stage.Command(c, t, j) =>
        s"""{"command": "${esc(c)}", "type": "${t.name}"${if (j) ", \"json\": true" else ""}}"""
      case Stage.Module(m, t, j) =>
        s"""{"module": "${esc(m)}", "type": "${t.name}"${if (j) ", \"json\": true" else ""}}"""
      case Stage.Inline(n, _, t, j) =>
        s"""{"module": "${esc(n)}", "type": "${t.name}"${if (j) ", \"json\": true" else ""}}"""
    }
    pipelines.map { case (k, v) =>
      "\"" + esc(k) + "\": [" + v.map(stage).mkString(", ") + "]"
    }.mkString("{", ", ", "}")
  }
}

object PipelineSpec {
  val empty: PipelineSpec = PipelineSpec(ListMap.empty)

  /** Bare-array sugar: `[stage…]` ≡ `{"main": [stage…]}` (index.js:117-120). */
  def main(stages: Seq[Stage]): PipelineSpec =
    PipelineSpec(ListMap("main" -> stages))
}
