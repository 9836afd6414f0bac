package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, EvalMode, Expression, If, Literal, RegExpReplace, StringSplit, StringTrim}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.model.StateVector

/** OpenSky `/api/states/all` payload parser — the reference's ingest stage
  * (scripts/functions.py:56-114) as a pure, network-free transformation over
  * a Dataset of raw JSON bodies.
  *
  * Differences from the reference, all deliberate (SURVEY.md §7.4):
  *   - explicit payload schema instead of inference (deterministic typing);
  *   - `states: null` → empty output instead of sys.exit (functions.py:64-69);
  *   - callsigns arrive right-padded with spaces → trimmed at ingest (Q7).
  *
  * The HTTP/OAuth half of the reference (functions.py:23-50) is driver-side
  * I/O, not a query operator: it lives in [[OpenSkyLive]] behind the DSv2
  * connector's `mode=live` ([[graft.sources.OpenSkyTableProvider]]).
  */
object OpenSkyParser {

  /** Parse raw JSON response bodies into the 17-column typed state-vector
    * frame (one row per aircraft).
    */
  def parse(raw: Dataset[String]): DataFrame = {
    val parsed = raw.sparkSession.read.schema(StateVector.payloadSchema).json(raw)
    val exploded = parsed
      .filter(col("states").isNotNull)
      .select(col("time"), explode(col("states")).as("state"))
    val cols = StateVector.slots.zipWithIndex.map { case ((name, dt), idx) =>
      GraftBridge.column(
        typedSlot(name, dt, GraftBridge.expression(col("state").getItem(idx)))).as(name)
    }
    exploded.select(cols: _*)
  }

  /** The typing of one positional string slot — the one definition both
    * this parser and the DSv2 reader ([[graft.sources.OpenSkyReader]])
    * evaluate, so the batch, refscale and stream paths agree on every value.
    *
    * Try-casts throughout: Spark 4 runs ANSI mode by default, where a plain
    * cast on a malformed slot would fail the whole job; the reference's
    * semantics (and any sane ingest of third-party data) is cast-to-null.
    * `sensors` is a "[1,2,3]"-style string (reference functions.py:98-107):
    * brackets and whitespace stripped, split on ',', elements cast to int;
    * "[]" is an empty array, not `[null]` (which would invent a sensor).
    * `callsign` arrives right-padded with spaces and is trimmed.
    */
  def typedSlot(name: String, dt: DataType, raw: Expression): Expression = name match {
    case "sensors" =>
      val ids = RegExpReplace(raw, Literal("[\\[\\]\\s]"), Literal(""))
      If(EqualTo(ids, Literal("")),
        Literal(new GenericArrayData(Array.empty[Any]), dt),
        Cast(StringSplit(ids, Literal(","), Literal(-1)), dt, None, EvalMode.TRY))
    case "callsign" => StringTrim(raw)
    case _ => Cast(raw, dt, None, EvalMode.TRY)
  }
}
