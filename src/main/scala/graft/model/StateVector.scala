package graft.model

import org.apache.spark.sql.types._

/** The OpenSky flight state-vector row (reference scripts/functions.py:73-91;
  * SURVEY.md §1.2): its typed slots, in the order of the positional payload
  * arrays, and the raw payload's schema.
  */
object StateVector {

  /** Target Spark types per positional slot (reference functions.py:73-91). */
  val slots: Seq[(String, DataType)] = Seq(
    "icao24" -> StringType,
    "callsign" -> StringType,
    "origin_country" -> StringType,
    "time_position" -> LongType,
    "last_contact" -> LongType,
    "longitude" -> DoubleType,
    "latitude" -> DoubleType,
    "baro_altitude" -> DoubleType,
    "on_ground" -> BooleanType,
    "velocity" -> DoubleType,
    "true_track" -> DoubleType,
    "vertical_rate" -> DoubleType,
    "sensors" -> ArrayType(IntegerType),
    "geo_altitude" -> DoubleType,
    "squawk" -> StringType,
    "spi" -> BooleanType,
    "position_source" -> IntegerType)

  /** Explicit schema for the raw /api/states/all payload — the rebuild never
    * infers (SURVEY.md §1.3): heterogeneous inner arrays are read as strings
    * and cast positionally, exactly like the reference's inferred shape
    * (functions.py:62,71).
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("time", LongType),
    StructField("states", ArrayType(ArrayType(StringType)))))
}
