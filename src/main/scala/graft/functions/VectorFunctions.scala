package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` / `array<double>` columns.
  *
  * The dot product is a native codegen'd expression
  * (graft.plans.VectorDotProduct) — bit-identical to the declarative
  * `aggregate(zip_with(...))` fold (same order, double accumulation) but
  * ~10x faster, since higher-order-function lambdas are interpreted in
  * Spark. No UDFs; results reproduce in the DuckDB oracle.
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column = graft.plans.VectorDotProduct(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; null-safe only insofar as null arrays
    * propagate null.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))
}
