package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<double>` columns, built from codegen'd
  * higher-order functions (`zip_with`/`aggregate`) — no UDFs, so the
  * whole computation stays inside WholeStageCodegen and never leaves
  * the JVM expression pipeline.
  */
object VectorFunctions {

  /** Sequential-fold dot product: sum_i a[i]*b[i]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision (cast float embeddings with
    * `.cast("array<double>")` first so results match a double oracle).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))
}
