package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's public operator API: every operator parameterized over
  * the caller's DataFrame and column names. The `SparkEntry.queries`
  * entries are thin fixture bindings of these.
  *
  * Conventions: ids are LongType, text StringType, embeddings
  * array<float>. Outputs use stable, documented column names. All
  * exact operators are deterministic (ties broken on ids, float
  * reductions in fixed order) so results are reproducible across
  * engines and cluster sizes.
  */
object Graft
  extends GraftTextOps
  with GraftDedupOps
  with GraftStructureOps
  with GraftSignalOps
  with GraftSelectionOps
  // Serializable because per-partition kernels defined in the mixin
  // traits compile to lambdas capturing `this` (the module): executors
  // deserialize the stateless singleton (readResolve keeps identity),
  // where the same lambdas in a flat object would have been static.
  with Serializable
