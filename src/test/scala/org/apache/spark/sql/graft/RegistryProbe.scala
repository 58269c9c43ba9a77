package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Spec-side view of the `private[sql]` function registry: the builder
  * object a session holds under a name, so a spec can tell a re-register
  * (a new builder) from a skipped one (the same builder). */
object RegistryProbe {
  def builder(spark: SparkSession, name: String): Option[AnyRef] =
    spark.sessionState.functionRegistry
      .lookupFunctionBuilder(FunctionIdentifier(name))
}
