package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge to the `private[sql]` function-registration surfaces (classic
  * mode): temp-function registration on a live session and the tuple
  * shape SparkSessionExtensions.injectFunction expects.
  */
object FunctionBridge {
  type Builder = Seq[Expression] => Expression

  /** Registers `name` unless the session's registry already holds it
    * (an earlier call, or the injected extension), so a repeated call
    * replaces nothing. */
  def registerTempIfAbsent(spark: SparkSession, name: String,
                           b: Builder): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, exprs => b(exprs), "scala_udf")
  }

  def injectable(name: String, b: Builder)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name),
     new ExpressionInfo("graft", name),
     (exprs: Seq[Expression]) => b(exprs))
}
