package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test access to `SparkSessionExtensions.registerFunctions`, which is
  * package-private: the step a session build runs to copy the injected
  * functions into its registry.
  */
object ExtensionsRegistry {
  def registerFunctions(e: SparkSessionExtensions,
      registry: FunctionRegistry): FunctionRegistry =
    e.registerFunctions(registry)
}
