package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test access to `SparkSessionExtensions.registerFunctions`, which Spark
  * keeps `private[sql]`: the functions an extension injects, registered
  * into a copy of the builtin registry.
  */
object ExtensionsProbe {
  def injectedFunctions(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(FunctionRegistry.builtin.clone())
}
