package graft.functions.expressions

import org.apache.spark.sql.SparkSessionExtensions

/** The registration path: ships the engine's native expressions to
  * every session built with
  * `spark.sql.extensions=graft.functions.expressions.GraftExtensions`
  * ([[graft.GraftSession]] sets it; spark-submit / cluster conf in a
  * deployment), `newSession()` clones included. It iterates the same
  * [[GraftFunctions.functions]] table as [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
