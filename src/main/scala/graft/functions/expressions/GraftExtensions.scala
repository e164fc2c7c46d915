package graft.functions.expressions

import org.apache.spark.sql.SparkSessionExtensions

/** Production registration surface: ship the engine's native
  * expressions to every session of a deployment via
  * `spark.sql.extensions=graft.functions.expressions.GraftExtensions`
  * (spark-submit / cluster conf), instead of the per-session
  * [[GraftFunctions.register]] call the library entry points make.
  * Both paths iterate the same [[GraftFunctions.functions]] table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
