package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Catalyst extension point: register the engine's native expressions at
  * session build time so plain SQL can use them —
  *
  *   spark.sql.extensions=graft.spark.GraftExtensions
  *   SELECT simhash64(text), cosine_ff(a.embedding, b.embedding) ...
  *
  * (The Column-level wrappers in graft.functions.GraftFunctions self-register
  * lazily for programmatic use; this class is the spark-submit path.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.Functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
}
