package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Session-extension entry point: makes graft's codegen'd expressions
  * available to EVERY session of a cluster via configuration —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — the deployment-grade alternative to the per-session
  * `GraftFunctions.register` call (which remains for embedded/test use).
  * Injected at session build time, so SQL-only users (e.g. through the
  * gateway) get every function of `GraftFunctions.expressions`
  * (`rolling_hash`, `vec_dot`, `ngram_shingles`, ...) without any Scala
  * code running first. The gateway's table functions are not injected.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.expressions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getName, name), builder))
    }
}
