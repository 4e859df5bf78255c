package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one place the engine's native functions enter a session's
  * function registry (each family's `register` delegates here). */
object NativeFunctions {

  /** Install each `(name, builder)` the session does not have yet. Ops
    * call their family's `register` on every use, so the name is
    * usually there already — from an earlier call or from
    * [[graft.GraftExtensions]] — and the first entry stays: no
    * registry write and no "replaced a previously registered function"
    * warning per call. */
  def install(spark: SparkSession,
      builders: Seq[(String, Seq[Expression] => Expression)]): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
