package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native vector expressions for the similarity hot path.
  *
  * WHY custom: `aggregate(zip_with(a, b, _*_), 0d, _+_)` evaluates
  * interpreted per element; per candidate pair that is ~190 boxed
  * expression evals for a 64-dim dot product. This expression does one
  * primitive loop per pair. The summation order is the same sequential
  * left fold, so results are bit-identical to the built-in formulation
  * (and to the DuckDB list_reduce oracles).
  */
object VectorExprs {

  /** `dot_f64(a, b)` → double: sequential dot product of two double
    * arrays. Null if either side is null; arrays shorter than the other
    * are treated up to the common length. */
  case class DotF64(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData].toDoubleArray()
      val ys = b.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(xs.length, ys.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += xs(i) * ys(i); i += 1 }
      java.lang.Double.valueOf(acc)
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): Expression = copy(left = l, right = r)
  }

  /** `sqdist_f64(a, b)` → double: sequential squared Euclidean distance
    * Σ(aᵢ-bᵢ)², same left-fold order as the built-in
    * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0d, _+_)` and the
    * DuckDB `list_reduce` oracle — bit-identical results, one primitive
    * loop instead of ~190 interpreted evals per pair. (Deliberately NOT
    * the |a|²-2a·b+|b|² expansion: that changes the floating-point
    * result and would unpin the k-means oracle.) NULL on a length
    * mismatch — matching the oracle formulation, where `list_zip` pads
    * the shorter list with NULL and the fold yields NULL; a truncated
    * distance would be a confidently wrong answer. */
  case class SqDistF64(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // length mismatch → NULL
    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData].toDoubleArray()
      val ys = b.asInstanceOf[ArrayData].toDoubleArray()
      if (xs.length != ys.length) return null
      var acc = 0.0
      var i = 0
      while (i < xs.length) { val d = xs(i) - ys(i); acc += d * d; i += 1 }
      java.lang.Double.valueOf(acc)
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): Expression = copy(left = l, right = r)
  }

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot_f64" -> ((es: Seq[Expression]) => DotF64(es.head, es(1))),
    "graft_sqdist_f64" -> ((es: Seq[Expression]) =>
      SqDistF64(es.head, es(1))))

  /** Register in the session (idempotent). */
  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  def dotF64(a: Column, b: Column): Column =
    call_function("graft_dot_f64", a, b)
  def sqDistF64(a: Column, b: Column): Column =
    call_function("graft_sqdist_f64", a, b)
}
