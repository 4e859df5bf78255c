package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native correctly-rounded double→DECIMAL quantization.
  *
  * WHY custom: cross-engine hash-exact money sums require quantizing a
  * double from its SHORTEST decimal representation (what DuckDB's
  * double→decimal cast does), not from the exact binary expansion (what
  * Spark's direct double→decimal cast does) — the two disagree by 1 ulp
  * of the target scale on rows where they straddle a rounding boundary,
  * and the divergence surfaces in large sums (see SCALE.md). The
  * `cast(String).cast(Decimal)` formulation is semantically right but
  * formats every double to a UTF8String and re-parses it per row — the
  * direct cause of the round-2 1.4–2× regressions on the money-sum
  * queries (e2/e3/q10/q11).
  *
  * This expression produces bit-identical results to
  * `cast(StringType).cast(DecimalType(precision, scale))` (pinned by a
  * property test in DecimalExprsSpec) in one tight eval:
  *
  *  - FAST PATH (no allocation beyond the result): scale the double by
  *    10^s and round to a long. Sound only when the scaled value is far
  *    enough from a .5 rounding boundary that the FP scaling error —
  *    and the ≤ half-ulp gap between the double's exact binary value and
  *    its shortest decimal repr — cannot change the rounding decision;
  *    the guard band is 32 ulps of the scaled value.
  *  - SLOW PATH (near a boundary, or |scaled| ≥ 2^53): exact
  *    `BigDecimal.valueOf` (= shortest repr via `Double.toString`) +
  *    `setScale(s, HALF_UP)` — the same quantization Spark's
  *    string→decimal cast performs (`Decimal.changePrecision` is
  *    HALF_UP), minus the UTF8String round-trip.
  *
  * Non-finite input and values that overflow the target precision yield
  * null, matching the non-ANSI cast chain. (Under ANSI the old chain
  * THREW on those inputs; null is deliberately chosen instead — at
  * 1000-executor scale one junk row must not kill the job, and the gated
  * money domains never produce such values.)
  */
object DecimalExprs {

  /** `dec_quantize(d, precision, scale)` → decimal(precision, scale). */
  case class DecQuantize(child: Expression, precision: Int, scale: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    require(scale >= 0 && scale <= 18 && precision >= scale,
      s"unsupported decimal($precision,$scale)")

    // analysis-time contract: a non-double argument (e.g. via the SQL
    // surface) gets an implicit cast instead of a per-row CCE at runtime
    override def inputTypes = Seq(DoubleType) // AbstractDataType is private[sql]
    override def dataType: DataType = DecimalType(precision, scale)
    override def nullable: Boolean = true

    private val pow10: Double = math.pow(10d, scale)
    // overflow bound for the fast path: the scaled value must be exactly
    // round-trippable in a long AND fit the declared precision
    private val maxAbs: Double =
      math.min(9.007199254740991e15, // 2^53 - 1
        math.pow(10d, math.min(precision, 18)) - 1d)

    override def nullSafeEval(input: Any): Any =
      quantize(input.asInstanceOf[Double])

    /** Quantize one double; null on non-finite / overflow. Public because
      * the generated code calls it through a reference object. */
    def quantize(d: Double): org.apache.spark.sql.types.Decimal = {
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) {
        null // cast("NaN"/"Infinity" as decimal) → null (non-ANSI)
      } else {
        val y = d * pow10
        val ay = math.abs(y)
        if (ay < maxAbs) {
          val fl = math.floor(y)
          val frac = y - fl
          // distance from the .5 boundary, in units of ulp(y)
          val guard = 32d * math.ulp(ay)
          if (math.abs(frac - 0.5d) > guard) {
            // Math.round is half-toward-+inf; off the boundary it equals
            // HALF_UP, and the guard proves the true shortest-repr value
            // rounds to the same integer.
            org.apache.spark.sql.types.Decimal(
              Math.round(y), precision, scale)
          } else slowPath(d)
        } else slowPath(d)
      }
    }

    private def slowPath(d: Double): org.apache.spark.sql.types.Decimal = {
      val bd = java.math.BigDecimal.valueOf(d) // shortest repr, exact
        .setScale(scale, java.math.RoundingMode.HALF_UP)
      if (bd.precision > precision) null // overflow → null (non-ANSI cast)
      else org.apache.spark.sql.types.Decimal(bd, precision, scale)
    }

    /** Stays inside whole-stage codegen: one virtual call per row through
      * a reference object — no UTF8String round-trip, no fallback that
      * would split the WholeStageCodegen span of the money-sum stage. */
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("decQuantize", this)
      nullSafeCodeGen(ctx, ev, d =>
        s"""
           |${ev.value} = $ref.quantize($d);
           |if (${ev.value} == null) { ${ev.isNull} = true; }
         """.stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dec_quantize" -> ((es: Seq[Expression]) =>
      DecQuantize(es.head,
        es(1).eval().asInstanceOf[Number].intValue(),
        es(2).eval().asInstanceOf[Number].intValue())))

  /** Register in the session (idempotent). */
  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  def decQuantize(c: Column, precision: Int, scale: Int): Column =
    call_function("graft_dec_quantize", c,
      org.apache.spark.sql.functions.lit(precision),
      org.apache.spark.sql.functions.lit(scale))
}
