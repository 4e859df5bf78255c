package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** SQL-surface registration for Spark's OWN Bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain`,
  * spark-catalyst — the machinery behind runtime row-level join
  * filtering). Spark does not expose them in the public function
  * registry, so the engine registers them under `graft_` names rather
  * than re-implementing the sketch: the aggregate builds partial filters
  * per partition and merges them (classic mergeable summary), and the
  * probe side is a codegen'd bit test.
  *
  * Contract notes (inherited from the Spark expressions): the aggregated
  * value must be an XXH64 long (`xxhash64(key)`), the filter argument of
  * the probe must be FOLDABLE (a literal — build the filter, collect the
  * bytes once, embed with `lit`), and `might_contain` has no false
  * negatives — `false` proves absence, `true` needs exact verification.
  */
object BloomExprs {

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_bloom_agg" -> ((es: Seq[Expression]) => {
      require(es.length == 3,
        s"graft_bloom_agg expects 3 arguments (got ${es.length})")
      BloomFilterAggregate(es(0), es(1), es(2),
        mutableAggBufferOffset = 0, inputAggBufferOffset = 0)
    }),
    "graft_bloom_contains" -> ((es: Seq[Expression]) => {
      require(es.length == 2,
        s"graft_bloom_contains expects 2 arguments (got ${es.length})")
      BloomFilterMightContain(es(0), es(1))
    }))

  /** Register in the session (idempotent). */
  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  /** `bloomAgg(xxh64Col, items, bits)` → serialized filter (binary). */
  def bloomAgg(xxh64: Column, estimatedItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", xxh64,
      org.apache.spark.sql.functions.lit(estimatedItems),
      org.apache.spark.sql.functions.lit(numBits))

  /** `mightContain(filter, xxh64Col)` — filter must be foldable. */
  def mightContain(filter: Column, xxh64: Column): Column =
    call_function("graft_bloom_contains", filter, xxh64)

  /** Bloom probe against a BROADCAST filter instead of a plan literal.
    *
    * WHY: Spark's `BloomFilterMightContain` demands a foldable filter, so
    * the serialized sketch rides inside the plan and is re-shipped with
    * every task. Fine for MB-scale filters; at 100 TB corpus scale
    * (~10^10 keys × ~10 bits/key at 1% FP ≈ 12 GB) a plan literal is a
    * non-starter. This expression carries only the `Broadcast` HANDLE in
    * the plan; the bytes move once per executor over torrent broadcast
    * and deserialize lazily executor-side. Same probe semantics as
    * [[mightContain]]: no false negatives, `true` needs verification.
    *
    * LIFETIME: the broadcast must stay valid for as long as any action
    * runs on a plan holding this expression — callers own the handle and
    * may `destroy()` it once the result is materialized; the engine's
    * dedup ops deliberately never unpersist (the returned frames are
    * lazy and re-executable), trading filter-bytes residency per call
    * for replayability. */
  case class BroadcastBloomContains(bf: Broadcast[Array[Byte]],
      child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = BooleanType
    override def inputTypes = Seq(LongType) // AbstractDataType is private[sql]
    override def prettyName: String = "graft_bloom_contains_bc"

    @transient private lazy val filter: BloomFilter =
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(bf.value))

    /** Executor-side probe; also the codegen entry point. */
    def test(v: Long): Boolean = filter.mightContainLong(v)

    override def nullSafeEval(v: Any): Any = test(v.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      // Reference `this` (holds only the small broadcast handle — the
      // filter field is @transient), so codegen stays in the whole-stage
      // span without embedding the sketch bytes in the task binary.
      val ref = ctx.addReferenceObj("graftBloomBc", this,
        classOf[BroadcastBloomContains].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.test($v);")
    }

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }

  /** Probe a broadcast bloom filter: `mightContainBroadcast(bc, xxh64)`. */
  def mightContainBroadcast(bf: Broadcast[Array[Byte]],
      xxh64: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      BroadcastBloomContains(bf,
        org.apache.spark.sql.GraftColumnBridge.expression(xxh64)))
}
