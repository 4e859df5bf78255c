package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Bounded-heap top-k aggregate — the SCALE-superior form of per-group
  * top-k. The window formulation (`row_number` over partition + filter,
  * q09) must SHUFFLE AND SORT every row of every group; this aggregate
  * keeps a k-entry heap per group, combines partially ON THE MAP SIDE
  * like any hash aggregate, and shuffles only k entries per group —
  * at 1M rows/group with k=3 that is the difference between sorting
  * 1M rows and merging 32 three-entry heaps. The trade: it is an
  * aggregate, so the payload must be chosen up front (here: a (score,
  * id) pair; join wide payloads back by id), while the window form
  * carries arbitrary columns for free. Both live in the engine; pick by
  * group size.
  *
  * Ordering contract (total, engine-replicable): score DESC, id ASC on
  * ties — identical to the `row_number` ordering the q09/x45 oracles
  * use. Entries are (double, long); NULL score or id rows are skipped.
  */
object TopKAgg {

  /** Worst-entry-first comparator: the heap root is the entry that top-k
    * evicts first (lowest score; among equal scores, LARGEST id, since
    * id ASC means larger ids lose ties). */
  private val worstFirst: java.util.Comparator[(Double, Long)] =
    (a: (Double, Long), b: (Double, Long)) => {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }

  final class Buf(val k: Int) {
    val heap = new java.util.PriorityQueue[(Double, Long)](k, worstFirst)
    def insert(score: Double, id: Long): Unit = {
      if (heap.size < k) heap.offer((score, id))
      else if (worstFirst.compare((score, id), heap.peek()) > 0) {
        heap.poll(); heap.offer((score, id))
      }
    }
  }

  case class TopKByScore(scoreExpr: Expression, idExpr: Expression, k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Buf] with ImplicitCastInputTypes {
    require(k >= 1, s"k must be >= 1 (got $k)")

    override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
    // SQL callers passing int/decimal get an analysis-time implicit cast
    // (or a clear analysis error), never an executor ClassCastException.
    override def inputTypes = Seq(DoubleType, LongType) // AbstractDataType is private[sql]
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
      containsNull = false)

    override def createAggregationBuffer(): Buf = new Buf(k)

    override def update(b: Buf, input: InternalRow): Buf = {
      val s = scoreExpr.eval(input)
      val i = idExpr.eval(input)
      if (s != null && i != null)
        b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
      b
    }

    override def merge(b: Buf, o: Buf): Buf = {
      val it = o.heap.iterator()
      while (it.hasNext) { val e = it.next(); b.insert(e._1, e._2) }
      b
    }

    override def eval(b: Buf): Any = {
      val arr = b.heap.toArray(new Array[(Double, Long)](b.heap.size))
      // best-first presentation: score DESC, id ASC
      java.util.Arrays.sort(arr, worstFirst.reversed())
      new GenericArrayData(arr.map(e =>
        new GenericInternalRow(Array[Any](e._1, e._2)): Any))
    }

    override def serialize(b: Buf): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(b.heap.size)
      val it = b.heap.iterator()
      while (it.hasNext) {
        val e = it.next(); out.writeDouble(e._1); out.writeLong(e._2)
      }
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): Buf = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val b = new Buf(k)
      var i = 0
      while (i < n) { b.insert(in.readDouble(), in.readLong()); i += 1 }
      b
    }

    override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKByScore =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): Expression =
      copy(scoreExpr = cs(0), idExpr = cs(1))
    override def prettyName: String = "graft_topk_by_score"
  }

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_topk_by_score" -> ((es: Seq[Expression]) =>
      TopKByScore(es.head, es(1),
        AggBuilders.literalK("graft_topk_by_score", es, arity = 3))))

  /** Register in the session (idempotent). */
  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  /** `topKByScore(score, id, k)` → array<struct<score,id>> best-first. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("graft_topk_by_score", score, id,
      org.apache.spark.sql.functions.lit(k))
}
