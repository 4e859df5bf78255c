package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items sketch as a typed imperative aggregate —
  * the candidate-pruning half of exact heavy-hitter detection at corpus
  * scale. The sketch keeps ≤ k (item, counter) pairs; its guarantee
  * (Misra & Gries 1982, and Agarwal et al. for merges): EVERY item with
  * true frequency > N/k survives in the final sketch. Estimates are
  * merge-order dependent (NOT engine-stable) — so the engine never
  * emits them. The [[graft.ext.TextAnalysis.heavyTerms]] pipeline uses
  * the sketch only to prune the candidate set from |vocabulary| to ≤ k,
  * then re-counts ONLY the candidates exactly (broadcast semi-join +
  * aggregation over the filtered stream) — output exact, oracle-
  * checkable, and the full-vocabulary aggregation never materializes.
  *
  * Buffer is a ≤ 2k-entry open HashMap; map-side partials combine by
  * counter addition followed by decrement-normalization back to k
  * entries (the standard mergeable-summaries construction, error adds
  * across merges but the > N/k survival guarantee is preserved).
  */
object FreqAgg {

  final class Sketch(val k: Int) {
    val counts = new java.util.HashMap[UTF8String, Long](k * 2)
    def add(item: UTF8String, w: Long): Unit = {
      val cur = counts.get(item)
      if (cur != 0L || counts.containsKey(item)) counts.put(item, cur + w)
      else if (counts.size < k) counts.put(item.clone(), w)
      else decrementAll(w)
    }
    private def decrementAll(w: Long): Unit = {
      // subtract the new item's weight from everyone (new item dies with
      // residual 0); drop non-positive counters
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - w
        if (nv <= 0L) it.remove() else e.setValue(nv)
      }
    }
    def shrinkToK(): Unit = {
      if (counts.size <= k) return
      // remove the (size-k) smallest counters and subtract the largest
      // removed value from survivors — one normalization step
      val vals = new Array[Long](counts.size)
      var i = 0
      val vit = counts.values().iterator()
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(counts.size - k - 1)
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - cut
        if (nv <= 0L) it.remove() else e.setValue(nv)
      }
    }
  }

  case class MisraGries(child: Expression, k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Sketch] with ImplicitCastInputTypes {
    require(k >= 1, s"k must be >= 1 (got $k)")

    override def children: Seq[Expression] = Seq(child)
    // non-string SQL arguments coerce (or fail) at analysis time, not as
    // an executor ClassCastException mid-job
    override def inputTypes = Seq(StringType) // AbstractDataType is private[sql]
    override def nullable: Boolean = false
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)

    override def createAggregationBuffer(): Sketch = new Sketch(k)

    override def update(b: Sketch, input: InternalRow): Sketch = {
      val v = child.eval(input)
      if (v != null) b.add(v.asInstanceOf[UTF8String], 1L)
      b
    }

    override def merge(b: Sketch, o: Sketch): Sketch = {
      val it = o.counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cur = b.counts.get(e.getKey)
        if (cur != 0L || b.counts.containsKey(e.getKey))
          b.counts.put(e.getKey, cur + e.getValue)
        else b.counts.put(e.getKey.clone(), e.getValue)
      }
      b.shrinkToK()
      b
    }

    /** Emits the surviving candidate ITEMS only (sorted for a stable
      * presentation) — counters are merge-order noise by construction. */
    override def eval(b: Sketch): Any = {
      val keys = b.counts.keySet().toArray(
        new Array[UTF8String](b.counts.size))
      java.util.Arrays.sort(keys,
        (a: UTF8String, c: UTF8String) => a.compareTo(c))
      new GenericArrayData(keys.map(identity[Any]))
    }

    override def serialize(b: Sketch): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(b.counts.size)
      val it = b.counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val bytes = e.getKey.getBytes
        out.writeInt(bytes.length); out.write(bytes)
        out.writeLong(e.getValue)
      }
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): Sketch = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val b = new Sketch(k)
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val buf = new Array[Byte](len)
        in.readFully(buf)
        b.counts.put(UTF8String.fromBytes(buf), in.readLong())
        i += 1
      }
      b
    }

    override def withNewMutableAggBufferOffset(o: Int): MisraGries =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): MisraGries =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
    override def prettyName: String = "graft_misra_gries"
  }

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_misra_gries" -> ((es: Seq[Expression]) =>
      MisraGries(es.head,
        AggBuilders.literalK("graft_misra_gries", es, arity = 2))))

  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  /** `misraGries(item, k)` → array<string>: candidate frequent items. */
  def misraGries(item: Column, k: Int): Column =
    call_function("graft_misra_gries", item,
      org.apache.spark.sql.functions.lit(k))
}
