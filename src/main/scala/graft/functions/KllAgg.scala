package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** KLL-style adaptive quantile sketch (Karnin, Lang & Liberty 2016,
  * "Optimal quantile approximation in streams") as a typed imperative
  * aggregate — the UNKNOWN-RANGE member of the sketch family. The
  * fixed-width histogram ([[graft.ext.Corpus.histQuantiles]]) needs an
  * a-priori `bucketWidth`, fine for token counts but wrong for metrics
  * whose scale is not known up front (loss values, similarity scores,
  * per-domain spend); KLL bounds RANK error instead of value error and
  * needs no range hint.
  *
  * Structure: a hierarchy of compactors. Level `l` holds items of
  * weight 2^l; when a level overflows its capacity the buffer is
  * sorted and every other item is promoted to level l+1 (weight
  * doubles, total weight is conserved EXACTLY — the sum of 2^l weights
  * always equals the true item count, which is why `n` in the output
  * is exact). Capacity decays geometrically below the top level
  * (cap(l) = max(2, ⌈k·(2/3)^(H−l)⌉)), so total state is O(3k) items
  * regardless of input size. Rank error after compaction is bounded by
  * ~1.75/k of n at k ≥ 64 on real distributions; the engine pins the
  * observed bound per fixture in `SketchGatesSpec` rather than
  * emitting an estimate it can't defend (the [[FreqAgg]] discipline).
  *
  * Determinism: the paper's compaction coin is i.i.d. random; this
  * implementation uses an ALTERNATING offset per sketch (a compaction
  * counter's parity), which conserves weight identically, keeps the
  * one-round rank displacement at ±w/2 like the fair coin, and makes a
  * single-partition build byte-replayable. Across a shuffle the merge
  * ORDER of partial sketches is scheduler-dependent, so — exactly like
  * Spark's own `approx_percentile` interchange — two runs may emit
  * different (equally valid) estimates from the ε-band; gates
  * therefore check rank error, not value equality, once compaction is
  * active, and use the exact regime (n ≤ cap(0), nothing ever
  * compacts → estimates are exact order statistics) where an oracle
  * needs value equality.
  *
  * Mergeable: two sketches merge by level-wise concatenation followed
  * by the same capacity-driven compaction — the property the persisted
  * segment lifecycle ([[graft.ext.Corpus.saveKllSketch]]) is built on.
  * NOT linear: unlike the histogram/CMS counters there is no negation,
  * so the turnstile DELETE lifecycle does not carry over (re-ingest
  * survivors instead); linearity is exactly what the known-range
  * histogram buys.
  */
object KllAgg {

  /** Compactor hierarchy. `levels(l)` holds items of weight 2^l as a
    * growable primitive array (`sizes(l)` of `items(l)` used). */
  final class Sketch(val k: Int) {
    var total: Long = 0L // exact item count == sum of 2^l weights
    var compactions: Long = 0L // parity = deterministic offset coin
    var items: Array[Array[Double]] = Array(new Array[Double](math.max(k, 8)))
    var sizes: Array[Int] = Array(0)

    private def numLevels: Int = sizes.length

    private def cap(l: Int): Int = {
      val h = numLevels - 1
      math.max(2, math.ceil(k * math.pow(2.0 / 3.0, (h - l).toDouble)).toInt)
    }

    private def ensureLevel(l: Int): Unit = {
      while (l >= numLevels) { // merges can jump several levels at once
        items = items :+ new Array[Double](8)
        sizes = sizes :+ 0
      }
    }

    private def push(l: Int, v: Double): Unit = {
      ensureLevel(l)
      if (sizes(l) == items(l).length)
        items(l) = java.util.Arrays.copyOf(items(l), items(l).length * 2)
      items(l)(sizes(l)) = v
      sizes(l) += 1
    }

    def add(v: Double): Unit = {
      push(0, v)
      total += 1
      compactPass()
    }

    /** One bottom-up pass: compact every level at/over capacity.
      * A growing hierarchy shrinks lower-level caps, so re-check from
      * the bottom until quiescent (terminates: each compaction halves
      * a buffer). */
    def compactPass(): Unit = {
      var l = 0
      while (l < numLevels) {
        if (sizes(l) >= cap(l) && sizes(l) >= 2) {
          compactLevel(l)
          l = 0 // a promotion may have grown H and shrunk lower caps
        } else l += 1
      }
    }

    private def compactLevel(l: Int): Unit = {
      val n = sizes(l)
      java.util.Arrays.sort(items(l), 0, n)
      // only an EVEN count compacts (m items of weight w → m/2 items
      // of weight 2w — total weight conserved EXACTLY); on an odd
      // buffer the largest item stays behind at level l
      val m = if (n % 2 == 0) n else n - 1
      val offset = (compactions & 1L).toInt
      compactions += 1
      var i = offset
      while (i < m) {
        push(l + 1, items(l)(i))
        i += 2
      }
      if (m < n) {
        items(l)(0) = items(l)(n - 1)
        sizes(l) = 1
      } else sizes(l) = 0
    }

    /** Re-admit an already-weighted item at its own level (the
      * persisted-segment fold in
      * [[graft.ext.Corpus.compactKllSketch]]); conserves total weight
      * exactly. Call [[compactPass]] once after the batch. */
    def pushWeighted(level: Int, v: Double): Unit = {
      require(level >= 0 && level < 62, s"bad level $level")
      push(level, v)
      total += 1L << level
    }

    /** The sketch's (level, v) item rows, sorted for stable output. */
    def itemRows: Seq[(Int, Double)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      var l = 0
      while (l < sizes.length) {
        var i = 0
        while (i < sizes(l)) { out += ((l, items(l)(i))); i += 1 }
        l += 1
      }
      out.sortBy(identity).toSeq
    }

    def mergeIn(o: Sketch): Unit = {
      var l = 0
      while (l < o.sizes.length) {
        var i = 0
        while (i < o.sizes(l)) {
          push(l, o.items(l)(i))
          i += 1
        }
        l += 1
      }
      total += o.total
      compactions += o.compactions
      compactPass()
    }
  }

  case class KllSketch(child: Expression, k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Sketch] with ImplicitCastInputTypes {
    require(k >= 8, s"k must be >= 8 (got $k)")

    override def children: Seq[Expression] = Seq(child)
    override def inputTypes = Seq(DoubleType)
    override def nullable: Boolean = false
    /** (level, v) per surviving item — weight = 2^level is implied, so
      * the emitted table IS the mergeable segment format the persisted
      * lifecycle stores. */
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("level", IntegerType, nullable = false),
        StructField("v", DoubleType, nullable = false))),
      containsNull = false)

    override def createAggregationBuffer(): Sketch = new Sketch(k)

    override def update(b: Sketch, input: InternalRow): Sketch = {
      val v = child.eval(input)
      if (v != null) b.add(v.asInstanceOf[Double])
      b
    }

    override def merge(b: Sketch, o: Sketch): Sketch = { b.mergeIn(o); b }

    /** Emits (level, v) sorted by (level, v) for stable presentation. */
    override def eval(b: Sketch): Any =
      new GenericArrayData(b.itemRows.map { case (l, v) =>
        InternalRow(l, v)
      }.toArray[Any])

    override def serialize(b: Sketch): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeLong(b.total)
      out.writeLong(b.compactions)
      out.writeInt(b.sizes.length)
      var l = 0
      while (l < b.sizes.length) {
        out.writeInt(b.sizes(l))
        var i = 0
        while (i < b.sizes(l)) { out.writeDouble(b.items(l)(i)); i += 1 }
        l += 1
      }
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): Sketch = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val b = new Sketch(k)
      b.total = in.readLong()
      b.compactions = in.readLong()
      val nl = in.readInt()
      b.items = new Array[Array[Double]](nl)
      b.sizes = new Array[Int](nl)
      var l = 0
      while (l < nl) {
        val n = in.readInt()
        b.sizes(l) = n
        b.items(l) = new Array[Double](math.max(n, 8))
        var i = 0
        while (i < n) { b.items(l)(i) = in.readDouble(); i += 1 }
        l += 1
      }
      b
    }

    override def withNewMutableAggBufferOffset(o: Int): KllSketch =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KllSketch =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
    override def prettyName: String = "graft_kll_sketch"
  }

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_kll_sketch" -> ((es: Seq[Expression]) =>
      KllSketch(es.head,
        AggBuilders.literalK("graft_kll_sketch", es, arity = 2))))

  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  /** `kllSketch(value, k)` → array<struct<level:int, v:double>>: the
    * sketch's surviving weighted items (weight = 2^level). */
  def kllSketch(value: Column, k: Int): Column =
    call_function("graft_kll_sketch", value,
      org.apache.spark.sql.functions.lit(k))
}
