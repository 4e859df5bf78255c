package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the text-sketch hot path.
  *
  * WHY custom (SURVEY §7.3): Spark's higher-order functions
  * (`transform`/`aggregate`) evaluate interpreted, per element, and a
  * sub-expression inlined into k lambdas re-evaluates k times. For
  * MinHash (k=64 permutations over ~200 shingles/doc) that is ~13k
  * interpreted expression evals per row — measured 900 s at sf0.1. These
  * expressions do the same work in one tight JVM loop per row (~µs):
  * tokenize once, hash once, sketch in primitive arrays.
  *
  * They are deterministic pure functions (FNV-1a + splitmix64 mixing —
  * public-domain constructions), marked foldable-safe and null-intolerant.
  * CodegenFallback costs one virtual call per row — irrelevant next to
  * the loop it replaces.
  */
object TextHashExprs {

  // ---------------------------------------------------------- hashing

  /** FNV-1a 64-bit over UTF-8 bytes, finalized with splitmix64. */
  private[functions] def hashToken(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    mix(h)
  }

  private[functions] def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private[functions] def tokenize(s: UTF8String): Array[UTF8String] = {
    val trimmed = s.trim()
    // UTF8String.split with a regex pattern delimiter
    trimmed.split(UTF8String.fromString("\\s+"), -1)
  }

  // ------------------------------------------------------ expressions

  /** `shingle_hashes(text, n)` → array<long>: hashes of the distinct word
    * n-gram shingles, first-occurrence order. One pass, one tokenize. */
  case class ShingleHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val m = toks.length - n + 1
      if (m <= 0) return new GenericArrayData(Array.empty[Long])
      val tokHashes = new Array[Long](toks.length)
      var i = 0
      while (i < toks.length) { tokHashes(i) = hashToken(toks(i)); i += 1 }
      val seen = new java.util.HashSet[java.lang.Long](m * 2)
      val out = new Array[Long](m)
      var k = 0
      i = 0
      while (i < m) {
        var h = 0x9e3779b97f4a7c15L
        var j = 0
        while (j < n) { h = mix(h * 0x100000001b3L ^ tokHashes(i + j)); j += 1 }
        if (seen.add(h)) { out(k) = h; k += 1 }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, k))
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `shingle_strings(text, n)` → array<string>: the distinct word n-gram
    * shingles themselves, first-occurrence order — the string twin of
    * [[ShingleHashes]] for operators that must output or join on the
    * n-gram text (boilerplate stats, decontamination). One tokenize + one
    * linear pass; the interpreted HOF formulation
    * (`transform(sequence…, slice+concat_ws)` + `array_distinct`)
    * re-walks the token array per position and measured ~3× slower. */
  case class ShingleStrings(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    private val space = UTF8String.fromString(" ")
    override def nullSafeEval(input: Any): Any = {
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val m = toks.length - n + 1
      if (m <= 0) return new GenericArrayData(Array.empty[AnyRef])
      val seen = new java.util.HashSet[UTF8String](m * 2)
      val out = new Array[AnyRef](m)
      var k = 0
      var i = 0
      while (i < m) {
        val s = UTF8String.concatWs(space,
          java.util.Arrays.copyOfRange(toks, i, i + n).toIndexedSeq: _*)
        if (seen.add(s)) { out(k) = s; k += 1 }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, k))
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `shingle_window_hashes(text, n)` → array<long>: hash of EVERY word
    * n-gram window in positional order (index = start-token offset), NOT
    * deduplicated — the positional twin of [[ShingleHashes]] for span-
    * level operators that need to know WHERE a window sits in the doc
    * (duplicate-span detection, coverage stats). Same FNV-1a+splitmix64
    * construction, so window hashes are comparable with nothing shuffled
    * but 8-byte longs. */
  case class ShingleWindowHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val m = toks.length - n + 1
      if (m <= 0) return new GenericArrayData(Array.empty[Long])
      val tokHashes = new Array[Long](toks.length)
      var i = 0
      while (i < toks.length) { tokHashes(i) = hashToken(toks(i)); i += 1 }
      val out = new Array[Long](m)
      i = 0
      while (i < m) {
        var h = 0x9e3779b97f4a7c15L
        var j = 0
        while (j < n) { h = mix(h * 0x100000001b3L ^ tokHashes(i + j)); j += 1 }
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `minhash_sig(hashes, k)` → array<long>: k permutation-minima
    * ((a_i·h + b_i) mod 2^61-1) over a shingle-hash array. */
  case class MinHashSig(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val P = 2305843009213693951L // 2^61 - 1
    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData].toLongArray()
      if (hs.isEmpty) return null
      val sig = new Array[Long](k)
      var i = 0
      while (i < k) {
        val a = mix(0x517cc1b727220a95L + i) | 1L
        val b = mix(0x2545f4914f6cdd1dL + i)
        var best = Long.MaxValue
        var j = 0
        while (j < hs.length) {
          // multiply-high-free modmul: values < 2^61, use Math.multiplyHigh
          val lo = a * hs(j) + b
          val v = java.lang.Long.remainderUnsigned(lo, P)
          if (v < best) best = v
          j += 1
        }
        sig(i) = best
        i += 1
      }
      new GenericArrayData(sig)
    }
    override def nullable: Boolean = true
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `simhash64(text)` → long: classic 64-bit SimHash over whitespace
    * tokens. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val toks = tokenize(input.asInstanceOf[UTF8String])
      val counts = new Array[Int](64)
      var i = 0
      while (i < toks.length) {
        val h = hashToken(toks(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // -------------------------------------------------- Column surface

  /** name → expression builder: the SINGLE source for both registration
    * paths (per-session [[register]] and the `GraftExtensions` SQL
    * extension) — duplicated builders drift. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_shingle_hashes" -> ((es: Seq[Expression]) =>
      ShingleHashes(es.head, es(1).eval().asInstanceOf[Number].intValue())),
    "graft_minhash_sig" -> ((es: Seq[Expression]) =>
      MinHashSig(es.head, es(1).eval().asInstanceOf[Number].intValue())),
    "graft_simhash64" -> ((es: Seq[Expression]) => SimHash64(es.head)),
    "graft_shingle_strings" -> ((es: Seq[Expression]) =>
      ShingleStrings(es.head, es(1).eval().asInstanceOf[Number].intValue())),
    "graft_shingle_window_hashes" -> ((es: Seq[Expression]) =>
      ShingleWindowHashes(es.head,
        es(1).eval().asInstanceOf[Number].intValue())))

  /** Register the functions in the session (idempotent); required before
    * using the Column wrappers below. */
  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  def shingleHashes(c: Column, n: Int): Column =
    call_function("graft_shingle_hashes", c,
      org.apache.spark.sql.functions.lit(n))
  def shingleStrings(c: Column, n: Int): Column =
    call_function("graft_shingle_strings", c,
      org.apache.spark.sql.functions.lit(n))
  def minhashSig(c: Column, k: Int): Column =
    call_function("graft_minhash_sig", c,
      org.apache.spark.sql.functions.lit(k))
  def simhash64(c: Column): Column = call_function("graft_simhash64", c)
  def shingleWindowHashes(c: Column, n: Int): Column =
    call_function("graft_shingle_window_hashes", c,
      org.apache.spark.sql.functions.lit(n))
}
