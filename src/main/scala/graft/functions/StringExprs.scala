package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for string-similarity joins (the record-linkage /
  * fuzzy-matching family). Same design rules as [[TextHashExprs]]: one
  * tight JVM loop per row, public-domain hash constructions (FNV-1a +
  * splitmix64), deterministic, null-intolerant, CodegenFallback.
  */
object StringExprs {

  import TextHashExprs.{mix => mix64}

  /** `masked_pos_hashes(s)` → array<long>: for each byte position i of s,
    * a hash identifying (i, s with position i wildcarded) — the
    * deletion-neighborhood blocking key of SymSpell-style similarity
    * search: two EQUAL-LENGTH strings share the key for position i iff
    * they are identical everywhere except possibly at i, so any pair
    * within Hamming distance ≤ 1 shares ≥ 1 key. Computed in O(len) via
    * rolling prefix hashes (FNV-1a forward) and suffix hashes (FNV-1a
    * backward) — NOT by materializing len masked copies (that is
    * O(len²) bytes/row and was the naive alternative). Buckets stay tiny
    * even under a corpus-wide shared prefix (the segment-blocking
    * failure mode: every "Customer#…" name shares its first half —
    * position-masked keys still differ wherever the variable region is).
    * Operates on UTF-8 BYTES: a masked multi-byte codepoint masks one
    * byte, which only ever SPLITS buckets (never merges wrong pairs) —
    * recall for ≤1 SUBSTITUTION holds for 1-byte-wide diffs; the verify
    * step is exact regardless. */
  case class MaskedPosHashes(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[UTF8String].getBytes
      val n = b.length
      if (n == 0) return new GenericArrayData(Array.empty[Long])
      // prefix(i) = FNV-1a of bytes [0, i); suffix(i) = FNV-1a of bytes
      // (n-1 .. i] processed right-to-left (a deterministic identity of
      // the suffix — direction only changes the value, not injectivity
      // of the rolling construction)
      val pre = new Array[Long](n + 1)
      pre(0) = 0xcbf29ce484222325L
      var i = 0
      while (i < n) {
        pre(i + 1) = (pre(i) ^ (b(i) & 0xffL)) * 0x100000001b3L
        i += 1
      }
      val suf = new Array[Long](n + 1)
      suf(n) = 0x84222325cbf29ce4L
      i = n - 1
      while (i >= 0) {
        suf(i) = (suf(i + 1) ^ (b(i) & 0xffL)) * 0x100000001b3L
        i -= 1
      }
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = mix64(mix64(pre(i)) ^ mix64(suf(i + 1)) ^
          mix64(0x9e3779b97f4a7c15L + i) ^ (n.toLong << 32))
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `hamming_dist(a, b)` → long: number of differing byte positions for
    * equal-length strings; `Long.MaxValue` when lengths differ (total
    * function — a length mismatch is "infinitely far", never an error,
    * so it composes with hash-blocked candidate streams). */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[UTF8String].getBytes
      val b = r.asInstanceOf[UTF8String].getBytes
      if (a.length != b.length) return java.lang.Long.MAX_VALUE
      var d = 0L
      var i = 0
      while (i < a.length) { if (a(i) != b(i)) d += 1L; i += 1 }
      java.lang.Long.valueOf(d)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** `deletion_hashes(s)` → array<long>: FNV-1a hashes of the string
    * itself plus every single-byte-deletion variant, deduped — the
    * SymSpell blocking key set for edit distance ≤ 1 INCLUDING
    * insertions and deletions (MaskedPosHashes covers substitutions
    * only): two strings within one edit share a variant STRING, so they
    * share a key. Unlike the masked keys, variant equality must hold
    * ACROSS split points ("ab" as a full string == "aab" minus byte 0),
    * so each variant is hashed over its actual bytes — O(len²/2) byte
    * folds per row via prefix-state restarts (prefix states precomputed
    * once), the honest cost of cross-length matching; fine for the
    * name/title-length keys this join is for, not for documents. */
  case class DeletionHashes(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[UTF8String].getBytes
      val n = b.length
      val fnvInit = 0xcbf29ce484222325L
      // pre(i) = FNV-1a state after bytes [0, i)
      val pre = new Array[Long](n + 1)
      pre(0) = fnvInit
      var i = 0
      while (i < n) {
        pre(i + 1) = (pre(i) ^ (b(i) & 0xffL)) * 0x100000001b3L
        i += 1
      }
      val seen = new java.util.LinkedHashSet[java.lang.Long](n + 2)
      seen.add(mix64(pre(n))) // the string itself
      i = 0
      while (i < n) { // delete byte i: restart from pre(i), fold the tail
        var h = pre(i)
        var j = i + 1
        while (j < n) { h = (h ^ (b(j) & 0xffL)) * 0x100000001b3L; j += 1 }
        seen.add(mix64(h))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `edit_dist_le1(a, b)` → long: BYTE-level edit distance when it is
    * ≤ 1, else `Long.MaxValue` (total function, like [[HammingDist]]).
    * O(len) two-pointer walk — no DP table: equal lengths reduce to a
    * Hamming check, lengths off by one to a single-gap walk. Byte
    * semantics match [[DeletionHashes]]' blocking keys and DuckDB's
    * byte-based `levenshtein`, making the x65 gate metric-consistent
    * end to end; a multi-byte codepoint edit counts per BYTE (distance
    * 2 for é→e), same caveat as [[MaskedPosHashes]]. */
  case class EditDistLE1(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[UTF8String].getBytes
      val b = r.asInstanceOf[UTF8String].getBytes
      val out: Long =
        if (a.length == b.length) {
          var d = 0L
          var i = 0
          while (i < a.length && d <= 1L) {
            if (a(i) != b(i)) d += 1L
            i += 1
          }
          if (d <= 1L) d else java.lang.Long.MAX_VALUE
        } else if (math.abs(a.length - b.length) == 1) {
          val (lo, hi) = if (a.length < b.length) (a, b) else (b, a)
          var i = 0
          var j = 0
          var skipped = false
          var ok = true
          while (ok && i < lo.length) {
            if (lo(i) == hi(j)) { i += 1; j += 1 }
            else if (!skipped) { skipped = true; j += 1 } // gap in hi
            else ok = false
          }
          if (ok) 1L else java.lang.Long.MAX_VALUE
        } else java.lang.Long.MAX_VALUE
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** `char_entropy_stats(s)` → struct<entropy double, n_distinct long>:
    * character-unigram Shannon entropy (bits/char) and distinct-char
    * count, per code point, in one pass per row.
    *
    * WHY native: entropy is a PER-ROW quantity, but the builtin-only
    * formulation (explode chars → two grouped aggregations) shuffles a
    * (doc, char) cell per distinct character of every document — a
    * corpus-proportional shuffle for something computable inside the
    * scan. This expression keeps x56 a narrow projection: at 100 TB the
    * difference is two full shuffles vs zero. NULL for the empty string
    * (no distribution to measure), mirroring the SQL formulation's
    * absent group. */
  case class CharEntropyStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("entropy", DoubleType, nullable = false),
      StructField("n_distinct", LongType, nullable = false)))
    override def nullable: Boolean = true // NULL for the empty string
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      if (s.isEmpty) return null
      val counts = new java.util.HashMap[Integer, Array[Long]](64)
      var i = 0
      var total = 0L
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val slot = counts.computeIfAbsent(cp, _ => new Array[Long](1))
        slot(0) += 1L
        total += 1L
        i += Character.charCount(cp)
      }
      var h = 0.0d
      val it = counts.values().iterator()
      while (it.hasNext) {
        val p = it.next()(0).toDouble / total.toDouble
        h -= p * (math.log(p) / math.log(2.0))
      }
      org.apache.spark.sql.catalyst.InternalRow(h, counts.size.toLong)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `nfc_normalize(s)` → string: Unicode canonical composition (NFC)
    * via the pure-JDK `java.text.Normalizer` — decomposed sequences
    * (`e` + U+0301) collapse to their precomposed forms (`é`), so
    * byte-level dedup/fingerprinting treats canonically-equal text as
    * equal. Fast path: `Normalizer.isNormalized` is a scan with no
    * allocation, and real-world corpora are overwhelmingly already-NFC
    * (all of ASCII is), so the common row costs one pass and returns
    * the input UTF8String unchanged. Null-intolerant, deterministic,
    * CodegenFallback (the JDK call dominates; codegen would only
    * inline the dispatch). Matches DuckDB's `nfc_normalize`. */
  case class NfcNormalize(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s,
          java.text.Normalizer.Form.NFC)) u
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_masked_pos_hashes" -> ((es: Seq[Expression]) =>
      MaskedPosHashes(es.head)),
    "graft_hamming_dist" -> ((es: Seq[Expression]) =>
      HammingDist(es.head, es(1))),
    "graft_deletion_hashes" -> ((es: Seq[Expression]) =>
      DeletionHashes(es.head)),
    "graft_edit_dist_le1" -> ((es: Seq[Expression]) =>
      EditDistLE1(es.head, es(1))),
    "graft_char_entropy_stats" -> ((es: Seq[Expression]) =>
      CharEntropyStats(es.head)),
    "graft_nfc_normalize" -> ((es: Seq[Expression]) =>
      NfcNormalize(es.head)))

  /** Register in the session (idempotent); required before the Column
    * wrappers below. */
  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  def maskedPosHashes(c: Column): Column =
    call_function("graft_masked_pos_hashes", c)
  def hammingDist(a: Column, b: Column): Column =
    call_function("graft_hamming_dist", a, b)
  def charEntropyStats(c: Column): Column =
    call_function("graft_char_entropy_stats", c)
  def deletionHashes(c: Column): Column =
    call_function("graft_deletion_hashes", c)
  def editDistLE1(a: Column, b: Column): Column =
    call_function("graft_edit_dist_le1", a, b)
  def nfcNormalize(c: Column): Column =
    call_function("graft_nfc_normalize", c)
}
