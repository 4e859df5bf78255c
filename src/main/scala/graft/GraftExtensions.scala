package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{BloomExprs, DecimalExprs, FreqAgg, ImageExprs, KllAgg, StringExprs, TextHashExprs, TopKAgg, VectorExprs}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions so any session built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) can call them from SQL
  * directly — the idiomatic registration path for a library
  * (SURVEY §7.3; the per-DataFrame `register()` calls remain for
  * sessions we don't construct). Builders come from each function
  * object's `builders` list — ONE definition per function, shared with
  * the temp-function path, so the two registration surfaces cannot
  * accept different signatures.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Usage strings are presentation-only; the builder is the contract. */
  private val usage: Map[String, String] = Map(
    "graft_shingle_hashes" ->
      "graft_shingle_hashes(text, n) - hashes of distinct word n-grams",
    "graft_minhash_sig" ->
      "graft_minhash_sig(hashes, k) - k-permutation MinHash signature",
    "graft_simhash64" -> "graft_simhash64(text) - 64-bit SimHash",
    "graft_shingle_strings" ->
      "graft_shingle_strings(text, n) - distinct word n-gram strings",
    "graft_shingle_window_hashes" ->
      "graft_shingle_window_hashes(text, n) - positional window hashes",
    "graft_dot_f64" ->
      "graft_dot_f64(a, b) - sequential double-array dot product",
    "graft_sqdist_f64" ->
      "graft_sqdist_f64(a, b) - sequential squared Euclidean distance",
    "graft_masked_pos_hashes" ->
      "graft_masked_pos_hashes(s) - per-position masked blocking keys",
    "graft_hamming_dist" ->
      ("graft_hamming_dist(a, b) - byte Hamming distance (MaxValue on " +
        "length mismatch)"),
    "graft_char_entropy_stats" ->
      ("graft_char_entropy_stats(s) - struct(entropy, n_distinct): " +
        "one-pass char-unigram Shannon entropy"),
    "graft_deletion_hashes" ->
      ("graft_deletion_hashes(s) - SymSpell deletion-variant blocking " +
        "keys (self + every single-byte deletion)"),
    "graft_edit_dist_le1" ->
      ("graft_edit_dist_le1(a, b) - byte edit distance if <= 1, else " +
        "MaxValue (O(len) two-pointer)"),
    "graft_nfc_normalize" ->
      "graft_nfc_normalize(s) - Unicode NFC canonical composition",
    "graft_topk_by_score" ->
      "graft_topk_by_score(score, id, k) - bounded-heap top-k aggregate",
    "graft_misra_gries" ->
      "graft_misra_gries(item, k) - Misra-Gries frequent-item candidates",
    "graft_kll_sketch" ->
      "graft_kll_sketch(value, k) - KLL quantile sketch (weighted items)",
    "graft_dec_quantize" ->
      ("graft_dec_quantize(x, precision, scale) - double to DECIMAL from " +
        "its shortest decimal representation"),
    "graft_bloom_agg" ->
      "graft_bloom_agg(xxhash64(key), items, bits) - Bloom filter build",
    "graft_bloom_contains" ->
      "graft_bloom_contains(filter, xxhash64(key)) - no-false-negative probe",
    "graft_image_header_meta" ->
      ("graft_image_header_meta(binary) - struct(format, width, height) " +
        "from PNG/JPEG/GIF magic bytes; NULL when no header parses"))

  override def apply(ext: SparkSessionExtensions): Unit =
    (TextHashExprs.builders ++ VectorExprs.builders ++
      StringExprs.builders ++ TopKAgg.builders ++ FreqAgg.builders ++
      KllAgg.builders ++ BloomExprs.builders ++ ImageExprs.builders ++
      DecimalExprs.builders)
      .foreach { case (name, builder) =>
        ext.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name,
            usage.getOrElse(name, name)),
          builder))
      }
}
