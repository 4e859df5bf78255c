package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the rep-graph cluster collapse: [[DedupOps.simhashClusters]] /
  * [[DedupOps.containmentSetClusters]] must label every doc EXACTLY as
  * the expanded two-step form (pairs → star-CC, singletons coalesced to
  * their own id) — the fused path runs CC on the distinct-signature rep
  * graph and attaches members afterwards, and the equality of the two
  * is the optimization's whole correctness argument.
  */
class ClusterCollapseSpec extends SparkSpec {
  import spark.implicits._

  /** Expanded-form reference: pair frame → star-CC → every doc labeled,
    * singletons themselves (the x203/x244/x257 gate tail). */
  private def viaPairs(docs: DataFrame, pairs: DataFrame)
      : Map[Long, Long] = {
    val lbl = DedupOps.dedupClusters(pairs, "doc_a", "doc_b")
    docs.join(lbl, docs("doc_id") === lbl("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .as[(Long, Long)].collect().toMap
  }

  private def asMap(lbl: DataFrame, docs: DataFrame): Map[Long, Long] =
    docs.join(lbl, docs("doc_id") === lbl("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .as[(Long, Long)].collect().toMap

  test("simhashClusters == dedupClusters over simhashPairsFromSigs") {
    // duplicate-signature groups (1,2,3 | 4,5), a 1-bit neighbor chain
    // (6 links the 0x0F00 group to 0x0F01), isolated docs (7, 8), and
    // a null signature (9: pairs with nothing, labels itself)
    val sigs = Seq(
      (1L, java.lang.Long.valueOf(0x0F00L)),
      (2L, java.lang.Long.valueOf(0x0F00L)),
      (3L, java.lang.Long.valueOf(0x0F00L)),
      (4L, java.lang.Long.valueOf(0x0F01L)),
      (5L, java.lang.Long.valueOf(0x0F01L)),
      (6L, java.lang.Long.valueOf(0x0F03L)),
      (7L, java.lang.Long.valueOf(0x7000000000000000L)),
      (8L, java.lang.Long.valueOf(0x00000000000000F0L)),
      (9L, null.asInstanceOf[java.lang.Long])
    ).toDF("doc_id", "sh")
    val docs = sigs.select(col("doc_id"))
    val expanded = viaPairs(docs,
      DedupOps.simhashPairsFromSigs(sigs, maxHamming = 7, bands = 4,
        probeBits = 1))
    val fused = asMap(
      DedupOps.simhashClusters(sigs, maxHamming = 7, bands = 4,
        probeBits = 1), docs)
    assert(fused === expanded)
    // sanity: a real multi-group merge happened (identical sigs merge
    // with the 1-bit-neighbor group) and the null sig stays singleton
    assert(expanded(2L) === 1L && expanded(5L) === 1L)
    assert(expanded(9L) === 9L)
  }

  test("containmentSetClusters == dedupClusters over containmentSetPairs") {
    // identical-set group (1,2), containment chain 1⊃3 (C=1.0 on the
    // smaller side), partial overlap 3~4 (2/3 >= 0.5), isolated 5,
    // empty set 6 (no row from either form; labels itself via coalesce)
    val sets = Seq(
      (1L, Seq(10L, 11L, 12L, 13L)),
      (2L, Seq(13L, 12L, 11L, 10L)), // same set, different order
      (3L, Seq(10L, 11L, 14L)),
      (4L, Seq(11L, 14L, 15L)),
      (5L, Seq(99L)),
      (6L, Seq.empty[Long])
    ).toDF("doc_id", "fset")
    val docs = sets.select(col("doc_id"))
    val expanded = viaPairs(docs,
      DedupOps.containmentSetPairs(sets, "doc_id", "fset",
        threshold = 0.5))
    val fused = asMap(
      DedupOps.containmentSetClusters(sets, "doc_id", "fset",
        threshold = 0.5), docs)
    assert(fused === expanded)
    assert(expanded(2L) === 1L && expanded(4L) === 1L)
    assert(expanded(5L) === 5L && expanded(6L) === 6L)
  }

  test("fused forms label every valid-signature doc, singletons themselves") {
    val sigs = Seq((42L, 7L), (43L, 1L << 40)).toDF("doc_id", "sh")
    val out = DedupOps.simhashClusters(sigs, maxHamming = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(42L -> 42L, 43L -> 43L))
  }
}
