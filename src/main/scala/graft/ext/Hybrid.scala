package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Concurrently
import graft.sinks.PipelinePin

/** Coordinated serving across the hybrid retrieval stack's two
  * independently-versioned indexes (BM25 postings + IVF inverted
  * file): the dual writer applies each batch to BOTH indexes and then
  * commits ONE [[PipelinePin]] naming the resulting (bm25, ivf)
  * version pair; pinned serves resolve that pair atomically and pass
  * each leg its pinned version as `asOfVersion`, so a serve landing
  * MID-dual-append returns the previous coherent pair — never a fresh
  * lexical list fused with a stale vector list (mixed corpus
  * statistics would skew the fusion, and a doc present in one leg's
  * corpus but not the other's gets a silently lopsided RRF score).
  *
  * Scale shape: the pin is one tiny JSON read before the two serve
  * plans are built — no join, no shuffle, no per-row cost; each leg
  * then serves exactly as its own index does (probed cells / pushed
  * term filters). Writers pay one extra CAS file-create per batch. */
object Hybrid {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def latestVersion(spark: SparkSession, path: String): Long =
    graft.sinks.IndexManifest.latest(fs(spark, path), path)
      .map(_.version)
      .getOrElse(throw new IllegalArgumentException(
        s"no index manifest at $path (not a saved index directory)"))

  /** Pin the CURRENT (bm25, ivf) version pair — called after both
    * indexes exist (initial build) or after any out-of-band
    * maintenance (compaction, retrain) that should become the served
    * snapshot. Returns the committed pin. */
  def commitPin(spark: SparkSession, pinRoot: String,
      bm25Path: String, ivfPath: String): PipelinePin.Pin =
    PipelinePin.commit(fs(spark, pinRoot), pinRoot, Map(
      "bm25" -> latestVersion(spark, bm25Path),
      "ivf" -> latestVersion(spark, ivfPath)))

  /** The dual CDC applier: land `batchId` in BOTH indexes, then commit
    * one pin naming the new pair. Each leg's append is idempotent on
    * its own `applied` record, so a replay (crash between the two
    * appends, retried batch) re-runs as no-ops and re-commits an
    * identical pair — the pin protocol needs no distributed
    * transaction, only the ORDER invariant: the pin commits LAST.
    * Readers meanwhile stay on the previous pin's coherent pair. The
    * two legs run CONCURRENTLY (different paths, different manifests;
    * no ordering exists between them — only the pin must come last):
    * the serial form paid both legs' fixed per-job overhead
    * back-to-back. */
  def dualAppend(spark: SparkSession, pinRoot: String,
      bm25Path: String, newDocs: DataFrame, docIdCol: String,
      textCol: String, ivfPath: String, newVecs: DataFrame,
      vecIdCol: String, vecCol: String, batchId: String)
      : PipelinePin.Pin = {
    Concurrently.all(Seq(
      () => TextAnalysis.appendToBm25Index(spark, bm25Path, newDocs,
        docIdCol, textCol, batchId),
      () => Similarity.appendToIvfIndex(spark, ivfPath, newVecs,
        vecIdCol, vecCol, batchId)))
    commitPin(spark, pinRoot, bm25Path, ivfPath)
  }

  /** Hybrid serve at one coherent pipeline snapshot: resolve the pin
    * (`pinVersion` for time travel, else the newest), serve the
    * lexical leg and the vector leg each AT ITS PINNED VERSION, fuse
    * with RRF in fixed leg order (lexical, then vector — the x90/x131
    * convention). Output: (query_id, rank, vec_id, rrf). */
  def servePinned(spark: SparkSession, pinRoot: String,
      bm25Path: String, queryTerms: Seq[String], queryId: Long,
      ivfPath: String, queries: DataFrame, idCol: String,
      vecCol: String, kLex: Int, kVec: Int, k: Int, nprobe: Int = 2,
      pinVersion: Option[Long] = None): DataFrame = {
    val pfs = fs(spark, pinRoot)
    val pin = pinVersion
      .map(v => PipelinePin.at(pfs, pinRoot, v).getOrElse(
        throw new IllegalArgumentException(
          s"no pipeline pin v$v at $pinRoot")))
      .getOrElse(PipelinePin.latest(pfs, pinRoot).getOrElse(
        throw new IllegalArgumentException(
          s"no pipeline pin at $pinRoot — commitPin/dualAppend first")))
    Similarity.rrfFuseN(Seq(
      TextAnalysis.bm25IndexRankedList(spark, bm25Path, queryTerms,
        k = kLex, queryId = queryId,
        asOfVersion = Some(pin("bm25"))),
      Similarity.queryIvfIndex(spark, ivfPath, queries, idCol, vecCol,
        k = kVec, nprobe = nprobe,
        asOfVersion = Some(pin("ivf")))),
      k = k)
  }

  /** PIN-AWARE retention across the stack (x224): vacuum each leg
    * keeping its newest `keepVersions` PLUS every version any live
    * pipeline pin still names — whole-pipeline time travel stays
    * servable for exactly as long as its pin exists. Vacuum ORDER is
    * the contract: vacuum pins first ([[PipelinePin.vacuum]], sized
    * by how far back pinned serves must reach), then call this; a leg
    * version outlives its last naming pin by one sweep, never the
    * reverse (a live pin naming vacuumed data is an unservable
    * snapshot — the failure this exists to prevent). */
  def vacuumPinned(spark: SparkSession, pinRoot: String,
      bm25Path: String, ivfPath: String, keepVersions: Int = 2)
      : Unit = {
    val pfs = fs(spark, pinRoot)
    // the two leg vacuums are independent (different paths, each
    // reading its own live-pin set) — overlap them like dualAppend
    Concurrently.all(Seq(
      () => TextAnalysis.vacuumBm25Index(spark, bm25Path, keepVersions,
        PipelinePin.liveLegVersions(pfs, pinRoot, "bm25")),
      () => Similarity.vacuumIvfIndex(spark, ivfPath, keepVersions,
        PipelinePin.liveLegVersions(pfs, pinRoot, "ivf"))))
  }
}
