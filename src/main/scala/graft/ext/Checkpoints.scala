package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Block hygiene for iterative `localCheckpoint` loops.
  *
  * `Dataset.localCheckpoint()` materializes the plan into a persisted
  * `RDD[InternalRow]` wrapped in a [[LogicalRDD]]. The blocks live until
  * the RDD is unpersisted or the driver GCs the reference — in an
  * iterative algorithm that checkpoints every round (PageRank, connected
  * components) each round's blocks SUPERSEDE the previous round's, but
  * nothing releases them, so a long session accumulates dead storage
  * memory proportional to rounds × frame size. At the 100 TB maintenance
  * sessions these ops target that is a real leak (executor storage
  * pressure evicting live blocks); in a shared bench session it inflates
  * every later query's times.
  *
  * The loop discipline: after round N+1's checkpoint has materialized
  * (localCheckpoint is eager by default), call [[release]] on round N's
  * frame. The final frame handed to the caller keeps its blocks — the
  * caller owns that lifetime (Bench clears all persistent RDDs between
  * queries for the same reason).
  *
  * OWNERSHIP CONTRACT for ops that materialize their INPUT (the admit
  * / encode / pair-builder family: `simhashLedgerAdmit`,
  * `minhashAdmit`, `containmentSetAdmit`,
  * `bpeEncode`, `unigramEncode`, `tokenizerScorecard`,
  * `simhashPairsFromSigs`, `containmentSetPairs`, the cluster ops):
  * the RETURNED frame references the entry checkpoint, so the op
  * cannot release it — the CALLER must call [[release]] on the
  * returned frame after its terminal action (the stream writers'
  * land-then-append step does, for every frame it produces;
  * a long-lived batch session that never releases accumulates one
  * small checkpoint per call until driver GC + ContextCleaner collect
  * it). [[release]] is safe to call broadly: it only frees
  * checkpoints THIS module created and not yet released — a
  * caller-made `Dataset.localCheckpoint()` embedded in the same plan
  * survives (CheckpointHygieneSpec pins it). One cluster op releases
  * its own entry checkpoint: `dedupClustersStar`'s driver finish (at
  * most 2¹⁸ pairs) collects it, so its local result holds no
  * checkpoint and the caller's release is a no-op.
  */
object Checkpoints {

  /** RDD ids of checkpoints CREATED BY THIS MODULE ([[materialize]] /
    * [[materializeCount]]) and not yet released. [[release]] frees only
    * these: a frame's plan can also reference checkpoints the CALLER
    * made and still owns (an admit's returned frame embeds the
    * caller-passed batch; a composed op feeds one op's checkpointed
    * output into another), and unpersisting every LogicalRDD in the
    * plan would silently destroy those — lineage-truncated, so the next
    * action on the caller's frame would fail, not recompute. Ids are
    * removed on release; the set is bounded by live checkpoints. */
  private val owned = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]())

  /** The persisted RDD(s) behind a `localCheckpoint()`ed frame (or a
    * narrow projection of one). Empty for non-checkpointed frames —
    * release on such a frame is a safe no-op. */
  private def checkpointRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** Unpersist the module-created checkpoint blocks behind `df` once a
    * successor has materialized — scoped to checkpoints [[materialize]]
    * created and not yet released (see [[owned]]); checkpoints the
    * caller created directly via `Dataset.localCheckpoint()` are left
    * alone. Non-blocking: removal proceeds while the next round runs.
    * For RELIABLE checkpoints the backing files are deleted too — a
    * superseded round's files are pure garbage, and an iterative op
    * that leaves rounds × frame-size behind in the checkpoint dir has
    * just moved the leak from memory to storage. */
  def release(df: DataFrame): Unit =
    checkpointRdds(df).foreach { r =>
      if (owned.remove(r.id)) {
        r.unpersist(blocking = false)
        r.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          try p.getFileSystem(r.context.hadoopConfiguration)
            .delete(p, true)
          catch { case _: java.io.IOException => () } // best-effort
        }
      }
    }

  /** Round materialization for iterative loops: `reliable = false`
    * (default) is `localCheckpoint` — executor-memory/disk blocks, the
    * fast path, but an executor loss mid-run kills the job because the
    * truncated lineage cannot recompute. `reliable = true` routes to
    * `checkpoint()` — each round lands in the fault-tolerant checkpoint
    * dir (HDFS/object store), so a 100 TB multi-hour PageRank or CC run
    * survives executor churn at the cost of a filesystem write per
    * round (SCALE.md quantifies the trade). Requires
    * `sc.setCheckpointDir` up front; checked here so a misconfigured
    * reliable run fails at round 1 with a clear message, not an
    * org.apache.spark.SparkException mid-loop. */
  def materialize(df: DataFrame, reliable: Boolean): DataFrame = {
    val cp =
      if (!reliable) df.localCheckpoint()
      else {
        require(
          df.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
          "reliable=true needs a fault-tolerant checkpoint dir: call " +
            "spark.sparkContext.setCheckpointDir(<hdfs/s3 path>) first")
        df.checkpoint()
      }
    checkpointRdds(cp).foreach(r => owned.add(r.id))
    cp
  }

  /** [[materialize]] that also returns the frame's row count — for
    * loops whose convergence probe IS a count (BFS frontier empty,
    * k-core edge fixpoint): a LAZY localCheckpoint makes `count()` the
    * materializing action itself, so the round costs ONE job instead of
    * materialize + a second probe action. Reliable mode keeps the eager
    * checkpoint (the reliable write must complete before anything reads
    * the frame) and pays a bounded count over the just-written
    * checkpoint files — the fast path is the default one. */
  def materializeCount(df: DataFrame, reliable: Boolean)
      : (DataFrame, Long) =
    materializeWith(df, reliable)(_.count())

  /** [[materializeCount]] generalized to any single-reference probe:
    * the caller's `action` over the lazily-checkpointed frame IS the
    * materializing job (computes, persists, and probes in one pass), so
    * an iterative round with a convergence aggregate costs ONE job
    * instead of materialize + a second probe action. The action must
    * reference the frame ONCE and consume every partition (a count or a
    * full aggregate — a limit/take would persist only the partitions it
    * touched; a self-join/union double reference would race both legs
    * into computing the yet-uncached partitions). Reliable mode keeps
    * the eager checkpoint (the durable write must complete before
    * anything reads the frame) and runs the probe over the files. */
  def materializeWith[A](df: DataFrame, reliable: Boolean)(
      action: DataFrame => A): (DataFrame, A) =
    if (!reliable) {
      val cp = df.localCheckpoint(eager = false)
      val a = action(cp) // first action: computes, persists, and probes
      checkpointRdds(cp).foreach(r => owned.add(r.id))
      (cp, a)
    } else {
      val cp = materialize(df, reliable = true)
      (cp, action(cp))
    }
}
