package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the iterative-checkpoint block-hygiene contract: after an
  * iterative op returns, only the blocks reachable from the RETURNED
  * frame remain persisted — every superseded round and every loop-input
  * checkpoint has been unpersisted. Without this, a long maintenance
  * session (exactly the 100 TB use these ops target) accumulates dead
  * storage memory proportional to rounds × frame size, and a shared
  * bench session charges later queries for earlier queries' garbage.
  */
class CheckpointHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def persistedCount: Int = {
    // unpersist(blocking=false) completes asynchronously; settle first
    System.gc()
    Thread.sleep(50)
    spark.sparkContext.getPersistentRDDs.size
  }

  /** The exact accumulator counts below hold only when every task runs
    * once: plain `local[N]` makes one attempt per task, and speculation
    * would launch second copies. */
  private def assertTasksRunOnce(): Unit = {
    val sc = spark.sparkContext
    val oneAttempt = """local(\[[0-9*]+\])?""".r.matches(sc.master) ||
      sc.getConf.getInt("spark.task.maxFailures", 4) == 1
    assert(oneAttempt, "exact accumulator counts assume no task " +
      s"retries, but master ${sc.master} retries failed tasks")
    assert(!sc.getConf.getBoolean("spark.speculation", false),
      "exact accumulator counts assume no speculative task copies")
  }

  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("pageRank leaves only the returned frame's blocks persisted") {
    clearAll()
    val before = persistedCount
    assert(before == 0, s"pre-existing persisted RDDs: $before")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, "src", "dst", iters = 4)
    // 4 rounds × 1 checkpoint + eo + nodes + initial ranks = 7 created;
    // only the final round's frame may remain
    assert(persistedCount == 1,
      s"expected 1 persisted RDD (the result), got $persistedCount")
    assert(ranks.count() == 3L) // result still readable after the releases
    Checkpoints.release(ranks)
    assert(persistedCount == 0)
  }

  test("dedupClusters retains the pair input and the converged " +
      "edge set — nothing else") {
    clearAll()
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a", "b")
    // budget 0 forces the distributed rounds on this small input
    val labels = DedupOps.dedupClusters(pairs, "a", "b", 30,
      reliable = false, driverPairs = 0L)
    // the returned plan reads two checkpoints: the materialized pair
    // projection (the trailing self-loop-only node sweep needs it —
    // without the checkpoint that sweep re-ran the whole pair-
    // generation plan at every execution) and the converged edge set
    assert(persistedCount == 2,
      s"expected 2 persisted RDDs (pair input + converged edges), " +
        s"got $persistedCount")
    assert(labels.count() == 6L)
    clearAll()
    // the driver finish collects the pair projection and releases it:
    // the returned local frame holds no module checkpoint
    val local = DedupOps.dedupClusters(pairs, "a", "b")
    assert(persistedCount == 0,
      s"expected no persisted RDD on the driver path, got $persistedCount")
    assert(local.count() == 6L)
    clearAll()
  }

  test("dedupClusters evaluates the pair-generation plan exactly " +
      "once — executing the returned labels never re-runs it") {
    assertTasksRunOnce()
    clearAll()
    val evals = spark.sparkContext.longAccumulator("pair-evals")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      .as[(Long, Long)]
      .mapPartitions(_.map { p => evals.add(1L); p })
      .toDF("a", "b")
    val labels = DedupOps.dedupClusters(pairs, "a", "b")
    val afterBuild = evals.value
    assert(afterBuild == 3L,
      s"pair input visited $afterBuild rows during the build — " +
        "expected exactly one pass over the 3 pairs")
    labels.count()
    labels.count()
    assert(evals.value == afterBuild,
      "executing the returned labels re-ran the pair-generation plan")
    clearAll()
  }

  test("pageRank evaluates the edge-source plan exactly once — the " +
      "out-weight agg, eo join, and node set derive from one checkpoint") {
    assertTasksRunOnce()
    clearAll()
    val evals = spark.sparkContext.longAccumulator("edge-evals")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L))
      .toDF("src", "dst").as[(Long, Long)]
      .mapPartitions(_.map { p => evals.add(1L); p })
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, "src", "dst", iters = 2)
    assert(evals.value == 4L,
      s"edge source visited ${evals.value} rows during the run — " +
        "expected exactly one pass over the 4 edges")
    assert(ranks.count() == 3L)
    Checkpoints.release(ranks)
    clearAll()
  }

  test("release is a safe no-op on a non-checkpointed frame") {
    val df = Seq(1, 2, 3).toDF("x")
    Checkpoints.release(df) // must not throw
    assert(df.count() == 3L)
  }

  private def rddDirs(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Seq.empty
      else f.listFiles().toSeq.flatMap(walk) :+ f
    walk(new java.io.File(dir)).filter(_.getName.startsWith("rdd-"))
      .map(_.getName)
  }

  test("reliable=true: same answers, rounds checkpoint to the dir, " +
      "superseded rounds' files are deleted") {
    clearAll()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt-").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L))
        .toDF("src", "dst")
      val fast = Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      clearAll()
      val durable = Graph.pageRank(edges, "src", "dst", iters = 3,
        reliable = true)
      // superseded rounds + loop inputs are gone from the checkpoint
      // dir; only the returned frame's files may remain
      assert(rddDirs(ckpt).size == 1,
        s"expected 1 surviving checkpoint, got ${rddDirs(ckpt)}")
      assert(durable.orderBy("id").as[(Long, Long)].collect().toSeq ==
        fast)
      Checkpoints.release(durable)
      assert(rddDirs(ckpt).isEmpty, s"leftovers: ${rddDirs(ckpt)}")

      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val fastCc = DedupOps.dedupClusters(pairs, "a", "b")
        .orderBy("id").as[(Long, Long)].collect().toSeq
      clearAll()
      // budget 0 forces the rounds, which then checkpoint to the dir
      val durableCc = DedupOps.dedupClusters(pairs, "a", "b", 30,
        reliable = true, driverPairs = 0L)
      assert(durableCc.orderBy("id").as[(Long, Long)].collect().toSeq
        == fastCc)
      clearAll()
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(ckpt))
    }
  }

  test("release is scoped to module-created checkpoints: a caller's " +
    "own localCheckpoint embedded in the released frame survives") {
    clearAll()
    // the caller checkpoints a frame itself (NOT via materialize) ...
    val callerOwned = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .localCheckpoint()
    // ... and derives a frame from it; releasing the derivation must
    // not destroy the caller's checkpoint (its lineage is truncated —
    // unpersisting it would make the next action FAIL, not recompute)
    val derived = callerOwned.filter(col("id") === 1L)
    Checkpoints.release(derived)
    assert(callerOwned.count() === 2L) // still readable
    // a module-created checkpoint in the same plan IS released
    val mod = Checkpoints.materialize(
      Seq((3L, 30L)).toDF("id", "v"), reliable = false)
    val before = persistedCount
    Checkpoints.release(mod.select(col("id")))
    Thread.sleep(100); System.gc(); Thread.sleep(50)
    assert(persistedCount < before)
    clearAll()
  }

  test("reliable=true without a checkpoint dir fails fast and clearly") {
    // this suite may run after the reliable test set a dir on the
    // SHARED session — only assert when no dir is configured
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val edges = Seq((1L, 2L)).toDF("src", "dst")
      val e = intercept[IllegalArgumentException] {
        Graph.pageRank(edges, "src", "dst", iters = 1, reliable = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
  }
}
