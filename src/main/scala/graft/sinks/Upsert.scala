package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Contracts

/** Keyed UPSERT sink — the reference's `INSERT … ON CONFLICT (keys) DO
  * UPDATE` merge (K2, src/load.py:94-119), with the staging lifecycle
  * (K1 stage, K5 drop, K6 empty guard; src/load.py:29-46,121-133).
  *
  * Spark has no native JDBC upsert, and no Delta jars ship in this image,
  * so the merge is expressed against a parquet "table" directory:
  *
  *  - un-partitioned: `target ⟕̸ source-keys (left_anti) ∪ source` — the
  *    classic merge rewrite. Correct anywhere, but rewrites the whole
  *    target: fine for dimensions, wrong for 100 TB facts.
  *  - partitioned (`partitionBy` non-empty, e.g. `date_start`): dynamic
  *    partition overwrite — only the partitions present in `source` are
  *    read, merged, and replaced. At 1000-executor scale this touches
  *    O(days-in-batch) partitions instead of O(history), which is the same
  *    access pattern a Delta `MERGE INTO` with partition pruning produces.
  *    The reference's daily 3-hour-lookback batch (src/extract.py:39-41)
  *    maps exactly onto this: each run re-emits 1-2 date partitions.
  *
  * Idempotence (load twice ≡ once) is the contract the reference relies on
  * for safe daily re-runs (SURVEY §5) — pinned by UpsertSpec.
  */
object Upsert {

  /** Upsert `source` into the parquet table at `path` on `keys`.
    * Last-write-wins within `source` is the caller's responsibility
    * (the reference dedups to grain before loading).
    * `writeSalt` bounds writer-task fan-out AND files written per table
    * partition — see the repartition note below.
    */
  def upsert(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], partitionCols: Seq[String] = Nil,
      writeSalt: Int = 8): Unit = {
    if (source.isEmpty) return // K6 empty-input guard (src/load.py:29-31)
    // all table-directory probes/moves go through the Hadoop FileSystem
    // API (same rule as Compact.dataBytes): the sink must run unchanged
    // against hdfs:// / s3a:// table paths, not just local disk
    val fs = new Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // CRASH RECOVERY (the delete→rename swap below is not atomic as a
    // pair, and rename itself is a copy on object stores): a run that
    // died mid-swap leaves the fully-merged table stranded in __staging
    // and no live table at `path`. Detect that state and complete the
    // swap BEFORE merging, so the interrupted upsert's result is never
    // lost and the new source merges against it. Pinned by UpsertSpec
    // ("recovers a table stranded mid-swap"); shared with CdcSink via
    // TableSwap.
    TableSwap.recoverStranded(fs, path)
    val exists = fs.exists(new Path(path))
    if (!exists) {
      write(source, path, keys, partitionCols, writeSalt, SaveMode.ErrorIfExists)
      return
    }
    if (partitionCols.nonEmpty) {
      // Dynamic partition overwrite: replace only source's partitions with
      // (old-rows-losing-on-key ∪ source) within those partitions.
      // Session conf is restored afterwards — a shared session must not
      // keep overwrite=dynamic past this sink (try/finally, same shape as
      // the shuffle-partitions override in SparkEntry q20).
      val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
      val prior = spark.conf.getOption(overwriteKey)
      spark.conf.set(overwriteKey, "dynamic")
      try {
        val target = spark.read.parquet(path)
        val srcParts = source.select(partitionCols.map(col).toIndexedSeq: _*)
          .distinct()
        val affected = target.join(broadcast(srcParts),
          partitionCols.toIndexedSeq, "left_semi")
        val kept = unmatched(affected, source, keys)
        val merged = kept.unionByName(source.select(target.columns.toIndexedSeq
          .map(col): _*))
          // bounded salt from the upsert keys: caps files per table
          // partition at `writeSalt` (vs shuffle.partitions small files —
          // the 100 TB small-files trap) while still fanning a hot date
          // across `writeSalt` writer tasks instead of one (skew/OOM trap
          // of repartition(partitionCols) alone)
          .repartition((partitionCols.map(col) :+
            pmod(xxhash64(keys.map(col).toIndexedSeq: _*),
              lit(writeSalt))).toIndexedSeq: _*)
        // Stage to avoid reading and overwriting the same files in one job.
        val staging = path + "__staging"
        merged.write.mode(SaveMode.Overwrite).parquet(staging)
        spark.read.parquet(staging).write
          .partitionBy(partitionCols.toIndexedSeq: _*)
          .mode(SaveMode.Overwrite).parquet(path)
        // Hadoop FileSystems signal failure by RETURNING FALSE, not
        // throwing — an unchecked delete leaves stale staging silently
        require(fs.delete(new Path(staging), true) ||
            !fs.exists(new Path(staging)),
          s"staging cleanup failed: $staging")
      } finally {
        prior match {
          case Some(v) => spark.conf.set(overwriteKey, v)
          case None => spark.conf.unset(overwriteKey)
        }
      }
    } else {
      val target = spark.read.parquet(path)
      val kept = unmatched(target, source, keys)
      val merged = kept.unionByName(
        source.select(target.columns.toIndexedSeq.map(col): _*))
      merged.write.mode(SaveMode.Overwrite)
        .parquet(TableSwap.stagingPath(path).toString)
      // checked delete→rename; crash window and recovery are
      // TableSwap's documented contract
      TableSwap.swapStaged(fs, path)
    }
  }

  /** Upsert using the reference's per-table key map (src/load.py:49-63);
    * unknown table → error, matching src/load.py:62-63. */
  def upsertTable(spark: SparkSession, baseDir: String, table: String,
      source: DataFrame): Unit = {
    val keys = Contracts.UpsertKeys.getOrElse(table,
      throw new IllegalArgumentException(
        s"no upsert keys declared for table '$table'"))
    val partCols = if (keys.contains("date_start")) Seq("date_start") else Nil
    upsert(spark, s"$baseDir/$table", source, keys, partCols)
  }

  /** `target` rows whose key no `source` row carries, matched
    * NULL-SAFELY (`<=>`): a key component may be null (a lead-insights
    * row with no age/gender breakdown), and under `=` such a row would
    * never match its own re-load: every re-run would append it again. */
  private def unmatched(target: DataFrame, source: DataFrame,
      keys: Seq[String]): DataFrame = {
    val srcKeys = source.select(keys.map(col).toIndexedSeq: _*).distinct()
    target.as("t").join(srcKeys.as("s"),
      keys.map(k => col(s"t.`$k`") <=> col(s"s.`$k`")).reduce(_ && _),
      "left_anti")
  }

  private def write(df: DataFrame, path: String, keys: Seq[String],
      partitionCols: Seq[String], writeSalt: Int, mode: SaveMode): Unit = {
    val d = if (partitionCols.nonEmpty)
      df.repartition((partitionCols.map(col) :+
        pmod(xxhash64(keys.map(col).toIndexedSeq: _*),
          lit(writeSalt))).toIndexedSeq: _*)
    else df
    val w = d.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols.toIndexedSeq: _*)
     else w).parquet(path)
  }

}
