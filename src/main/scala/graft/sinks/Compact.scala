package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the lakehouse maintenance op. Streaming
  * sinks, per-trigger appends, and over-parallel writes leave a table as
  * thousands of KB-sized files; every later scan then pays one task +
  * one open per file and the NameNode/listing pays the metadata. Compact
  * rewrites the data into ~`targetBytes` files without changing a row.
  *
  * Sizing comes from the files' actual on-disk bytes (not a row-count
  * guess): nFiles = ceil(totalBytes / targetBytes). The rewrite is one
  * `repartition(n)` round-robin shuffle — even output sizes by
  * construction. At 100 TB compaction runs per PARTITION (directory),
  * not per table: each date directory compacts independently (bounded
  * job), which composes with [[PartitionedWrite]]'s layout; pair with
  * [[SortedWrite]] to restore in-file ordering when the table is
  * range-queried.
  *
  * Content contract: output rows == input rows, exactly — gated by the
  * x64 oracle (identity over the staged table) and CompactSpec's
  * file-count + content assertions. */
object Compact {

  /** Total bytes of the parquet data files under `path`, probed through
    * the Hadoop FileSystem API so the same call works on local disk,
    * HDFS, S3A, or any other Hadoop-compatible store — `path` may be a
    * bare local path or a full `hdfs://`/`s3a://` URI. A missing or
    * unreadable directory raises a clear error instead of an NPE. */
  private[sinks] def dataBytes(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"Compact: no such path: $path")
    val it = fs.listFiles(p, /*recursive=*/ true)
    var total = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        total += st.getLen
    }
    total
  }

  /** Rewrite `path` into ceil(totalBytes/targetBytes) files at `out`.
    * Returns the file count written. */
  def compact(spark: SparkSession, path: String, out: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive")
    val total = dataBytes(spark, path)
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(out)
    n
  }

  /** Read a compacted table back. */
  def read(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)

  /** Partition jobs [[compactPartitioned]] keeps in flight. Its own
    * bounded pool, not graft.Concurrently: its job count grows with the
    * table's partition count. */
  private val PartitionWindow = 8

  /** Per-partition compaction driver — the 100 TB shape the [[compact]]
    * scaladoc promises: a Hive-layout table (`base/col=value/…`)
    * compacts one PARTITION DIRECTORY at a time. Directories come from
    * one Hadoop FS listing (works on local/HDFS/S3A alike); each then
    * runs [[compact]] as an independent BOUNDED job — size its own
    * bytes, one round-robin shuffle, write `ceil(bytes/targetBytes)`
    * files under `out/<dir>`. At most [[PartitionWindow]] partition jobs
    * are in flight at once (Spark's scheduler interleaves concurrent
    * jobs from driver threads), so peak cluster footprint is that many
    * partitions, never the table — a 100 TB × 1000-day table is 1000
    * small jobs draining through a bounded window, and an incremental
    * run compacts only the partitions a streaming sink touched today
    * instead of one table-wide shuffle. Output keeps the Hive layout:
    * `out` reads back as the same partitioned table, row-for-row (gated
    * x72, same identity-oracle discipline as x64).
    *
    * Returns partition-directory → files written, sorted by name.
    *
    * Failure contract: if any partition job throws, queued partitions
    * are cancelled, in-flight ones are interrupted, and the pool is
    * DRAINED before the error propagates — no worker is still writing
    * under `out/` when the caller handles the failure. Completed
    * `out/<dir>` directories are left in place (each is internally
    * complete; rerunning overwrites them); an interrupted job aborts
    * into Spark's uncommitted `_temporary` staging, never a committed
    * dir — so a failed run leaves a partial but non-corrupt `out`. */
  def compactPartitioned(spark: SparkSession, base: String, out: String,
      targetBytes: Long): Seq[(String, Int)] = {
    import org.apache.hadoop.fs.Path
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(targetBytes > 0, s"targetBytes must be positive")
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"Compact: no such path: $base")
    val parts = fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.getName).sorted
    require(parts.nonEmpty,
      s"Compact: no Hive-layout partition directories under $base")
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(PartitionWindow, parts.length))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val inFlight = parts.toSeq
        .map(d => Future(d -> compact(spark, s"$base/$d", s"$out/$d", targetBytes)))
      try inFlight.map(Await.result(_, Duration.Inf))
      catch { case first: Throwable =>
        // discard queued partitions, interrupt in-flight ones, and wait
        // for the pool to drain: no worker may still be writing under
        // out/ when the failure reaches the caller. (Await the POOL,
        // not the futures — a discarded queued task never completes
        // its promise.)
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue,
          java.util.concurrent.TimeUnit.NANOSECONDS)
        throw first
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue,
        java.util.concurrent.TimeUnit.NANOSECONDS)
    }
  }
}
