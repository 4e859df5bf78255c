package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.Similarity

/** The hybrid query batch both index workloads serve. */
object Serve {

  /** Fuse a lexical and a vector top-k list by reciprocal rank and return
    * the fused rows to the client. Traced batches materialize each list
    * in its own span first, so the fuse span times the fuse alone. */
  def fused(ctx: Ctx, lex: DataFrame, vec: DataFrame, k: Int): Long =
    ctx.rec match {
      case None => Similarity.rrfFuse(lex, vec, k).collect().length.toLong
      case Some(_) =>
        val spark = ctx.spark
        val from = SqlRows.lastExecution(spark)
        val (l, b) = ctx.span("ext.query.bm25", "ext")(lex.localCheckpoint())
        val (v, i) = ctx.span("ext.query.ivf", "ext")(vec.localCheckpoint())
        val scanned = SqlRows.scannedRows(spark, from)
        val (rows, f) = ctx.span("ext.query.fuse", "ext")(
          Similarity.rrfFuse(l, v, k).collect().length.toLong)
        ctx.add("ext.query.bm25_s", b)
        ctx.add("ext.query.ivf_s", i)
        ctx.add("ext.query.fuse_s", f)
        ctx.add("_ext.serve_rows_scanned", scanned)
        ctx.add("_ext.serve_results", rows.toDouble)
        rows
    }
}

/** Row counts from Spark's SQL execution metrics (the SQL status store
  * keeps them whether or not the UI runs). */
object SqlRows {

  private def store(spark: SparkSession) = spark.sharedState.statusStore

  def lastExecution(spark: SparkSession): Long = {
    org.apache.spark.graft.BenchHygiene.drainListenerBus(spark.sparkContext)
    store(spark).executionsList().map(_.executionId).foldLeft(-1L)(math.max)
  }

  /** Sum of `number of output rows` over plan nodes accepted by `pick`,
    * for executions newer than `from`. */
  private def rows(spark: SparkSession, from: Long)(
      pick: (String, String) => Boolean): Double = {
    org.apache.spark.graft.BenchHygiene.drainListenerBus(spark.sparkContext)
    val st = store(spark)
    st.executionsList().filter(_.executionId > from).map { e =>
      val values = st.executionMetrics(e.executionId)
      st.planGraph(e.executionId).allNodes.filter(n => pick(n.name, n.desc))
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(s => s.filter(_.isDigit)).filter(_.nonEmpty).map(_.toDouble).sum
    }.sum
  }

  /** Candidate (query, vector) pairs scored: rows out of the bucket join
    * whose condition drops a query's own id, right before the cosine is
    * computed for each of them. */
  def scoredPairs(spark: SparkSession, from: Long): Double =
    rows(spark, from)((name, desc) => (name.contains("Join") ||
      name == "Filter") && desc.matches("(?s).*NOT \\(vec_id#\\d+L = query_id#.*"))

  /** Rows produced by file scans. */
  def scannedRows(spark: SparkSession, from: Long): Double =
    rows(spark, from)((name, _) => name.startsWith("Scan"))
}

/** Manifest state of persisted indexes, read from the newest
  * `manifest_v<N>.json` of each index directory. */
object Indexes {
  def snapshot(spark: SparkSession, paths: Seq[String]): Map[String, Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifests = paths.flatMap { p =>
      val root = new Path(p)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(root)) None
      else fs.listStatus(root).map(_.getPath)
        .filter(f => f.getName.startsWith("manifest_v") && f.getName.endsWith(".json"))
        .sortBy(_.getName).lastOption
        .map { f =>
          val in = fs.open(f)
          try mapper.readTree(in) finally in.close()
        }
    }
    Map(
      "sinks.index_versions" ->
        manifests.map(_.get("version").asLong() + 1).sum.toDouble,
      "sinks.index_segments_live" -> manifests.map(m =>
        m.get("tables").elements().asScala.map(_.size()).sum).sum.toDouble,
      "sinks.index_dir_bytes" ->
        paths.map(Workload.bytesUnder(spark, _)).sum.toDouble)
  }
}
