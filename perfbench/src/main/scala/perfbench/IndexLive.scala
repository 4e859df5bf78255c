package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{DedupOps, Hybrid, Similarity, TextAnalysis}
import graft.streaming.StreamIndex

/** `index_live`: the retrieval indexes maintained while they serve. Set-up
  * builds BM25 and IVF indexes and a MinHash ledger over a base corpus.
  * Each batch is one arrival round: a change file (upserts and deletes
  * of documents with their embeddings) lands for
  * `StreamIndex.dualCdcWriter` and a file of arriving documents lands for
  * `StreamIndex.minhashAdmitWriter`; both streams run side by side to
  * completion. After every `compactEvery`-th round a maintenance step
  * compacts and vacuums the three indexes; a cycle is that many rounds,
  * and the indexes carry over from one cycle to the next. After each round one hybrid query
  * batch is served: BM25 and IVF lists fused by reciprocal rank. A change
  * file holds `inserts` new documents, `updates` re-embedded edits and
  * `deletes` deletions; an arrival file holds `arrivals` documents, a
  * third of them one-token edits of base documents.
  */
final class IndexLive(ctx: Ctx, baseDocs: Int, inserts: Int, updates: Int,
    deletes: Int, arrivals: Int, compactEvery: Int) extends Workload(ctx) {

  val cycle: Int = compactEvery

  /** A plain round and a compacting one. */
  override def warmBatches: Seq[Int] = Seq(0, cycle - 1)
  private val gen = ctx.gen
  private val Queries = 16
  private val K = 10
  private val Cells = 8

  private val bm25 = ctx.path("idx/bm25")
  private val ivf = ctx.path("idx/ivf")
  private val ledger = ctx.path("idx/minhash")
  private val pins = ctx.path("idx/pins")
  private val admitted = ctx.path("idx/admitted")
  private val changes = ctx.path("land/changes")
  private val arriving = ctx.path("land/arrivals")

  /** Live documents: id -> version. Text and vector are functions of
    * (id, version), so the net corpus can be rebuilt from this map. */
  private val live = mutable.LinkedHashMap.empty[Long, Int]
  private var nextId = 0L
  private var round = 0
  private val expectAdmitted = mutable.Set.empty[Long]
  private var arrived = 0L
  private var landedRows = 0L

  private def docFrame(rows: Seq[(Long, Int, String)]): DataFrame = {
    import ctx.spark.implicits._
    val src = col("doc_id") * 1000 + col("version")
    rows.toDF("doc_id", "version", "op").repartition(1)
      .sortWithinPartitions("doc_id")
      .select(col("doc_id"),
        when(col("op") === "upsert", gen.text(src, lit(-1), lit(0)))
          .as("text"),
        when(col("op") === "upsert",
          gen.vector(src, col("doc_id"), lit(false)).cast("array<double>"))
          .as("embedding"),
        col("op"))
  }

  /** Write `df` as the single file `dir/name.parquet`: one arrival. */
  private def land(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"${dir}_tmp/$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(dir))
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    fs.rename(part, new Path(dir, s"$name.parquet"))
  }

  def setup(): Unit = {
    (0 until baseDocs).foreach(i => live(i.toLong) = 0)
    nextId = baseDocs
    val base = docFrame(live.toSeq.map { case (id, v) => (id, v, "upsert") })
      .drop("op")
    gen.write(base, ctx.path("input/base"))
    val b = spark.read.parquet(ctx.path("input/base"))
    TextAnalysis.saveBm25Index(b, "doc_id", "text", bm25)
    Similarity.saveIvfIndex(b, "doc_id", "embedding", ivf,
      kCentroids = Cells, iters = 2)
    DedupOps.saveMinhashIndex(b, "doc_id", "text", ledger)
    Hybrid.commitPin(spark, pins, bm25, ivf)
  }

  /** Draw round `r`'s change and arrival files from the seed. */
  private def landRound(r: Int): Long = {
    val rng = new scala.util.Random(ctx.seed * 1000003L + r)
    val ids = live.keys.toIndexedSeq
    val touched = rng.shuffle(ids).take(updates + deletes)
    val modified = touched.take(updates)
    val deleted = touched.drop(updates)
    val added = (0 until inserts).map(_ => { nextId += 1; nextId })
    modified.foreach(id => live(id) += 1)
    deleted.foreach(live.remove)
    added.foreach(id => live(id) = 0)
    val rows = modified.map(id => (id, live(id), "upsert")) ++
      added.map(id => (id, 0, "upsert")) ++ deleted.map(id => (id, 0, "delete"))
    land(docFrame(rows), changes, f"r$r%05d")
    // arrivals: one third one-token edits of base documents (rejected by
    // the ledger), the rest new documents (admitted)
    val dups = arrivals / 3
    val fresh = (0 until arrivals - dups).map(_ => { nextId += 1; nextId })
    expectAdmitted ++= fresh
    arrived += arrivals
    val dupSpecs = (0 until dups).map { j =>
      nextId += 1
      val orig = rng.nextInt(baseDocs).toLong
      DocSpec(nextId, orig * 1000, 5 + j % 30, 0L, jitter = false)
    }
    val freshSpecs = fresh.map(id =>
      DocSpec(id, id * 1000, -1, 0L, jitter = false))
    land(gen.docsFrom(gen.specFrame(dupSpecs ++ freshSpecs))
      .select("doc_id", "text"), arriving, f"r$r%05d")
    rows.size.toLong + arrivals
  }

  private def start(name: String, dir: String,
      writer: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =
    writer(spark.read.parquet(dir).schema).queryName(name)
      .option("checkpointLocation", ctx.path(s"ckpt/$name"))
      .start()

  private var landedThisRound = 0L

  /** Landing the round's files is the arrival, not the system's work:
    * it happens before the batch's clock starts. */
  override def prepare(i: Int): Unit = {
    landedThisRound = landRound(round)
    landedRows += landedThisRound
  }

  def batch(i: Int): Long = {
    // the two streams are independent and run side by side, as they
    // would in one long-lived session
    ctx.span("streaming.round", "streaming") {
      val cdc = start("cdc", changes, s =>
        StreamIndex.dualCdcWriter(spark, changes, s, bm25, ivf, pins,
          "doc_id", "text", "embedding", "op"))
      val admit = start("admit", arriving, s =>
        StreamIndex.minhashAdmitWriter(spark, arriving, s, ledger, admitted,
          "doc_id", "text", 0.5))
      try cdc.awaitTermination() finally admit.awaitTermination()
    }
    round += 1
    landedThisRound
  }

  override def maintains(i: Int): Boolean = i == cycle - 1

  /** Compact and vacuum the three indexes, then re-pin the pair. */
  override def maintain(): Unit =
    ctx.span("sinks.compact", "sinks") {
      TextAnalysis.compactBm25Index(spark, bm25)
      TextAnalysis.vacuumBm25Index(spark, bm25, keepVersions = 2)
      Similarity.compactIvfIndex(spark, ivf)
      Similarity.vacuumIvfIndex(spark, ivf, keepVersions = 2)
      DedupOps.compactMinhashIndex(spark, ledger)
      DedupOps.vacuumMinhashIndex(spark, ledger, keepVersions = 2)
      Hybrid.commitPin(spark, pins, bm25, ivf)
    }

  /** `n` queries drawn from live documents: three of a document's own
    * words, and its vector with a small jitter. */
  private def queries(n: Int, salt: Long): DataFrame = {
    import ctx.spark.implicits._
    val rng = new scala.util.Random(ctx.seed * 31L + salt)
    val ids = live.toIndexedSeq
    val picks = (0 until n).map { q =>
      val (id, v) = ids(rng.nextInt(ids.size))
      (1000000000L + salt * 1000 + q, id * 1000 + v)
    }
    picks.toDF("query_id", "src").repartition(1).select(col("query_id"),
      gen.terms(col("src"), 3).as("terms"),
      gen.vector(col("src"), col("query_id"), lit(true))
        .cast("array<double>").as("embedding"))
  }

  private def lexList(path: String, q: DataFrame) =
    TextAnalysis.queryBm25IndexBatch(spark, path, q, "query_id", "terms", k = K)
      .select(col("query_id"), col("rank"), col("doc_id").as("vec_id"))

  private def vecList(path: String, q: DataFrame, nprobe: Int) =
    Similarity.queryIvfIndex(spark, path,
      q.select(col("query_id"), col("embedding")), "query_id", "embedding",
      k = K, nprobe = nprobe)

  def query(i: Int): Long = {
    val q = queries(Queries, round).localCheckpoint()
    Serve.fused(ctx, lexList(bm25, q), vecList(ivf, q, 2), K)
  }

  def check(): Seq[String] = {
    val net = docFrame(live.toSeq.map { case (id, v) => (id, v, "upsert") })
      .drop("op").localCheckpoint()
    val refBm25 = ctx.path("check/bm25")
    TextAnalysis.saveBm25Index(net, "doc_id", "text", refBm25)
    val q = queries(2 * Queries, -1).localCheckpoint()
    val lex = TextAnalysis.queryBm25IndexBatch(spark, bm25, q, "query_id",
      "terms", k = K)
    val lexRef = TextAnalysis.queryBm25IndexBatch(spark, refBm25, q,
      "query_id", "terms", k = K)
    val vec = vecList(ivf, q, Cells)
    val vecRef = Similarity.bruteForceTopK(net,
      q.select(col("query_id").as("doc_id"), col("embedding")),
      "doc_id", "embedding", K)
    def asList(df: DataFrame) =
      df.select(col("query_id"), col("rank"), col("doc_id").as("vec_id"))
    val fused = Similarity.rrfFuse(asList(lex), vec, K)
    val fusedRef = Similarity.rrfFuse(asList(lexRef), vecRef, K)
    val got = spark.read.parquet(admitted).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val admitFail =
      if (got == expectAdmitted.toSet) Nil
      else Seq(s"index_live: admitted ${got.size} documents, expected " +
        s"${expectAdmitted.size} (${(got -- expectAdmitted).size} wrongly, " +
        s"${(expectAdmitted.toSet -- got).size} missed)")
    Workload.diff("index_live bm25", lex, lexRef).toSeq ++
      Workload.diff("index_live ivf", vec, vecRef) ++
      Workload.diff("index_live fused", fused, fusedRef) ++ admitFail
  }

  def inputStats: Seq[(String, Long, Long)] = Seq(
    ("base", baseDocs.toLong, Workload.bytesUnder(spark, ctx.path("input"))),
    ("landed", landedRows, Workload.bytesUnder(spark, ctx.path("land"))))

  def storedBytes: Long = Workload.bytesUnder(spark, ctx.path("idx"))

  def storedInputBytes: Long = inputStats.map(_._3).sum

  override def layerSnapshot(): Map[String, Double] =
    Indexes.snapshot(spark, Seq(bm25, ivf, ledger)) +
      ("ext.admit_ratio" -> (if (arrived == 0) 0.0
        else spark.read.parquet(admitted).count().toDouble / arrived))

  /** Index and output directories, for tests that corrupt them. */
  def paths: Map[String, String] =
    Map("bm25" -> bm25, "ivf" -> ivf, "admitted" -> admitted)
}
