package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Checkpoints, DedupOps, Similarity, TextAnalysis}

/** `corpus_dedup`: batch curation of one corpus per batch — exact dedup,
  * MinHash near-duplicate pairs and their connected components, semantic
  * dedup over the embeddings, mutual-kNN topic clusters, then BM25, IVF
  * and MinHash index builds over the survivors. Every batch curates the
  * same generated corpus into a fresh output directory, so every batch
  * does the same work. The query batches after each curation are fixed
  * probe sets served from its new indexes. The corpus carries injected
  * duplicate groups (exact copies, one-token edits, and re-worded texts
  * with jittered vectors) whose ground truth the generator keeps.
  */
final class CorpusDedup(ctx: Ctx, docs: Int, groups: Int)
    extends Workload(ctx) {

  val cycle: Int = 1
  private val gen = ctx.gen
  private val Probes = 16
  private val ProbeSets = 2
  private var served = 0
  private val K = 10
  private val Cells = 8
  private var cycleNo = 0

  /** Injected groups: original id -> copy ids. */
  private var truth = Map.empty[Long, Seq[Long]]

  private def in(t: String) = ctx.path(s"input/$t")
  private def out(t: String) = ctx.path(s"out/cycle=$cycleNo/$t")

  def setup(): Unit = {
    val rng = new scala.util.Random(ctx.seed * 7919)
    val copies = (0 until groups).map { g =>
      val orig = g.toLong
      val n = 1 + rng.nextInt(2)
      orig -> (0 until n).map { j =>
        val id = docs + g * 3L + j
        g % 3 match {
          case 0 => DocSpec(id, orig, -1, orig, jitter = false)
          case 1 => DocSpec(id, orig, 5 + 7 * j, orig, jitter = true)
          case _ => DocSpec(id, id, -1, orig, jitter = true)
        }
      }
    }
    truth = copies.map { case (o, cs) => o -> cs.map(_.id) }.toMap
    val all = gen.docsFrom(gen.baseSpecs(0, docs)
      .unionByName(gen.specFrame(copies.flatMap(_._2))))
    gen.write(all.select("doc_id", "text"), in("documents"))
    gen.write(all.select(col("doc_id").as("vec_id"), col("embedding")),
      in("embeddings"))
    // probe sets: jittered copies of base documents outside every group
    val probeSrc = spark.range(0, Probes * ProbeSets, 1, 1).select(
      (lit(1000000000L) + col("id")).as("query_id"),
      (lit(docs - Probes * ProbeSets) + col("id")).as("src"),
      (col("id") / Probes).cast("int").as("set"))
    gen.write(probeSrc.select(col("query_id"),
      gen.vector(col("src"), col("query_id"), lit(true)).as("embedding"),
      gen.terms(col("src"), 3).as("terms"), col("set")), in("probes"))
  }

  override def startCycle(n: Int): Unit = cycleNo = n

  def batch(i: Int): Long = {
    val d = spark.read.parquet(in("documents"))
    val v = spark.read.parquet(in("embeddings"))
    def mat(df: DataFrame) = Checkpoints.materialize(df, reliable = false)
    val (s1, _) = ctx.span("ext.exact_dedup", "ext")(mat(d.join(
      DedupOps.exactDedupHashed(d, "text", "doc_id")
        .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")))
    val (pairs, _) = ctx.span("ext.minhash_pairs", "ext")(
      mat(DedupOps.minhashPairs(s1, "doc_id", "text")))
    val (labels, _) = ctx.span("ext.dedup_clusters", "ext")(
      DedupOps.dedupClusters(pairs, "doc_a", "doc_b"))
    val s2 = s1.join(labels.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    val (v3, _) = ctx.span("ext.sem_dedup", "ext") {
      val v2 = v.join(s2.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
      val sem = DedupOps.semDedupClusters(v2, "vec_id", "embedding",
        Cells, 2, 0.9)
      mat(v2.join(sem.filter(col("keep") === 1).select("vec_id"),
        Seq("vec_id"), "left_semi"))
    }
    val s3 = mat(s2.join(v3.select(col("vec_id").as("doc_id")), Seq("doc_id"),
      "left_semi"))
    val knnStart = ctx.rec.map(_ => SqlRows.lastExecution(spark))
    val (topics, _) = ctx.span("ext.knn", "ext")(mat(
      Similarity.mutualKnnClusters(v3, "vec_id", "embedding", k = 3,
        kCentroids = Cells, iters = 2, nprobe = 2)))
    knnStart.foreach { from =>
      ctx.add("_ext.knn_rows_scored", SqlRows.scoredPairs(spark, from))
      ctx.add("_ext.knn_results", topics.count() * 3.0)
    }
    ctx.span("sinks.curated", "sinks")(
      s3.join(topics.select(col("vec_id").as("doc_id"),
        col("cluster_id").as("topic")), Seq("doc_id"), "left")
        .write.mode("overwrite").parquet(out("curated")))
    ctx.span("ext.index_build.bm25", "ext")(
      TextAnalysis.saveBm25Index(s3, "doc_id", "text", out("bm25")))
    ctx.span("ext.index_build.ivf", "ext")(
      Similarity.saveIvfIndex(v3, "vec_id", "embedding", out("ivf"),
        kCentroids = Cells, iters = 2))
    ctx.span("ext.index_build.minhash", "ext")(
      DedupOps.saveMinhashIndex(s3, "doc_id", "text", out("minhash")))
    Seq(s1, pairs, labels, v3, s3, topics).foreach(Checkpoints.release)
    inputRows
  }

  private def inputRows: Long = docs.toLong + truth.values.map(_.size).sum

  private def probes(set: Int) = spark.read.parquet(in("probes"))
    .filter(col("set") === set)

  /** Exhaustive probing (nprobe = cells), so the IVF list is exact. */
  private def vecList(set: Int) = Similarity.queryIvfIndex(spark, out("ivf"),
    probes(set).select(col("query_id").as("vec_id"), col("embedding")),
    "vec_id", "embedding", k = K, nprobe = Cells)

  private def lexList(set: Int) = TextAnalysis.queryBm25IndexBatch(
    spark, out("bm25"), probes(set), "query_id", "terms", k = K)
    .select(col("query_id"), col("rank"), col("doc_id").as("vec_id"))

  override def queriesPerBatch: Int = ProbeSets

  def query(i: Int): Long = {
    val set = served % ProbeSets
    served += 1
    Serve.fused(ctx, lexList(set), vecList(set), K)
  }

  def check(): Seq[String] = {
    val ids = spark.read.parquet(in("documents"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = truth.values.flatten.toSet
    val expected = ids -- dropped
    val survivors = spark.read.parquet(out("curated"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val groupFails = truth.collect {
      case (o, cs) if (cs.toSet + o).count(survivors) != 1 =>
        s"corpus_dedup: group $o kept ${(cs.toSet + o).count(survivors)} members"
    }.toSeq.sorted.take(5)
    val others = (survivors -- expected).size + (expected -- survivors)
      .count(id => !truth.contains(id))
    val otherFail =
      if (others == 0) Nil
      else Seq(s"corpus_dedup: $others documents outside the injected groups kept or dropped wrongly")
    val expectedVecs = spark.read.parquet(in("embeddings"))
      .filter(col("vec_id").isin(expected.toSeq: _*))
    val brute = Similarity.bruteForceTopK(expectedVecs,
      probes(0).select(col("query_id").as("vec_id"), col("embedding")),
      "vec_id", "embedding", K)
    groupFails ++ otherFail ++
      Workload.diff("corpus_dedup knn probes", vecList(0), brute)
  }

  def inputStats: Seq[(String, Long, Long)] = Seq(
    ("documents", inputRows, Workload.bytesUnder(spark, ctx.path("input"))))

  def storedBytes: Long = Workload.bytesUnder(spark, ctx.path(s"out/cycle=$cycleNo"))

  def storedInputBytes: Long = Workload.bytesUnder(spark, ctx.path("input"))

  override def layerSnapshot(): Map[String, Double] =
    Indexes.snapshot(spark, Seq(out("bm25"), out("ivf"), out("minhash")))

  /** The last batch's output directory, for tests that corrupt it. */
  def output(t: String): String = out(t)
}
