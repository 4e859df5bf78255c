package graft.sinks

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{Corpus, DedupOps, Similarity, TextAnalysis}
import graft.sources.Tables

/** [[Segments.read]], the one reader of committed segments: it plans an
  * index read without a Spark job (the schema comes from one footer,
  * read on the driver), and the schema it reads is the one Spark's own
  * inference reads, for every table of every segmented family. */
class SegmentsReadSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, Sf0001, "documents")
    .select("doc_id", "text", "source")
  private lazy val emb =
    spark.read.parquet(s"$Sf0001/embeddings.parquet")

  private def scratch(): String =
    Files.createTempDirectory("graft-segread-").resolve("idx").toString

  /** (jobs started, jobs started outside a SQL execution) by `body`. */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val (all, bare) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (js.properties == null ||
            js.properties.getProperty("spark.sql.execution.id") == null)
          bare.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.BenchHygiene.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.graft.BenchHygiene.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    (all.get, bare.get)
  }

  test("planning a scan over a 3-segment table runs no Spark job") {
    val idx = scratch()
    val d = docs.filter(col("doc_id") < 90)
    TextAnalysis.saveBm25Index(d.filter(col("doc_id") < 30), "doc_id",
      "text", idx)
    TextAnalysis.appendToBm25Index(spark, idx,
      d.filter(col("doc_id").between(30, 59)), "doc_id", "text", "b1")
    TextAnalysis.appendToBm25Index(spark, idx,
      d.filter(col("doc_id") >= 60), "doc_id", "text", "b2")
    val snap = Segments.snapshot(spark, idx)
    assert(snap.segs("postings").length == 3)
    val (jobs, _) = jobsOf {
      Segments.scan(spark, idx, snap, "postings")
        .filter(col("term") === "hash").queryExecution.executedPlan
    }
    assert(jobs == 0, s"planning the scan ran $jobs Spark job(s)")
  }

  test("planning queryIvfIndex over metadata columns and a tombstone " +
      "runs only the centroid read") {
    val idx = scratch()
    Similarity.saveIvfIndex(emb.filter(col("vec_id") < 300), "vec_id",
      "embedding", idx, kCentroids = 4, iters = 2,
      metaCols = Seq("label"))
    Similarity.appendToIvfIndex(spark, idx,
      emb.filter(col("vec_id") >= 300), "vec_id", "embedding", "b1")
    Similarity.deleteFromIvfIndex(spark, idx,
      Seq(1L, 2L, 301L).toDF("vec_id"), "vec_id", "d1")
    val snap = Segments.snapshot(spark, idx)
    assert(snap.segs(Segments.Deletes).nonEmpty)
    val queries = emb.filter(col("vec_id") < 3)
    val (jobs, bare) = jobsOf {
      Similarity.queryIvfIndex(spark, idx, queries, "vec_id",
        "embedding", k = 5).queryExecution.executedPlan
    }
    // the k-row centroid collect is the one job planning needs; no
    // schema inference or listing job runs outside a SQL execution
    assert(bare == 0, s"planning ran $bare job(s) outside a query")
    assert(jobs == 1, s"planning ran $jobs job(s), expected 1")
  }

  test("Segments.read reads Spark's inferred schema for every table of " +
      "every segmented family") {
    val d = docs.filter(col("doc_id") < 80)
    val d2 = docs.filter(col("doc_id").between(80, 99))
    val kv = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), (col("doc_id") % 7).as("k"),
        (col("doc_id") * 3).as("v"), col("source"))
    val roots = Seq.fill(16)(scratch())
    val Seq(bm25, ivf, pq, mh, ct, cts, sh, cdc, chunk, host, cms, hll,
      hist, kll, gkll, vocab) = roots
    TextAnalysis.saveBm25Index(d, "doc_id", "text", bm25)
    TextAnalysis.appendToBm25Index(spark, bm25, d2, "doc_id", "text",
      "b1")
    TextAnalysis.deleteFromBm25Index(spark, bm25, Seq(1L).toDF("doc_id"),
      "doc_id", "d1")
    Similarity.saveIvfIndex(emb.filter(col("vec_id") < 300), "vec_id",
      "embedding", ivf, kCentroids = 4, metaCols = Seq("label"))
    Similarity.appendToIvfIndex(spark, ivf,
      emb.filter(col("vec_id") >= 300), "vec_id", "embedding", "b1")
    Similarity.deleteFromIvfIndex(spark, ivf, Seq(1L).toDF("vec_id"),
      "vec_id", "d1")
    Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", pq,
      kCentroids = 4, m = 4, ks = 8)
    DedupOps.saveMinhashIndex(d, "doc_id", "text", mh)
    DedupOps.appendToMinhashIndex(spark, mh, d2, "doc_id", "text", "b1")
    DedupOps.saveContainmentIndex(d, "doc_id", "text", ct)
    DedupOps.saveContainmentSetIndex(
      Seq((1L, Seq(10L, 20L)), (4L, Seq(30L))).toDF("doc_id", "fset"),
      "doc_id", "fset", cts)
    DedupOps.saveSimhashLedger(Seq((0L, 12345L)).toDF("doc_id", "sh"), sh)
    DedupOps.appendToSimhashLedger(spark, sh,
      Seq((1L, 54321L)).toDF("doc_id", "sh"), "b1")
    DedupOps.saveCdcChunkLedger(d, "doc_id", "text", cdc, 8, "spec")
    DedupOps.saveChunkLedger(d, "doc_id", "text", chunk, chunkWords = 2)
    DedupOps.saveHostBudgetLedger(d, "doc_id", "source", host, cap = 3)
    Corpus.saveCmsSketch(kv, col("k"), cms, depth = 3, width = 512)
    Corpus.saveHllSketch(kv, col("k"), hll)
    Corpus.saveHistSketch(kv, col("v"), hist, bucketWidth = 17L)
    Corpus.saveKllSketch(kv, col("v"), kll, k = 32)
    Corpus.saveGroupedKllSketch(kv, col("v"), "source", gkll, k = 32)
    TextAnalysis.saveUnigramVocab(TextAnalysis.unigramLearn(
      Seq((1L, "abcd abcd zz")).toDF("doc_id", "text"), "text"), vocab)

    val fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())
    def compare(dirs: Seq[String]): Unit =
      assert(Segments.read(spark, dirs).schema ==
        spark.read.parquet(dirs: _*).schema, dirs.mkString(", "))
    val compared = for {
      root <- roots
      (table, segs) <- Segments.snapshot(spark, root).tables.toSeq
      if segs.nonEmpty
    } yield {
      // a `batch=<seg>` partition directory (the IVF corpus) is read
      // alone: several of them need the root as the base path, below
      val partitioned = segs.map(s => s"$root/$table/batch=$s")
      if (fs.exists(new Path(partitioned.head)))
        partitioned.foreach(d => compare(Seq(d)))
      else compare(segs.map(s => s"$root/$table/$s"))
      table
    }
    assert(compared.length >= 30, s"compared only $compared")
    // the IVF serve's root read: partition columns come from discovery
    for (root <- Seq(ivf, pq))
      assert(Segments.read(spark, Seq(s"$root/corpus"),
          Some(s"$root/corpus/batch=base")).schema ==
        spark.read.parquet(s"$root/corpus").schema)
  }
}
