package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.ext.TextAnalysis
import graft.sinks.IndexManifest
import graft.sources.Tables

/** Streaming index maintenance with inline auto-compaction (x102):
  * the live segment count stays bounded by the threshold across a
  * stream's lifetime, folded batches replay as no-ops even from a
  * FRESH checkpoint (content-derived batchIds), and the final index
  * equals the one-shot build. */
class StreamIndexSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.load(spark, Sf0001, "documents")
  private val terms = Seq("hash", "join", "merge")

  private def fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
    spark.sessionState.newHadoopConf())

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_terms", "score")
      .as[(Long, Long, Double)].collect().toSeq

  test("auto-compaction bounds live segments; replay from a fresh " +
      "checkpoint no-ops; answers equal the one-shot build") {
    val base = Files.createTempDirectory("graft-streamidx-").toString
    val idx = s"$base/idx"
    TextAnalysis.saveBm25Index(docs.filter(col("doc_id") < 150),
      "doc_id", "text", idx)
    docs.filter(col("doc_id") >= 150)
      .repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/newdocs")
    val schema = spark.read.parquet(s"$base/newdocs").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.bm25AppendWriter(spark, s"$base/newdocs",
          schema, idx, "doc_id", "text", compactEvery = 2)
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    val s1 = IndexManifest.latest(fs, idx).get
    assert(s1.segs("postings").length <= 2,
      s"threshold 2 exceeded: ${s1.segs("postings")}")
    assert(s1.applied.length == 3, s"3 streamed batches: ${s1.applied}")
    // replay every file through a FRESH checkpoint: the per-checkpoint
    // micro-batch counter restarts, but content-derived ids match the
    // applied record — nothing lands twice, no manifest commits
    run("ckpt2")
    val s2 = IndexManifest.latest(fs, idx).get
    assert(s2 == s1, "fresh-checkpoint replay must be a full no-op")
    val full = s"$base/full"
    TextAnalysis.saveBm25Index(docs, "doc_id", "text", full)
    assert(rows(TextAnalysis.queryBm25Index(spark, idx, terms, 10)) ==
      rows(TextAnalysis.queryBm25Index(spark, full, terms, 10)))
  }

  test("simhashAdmitWriter (x202): sequential greedy admission — " +
      "later batches dedup against earlier admissions; fresh-" +
      "checkpoint replay is a full no-op on ledger AND output") {
    import graft.ext.DedupOps
    val base = Files.createTempDirectory("graft-shadmit-").toString
    // sigs where batch 2 contains a near-dup OF A BATCH-1 ADMISSION
    // (id 20 ~ id 10), a near-dup of the base (id 21 ~ id 0), and a
    // novel sig (id 22)
    val s0 = 0x0123456789abcdeL
    val b1dup = s0 ^ 7L                 // Hamming 3 from s0 → rejected
    val novel1 = 0x7edcba9876543210L    // far from s0
    val b2dupOfNovel1 = novel1 ^ 3L     // Hamming 2 from novel1
    val b2dupOfBase = s0 ^ 1L           // Hamming 1 from s0
    val novel2 = 0x5a5a5a5a5a5a5aL
    DedupOps.saveSimhashLedger(
      Seq((0L, s0)).toDF("doc_id", "sh"), s"$base/ledger")
    graft.SparkEntry.landOrdered(spark, Seq(
      Seq((10L, novel1), (11L, b1dup)).toDF("doc_id", "sh"),
      Seq((20L, b2dupOfNovel1), (21L, b2dupOfBase), (22L, novel2))
        .toDF("doc_id", "sh")), s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.simhashAdmitWriter(spark, s"$base/in",
          schema, s"$base/ledger", s"$base/out", maxHamming = 7,
          probeBits = 1)
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    def admitted() = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    // 10 novel → in; 11 near s0 → out; 20 near ADMITTED 10 → out;
    // 21 near base s0 → out; 22 novel → in
    assert(admitted() == Set(10L, 22L))
    val v1 = DedupOps.simhashLedgerVersion(spark, s"$base/ledger")
    // fresh-checkpoint replay: content ids match the applied record —
    // no new ledger version, no output change (and no empty overwrite
    // of a batch's admissions)
    run("ckpt2")
    assert(admitted() == Set(10L, 22L))
    assert(DedupOps.simhashLedgerVersion(spark, s"$base/ledger") == v1)
    // the ledger now serves the post-stream state: a new near-dup of
    // the streamed admission 22 is rejected at the batch API too
    assert(DedupOps.simhashLedgerAdmit(spark, s"$base/ledger",
        Seq((30L, novel2 ^ 2L)).toDF("doc_id", "sh"), maxHamming = 7)
      .count() == 0L)
  }

  test("containmentAdmitWriter (x245): greedy admission on the " +
      "quotation axis — a quote of an earlier ADMISSION rejects; " +
      "fresh-checkpoint replay is a full no-op") {
    import graft.ext.DedupOps
    val base = Files.createTempDirectory("graft-ctadmit-").toString
    DedupOps.saveContainmentIndex(
      Seq((0L, "a b c d e f g h")).toDF("doc_id", "text"),
      "doc_id", "text", s"$base/ledger", n = 5)
    // batch 1: novel doc 10 + doc 11 quoting the base; batch 2: doc
    // 20 quoting batch-1 ADMISSION 10, doc 21 quoting the base, novel
    // doc 22
    graft.SparkEntry.landOrdered(spark, Seq(
      Seq((10L, "p q r s t u v w"), (11L, "a b c d e f"))
        .toDF("doc_id", "text"),
      Seq((20L, "p q r s t u"), (21L, "b c d e f g"),
        (22L, "m1 m2 m3 m4 m5 m6 m7")).toDF("doc_id", "text")),
      s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.containmentAdmitWriter(spark, s"$base/in",
          schema, s"$base/ledger", s"$base/out", "doc_id", "text",
          threshold = 0.8)
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    def admitted() = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted() == Set(10L, 22L))
    val v1 = DedupOps.containmentIndexVersion(spark, s"$base/ledger")
    run("ckpt2")
    assert(admitted() == Set(10L, 22L))
    assert(DedupOps.containmentIndexVersion(spark, s"$base/ledger")
      == v1)
    // the ledger serves the post-stream state at the batch API too
    assert(DedupOps.containmentAdmit(spark, s"$base/ledger",
        Seq((30L, "m1 m2 m3 m4 m5")).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.8).count() == 0L)
  }

  test("minhashAdmitWriter (x247): greedy admission on the Jaccard " +
      "axis; fresh-checkpoint replay is a full no-op") {
    import graft.ext.DedupOps
    val base = Files.createTempDirectory("graft-mhadmit-").toString
    DedupOps.saveMinhashIndex(
      Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", s"$base/ledger")
    // batch 1: novel 10 + exact copy 11 of the base; batch 2: exact
    // copy 20 of batch-1 ADMISSION 10, novel 22
    graft.SparkEntry.landOrdered(spark, Seq(
      Seq((10L, "epsilon zeta eta theta"),
        (11L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      Seq((20L, "epsilon zeta eta theta"),
        (22L, "iota kappa lambda mu")).toDF("doc_id", "text")),
      s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.minhashAdmitWriter(spark, s"$base/in",
          schema, s"$base/ledger", s"$base/out", "doc_id", "text",
          threshold = 0.5)
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    def admitted() = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted() == Set(10L, 22L))
    val v1 = DedupOps.minhashIndexVersion(spark, s"$base/ledger")
    run("ckpt2")
    assert(admitted() == Set(10L, 22L))
    assert(DedupOps.minhashIndexVersion(spark, s"$base/ledger") == v1)
  }

  test("chunkDedupWriter (x263): each batch rewrites against all " +
      "earlier batches' chunks; fresh-checkpoint replay is a full " +
      "no-op") {
    import graft.ext.DedupOps
    val base = Files.createTempDirectory("graft-ckdedup-").toString
    DedupOps.saveChunkLedger(
      Seq((0L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", s"$base/ledger", chunkWords = 2)
    // batch 1: doc 10 repeats the base's "a b"; batch 2: doc 20
    // repeats batch 1's "x y" AND the base's "c d"
    graft.SparkEntry.landOrdered(spark, Seq(
      Seq((10L, "a b x y")).toDF("doc_id", "text"),
      Seq((20L, "x y c d q r")).toDF("doc_id", "text")),
      s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.chunkDedupWriter(spark, s"$base/in",
          schema, s"$base/ledger", s"$base/out", "doc_id", "text")
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    def out() = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_kept", "dedup_text")
      .as[(Long, Long, String)].collect().toSet
    assert(out() == Set((10L, 1L, "x y"), (20L, 1L, "q r")))
    val fs = new org.apache.hadoop.fs.Path(s"$base/ledger")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = IndexManifest.latest(fs, s"$base/ledger").get.version
    run("ckpt2")
    assert(out() == Set((10L, 1L, "x y"), (20L, 1L, "q r")))
    assert(IndexManifest.latest(fs, s"$base/ledger").get.version == v1)
  }

  test("hostBudgetAdmitWriter (x261): greedy per-host budget — a " +
      "host filled by batch 1 rejects batch 2; fresh-checkpoint " +
      "replay is a full no-op") {
    import graft.ext.DedupOps
    val base = Files.createTempDirectory("graft-hbadmit-").toString
    DedupOps.saveHostBudgetLedger(
      Seq((0L, "h1")).toDF("doc_id", "host"), "doc_id", "host",
      s"$base/ledger", cap = 2)
    // batch 1 fills h1 (10; 11 over cap) and starts h2 (12); batch 2:
    // 20 hits the FULL h1, 21 takes h2's last slot, 22 is over it,
    // 23 has no host
    graft.SparkEntry.landOrdered(spark, Seq(
      Seq((10L, "h1"), (11L, "h1"), (12L, "h2"))
        .toDF("doc_id", "host"),
      Seq((20L, "h1"), (21L, "h2"), (22L, "h2"),
        (23L, null.asInstanceOf[String])).toDF("doc_id", "host")),
      s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.hostBudgetAdmitWriter(spark, s"$base/in",
          schema, s"$base/ledger", s"$base/out", "doc_id", "host")
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    def admitted() = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted() == Set(10L, 12L, 21L))
    val fs = new org.apache.hadoop.fs.Path(s"$base/ledger")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = IndexManifest.latest(fs, s"$base/ledger").get.version
    run("ckpt2")
    assert(admitted() == Set(10L, 12L, 21L))
    assert(IndexManifest.latest(fs, s"$base/ledger").get.version == v1)
    // the ledger serves the post-stream state at the batch API too
    assert(DedupOps.hostBudgetAdmit(spark, s"$base/ledger",
        Seq((30L, "h2")).toDF("doc_id", "host"), "doc_id", "host")
      .count() == 0L)
  }

  test("kllGroupDriftMonitorWriter (x246): per-group KS vs pre-batch " +
      "state; fresh-checkpoint replay is a full no-op") {
    import graft.ext.Corpus
    val base = Files.createTempDirectory("graft-gdrift-").toString
    Corpus.saveGroupedKllSketch(
      Seq(("en", 1L, 10L), ("en", 2L, 20L), ("fr", 3L, 30L))
        .toDF("lang", "id", "v"),
      col("v"), "lang", s"$base/idx", k = 64)
    graft.SparkEntry.landOrdered(spark, Seq(
      Seq(("en", 10L, 12L), ("fr", 11L, 31L)).toDF("lang", "id", "v"),
      Seq(("en", 20L, 100L)).toDF("lang", "id", "v")), s"$base/vals")
    val schema = spark.read.parquet(s"$base/vals").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.kllGroupDriftMonitorWriter(spark,
          s"$base/vals", schema, s"$base/idx", s"$base/out", "v", "id")
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    def rows() = spark.read.parquet(s"$base/out")
      .select("g", "n_a", "n_b", "ks")
      .as[(String, Long, Long, Double)].collect().toSet
    val got = rows()
    // batch 1: en {12} vs {10,20} → sup|F_a−F_b| at v=12: |1·2−1·1|/2
    // = 0.5; fr {31} vs {30} → 0 at 31... sup at 30: |0−1|=1 → 1.0.
    // batch 2: en {100} vs pre-batch {10,20,12} → sup = 1.0 (at 20
    // cum_a 0 vs 3). fr absent from batch 2 → no row.
    assert(got == Set(("en", 1L, 2L, 0.5), ("fr", 1L, 1L, 1.0),
      ("en", 1L, 3L, 1.0)), s"got $got")
    run("ckpt2")
    assert(rows() == got, "replay must not re-score or re-append")
  }

  test("histDriftMonitorWriter (x211): each batch scores against the " +
      "PRE-batch state (equals the two-frame histDrift replay); " +
      "fresh-checkpoint replay is a full no-op") {
    import graft.ext.Corpus
    val base = Files.createTempDirectory("graft-driftmon-").toString
    val baseVals = Seq(10L, 20L, 30L, 40L).toDF("v")
    val batch1 = Seq((1L, 10L), (2L, 20L))          // same-ish mix
      .toDF("doc_id", "v")
    val batch2 = Seq((3L, 500L), (4L, 510L), (5L, 520L)) // shifted
      .toDF("doc_id", "v")
    Corpus.saveHistSketch(baseVals, col("v"), s"$base/idx",
      bucketWidth = 10L)
    graft.SparkEntry.landOrdered(spark, Seq(batch1, batch2),
      s"$base/vals")
    val schema = spark.read.parquet(s"$base/vals").schema
    def run(ckpt: String): Unit = {
      val q = StreamIndex.histDriftMonitorWriter(spark, s"$base/vals",
          schema, s"$base/idx", s"$base/out", "v", "doc_id")
        .option("checkpointLocation", s"$base/$ckpt").start()
      q.awaitTermination()
    }
    run("ckpt1")
    def rows() = spark.read.parquet(s"$base/out")
      .select("n_a", "n_b", "l1_num", "drift")
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = rows()
    val want1 = Corpus.histDrift(batch1, baseVals, col("v"), 10L)
      .as[(Long, Long, Long, Double)].head()
    val want2 = Corpus.histDrift(batch2,
        baseVals.unionByName(batch1.select("v")), col("v"), 10L)
      .as[(Long, Long, Long, Double)].head()
    assert(got == Set(want1, want2),
      s"streamed drift rows diverged: got $got, want ($want1, $want2)")
    // the shifted batch registers maximal drift (disjoint support)
    assert(want2._4 == 2.0)
    // replay from a fresh checkpoint: applied record no-ops both
    // batches — same output rows, same sketch version
    val v1 = spark.read.parquet(s"$base/idx/regs/*").count()
    run("ckpt2")
    assert(rows() == got)
    assert(spark.read.parquet(s"$base/idx/regs/*").count() == v1)
  }

  test("histDriftMonitorWriter: batch identity is the id column — two " +
      "batches with the same value multiset both score and append") {
    import graft.ext.Corpus
    val base = Files.createTempDirectory("graft-driftid-").toString
    Corpus.saveHistSketch(Seq(10L, 20L, 30L, 40L).toDF("v"), col("v"),
      s"$base/idx", bucketWidth = 10L)
    val applied0 = IndexManifest.latest(fs, s"$base/idx").get.applied
    graft.SparkEntry.landOrdered(spark, Seq(
      Seq((1L, 500L), (2L, 510L)).toDF("doc_id", "v"),
      Seq((3L, 500L), (4L, 510L)).toDF("doc_id", "v")), s"$base/vals")
    val schema = spark.read.parquet(s"$base/vals").schema
    StreamIndex.histDriftMonitorWriter(spark, s"$base/vals", schema,
        s"$base/idx", s"$base/out", "v", "doc_id")
      .option("checkpointLocation", s"$base/ckpt").start()
      .awaitTermination()
    val got = spark.read.parquet(s"$base/out").select("n_a", "n_b")
      .as[(Long, Long)].collect().toSet
    // the second batch scores against base + the first batch
    assert(got == Set((2L, 4L), (2L, 6L)), s"got $got")
    assert(IndexManifest.latest(fs, s"$base/idx").get.applied.length ==
      applied0.length + 2, "both batches must append")
  }

  /** One writer of the replay table: `prepare(base)` builds the target
    * under `base` and lands two batches under `base/in`; `writer`
    * starts the stream over them; `roots` are the manifests a replay
    * must leave untouched; `out` reads the writer's output rows. */
  private case class Replay(name: String, prepare: String => Unit,
      writer: (String, StructType) => DataStreamWriter[Row],
      roots: String => Seq[String], out: String => Set[Row])

  private lazy val embs = Tables.load(spark, Sf0001, "embeddings")

  private def landed(base: String, batches: DataFrame*): Unit =
    graft.SparkEntry.landOrdered(spark, batches, s"$base/in")

  private def idx(base: String) = Seq(s"$base/idx")

  private def outRows(base: String) =
    spark.read.parquet(s"$base/out").collect().toSet

  private lazy val replays = {
    import graft.ext.{Corpus, DedupOps, Hybrid, Similarity}
    val q = Seq(100000L, 500000L, 900000L)
    val idVals = Seq((1L, 10L), (2L, 30L), (3L, 30L))
      .toDF("id", "v")
    Seq(
      Replay("hllSketchAppendWriter", b => {
          Corpus.saveHllSketch(Seq(1L, 2L).toDF("k"), col("k"), s"$b/idx")
          landed(b, Seq(3L, 4L).toDF("k"), Seq(5L, 6L, 7L).toDF("k"))
        },
        (b, sch) => StreamIndex.hllSketchAppendWriter(spark, s"$b/in",
          sch, s"$b/idx", "k"),
        idx, b => Corpus.queryHllSketch(spark, s"$b/idx").collect().toSet),
      Replay("histSketchAppendWriter", b => {
          Corpus.saveHistSketch(Seq(10L, 20L).toDF("v"), col("v"),
            s"$b/idx", bucketWidth = 10L)
          landed(b, idVals.filter(col("id") < 3),
            idVals.filter(col("id") === 3))
        },
        (b, sch) => StreamIndex.histSketchAppendWriter(spark, s"$b/in",
          sch, s"$b/idx", "v", "id"),
        idx, b => Corpus.queryHistSketch(spark, s"$b/idx", q)
          .collect().toSet),
      Replay("cmsSketchAppendWriter", b => {
          Corpus.saveCmsSketch(Seq(7L, 8L).toDF("v"), col("v"), s"$b/idx",
            depth = 4, width = 64)
          landed(b, idVals.filter(col("id") < 3),
            idVals.filter(col("id") === 3))
        },
        (b, sch) => StreamIndex.cmsSketchAppendWriter(spark, s"$b/in",
          sch, s"$b/idx", "v", "id"),
        idx, b => Corpus.queryCmsSketch(spark, s"$b/idx",
          Seq(7L, 10L, 30L).toDF("v"), "v").collect().toSet),
      Replay("kllSketchAppendWriter", b => {
          Corpus.saveKllSketch(Seq(10L, 20L).toDF("v"), col("v"),
            s"$b/idx", k = 64)
          landed(b, idVals.filter(col("id") < 3),
            idVals.filter(col("id") === 3))
        },
        (b, sch) => StreamIndex.kllSketchAppendWriter(spark, s"$b/in",
          sch, s"$b/idx", "v", "id"),
        idx, b => Corpus.queryKllSketch(spark, s"$b/idx", q)
          .collect().toSet),
      Replay("kllByGroupSketchAppendWriter", b => {
          Corpus.saveGroupedKllSketch(
            Seq(("en", 0L, 10L), ("fr", 0L, 20L)).toDF("lang", "id", "v"),
            col("v"), "lang", s"$b/idx", k = 64)
          landed(b,
            Seq(("en", 1L, 12L), ("fr", 2L, 31L)).toDF("lang", "id", "v"),
            Seq(("en", 3L, 100L)).toDF("lang", "id", "v"))
        },
        (b, sch) => StreamIndex.kllByGroupSketchAppendWriter(spark,
          s"$b/in", sch, s"$b/idx", "v", "id"),
        idx, b => Corpus.queryGroupedKllSketch(spark, s"$b/idx", q)
          .collect().toSet),
      // batch 1: 10 repeats the base (rejected), 11 is novel; batch 2:
      // 20 sits inside batch-1 admission 11 (rejected), 21 is novel
      Replay("containmentSetAdmitWriter", b => {
          DedupOps.saveContainmentSetIndex(
            Seq((0L, Seq(1L, 2L, 3L))).toDF("doc_id", "fset"), "doc_id",
            "fset", s"$b/idx")
          landed(b,
            Seq((10L, Seq(1L, 2L, 3L)), (11L, Seq(7L, 8L, 9L)))
              .toDF("doc_id", "fset"),
            Seq((20L, Seq(7L, 8L)), (21L, Seq(40L, 41L)))
              .toDF("doc_id", "fset"))
        },
        (b, sch) => StreamIndex.containmentSetAdmitWriter(spark,
          s"$b/in", sch, s"$b/idx", s"$b/out", "doc_id", "fset",
          threshold = 0.5),
        idx, outRows),
      Replay("cdcChunkDedupWriter", b => {
          DedupOps.saveCdcChunkLedger(
            Seq((0L, "a b c d e f g h")).toDF("doc_id", "text"),
            "doc_id", "text", s"$b/idx", avgWords = 2, salt = "replay")
          landed(b,
            Seq((10L, "x a b c d e f g h y")).toDF("doc_id", "text"),
            Seq((20L, "p q x a b c d e f g h y r")).toDF("doc_id", "text"))
        },
        (b, sch) => StreamIndex.cdcChunkDedupWriter(spark, s"$b/in",
          sch, s"$b/idx", s"$b/out", "doc_id", "text"),
        idx, outRows),
      Replay("ivfPqAppendWriter", b => {
          Similarity.saveIvfPqIndex(embs.filter(col("vec_id") < 300),
            "vec_id", "embedding", s"$b/idx", kCentroids = 4,
            coarseIters = 2, m = 4, ks = 8, pqIters = 2)
          landed(b,
            embs.filter(col("vec_id") >= 300 && col("vec_id") < 400),
            embs.filter(col("vec_id") >= 400))
        },
        (b, sch) => StreamIndex.ivfPqAppendWriter(spark, s"$b/in", sch,
          s"$b/idx", "vec_id", "embedding"),
        idx, b => Similarity.queryIvfPqIndex(spark, s"$b/idx",
            embs.filter(col("vec_id") < 4), "vec_id", "embedding", k = 5)
          .collect().toSet),
      // x182's shape: batch 1 upserts new docs, batch 2 deletes old ones
      Replay("dualCdcWriter", b => {
          TextAnalysis.saveBm25Index(docs.filter(col("doc_id") < 300),
            "doc_id", "text", s"$b/bm25")
          Similarity.saveIvfIndex(embs.filter(col("vec_id") < 300),
            "vec_id", "embedding", s"$b/ivf", kCentroids = 4, iters = 2)
          Hybrid.commitPin(spark, s"$b/pins", s"$b/bm25", s"$b/ivf")
          val j = docs.join(embs, docs("doc_id") === embs("vec_id"))
            .select(docs("doc_id"), col("text"),
              col("embedding").cast("array<double>").as("embedding"))
          landed(b,
            j.filter(col("doc_id") >= 300 && col("doc_id") < 350)
              .withColumn("op", lit("upsert")),
            j.filter(col("doc_id") % 9 === 4 && col("doc_id") < 300)
              .select(col("doc_id"), lit(null).cast("string").as("text"),
                lit(null).cast("array<double>").as("embedding"),
                lit("delete").as("op")))
        },
        (b, sch) => StreamIndex.dualCdcWriter(spark, s"$b/in", sch,
          s"$b/bm25", s"$b/ivf", s"$b/pins", "doc_id", "text",
          "embedding", "op"),
        b => Seq(s"$b/bm25", s"$b/ivf"),
        b => Hybrid.servePinned(spark, s"$b/pins", s"$b/bm25", terms, 0L,
            s"$b/ivf", embs.filter(col("vec_id") === 0), "vec_id",
            "embedding", kLex = 10, kVec = 5, k = 10)
          .collect().toSet))
  }

  test("replay table: every writer lands two batches once, and a " +
      "fresh-checkpoint replay leaves manifests and output unchanged") {
    replays.foreach { r =>
      withClue(s"${r.name}: ") {
        val base = Files.createTempDirectory("graft-replay-").toString
        r.prepare(base)
        val schema = spark.read.parquet(s"$base/in").schema
        def run(ckpt: String): Unit = r.writer(base, schema)
          .option("checkpointLocation", s"$base/$ckpt").start()
          .awaitTermination()
        def snaps() = r.roots(base).map { p =>
          val s = IndexManifest.latest(fs, p).get
          (s.version, s.applied)
        }
        val before = snaps()
        run("ckpt1")
        val landedOnce = snaps()
        assert(landedOnce.zip(before).forall { case (a, b0) =>
          a._2.length > b0._2.length }, "the batches must land")
        val out = r.out(base)
        run("ckpt2")
        assert(snaps() == landedOnce, "replay must not commit")
        assert(r.out(base) == out, "replay must not change the output")
      }
    }
  }

  test("micro-batch ids equal the DataFrame aggregate formula, in one " +
      "job (null and repeated ids included)") {
    // the ids are stored in `applied` records, so the one-pass sums
    // must reproduce the aggregate they replaced bit for bit
    val b0 = Seq[(java.lang.Long, String, String, String)](
        (1L, "a", "upsert", "x"), (1L, "a", "upsert", "x"),
        (null, "b", "delete", null), (7L, null, "upsert", "y"),
        (null, null, "delete", null), (7L, "c", "delete", "y"))
      .toDF("id", "text", "op", "tag")
    // a landed micro-batch is a parquet scan: land the rows as 3 files
    val landedDir = Files.createTempDirectory("graft-batchid-").toString
    b0.repartition(3).write.mode("overwrite").parquet(landedDir)
    val b = spark.read.schema(b0.schema).parquet(landedDir)
    def hex(l: Long) = java.lang.Long.toHexString(l)
    def sums(key: org.apache.spark.sql.Column) = {
      val r = b.agg(count(lit(1)),
        coalesce(sum(crc32(key)), lit(0L)),
        coalesce(sum(pmod(xxhash64(key), lit(1073741789L))), lit(0L)),
        count(when(col("op") === "delete", 1)),
        count(when(col("op") === "upsert", 1))).head()
      (0 until 5).map(r.getLong)
    }
    val Seq(n, c, x, _, _) = sums(col("id").cast("string"))
    // persisted as the landed-file driver persists each micro-batch:
    // the id pass is the batch's first action and fills the cache
    val batch = b.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    try {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val got =
        try StreamIndex.contentBatchId(batch, "id")
        finally {
          org.apache.spark.graft.BenchHygiene
            .drainListenerBus(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      assert(got == ((s"stream_c${n}_${hex(c)}_${hex(x)}", n)))
      assert(jobs.get == 1, s"batch id ran ${jobs.get} jobs")

      val key = concat_ws("|", col("id").cast("string"), col("op"),
        coalesce(col("text").cast("string"), lit("")),
        coalesce(col("tag").cast("string"), lit("")))
      val Seq(m, kc, kx, nDel, nUp) = sums(key)
      val cdc = StreamIndex.cdcBatch(batch, 3L, "id", "op",
        Seq("text", "tag"))
      assert(cdc.bid == s"cdc_e3_c${m}_${hex(kc)}_${hex(kx)}")
      assert((cdc.nDel, cdc.nUp) == ((nDel, nUp)))
      assert((nDel, nUp) == ((3L, 3L)))
    } finally batch.unpersist()
  }
}
