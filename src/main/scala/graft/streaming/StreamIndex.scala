package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.Concurrently
import graft.ext.{Checkpoints, Corpus, DedupOps, Hybrid, Similarity,
  TextAnalysis}
import graft.sinks.Segments

/** Streaming INDEX maintenance — the serving-side twin of the table
  * loops ([[EventStream.e2LoopWriter]] keeps a TABLE current;
  * this keeps a RETRIEVAL INDEX current): new-document files land, each
  * becomes one micro-batch (`maxFilesPerTrigger=1`), and the batch is
  * merged into a persisted [[TextAnalysis.saveBm25Index]] postings
  * index by the incremental append — cost ∝ the batch, never the
  * indexed corpus, so the index stays minutes-fresh while serving.
  *
  * Exactly-once composition: the append batchId is CONTENT-DERIVED —
  * `stream_c<count>_<two order-independent id hashes>` — and the
  * appends are idempotent per batchId (manifest `applied`-gated), so
  * Structured Streaming's replay-a-batch-after-failure semantics land
  * each delta exactly once in the index, the same contract
  * `foreachBatch` + keyed upsert gives tables. Content addressing is
  * what makes the id safe ACROSS checkpoints — and deliberately
  * carries NO micro-batch counter: the per-checkpoint counter restarts
  * at 0 when a checkpoint is lost or a second stream targets the same
  * index, so a counter-tagged id would re-append identical content
  * under a fresh name. Two batches share an id exactly when they carry
  * the SAME ids — the case where skipping is correct. Same
  * stateless-stream design as the CDC relay ([[StreamCdc]]): no state
  * store; durable state IS the index layout.
  *
  * MAINTENANCE IS PART OF THE LOOP: with `compactEvery = n`, any
  * micro-batch that leaves more than `n` live segments triggers a
  * compaction plus a retention-2 vacuum inline (gated x102) — the
  * segment count a serve pays stays bounded by the threshold instead
  * of growing with stream lifetime, and replayed appends of folded
  * batches still no-op (the compaction carries the `applied` record).
  * The vacuum keeps the previous snapshot for in-flight readers; the
  * maintenance runs on the stream's own thread, so it never races its
  * own appends.
  *
  * Caller contract: arriving docs carry ids disjoint from the indexed
  * ids (the append contract — ingest pipelines assign fresh ids).
  * Gated x97: N change batches streamed through this writer must equal
  * a one-shot full rebuild (append-convergence, the Bm25IndexSpec
  * contract, now driven by the stream). */
object StreamIndex {

  /** Content-derived append batchId: the batch's row count plus two
    * independent order-independent hash sums over the id column
    * (sum-combined so partition order cannot change the id; two
    * 64-bit hashes put an id collision between DIFFERENT batches at
    * ~2^-96, while a replay of the SAME batch reproduces it exactly —
    * the property the idempotent appends key on). One pass over the
    * batch ([[countAndSums]]). Addends are bounded (crc32 is 32-bit,
    * xxhash64 taken mod a 30-bit prime) so the long sums cannot
    * overflow below ~2^31 rows per micro-batch.
    *
    * IDENTITY IS THE ID SET, not the payload: two batches carrying the
    * same ids with DIFFERENT values/text collide on batchId — by
    * design for the sketch writers (the idCol-not-valueCol rule: the
    * value column legitimately repeats across batches) and a CALLER
    * CONTRACT for the admit writers (see their docs — re-landing
    * corrected documents under already-seen ids would silently skip,
    * never admit, never land). Ingest pipelines assign fresh ids per
    * landed batch; a corrected document is a NEW id plus a ledger
    * delete of the old one. */
  private[streaming] def contentBatchId(batch: DataFrame, idCol: String)
      : (String, Long) = {
    val (n, Seq(crc, xx)) = countAndSums(batch, idHashes(col(idCol)): _*)
    (s"stream_c${n}_" + java.lang.Long.toHexString(crc) + "_" +
      java.lang.Long.toHexString(xx), n)
  }

  /** The two batch-id hash addends of one row key (see
    * [[contentBatchId]]). */
  private def idHashes(key: Column): Seq[Column] = {
    val k = key.cast("string")
    Seq(crc32(k), pmod(xxhash64(k), lit(1073741789L)))
  }

  /** The row count of `batch` and the sum of the non-null values of
    * each long column in `cols`, in ONE Spark job: an RDD aggregate
    * over the projected rows. A DataFrame `agg` over the persisted
    * batch runs three (the cache fill, an AQE map stage and the
    * result). An empty or all-null column sums to 0, as
    * `coalesce(sum(c), 0)` does, and `Math.addExact` keeps the
    * overflow failure of the ANSI `sum`. */
  private def countAndSums(batch: DataFrame, cols: Column*)
      : (Long, Seq[Long]) = {
    val n = cols.length
    val acc = batch.select(cols: _*).queryExecution.toRdd
      .aggregate(new Array[Long](n + 1))(
        (a, row) => {
          a(0) += 1
          for (i <- 0 until n if !row.isNullAt(i))
            a(i + 1) = Math.addExact(a(i + 1), row.getLong(i))
          a
        },
        (a, b) => {
          for (i <- 0 to n) a(i) = Math.addExact(a(i), b(i))
          a
        })
    (acc(0), acc.toSeq.tail)
  }

  /** The one landed-file driver under every writer: each parquet file
    * landing in `dir` is one micro-batch (`maxFilesPerTrigger = 1`),
    * drained by `Trigger.AvailableNow`. The batch is persisted
    * MEMORY_AND_DISK for `body(session, batch, epoch)` — one file read
    * feeds both the batchId aggregate and the writer's own scans,
    * which would read the file twice otherwise — and always
    * unpersisted; `after` then runs on the stream's own thread (inline
    * maintenance, the dual writer's pin), so it never races the
    * batch's own commits. */
  private def landed(spark: SparkSession, dir: String,
      schema: StructType, after: SparkSession => Unit = _ => ())(
      body: (SparkSession, DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try body(batch.sparkSession, b, epoch)
        finally b.unpersist(blocking = false)
        after(batch.sparkSession)
      }
      .trigger(Trigger.AvailableNow())

  /** [[landed]] for the plain appenders: `append(session, batch, bid)`
    * lands the batch under its [[contentBatchId]], and the family's
    * `applied` record turns a replay into a no-op. */
  private def appending(spark: SparkSession, dir: String,
      schema: StructType, idCol: String,
      after: SparkSession => Unit = _ => ())(
      append: (SparkSession, DataFrame, String) => Unit)
      : DataStreamWriter[Row] =
    landed(spark, dir, schema, after)((s, b, _) =>
      append(s, b, contentBatchId(b, idCol)._1))

  /** What one gated micro-batch produced ([[landing]]): `out` lands
    * under `outDir/batch=<bid>`, then `append(bid)` commits the
    * family's segment; `also` lists further produced frames, released
    * with `out`. */
  private final case class Landing(out: DataFrame,
      append: String => Unit, also: Seq[DataFrame] = Nil)

  /** The applied-gated land-then-append step of the admit and monitor
    * writers. When `path` already records the batch's
    * [[contentBatchId]] the whole batch is a no-op: replaying the step
    * after its own append would admit or score the batch against
    * itself, so the applied check, not recomputation, is what makes a
    * replay safe. Otherwise `step` builds the output (cached when
    * `cacheOut` — an admit's output feeds both the landing and the
    * append), the output lands by same-path overwrite (idempotent
    * under crash-before-append replays) BEFORE the append commits,
    * and every produced frame goes through [[Checkpoints.release]] —
    * a no-op for frames without a module checkpoint, so a long stream
    * never keeps one admit checkpoint per batch. */
  private def landing(spark: SparkSession, dir: String,
      schema: StructType, path: String, outDir: String, idCol: String,
      cacheOut: Boolean)(step: (SparkSession, DataFrame) => Landing)
      : DataStreamWriter[Row] =
    landed(spark, dir, schema) { (s, b, _) =>
      val bid = contentBatchId(b, idCol)._1
      if (!Segments.applied(s, path, bid)) {
        val l = step(s, b)
        if (cacheOut) l.out.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          l.out.write.mode(SaveMode.Overwrite)
            .parquet(s"$outDir/batch=$bid")
          l.append(bid)
        } finally {
          if (cacheOut) l.out.unpersist(blocking = false)
          (l.out +: l.also).foreach(Checkpoints.release)
        }
      }
    }

  /** The inline maintenance step behind every `compactEvery` knob (see
    * the object doc): a micro-batch that leaves more than `every` live
    * `table` segments triggers `compact` plus a retention-2 `vacuum`;
    * `every = 0` turns it off. */
  private def compacting(path: String, table: String, every: Int)(
      compact: (SparkSession, String) => Unit,
      vacuum: (SparkSession, String, Int) => Unit)
      : SparkSession => Unit = s =>
    if (every > 0 &&
      Segments.snapshot(s, path).segs(table).length > every) {
      compact(s, path)
      vacuum(s, path, 2)
    }

  private def bm25Compacting(path: String, every: Int) =
    compacting(path, "postings", every)(TextAnalysis.compactBm25Index,
      TextAnalysis.vacuumBm25Index(_, _, _))

  private def ivfCompacting(path: String, every: Int) =
    compacting(path, "corpus", every)(Similarity.compactIvfIndex,
      Similarity.vacuumIvfIndex(_, _, _))

  def bm25AppendWriter(spark: SparkSession, docsDir: String,
      schema: StructType, indexPath: String, idCol: String,
      textCol: String, compactEvery: Int = 0): DataStreamWriter[Row] =
    landed(spark, docsDir, schema,
        bm25Compacting(indexPath, compactEvery)) { (s, b, _) =>
      val (bid, rows) = contentBatchId(b, idCol)
      // the count is free here (the batchId aggregate already paid for
      // it) — pass it so small micro-batches take the single-partition
      // segment build instead of inheriting the session's shuffle
      // fan-out
      TextAnalysis.appendToBm25Index(s, indexPath, b, idCol, textCol,
        batchId = bid, knownRows = Some(rows))
    }

  /** Streamed maintenance of a persisted MERGEABLE SKETCH (gated
    * x189): arriving key files land each micro-batch's HLL registers
    * as their own segment of a [[graft.ext.Corpus.saveHllSketch]]
    * index — the cheapest member of the stream-maintained-index family
    * (a batch contributes ≤ 256 register rows regardless of batch
    * size, and the merge is bucket-wise max, so ANY arrival order and
    * ANY batching land the identical estimate). Same content-derived
    * batchId exactly-once contract as [[bm25AppendWriter]]: replayed
    * batches no-op on the manifest's applied record. */
  def hllSketchAppendWriter(spark: SparkSession, keysDir: String,
      schema: StructType, sketchPath: String, keyCol: String)
      : DataStreamWriter[Row] =
    appending(spark, keysDir, schema, keyCol)((s, b, bid) =>
      Corpus.appendToHllSketch(s, sketchPath, b, col(keyCol), bid))

  /** Streamed INCREMENTAL ADMISSION into a persisted 64-bit signature
    * ledger (gated x202): each micro-batch of (doc_id, sh) sigs is
    * admitted against the ledger's CURRENT state
    * ([[graft.ext.DedupOps.simhashLedgerAdmit]] — no ledgered sig
    * within `maxHamming`), the admitted rows land under
    * `outDir/batch=<id>` AND append to the ledger — so every later
    * batch is deduped against all earlier admissions: the streaming
    * form of the admit-then-append visual-dedup loop.
    *
    * Exactly-once: the content-derived batchId gates BOTH effects —
    * if the ledger already carries it the whole batch is a no-op
    * (replaying the admission after its own append would reject
    * every row against itself — the applied check, not recomputation,
    * is what makes replays safe); otherwise admitted rows are written
    * (same-path overwrite, idempotent under crash-before-append
    * replays) BEFORE the ledger append commits. In-batch duplicates
    * are NOT self-deduped — admission is against the ledger; run
    * batches through [[graft.ext.DedupOps.simhashPairsFromSigs]]
    * first when intra-batch dup matters.
    *
    * CALLER CONTRACT — id sets must be distinct across batches: batch
    * identity hashes `doc_id` only (the [[contentBatchId]] rule), so a
    * later batch re-landing the SAME id set with different signatures
    * collides with the earlier batchId and is silently skipped — never
    * admitted, never landed under `outDir`. Corrected content re-lands
    * under fresh ids (plus a ledger delete of the old ones), exactly
    * like the batch-side append contract. */
  def simhashAdmitWriter(spark: SparkSession, sigsDir: String,
      schema: StructType, ledgerPath: String, outDir: String,
      maxHamming: Int, probeBits: Int = 1): DataStreamWriter[Row] =
    landing(spark, sigsDir, schema, ledgerPath, outDir, "doc_id",
        cacheOut = true) { (s, b) =>
      val admitted = DedupOps.simhashLedgerAdmit(s, ledgerPath, b,
        maxHamming, probeBits)
      Landing(admitted,
        DedupOps.appendToSimhashLedger(s, ledgerPath, admitted, _))
    }

  /** Streamed CONTAINMENT admission (gated x245): arriving document
    * files admit against the persisted containment ledger
    * ([[graft.ext.DedupOps.containmentAdmit]]) — the admitted slice
    * lands under `outDir/batch=<id>` AND appends its postings in the
    * same batch, so every later batch admits against everything
    * admitted before it (greedy earlier-batch-wins, the
    * [[simhashAdmitWriter]] semantics on the subset/quotation axis:
    * a doc quoted inside an earlier admission is rejected; within-
    * batch quotes are the caller's [[graft.ext.DedupOps
    * .containmentPairs]] concern). Applied-record exactly-once on the
    * id-hashed batchId: a replayed batch would otherwise self-reject
    * against its own postings. [[simhashAdmitWriter]]'s caller
    * contract applies verbatim: id sets must be DISTINCT across
    * batches — identity hashes `idCol` only, so re-landing a seen id
    * set with corrected text silently skips (fresh ids + a ledger
    * delete is the correction path). */
  def containmentAdmitWriter(spark: SparkSession, docsDir: String,
      schema: StructType, ledgerPath: String, outDir: String,
      idCol: String, textCol: String, threshold: Double)
      : DataStreamWriter[Row] =
    landing(spark, docsDir, schema, ledgerPath, outDir, idCol,
        cacheOut = true) { (s, b) =>
      val admitted = DedupOps.containmentAdmit(s, ledgerPath, b, idCol,
        textCol, threshold)
      Landing(admitted, DedupOps.appendToContainmentIndex(s, ledgerPath,
        admitted, idCol, textCol, _))
    }

  /** Streamed signature-SET containment admission (gated x256) —
    * [[containmentAdmitWriter]] on the multi-frame/video axis: each
    * micro-batch of (doc_id, hash-set) rows (e.g. per-frame dHashes,
    * [[graft.ext.Multimodal.frameDHash]] grouped per doc) admits
    * against the persisted set ledger
    * ([[graft.ext.DedupOps.containmentSetAdmit]]) and the admitted
    * slice appends before the next batch admits — a clip mostly inside
    * an EARLIER admitted reel is rejected. Same applied-record
    * exactly-once and id-set-distinct caller contract as the other
    * admit writers. */
  def containmentSetAdmitWriter(spark: SparkSession, docsDir: String,
      schema: StructType, ledgerPath: String, outDir: String,
      idCol: String, setCol: String, threshold: Double)
      : DataStreamWriter[Row] =
    landing(spark, docsDir, schema, ledgerPath, outDir, idCol,
        cacheOut = true) { (s, b) =>
      val admitted = DedupOps.containmentSetAdmit(s, ledgerPath, b,
        idCol, setCol, threshold)
      Landing(admitted, DedupOps.appendToContainmentSetIndex(s,
        ledgerPath, admitted, idCol, setCol, _))
    }

  /** Streamed PARAGRAPH-LEVEL dedup (gated x263) — [[graft.ext
    * .DedupOps.chunkDedup]] as a maintained pipeline: each micro-batch
    * of documents is rewritten against every chunk hash EVER seen
    * ([[graft.ext.DedupOps.chunkDedupIncremental]]), the rewritten
    * docs land under outDir, and the batch's hashes append to the
    * ledger before the next batch rewrites — so boilerplate introduced
    * by an earlier batch strips from all later ones. Same
    * applied-record exactly-once and id-set-distinct caller contract
    * as the admit writers. */
  def chunkDedupWriter(spark: SparkSession, docsDir: String,
      schema: StructType, ledgerPath: String, outDir: String,
      idCol: String, textCol: String): DataStreamWriter[Row] =
    landing(spark, docsDir, schema, ledgerPath, outDir, idCol,
        cacheOut = false) { (s, b) =>
      Landing(DedupOps.chunkDedupIncremental(s, ledgerPath, b, idCol,
          textCol),
        DedupOps.appendToChunkLedger(s, ledgerPath, b, idCol, textCol, _))
    }

  /** Streamed SHIFT-RESISTANT paragraph dedup (gated x274) —
    * [[chunkDedupWriter]] on content-defined boundaries: each
    * micro-batch rewrites against every CDC chunk hash ever seen
    * ([[graft.ext.DedupOps.cdcDedupIncremental]]) and appends its own
    * hashes before the next batch rewrites. Because boundaries anchor
    * to content, boilerplate that arrives SHIFTED in later batches
    * (ads, banners, templating drift) still strips — the fixed-grid
    * writer only catches grid-aligned repeats. Same applied-record
    * exactly-once and id-set-distinct caller contract as the other
    * writers. */
  def cdcChunkDedupWriter(spark: SparkSession, docsDir: String,
      schema: StructType, ledgerPath: String, outDir: String,
      idCol: String, textCol: String): DataStreamWriter[Row] =
    landing(spark, docsDir, schema, ledgerPath, outDir, idCol,
        cacheOut = false) { (s, b) =>
      Landing(DedupOps.cdcDedupIncremental(s, ledgerPath, b, idCol,
          textCol),
        DedupOps.appendToCdcChunkLedger(s, ledgerPath, b, idCol, textCol,
          _))
    }

  /** Streamed PER-HOST CRAWL-BUDGET admission (gated x261) — the
    * frontier loop: each micro-batch of (doc_id, host) rows admits
    * against the persisted budget ledger
    * ([[graft.ext.DedupOps.hostBudgetAdmit]]) and the admitted slice
    * appends before the next batch admits, so a host filled by an
    * EARLIER batch rejects everything later — greedy first-crawled-
    * wins, exactly the sequential-replay oracle. Same applied-record
    * exactly-once and id-set-distinct caller contract as the dedup
    * admit writers. */
  def hostBudgetAdmitWriter(spark: SparkSession, docsDir: String,
      schema: StructType, ledgerPath: String, outDir: String,
      idCol: String, hostCol: String): DataStreamWriter[Row] =
    landing(spark, docsDir, schema, ledgerPath, outDir, idCol,
        cacheOut = true) { (s, b) =>
      val admitted = DedupOps.hostBudgetAdmit(s, ledgerPath, b, idCol,
        hostCol)
      Landing(admitted, DedupOps.appendToHostBudgetLedger(s, ledgerPath,
        admitted, idCol, hostCol, _))
    }

  /** Streamed DISTRIBUTION-DRIFT MONITOR (gated x211): each arriving
    * micro-batch is scored against the sketch's PRE-BATCH state —
    * drift = the exact-integer histogram L1
    * ([[graft.ext.Corpus.histDriftFromCounters]], batch as side a,
    * ledger as side b) — the drift row lands under `outDir/batch=<id>`
    * and the batch's counters then append to the sketch, so every
    * batch is measured against everything ingested before it: the
    * continuous "did this crawl shift the mix" alarm. The ledger's
    * n_b grows monotonically, so ordering drift rows by n_b replays
    * arrival order. Same applied-record exactly-once discipline as
    * [[simhashAdmitWriter]]: a replayed batch would otherwise score
    * ~0 against a state that already contains it. Batch identity
    * hashes `idCol`, never `valueCol` (the [[histSketchAppendWriter]]
    * rule): two batches with the same value multiset are two batches,
    * and both score and append. */
  def histDriftMonitorWriter(spark: SparkSession, valuesDir: String,
      schema: StructType, sketchPath: String, outDir: String,
      valueCol: String, idCol: String): DataStreamWriter[Row] =
    landing(spark, valuesDir, schema, sketchPath, outDir, idCol,
        cacheOut = false) { (s, b) =>
      val (state, width) = Corpus.histSketchState(s, sketchPath)
      Landing(Corpus.histDriftFromCounters(
          Corpus.histCounters(b, col(valueCol), width), state),
        Corpus.appendToHistSketch(s, sketchPath, b, col(valueCol), _))
    }

  /** Streamed MINHASH admission (gated x247): [[containmentAdmitWriter]]'s
    * greedy earlier-batch-wins loop on the near-dup Jaccard axis —
    * arriving document batches admit against the persisted MinHash
    * ledger ([[graft.ext.DedupOps.minhashAdmit]], signatures and
    * banding from the index's pinned params) and the admitted slice
    * appends before the next batch admits. Completes the streamed-
    * admission symmetry: SimHash/dHash sigs (x202), containment
    * (x245), MinHash here. Same applied-record exactly-once contract:
    * a replayed batch would otherwise self-reject at est = 1.0; same
    * [[simhashAdmitWriter]] caller contract: id sets distinct across
    * batches (identity hashes `idCol` only — a seen id set with
    * corrected text silently skips). */
  def minhashAdmitWriter(spark: SparkSession, docsDir: String,
      schema: StructType, ledgerPath: String, outDir: String,
      idCol: String, textCol: String, threshold: Double)
      : DataStreamWriter[Row] =
    landing(spark, docsDir, schema, ledgerPath, outDir, idCol,
        cacheOut = true) { (s, b) =>
      // the sig-reusing admit: the ledger append lands the signatures
      // the admission already computed instead of tokenizing the
      // admitted docs a second time; the sigs frame is the one that
      // still embeds the signature checkpoint, so it is released too
      val (admitted, admittedSigs, banding) =
        DedupOps.minhashAdmitWithSigs(s, ledgerPath, b, idCol, textCol,
          threshold)
      Landing(admitted, DedupOps.appendToMinhashIndexSigs(s, ledgerPath,
          admittedSigs, banding, _),
        also = Seq(admittedSigs))
    }

  /** Streamed PER-GROUP drift monitor (gated x246) — the per-source
    * alarm loop closed: each arriving micro-batch is KS-scored PER
    * GROUP against the grouped KLL sketch's PRE-BATCH state
    * ([[graft.ext.Corpus.kllKsDriftByGroupFromItems]], batch as side
    * a, ledger as side b — [[histDriftMonitorWriter]]'s shape in rank
    * space, keyed on the source), the per-group drift rows land under
    * `outDir/batch=<id>`, and the batch then appends — every batch is
    * measured against everything ingested before it, per source, with
    * no range hint. Groups absent from one side carry no row (no
    * two-sample statistic exists); each group's n_b grows
    * monotonically, so ordering by (g, n_b) replays arrival order.
    * Same applied-record exactly-once discipline, same
    * idCol-not-valueCol batch identity as the other KLL writers. */
  def kllGroupDriftMonitorWriter(spark: SparkSession,
      valuesDir: String, schema: StructType, sketchPath: String,
      outDir: String, valueCol: String, idCol: String)
      : DataStreamWriter[Row] =
    landing(spark, valuesDir, schema, sketchPath, outDir, idCol,
        cacheOut = false) { (s, b) =>
      val (state, k, groupCol) = Corpus.groupedKllSketchState(s,
        sketchPath)
      Landing(Corpus.kllKsDriftByGroupFromItems(
          Corpus.kllItemsBy(b, col(valueCol), groupCol, k), state),
        Corpus.appendToGroupedKllSketch(s, sketchPath, b, col(valueCol),
          _))
    }

  /** Streamed maintenance of a persisted HISTOGRAM-QUANTILE sketch
    * (gated x194): arriving value files land each micro-batch's
    * (bucket, c) counters as their own segment of a
    * [[graft.ext.Corpus.saveHistSketch]] index. Counters merge by
    * ADDITION (order-free, like the HLL max), so any arrival order and
    * any batching serve the identical quantile estimates; a batch
    * contributes rows bounded by its own value range, never its size.
    * Same content-derived batchId exactly-once contract as
    * [[hllSketchAppendWriter]] — with the addition-specific caveat
    * that contract inherits: this is an APPEND-ONLY ingest writer
    * whose micro-batches are distinct-by-content (two genuinely
    * different batches carrying byte-identical id sets would merge to
    * one — a mutating stream that legitimately revisits a state needs
    * the CDC writers' epoch-keyed ids instead). The batchId hashes
    * `idCol` — a column unique per batch (an event/doc id), NOT the
    * sketched value: a discretized metric's value MULTISET plausibly
    * repeats across genuinely different batches (two days with
    * identical length histograms), and hashing values would silently
    * drop the second, breaking the sketch's exact-n contract. */
  def histSketchAppendWriter(spark: SparkSession, valuesDir: String,
      schema: StructType, sketchPath: String, valueCol: String,
      idCol: String): DataStreamWriter[Row] =
    appending(spark, valuesDir, schema, idCol)((s, b, bid) =>
      Corpus.appendToHistSketch(s, sketchPath, b, col(valueCol), bid))

  /** Streamed maintenance of a persisted COUNT-MIN sketch (gated
    * x228, completing the streamed-writer symmetry across the sketch
    * family: HLL x189, histogram x194, KLL x221, CMS here): arriving
    * key files land each micro-batch's (d, slot, c) counters as their
    * own [[graft.ext.Corpus.saveCmsSketch]] segment with the index's
    * PERSISTED (depth, width). Counters merge by ADDITION (order-free),
    * so any arrival order serves identical estimates. The batchId
    * hashes `idCol` — a column unique per batch (an event id), NOT
    * necessarily the sketch key (`keyCol` may legitimately repeat its
    * multiset across batches; two different event batches from the
    * same users must both count). Same append-only
    * distinct-by-content contract as [[histSketchAppendWriter]]. */
  def cmsSketchAppendWriter(spark: SparkSession, keysDir: String,
      schema: StructType, sketchPath: String, keyCol: String,
      idCol: String): DataStreamWriter[Row] =
    appending(spark, keysDir, schema, idCol)((s, b, bid) =>
      Corpus.appendToCmsSketch(s, sketchPath, b, col(keyCol), bid))

  /** Streamed maintenance of a persisted KLL quantile sketch (gated
    * x221): each micro-batch is sketched with the index's PERSISTED k
    * and lands as its own (level, v) item segment of a
    * [[graft.ext.Corpus.saveKllSketch]] index. Serving concatenates
    * segments (a union of weighted samples is a weighted sample of
    * the union — total weight stays exact, per-segment rank errors
    * add); [[graft.ext.Corpus.compactKllSketch]] folds the tail back
    * to one O(3k) segment out of band. Same content-derived batchId
    * exactly-once contract — and the same distinct-by-content caveat
    * and `idCol`-not-`valueCol` batch-identity rule (KLL's "n is
    * exact" contract is exactly what a value-multiset collision would
    * silently break) — as [[histSketchAppendWriter]]. */
  def kllSketchAppendWriter(spark: SparkSession, valuesDir: String,
      schema: StructType, sketchPath: String, valueCol: String,
      idCol: String): DataStreamWriter[Row] =
    appending(spark, valuesDir, schema, idCol)((s, b, bid) =>
      Corpus.appendToKllSketch(s, sketchPath, b, col(valueCol), bid))

  /** Streamed maintenance of a persisted PER-GROUP KLL sketch (gated
    * x237): [[kllSketchAppendWriter]]'s contract with the micro-batch
    * sketched per group (the index's persisted k AND group column) —
    * the per-source drift-alarm shape: each source's quantile state
    * stays O(3k) and current as batches arrive, and
    * [[graft.ext.Corpus.kllKsDriftByGroupFromItems]] reads alarms off
    * two snapshots without rescanning anything. Same content-derived
    * exactly-once contract, same idCol-not-valueCol batch-identity
    * rule. */
  def kllByGroupSketchAppendWriter(spark: SparkSession,
      valuesDir: String, schema: StructType, sketchPath: String,
      valueCol: String, idCol: String): DataStreamWriter[Row] =
    appending(spark, valuesDir, schema, idCol)((s, b, bid) =>
      Corpus.appendToGroupedKllSketch(s, sketchPath, b, col(valueCol),
        bid))

  /** One CDC micro-batch as its legs see it: the epoch-and-content
    * batchId, the two op counts, the id column, the ids every leg
    * tombstones and the upsert rows every leg re-lands. */
  private[streaming] final case class CdcBatch(bid: String, nDel: Long,
      nUp: Long, idCol: String, ids: DataFrame, ups: DataFrame)

  /** The CDC micro-batch identity + validation: ONE pass
    * ([[countAndSums]]) pays for the epoch-and-content batchId, both op
    * counts, and the op-domain check. `valueCols` are the payload
    * columns (text for the lexical index, the vector for the IVF index,
    * BOTH for the dual writer — the id must cover every payload a
    * replay could diverge on). See [[bm25CdcWriter]] for why the EPOCH
    * is part of the id. */
  private[streaming] def cdcBatch(batch: DataFrame, epoch: Long,
      idCol: String, opCol: String, valueCols: Seq[String]): CdcBatch = {
    val key = concat_ws("|",
      (Seq(col(idCol).cast("string"), col(opCol)) ++
        valueCols.map(c => coalesce(col(c).cast("string"), lit("")))): _*)
    val (n, Seq(crc, xx, nDel, nUp)) = countAndSums(batch,
      idHashes(key) ++ Seq("delete", "upsert").map(op =>
        when(col(opCol) === op, 1L)): _*)
    require(nDel + nUp == n,
      s"cdc batch carries ops outside upsert|delete " +
        s"(${n - nDel - nUp} row(s))")
    CdcBatch(s"cdc_e${epoch}_c${n}_" + java.lang.Long.toHexString(crc) +
        "_" + java.lang.Long.toHexString(xx),
      nDel, nUp, idCol, batch.select(col(idCol)),
      batch.filter(col(opCol) === "upsert"))
  }

  /** [[landed]] for the CDC writers: `legs` apply each micro-batch's
    * [[cdcBatch]]. */
  private def cdcWriter(spark: SparkSession, dir: String,
      schema: StructType, idCol: String, opCol: String,
      valueCols: Seq[String], after: SparkSession => Unit)(
      legs: (SparkSession, CdcBatch) => Unit): DataStreamWriter[Row] =
    landed(spark, dir, schema, after)((s, b, epoch) =>
      legs(s, cdcBatch(b, epoch, idCol, opCol, valueCols)))

  /** The BM25 CDC leg. ONE tombstone pass for the whole batch: the
    * delete ids and the upsert ids (the reindex delete-half) tombstone
    * together — a pass per half would scan the live postings twice for
    * a batch carrying both ops. Tombstones are (doc_id, seg)-scoped,
    * the two id sets hit disjoint live rows, and correction segments
    * are additive, so the combined pass nets the identical state. The
    * delete (`<bid>_d`) COMMITS before the append (`reidx_<bid>`)
    * starts (the reindexBm25Docs ordering): a crash between the two
    * halves replays with the delete already applied — committing the
    * append first would let the replayed delete resolve a snapshot
    * that contains the fresh segment and tombstone the new versions. */
  private def bm25Leg(s: SparkSession, path: String, c: CdcBatch,
      textCol: String): Unit = {
    if (c.nDel + c.nUp > 0)
      TextAnalysis.deleteFromBm25Index(s, path, c.ids, c.idCol,
        s"${c.bid}_d")
    if (c.nUp > 0)
      TextAnalysis.appendToBm25Index(s, path, c.ups, c.idCol, textCol,
        s"reidx_${c.bid}", knownRows = Some(c.nUp))
  }

  /** The IVF CDC leg: [[bm25Leg]]'s one tombstone pass and
    * delete-before-append order on the vector index. */
  private def ivfLeg(s: SparkSession, path: String, c: CdcBatch,
      vecCol: String): Unit = {
    if (c.nDel + c.nUp > 0)
      Similarity.deleteFromIvfIndex(s, path, c.ids, c.idCol,
        s"${c.bid}_d")
    if (c.nUp > 0)
      Similarity.appendToIvfIndex(s, path, c.ups, c.idCol, vecCol,
        s"reidx_${c.bid}")
  }

  /** CDC INTO THE INDEX (gated x127): change batches of
    * (id, text, op ∈ upsert|delete) stream into a persisted
    * [[TextAnalysis.saveBm25Index]] index through the delete/reindex
    * primitives — the index TRACKS a mutating table instead of only
    * growing ([[bm25AppendWriter]]'s append-only contract). Per
    * micro-batch: deletes first (tombstones + exact negative stats
    * corrections), then upserts via [[TextAnalysis.reindexBm25Docs]]
    * (old versions tombstoned, new versions landed as a fresh
    * segment), so a delete+upsert of the same doc in one batch nets to
    * the upsert.
    *
    * Exactly-once: the batchId hashes the micro-batch EPOCH plus the
    * content triple (id, op, text), and both halves key idempotent
    * markers off it. The epoch makes the id collision-free over the
    * stream's history — a mutating stream legitimately REVISITS a
    * state (upsert x → delete x → re-upsert the original x), so two
    * content-identical batches at different epochs carry different
    * intent and must both apply (content alone would skip the second
    * and diverge from the table); the content half keeps a fresh-
    * checkpoint full re-stream a no-op (epochs restart at 0 over the
    * same files, reproducing every id). A crash BETWEEN the halves
    * resumes at the upsert half on the epoch's replay; the window a
    * reader can observe is read-committed, same as a Lucene update.
    *
    * Caller contract: at most one upsert row per id per micro-batch
    * (net the change stream first — [[graft.ops.Cdc]]; two upserts of
    * one id in one batch would land two live versions); op values
    * outside upsert|delete fail the batch. Same inline compact+vacuum
    * maintenance knob as the other writers — compaction also folds the
    * accumulated tombstones away. */
  def bm25CdcWriter(spark: SparkSession, changesDir: String,
      schema: StructType, indexPath: String, idCol: String,
      textCol: String, opCol: String, compactEvery: Int = 0)
      : DataStreamWriter[Row] =
    cdcWriter(spark, changesDir, schema, idCol, opCol, Seq(textCol),
        bm25Compacting(indexPath, compactEvery))((s, c) =>
      bm25Leg(s, indexPath, c, textCol))

  /** The vector twin of [[bm25CdcWriter]] (gated x128): change batches
    * of (id, vector, op ∈ upsert|delete) maintained into a persisted
    * [[Similarity.saveIvfIndex]] index — the RE-EMBEDDING loop: when a
    * document's content changes, its fresh embedding replaces the old
    * one ([[Similarity.reindexIvfVecs]]); takedowns tombstone.
    * Deletes-before-upserts, the epoch-and-content batchId (see
    * [[bm25CdcWriter]] for why the epoch matters on a MUTATING
    * stream), and idempotent markers on both halves give the same
    * full-re-stream-is-a-no-op exactly-once contract; centroids stay
    * the frozen serving generation throughout (retrain remains a
    * separate maintenance decision, signalled by
    * [[Similarity.ivfCellStats]]). Same caller contract (at most one
    * upsert per id per batch) and inline compact+vacuum knob. */
  def ivfCdcWriter(spark: SparkSession, changesDir: String,
      schema: StructType, indexPath: String, idCol: String,
      vecCol: String, opCol: String, compactEvery: Int = 0)
      : DataStreamWriter[Row] =
    cdcWriter(spark, changesDir, schema, idCol, opCol, Seq(vecCol),
        ivfCompacting(indexPath, compactEvery))((s, c) =>
      ivfLeg(s, indexPath, c, vecCol))

  /** The DUAL CDC applier (gated x182): one change stream of
    * (id, text, vector, op ∈ upsert|delete) — the re-embedding loop's
    * full shape, where a document edit ships its fresh text AND its
    * fresh embedding together — maintained into BOTH retrieval
    * indexes, with ONE [[graft.sinks.PipelinePin]] committed per
    * micro-batch AFTER both legs have landed it. The pin-commits-LAST
    * invariant is what [[graft.ext.Hybrid.servePinned]] relies on: a
    * serve landing between the two leg mutations resolves the previous
    * pin and gets the previous COHERENT pair, never a fresh lexical
    * list fused with a stale vector list. Exactly-once composes
    * per-leg: both legs share the SAME epoch-and-content batchId
    * (derived over id|op|text|vector — every payload a replay could
    * diverge on), each leg no-ops on its own `applied` record, and a
    * replayed batch re-commits an identical pair — so a crash between
    * the two appends, a checkpoint restart, or a full re-stream all
    * converge to the same pinned state without a distributed
    * transaction. */
  def dualCdcWriter(spark: SparkSession, changesDir: String,
      schema: StructType, bm25Path: String, ivfPath: String,
      pinRoot: String, idCol: String, textCol: String, vecCol: String,
      opCol: String): DataStreamWriter[Row] =
    // the pin commits LAST: readers stay on the previous coherent pair
    // until BOTH legs carry this batch
    cdcWriter(spark, changesDir, schema, idCol, opCol,
        Seq(textCol, vecCol),
        s => Hybrid.commitPin(s, pinRoot, bm25Path, ivfPath)) { (s, c) =>
      // the two index legs are independent (different paths, no shared
      // segment or manifest) and run CONCURRENTLY — the serial form
      // doubled the per-batch wall for pure fixed per-job overhead;
      // within each leg the delete still commits before the append
      Concurrently.all(Seq(() => bm25Leg(s, bm25Path, c, textCol),
        () => ivfLeg(s, ivfPath, c, vecCol)))
    }

  /** The IVFPQ twin of [[ivfAppendWriter]] (gated x116): arriving
    * embedding files are assigned + PQ-encoded against the index's
    * frozen centroid/codebook generations and landed as their own
    * codes segments — same content-derived batchId exactly-once
    * contract, same inline compact+vacuum maintenance. */
  def ivfPqAppendWriter(spark: SparkSession, vecsDir: String,
      schema: StructType, indexPath: String, idCol: String,
      vecCol: String, compactEvery: Int = 0): DataStreamWriter[Row] =
    appending(spark, vecsDir, schema, idCol,
        compacting(indexPath, "corpus", compactEvery)(
          Similarity.compactIvfPqIndex,
          Similarity.vacuumIvfPqIndex(_, _, _)))((s, b, bid) =>
      Similarity.appendToIvfPqIndex(s, indexPath, b, idCol, vecCol, bid))

  /** The vector-side twin of [[bm25AppendWriter]] (gated x98): new
    * embedding files land, each micro-batch is assigned against the
    * index's frozen centroids and landed as its own corpus segment of
    * the [[graft.ext.Similarity.saveIvfIndex]] layout — replayed
    * batches no-op on the manifest's `applied` record, so the stream
    * lands each delta exactly once. Same content-derived batchId and
    * same inline compact+vacuum maintenance contract. */
  def ivfAppendWriter(spark: SparkSession, vecsDir: String,
      schema: StructType, indexPath: String, idCol: String,
      vecCol: String, compactEvery: Int = 0): DataStreamWriter[Row] =
    appending(spark, vecsDir, schema, idCol,
        ivfCompacting(indexPath, compactEvery))((s, b, bid) =>
      Similarity.appendToIvfIndex(s, indexPath, b, idCol, vecCol, bid))
}
