package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.Segments

/** Corpus-management operators for incremental training-data pipelines:
  * admitting new batches against an existing corpus, deterministic split
  * assignment, and sequence-length bucketing for batch packing.
  *
  * 100 TB notes: incremental dedup anti-joins on a fixed-width content
  * digest instead of raw text — shuffle keys are 32 bytes regardless of
  * document size, and the corpus side carries digests only (a fraction of
  * corpus bytes). Split assignment is a pure projection (no shuffle, no
  * RNG state): content-hashed so membership is stable across re-runs and
  * re-partitioning — the property that keeps eval sets leak-free as the
  * corpus grows. Length bucketing is a narrow projection + one partial-agg
  * shuffle.
  */
object Corpus {

  /** 256-bit content digest — collision-safe stand-in for text equality. */
  def digest(textCol: Column): Column = sha2(textCol, 256)

  /** Rows of `incoming` whose text does not occur in `corpus` (exact
    * match). Anti-join on the digest; corpus side reduced to distinct
    * digests before the shuffle. */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val seen = corpus.select(digest(col(textCol)).as("_graft_digest"))
      .distinct()
    incoming
      .withColumn("_graft_digest", digest(col(textCol)))
      .join(seen, Seq("_graft_digest"), "left_anti")
      .drop("_graft_digest")
  }

  /** Deterministic train/val/test assignment from the document
    * fingerprint (content-stable: same text → same split, independent of
    * partitioning, ordering, or corpus growth). `trainPct`+`valPct` out of
    * 100; remainder is test.
    *
    * Branchless lookup (`element_at` over a 100-slot label array) rather
    * than a when-ladder: the optimizer inlines projected columns into
    * every CASE branch, and the fingerprint is an interpreted higher-order
    * expression with no subexpression elimination — a ladder evaluates it
    * per branch (measured 3× slower). */
  def assignSplit(df: DataFrame, textCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.withColumn("split", splitLabel(col(textCol), trainPct, valPct))

  /** The content-hash split label as a column expression — the shared
    * decision of [[assignSplit]] and [[clusterSafeSplit]]'s own-text
    * fallback. */
  private def splitLabel(text: Column, trainPct: Int, valPct: Int)
      : Column = {
    require(trainPct + valPct <= 100)
    val labels = array(
      (Seq.fill(trainPct)("train") ++ Seq.fill(valPct)("val") ++
        Seq.fill(100 - trainPct - valPct)("test")).map(lit): _*)
    val bucket = pmod(TextAnalysis.fingerprint(text), lit(100L))
    element_at(labels, (bucket + 1L).cast(IntegerType))
  }

  /** Leakage-safe train/val/test split: every near-duplicate CLUSTER
    * lands wholly in one split, so a model can never be evaluated on a
    * near-copy of its own training document — the classic contamination
    * [[assignSplit]] alone cannot prevent (two near-dups hash to
    * independent buckets; at 80/10/10 an expected ~34% of near-dup
    * pairs straddle splits).
    *
    * `labels` is a [[DedupOps.dedupClusters]] output — (`id`,
    * `cluster_id`) for every doc
    * that HAS a near-duplicate; unpaired docs default to their own id.
    * The split decision hashes the CANONICAL member's text
    * (cluster_id = component-min doc id), so it stays content-stable
    * like [[assignSplit]] — corpus growth or re-partitioning never
    * reassigns an existing cluster, and a singleton doc gets exactly
    * the split [[assignSplit]] would give it.
    *
    * Scale shape: the canonical side is reduced to (id, split) BEFORE
    * the join — split labels are computed scan-side and only 16-byte
    * id pairs plus a 5-char label cross the shuffle, never document
    * text. A mega-cluster makes its canonical id a hot join key; the
    * build side is one row per doc, so AQE's skew split handles it
    * (same contract as the x31 loop that produced the labels).
    *
    * Coverage contract: a SPLIT function must never lose rows. The
    * canonical lookup is a LEFT join; a doc whose canonical member is
    * absent from `df` (stale or superset labels) or whose cluster_id is
    * null (id failed the long cast) falls back to its OWN text's
    * [[assignSplit]] decision. The fallback label is computed
    * SCAN-SIDE, before the joins: a post-join `coalesce` over the raw
    * text column would pin `text` into both join shuffles (column
    * pruning cannot drop a referenced column — measured 3.4× on the
    * x81 gate when this op briefly did exactly that), whereas the
    * precomputed label adds one codegen'd fingerprint per row at scan
    * speed and only the 5-char label crosses. */
  def clusterSafeSplit(df: DataFrame, idCol: String, textCol: String,
      labels: DataFrame, trainPct: Int = 80, valPct: Int = 10)
      : DataFrame = {
    val lbl = labels.select(col("id").as("_lid"),
      col("cluster_id").as("_lcl"))
    val canon = assignSplit(
      df.select(col(idCol).as("_cid"), col(textCol).as("_ctext")),
      "_ctext", trainPct, valPct)
      .select(col("_cid"), col("split").as("_csplit"))
    df.withColumn("_ownsplit",
        splitLabel(col(textCol), trainPct, valPct))
      .join(lbl, col(idCol) === col("_lid"), "left")
      .withColumn("cluster_id",
        coalesce(col("_lcl"), col(idCol).cast(LongType)))
      .drop("_lid", "_lcl")
      .join(canon, col("cluster_id") === col("_cid"), "left")
      .withColumn("split", coalesce(col("_csplit"), col("_ownsplit")))
      .drop("_cid", "_csplit", "_ownsplit")
  }

  /** Deterministic hash-based downsampling: keep rows whose md5(key)
    * prefix falls below a hex threshold. Content/key-addressed (same key
    * → same decision across runs, partitionings, and engines — md5 of
    * UTF-8 bytes is universal), so samples are reproducible and
    * composable, unlike `df.sample`'s RNG-seeded split which changes with
    * partitioning. `hexThreshold` of "4000" ≈ 25% (of the 16^4 prefix
    * space). Narrow op, no shuffle. */
  def deterministicSample(df: DataFrame, keyCol: Column,
      hexThreshold: String = "4000"): DataFrame = {
    require(hexThreshold.matches("[0-9a-f]{4}"),
      "hexThreshold must be 4 lowercase hex digits")
    df.filter(
      substring(md5(keyCol.cast(StringType).cast(BinaryType)), 1, 4)
        < hexThreshold)
  }

  /** Stratified deterministic sampling: per-stratum keep rates over the
    * same md5-prefix address space as [[deterministicSample]], so strata
    * quotas compose with (and stay consistent under) the global sampler —
    * the "rebalance the language mix" op of a corpus pipeline. Rows whose
    * stratum has no declared threshold keep `defaultThreshold` (default
    * "0000" = drop). Narrow projection, no shuffle, no RNG: membership is
    * stable across runs, partitionings, and engines.
    *
    * Thresholds are EXCLUSIVE upper bounds on the first-4-hex-digit md5
    * space: "8000" keeps ≈ 32768/65536 of keys; the maximum "ffff" keeps
    * all but the ~1/65536 of keys whose prefix is exactly "ffff" — a
    * true keep-everything stratum should simply not be sampled. */
  def stratifiedSample(df: DataFrame, strataCol: Column, keyCol: Column,
      thresholds: Map[String, String],
      defaultThreshold: String = "0000"): DataFrame = {
    (thresholds.values.toSeq :+ defaultThreshold).foreach(t =>
      require(t.matches("[0-9a-f]{4}"),
        s"thresholds must be 4 lowercase hex digits (got '$t')"))
    val cutoff = thresholds.foldLeft(lit(defaultThreshold)) {
      case (acc, (stratum, t)) =>
        when(strataCol === stratum, lit(t)).otherwise(acc)
    }
    df.filter(
      substring(md5(keyCol.cast(StringType).cast(BinaryType)), 1, 4)
        < cutoff)
  }

  /** Corpus-wide boilerplate detection: the most document-frequent word
    * n-grams (each doc's shingle set is distinct, so counts are document
    * frequencies). One explode + one partial-agg shuffle + a top-k sort of
    * the (small) aggregated n-gram table. */
  def commonNgrams(df: DataFrame, textCol: String, n: Int = 3,
      topK: Int = 20): DataFrame = {
    graft.functions.TextHashExprs.register(df.sparkSession)
    df.select(explode(DedupOps.shingles(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("ngram").asc)
      .limit(topK)
  }

  /** Eval-set decontamination: training docs sharing at least one word
    * n-gram with any eval document, with the count of distinct shared
    * n-grams. Eval sets are small by construction → the distinct eval
    * shingle set broadcasts; the train side is one explode + broadcast
    * semi-ish join + per-doc distinct count, never an all-pairs stage. */
  def decontaminate(train: DataFrame, eval: DataFrame, textCol: String,
      idCol: String, n: Int = 5): DataFrame = {
    graft.functions.TextHashExprs.register(train.sparkSession)
    val evalShingles = eval
      .select(explode(DedupOps.shingles(col(textCol), n)).as("_graft_g"))
      .distinct()
    train
      .select(col(idCol), explode(DedupOps.shingles(col(textCol), n))
        .as("_graft_g"))
      .join(broadcast(evalShingles), Seq("_graft_g"))
      .groupBy(idCol)
      .agg(count_distinct(col("_graft_g")).as("n_shared"))
  }

  /** Power-of-two-ish length buckets for sequence packing. Explicit
    * threshold ladder (not log2) so the bucketing is bit-identical across
    * engines. */
  def lengthBucket(nTokens: Column): Column =
    when(nTokens < 16, "lt16")
      .when(nTokens < 64, "lt64")
      .when(nTokens < 256, "lt256")
      .when(nTokens < 1024, "lt1024")
      .otherwise("ge1024")

  /** Sequence packing: assign documents to training batches of
    * ~`capacity` tokens each, in deterministic `idCol` order within each
    * partition group. `batch_id = start_offset div capacity` — offset-
    * based, so a document straddling a boundary opens the next batch.
    * The division is `div` on longs (NOT a double divide, which is only
    * exact while the group's cumulative token count stays below 2^53),
    * so the result is engine-exact over the full long range.
    *
    * Scale note: one sort per partition group — `partitionCols` must
    * therefore include a shard key alongside the split (the gated x21
    * packs per (split, doc_id%8)): with the split alone, an 80% train
    * split is ONE sort partition, which cannot work at 100 TB. Batches
    * never cross shards, so shards can be packed (and consumed)
    * independently. */
  def packBatches(df: DataFrame, textCol: String, idCol: String,
      capacity: Long, partitionCols: Seq[String]): DataFrame = {
    require(capacity > 0)
    val w = Window
      .partitionBy(partitionCols.map(col).toIndexedSeq: _*)
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .withColumn("_graft_cum", sum("n_tokens").over(w))
      .withColumn("batch_id",
        call_function("div", col("_graft_cum") - col("n_tokens"),
          lit(capacity)).cast(LongType))
      .drop("_graft_cum")
  }

  /** Fixed-token-window chunking with stride — the step that turns long
    * documents into training-window rows (feeding [[packBatches]]).
    * Emits one row per window start `s ∈ {0, stride, 2·stride, …} < n`:
    * `(id, chunk_pos = s, chunk_text = tokens[s, s+chunkTokens),
    * n_chunk_tokens)`. The final windows may be shorter than
    * `chunkTokens`; with `stride < chunkTokens` a trailing short window
    * can be a sub-span of its predecessor — pick `stride = chunkTokens`
    * for exact partitioning. Built-ins only (`sequence`/`explode`/
    * `slice`/`array_join` are codegen'd — no interpreted lambda), and a
    * narrow op: no shuffle, output rows ≈ n/stride per doc. */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0)
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0), size(col("_toks")) - 1, lit(stride)))
          .as("chunk_pos"))
      .withColumn("_chunk",
        slice(col("_toks"), col("chunk_pos") + 1, lit(chunkTokens)))
      .select(col(idCol), col("chunk_pos").cast(LongType).as("chunk_pos"),
        array_join(col("_chunk"), " ").as("chunk_text"),
        size(col("_chunk")).cast(LongType).as("n_chunk_tokens"))
  }

  /** Per-bucket corpus shape: document count and total tokens.
    *
    * Pre-aggregates by exact length first so the bucket ladder runs on
    * the (small) distinct-length key space after the shuffle, not on
    * every row with the tokenization re-evaluated per CASE branch. */
  def lengthBuckets(df: DataFrame, textCol: String): DataFrame =
    df.select(TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .groupBy("n_tokens")
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket", lengthBucket(col("n_tokens")))
      .groupBy("bucket")
      .agg(sum("n").cast(LongType).as("n_docs"),
        sum(col("n_tokens") * col("n")).cast(LongType).as("total_tokens"))

  /** Per-key ordered sequence assembly — the "build training sequences
    * from an event log" op: each user's events, sorted by event time
    * (event_id tiebreak), rendered as one `type@µs,type@µs,…` string.
    * The behavioral-sequence export that session-based models train on.
    *
    * Determinism: `collect_list` order is partition-dependent, so the
    * list is collected as (ts_us, event_id, event_type) structs and
    * `array_sort`ed — struct ordering is field-lexicographic and
    * event_id makes it total, so the rendered string is identical under
    * any partitioning/engine. The per-element `transform` render is
    * interpreted, but runs once per event over an already-grouped array
    * (bounded by a user's history) — not a corpus-wide hot loop.
    *
    * Scale: one hash aggregation; state per key is that key's event
    * structs — the irreducible cost of sequence assembly (any engine
    * must co-locate a user's events to order them). Skew guard: a
    * degenerate key (bot traffic) concentrates its history in one task;
    * cap with an upstream per-key limit ([[graft.functions.TopKAgg]] /
    * x45 keeps the k most relevant) when histories are unbounded. */
  def eventSequences(events: DataFrame, userCol: String): DataFrame =
    events.select(col(userCol),
        struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type")).as("e"))
      .groupBy(col(userCol))
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        array_join(transform(array_sort(collect_list(col("e"))),
          x => concat(x.getField("event_type"), lit("@"),
            x.getField("ts_us").cast(StringType))), ",").as("seq"))

  /** Token-budget corpus mixing — the "data mixing" op of a training
    * pipeline: fill a per-group token budget (e.g. tokens per language)
    * by admitting documents in a deterministic hash-addressed order
    * until the group's running total would exceed its budget. Groups
    * with no declared budget are dropped (budget 0).
    *
    * Determinism contract (same tier as [[deterministicSample]] /
    * [[stratifiedSample]]): admission order is (md5(id), id) — content-
    * addressed, so the SELECTION is stable across runs, partitionings,
    * and engines, and REBALANCING is incremental: raising one group's
    * budget only ADDS that group's next docs in hash order, it never
    * reshuffles what was already admitted (unlike fraction-based
    * sampling, where changing the rate moves the whole cut line).
    *
    * Admission is whole-document: a doc is kept iff the running total
    * INCLUDING it fits the budget (`cum ≤ budget`); no document is
    * split. Note this is first-fit in hash order, not bin packing — one
    * oversized doc at the line can leave budget unused (bounded by that
    * doc's length); callers who need exact fills chunk first (x23).
    *
    * Scale shape: one narrow projection (token count + md5 address),
    * one running-sum window partitioned by group — parallelism = groups,
    * which is the op's semantic unit; no join, no driver state. */
  def tokenBudgetMix(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "at least one group budget required")
    budgets.foreach { case (g, b) =>
      require(b >= 0L, s"budget for '$g' must be >= 0 (got $b)") }
    val budget = budgets.foldLeft(lit(0L)) { case (acc, (g, b)) =>
      when(col(groupCol) === g, lit(b)).otherwise(acc)
    }
    val byGroup = Window.partitionBy(groupCol)
      .orderBy(col("addr").asc, col(idCol).asc)
    df.select(col(idCol), col(groupCol),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
        md5(col(idCol).cast(StringType).cast(BinaryType)).as("addr"))
      .withColumn("cum_tokens", sum("n_tokens").over(byGroup))
      .filter(col("cum_tokens") <= budget)
      .drop("addr")
  }

  /** Per-source document cap: keep at most `cap` docs per source, admitted
    * in deterministic (md5(id), id) order — the web-corpus "no domain may
    * contribute more than K documents" rule. Unlike [[stratifiedSample]]
    * (a keep-RATE per stratum), this is an exact COUNT bound, which needs
    * a per-group total order.
    *
    * Scale shape: one rank window partitioned by source — parallelism =
    * #sources, and a mega-domain funnels its group through one task's
    * sort. That is inherent to an exact cap; at crawl scale, pre-filter
    * hot domains with the hash-threshold sampler first (rate ≈
    * cap/domain_count from a frequency sketch), then apply the exact cap
    * to the survivors — the window then sorts O(cap) rows per domain. */
  def sourceCap(df: DataFrame, groupCol: String, idCol: String,
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive (got $cap)")
    val byGroup = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast(StringType).cast(BinaryType)).asc,
        col(idCol).asc)
    df.withColumn("_graft_rk", row_number().over(byGroup))
      .filter(col("_graft_rk") <= cap)
      .drop("_graft_rk")
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis A-Res, Inf. Process. Lett. 97(5), 2006): each row draws a
    * reproducible uniform u ∈ (0,1] from its md5 address and scores
    * key = ln(u) / w — taking the global top-k by key is an exact
    * weighted sample (inclusion probability ∝ weight), yet fully
    * deterministic: same ids + same weights → same sample, across runs,
    * partitionings, and engines.
    *
    * Scale shape: narrow projection + TakeOrderedAndProject (per-partition
    * k-heaps, driver merges k rows) — no shuffle of the data, no RNG
    * state, no total sort. Rows with non-positive weight are excluded. */
  /** Pareto-threshold stochastic admission — the GPT-3 document-
    * filtering rule (Brown et al. 2020, Appendix A): a document with
    * classifier score s is KEPT iff a Pareto(α) draw exceeds 1 − s, so
    * high-scoring documents almost always survive while low-scoring
    * ones still get in with small probability — preserving tail
    * diversity instead of hard-thresholding (the paper uses α = 9).
    *
    * The "draw" is derandomized the [[weightedSample]] way: u =
    * (md5Slot(id)+0.5)/slots is a deterministic uniform in (0,1), and
    * the Pareto (Lomax) draw is its inverse CDF, (1−u)^(−1/α) − 1 —
    * same id ⇒ same decision, across runs, partitionings, and engines
    * (numpy's `random.pareto` draws from the identical Lomax form).
    * The admit comparison runs on the round-6 values so a last-ulp
    * `pow` divergence between engines cannot flip a decision.
    *
    * Keeps every row, flagged: (id, score, pareto_draw, admitted
    * 0/1) — the caller filters; the flag column is what audits and
    * oracles replay. Pure narrow projection: no shuffle, no RNG
    * state, rides the scan at any scale. */
  def paretoAdmit(df: DataFrame, idCol: String, scoreCol: Column,
      alpha: Double, salt: String, slots: Int = 1 << 20): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive (got $alpha)")
    require(slots >= 2, s"slots must be >= 2 (got $slots)")
    val u = (md5Slot(col(idCol), lit(salt), 8, slots)
      .cast(DoubleType) + lit(0.5)) / lit(slots.toDouble)
    val draw = round(pow(lit(1.0) - u, lit(-1.0 / alpha)) - lit(1.0), 6)
    df.select(col(idCol), round(scoreCol, 6).as("score"))
      .withColumn("pareto_draw", draw)
      .withColumn("admitted",
        when(col("pareto_draw") > round(lit(1.0) - col("score"), 6),
          lit(1L)).otherwise(lit(0L)))
  }

  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    // first 8 md5 hex digits → integer in [0, 2^32) → u in (0, 1]
    val u = (conv(substring(
        md5(col(idCol).cast(StringType).cast(BinaryType)), 1, 8), 16, 10)
      .cast(DoubleType) + 1.0d) / 4294967296.0d
    df.filter(weightCol > 0d)
      .withColumn("_graft_key", log(u) / weightCol)
      .orderBy(col("_graft_key").desc, col(idCol).asc)
      .limit(k)
      .withColumn("sample_key", round(col("_graft_key"), 6))
      .drop("_graft_key")
  }

  /** [[incrementalDedup]] with a Bloom-filter pre-filter: build a bloom
    * sketch of the corpus digests ONE pass (mergeable partial filters,
    * driver holds numBits/8 bytes), broadcast it, and split incoming on
    * `might_contain`. Misses are PROVABLY new (no false negatives) and are
    * admitted with zero shuffle; only the hit fraction — true duplicates
    * plus the ~(items/bits-tuned) false-positive sliver — pays the exact
    * digest anti-join. Result is EXACTLY [[incrementalDedup]]'s (the FP
    * sliver is re-checked, and NULL-text probes route to the miss branch,
    * matching the anti-join's NULL-key pass-through), which is what makes
    * this oracle-checkable.
    *
    * At 100 TB this is the canonical shape: the anti-join's shuffle
    * shrinks from |incoming| to |dup ∪ fp|, usually orders of magnitude.
    *
    * SIZING — be honest about the filter's own weight. A target FP rate p
    * costs ≈ 1.44·log2(1/p) bits per key: ~10 bits/key at p=1%. So 10^8
    * corpus keys → ~120 MB, and a 10^10-key corpus (100 TB at ~10 KB/doc)
    * → ~12 GB. The filter ships as an explicit `Broadcast` variable, NOT
    * a plan literal — the plan carries only the handle; bytes move once
    * per executor via torrent broadcast (Spark's own
    * `BloomFilterMightContain` forces a foldable filter and would re-ship
    * the sketch inside every serialized task). An UNDERSIZED filter
    * degrades gracefully (FP→1 → every row pays the anti-join — plain
    * [[incrementalDedup]], never wrong). Past executor-memory scale,
    * shard by digest range instead — see SCALE.md "Sharded bloom".
    *
    * Eager statistic job: building the filter runs a Spark job at
    * DataFrame-construction time (same plan-freezing behavior as
    * `ngramJaccardPairs`' hot-list scan) — build when the corpus side is
    * settled.
    *
    * The split consumes `incoming` twice (miss branch + hit branch) —
    * two SCANS, deliberately: the alternative single-scan shapes either
    * shuffle every incoming row into the anti-join (exactly what the
    * bloom exists to avoid) or cache the tagged frame (caller's call —
    * cache `incoming` first if its source is expensive to re-read).
    * Scans are the cheap resource here; the saved shuffle is the
    * expensive one. */
  def bloomDedup(incoming: DataFrame, corpus: DataFrame, textCol: String,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    import graft.functions.BloomExprs
    BloomExprs.register(incoming.sparkSession)
    val filterBytes = corpus
      .agg(BloomExprs.bloomAgg(xxhash64(digest(col(textCol))),
        expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (filterBytes == null) incoming // empty corpus: everything is new
    else {
      val bc = incoming.sparkSession.sparkContext.broadcast(filterBytes)
      // The broadcast must outlive every action on the returned (lazy)
      // DataFrame — the engine never unpersists it; long-lived sessions
      // that churn many filters should materialize the result and drop
      // the frame to let the handle be GC'd.
      val hit = BloomExprs.mightContainBroadcast(bc,
        xxhash64(digest(col(textCol))))
      val tagged = incoming.withColumn("_graft_hit", hit)
      // NULL text hashes to xxhash64's SEED (42) — never to NULL — so
      // the probe is a real bit test on both sides. If the corpus holds
      // any NULL-text row, 42 is in the filter and NULL incoming rows
      // take the suspect branch, where the anti-join's NULL-digest key
      // never matches and admits them — exactly incrementalDedup.
      // Otherwise they (almost surely) ride the miss branch. Same answer
      // either way.
      val certainlyNew = tagged
        .filter(!col("_graft_hit"))
        .drop("_graft_hit")
      val suspects = tagged.filter(col("_graft_hit") === true)
        .drop("_graft_hit")
      certainlyNew.unionByName(incrementalDedup(suspects, corpus, textCol))
    }
  }

  /** [[bloomDedup]] sharded by digest range — the documented escalation
    * path once ONE filter outgrows executor memory (≈10 bits/key at 1%
    * FP → ~12 GB at 10^10 keys; see SCALE.md "Sharded bloom"): split the
    * digest space into `shards` by `xxhash64(digest) mod shards` and
    * build one RIGHT-SIZED filter per shard.
    *
    * ONE corpus pass builds every filter: the corpus is projected to its
    * 8-byte digest + shard id, that 16-byte stream (never the text) is
    * shuffled by shard, and `graft_bloom_agg` builds each shard's filter
    * where its digests land. The pre-`repartition` by shard matters: it
    * already satisfies the aggregate's required distribution, so there
    * is no second exchange AND no map-side partial aggregation holding
    * S filters per task — a task materializes filters only for the (~1)
    * shards resident in its partition, keeping peak build memory at
    * ≈ totalBits/shards. (The previous shape — S sequential
    * [[bloomDedup]] calls over `corpus.filter(shard === s)` — had the
    * same peak memory but re-scanned the FULL corpus once per shard:
    * 400 TB of IO for one dedup at S=4 on a 100 TB corpus.)
    *
    * Probing stays per-shard so a TASK only ever touches its own shard's
    * broadcast — executor-resident filter bytes stay ≈ totalBits/shards,
    * which is the memory contract that justifies sharding. Suspects from
    * all shards then pay ONE global exact anti-join: a duplicate's
    * digest lands in the same shard on both sides by construction, so
    * checking every suspect against the full corpus in one join is
    * exactly the per-shard check — the union of results is EXACTLY
    * [[incrementalDedup]]'s output and the same oracle gates all three
    * admission ops. NULL-text rows hash to xxhash64's seed (42) on both
    * sides, land deterministically in shard `42 % shards`, and are
    * admitted via the anti-join's NULL-digest pass-through.
    *
    * Cost shape: 2 corpus scans total (filter build + anti-join right
    * side) regardless of S, one 16-byte-per-row digest shuffle, and 2S
    * narrow scans of the (small, incremental) `incoming` side. Eager
    * statistic job: ONE `collect()` of S serialized filters runs at call
    * time; the S broadcasts then live until the returned frame's last
    * action. */
  def bloomDedupSharded(incoming: DataFrame, corpus: DataFrame,
      textCol: String, shards: Int = 4, expectedItemsPerShard: Long = 250000L,
      numBitsPerShard: Long = 2097152L): DataFrame = {
    require(shards >= 1, s"shards must be >= 1 (got $shards)")
    import graft.functions.BloomExprs
    val spark = incoming.sparkSession
    BloomExprs.register(spark)
    val h = xxhash64(digest(col(textCol)))
    val shardOf = pmod(h, lit(shards.toLong))
    val filters: Map[Long, Array[Byte]] = corpus
      .select(h.as("_graft_h"), shardOf.as("_graft_shard"))
      .repartition(shards, col("_graft_shard"))
      .groupBy("_graft_shard")
      .agg(BloomExprs.bloomAgg(col("_graft_h"), expectedItemsPerShard,
        numBitsPerShard).as("bf"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    if (filters.isEmpty) incoming // empty corpus: everything is new
    else {
      val sc = spark.sparkContext
      // (certainly-new, suspects) per shard; a shard absent from the
      // corpus needs no filter — nothing to collide with, all new.
      val branches = (0 until shards).map { s =>
        val inShard = incoming.filter(shardOf === s.toLong)
        filters.get(s.toLong) match {
          case None => (inShard, None)
          case Some(bytes) =>
            val bc = sc.broadcast(bytes)
            val hit = BloomExprs.mightContainBroadcast(bc, h)
            (inShard.filter(!hit), Some(inShard.filter(hit)))
        }
      }
      val certainlyNew = branches.map(_._1).reduce(_.unionByName(_))
      val suspects = branches.flatMap(_._2)
      if (suspects.isEmpty) certainlyNew
      else certainlyNew.unionByName(
        incrementalDedup(suspects.reduce(_.unionByName(_)), corpus, textCol))
    }
  }

  /** In-batch negative sampling for contrastive training: hash every doc
    * into one of `buckets` pseudo-random "batches", order each batch on
    * the md5 ring, and pair each doc with its next `k` ring successors as
    * negatives — dropping successors that share the doc's `groupCol`
    * (a same-source neighbor is not a valid negative). Deterministic end
    * to end: same corpus → same negatives, no RNG state.
    *
    * Scale shape: one narrow projection (bucket + ring address) and one
    * window partitioned by bucket (parallelism = buckets; size them to
    * ~batch size × shard count). Ring ends emit fewer than k negatives —
    * the documented boundary loss, bounded by k per bucket. */
  def inBatchNegatives(df: DataFrame, idCol: String, groupCol: String,
      k: Int = 3, buckets: Int = 8): DataFrame = {
    require(k >= 1 && buckets >= 1,
      s"need k >= 1, buckets >= 1 (got $k, $buckets)")
    val addr = md5(col(idCol).cast(StringType).cast(BinaryType))
    val ring = Window.partitionBy(col("bucket"))
      .orderBy(col("addr").asc, col(idCol).asc)
    val staged = df.select(col(idCol), col(groupCol),
        addr.as("addr"),
        (conv(substring(addr, 1, 2), 16, 10).cast(LongType) %
          buckets).as("bucket"))
    val withNegs = (1 to k).foldLeft(staged) { (acc, i) =>
      acc.withColumn(s"_nid_$i", lead(col(idCol), i).over(ring))
        .withColumn(s"_ngrp_$i", lead(col(groupCol), i).over(ring))
    }
    val negs = array((1 to k).map(i =>
      struct(col(s"_nid_$i").as("neg_id"), col(s"_ngrp_$i").as("neg_grp"),
        lit(i).cast(LongType).as("neg_rank"))): _*)
    withNegs
      .select(col(idCol), col(groupCol), col("bucket"),
        explode(negs).as("n"))
      .filter(col("n.neg_id").isNotNull &&
        col("n.neg_grp") =!= col(groupCol))
      .select(col(idCol), col("bucket"), col("n.neg_id").as("neg_id"),
        col("n.neg_rank").as("neg_rank"))
  }

  /** Duplicate-span REMOVAL — the transform between detection
    * ([[DedupOps.duplicateSpanOffsets]], x38's offsets) and training:
    * drop every token whose position falls inside a duplicated span and
    * re-join the survivors — line/boilerplate surgery at span
    * granularity (Lee et al., ACL'22 remove the spans they detect;
    * detection alone only SCORES the doc).
    *
    * `spans` is (doc_id, span_start, span_end) with half-open TOKEN
    * ranges, non-overlapping within a doc (the offsets op guarantees
    * it — overlap would double-exclude harmlessly anyway). Output: one
    * row per input doc, (doc_id, clean_text); docs with no spans pass
    * through. Text is whitespace-CANONICAL on output (tokens re-joined
    * with single spaces) for every doc — the tokenizer's contract, and
    * what makes the result deterministic regardless of source spacing.
    *
    * 100 TB shape: spans are tiny next to text (16 bytes per span);
    * they aggregate per-doc (collect_list over ≤ total_tokens/w spans)
    * and join doc-keyed, so raw text crosses exactly ONE shuffle
    * boundary (the doc-id join) — no window function over text, no
    * explode of tokens. The surgery itself is a native higher-order-
    * function projection (transform/filter/exists/array_join), zero
    * UDFs. */
  def removeDuplicateSpans(df: DataFrame, idCol: String,
      textCol: String, spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(
        col("span_start").cast(LongType).as("s"),
        col("span_end").cast(LongType).as("e"))).as("_spans"))
    val toks = graft.ext.TextAnalysis.tokens(col("_text"))
    val indexed = transform(toks,
      (t, i) => struct(t.as("t"), i.cast(LongType).as("i")))
    val kept = filter(indexed, x =>
      !exists(col("_spans"), s =>
        x("i") >= s("s") && x("i") < s("e")))
    df.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("_spans", coalesce(col("_spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .select(col("doc_id"),
        array_join(transform(kept, x => x("t")), " ").as("clean_text"))
  }

  /** Split-leakage audit: the contingency table of near-dup pairs by
    * the splits their members landed in — the check that a train/test
    * assignment did not place near-copies of the same document on both
    * sides (memorized-leak evaluation inflation). Off-diagonal rows
    * ARE the leak; [[assignSplit]] alone leaves plenty
    * ([[clusterSafeSplit]] exists to zero them — auditing both is how
    * you prove it, and this op is that proof as a query).
    *
    * Detector-agnostic: `pairs` is any (pairACol, pairBCol) near-dup
    * pair frame — n-gram Jaccard, MinHash, SimHash, embedding cosine —
    * so the audit composes with every dedup family in the library.
    * Pair endpoints absent from `df` are ignored (they have no split
    * to leak into). Output: (split_a, split_b, n_pairs) with split_a ≤
    * split_b lexicographically — each undirected pair counted once.
    *
    * Scale shape: the corpus crosses as a NARROW (id, split)
    * projection; two keyed hash joins land the pair endpoints'
    * splits; the aggregate output is |splits|² rows. The pair frame —
    * not the corpus — bounds the work, and LSH-family detectors
    * already bound that. */
  def splitLeakage(df: DataFrame, idCol: String, splitCol: String,
      pairs: DataFrame, pairACol: String = "doc_a",
      pairBCol: String = "doc_b"): DataFrame = {
    val s = df.select(col(idCol).cast(LongType).as("_lk_id"),
      col(splitCol).as("_lk_split"))
    pairs
      .select(col(pairACol).cast(LongType).as("_a"),
        col(pairBCol).cast(LongType).as("_b"))
      .join(s.select(col("_lk_id").as("_a"),
        col("_lk_split").as("_sa")), Seq("_a"))
      .join(s.select(col("_lk_id").as("_b"),
        col("_lk_split").as("_sb")), Seq("_b"))
      .select(least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-group top-fraction curation filter via HISTOGRAM quantiles —
    * "keep the best `frac` of documents per language/source by quality
    * score", the relative-threshold form of [[TextAnalysis.qualityScore]]
    * filtering (an absolute threshold drifts as the corpus mix shifts; a
    * per-group fraction does not).
    *
    * An exact per-group order statistic needs a total order per group —
    * a window sort funneling each group (and "en" is half the crawl)
    * through one task. This op instead quantizes scores to integer
    * buckets `floor(score·10^precision)` and picks, per group, the
    * highest bucket whose from-the-top cumulative count reaches
    * `ceil(frac·n)` — the classic quantile-by-histogram. At least
    * `ceil(frac·n)` rows survive per group; the overshoot is bounded by
    * one bucket's ties (callers trading exactness for granularity raise
    * `precision`). `floor` on the product — not `round` — because
    * round-half tie semantics differ across engines while floor of the
    * same IEEE double cannot.
    *
    * Scale shape: one partial+final count aggregate onto a (groups ×
    * buckets)-row histogram, two windows OVER THAT HISTOGRAM (thousands
    * of rows, whatever the corpus size), and a broadcast join of the
    * per-group thresholds back onto the data — the corpus itself is
    * never shuffled or sorted. NULL scores and NULL groups are excluded
    * (they have no place in a per-group ranking — pre-bucket them
    * explicitly if they must survive). */
  def topFractionByQuantile(df: DataFrame, groupCol: String,
      scoreCol: Column, frac: Double, precision: Int = 2): DataFrame = {
    require(frac > 0.0 && frac <= 1.0,
      s"frac must be in (0, 1] (got $frac)")
    require(precision >= 0 && precision <= 9,
      s"precision must be in [0, 9] (got $precision)")
    val bucket = floor(scoreCol * math.pow(10.0, precision))
      .cast(LongType)
    val hist = df
      .filter(col(groupCol).isNotNull && scoreCol.isNotNull)
      .groupBy(col(groupCol), bucket.as("_bucket"))
      .agg(count(lit(1)).as("_n"))
    val fromTop = Window.partitionBy(groupCol)
      .orderBy(col("_bucket").desc)
    val whole = Window.partitionBy(groupCol)
    val thresholds = hist
      .withColumn("_cum", sum("_n").over(fromTop))
      .withColumn("_tot", sum("_n").over(whole))
      .filter(col("_cum") >= ceil(lit(frac) * col("_tot")))
      .groupBy(col(groupCol)).agg(max(col("_bucket")).as("_thr"))
    df.join(broadcast(thresholds), Seq(groupCol))
      .filter(bucket >= col("_thr"))
      .drop("_thr")
  }

  /** Temperature-scaled source mixture shares (the exponentially
    * smoothed sampling of multilingual pretraining — Devlin et al.
    * 2019 mBERT, Conneau & Lample 2019 XLM, α usually 0.3–0.7):
    * per-source sampling probability p_s ∝ n_s^α at α = 0.5, which
    * up-weights small sources and damps the head so the long tail is
    * seen at all. The mixture-DESIGN op that feeds
    * [[tokenBudgetMix]]'s enforcement: this computes the shares, that
    * one fills them.
    *
    * Fixed α = 0.5 because it keeps the whole op exactly reproducible:
    * IEEE sqrt is CORRECTLY rounded (bit-equal in every engine, unlike
    * pow/exp's libm ulp), raw shares are pure integer floor-division,
    * and the smoothed normalizer Σ√n_s is a SEQUENTIAL fold in
    * group-name order (a handful of doubles summed in a pinned order —
    * the one float sum here, made order-free by ordering it).
    *
    * Output, one row per non-null source: (group, n_docs, n_tokens,
    * raw_share_micros, mix_share_micros) — micro-shares in [0, 1e6],
    * raw = exact `(n·1e6) div N`, mix = `floor(1e6·√n / Σ√n)`.
    * Contract: `groupCol` is a SOURCE label of bounded cardinality
    * (languages, domains — a mixture is designed over dozens, not
    * millions), read once to the driver; group names should sort
    * consistently across engines (ASCII labels). One partial+final
    * aggregate over the corpus; text never shuffles. */
  def temperatureMix(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val g = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol))).as("n_tokens"))
    // bounded driver read: one (name, tokens) pair per SOURCE
    val rows = g.select(col(groupCol).cast(StringType),
        col("n_tokens")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    require(rows.nonEmpty,
      "temperatureMix: no non-null groups — nothing to design")
    val nTot = rows.map(_._2).sum
    require(nTot > 0L, "temperatureMix: zero tokens across all groups")
    val t = rows.map(r => math.sqrt(r._2.toDouble)).reduceLeft(_ + _)
    g.select(col(groupCol), col("n_docs"), col("n_tokens"),
      expr(s"(n_tokens * 1000000) div $nTot").as("raw_share_micros"),
      floor(lit(1000000.0) * sqrt(col("n_tokens").cast(DoubleType)) /
        lit(t)).cast(LongType).as("mix_share_micros"))
  }

  /** DSIR-style data selection weights (Xie, Santurkar, Ma & Liang
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document in a RAW pool by how much its
    * hashed n-gram distribution looks like a TARGET subset's —
    * `weight(d) = Σ_tokens ln(p̂_target(bucket) / p̂_raw(bucket))`, the
    * log-likelihood ratio under two Laplace-smoothed hashed-feature
    * bag-of-ngrams models (`p̂(b) = (count(b)+1) / (total+B)`). High
    * weight = "reads like the target domain"; selection = keep the
    * top-k (or resample proportionally — the caller's choice; the
    * deterministic scoring IS the operator).
    *
    * Determinism at engine boundaries: each bucket's log-ratio is
    * computed ONCE (B rows) as `floor(1e6 · ln((ct+1)(Tr+B) /
    * ((cr+1)(Tt+B))))` — the ln argument is a single IEEE division of
    * two exactly-representable integer products, and the per-document
    * score is then an exact INTEGER sum of those micro-units, immune
    * to summation order (the float formulation sums doubles in visit
    * order — irreproducible across partitionings). `buckets` must be a
    * power of two so the signed-vs-unsigned hash mod agrees across
    * engines (low bits). Raw totals include the target rows (the
    * target is a subset of the pool, the DSIR setting); a bucket never
    * hit by the target still scores — smoothing keeps every ratio
    * finite.
    *
    * Scale shape: one narrow projection (native
    * [[graft.functions.TextHashExprs]] window hashes — positional,
    * WITH multiplicity: n-gram counts are the model, unlike the
    * dedup sketches' per-doc distinct), one partial+final count onto
    * ≤ B buckets, a 2-long driver read for the totals (bounded), a
    * BROADCAST of the B-row weight table back onto the token stream,
    * and one per-doc sum. Text never shuffles; nothing data-sized
    * reaches the driver. Output: (doc_id, dsir_micros) — micro-nat
    * integer scores, one row per document. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 256, n: Int = 1): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2 (got $buckets)")
    require(n >= 1, s"n must be >= 1 (got $n)")
    graft.functions.TextHashExprs.register(df.sparkSession)
    val ex = df.select(col(idCol).as("doc_id"),
        coalesce(isTarget.cast(BooleanType), lit(false)).as("_tgt"),
        graft.functions.TextHashExprs
          .shingleWindowHashes(col(textCol), n).as("_wh"))
      .select(col("doc_id"), col("_tgt"), explode(col("_wh")).as("_h"))
      .select(col("doc_id"), col("_tgt"),
        pmod(col("_h"), lit(buckets.toLong)).as("_b"))
    val hist = ex.groupBy(col("_b"))
      .agg(count(lit(1)).as("_cr"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct"))
    // bounded driver read: two longs (the corpus/target token totals)
    val tot = hist.agg(
      coalesce(sum(col("_cr")), lit(0L)),
      coalesce(sum(col("_ct")), lit(0L))).head()
    val (tr, tt) = (tot.getLong(0), tot.getLong(1))
    require(tt > 0L, "dsirWeights: the target subset has no tokens " +
      "(isTarget matched nothing with text) — a log-ratio against an " +
      "empty model is meaningless")
    val lw = hist.select(col("_b"),
      floor(log(
        ((col("_ct") + 1L) * lit(tr + buckets)).cast(DoubleType) /
          ((col("_cr") + 1L) * lit(tt + buckets)).cast(DoubleType))
        * lit(1000000.0)).cast(LongType).as("_lw"))
    ex.join(broadcast(lw), Seq("_b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_lw")).as("dsir_micros"))
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * et al. 2007): every quasi-identifier combination whose group is
    * re-identification-risky — fewer than `k` rows (k-anonymity), or,
    * when a sensitive column is given, fewer than `l` distinct
    * sensitive values (l-diversity: a uniform group leaks the
    * attribute even at size ≥ k). The privacy gate a training-data
    * release runs next to PII redaction (x27): redaction scrubs the
    * DIRECT identifiers, this audits the indirect ones.
    *
    * Output: one row per VIOLATING combination — the quasi columns,
    * `n_rows`, `n_sensitive` (null when no sensitive column), and the
    * `k_violation`/`l_violation` flags. Violations-only on purpose:
    * at 100 TB the group space is data-sized but the risky tail is
    * the bounded, actionable artifact. Scale shape: one partial+final
    * aggregation keyed on the quasi columns (the distinct-sensitive
    * count rides the same shuffle); no windows, no joins. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Int,
      sensitiveCol: Option[String] = None, l: Int = 1): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2 (got $k) — k=1 flags nothing")
    require(l >= 1, s"l must be >= 1 (got $l)")
    require(sensitiveCol.nonEmpty || l == 1,
      "l > 1 needs a sensitive column to diversify")
    val q = quasiCols.map(col)
    val aggs = count(lit(1)).as("n_rows") +: sensitiveCol.map(s =>
      countDistinct(col(s)).as("n_sensitive")).toSeq
    val g = df.groupBy(q: _*).agg(aggs.head, aggs.tail: _*)
    val withSens =
      if (sensitiveCol.isDefined) g
      else g.withColumn("n_sensitive", lit(null).cast(LongType))
    withSens
      .withColumn("k_violation", col("n_rows") < k)
      .withColumn("l_violation",
        if (sensitiveCol.isDefined) col("n_sensitive") < l
        else lit(false))
      .filter(col("k_violation") || col("l_violation"))
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998) — the minimal-movement data-placement rule:
    * doc d lands on argmax over shards s of hash(d, s), so when the
    * shard count grows n → n+1 the ONLY docs that move are those whose
    * new shard wins — an expected 1/(n+1) of the corpus — where modulo
    * placement reshuffles (n−1)/n of everything. The placement
    * primitive behind consistent serving caches, shard-local indexes,
    * and incremental re-partitioning of a 100 TB corpus.
    *
    * Deterministic and engine-portable: the weight is the md5 hex of
    * `"<id>:<shard>"` (the x20 cross-engine hash discipline — never a
    * JVM-private hash), the argmax a lexicographic max over a
    * `shards`-element literal array inside codegen. One narrow
    * projection; nothing shuffles. */
  def rendezvousShard(idCol: Column, shards: Int): Column = {
    require(shards >= 1, s"shards must be >= 1 (got $shards)")
    array_max(transform(
      sequence(lit(0), lit(shards - 1)),
      s => struct(
        md5(concat(idCol.cast(StringType), lit(":"),
          s.cast(StringType))).as("w"),
        s.cast(LongType).as("sid"))))
      .getField("sid")
  }

  /** Power-law (Zipf) fit of the corpus token-frequency SPECTRUM: the
    * OLS line through (ln c, ln m(c)) where m(c) = number of distinct
    * terms occurring exactly c times — the frequency-of-frequencies
    * estimator (Newman 2005 §3 form), which needs NO global rank: the
    * classic rank-frequency plot needs a total ordering of the
    * vocabulary (a single-partition sort at corpus scale), while the
    * spectrum is two keyed aggregations. A healthy natural-language
    * corpus shows slope ≈ −2; boilerplate floods or template spam bend
    * it — the corpus-card diagnostic next to x59's summary stats.
    *
    * Float discipline (the [[dsirWeights]] rule): each ln is rounded
    * to 6 guard digits and THEN floored ONCE to integer milli-nats —
    * the pre-floor round absorbs the last-ulp wiggle libm
    * implementations are allowed on `ln` (floor would amplify a 1-ulp
    * difference at an exact integer boundary into an off-by-one grid
    * point; round-then-floor keeps the milli-nat grid engine-stable).
    * All sums are exact 64-bit integer arithmetic (milli not micro
    * keeps n·Σxy far inside long range), and the only division is the
    * final slope = num/den of two exact integers both engines computed
    * identically, rounded to 6.
    * Output: one row — (n_terms, n_points, slope_num, slope_den,
    * slope); slope null when the spectrum is degenerate (< 2 distinct
    * frequencies → den = 0). */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val tf = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val spectrum = tf.groupBy("c").agg(count(lit(1)).as("m"))
    val pts = spectrum.select(
      floor(round(log(col("c").cast(DoubleType)) * 1000.0, 6))
        .cast(LongType).as("x"),
      floor(round(log(col("m").cast(DoubleType)) * 1000.0, 6))
        .cast(LongType).as("y"))
    val nTerms = tf.agg(count(lit(1))).head().getLong(0)
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(lit(nTerms).as("n_terms"), col("n").as("n_points"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope",
        when(col("slope_den") === 0L, lit(null).cast(DoubleType))
          .otherwise(round(col("slope_num").cast(DoubleType) /
            col("slope_den").cast(DoubleType), 6)))
  }

  /** md5-addressed hash slot (the x20 cross-engine discipline): the
    * first `hexChars` hex digits of md5(salt:key) as a long, modulo
    * `width`. Deterministic across engines, runs, and partitionings —
    * which is what makes the sketches below ORACLE-CHECKABLE, unlike
    * sketches seeded from engine-internal hashing. */
  private[ext] def md5Slot(key: Column, salt: Column, hexChars: Int,
      width: Int): Column =
    pmod(conv(substring(md5(concat(salt.cast(StringType), lit(":"),
      key.cast(StringType)).cast(BinaryType)), 1, hexChars), 16, 10)
      .cast(LongType), lit(width.toLong))

  /** Count-Min sketch frequency estimates (Cormode & Muthukrishnan
    * 2005): `depth` hash rows × `width` counters, estimate = min over
    * rows of the probed cell — always an OVERestimate (collisions only
    * add), within εN with high probability at w = ⌈e/ε⌉. Keys absent
    * from the data estimate 0 (an empty probed cell proves absence).
    *
    * The sketch is md5-addressed (see [[md5Slot]]), so a DuckDB oracle
    * rebuilds the identical counter table and the identical estimates
    * — point-queryable frequency sketching with an EXACT cross-engine
    * gate, where engine-seeded sketches (x13/x24) can only be
    * rows-only checked.
    *
    * Scale shape: the build is one narrow depth-fold explode + ONE
    * (row, slot)-keyed partial+final count — d·w cells total
    * (kilobytes), independent of N; estimates broadcast the cell table
    * to the probe keys. The counter table is mergeable across corpus
    * shards by cell-wise addition. */
  def countMinEstimates(df: DataFrame, keyCol: Column,
      probes: DataFrame, probeCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame =
    cmsEstimates(cmsCounters(df, keyCol, depth, width), probes,
      probeCol, depth, width)

  /** The (d, slot, c) counter table behind [[countMinEstimates]].
    * Counters MERGE by cell-wise ADDITION — the property the persisted
    * sketch lifecycle below is built on. */
  private[graft] def cmsCounters(df: DataFrame, keyCol: Column,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16,
      s"depth must be in [1, 16] (got $depth)")
    require(width >= 2, s"width must be >= 2 (got $width)")
    val rows = explode(array((0 until depth).map(i => lit(i)): _*))
    df.select(keyCol.as("_k"))
      .select(col("_k"), rows.as("d"))
      .select(col("d"), md5Slot(col("_k"), col("d"), 8, width)
        .as("slot"))
      .groupBy("d", "slot").agg(count(lit(1)).as("c"))
  }

  /** Estimate tail over a (d, slot, c) counter table (counters from
    * more than one segment merge by summation inside the aggregate). */
  private[graft] def cmsEstimates(counters: DataFrame,
      probes: DataFrame, probeCol: String, depth: Int, width: Int)
      : DataFrame = {
    val rows = explode(array((0 until depth).map(i => lit(i)): _*))
    val merged = counters.groupBy("d", "slot").agg(sum("c").as("c"))
    val p = probes.select(col(probeCol).as("_pk")).distinct()
      .select(col("_pk"), rows.as("d"))
      .select(col("_pk"), col("d"),
        md5Slot(col("_pk"), col("d"), 8, width).as("slot"))
    // left join: a probe whose cell nobody hashed to is PROVABLY
    // absent — its estimate is 0, not "no row"
    p.join(broadcast(merged), Seq("d", "slot"), "left")
      .groupBy(col("_pk").as(probeCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }

  /** Persist a Count-Min sketch as a MERGEABLE index (the
    * [[saveHllSketch]] lifecycle on the addition-merged counter
    * table): segments are (d, slot, c) tables, appends land batch
    * counters as their own segments (idempotent per batchId), the
    * serve sums cells across segments — estimates over save+appends
    * EQUAL the one-shot sketch over the union exactly. The (depth,
    * width) build parameters persist WITH the index (a `params`
    * table), so serves can never probe with mismatched hashing. */
  def saveCmsSketch(df: DataFrame, keyCol: Column, path: String,
      depth: Int = 4, width: Int = 1024): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    cmsCounters(df, keyCol, depth, width).coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/regs/base")
    Seq((depth, width)).toDF("depth", "width").coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/params/base")
    Segments.create(spark, path,
      Map("regs" -> Seq("base"), "params" -> Seq("base")), Seq("base"))
  }

  /** Append a batch's counters as a new segment; replays no-op. */
  def appendToCmsSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, keyCol: Column, batchId: String)
      : Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("regs")) {
      val (depth, width) = cmsParams(spark, path, snap)
      cmsCounters(df, keyCol, depth, width).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/regs/$seg")
    }
  }

  /** DELETE rows from a persisted CMS sketch — the turnstile-model
    * half Count-Min supports BECAUSE it is a linear sketch (counters
    * are sums, so a deletion is a NEGATED counter segment; HLL's max
    * registers have no inverse — deleting from an HLL sketch means
    * rebuilding it). Estimates stay exact-replayable and stay
    * OVERestimates of the net counts as long as every key's net count
    * is non-negative (the caller contract: delete only rows that were
    * ingested). Idempotent per batchId like every other lifecycle
    * verb. */
  def removeFromCmsSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, keyCol: Column, batchId: String)
      : Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delete_$batchId"
    Segments.delete(spark, path, snap, batchId, seg, Seq("regs")) {
      val (depth, width) = cmsParams(spark, path, snap)
      cmsCounters(df, keyCol, depth, width)
        .select(col("d"), col("slot"), (-col("c")).as("c"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/regs/$seg")
    }
  }

  private def cmsParams(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot): (Int, Int) = {
    val r = Segments.scan(spark, path, snap, "params").head()
    (r.getAs[Int]("depth"), r.getAs[Int]("width"))
  }

  /** Serve estimates from one manifest snapshot's summed counters,
    * hashed with the PERSISTED (depth, width). */
  def queryCmsSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, probeCol: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val (depth, width) = cmsParams(spark, path, snap)
    cmsEstimates(Segments.scan(spark, path, snap, "regs"),
      probes, probeCol, depth, width)
  }

  /** HyperLogLog distinct-count estimate (Flajolet, Fusy, Gandouet &
    * Meunier 2007) over m = 256 md5-addressed buckets: bucket = first
    * md5 byte, rank = leading zeros of the next 48 bits + 1, register
    * = per-bucket max rank. The estimate keeps the float discipline
    * integer until one final division: the harmonic-mean denominator
    * Σ 2^(-M_j) is carried as the exact INTEGER T = Σ 2^(49-M_j)
    * (empty buckets contribute 2^49), and est = α·m²·2^49 / T — both
    * engines compute identical longs and divide once, so the oracle
    * matches exactly (the [[zipfFit]] convention). No small-range
    * correction: this is the raw estimator, intended for
    * cardinalities ≫ 2.5·m (the spec pins accuracy; callers below
    * that range should count exactly — 640 keys need no sketch).
    *
    * Output (one row): n_buckets, n_zero (empty registers), t_sum
    * (the exact integer denominator), est_raw (rounded to 2). Scale
    * shape: one narrow projection + a 256-group aggregate; registers
    * are mergeable across shards by bucket-wise max. */
  def hllDistinct(df: DataFrame, keyCol: Column): DataFrame =
    hllEstimate(hllRegisters(df, keyCol))

  /** Per-GROUP HLL distinct estimates — `approx_count_distinct`'s
    * grouped shape with the oracle-exact md5 registers (one 256-bucket
    * sketch per group, carried through a single (group, bucket)-keyed
    * aggregate; per-group state is ≤ 256 rows regardless of group
    * size). Same raw-regime caveat as [[hllDistinct]]: meaningful for
    * per-group cardinalities ≫ 640. */
  def hllDistinctBy(df: DataFrame, keyCol: Column,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (use hllDistinct for the global " +
        "estimate)")
    hllEstimate(hllRegisters(df, keyCol, groupCols), groupCols)
  }

  /** The register table behind [[hllDistinct]]: (group…, bucket, m)
    * with m the per-bucket max rank. Registers MERGE by bucket-wise
    * max — the property the persisted sketch lifecycle below is built
    * on. */
  private[graft] def hllRegisters(df: DataFrame, keyCol: Column,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val h = md5(keyCol.cast(StringType).cast(BinaryType))
    val bucket = conv(substring(h, 1, 2), 16, 10).cast(LongType)
    val v = conv(substring(h, 3, 12), 16, 10).cast(LongType)
    val rank = when(v === 0L, lit(49L))
      .otherwise(lit(49L) - length(conv(v, 10, 2)).cast(LongType))
    val keyed = df.select(
      groupCols.map(col) :+ bucket.as("bucket") :+ rank.as("rank"): _*)
    keyed.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("rank").as("m"))
  }

  /** The estimate tail over a (group…, bucket, m) register table
    * (registers from more than one segment merge inside the
    * aggregate). */
  private[graft] def hllEstimate(regs: DataFrame,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val two49 = 562949953421312L // 2^49
    val merged = regs.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("m").as("m"))
    val agg =
      if (groupCols.isEmpty)
        merged.agg(
          count(lit(1)).as("n_filled"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - m AS INT))"))
            .as("t_filled"))
      else
        merged.groupBy(groupCols.map(col): _*).agg(
          count(lit(1)).as("n_filled"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - m AS INT))"))
            .as("t_filled"))
    val t = col("t_filled") + (lit(256L) - col("n_filled")) * lit(two49)
    agg.select(
      groupCols.map(col) ++ Seq(
        lit(256L).as("n_buckets"),
        (lit(256L) - col("n_filled")).as("n_zero"),
        t.as("t_sum"),
        round(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
          lit(65536.0) * lit(562949953421312.0) / t.cast(DoubleType), 2)
          .as("est_raw")): _*)
  }

  /** Persist an HLL sketch as a MERGEABLE index under the
    * [[graft.sinks.IndexManifest]] protocol: segments are (bucket, m)
    * register tables, appends land new batches' registers as their own
    * segments (idempotent per batchId via the manifest `applied`
    * record), and the serve merges segments by bucket-wise max — so
    * the estimate over save+appends EQUALS the one-shot estimate over
    * the union, exactly (max is associative, commutative, idempotent;
    * x186's oracle is x185's on the full corpus). This is the
    * incremental corpus-statistics shape at 100 TB: each ingest batch
    * contributes 256 rows, the serve reads kilobytes, and nothing ever
    * rescans the corpus. Time travel (`asOfVersion`) serves the
    * estimate as of any retained ingest point. */
  def saveHllSketch(df: DataFrame, keyCol: Column, path: String)
      : Unit = {
    hllRegisters(df, keyCol).coalesce(1).write.mode("errorifexists")
      .parquet(s"$path/regs/base")
    Segments.create(df.sparkSession, path, Map("regs" -> Seq("base")),
      Seq("base"))
  }

  /** Append a batch's registers as a new segment; replays no-op. */
  def appendToHllSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, keyCol: Column, batchId: String)
      : Unit = {
    val seg = s"delta_$batchId"
    Segments.append(spark, path, Segments.snapshot(spark, path), batchId,
        seg, Seq("regs")) {
      hllRegisters(df, keyCol).coalesce(1).write.mode("overwrite")
        .parquet(s"$path/regs/$seg")
    }
  }

  /** Serve the estimate from one manifest snapshot's merged registers. */
  def queryHllSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, asOfVersion: Option[Long] = None): DataFrame =
    hllEstimate(hllSketchRegisters(spark, path, asOfVersion))

  /** One snapshot's raw (bucket, m) register segments, un-merged
    * (every consumer's aggregate merges by max). */
  private[graft] def hllSketchRegisters(
      spark: org.apache.spark.sql.SparkSession, path: String,
      asOfVersion: Option[Long] = None): DataFrame =
    Segments.scan(spark, path, Segments.snapshot(spark, path, asOfVersion),
        "regs")
      .select(col("bucket"), col("m"))

  /** Cross-corpus OVERLAP scorecard from HLL registers (x214): the
    * sketch-level contamination complement to row-level
    * decontamination (x19 exact n-gram, x197 semantic) — "how much of
    * snapshot B is already inside snapshot A" WITHOUT rescanning
    * either corpus. Inclusion–exclusion over the union of register
    * sets: |A∩B| ≈ est(A) + est(B) − est(A∪B) (register-wise max IS
    * the union sketch — HLL's defining property), clamped at 0;
    * containment_b = |A∩B|/|B|, the fraction of B's distinct keys
    * believed already present in A. Registers are deterministic
    * (md5-addressed), so every number here is oracle-replicable —
    * like x185, not like engine-seeded x13. Relative error compounds
    * the three ±6.5% register estimates, so small overlaps disappear
    * into noise: the spec pins accuracy on fixtures with ≥20%
    * overlap, and the MinHash containment detector (x49) is the
    * row-level cross-check when precision matters.
    *
    * Output (one row): est_a, est_b, est_union, est_intersect,
    * containment_b. */
  def hllOverlap(a: DataFrame, b: DataFrame, keyCol: Column)
      : DataFrame =
    hllOverlapFromRegisters(hllRegisters(a, keyCol),
      hllRegisters(b, keyCol))

  /** [[hllOverlap]] between two PERSISTED sketches' snapshots — the
    * pure-composition serve: two kilobyte register reads, zero corpus
    * access (pair with `asOf` versions to score overlap between any
    * two retained ingest points of two different indexes). */
  def hllSketchOverlap(spark: org.apache.spark.sql.SparkSession,
      pathA: String, pathB: String, asOfA: Option[Long] = None,
      asOfB: Option[Long] = None): DataFrame =
    hllOverlapFromRegisters(hllSketchRegisters(spark, pathA, asOfA),
      hllSketchRegisters(spark, pathB, asOfB))

  private[graft] def hllOverlapFromRegisters(ra: DataFrame,
      rb: DataFrame): DataFrame = {
    val ea = hllEstimate(ra).select(col("est_raw").as("est_a"))
    val eb = hllEstimate(rb).select(col("est_raw").as("est_b"))
    val eu = hllEstimate(ra.unionByName(rb))
      .select(col("est_raw").as("est_union"))
    val inter = greatest(
      round(col("est_a") + col("est_b") - col("est_union"), 2),
      lit(0.0))
    // three 1-row frames — the provably-1-row broadcast cross join
    ea.crossJoin(broadcast(eb)).crossJoin(broadcast(eu))
      .select(col("est_a"), col("est_b"), col("est_union"),
        inter.as("est_intersect"),
        round(inter / col("est_b"), 6).as("containment_b"))
  }

  /** Histogram quantile estimates over a non-negative integer measure
    * (lengths, token counts, byte sizes — the distributions a corpus
    * dashboard tracks): bucket = `value div bucketWidth`, and the
    * q-quantile estimate is the lowest bucket whose from-the-bottom
    * cumulative count reaches k = ⌈q·n⌉ — the k-th smallest value
    * provably lies inside [est_lo, est_hi], so the estimate error is
    * bounded by ONE bucket width by construction (x150's
    * quantile-by-histogram, packaged as a reusable point-query sketch).
    *
    * Everything is integer arithmetic: quantiles arrive as MICRO
    * fractions (q_micros ∈ [1, 1e6]), k = `(q_micros·n + 999999) div
    * 1e6` — both engines compute identical longs, so the estimates are
    * oracle-exact (the [[countMinEstimates]] discipline; engine-seeded
    * `approx_percentile` (x24) can only be rows-only checked).
    *
    * Scale shape: ONE partial+final count aggregate onto a histogram
    * bounded by value-range/bucketWidth rows (hundreds, whatever the
    * corpus size); the cumulative pass and the per-quantile selection
    * run over that bounded table (a broadcast theta-join + a 1-row
    * total cross join — never the corpus). Counters are LINEAR:
    * merge = cell-wise addition, delete = negation — the same
    * turnstile lifecycle as the CMS sketch.
    *
    * Output, one row per probe: (q_micros, n, k, bucket, est_lo,
    * est_hi). NULL and negative values are excluded (pre-bucket them
    * explicitly if they must count). Empty input → empty output. */
  def histQuantiles(df: DataFrame, valueCol: Column, bucketWidth: Long,
      qMicros: Seq[Long]): DataFrame =
    histQuantileEstimates(histCounters(df, valueCol, bucketWidth),
      bucketWidth, qMicros)

  /** The (bucket, c) counter table behind [[histQuantiles]]. Counters
    * MERGE by bucket-wise ADDITION — the property the persisted
    * lifecycle below is built on. */
  private[graft] def histCounters(df: DataFrame, valueCol: Column,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1L,
      s"bucketWidth must be >= 1 (got $bucketWidth)")
    df.select(valueCol.cast(LongType).as("_v"))
      .filter(col("_v").isNotNull && col("_v") >= 0L)
      .select(expr(s"_v div $bucketWidth").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
  }

  /** Estimate tail over a (bucket, c) counter table (counters from
    * more than one segment — including NEGATED delete segments — merge
    * by summation inside the aggregate; netted-zero buckets are
    * harmless: they shift no cumulative count and can never be the
    * minimum qualifying bucket). */
  private[graft] def histQuantileEstimates(counters: DataFrame,
      bucketWidth: Long, qMicros: Seq[Long]): DataFrame = {
    require(qMicros.nonEmpty, "qMicros must be non-empty")
    require(qMicros.forall(q => q >= 1L && q <= 1000000L),
      s"every q_micros must be in [1, 1000000] (got $qMicros)")
    val merged = counters.groupBy("bucket").agg(sum("c").as("c"))
    // from-the-bottom cumulative counts via a theta self-join over the
    // HISTOGRAM (bounded by value-range/bucketWidth rows, never the
    // corpus — the same bounded-table sanction as the per-group
    // windows in topFractionByQuantile)
    val cum = merged.join(
        broadcast(merged.select(col("bucket").as("_b2"),
          col("c").as("_c2"))),
        col("_b2") <= col("bucket"))
      .groupBy("bucket").agg(sum("_c2").as("cum"))
    val n = merged.agg(sum("c").as("n"))
    // per-quantile selection: explode the literal probe list onto each
    // histogram row (the cmsCounters depth-explode shape), keep rows
    // reaching k, take the lowest qualifying bucket per probe
    val qs = explode(array(qMicros.map(lit): _*)).as("q_micros")
    cum.crossJoin(broadcast(n))
      .select(col("bucket"), col("cum"), col("n"), qs)
      .withColumn("k", expr("(q_micros * n + 999999) div 1000000"))
      .filter(col("cum") >= col("k"))
      .groupBy("q_micros", "n", "k")
      .agg(min("bucket").as("bucket"))
      .select(col("q_micros"), col("n"), col("k"), col("bucket"),
        (col("bucket") * lit(bucketWidth)).as("est_lo"),
        ((col("bucket") + lit(1L)) * lit(bucketWidth) - lit(1L))
          .as("est_hi"))
  }

  /** WEIGHTED histogram quantile estimates — [[histQuantiles]] with
    * each row contributing `weightCol` units instead of 1: "which
    * document-length bucket holds the median TOKEN" rather than the
    * median document — the mixture-design question (token budgets are
    * what training runs spend; doc counts are what naive quantiles
    * answer). Same integer discipline: weights are non-negative longs,
    * bucket counters are exact weight sums, k = ⌈q·W⌉ over the total
    * weight W, estimate = lowest bucket whose cumulative weight
    * reaches k, error ≤ one bucket width of the weighted
    * distribution. NULL/negative values AND weights are excluded.
    * Counters stay LINEAR (a weighted row merges by addition), so the
    * persisted lifecycle would carry over unchanged if ever needed. */
  def histQuantilesWeighted(df: DataFrame, valueCol: Column,
      weightCol: Column, bucketWidth: Long, qMicros: Seq[Long])
      : DataFrame = {
    require(bucketWidth >= 1L,
      s"bucketWidth must be >= 1 (got $bucketWidth)")
    val counters = df
      .select(valueCol.cast(LongType).as("_v"),
        weightCol.cast(LongType).as("_w"))
      .filter(col("_v").isNotNull && col("_v") >= 0L &&
        col("_w").isNotNull && col("_w") >= 0L)
      .select(expr(s"_v div $bucketWidth").as("bucket"), col("_w"))
      .groupBy("bucket").agg(sum("_w").as("c"))
    histQuantileEstimates(counters, bucketWidth, qMicros)
  }

  /** Per-GROUP histogram quantile estimates — [[histQuantiles]]'s
    * grouped shape (the [[hllDistinctBy]] relationship): one
    * range/width-bounded histogram per language/source, per-group
    * k = ⌈q·n_group⌉, per-group lowest-qualifying-bucket selection —
    * the per-group length/quality distribution dashboard without ever
    * sorting a group (and "en" is half the crawl, so a per-group sort
    * funnels half the corpus through one task — the exact failure
    * x150's histogram trick exists to avoid).
    *
    * All joins here are keyed on the group columns (no cross join —
    * the global form needs one only because it has no key), so the
    * plan is hash joins over the groups×buckets histogram. NULL groups
    * are excluded (the x150 contract: they have no place in a
    * per-group statistic — pre-bucket them explicitly if they must
    * count); NULL/negative values are excluded as in the global
    * form. */
  def histQuantilesBy(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], bucketWidth: Long, qMicros: Seq[Long])
      : DataFrame = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (use histQuantiles for the global " +
        "estimate)")
    require(bucketWidth >= 1L,
      s"bucketWidth must be >= 1 (got $bucketWidth)")
    require(qMicros.nonEmpty, "qMicros must be non-empty")
    require(qMicros.forall(q => q >= 1L && q <= 1000000L),
      s"every q_micros must be in [1, 1000000] (got $qMicros)")
    val gc = groupCols.map(col)
    val merged = df
      .select(gc :+ valueCol.cast(LongType).as("_v"): _*)
      .filter(gc.map(_.isNotNull).reduce(_ && _) &&
        col("_v").isNotNull && col("_v") >= 0L)
      .select(gc :+ expr(s"_v div $bucketWidth").as("bucket"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("c"))
    val cum = merged.join(
        broadcast(merged.select(
          groupCols.map(g => col(g)) ++
            Seq(col("bucket").as("_b2"), col("c").as("_c2")): _*)),
        groupCols).filter(col("_b2") <= col("bucket"))
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum("_c2").as("cum"))
    val n = merged.groupBy(gc: _*).agg(sum("c").as("n"))
    val qs = explode(array(qMicros.map(lit): _*)).as("q_micros")
    cum.join(broadcast(n), groupCols)
      .select(gc ++ Seq(col("bucket"), col("cum"), col("n"), qs): _*)
      .withColumn("k", expr("(q_micros * n + 999999) div 1000000"))
      .filter(col("cum") >= col("k"))
      .groupBy((groupCols ++ Seq("q_micros", "n", "k")).map(col): _*)
      .agg(min("bucket").as("bucket"))
      .select(gc ++ Seq(col("q_micros"), col("n"), col("k"),
        col("bucket"),
        (col("bucket") * lit(bucketWidth)).as("est_lo"),
        ((col("bucket") + lit(1L)) * lit(bucketWidth) - lit(1L))
          .as("est_hi")): _*)
  }

  /** Per-group ROBUST outlier audit via Tukey fences on histogram
    * quantiles — the heavy-tail-safe twin of the z-score filter (x35:
    * mean/stddev, which one pathological document drags arbitrarily;
    * median/IQR moves only when half the data moves). Per group the
    * quartiles come from [[histQuantilesBy]]'s bucket machinery
    * (upper bucket bounds, so fences are integers at bucket
    * resolution), IQR = q3 − q1, fences = q1 − (3·IQR) div 2 and
    * q3 + (3·IQR) div 2 (the classic 1.5·IQR kept integer-exact), and
    * the output is one audit row per group: (group…, n, q1, med, q3,
    * lo_bound, hi_bound, n_low, n_high). Rows land against broadcast
    * per-group fences — the corpus is never sorted or self-joined.
    * NULL groups/values excluded (the [[histQuantilesBy]] contract). */
  def robustOutliersByGroup(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], bucketWidth: Long): DataFrame = {
    val q = histQuantilesBy(df, valueCol, groupCols, bucketWidth,
      Seq(250000L, 500000L, 750000L))
    def at(micros: Long) =
      max(when(col("q_micros") === micros, col("est_hi")))
    val fences = q.groupBy(groupCols.map(col): _*)
      .agg(max(col("n")).as("n"), at(250000L).as("q1"),
        at(500000L).as("med"), at(750000L).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo_bound",
        col("q1") - expr("(3 * iqr) div 2"))
      .withColumn("hi_bound",
        col("q3") + expr("(3 * iqr) div 2"))
    val gc = groupCols.map(col)
    val vals = df
      .select(gc :+ valueCol.cast(LongType).as("_v"): _*)
      .filter(gc.map(_.isNotNull).reduce(_ && _) &&
        col("_v").isNotNull && col("_v") >= 0L)
    vals.join(broadcast(fences), groupCols)
      .groupBy(gc: _*)
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
        max(col("med")).as("med"), max(col("q3")).as("q3"),
        max(col("lo_bound")).as("lo_bound"),
        max(col("hi_bound")).as("hi_bound"),
        sum(when(col("_v") < col("lo_bound"), 1L).otherwise(0L))
          .as("n_low"),
        sum(when(col("_v") > col("hi_bound"), 1L).otherwise(0L))
          .as("n_high"))
  }

  /** Distribution drift between two corpus snapshots as the exact L1
    * distance of their value HISTOGRAMS — the ingest-monitoring gate
    * ("did this week's crawl shift the length/quality mix"): buckets
    * full-outer join (absent = 0), and Σ_b |p_a(b) − p_b(b)| is kept
    * integer-exact by cross-multiplying — l1_num = Σ|c_a·n_b − c_b·n_a|
    * over l1_den = n_a·n_b — with ONE final division rounded to 6 (the
    * zipfFit convention; drift ∈ [0, 2], 0 = identical mixes, 2 =
    * disjoint support). One bounded-histogram aggregate per side; the
    * totals ride in-plan as a provably-1-row broadcast cross join.
    * Output (one row): n_a, n_b, l1_num, drift. Empty sides error —
    * a drift against nothing is a contract violation, not 2.0. */
  def histDrift(a: DataFrame, b: DataFrame, valueCol: Column,
      bucketWidth: Long): DataFrame =
    histDriftFromCounters(histCounters(a, valueCol, bucketWidth),
      histCounters(b, valueCol, bucketWidth))

  /** [[histDrift]]'s tail over two pre-built (bucket, c) counter
    * tables — split out so drift can also be measured against a
    * PERSISTED sketch's merged counters (the streamed monitor,
    * x211) without rescanning the corpus behind it. Counters from
    * multiple segments merge inside the aggregate. */
  def histDriftFromCounters(ca: DataFrame, cb: DataFrame): DataFrame = {
    val ha = ca.groupBy("bucket").agg(sum("c").as("c_a"))
    val hb = cb.groupBy("bucket").agg(sum("c").as("c_b"))
    val joined = ha.join(hb, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val totals = joined.agg(sum("c_a").as("n_a"), sum("c_b").as("n_b"))
    // Cross-multiplications in Decimal(38,0): c*n in Long silently
    // overflows once a side passes ~3e9 rows (exactly the 100 TB
    // regime) under non-ANSI eval. Long×Long products fit decimal(38)
    // exactly; the public l1_num stays LongType via a guarded cast
    // that RAISES when the true numerator exceeds Long range rather
    // than wrapping.
    joined.crossJoin(broadcast(totals))
      .select(abs(dec38(col("c_a")) * dec38(col("n_b")) -
        dec38(col("c_b")) * dec38(col("n_a"))).as("d"),
        col("n_a"), col("n_b"))
      .groupBy("n_a", "n_b")
      .agg(sum("d").as("l1_dec"))
      .select(col("n_a"), col("n_b"), longExact(col("l1_dec"),
        "histDrift: l1 numerator exceeds Long range").as("l1_num"))
      .select(col("n_a"), col("n_b"), col("l1_num"),
        when(col("n_a") === 0L || col("n_b") === 0L,
          raise_error(lit("histDrift: empty snapshot side — both " +
            "histograms must be non-empty")).cast(DoubleType))
          .otherwise(round(col("l1_num").cast(DoubleType) /
            (dec38(col("n_a")) * dec38(col("n_b"))).cast(DoubleType),
            6))
          .as("drift"))
  }

  /** Exact-integer helpers for sketch cross-products: Long values cast
    * to Decimal(38,0) multiply without overflow (19+19 digits ≤ 38);
    * [[longExact]] converts back, raising on values outside Long range
    * instead of wrapping. */
  private def dec38(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
  private def longExact(c: Column, msg: String): Column =
    when(c > lit(Long.MaxValue).cast(
        org.apache.spark.sql.types.DecimalType(38, 0)),
      raise_error(lit(msg)).cast(LongType))
      .otherwise(c.cast(LongType))

  /** Pairwise distribution-drift MATRIX across a bounded group column
    * — [[histDrift]] for every (group, group) pair at once: "which
    * language/source mixes actually differ, and by how much" (the
    * mixture-design diagnostic next to [[temperatureMix]]). Per-group
    * histograms are zero-filled onto the common bucket grid (groups ×
    * observed buckets — bounded, a mixture has dozens of sources and
    * the grid is histogram-sized), pairs meet on a keyed bucket join
    * under g_a < g_b, and every number keeps [[histDrift]]'s
    * exact-integer discipline. Output one row per unordered pair:
    * (g_a, g_b, n_a, n_b, l1_num, drift). */
  def histDriftMatrix(df: DataFrame, valueCol: Column,
      groupCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1L,
      s"bucketWidth must be >= 1 (got $bucketWidth)")
    val h = df.select(col(groupCol).as("g"),
        valueCol.cast(LongType).as("_v"))
      .filter(col("g").isNotNull && col("_v").isNotNull &&
        col("_v") >= 0L)
      .select(col("g"), expr(s"_v div $bucketWidth").as("bucket"))
      .groupBy("g", "bucket").agg(count(lit(1)).as("c"))
    val n = h.groupBy("g").agg(sum("c").as("n"))
    val grid = n.select("g")
      .crossJoin(broadcast(h.select("bucket").distinct()))
      .join(h, Seq("g", "bucket"), "left")
      .select(col("g"), col("bucket"),
        coalesce(col("c"), lit(0L)).as("c"))
    val a = grid.select(col("g").as("g_a"), col("bucket"),
        col("c").as("c_a"))
      .join(broadcast(n.select(col("g").as("g_a"),
        col("n").as("n_a"))), Seq("g_a"))
    val b = grid.select(col("g").as("g_b"), col("bucket"),
        col("c").as("c_b"))
      .join(broadcast(n.select(col("g").as("g_b"),
        col("n").as("n_b"))), Seq("g_b"))
    a.join(b, Seq("bucket")).filter(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b", "n_a", "n_b")
      .agg(sum(abs(dec38(col("c_a")) * dec38(col("n_b")) -
        dec38(col("c_b")) * dec38(col("n_a")))).as("l1_dec"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        longExact(col("l1_dec"),
          "histDriftMatrix: l1 numerator exceeds Long range")
          .as("l1_num"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        col("l1_num"),
        round(col("l1_num").cast(DoubleType) /
          (dec38(col("n_a")) * dec38(col("n_b"))).cast(DoubleType), 6)
          .as("drift"))
  }

  /** Persist a histogram-quantile sketch as a MERGEABLE index (the
    * [[saveCmsSketch]] lifecycle on the addition-merged (bucket, c)
    * table): appends land batch counters as their own segments
    * (idempotent per batchId), deletes land NEGATED segments (linear
    * sketch — the turnstile half), the serve sums buckets across
    * segments — estimates over save+appends−deletes EQUAL the one-shot
    * sketch over the net corpus exactly. `bucketWidth` persists WITH
    * the index (a `params` table) so serves can never re-bucket with
    * mismatched geometry. The incremental distribution-monitoring
    * shape at 100 TB: each ingest batch contributes rows bounded by
    * its own value range, the serve reads kilobytes, nothing rescans
    * the corpus. */
  def saveHistSketch(df: DataFrame, valueCol: Column, path: String,
      bucketWidth: Long): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    histCounters(df, valueCol, bucketWidth).coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/regs/base")
    Seq(bucketWidth).toDF("bucket_width").coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/params/base")
    Segments.create(spark, path,
      Map("regs" -> Seq("base"), "params" -> Seq("base")), Seq("base"))
  }

  /** Append a batch's counters as a new segment; replays no-op. */
  def appendToHistSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, valueCol: Column, batchId: String)
      : Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("regs")) {
      histCounters(df, valueCol, histParams(spark, path, snap))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/regs/$seg")
    }
  }

  /** DELETE rows from a persisted histogram sketch — negated counter
    * segments, exactly [[removeFromCmsSketch]]'s turnstile model (the
    * histogram is linear too). Estimates stay exact replays of the net
    * corpus as long as every bucket's net count is non-negative (the
    * caller contract: delete only rows that were ingested). Idempotent
    * per batchId. */
  def removeFromHistSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, valueCol: Column, batchId: String)
      : Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delete_$batchId"
    Segments.delete(spark, path, snap, batchId, seg, Seq("regs")) {
      histCounters(df, valueCol, histParams(spark, path, snap))
        .select(col("bucket"), (-col("c")).as("c"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/regs/$seg")
    }
  }

  private def histParams(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot): Long =
    Segments.scan(spark, path, snap, "params")
      .head().getAs[Long]("bucket_width")

  /** The raw (bucket, c) counter segments and persisted bucketWidth
    * behind one sketch snapshot — the state the streamed drift
    * monitor (x211) compares an arriving batch against. Counters from
    * multiple segments are returned un-merged (every consumer's
    * aggregate merges them — [[histQuantileEstimates]],
    * [[histDriftFromCounters]]). */
  def histSketchState(spark: org.apache.spark.sql.SparkSession,
      path: String, asOfVersion: Option[Long] = None)
      : (DataFrame, Long) = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    (Segments.scan(spark, path, snap, "regs"),
      histParams(spark, path, snap))
  }

  /** Serve quantile estimates from one manifest snapshot's summed
    * counters, bucketed with the PERSISTED width. */
  def queryHistSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, qMicros: Seq[Long],
      asOfVersion: Option[Long] = None): DataFrame = {
    val (counters, width) = histSketchState(spark, path, asOfVersion)
    histQuantileEstimates(counters, width, qMicros)
  }

  /** The sketch's current manifest version — record it before an
    * append and [[histSketchState]]'s `asOfVersion` replays that
    * snapshot (the MVCC handle every persisted index shares). With
    * [[histDriftFromCounters]] this answers "how much did the ingest
    * between two versions move the distribution" from the sketch's
    * kilobytes alone — no corpus rescan (gated x212). */
  def histSketchVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  // ----------------------------------------- KLL quantile sketch (x213)

  /** Rank-error-bounded quantile estimates over an UNKNOWN value range
    * — the adaptive member of the quantile family. [[histQuantiles]]
    * needs an a-priori `bucketWidth` (right for token counts, wrong
    * for loss values / similarity scores / per-domain spend whose
    * scale is not known up front); this one needs only a sketch size
    * `k` and bounds RANK error: the returned `est` for probe q is an
    * OBSERVED value whose true rank lies within ±ε·n of k = ⌈q·n⌉,
    * ε shrinking as ~O(1/k) ([[graft.functions.KllAgg]], Karnin-Lang-
    * Liberty 2016). `n` is exact (compaction conserves total weight).
    *
    * Scale shape: ONE partial+final typed aggregate whose buffer is
    * O(3k) items regardless of corpus size (map-side partials combine
    * by level-wise merge), then the weighted rank selection runs over
    * the ≤3k surviving items — a broadcast theta-join + 1-row total
    * cross join, never the corpus. When n ≤ k nothing ever compacts
    * and the estimates are EXACT order statistics (the oracle-checked
    * regime); once compaction is active two runs may emit different
    * equally-valid values from the ε-band (partial-merge order is
    * scheduler-dependent, like engine `approx_percentile`), so gates
    * in that regime check rank error, not value equality.
    *
    * Output, one row per probe: (q_micros, n, k, est). NULLs are
    * excluded; negatives are FINE (unlike the histogram — no
    * non-negative bucket grid here). Empty input → empty output. */
  def kllQuantiles(df: DataFrame, valueCol: Column, k: Int,
      qMicros: Seq[Long]): DataFrame =
    kllQuantileEstimates(kllItems(df, valueCol, k), qMicros)

  /** The (level, v) surviving-item table behind [[kllQuantiles]] —
    * weight = 2^level is implied. Item tables from more than one
    * sketch MERGE BY CONCATENATION for serving (a union of weighted
    * samples is a weighted sample of the union; total weight stays
    * exact and per-segment rank errors add) — the property the
    * persisted lifecycle below is built on. Bounded by ~3k rows per
    * contributing sketch. */
  private[graft] def kllItems(df: DataFrame, valueCol: Column, k: Int)
      : DataFrame = {
    graft.functions.KllAgg.register(df.sparkSession)
    df.select(valueCol.cast(DoubleType).as("_v"))
      .select(graft.functions.KllAgg.kllSketch(col("_v"), k).as("sk"))
      .select(explode(col("sk")).as("it"))
      .select(col("it.level").as("level"), col("it.v").as("v"))
  }

  /** Weighted rank selection over (level, v) item rows: per probe q,
    * est = the smallest v whose cumulative weight reaches k = ⌈q·W⌉
    * over total weight W (= exact n). Runs entirely on the bounded
    * item table — theta self-join for cumulative weights, 1-row total
    * broadcast, per-probe lowest-qualifying-value selection (the
    * [[histQuantileEstimates]] shape with observed values in place of
    * bucket ids). */
  private[graft] def kllQuantileEstimates(items: DataFrame,
      qMicros: Seq[Long]): DataFrame = {
    require(qMicros.nonEmpty, "qMicros must be non-empty")
    require(qMicros.forall(q => q >= 1L && q <= 1000000L),
      s"every q_micros must be in [1, 1000000] (got $qMicros)")
    val merged = items
      .select(col("v"),
        call_function("shiftleft", lit(1L), col("level")).as("w"))
      .groupBy("v").agg(sum("w").as("w"))
    val cum = merged.join(
        broadcast(merged.select(col("v").as("_v2"), col("w").as("_w2"))),
        col("_v2") <= col("v"))
      .groupBy("v").agg(sum("_w2").as("cum"))
    val n = merged.agg(sum("w").as("n"))
    val qs = explode(array(qMicros.map(lit): _*)).as("q_micros")
    cum.crossJoin(broadcast(n))
      .select(col("v"), col("cum"), col("n"), qs)
      .withColumn("k", expr("(q_micros * n + 999999) div 1000000"))
      .filter(col("cum") >= col("k"))
      .groupBy("q_micros", "n", "k")
      .agg(min("v").as("est"))
      .select(col("q_micros"), col("n"), col("k"), col("est"))
  }

  /** Per-GROUP KLL quantile estimates — [[kllQuantiles]]'s grouped
    * shape (the [[histQuantilesBy]] relationship): ONE typed aggregate
    * keyed on the group columns (each group's sketch is O(3k) however
    * large the group — "en" being half the crawl costs half the scan,
    * never a per-group sort), then the weighted rank selection runs
    * keyed on the group over the groups×3k item table. NULL groups
    * are excluded (the x150/x198 contract); NULL values skipped by
    * the aggregate. Output: (group…, q_micros, n, k, est). */
  def kllQuantilesBy(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], k: Int, qMicros: Seq[Long]): DataFrame = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (use kllQuantiles for the global " +
        "estimate)")
    require(qMicros.nonEmpty, "qMicros must be non-empty")
    require(qMicros.forall(q => q >= 1L && q <= 1000000L),
      s"every q_micros must be in [1, 1000000] (got $qMicros)")
    graft.functions.KllAgg.register(df.sparkSession)
    val gc = groupCols.map(col)
    val items = df
      .select(gc :+ valueCol.cast(DoubleType).as("_v"): _*)
      .filter(gc.map(_.isNotNull).reduce(_ && _))
      .groupBy(gc: _*)
      .agg(graft.functions.KllAgg.kllSketch(col("_v"), k).as("sk"))
      .select(gc :+ explode(col("sk")).as("it"): _*)
      .select(gc ++ Seq(col("it.level").as("level"),
        col("it.v").as("v")): _*)
    val merged = items
      .select(gc ++ Seq(col("v"),
        call_function("shiftleft", lit(1L), col("level")).as("w")): _*)
      .groupBy((groupCols :+ "v").map(col): _*).agg(sum("w").as("w"))
    val cum = merged.join(
        broadcast(merged.select(
          gc ++ Seq(col("v").as("_v2"), col("w").as("_w2")): _*)),
        groupCols).filter(col("_v2") <= col("v"))
      .groupBy((groupCols :+ "v").map(col): _*)
      .agg(sum("_w2").as("cum"))
    val n = merged.groupBy(gc: _*).agg(sum("w").as("n"))
    val qs = explode(array(qMicros.map(lit): _*)).as("q_micros")
    cum.join(broadcast(n), groupCols)
      .select(gc ++ Seq(col("v"), col("cum"), col("n"), qs): _*)
      .withColumn("k", expr("(q_micros * n + 999999) div 1000000"))
      .filter(col("cum") >= col("k"))
      .groupBy((groupCols ++ Seq("q_micros", "n", "k")).map(col): _*)
      .agg(min("v").as("est"))
      .select(gc ++ Seq(col("q_micros"), col("n"), col("k"),
        col("est")): _*)
  }

  /** Per-group quantile-band trim (x233): keep each group's rows whose
    * value lies inside [Q(loMicros), Q(hiMicros)], with the per-group
    * thresholds read from the KLL sketch ([[kllQuantilesBy]]) and
    * BROADCAST back onto the scan — the scale-safe twin of the
    * percent_rank window trim (x60), which puts every row of one group
    * in ONE task's sort (at 100× a dominant language is a single-task
    * sort of most of the corpus). Here the corpus is never sorted:
    * pass 1 is a keyed O(3k)-state aggregate, pass 2 one narrow filter
    * against a groups×2 broadcast table. In the exact regime (k above
    * every group) the thresholds ARE the ⌈q·n⌉-th order statistics
    * (oracle-checked); under compaction each threshold carries the
    * sketch's rank error. Band ends are INCLUSIVE on the threshold
    * values — ties with Q(lo)/Q(hi) survive (same boundary rule as the
    * exact form's `pr >= lo && pr <= hi`). NULL groups and NULL values
    * are dropped (the [[kllQuantilesBy]] contract). Output: the input
    * rows that survive, plus the group's (lo, hi) thresholds. */
  def kllTrimByGroup(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], k: Int, loMicros: Long, hiMicros: Long)
      : DataFrame = {
    require(loMicros <= hiMicros,
      s"loMicros must be <= hiMicros (got $loMicros > $hiMicros)")
    val th = kllQuantilesBy(df, valueCol, groupCols, k,
        Seq(loMicros, hiMicros).distinct)
      .groupBy(groupCols.map(col): _*)
      .agg(
        min(when(col("q_micros") === loMicros, col("est"))).as("lo"),
        min(when(col("q_micros") === hiMicros, col("est"))).as("hi"))
    df.join(broadcast(th), groupCols)
      .filter(valueCol.cast(DoubleType).between(col("lo"), col("hi")))
  }

  /** Per-group quantile BINNING from KLL thresholds (x248) — the
    * scale-safe twin of `ntile(k)` over a per-group window (q38's
    * shape), which sorts each whole group in one task. Thresholds
    * Q(q₁) < … < Q(qₘ) come from the grouped sketch and broadcast
    * back; bin(v) = 1 + |{qᵢ : v > Q(qᵢ)}| — bins are VALUE-defined,
    * so ties land in ONE bin (reproducible under re-partitioning),
    * where ntile splits tied values positionally across bins — the
    * price of the exact window form this twin refuses. Exact regime
    * → order-statistic bin edges, oracle-checkable; NULL groups/
    * values drop ([[kllQuantilesBy]]'s domain). Output: the input
    * rows plus `bin` (1..m+1). */
  def kllBinByGroup(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], k: Int, qMicros: Seq[Long]): DataFrame = {
    require(qMicros.nonEmpty && qMicros == qMicros.sorted &&
        qMicros.distinct == qMicros,
      s"qMicros must be strictly ascending (got $qMicros)")
    val th = kllQuantilesBy(df, valueCol, groupCols, k, qMicros)
      .groupBy(groupCols.map(col): _*)
      .agg(expr("transform(sort_array(collect_list(" +
        "struct(q_micros, est))), s -> s.est)").as("_ths"))
    df.join(broadcast(th), groupCols)
      .filter(valueCol.isNotNull)
      .withColumn("bin", (lit(1) + size(filter(col("_ths"),
        t => valueCol.cast(DoubleType) > t))).cast(LongType))
      .drop("_ths")
  }

  /** Two-sample Kolmogorov-Smirnov drift from KLL sketches (x226) —
    * the rank-space member of the drift family: [[histDrift]]'s L1
    * needs the histogram's a-priori bucket grid; KS from two KLL item
    * tables needs no range hint and reads the classic sup-distance
    * between the two empirical CDFs, D = max_v |F_a(v) − F_b(v)| ∈
    * [0, 1]. Exact-integer discipline end to end: the numerator is
    * max |cum_a·n_b − cum_b·n_a| over the union of observed item
    * values (cross-products in Decimal(38,0), the [[histDrift]]
    * overflow rule), ONE final division. In the exact regime (k above
    * both sides) this IS the textbook two-sample KS statistic,
    * oracle-checkable; under compaction the error is bounded by the
    * two sketches' rank errors (≈ ε_a + ε_b), pinned in the spec.
    *
    * Scale shape: two O(3k) sketches, then every join runs over the
    * ≤6k-value union table — broadcast theta joins, a 1-row totals
    * cross join, never a corpus scan or sort. Empty sides error (the
    * [[histDrift]] contract). */
  def kllKsDrift(a: DataFrame, b: DataFrame, valueCol: Column, k: Int)
      : DataFrame =
    kllKsDriftFromItems(kllItems(a, valueCol, k),
      kllItems(b, valueCol, k))

  /** [[kllKsDrift]]'s tail over two (level, v) item tables — split out
    * so drift can be measured between PERSISTED sketch snapshots
    * ([[kllSketchState]], the x212 MVCC shape — x227) without
    * rescanning the corpora behind them. */
  def kllKsDriftFromItems(ia: DataFrame, ib: DataFrame): DataFrame = {
    def weighted(items: DataFrame) = items
      .select(col("v"),
        call_function("shiftleft", lit(1L), col("level")).as("w"))
      .groupBy("v").agg(sum("w").as("w"))
    val ma = weighted(ia)
    val mb = weighted(ib)
    val vals = ma.select("v").unionByName(mb.select("v")).distinct()
    def cum(m: DataFrame, out: String) = vals
      .join(broadcast(m.select(col("v").as("_v2"), col("w"))),
        col("_v2") <= col("v"), "left")
      .groupBy("v").agg(coalesce(sum("w"), lit(0L)).as(out))
    val joined = cum(ma, "cum_a").join(cum(mb, "cum_b"), "v")
    val totals = ma.agg(coalesce(sum("w"), lit(0L)).as("n_a"))
      .crossJoin(broadcast(
        mb.agg(coalesce(sum("w"), lit(0L)).as("n_b"))))
    joined.crossJoin(broadcast(totals))
      .select(abs(dec38(col("cum_a")) * dec38(col("n_b")) -
        dec38(col("cum_b")) * dec38(col("n_a"))).as("d"),
        col("n_a"), col("n_b"))
      .groupBy("n_a", "n_b")
      .agg(max("d").as("ks_dec"))
      .select(col("n_a"), col("n_b"),
        longExact(col("ks_dec"),
          "kllKsDrift: KS numerator exceeds Long range").as("ks_num"))
      .select(col("n_a"), col("n_b"), col("ks_num"),
        when(col("n_a") === 0L || col("n_b") === 0L,
          raise_error(lit("kllKsDrift: empty snapshot side — both " +
            "sketches must be non-empty")).cast(DoubleType))
          .otherwise(round(col("ks_num").cast(DoubleType) /
            (dec38(col("n_a")) * dec38(col("n_b"))).cast(DoubleType),
            6))
          .as("ks"))
  }

  /** Empirical-CDF estimates at caller-supplied thresholds from a KLL
    * sketch (x232) — the inverse read of [[kllQuantiles]]: "what
    * fraction of documents are under 512 tokens / what share of
    * scores clear 0.8" (the budget/threshold-planning questions) with
    * no bucket grid. cdf(t) = (Σ weight of items ≤ t) / n; in the
    * exact regime this IS the empirical CDF (oracle-checked), under
    * compaction the error is the sketch's rank error. One bounded
    * broadcast theta join per read. Output, one row per threshold:
    * (t, n, le_w, cdf). */
  def kllCdfAt(df: DataFrame, valueCol: Column, k: Int,
      thresholds: Seq[Double]): DataFrame =
    kllCdfFromItems(kllItems(df, valueCol, k), thresholds)

  /** [[kllCdfAt]]'s tail over a (level, v) item table (persisted
    * snapshots via [[kllSketchState]]). */
  def kllCdfFromItems(items: DataFrame, thresholds: Seq[Double])
      : DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val merged = items
      .select(col("v"),
        call_function("shiftleft", lit(1L), col("level")).as("w"))
      .groupBy("v").agg(sum("w").as("w"))
    val n = merged.agg(coalesce(sum("w"), lit(0L)).as("n"))
    val ts = explode(array(thresholds.map(lit): _*)).as("t")
    n.select(ts, col("n"))
      .join(broadcast(merged), col("v") <= col("t"), "left")
      .groupBy("t", "n")
      .agg(coalesce(sum("w"), lit(0L)).as("le_w"))
      .select(col("t"), col("n"), col("le_w"),
        when(col("n") === 0L,
          raise_error(lit("kllCdfAt: empty sketch")).cast(DoubleType))
          .otherwise(round(col("le_w").cast(DoubleType) /
            col("n").cast(DoubleType), 6))
          .as("cdf"))
  }

  /** Persist a KLL sketch as a MERGEABLE index: the (level, v) item
    * table under `items/base`, `k` under `params/base` (serves can
    * never re-sketch with mismatched geometry), manifest versions for
    * time travel. NOT linear — no turnstile delete lifecycle (KLL
    * trades the histogram's linearity for unknown-range support;
    * remove rows by re-ingesting survivors). */
  def saveKllSketch(df: DataFrame, valueCol: Column, path: String,
      k: Int): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    kllItems(df, valueCol, k).coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/items/base")
    Seq(k).toDF("k").coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/params/base")
    Segments.create(spark, path,
      Map("items" -> Seq("base"), "params" -> Seq("base")), Seq("base"))
  }

  /** Append a batch as its own sketch segment (built with the
    * PERSISTED k); serving concatenates segments. Replays no-op. */
  def appendToKllSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, valueCol: Column, batchId: String)
      : Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("items")) {
      kllItems(df, valueCol, kllParams(spark, path, snap)).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/items/$seg")
    }
  }

  /** Fold all segments back into ONE — serve state is O(3k·segments)
    * under pure concatenation, and compaction restores O(3k) while
    * conserving total weight exactly. The fold is a true KLL merge
    * (items re-enter their own levels, then capacity-driven
    * compaction), done driver-side over the collected item table —
    * sketch kilobytes, never the corpus (the bounded-reload sanction
    * the IVF centroid/codebook lifecycle documents). Appends already
    * applied stay recorded so their replays still no-op. */
  def compactKllSketch(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactKllSketchFrom(spark, path, Segments.snapshot(spark, path))

  private[ext] def compactKllSketchFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    val k = kllParams(spark, path, snap)
    // the fold reads exactly THIS snapshot's segments (not "latest"),
    // so the commit can name what it folded
    val items = Segments.scan(spark, path, snap, "items")
    val sk = new graft.functions.KllAgg.Sketch(k)
    // bounded collect: ≤ 3k items per segment — sketch state, not data
    items.select(col("level"), col("v"))
      .collect().sortBy(r => (r.getInt(0), r.getDouble(1)))
      .foreach(r => sk.pushWeighted(r.getInt(0), r.getDouble(1)))
    sk.compactPass()
    import spark.implicits._
    Segments.fold(spark, path, snap, Seq("items"), "compactKllSketch") {
      seg =>
        sk.itemRows.toDF("level", "v").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/items/$seg")
    }
  }

  private def kllParams(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot): Int =
    Segments.scan(spark, path, snap, "params").head().getAs[Int]("k")

  /** The raw (level, v) item segments and persisted k behind one
    * sketch snapshot. Segments are returned un-merged (concatenation
    * IS the serve-time merge). */
  def kllSketchState(spark: org.apache.spark.sql.SparkSession,
      path: String, asOfVersion: Option[Long] = None)
      : (DataFrame, Int) = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    (Segments.scan(spark, path, snap, "items"), kllParams(spark, path, snap))
  }

  /** Serve quantile estimates from one manifest snapshot's
    * concatenated item segments. */
  def queryKllSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, qMicros: Seq[Long],
      asOfVersion: Option[Long] = None): DataFrame = {
    val (items, _) = kllSketchState(spark, path, asOfVersion)
    kllQuantileEstimates(items, qMicros)
  }

  // ------------------------------------- grouped persisted KLL sketch

  /** Grouped (g, level, v) item rows — [[kllItems]] keyed on one
    * group column (cast to string for a persistence-stable schema).
    * NULL groups excluded, NULL values skipped by the aggregate. */
  private[graft] def kllItemsBy(df: DataFrame, valueCol: Column,
      groupCol: String, k: Int): DataFrame = {
    graft.functions.KllAgg.register(df.sparkSession)
    df.select(col(groupCol).cast(StringType).as("g"),
        valueCol.cast(DoubleType).as("_v"))
      .filter(col("g").isNotNull)
      .groupBy("g")
      .agg(graft.functions.KllAgg.kllSketch(col("_v"), k).as("sk"))
      .select(col("g"), explode(col("sk")).as("it"))
      .select(col("g"), col("it.level").as("level"),
        col("it.v").as("v"))
  }

  /** [[kllQuantileEstimates]]' grouped tail over (g, level, v) rows —
    * every join keyed on the group, the bounded item table never the
    * corpus. Output: (groupOut, q_micros, n, k, est). */
  private[graft] def kllQuantileEstimatesBy(items: DataFrame,
      groupOut: String, qMicros: Seq[Long]): DataFrame = {
    require(qMicros.nonEmpty, "qMicros must be non-empty")
    require(qMicros.forall(q => q >= 1L && q <= 1000000L),
      s"every q_micros must be in [1, 1000000] (got $qMicros)")
    val merged = items
      .select(col("g"), col("v"),
        call_function("shiftleft", lit(1L), col("level")).as("w"))
      .groupBy("g", "v").agg(sum("w").as("w"))
    val cum = merged.join(
        broadcast(merged.select(col("g").as("_g2"),
          col("v").as("_v2"), col("w").as("_w2"))),
        col("_g2") === col("g") && col("_v2") <= col("v"))
      .groupBy("g", "v").agg(sum("_w2").as("cum"))
    val n = merged.groupBy("g").agg(sum("w").as("n"))
    val qs = explode(array(qMicros.map(lit): _*)).as("q_micros")
    cum.join(broadcast(n), "g")
      .select(col("g"), col("v"), col("cum"), col("n"), qs)
      .withColumn("k", expr("(q_micros * n + 999999) div 1000000"))
      .filter(col("cum") >= col("k"))
      .groupBy("g", "q_micros", "n", "k").agg(min("v").as("est"))
      .select(col("g").as(groupOut), col("q_micros"), col("n"),
        col("k"), col("est"))
  }

  /** Persist a PER-GROUP KLL sketch (x237) — [[saveKllSketch]]'s
    * lifecycle with the items keyed on one group column (per-source,
    * per-language): the shape a per-source drift alarm or per-group
    * threshold read ([[kllTrimByGroup]]) maintains incrementally. Each
    * group's state is O(3k) however large the group; `k` and the group
    * column name persist in `params` so appends and serves can never
    * mix geometries. Same manifest protocol: idempotent appends,
    * snapshot time travel, CAS-guarded compaction. */
  def saveGroupedKllSketch(df: DataFrame, valueCol: Column,
      groupCol: String, path: String, k: Int): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    kllItemsBy(df, valueCol, groupCol, k).coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/items/base")
    // the group's ORIGINAL dataType persists alongside its name: items
    // key groups as strings (persistence-stable schema), and the serve
    // reads cast back, so a numeric-grouped sketch serves numeric
    // groups and kllTrimByGroupFromSketch's join is type-exact
    val groupType = df.select(col(groupCol)).schema.head.dataType.sql
    Seq((k, groupCol, groupType)).toDF("k", "group_col", "group_type")
      .coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/params/base")
    Segments.create(spark, path,
      Map("items" -> Seq("base"), "params" -> Seq("base")), Seq("base"))
  }

  private def groupedKllParams(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot)
      : (Int, String, org.apache.spark.sql.types.DataType) = {
    val r = Segments.scan(spark, path, snap, "params").head()
    // pre-group_type sketches (none persist across runs, but be
    // explicit) served string groups — keep that as the fallback
    val gt =
      if (r.schema.fieldNames.contains("group_type"))
        org.apache.spark.sql.types.DataType.fromDDL(
          r.getAs[String]("group_type"))
      else StringType
    (r.getAs[Int]("k"), r.getAs[String]("group_col"), gt)
  }

  /** Append a batch as its own per-group item segment (built with the
    * PERSISTED k and group column); replays no-op. */
  def appendToGroupedKllSketch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, valueCol: Column, batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("items")) {
      val (k, groupCol, _) = groupedKllParams(spark, path, snap)
      kllItemsBy(df, valueCol, groupCol, k).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/items/$seg")
    }
  }

  /** The raw grouped (g, level, v) segments behind one snapshot. */
  def groupedKllSketchState(spark: org.apache.spark.sql.SparkSession,
      path: String, asOfVersion: Option[Long] = None)
      : (DataFrame, Int, String) = {
    val (items, k, groupCol, _) =
      groupedKllSketchStateTyped(spark, path, asOfVersion)
    (items, k, groupCol)
  }

  /** [[groupedKllSketchState]] plus the group column's PERSISTED
    * dataType — the serve reads cast the string-keyed items' group
    * back to it, so grouped serves and [[kllTrimByGroupFromSketch]]'s
    * join are type-exact with their [[kllQuantilesBy]] twins. */
  private def groupedKllSketchStateTyped(
      spark: org.apache.spark.sql.SparkSession, path: String,
      asOfVersion: Option[Long] = None)
      : (DataFrame, Int, String, org.apache.spark.sql.types.DataType) = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val (k, groupCol, groupType) = groupedKllParams(spark, path, snap)
    (Segments.scan(spark, path, snap, "items"), k, groupCol, groupType)
  }

  /** Serve per-group quantile estimates from one snapshot — output
    * keyed by the PERSISTED group column name AND type, the
    * [[kllQuantilesBy]] shape read from sketch kilobytes instead of
    * the corpus. */
  def queryGroupedKllSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, qMicros: Seq[Long],
      asOfVersion: Option[Long] = None): DataFrame = {
    val (items, _, groupCol, gt) =
      groupedKllSketchStateTyped(spark, path, asOfVersion)
    kllQuantileEstimatesBy(items, groupCol, qMicros)
      .withColumn(groupCol, col(groupCol).cast(gt))
  }

  /** Fold every group's segments back to one — DISTRIBUTED, unlike
    * [[compactKllSketch]]'s driver-side fold: groups are independent,
    * so the fold runs as one `groupByKey.mapGroups` pass (each task
    * holds ONE group's ≤3k·segments items plus an O(3k) sketch — the
    * executor-memory contract holds however many groups exist, which
    * is exactly when a driver collect would not). Items are sorted
    * before re-entry so the fold is partitioning-independent. Same
    * CAS guards as [[compactKllSketchFrom]]: a mid-fold append is
    * carried, a racing compaction aborts. */
  def compactGroupedKllSketch(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    compactGroupedKllSketchFrom(spark, path,
      Segments.snapshot(spark, path))

  private[ext] def compactGroupedKllSketchFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    val (k, _, _) = groupedKllParams(spark, path, snap)
    if (snap.segs("items").length == 1) return
    val items = Segments.scan(spark, path, snap, "items")
    import spark.implicits._
    val compacted = items.select(col("g"), col("level"), col("v"))
      .as[(String, Int, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (g, rows) =>
        val sk = new graft.functions.KllAgg.Sketch(k)
        rows.map(r => (r._2, r._3)).toArray.sorted
          .foreach { case (l, v) => sk.pushWeighted(l, v) }
        sk.compactPass()
        sk.itemRows.iterator.map { case (l, v) => (g, l, v) }
      }
      .toDF("g", "level", "v")
    Segments.fold(spark, path, snap, Seq("items"),
        "compactGroupedKllSketch") { seg =>
      compacted.coalesce(1)
        .write.mode("overwrite").parquet(s"$path/items/$seg")
    }
  }

  /** [[kllTrimByGroup]] with the thresholds read from a PERSISTED
    * grouped sketch (x241) — the production composition: a stream
    * maintains the sketch ([[kllByGroupSketchAppendWriter]]'s x237
    * state), and the trim reads its per-group [Q(lo), Q(hi)] bands
    * from sketch KILOBYTES — the corpus is scanned once for the
    * filter itself and never for the thresholds (x233 recomputes them
    * from the corpus; here threshold freshness is the sketch's, and
    * `asOfVersion` pins a trim to an audited snapshot). Same inclusive
    * band, same broadcast-filter plan shape. */
  def kllTrimByGroupFromSketch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, valueCol: Column, loMicros: Long, hiMicros: Long,
      asOfVersion: Option[Long] = None): DataFrame = {
    require(loMicros <= hiMicros,
      s"loMicros must be <= hiMicros (got $loMicros > $hiMicros)")
    val (items, _, groupCol, gt) =
      groupedKllSketchStateTyped(spark, path, asOfVersion)
    val th = kllQuantileEstimatesBy(items, groupCol,
        Seq(loMicros, hiMicros).distinct)
      // join key cast back to the group's persisted type — a numeric
      // group (e.g. c_nationkey) joins type-exactly, no implicit
      // string/numeric coercion on the corpus side
      .withColumn(groupCol, col(groupCol).cast(gt))
      .groupBy(col(groupCol))
      .agg(
        min(when(col("q_micros") === loMicros, col("est"))).as("lo"),
        min(when(col("q_micros") === hiMicros, col("est"))).as("hi"))
    df.join(broadcast(th), Seq(groupCol))
      .filter(valueCol.cast(DoubleType).between(col("lo"), col("hi")))
  }

  /** Per-group two-sample KS drift (the x226 statistic keyed on the
    * group) between two grouped item tables — the PER-SOURCE drift
    * alarm: one row per group present on BOTH sides, D = sup_v
    * |F_a(v) − F_b(v)| in exact-integer arithmetic, one final
    * division. Groups on one side only are omitted (no two-sample
    * statistic exists); the caller's alarm treats absence as its own
    * signal. Every join keyed on (g, v) over sketch-bounded tables. */
  def kllKsDriftByGroupFromItems(ia: DataFrame, ib: DataFrame)
      : DataFrame = {
    def weighted(items: DataFrame) = items
      .select(col("g"), col("v"),
        call_function("shiftleft", lit(1L), col("level")).as("w"))
      .groupBy("g", "v").agg(sum("w").as("w"))
    val ma = weighted(ia)
    val mb = weighted(ib)
    val vals = ma.select("g", "v").unionByName(mb.select("g", "v"))
      .distinct()
    def cum(m: DataFrame, out: String) = vals
      .join(broadcast(m.select(col("g").as("_g2"),
        col("v").as("_v2"), col("w"))),
        col("_g2") === col("g") && col("_v2") <= col("v"), "left")
      .groupBy("g", "v").agg(coalesce(sum("w"), lit(0L)).as(out))
    val joined = cum(ma, "cum_a").join(cum(mb, "cum_b"), Seq("g", "v"))
    val totals = ma.groupBy("g").agg(sum("w").as("n_a"))
      .join(mb.groupBy("g").agg(sum("w").as("n_b")), Seq("g"))
    joined.join(broadcast(totals), Seq("g"))
      .select(col("g"),
        abs(dec38(col("cum_a")) * dec38(col("n_b")) -
          dec38(col("cum_b")) * dec38(col("n_a"))).as("d"),
        col("n_a"), col("n_b"))
      .groupBy("g", "n_a", "n_b")
      .agg(max("d").as("ks_dec"))
      .select(col("g"), col("n_a"), col("n_b"),
        longExact(col("ks_dec"),
          "kllKsDriftByGroup: KS numerator exceeds Long range")
          .as("ks_num"))
      .select(col("g"), col("n_a"), col("n_b"), col("ks_num"),
        round(col("ks_num").cast(DoubleType) /
          (dec38(col("n_a")) * dec38(col("n_b"))).cast(DoubleType), 6)
          .as("ks"))
  }

  /** [[kllKsDriftByGroupFromItems]] straight from two corpora. */
  def kllKsDriftByGroup(a: DataFrame, b: DataFrame, valueCol: Column,
      groupCol: String, k: Int): DataFrame =
    kllKsDriftByGroupFromItems(kllItemsBy(a, valueCol, groupCol, k),
      kllItemsBy(b, valueCol, groupCol, k))

  /** [[kllCdfFromItems]] keyed on the group (x243) — per-group
    * empirical-CDF estimates at caller thresholds: "what share of
    * EACH language clears 512 tokens", the per-source budget/
    * threshold-planning read. Groups with an empty sketch cannot
    * appear (no items); output one row per (group, threshold). */
  def kllCdfByGroupFromItems(items: DataFrame, groupOut: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val merged = items
      .select(col("g"), col("v"),
        call_function("shiftleft", lit(1L), col("level")).as("w"))
      .groupBy("g", "v").agg(sum("w").as("w"))
    val n = merged.groupBy("g").agg(sum("w").as("n"))
    val ts = explode(array(thresholds.map(lit): _*)).as("t")
    n.select(col("g"), ts, col("n"))
      .join(broadcast(merged.select(col("g").as("_g2"), col("v"),
        col("w"))),
        col("_g2") === col("g") && col("v") <= col("t"), "left")
      .groupBy("g", "t", "n")
      .agg(coalesce(sum("w"), lit(0L)).as("le_w"))
      .select(col("g").as(groupOut), col("t"), col("n"), col("le_w"),
        round(col("le_w").cast(DoubleType) /
          col("n").cast(DoubleType), 6).as("cdf"))
  }

  /** [[kllCdfByGroupFromItems]] straight from a corpus. */
  def kllCdfByGroup(df: DataFrame, valueCol: Column, groupCol: String,
      k: Int, thresholds: Seq[Double]): DataFrame =
    kllCdfByGroupFromItems(kllItemsBy(df, valueCol, groupCol, k),
      groupCol, thresholds)

  /** Per-group CDF read off a PERSISTED grouped sketch snapshot —
    * composes with the x237 stream-maintained state like
    * [[kllTrimByGroupFromSketch]]. */
  def queryGroupedKllCdf(spark: org.apache.spark.sql.SparkSession,
      path: String, thresholds: Seq[Double],
      asOfVersion: Option[Long] = None): DataFrame = {
    val (items, _, groupCol, gt) =
      groupedKllSketchStateTyped(spark, path, asOfVersion)
    kllCdfByGroupFromItems(items, groupCol, thresholds)
      .withColumn(groupCol, col(groupCol).cast(gt))
  }
}
