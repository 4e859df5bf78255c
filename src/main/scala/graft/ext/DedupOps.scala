package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.Segments

/** Deduplication at training-data scale (SURVEY §7.5): exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. Design notes for 100 TB:
  *
  *  - Exact dedup shuffles a 64-bit content hash, never the document body.
  *  - Near-dup methods all follow the sketch → band → bucket-join →
  *    verify shape: the only shuffle moves (bucket-key, doc_id, sketch)
  *    tuples, and candidate verification happens per bucket — no O(n²)
  *    cross join ever materializes.
  *  - Everything is built-in expressions (codegen'd); the MinHash
  *    signature is a single `transform` over a literal seed array.
  */
object DedupOps {

  // ------------------------------------------------------------- exact

  /** Exact dedup: one winner (min id) per distinct key value, with the
    * duplicate count. At scale, group on xxhash64(text) so the shuffle
    * carries 8 bytes per row instead of the document; collisions are
    * resolved by the (vanishingly rare) per-bucket exact compare. */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Scale variant: pre-hash the key so the exchange is fixed-width. */
  def exactDedupHashed(df: DataFrame, keyCol: String, idCol: String)
      : DataFrame =
    df.withColumn("_h", xxhash64(col(keyCol)))
      .groupBy(col("_h"), col(keyCol)) // keep exact compare for collisions
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** URL-keyed exact dedup (x251): canonicalize
    * ([[TextAnalysis.canonicalizeUrl]]) then the [[exactDedupHashed]]
    * shape keyed on the canonical form — the first dedup pass of a
    * web-corpus ingest (the same page under scheme-case/default-port/
    * trailing-slash/param-order variants collapses BEFORE any content
    * fetch or near-dup sketch runs). Rows whose URL does not
    * canonicalize (no scheme/host) are dropped — route them to a
    * quarantine path upstream if they matter. Output one row per
    * canonical URL: (host, canonical_url, keep_id, n_copies); the
    * shuffle carries the canonical string + 8-byte hash, never
    * document bodies. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String)
      : DataFrame =
    df.select(col(idCol),
        TextAnalysis.canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .filter(col("canonical_url").isNotNull)
      .withColumn("_h", xxhash64(col("canonical_url")))
      .groupBy(col("_h"), col("canonical_url"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(
        regexp_extract(col("canonical_url"),
          "^[a-z][a-z0-9+.-]*://([^/:?]*)", 1).as("host"),
        col("canonical_url"), col("keep_id"), col("n_copies"))

  // ------------------------------------------------- n-gram Jaccard

  /** Distinct word n-gram shingles of a text column (first-occurrence
    * order) — native one-pass expression; the HOF formulation
    * (`transform(sequence…)` + `array_distinct`) evaluates interpreted
    * per position and measured ~3× slower on document-scale text.
    *
    * Registers on the ACTIVE session as a fallback (a bare Column can't
    * see its DataFrame's session) — operators that have the DataFrame
    * must call `TextHashExprs.register(df.sparkSession)` first, as the
    * ops in this file and [[Corpus]] do, so multi-session apps resolve
    * the function in the right registry. */
  def shingles(c: Column, n: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.TextHashExprs.register)
    graft.functions.TextHashExprs.shingleStrings(c, n)
  }

  /** Exact n-gram Jaccard near-dup pairs with similarity ≥ threshold.
    * Shape: explode shingles → self-join on shingle (the bucket join) →
    * count shared per pair → Jaccard from the three ints. The join key is
    * a shingle hash, so the shuffle never carries text bodies. Documents
    * shorter than n words have no shingles and can't pair.
    *
    * `maxShingleDF`: 100 TB guard — a single boilerplate shingle shared by
    * 1M documents turns the self-join bucket for that shingle into ~10¹²
    * candidate pairs. Shingles whose document frequency exceeds the cap
    * carry no near-dup signal (they are corpus boilerplate, cf.
    * [[Corpus.commonNgrams]]) and are dropped from every document's
    * shingle SET before sizing and joining — Jaccard is then computed
    * over the capped sets on BOTH sides, so the measure stays a true
    * Jaccard of the reduced representation. The hot-shingle list is tiny
    * by construction (Zipf head above the cap) and broadcasts. `None`
    * keeps the exact uncapped plan (no extra shuffle).
    *
    * `hotSampleMod`: detection cost control. Exact DF detection is a full
    * shuffle of the shingle universe — it doubled the query at sf0.1.
    * With `hotSampleMod = m > 1`, DF is counted over the deterministic
    * 1/m doc sample `xxhash64(id) % m == 0` against threshold `cap/m`:
    * a shingle at the 10⁴-DF cap has ~cap/m expected sampled hits
    * (σ = √(cap/m)), so boilerplate far above the cap is flagged with
    * near certainty and shingles near the cap flip by sampling noise —
    * acceptable for a blowup guard, NOT an exact DF threshold (keep
    * m = 1 when the cap itself is a semantic contract). Flagging stays
    * fully deterministic (hash sample, no RNG).
    *
    * Runtime plan selection (AQE-style, on a bounded statistic): the hot
    * list is ≤ |corpus|/cap entries by construction, so it is checked for
    * emptiness up front; when no shingle exceeds the cap — the common
    * case for a deduped corpus, and the oracle-gated configuration — the
    * query runs the EXACT uncapped plan and the guard costs only the
    * sampled detection scan (measured ≤ ~15% at sf0.1, fixed job
    * overhead that amortizes to ~m⁻¹ of a scan at scale). NOTE the
    * statistic job runs EAGERLY at DataFrame-construction time and the
    * plan choice is frozen against that snapshot — build the frame when
    * the input is settled (the batch-pipeline norm), not ahead of
    * late-arriving files. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxShingleDF: Option[Long] = None,
      hotSampleMod: Long = 1L): DataFrame = {
    require(hotSampleMod >= 1L, s"hotSampleMod must be >= 1")
    // Carry |shingles| through the explode so set sizes ride along with
    // the exploded rows — no separate sizes branch, no extra joins. The
    // shingle hashing is the native TextHashExprs expression: one tight
    // loop per row instead of per-element interpreted lambdas.
    graft.functions.TextHashExprs.register(df.sparkSession)
    // No size(sh) > 0 pre-filter: explode drops empty arrays itself, and
    // a filter on the projected array gets pushed BELOW the projection,
    // re-evaluating the shingle pipeline per predicate reference (the
    // formatted plan showed shinglehashes computed 3x per row).
    val exploded = df.select(col(idCol).as("doc_id"),
        graft.functions.TextHashExprs.shingleHashes(col(textCol), n)
          .as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
    val e = maxShingleDF match {
      case None => exploded
      case Some(cap) =>
        // the sampled threshold cap/m is integer-truncated: with
        // cap < m it is 0 and EVERY sampled shingle would be flagged
        require(hotSampleMod == 1L || cap >= hotSampleMod,
          s"maxShingleDF ($cap) must be >= hotSampleMod ($hotSampleMod)")
        // shingleHashes is per-document distinct, so count(1) = DF
        val sampled =
          if (hotSampleMod == 1L) df
          else df.filter(
            pmod(xxhash64(col(idCol)), lit(hotSampleMod)) === 0L)
        val hot = sampled
          .select(col(idCol).as("doc_id"),
            explode(graft.functions.TextHashExprs
              .shingleHashes(col(textCol), n)).as("s"))
          .groupBy(col("s"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap / hotSampleMod)
          .select(col("s"))
        if (hot.isEmpty) exploded // guard not needed → exact uncapped plan
        else {
          // Correct each document's set size by its hot-shingle count
          // rather than re-aggregating all kept rows; hot is tiny (Zipf
          // head above the cap) and broadcasts to both joins.
          val hotPerDoc = exploded
            .join(broadcast(hot), Seq("s"), "left_semi")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hot"))
          exploded
            .join(broadcast(hot), Seq("s"), "left_anti")
            .join(hotPerDoc, Seq("doc_id"), "left")
            .withColumn("sz", col("sz") - coalesce(col("n_hot"), lit(0L)))
            .drop("n_hot")
        }
    }
    val shared = e.as("a").join(e.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .withColumn("jaccard",
        round(col("shared").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("shared")).cast(DoubleType), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Asymmetric containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|)
    * ≥ threshold over n-gram shingle sets — the measure that catches a
    * SMALL document quoted inside a LARGE one, which symmetric Jaccard
    * structurally cannot (a 100-shingle doc fully contained in a
    * 10000-shingle doc has Jaccard 0.01 but containment 1.0). The
    * subset/quotation detector of a dedup pipeline; run it alongside
    * [[ngramJaccardPairs]], not instead of it.
    *
    * Same bucket-join shape and shuffle discipline as Jaccard (8-byte
    * shingle hashes, sizes riding along, no all-pairs stage). No
    * boilerplate-DF cap here: containment is asymmetric, so dropping hot
    * shingles from the MIN side changes the measure's meaning — strip
    * boilerplate upstream ([[graft.ext.TextAnalysis.stripMarkup]],
    * [[Corpus.commonNgrams]]) before containment detection. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    graft.functions.TextHashExprs.register(df.sparkSession)
    val e = df.select(col(idCol).as("doc_id"),
        graft.functions.TextHashExprs.shingleHashes(col(textCol), n)
          .as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
    e.as("a").join(e.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        round(col("shared").cast(DoubleType) /
          least(col("sz_a"), col("sz_b")).cast(DoubleType), 6))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  // ------------------------------------------------------- MinHash LSH

  /** Deterministic MinHash signature (k permutations of xxhash64 shingle
    * hashes via (a_i·h + b_i) mod p). One narrow pass per document. */
  // p ≈ 2^30 keeps a·h + b far below int64 overflow (ANSI-safe):
  // h < 2^30, a < 2^8 → product < 2^38.
  private val MinhashP = 1000000007L

  /** Per-permutation minima over a pre-computed shingle-hash array.
    * Seeds are a deterministic literal table. */
  private def minhashFromHashes(hashes: Column, k: Int): Column = {
    val p = lit(MinhashP)
    val seeds = (0 until k).map(i => (2 * i + 1).toLong)
    array(seeds.map { a =>
      array_min(transform(hashes, h => pmod(h * lit(a) + lit(a * 31 + 7), p)))
    }: _*)
  }

  /** Deterministic MinHash signature (k permutations of xxhash64 shingle
    * hashes via (a_i·h + b_i) mod p).
    *
    * PERF: higher-order functions run interpreted (CodegenFallback), and a
    * sub-expression inlined into k lambdas is re-evaluated k times — at
    * sf0.1 that made the one-Column formulation ~60× slower than staging.
    * Always materialize the shingle-hash array in a projection first (as
    * [[minhashPairs]] does); this one-Column form exists for tests/ad-hoc
    * use on small data. */
  def minhashSignature(c: Column, n: Int, k: Int): Column =
    minhashFromHashes(
      transform(shingles(c, n), s => pmod(xxhash64(s), lit(MinhashP))), k)

  /** (doc_id, sig) MinHash signatures — the shared definitional core of
    * [[minhashPairs]] and the persisted index ([[saveMinhashIndex]] /
    * [[minhashAdmit]]): ONE implementation so the stored and the
    * query-side signatures can never drift.
    *
    * Native expressions: shingle-hash once per row, then the k
    * permutation-minima in a primitive loop (see TextHashExprs scaladoc
    * for the measured 50x over the higher-order-function formulation).
    * Cheap tokenize-only pre-filter instead of filter(sig.isNotNull):
    * a predicate on the projected signature pushes below the projection
    * and re-evaluates the whole shingle+minhash pipeline per reference;
    * sig is null exactly when there are no shingles, i.e. < n tokens. */
  private def minhashSigFrame(df: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int): DataFrame = {
    graft.functions.TextHashExprs.register(df.sparkSession)
    df.filter(size(split(trim(col(textCol)), "\\s+")) >= n)
      .select(col(idCol).as("doc_id"),
        graft.functions.TextHashExprs.minhashSig(
          graft.functions.TextHashExprs.shingleHashes(col(textCol), n), k)
          .as("sig"))
  }

  /** Banded LSH keys over a [[minhashSigFrame]]: one row per (doc,
    * band), bucket = hash of the band's signature slice. */
  private def minhashBandedFrame(sig: DataFrame, bands: Int, rows: Int)
      : DataFrame =
    sig.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        xxhash64(col("band"),
          slice(col("sig"), col("band") * rows + 1, lit(rows))
            .cast(StringType)))

  /** MinHash+LSH near-dup candidate pairs, verified on signature overlap.
    * `bands` bands of `rows` rows (k = bands·rows): a pair collides if any
    * band signature matches; estimated Jaccard = matching positions / k.
    * Shuffles: one identical-signature collapse (by the sig array) plus
    * the band-bucket join over distinct signatures. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 16, rows: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val k = bands * rows
    // materialized once: the shingle+minhash pipeline is referenced by
    // the rep window, both banded join sides, the signature re-attach,
    // both member expansions and both in-group sides — one tokenize
    // pass instead of one per reference (the simhashPairsFromSigs
    // discipline; the caller owns the checkpoint's lifetime)
    val sig = Checkpoints.materialize(
      minhashSigFrame(df, idCol, textCol, n, k), reliable = false)
    // IDENTICAL-SIGNATURE COLLAPSE — [[simhashPairsFromSigs]]'s
    // boilerplate-quadratic guard on the Jaccard axis: byte-identical
    // signature arrays (k identical min-permutations — exact template
    // copies) collide in EVERY band; collapse to a min-id rep per
    // distinct signature so the band join candidates scale with
    // distinct signatures, re-expand members afterwards. Identical
    // sigs estimate Jaccard exactly 1.0, so in-group pairs qualify at
    // any threshold <= 1 without re-verification.
    val withRep = sig.withColumn("rep",
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))))
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("sig"))
    val banded = minhashBandedFrame(reps, bands, rows)
    // Distinct the candidate id pairs FIRST (hash aggregate over longs),
    // then re-attach signatures. Measured: carrying signature arrays
    // through the join + a first-matching-band filter (the dropDuplicates
    // avoidance that wins for simhash's scalar sketch) is SLOWER here —
    // the interpreted per-pair slice comparisons on 64-long arrays cost
    // more than re-evaluating the (native, cheap) sig pipeline per side.
    val cand = banded.as("a").join(banded.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val repPairs = cand
      .join(reps.withColumnsRenamed(Map("doc_id" -> "doc_a", "sig" -> "sig_a")),
        "doc_a")
      .join(reps.withColumnsRenamed(Map("doc_id" -> "doc_b", "sig" -> "sig_b")),
        "doc_b")
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast(DoubleType) / lit(k.toDouble), 6))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
    val m = withRep.select(col("rep"), col("doc_id").as("m"))
    val expanded = repPairs
      .join(m.withColumnsRenamed(Map("rep" -> "doc_a", "m" -> "m_a")),
        "doc_a")
      .join(m.withColumnsRenamed(Map("rep" -> "doc_b", "m" -> "m_b")),
        "doc_b")
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col("est_jaccard"))
    val inGroup = withRep.as("a").join(withRep.as("b"),
        col("a.rep") === col("b.rep") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(1.0).as("est_jaccard"))
      .filter(lit(1.0) >= threshold)
    expanded.unionByName(inGroup)
  }

  // ----------------------------------------------------------- SimHash

  /** 64-bit SimHash from a pre-computed token-hash array: per bit, sum ±1
    * across token hashes; bit = 1 when the sum is positive. */
  private def simhashFromHashes(toks: Column): Column = {
    val bits = transform(sequence(lit(0), lit(63)), i =>
      when(aggregate(toks, lit(0L),
        (acc, h) => acc + when(call_function("shiftright", h, i)
          .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
        > 0, lit(1L)).otherwise(lit(0L)))
    aggregate(
      zip_with(bits, sequence(lit(0), lit(63)),
        (b, i) => call_function("shiftleft", b, i)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** One-Column SimHash (convenience/tests). PERF: like
    * [[minhashSignature]], the tokenization here is re-evaluated per bit
    * when inlined — [[simhashPairs]] stages the token-hash array first. */
  def simhash(c: Column): Column =
    simhashFromHashes(transform(TextAnalysis.tokens(c), t => xxhash64(t)))

  /** SimHash near-dup pairs: band the 64 bits into `bands` equal chunks;
    * a pair is a candidate when some chunk matches exactly (`probeBits=0`)
    * or within one flipped bit (`probeBits=1`, multi-probe). Candidates
    * are verified with the exact Hamming distance.
    *
    * RECALL CONTRACT (pigeonhole, enforced): a pair at Hamming distance d
    * always has some chunk carrying ≤ ⌊d/bands⌋ of the differing bits, so
    * the multi-index finds every pair with d < bands·(probeBits+1).
    * `maxHamming` beyond that bound is REJECTED — the old default
    * (4 exact-match bands, maxHamming=8) silently missed pairs at
    * distance 4–8 whose diffs spread across all four chunks.
    *
    * SCALE: the defaults (4 bands × 16-bit chunks, 1-bit probes) keep
    * 65536 buckets per band — narrowing chunks instead (8×8-bit exact
    * match) also satisfies the bound but collapses to 256 buckets/band,
    * which measured 27× slower at sf0.1 and explodes quadratically on
    * biased simhash chunks at corpus scale. Multi-probe costs
    * (1 + chunkBits) probe rows per band per doc — shuffle rows, not
    * pairs. For 10⁹+ docs either tighten the radius (maxHamming=3,
    * probeBits=0) or widen chunks further (bands=2, 32-bit chunks)
    * with a subset-enumeration probe stage. Near-empty documents all
    * collapse onto a handful of signatures (one hot bucket): run exact
    * dedup first and drop sub-n-token docs with a cheap tokenize-only
    * pre-filter before sketching a web-scale corpus. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, bands: Int = 4, probeBits: Int = 1): DataFrame = {
    graft.functions.TextHashExprs.register(df.sparkSession)
    val sig = df
      .select(col(idCol).as("doc_id"),
        graft.functions.TextHashExprs.simhash64(col(textCol)).as("sh"))
    simhashPairsFromSigs(sig, maxHamming, bands, probeBits)
  }

  /** Banding + verification over pre-computed signatures `(doc_id, sh)` —
    * split out so the recall property is testable at exact, seeded
    * Hamming distances (ExtSpec) independent of text hashing.
    *
    * IDENTICAL-SIGNATURE COLLAPSE (the boilerplate-quadratic guard the
    * n-gram path carries as its sampled heavy-hitter cap, lossless
    * here): a block of k byte-identical signatures — templated
    * boilerplate, the NORM in web corpora — collides in EVERY band, so
    * feeding raw docs to the banded join puts k²/2 candidates through
    * bands·(1+chunkBits) probe rows each. hamming(a, a) = 0 means
    * same-sig docs are mutual duplicates BY CONSTRUCTION, so the join
    * only ever needs one representative per distinct signature:
    * collapse to the min-id rep (one shuffle of 16-byte rows), band-
    * join representatives — candidates are O(distinct-sig²/buckets),
    * never O(doc²) — then re-expand members. In-group pairs come from
    * one equality self-join on the 8-byte signature: the pair CONTRACT
    * is quadratic in group size (all pairs are emitted, same output as
    * before), but that quadratic is now output rows only, not
    * probe-amplified shuffle + verify traffic. Null signatures (e.g.
    * undecodable images) pair with nothing, as before. */
  def simhashPairsFromSigs(sig: DataFrame, maxHamming: Int,
      bands: Int = 4, probeBits: Int = 1): DataFrame = {
    // Materialize the 16-byte (doc_id, sh) projection once: the plan
    // below references it ~7 times (rep window, banded+probed join
    // sides, two member expansions, two in-group sides), and the
    // signature pipeline feeding it is typically a codec or tokenize
    // scan (image dHash, audio spectral hash) that must run ONCE —
    // re-deriving signatures per reference multiplied the decode cost
    // by the fan-out (measured on x203/x244). The caller owns the
    // checkpoint's lifetime, as with the pair frame it returns.
    val s = Checkpoints.materialize(
      sig.select(col("doc_id"), col("sh")).filter(col("sh").isNotNull),
      reliable = false)
    val withRep = s.withColumn("rep",
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
    val repPairs = simhashRepPairs(
      withRep.filter(col("doc_id") === col("rep"))
        .select(col("doc_id"), col("sh")),
      maxHamming, bands, probeBits)
    // cross-group expansion: identical-sig members inherit their rep's
    // verified hamming (sh_a == rep_a's sh, sh_b == rep_b's sh)
    val m = withRep.select(col("rep"), col("doc_id").as("m"))
    val expanded = repPairs
      .join(m.withColumnsRenamed(Map("rep" -> "doc_a", "m" -> "m_a")),
        "doc_a")
      .join(m.withColumnsRenamed(Map("rep" -> "doc_b", "m" -> "m_b")),
        "doc_b")
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col("hamming"))
    // in-group pairs: byte-identical signatures, Hamming 0 by
    // construction (maxHamming >= 0 always admits them)
    val inGroup = withRep.as("a").join(withRep.as("b"),
        col("a.rep") === col("b.rep") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    expanded.unionByName(inGroup)
  }

  /** Banded candidate generation + exact-Hamming verify over DISTINCT-
    * signature representatives — `private[ext]` so the collapse's
    * cardinality contract (candidates scale with distinct signatures,
    * never documents — x250) is directly assertable. Caller contract:
    * one row per distinct `sh`. */
  private[ext] def simhashRepPairs(sig: DataFrame, maxHamming: Int,
      bands: Int = 4, probeBits: Int = 1): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require(probeBits == 0 || probeBits == 1,
      s"probeBits must be 0 (exact chunks) or 1 (1-bit multi-probe)")
    require(maxHamming >= 0 && maxHamming < bands * (probeBits + 1),
      s"recall guarantee needs maxHamming < bands*(probeBits+1) " +
        s"(got maxHamming=$maxHamming, bands=$bands, probeBits=$probeBits): " +
        s"the multi-index only finds all pairs at Hamming <= " +
        s"${bands * (probeBits + 1) - 1}")
    val bits = 64 / bands
    val mask = (1L << bits) - 1L
    val banded = shBands(sig, bands)
    // probe side: the chunk itself (flip = -1) plus each 1-bit variant;
    // a candidate at in-chunk Hamming 1 meets exactly one probe, so
    // within a band each pair matches at most once — no dedup shuffle
    val probed = shProbes(banded, bands, probeBits)
    // keep a multi-band collision only at its first qualifying band — a
    // pure long-arithmetic filter instead of a dropDuplicates shuffle.
    // Chained when() instead of transform/filter/array_min: higher-order
    // functions evaluate interpreted PER CANDIDATE PAIR, which dominated
    // the runtime once multi-probe widened the candidate set.
    def chunkOf(sh: Column, i: Int) =
      call_function("shiftright", sh, lit(i * bits)).bitwiseAND(lit(mask))
    val firstBand = (0 until bands).foldLeft(lit(null).cast("int")) {
      (acc, i) => coalesce(acc,
        when(bit_count(chunkOf(col("sh_a"), i)
          .bitwiseXOR(chunkOf(col("sh_b"), i))) <= probeBits, lit(i)))
    }
    banded.as("a").join(probed.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"),
        col("a.band").as("band"))
      .filter(col("band") === firstBand)
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast(LongType)
        .as("hamming"))
  }

  /** Banded (doc_id, sh, band, chunk) rows of a 64-bit sig frame — the
    * chunk layout [[simhashPairsFromSigs]] and the persisted ledger
    * below both join on. */
  private def shBands(sig: DataFrame, bands: Int): DataFrame = {
    val bits = 64 / bands
    val mask = (1L << bits) - 1L
    sig.select(col("doc_id"), col("sh"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("chunk", call_function("shiftright", col("sh"),
        col("band") * bits).bitwiseAND(lit(mask)))
  }

  /** Own chunk (flip = -1) plus each 1-bit variant per band — the
    * multi-probe side of the chunk multi-index. */
  private def shProbes(banded: DataFrame, bands: Int, probeBits: Int)
      : DataFrame = {
    val bits = 64 / bands
    if (probeBits == 0) banded
    else banded
      .select(col("doc_id"), col("sh"), col("band"), col("chunk"),
        explode(array((lit(-1) +: (0 until bits).map(lit)): _*))
          .as("flip"))
      .withColumn("chunk",
        when(col("flip") === -1, col("chunk"))
          .otherwise(col("chunk").bitwiseXOR(
            call_function("shiftleft", lit(1L), col("flip")))))
      .drop("flip")
  }

  // ------------------------------- persisted 64-bit signature ledger

  /** Persist a 64-bit near-dup signature ledger for INCREMENTAL
    * admission — the [[minhashAdmit]] shape for Hamming-space
    * signatures: SimHash text sigs (x04), perceptual image dHashes
    * (x195, gated x199), any `(doc_id, sh)` frame
    * [[simhashPairsFromSigs]] accepts. Segments are a 16-byte-per-doc
    * `sigs` table plus the pre-banded `(doc_id, band, chunk)` table
    * the admission join keys on (banding is cheap to recompute, but
    * pre-banding keeps the admit read-only and lets a bucket-
    * partitioned layout prune at scale); `bands` persists in a
    * `params` table so every admission probes with the geometry the
    * ledger was banded under. Manifest-protocol lifecycle: appends are
    * idempotent per batchId, `asOfVersion` replays an admission
    * decision against any retained snapshot (the audit handle the
    * MinHash/BM25/IVF/IVFPQ ledgers share). */
  def saveSimhashLedger(sigs: DataFrame, path: String, bands: Int = 4)
      : Unit = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    val spark = sigs.sparkSession
    import spark.implicits._
    Seq(bands).toDF("bands").coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/params/base")
    writeSimhashSegment(sigs, path, "base", bands)
    Segments.create(spark, path, Map("sigs" -> Seq("base"),
      "banded" -> Seq("base"), "params" -> Seq("base")), Seq("base"))
  }

  /** One (sigs, banded) segment pair — shared by the base build and
    * every append; overwrite mode so a crashed attempt's orphan is
    * re-landed by the retry (invisible until the manifest commit).
    * The signature frame is persisted across the two writes (the
    * writeMinhashSegment discipline): callers routinely pass a codec
    * scan (image dHash/pHash, audio spectral hash), and the banded
    * write would otherwise replay the whole decode pipeline a second
    * time. */
  private def writeSimhashSegment(sigs: DataFrame, path: String,
      seg: String, bands: Int): Unit = {
    val s = sigs.select(col("doc_id"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      s.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/sigs/$seg")
      shBands(s, bands).select("doc_id", "band", "chunk")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/banded/$seg")
    } finally s.unpersist(blocking = false)
  }

  /** The ledger's current manifest version — record it before an
    * append and any retained snapshot's admission decisions stay
    * replayable bit-for-bit. */
  def simhashLedgerVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** Append a (typically just-admitted) batch's signatures; idempotent
    * per batchId via the manifest applied record. */
  def appendToSimhashLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, sigs: DataFrame, batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg,
        Seq("sigs", "banded")) {
      writeSimhashSegment(sigs, path, seg,
        Segments.scan(spark, path, snap, "params").head()
          .getAs[Int]("bands"))
    }
  }

  /** Admit the rows of `newSigs` with NO ledgered signature within
    * Hamming `maxHamming` — incremental near-dup admission for images
    * (and any other 64-bit sig modality): the candidate join keys the
    * NEW side's multi-probed chunks against the ledger's stored
    * banding (the small incoming batch carries the probe explosion,
    * the ledger contributes one row per (doc, band)), exact
    * `bit_count(xor)` verifies, rejected ids anti-join out. The
    * pigeonhole recall contract is enforced exactly as in
    * [[simhashPairsFromSigs]], so the admitted set equals the
    * brute-force decision — which is what the x199 oracle replays. */
  def simhashLedgerAdmit(spark: org.apache.spark.sql.SparkSession,
      path: String, newSigs: DataFrame, maxHamming: Int,
      probeBits: Int = 1, asOfVersion: Option[Long] = None)
      : DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      s"probeBits must be 0 (exact chunks) or 1 (1-bit multi-probe)")
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val bands = Segments.scan(spark, path, snap, "params")
      .head().getAs[Int]("bands")
    require(maxHamming >= 0 && maxHamming < bands * (probeBits + 1),
      s"recall guarantee needs maxHamming < bands*(probeBits+1) " +
        s"(got maxHamming=$maxHamming, bands=$bands, " +
        s"probeBits=$probeBits)")
    // Materialize the incoming signature frame ONCE: it is referenced
    // three times below (probe keys, the Hamming verify, the final
    // anti-join), and ledger callers routinely feed it a codec scan
    // (image dHash/pHash, audio spectral hash) that must not decode
    // per reference. Batch-bounded rows; the stream writers release
    // the blocks after each batch lands (Checkpoints.release on the
    // admitted frame), batch gates via session hygiene.
    val src = Checkpoints.materialize(newSigs, reliable = false)
    val in = src.select(col("doc_id"), col("sh"))
    val inProbed = shProbes(shBands(in, bands), bands, probeBits)
      .select(col("doc_id").as("in_doc"), col("band"), col("chunk"))
    val cand = inProbed
      .join(Segments.scan(spark, path, snap, "banded")
        .select(col("doc_id").as("corpus_doc"), col("band"),
          col("chunk")), Seq("band", "chunk"))
      .select(col("in_doc"), col("corpus_doc")).distinct()
    val rejected = cand
      .join(in.select(col("doc_id").as("in_doc"), col("sh").as("sh_a")),
        Seq("in_doc"))
      .join(Segments.scan(spark, path, snap, "sigs")
        .select(col("doc_id").as("corpus_doc"), col("sh").as("sh_b")),
        Seq("corpus_doc"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
        <= maxHamming)
      .select(col("in_doc").as("doc_id")).distinct()
    src.join(rejected, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------- embedding near-dup

  /** Cosine similarity of two double-array columns — sequential left-fold
    * dot product (deterministic FP order, reproducible by an oracle). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0),
      (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0),
      (acc, x) => acc + x))
    coalesce(try_divide(dot, na * nb), lit(0.0))
  }

  /** Embedding cosine near-dup pairs above `threshold`, bucketed by the
    * sign pattern of the leading dims plus its 1-bit-flip neighbors
    * (multi-probe) so near-identical vectors collide without an O(n²)
    * cross join. Exact for pairs whose sign patterns differ in ≤1 of the
    * leading `b` dims — the recall contract.
    *
    * SIZING (the default is fixture-sized, NOT a scale setting): 2^signBits
    * buckets and (signBits+1) probe rows per vector; in-bucket pair cost
    * is ~N²/2^signBits · (signBits+1)/2 across the corpus. Pick
    * `signBits = ceil(log2(N / targetBucketSize))` with a target bucket
    * of ~1-4k vectors — e.g. 10⁹ vectors → signBits ≈ 20 (needs
    * embedding dim ≥ signBits). See SCALE.md "LSH knob sizing". */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, signBits: Int = 6): DataFrame = {
    // Native dot product + norms staged once per vector (not per pair).
    graft.functions.VectorExprs.register(df.sparkSession)
    import graft.functions.VectorExprs.dotF64
    val vecd = df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(dotF64(col("v"), col("v"))))
    val bucketOf = (0 until signBits).map { i =>
      when(element_at(col("v"), i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val base = vecd.withColumn("b0", bucketOf)
    // multi-probe: emit own bucket + each 1-bit flip
    val probes = base.select(col("vec_id"), col("v"), col("nrm"), col("b0"),
      explode(array((lit(-1) +: (0 until signBits).map(lit)): _*))
        .as("flip"))
      .withColumn("bucket",
        when(col("flip") === -1, col("b0"))
          .otherwise(col("b0").bitwiseXOR(call_function("shiftleft",
            lit(1L), col("flip")))))
    val own = base.select(col("vec_id"), col("b0").as("bucket"))
    val probeKeys = probes.select(col("vec_id"), col("bucket"))
    // Distinct candidate id pairs first (hash agg over longs), then
    // re-attach vectors + precomputed norms for verification.
    val cand = own.as("a").join(probeKeys.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val side = vecd.select(col("vec_id"), col("v"), col("nrm"))
    cand
      .join(side.withColumnsRenamed(
        Map("vec_id" -> "vec_a", "v" -> "va", "nrm" -> "nrm_a")), "vec_a")
      .join(side.withColumnsRenamed(
        Map("vec_id" -> "vec_b", "v" -> "vb", "nrm" -> "nrm_b")), "vec_b")
      .withColumn("cos", round(coalesce(
        try_divide(graft.functions.VectorExprs.dotF64(col("va"), col("vb")),
          col("nrm_a") * col("nrm_b")), lit(0.0)), 6))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Cross-corpus SEMANTIC decontamination: flag every corpus document
    * whose embedding lands within cosine `threshold` of ANY eval-set
    * embedding — the embedding-space twin of the n-gram overlap
    * decontamination ([[Corpus.decontaminate]], x19): n-grams catch
    * verbatim leakage, this catches paraphrased/translated leakage the
    * token detector structurally cannot.
    *
    * Mechanics are [[cosineDupPairs]]'s sign-bucket LSH made
    * CROSS-FRAME: both sides bucket on the leading-dim sign pattern,
    * the EVAL side (the small one — benchmarks are thousands of rows,
    * the corpus is the 100 TB party) carries the multi-probe
    * explosion, candidates meet on bucket equality (own vs own-or-flip
    * = bucket Hamming ≤ 1, the same recall relation x06's oracle
    * replays), and exact cosine verifies. Per corpus doc the output
    * aggregates its qualifying hits: (id, n_eval_hits, max_cos) —
    * contaminated docs only; downstream anti-joins the ids out or
    * routes them to the eval-dedup queue.
    *
    * Scale shape: the corpus is scanned once, never self-paired; the
    * candidate join is keyed on bucket; eval-side probe rows are
    * |eval|·(signBits+1) — request metadata, not corpus. Same
    * `signBits` sizing contract as [[cosineDupPairs]]. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      signBits: Int = 6): DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    def prep(df: DataFrame): DataFrame = {
      val vecd = df.select(col(idCol).as("vec_id"),
          transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
        .withColumn("nrm", sqrt(dotF64(col("v"), col("v"))))
      val bucketOf = (0 until signBits).map { i =>
        when(element_at(col("v"), i + 1) >= 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      vecd.withColumn("b0", bucketOf)
    }
    val c = prep(corpus)
    val e = prep(evalSet)
    // multi-probe on the EVAL side only: own bucket + each 1-bit flip
    val eProbes = e.select(col("vec_id"), col("b0"),
        explode(array((lit(-1) +: (0 until signBits).map(lit)): _*))
          .as("flip"))
      .withColumn("bucket",
        when(col("flip") === -1, col("b0"))
          .otherwise(col("b0").bitwiseXOR(call_function("shiftleft",
            lit(1L), col("flip")))))
      .select(col("vec_id").as("eval_id"), col("bucket"))
    val cand = c.select(col("vec_id"), col("b0").as("bucket"))
      .join(eProbes, Seq("bucket"))
      .select(col("vec_id"), col("eval_id")).distinct()
    val cSide = c.select(col("vec_id"), col("v").as("vc"),
      col("nrm").as("nrm_c"))
    val eSide = e.select(col("vec_id").as("eval_id"),
      col("v").as("ve"), col("nrm").as("nrm_e"))
    cand.join(cSide, "vec_id").join(broadcast(eSide), "eval_id")
      .withColumn("cos", round(coalesce(
        try_divide(dotF64(col("vc"), col("ve")),
          col("nrm_c") * col("nrm_e")), lit(0.0)), 6))
      .filter(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), max("cos").as("max_cos"))
      .select(col("vec_id").as(idCol), col("n_eval_hits"),
        col("max_cos"))
  }

  // ------------------------------------------- cluster + canonicalize

  /** Connected-component clustering of near-dup pairs: every document in
    * a component gets the component's minimum id as `cluster_id` — the
    * step that turns pair DETECTION ([[ngramJaccardPairs]],
    * [[minhashPairs]], [[cosineDupPairs]]) into a dedup DECISION (keep
    * one doc per cluster). Output: (`id`, `cluster_id`) for every node
    * that appears in a pair; callers left-join onto the corpus and
    * coalesce to the doc's own id for singletons.
    *
    * Driver finish: the pair projection is counted in the one job that
    * materializes it. A pair set of at most `StarDriverPairs` (2¹⁸
    * pairs, ≤ 4 MB of collected ids) is collected and labelled by an
    * array union-find on the driver — no rounds, and the result is a
    * local frame that holds NO module checkpoint (the pair projection
    * is released after the collect).
    *
    * Above the constant: alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Each round rewires every node's larger neighbors
    * (large-star) then its smaller-or-equal neighbors (small-star) to
    * the neighborhood minimum; the edge set converges to star graphs
    * centered on each component's min in O(log n) rounds REGARDLESS of
    * diameter, so near-clique dup groups and long chains (linked
    * re-posts, reference graphs) cost the same. Cost per round: two
    * grouped-min shuffles + two joins over 16-byte edges, checkpoint-
    * truncated like every iterative frame here. Convergence = the edge
    * set IS a star forest (no node appears as both a center and a
    * satellite) — an EXACT criterion, checked by the one-scan
    * explode+agg that doubles as each round's materializing action
    * ([[Checkpoints.materializeWith]]): a canonical (u < v) star forest
    * is a fixpoint of both phases. `maxIters` bounds only this loop,
    * and non-convergence throws rather than returning splintered
    * clusters. The round path's result retains the pair projection and
    * the converged edge set, which the caller releases. */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 30, reliable: Boolean = false): DataFrame =
    dedupClusters(pairs, aCol, bCol, maxIters, reliable, StarDriverPairs)

  /** Largest pair count [[dedupClusters]] finishes on the driver. */
  private val StarDriverPairs = 1L << 18

  private val StarLabelSchema = StructType(Seq(
    StructField("id", LongType), StructField("cluster_id", LongType)))

  /** [[dedupClusters]] with the driver-finish budget exposed, so tests
    * can force the distributed loop (`driverPairs = 0`). */
  private[graft] def dedupClusters(pairs: DataFrame, aCol: String,
      bCol: String, maxIters: Int, reliable: Boolean, driverPairs: Long)
      : DataFrame = {
    // Materialize the 16-byte edge projection ONCE: the pair-generation
    // plan is referenced twice — the initial edge set here and the
    // trailing self-loop-only node sweep the returned frame embeds —
    // and it is typically the expensive part (banded LSH joins, codec
    // scans). Without this the FINAL plan re-runs the entire pair
    // pipeline when the caller executes it (measured: the x257 frame
    // re-decoded every GIF ~12×). The count that picks the path rides
    // on the materializing job. On the round path the checkpoint's
    // lifetime belongs to the caller, like the returned labels frame's
    // own blocks.
    val (raw, nPairs) = Checkpoints.materializeCount(
      pairs.select(col(aCol).cast(LongType).as("u"),
        col(bCol).cast(LongType).as("v")), reliable)
    if (nPairs > driverPairs) starRounds(raw, maxIters, reliable)
    else {
      val collected = raw.collect()
      Checkpoints.release(raw)
      raw.sparkSession.createDataFrame(
        java.util.Arrays.asList(componentMins(collected): _*),
        StarLabelSchema)
    }
  }

  /** The distributed large-star / small-star rounds over the
    * materialized (u, v) pair projection `raw`. */
  private def starRounds(raw: DataFrame, maxIters: Int, reliable: Boolean)
      : DataFrame = {
    // the convergence probe, folded into each round's materializing
    // action: a node violates the star-forest shape when it appears as
    // both a center (u-side) and a satellite (v-side), OR as a
    // satellite of more than one center (a two-center satellite passes
    // the disjointness test but small-star still rewires it — not a
    // fixpoint). Zero violations ⟺ the edge set is a disjoint union
    // of stars with center = component min (canonical u < v), which is
    // exactly the fixpoint of the two phases. One scan (explode to
    // (id, isCenter, isSatellite) votes), one agg.
    def nonStar(e: DataFrame): Long = e
      .select(explode(array(
        struct(col("u").as("id"), lit(1).as("c"), lit(0).as("s")),
        struct(col("v").as("id"), lit(0).as("c"), lit(1).as("s"))))
        .as("_x"))
      .groupBy(col("_x.id"))
      .agg(max(col("_x.c")).as("c"), sum(col("_x.s")).as("s"))
      .filter((col("c") === 1 && col("s") >= 1) || col("s") > 1)
      .count()
    var (edges, badNodes) = Checkpoints.materializeWith(raw
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct(), reliable)(nonStar)

    // one star phase: group the symmetrized edges by u, rewire either
    // the strictly-larger (large star) or the ≤ (small star, plus u
    // itself) neighbors to m = min(neighbors ∪ {u}). `dedup = false`
    // skips the trailing distinct for the INNER (large) phase of a
    // round: duplicate edges change neither the min aggregates nor the
    // rewiring targets of the following small-star phase, and the
    // round's final distinct removes them — one fewer full exchange
    // per round for a ≤2× transient row bound inside the round.
    def starPhase(e: DataFrame, large: Boolean,
        dedup: Boolean = true): DataFrame = {
      val b = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = b.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val joined = b.join(m, "u")
      val rewired =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        else joined.filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(m.select(col("u"), col("m").as("v")))
      val canon = rewired
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      if (dedup) canon.distinct() else canon
    }

    var round = 0
    while (badNodes > 0 && round < maxIters) {
      val (next, nextBad) = Checkpoints.materializeWith(
        starPhase(starPhase(edges, large = true, dedup = false),
          large = false),
        reliable)(nonStar)
      // next is materialized — the superseded edge set's blocks are dead
      Checkpoints.release(edges)
      edges = next
      badNodes = nextBad
      round += 1
    }
    require(badNodes == 0L,
      s"dedupClusters: not converged after $maxIters star rounds")
    // converged edge set is star graphs: (center=u, satellite=v) in
    // canonical order since center = component min < satellite — the
    // loop criterion IS the star-forest property, so no separate exit
    // assertion is needed.
    val centers = edges.select(col("u").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    val labeled = edges.select(col("v").as("id"), col("u").as("cluster_id"))
      .union(centers).distinct()
    // every node appearing in the input gets a row, as on the driver
    // finish — self-loop-only nodes (dropped by the no-self-loop
    // canonicalization) label themselves
    val nodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct()
    nodes.join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** The driver finish of [[dedupClusters]]: one (id, component
    * min) row per distinct non-null endpoint, plus (null, null) when
    * any endpoint is null — the rows the distributed path's `nodes`
    * left join yields (a null endpoint adds no edge, so its partner
    * labels itself unless linked elsewhere). Ids are sorted and
    * deduplicated into dense indexes, so index order is id order and
    * union by smaller root index keeps every root its component's min;
    * `find` compresses paths. */
  private def componentMins(pairs: Array[Row]): Array[Row] = {
    val ids = pairs
      .flatMap(r => Iterator(0, 1).filterNot(r.isNullAt).map(r.getLong))
      .sorted.distinct
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val n = parent(j); parent(j) = r; j = n }
      r
    }
    def root(r: Row, i: Int): Int =
      find(java.util.Arrays.binarySearch(ids, r.getLong(i)))
    pairs.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (a, b) = (root(r, 0), root(r, 1))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    }
    val labels = Array.tabulate[Row](ids.length)(i =>
      Row(ids(i), ids(find(i))))
    if (pairs.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      labels :+ Row(null, null)
    else labels
  }

  /** Component labels for a rep-collapsed near-dup graph WITHOUT
    * expanding group members into pairs — the canonical-selection
    * fast path behind [[simhashClusters]] / [[containmentSetClusters]].
    *
    * WHY THIS IS THE SAME ANSWER as star-CC over the member-expanded
    * pair frame: groups (docs sharing one signature) are cliques in
    * the expanded graph, and a rep pair (r_a, r_b) expands to ALL
    * member pairs, so an expanded component is exactly the union of
    * the groups whose reps form one rep-graph component. Each rep is
    * its group's MIN id, hence the expanded component's min id = the
    * min rep = the rep-graph star-CC label. Members inherit their
    * rep's label; an isolated rep labels its group with itself. The
    * x257 fixture made the cost concrete: 5 000 docs expanded to
    * 4.6 M pair rows feeding ~5 star rounds (9.9 s) where the rep
    * graph is 250 nodes / 542 edges (<1 s) — and at corpus scale the
    * expansion is the boilerplate-quadratic the rep collapse exists
    * to avoid.
    *
    * Output: (id, cluster_id) for EVERY doc in `withRep` — unlike
    * [[dedupClusters]] over the pair frame, which omits docs that
    * pair with nothing; callers that coalesce missing labels to the
    * doc's own id get identical results from either form (singletons
    * label themselves here too). */
  private def clustersFromRepPairs(withRep: DataFrame,
      repPairs: DataFrame, maxIters: Int, reliable: Boolean)
      : DataFrame = {
    val lbl = dedupClusters(repPairs, "doc_a", "doc_b", maxIters, reliable)
    withRep.select(col("doc_id").cast(LongType).as("id"),
        col("rep").cast(LongType).as("_rep"))
      .join(lbl.withColumnRenamed("id", "_rid"),
        col("_rep") === col("_rid"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("_rep")).as("cluster_id"))
  }

  /** Near-dup component labels over 64-bit signatures — the fused
    * [[simhashPairsFromSigs]] → [[dedupClusters]] canonical-
    * selection path that SKIPS the member-pair expansion: band-join
    * the distinct-signature reps, star-CC the rep graph, and attach
    * members by their rep (see [[clustersFromRepPairs]] for the
    * equality argument and the measured 4.6 M-pairs-vs-542-edges
    * gap). Same banding/verify parameters and recall contract as
    * [[simhashPairsFromSigs]]; null signatures pair with nothing and
    * get no row. Output: (id, cluster_id = component min) for every
    * non-null-signature doc, singletons labeled themselves. */
  def simhashClusters(sig: DataFrame, maxHamming: Int, bands: Int = 4,
      probeBits: Int = 1, maxIters: Int = 30,
      reliable: Boolean = false): DataFrame = {
    // materialize the 16-byte projection once — the rep window, the
    // banded join sides, and the member attach all reference it, and
    // the signature pipeline is typically a codec scan (the
    // simhashPairsFromSigs discipline; caller owns the lifetime)
    val s = Checkpoints.materialize(
      sig.select(col("doc_id").cast(LongType).as("doc_id"), col("sh"))
        .filter(col("sh").isNotNull),
      reliable = false)
    val withRep = s.withColumn("rep",
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
    val repPairs = simhashRepPairs(
      withRep.filter(col("doc_id") === col("rep"))
        .select(col("doc_id"), col("sh")),
      maxHamming, bands, probeBits)
    clustersFromRepPairs(withRep, repPairs, maxIters, reliable)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means cluster bucketing — embeddings are
    * partitioned into `kClusters` cells
    * ([[Clustering.kmeansAssign]], deterministic lowest-id seeding),
    * exact pairwise cosine runs WITHIN each cell only, pairs at or
    * above `threshold` connect into components
    * ([[dedupClusters]]), and the minimum id per component is the
    * kept representative. Output: one row per input vector —
    * (`vec_id`, `cluster` = k-means cell, `sem_cluster_id` =
    * component min or own id for singletons, `keep` = 1 iff the row
    * is its component's representative).
    *
    * Scale shape (the paper's own design point): candidate cost is
    * Σ n_c² over CELLS, not N² over the corpus — k grows with the
    * corpus so the mean cell stays fixed (the paper uses ~0.1% of N)
    * and the in-cell join is bucket-bounded exactly like the LSH
    * paths. Only (id, cluster) pairs shuffle in the candidate join;
    * vectors attach once per side afterwards; document text never
    * enters. Cell-occupancy skew is observable via
    * [[Clustering.clusterQuality]] / `Similarity.ivfCellStats` —
    * re-train k upward before a cell grows quadratic, the same
    * discipline as cosineDupPairs' signBits sizing (SCALE.md "LSH
    * knob sizing").
    *
    * WHY this beside [[cosineDupPairs]]: sign-LSH buckets guarantee
    * recall only for pairs agreeing on the leading sign bits, while
    * SemDeDup's learned cells adapt to the data's density — dense
    * semantic neighborhoods land in one cell no matter which side of
    * a coordinate hyperplane they fall on. The two are the
    * random-projection vs learned-partition ends of the same
    * bucket-join family. */
  def semDedupClusters(corpus: DataFrame, idCol: String, vecCol: String,
      kClusters: Int, iters: Int, threshold: Double): DataFrame =
    semComponents(corpus, idCol, vecCol, kClusters, iters, threshold)
      .select(col("vec_id"), col("cluster"), col("sem_cluster_id"),
        when(col("sem_cluster_id") === col("vec_id"), lit(1L))
          .otherwise(lit(0L)).as("keep"))

  /** [[semDedupClusters]] with the PAPER's keep policy: within each
    * semantic component, keep the member FARTHEST from its k-means
    * centroid (SemDeDup §3 keeps low-similarity-to-centroid examples
    * — the component's most atypical member — because pruning toward
    * cluster centers preserves diversity better than keeping the
    * prototype). Deterministic: ties on the round-6 distance break to
    * the lower id. Output adds the `dist` column the decision ranks
    * on. The per-component window partitions by `sem_cluster_id` —
    * components are near-clique dup groups, orders of magnitude
    * smaller than cells, so the window never sees a corpus-sized
    * partition. */
  def semDedupDiverse(corpus: DataFrame, idCol: String, vecCol: String,
      kClusters: Int, iters: Int, threshold: Double): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("sem_cluster_id")
      .orderBy(col("dist").desc, col("vec_id").asc)
    semComponents(corpus, idCol, vecCol, kClusters, iters, threshold)
      .withColumn("_rn", row_number().over(win))
      .select(col("vec_id"), col("cluster"), col("dist"),
        col("sem_cluster_id"),
        when(col("_rn") === 1, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** Shared SemDeDup core: cell assignment, in-cell exact-cosine
    * pairs, component labels. Returns one row per input vector:
    * (vec_id, cluster, dist, sem_cluster_id). */
  private def semComponents(corpus: DataFrame, idCol: String,
      vecCol: String, kClusters: Int, iters: Int, threshold: Double)
      : DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    // materialized once: the assignment scan (k-means distance over
    // every vector) is referenced by both candidate join sides and the
    // final labeling join — 20-byte rows, never the vectors
    val asg = Checkpoints.materialize(
      Clustering.kmeansAssign(corpus, idCol, vecCol, kClusters, iters)
        .select(col(idCol).cast(LongType).as("vec_id"), col("cluster"),
          col("dist")),
      reliable = false)
    val vecd = corpus.select(col(idCol).cast(LongType).as("vec_id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(dotF64(col("v"), col("v"))))
    // in-cell ordered id pairs first (longs only), vectors re-attach
    // for the exact-cosine verify — the cosineDupPairs shape with the
    // learned cell standing in for the sign bucket
    val cand = asg.as("a").join(asg.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val pairs = cand
      .join(vecd.withColumnsRenamed(
        Map("vec_id" -> "vec_a", "v" -> "va", "nrm" -> "nrm_a")), "vec_a")
      .join(vecd.withColumnsRenamed(
        Map("vec_id" -> "vec_b", "v" -> "vb", "nrm" -> "nrm_b")), "vec_b")
      .withColumn("cos", round(coalesce(
        try_divide(dotF64(col("va"), col("vb")),
          col("nrm_a") * col("nrm_b")), lit(0.0)), 6))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b")
    val comp = dedupClusters(pairs, "vec_a", "vec_b")
      .select(col("id").as("vec_id"), col("cluster_id").as("_sem"))
    asg.join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dist"),
        coalesce(col("_sem"), col("vec_id")).as("sem_cluster_id"))
  }

  // -------------------------------------------------- string similarity

  /** Exact Hamming-distance-≤1 pair join (record linkage / fuzzy key
    * matching): all id pairs whose strings are equal length and differ
    * in at most one byte. Blocking is the deletion-neighborhood trick
    * (cf. SymSpell's symmetric-delete index): each string emits one
    * [[graft.functions.StringExprs.MaskedPosHashes]] key per position,
    * and any ≤1-substitution pair must share the key of the differing
    * position — exact recall, no similarity threshold tuning.
    *
    * WHY not (k+1)-segment pigeonhole blocking: with a corpus-wide
    * shared prefix (every "Customer#…"), the shared segment puts ALL
    * rows in one bucket — the quadratic blowup x02 guards against.
    * Position-masked keys keep buckets tiny because keys still differ
    * wherever the variable region is; a fully-identical-duplicate
    * cluster is the only way to grow a bucket, which is real signal.
    *
    * Verification re-computes the true byte Hamming distance on the
    * candidate's strings, so a 2⁻⁶⁴ mask-hash collision costs a wasted
    * verify, never a wrong pair. The blocking exchange carries ONLY
    * (id, masked-hash) pairs — 16 bytes per position, NOT a copy of the
    * string per position (that would be O(len²) bytes/row, the very
    * materialization [[graft.functions.StringExprs.MaskedPosHashes]]
    * avoids); strings join back by id onto the deduped candidate pairs
    * for the verify step.
    *
    * k > 1 would need C(len, k) masked keys per row (combinatorial) —
    * out of scope; chain with [[simhashPairs]] for long-text near-dup. */
  def hammingPairs(df: DataFrame, idCol: String, strCol: String)
      : DataFrame = {
    graft.functions.StringExprs.register(df.sparkSession)
    val base = df.select(col(idCol).cast(LongType).as("id"),
      col(strCol).as("s"))
    // MaskedPosHashes emits one key per byte position, so a length-0
    // string emits none and a pair of empty strings (distance 0) would
    // never become a candidate — give empties a single sentinel key. A
    // 2^-64 collision with a real masked hash just wastes one verify.
    val keyed = base.select(col("id"),
      explode(when(length(col("s")) === 0, array(lit(Long.MinValue)))
        .otherwise(graft.functions.StringExprs.maskedPosHashes(col("s"))))
        .as("mh"))
    val cand = keyed.select(col("mh"), col("id").as("id_a"))
      .join(keyed.select(col("mh"), col("id").as("id_b")), Seq("mh"))
      .filter(col("id_a") < col("id_b"))
      // identical strings share EVERY positional key — dedupe before
      // rejoining bodies and verifying
      .select("id_a", "id_b").distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.StringExprs.hammingDist(col("s_a"), col("s_b"))
          .as("dist"))
      .filter(col("dist") <= 1L)
  }

  // ----------------------------------------------------- span-level dedup

  /** Duplicate-span detection: per document, the maximal token spans
    * whose every w-token window also appears in at least `minDocs - 1`
    * other documents — the span-granular analogue of exact-substring
    * training-data dedup (cf. Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22; reference has no sub-document
    * dedup at all). Where [[exactDedup]] drops whole duplicate documents
    * and [[ngramJaccardPairs]] pairs near-identical ones, this measures
    * HOW MUCH of each document is copied text — the quality signal for
    * filtering boilerplate-heavy or partially-plagiarized docs.
    *
    * Output, one row per input doc: (`doc_id`, `dup_spans` = count of
    * maximal duplicated spans, `dup_tokens` = tokens covered by those
    * spans, `total_tokens`, `dup_fraction` = round(dup/total, 6)).
    * Adjacent/overlapping duplicated windows merge: windows at start
    * positions p and p' (p < p') overlap iff p' - p ≤ w, so a doc whose
    * whole body is copied yields ONE span, not tokens-w+1 of them.
    *
    * 100 TB design:
    *  - The only wide exchanges carry (window-hash, doc_id, pos) tuples —
    *    8-byte [[graft.functions.TextHashExprs.ShingleWindowHashes]]
    *    hashes, never window text (2⁻⁶⁴ per-pair collision trade, same as
    *    every sketch op here; a collision can only over-mark one window).
    *  - Shared-window detection is a two-phase count-distinct per hash;
    *    marking is a LEFT SEMI join (no fan-out on boilerplate windows
    *    shared by millions of docs — the x02 failure mode can't occur).
    *  - Span merging is a per-doc window function partitioned by doc_id:
    *    parallelism = docs, state = one lag value.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, minDocs: Int = 2): DataFrame = {
    val spans = spanIslands(df, idCol, textCol, w, minDocs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("e") - col("s")).cast(LongType).as("dup_tokens"))
    val totals = df.select(col(idCol).as("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col(textCol)).as("total_tokens"))
    totals.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("total_tokens"),
        round(coalesce(try_divide(
          coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType),
          col("total_tokens").cast(DoubleType)), lit(0.0)), 6)
          .as("dup_fraction"))
  }

  /** The maximal duplicated spans behind [[duplicateSpans]]'s counts,
    * as OFFSETS: one row per (doc, maximal span), half-open TOKEN range
    * `[span_start, span_end)` — the input the removal transform
    * ([[Corpus.removeDuplicateSpans]]) consumes. Same detection,
    * merging, and 100 TB shape as [[duplicateSpans]] (one shared
    * core); spans within a doc never overlap (islands merged on
    * `gap ≤ w`). Docs with no duplicated span emit no row. */
  def duplicateSpanOffsets(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, minDocs: Int = 2): DataFrame =
    spanIslands(df, idCol, textCol, w, minDocs)
      .select(col("doc_id"), col("s").cast(LongType).as("span_start"),
        col("e").cast(LongType).as("span_end"))

  /** Shared core of [[duplicateSpans]] / [[duplicateSpanOffsets]]:
    * (doc_id, island, s, e) maximal merged duplicated-window islands,
    * token-position half-open [s, e). */
  private def spanIslands(df: DataFrame, idCol: String, textCol: String,
      w: Int, minDocs: Int): DataFrame = {
    require(w >= 1, s"window width must be >= 1 (got $w)")
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    graft.functions.TextHashExprs.register(df.sparkSession)
    val wins = df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextHashExprs
          .shingleWindowHashes(col(textCol), w)))
      .toDF("doc_id", "pos", "h")
    val shared = wins.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs).select("h")
    val marked = wins.join(shared, Seq("h"), "left_semi")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("st",
        when(col("pos") - lag("pos", 1).over(byDoc) <= w, 0).otherwise(1))
      .withColumn("island", sum("st").over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), (max("pos") + lit(w)).as("e"))
  }

  /** Semantic (embedding-space) deduplication, SemDeDup-style (Abbas et
    * al., arXiv:2303.09540): a row survives iff NO lower-id row lies
    * within cosine `threshold` of it — detection via [[cosineDupPairs]]'
    * sign-LSH multi-probe candidates, decision via a greedy
    * lowest-id-wins anti-join on the pair list's high side.
    *
    * This is the pairwise greedy rule, NOT connected components: a row
    * paired only with already-dropped rows is still dropped (its lower
    * near-dup existed in the corpus). The components variant — keep one
    * per transitive cluster — is [[dedupClusters]] + canonical selection
    * (x31/x32); this op is the cheap single-shuffle decision used when
    * the pair graph is shallow, the common case at tight thresholds.
    *
    * Scale shape: inherits cosineDupPairs' bucketed candidate join (no
    * all-pairs), then ONE anti-join keyed on an 8-byte id. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, signBits: Int = 6): DataFrame = {
    val dropped = cosineDupPairs(df, idCol, vecCol, threshold, signBits)
      .select(col("vec_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Exact edit-distance-≤1 pair join (SymSpell, Garbe 2012): all id
    * pairs whose strings differ by at most one BYTE substitution,
    * insertion, or deletion — the full single-edit family
    * ([[hammingPairs]] covers equal-length substitutions only).
    * Blocking: two strings within one byte edit share a deletion-
    * variant string, so candidates are pairs sharing a
    * [[graft.functions.StringExprs.DeletionHashes]] key; verification
    * is the native byte-level
    * [[graft.functions.StringExprs.EditDistLE1]] — the SAME metric as
    * the blocking and as DuckDB's byte-based `levenshtein` oracle, so
    * the contract is consistent end to end. Byte semantics (the
    * [[graft.functions.StringExprs.MaskedPosHashes]] caveat): an edit
    * inside a multi-byte codepoint counts per byte — é→e is distance 2
    * and NOT a pair; recall of "one user-perceived edit" holds for
    * 1-byte-wide diffs.
    *
    * Scale shape: keys shuffle as 8-byte hashes (~len per row), bucket
    * sizes track true near-dup density (a shared corpus-wide prefix
    * still differs in the variable region for most split points), and
    * the O(n²) verify only ever runs inside a candidate bucket — never
    * across the corpus. Same candidate-distinct-then-verify shape as
    * [[hammingPairs]]. */
  def editOnePairs(df: DataFrame, idCol: String, strCol: String)
      : DataFrame = {
    graft.functions.StringExprs.register(df.sparkSession)
    val base = df.select(col(idCol).cast(LongType).as("id"),
      col(strCol).as("s"))
    // the empty string emits its own full-string hash, so empty-empty
    // and empty-vs-1-char pairs are found without a sentinel
    val keyed = base.select(col("id"),
      explode(graft.functions.StringExprs.deletionHashes(col("s")))
        .as("dh"))
    val cand = keyed.select(col("dh"), col("id").as("id_a"))
      .join(keyed.select(col("dh"), col("id").as("id_b")), Seq("dh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.StringExprs.editDistLE1(col("s_a"), col("s_b"))
          .as("dist"))
      .filter(col("dist") <= 1L)
  }

  // ------------------------------------ persisted MinHash-LSH index

  private val MinhashTables = Seq("sigs", "banded", "params")

  /** Persist a MinHash-LSH signature index — the NEAR-dup twin of the
    * exact digest ledger behind `Corpus.incrementalDedup` (x15): daily
    * ingest checks each incoming batch against the CORPUS'S SIGNATURES
    * (24-byte banded keys + 64-long sigs — never the indexed text) and
    * admits only documents with no verified near-duplicate, then
    * appends the admitted batch's signatures. Layout under the
    * [[graft.sinks.IndexManifest]] protocol: additive `sigs` (doc_id,
    * sig) and `banded` (doc_id, band, bucket) segments plus a 1-row
    * `params` table — (n, bands, rows) are pinned at build time so the
    * query side can never hash into a different LSH geometry than the
    * stored corpus. `threshold` stays a SERVE-time choice. */
  def saveMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, bands: Int = 16, rows: Int = 4): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Segments.drop(spark, path)
    Seq((n, bands, rows)).toDF("n", "bands", "rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params/base")
    writeMinhashSegment(docs, idCol, textCol, path, "base", n, bands,
      rows)
    Segments.create(spark, path,
      MinhashTables.map(t => t -> Seq("base")).toMap)
  }

  /** One (sigs, banded) segment pair — shared by the base build and
    * every append; overwrite mode so a crashed attempt's orphan is
    * re-landed by the retry (invisible until the manifest commit). */
  private def writeMinhashSegment(docs: DataFrame, idCol: String,
      textCol: String, path: String, seg: String, n: Int, bands: Int,
      rows: Int): Unit =
    writeMinhashSegmentSigs(
      minhashSigFrame(docs, idCol, textCol, n, bands * rows),
      path, seg, bands, rows)

  /** [[writeMinhashSegment]] from PRECOMPUTED signatures — the
    * admit-then-append stream path already paid the shingle+minhash
    * pass during admission; re-deriving it from the admitted docs
    * would tokenize the batch a second time. */
  private def writeMinhashSegmentSigs(sig0: DataFrame, path: String,
      seg: String, bands: Int, rows: Int): Unit = {
    val sig = sig0.select(col("doc_id"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sig.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/sigs/$seg")
      minhashBandedFrame(sig, bands, rows)
        .select(col("doc_id"), col("band"), col("bucket"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/banded/$seg")
    } finally sig.unpersist(blocking = false)
  }

  /** The signature ledger's current manifest version — the handle
    * [[minhashAdmit]]'s `asOfVersion` time travel pins to (same MVCC
    * contract as [[graft.ext.Similarity.ivfIndexVersion]] and the BM25
    * side): record it before an append and any retained snapshot's
    * admission decisions stay replayable bit-for-bit. */
  def minhashIndexVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** DELETE documents from a persisted [[saveMinhashIndex]] ledger —
    * takedowns must stop BLOCKING admission, not just disappear: a
    * tombstoned doc's signatures leave the admission join, so a
    * near-duplicate of a removed document is ingestible again (and a
    * replayed copy of a deleted doc re-admits — the ledger forgets).
    * Same protocol as the other index deletes: (doc_id, seg)-scoped
    * tombstones under one commit, no statistics to correct, physical
    * removal at [[compactMinhashIndex]], idempotent retry on
    * `delete_<deleteId>`; appends compose, compactions/deletes racing
    * a fold abort via the CAS guards. Scope derivation reads only the
    * fixed-width `banded` rows — never signatures or text. */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, docIds: DataFrame, idCol: String,
      deleteId: String): Unit =
    deleteFromMinhashIndexFrom(spark, path, docIds, idCol, deleteId,
      Segments.snapshot(spark, path))

  /** Snapshot-taking core of [[deleteFromMinhashIndex]] —
    * `private[ext]` for the concurrency specs. */
  private[ext] def deleteFromMinhashIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docIds: DataFrame, idCol: String, deleteId: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    val seg = s"del_$deleteId"
    Segments.delete(spark, path, snap, deleteId, seg,
      Seq(Segments.Deletes), Seq(Segments.kept("banded")(
        "a concurrent compaction folded segments this delete " +
          "scanned — its tombstone scopes reference dropped " +
          "segments; rerun deleteFromMinhashIndex against the new " +
          "snapshot (appends compose; compactions serialize)"))) {
      // (doc -> segment) scope from the banded keys (16 fixed-width
      // rows/doc; docs shorter than n tokens have no rows and nothing
      // to tombstone). Live read: re-deleting an already-tombstoned
      // doc adds nothing. One scope covers BOTH parallel tables:
      // `sigs`/`banded` segments share names and a doc's rows live in
      // exactly one segment pair.
      Segments.live(spark, path, snap, "banded", tagged = true)
        .join(docIds.select(col(idCol).cast(LongType).as("doc_id"))
          .distinct(), Seq("doc_id"))
        .select(col("doc_id"), col("_seg").as("seg")).distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/${Segments.Deletes}/$seg")
    }
  }

  /** Incremental near-dup ADMISSION against a persisted
    * [[saveMinhashIndex]] index: returns the rows of `newDocs` that
    * have NO verified near-duplicate (estimated Jaccard >= `threshold`)
    * among the INDEXED documents — the x15 admission contract at
    * near-dup rather than exact granularity. Signatures and banding
    * come from the index's pinned params, so the decision is
    * definitionally [[minhashPairs]]'s cross-side restriction (ExtSpec
    * pins the equivalence). Documents too short to carry a signature
    * (< n tokens) admit unconditionally — no shingles, no collision —
    * matching [[minhashPairs]]'s domain. Within-batch near-dups are a
    * separate concern (run [[minhashPairs]] on the batch);
    * admit-then-append of the SAME batch makes a replayed batch
    * self-reject (every sig-bearing doc matches itself at est = 1.0) —
    * the decontamination property the spec pins.
    *
    * Scale shape: the corpus contributes (doc_id, bucket) pairs to the
    * band join (16 fixed-width rows/doc) and full signatures only for
    * the collision-bounded candidate set; indexed TEXT is never read
    * or shuffled.
    *
    * `asOfVersion` replays the decision against a retained OLDER
    * snapshot (time travel): record [[minhashIndexVersion]] before an
    * append/delete and that version's admission verdicts stay
    * reproducible until vacuumed — the audit handle every dedup ledger
    * eventually needs ("what did we admit against, and why"). */
  def minhashAdmit(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, asOfVersion: Option[Long] = None)
      : DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val p = Segments.scan(spark, path, snap, "params").head()
    val (n, bands, rows) =
      (p.getAs[Int]("n"), p.getAs[Int]("bands"), p.getAs[Int]("rows"))
    val k = bands * rows
    // materialized once: the shingle+minhash pipeline is referenced by
    // the band probe AND the signature verify — one tokenize pass over
    // the batch instead of two (batch-bounded rows)
    val inSig = Checkpoints.materialize(
      minhashSigFrame(newDocs, idCol, textCol, n, k), reliable = false)
    val inBanded = minhashBandedFrame(inSig, bands, rows)
    // live reads: tombstoned docs neither collide nor verify, so a
    // near-dup of a DELETED document admits again (the ledger forgets)
    val corpusBanded = Segments.live(spark, path, snap, "banded")
    val cand = inBanded.select(col("doc_id").as("in_doc"), col("bucket"))
      .join(corpusBanded.select(col("doc_id").as("corpus_doc"),
        col("bucket")), Seq("bucket"))
      .select(col("in_doc"), col("corpus_doc")).distinct()
    val corpusSigs = Segments.live(spark, path, snap, "sigs")
    val rejected = cand
      .join(inSig.select(col("doc_id").as("in_doc"),
        col("sig").as("sig_a")), Seq("in_doc"))
      .join(corpusSigs.select(col("doc_id").as("corpus_doc"),
        col("sig").as("sig_b")), Seq("corpus_doc"))
      .withColumn("est", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast(DoubleType) /
          lit(k.toDouble), 6))
      .filter(col("est") >= threshold)
      .select(col("in_doc").as(idCol)).distinct()
    newDocs.join(rejected, Seq(idCol), "left_anti")
  }

  /** [[minhashAdmit]] that ALSO returns the admitted rows' already-
    * computed signatures, so the admit-then-append stream loop
    * ([[graft.streaming.StreamIndex.minhashAdmitWriter]]) appends via
    * [[appendToMinhashIndexSigs]] without tokenizing the batch a
    * second time. Same decision as [[minhashAdmit]] bit-for-bit (same
    * snapshot, params, and verify). The rejected-id set is
    * materialized once (it anchors both anti-joins); the caller must
    * [[Checkpoints.release]] BOTH returned frames after its terminal
    * action (the admitted frame no longer embeds the signature
    * checkpoint). The third result is the index's `(bands, rows)`,
    * which the append of the same signatures reuses instead of reading
    * the `params` table again. */
  private[graft] def minhashAdmitWithSigs(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double): (DataFrame, DataFrame, (Int, Int)) = {
    val snap = Segments.snapshot(spark, path)
    val p = Segments.scan(spark, path, snap, "params").head()
    val (n, bands, rows) =
      (p.getAs[Int]("n"), p.getAs[Int]("bands"), p.getAs[Int]("rows"))
    val k = bands * rows
    val inSig = Checkpoints.materialize(
      minhashSigFrame(newDocs, idCol, textCol, n, k), reliable = false)
    val inBanded = minhashBandedFrame(inSig, bands, rows)
    val corpusBanded = Segments.live(spark, path, snap, "banded")
    val cand = inBanded.select(col("doc_id").as("in_doc"), col("bucket"))
      .join(corpusBanded.select(col("doc_id").as("corpus_doc"),
        col("bucket")), Seq("bucket"))
      .select(col("in_doc"), col("corpus_doc")).distinct()
    val corpusSigs = Segments.live(spark, path, snap, "sigs")
    val rejected = Checkpoints.materialize(cand
      .join(inSig.select(col("doc_id").as("in_doc"),
        col("sig").as("sig_a")), Seq("in_doc"))
      .join(corpusSigs.select(col("doc_id").as("corpus_doc"),
        col("sig").as("sig_b")), Seq("corpus_doc"))
      .withColumn("est", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast(DoubleType) /
          lit(k.toDouble), 6))
      .filter(col("est") >= threshold)
      .select(col("in_doc").as(idCol)).distinct(), reliable = false)
    (newDocs.join(rejected, Seq(idCol), "left_anti"),
      inSig.join(rejected.select(col(idCol).as("doc_id")),
        Seq("doc_id"), "left_anti"),
      (bands, rows))
  }

  /** [[appendToMinhashIndex]] from the admit's PRECOMPUTED signatures
    * (doc_id, sig rows hashed with the index's pinned params) — skips
    * the second shingle+minhash pass over the admitted docs. `banding`
    * is the `(bands, rows)` of those params, as
    * [[minhashAdmitWithSigs]] returns it. Same idempotence contract. */
  private[graft] def appendToMinhashIndexSigs(
      spark: org.apache.spark.sql.SparkSession, path: String,
      sigs: DataFrame, banding: (Int, Int), batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg,
        Seq("sigs", "banded")) {
      writeMinhashSegmentSigs(sigs, path, seg, banding._1, banding._2)
    }
  }

  /** Append a (typically just-admitted) batch's signatures to a
    * persisted [[saveMinhashIndex]] index — idempotent per `batchId`
    * via the manifest `applied` record, same contract as every other
    * index append (reserved segment prefixes, segments invisible until
    * the commit, late retries of compacted-away batches no-op). */
  def appendToMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg,
        Seq("sigs", "banded")) {
      val p = Segments.scan(spark, path, snap, "params").head()
      writeMinhashSegment(newDocs, idCol, textCol, path, seg,
        p.getAs[Int]("n"), p.getAs[Int]("bands"), p.getAs[Int]("rows"))
    }
  }

  /** Fold a [[saveMinhashIndex]] index's signature segments back to
    * one per table — same CAS/guard contract as the other compactions
    * (concurrent appends carried; a racing compaction aborts). */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactMinhashIndexFrom(spark, path, Segments.snapshot(spark, path))

  /** Snapshot-taking core of [[compactMinhashIndex]] —
    * `private[ext]` for the concurrency specs. */
  private[ext] def compactMinhashIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    if (Seq("sigs", "banded").forall(t => snap.segs(t).length <= 1) &&
      snap.segs(Segments.Deletes).isEmpty)
      return
    // live reads: the fold physically removes tombstoned docs; the
    // tombstone table empties in the same commit
    Segments.fold(spark, path, snap, Seq("sigs", "banded"),
        "compactMinhashIndex", Some(Segments.Deletes)) { seg =>
      Segments.live(spark, path, snap, "sigs")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/sigs/$seg")
      Segments.live(spark, path, snap, "banded")
        .repartition(col("bucket"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/banded/$seg")
    }
  }

  /** Retention GC for [[saveMinhashIndex]] — the shared vacuum. */
  def vacuumMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 2): Unit =
    Segments.vacuum(spark, path, keepVersions,
      MinhashTables :+ Segments.Deletes)

  // --------------------------- persisted containment-admission ledger

  private val ContainmentTables = Seq("postings", "params")

  /** Persist a CONTAINMENT-admission ledger (x235) — the
    * subset/quotation axis the MinHash ledger structurally misses:
    * [[minhashAdmit]] rejects on estimated symmetric Jaccard, so a
    * 100-shingle doc fully quoted inside an indexed 10000-shingle doc
    * (Jaccard 0.01, containment 1.0 — [[containmentPairs]]'
    * motivation) sails through it. This ledger persists each doc's
    * DISTINCT shingle-hash postings `(doc_id, s, sz)` — fixed 24-byte
    * rows, text never persisted — and admits by the EXACT asymmetric
    * measure: C = |A∩B| / min(|A|, |B|), definitionally
    * [[containmentPairs]] restricted cross-side (the gate's oracle).
    * Same manifest lifecycle as [[saveMinhashIndex]]: idempotent
    * appends, version handle + as-of time travel, CAS-guarded
    * compaction. No sampling or banding: containment has no
    * signature-space estimator with the MinHash bound (the min-side
    * normalization breaks permutation symmetry), so the honest form
    * is the inverted shingle join — the same shuffle discipline as
    * [[containmentPairs]] and the BM25 postings, keyed on 8-byte
    * hashes, batch-shingles × collision cost, never all-pairs. The
    * x49 boilerplate caveat carries over: hot shingles can't be
    * capped without changing the measure — strip markup upstream. */
  def saveContainmentIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String, n: Int = 5): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Segments.drop(spark, path)
    Seq(n).toDF("n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params/base")
    writeContainmentSegment(docs, idCol, textCol, path, "base", n)
    Segments.create(spark, path,
      ContainmentTables.map(t => t -> Seq("base")).toMap)
  }

  /** One postings segment — shared by the base build and every append.
    * Rows cluster by shingle hash so the admission join's corpus side
    * scans collision-locally. */
  private def writeContainmentSegment(docs: DataFrame, idCol: String,
      textCol: String, path: String, seg: String, n: Int): Unit = {
    graft.functions.TextHashExprs.register(docs.sparkSession)
    docs.select(col(idCol).cast(LongType).as("doc_id"),
        graft.functions.TextHashExprs.shingleHashes(col(textCol), n)
          .as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
      .repartition(col("s")).sortWithinPartitions("s")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/postings/$seg")
  }

  /** DELETE documents from the containment ledger (x242) — the
    * takedown path: a tombstoned doc's postings leave the admission
    * join, so a quote of a removed document is ingestible again (and
    * a replay of the deleted doc itself re-admits — the ledger
    * forgets). Same protocol as [[deleteFromMinhashIndex]]:
    * (doc_id, seg)-scoped tombstones, idempotent on
    * `delete_<deleteId>`, physical removal at compaction, CAS guards
    * against racing folds. Scope derivation reads only the postings'
    * fixed-width columns. */
  def deleteFromContainmentIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docIds: DataFrame, idCol: String, deleteId: String): Unit =
    deleteFromContainmentIndexFrom(spark, path, docIds, idCol,
      deleteId, Segments.snapshot(spark, path))

  private[ext] def deleteFromContainmentIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docIds: DataFrame, idCol: String, deleteId: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    val seg = s"del_$deleteId"
    Segments.delete(spark, path, snap, deleteId, seg,
      Seq(Segments.Deletes), Seq(Segments.kept("postings")(
        "a concurrent compaction folded segments this delete " +
          "scanned — its tombstone scopes reference dropped " +
          "segments; rerun deleteFromContainmentIndex against the " +
          "new snapshot (appends compose; compactions serialize)"))) {
      Segments.live(spark, path, snap, "postings", tagged = true)
        .join(docIds.select(col(idCol).cast(LongType).as("doc_id"))
          .distinct(), Seq("doc_id"))
        .select(col("doc_id"), col("_seg").as("seg")).distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/${Segments.Deletes}/$seg")
    }
  }

  /** The containment ledger's current manifest version — the as-of
    * handle ([[minhashIndexVersion]]'s MVCC contract). */
  def containmentIndexVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** Append a (typically just-admitted) batch's shingle postings —
    * idempotent per `batchId` via the manifest `applied` record, same
    * contract as [[appendToMinhashIndex]]. Caller contract: append
    * each document ONCE (the BM25 one-live-version rule) — a doc id
    * landed under two different batchIds carries its postings twice
    * and double-counts `shared` in [[containmentAdmit]]. */
  def appendToContainmentIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("postings")) {
      val n = Segments.scan(spark, path, snap, "params")
        .head().getAs[Int]("n")
      require(n >= 1, s"ledger at $path is a signature-SET " +
        "containment index — use appendToContainmentSetIndex")
      writeContainmentSegment(newDocs, idCol, textCol, path, seg, n)
    }
  }

  /** Incremental CONTAINMENT admission: the rows of `newDocs` with no
    * indexed document at C(A,B) = |A∩B| / min(|A|,|B|) >= `threshold`
    * — exactly [[containmentPairs]]' verdict restricted cross-side
    * (ExtSpec pins the equivalence). Docs too short to shingle
    * (< n tokens) admit unconditionally — no shingles, no
    * containment, matching [[containmentPairs]]' domain. Within-batch
    * containment is a separate concern (run [[containmentPairs]] on
    * the batch); admit-then-append makes a replayed batch self-reject
    * (every shingled doc contains itself at C = 1.0 — the spec-pinned
    * decontamination property). `asOfVersion` replays an older
    * retained snapshot's decisions bit-for-bit. */
  def containmentAdmit(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, asOfVersion: Option[Long] = None)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    graft.functions.TextHashExprs.register(spark)
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val n = Segments.scan(spark, path, snap, "params")
      .head().getAs[Int]("n")
    require(n >= 1, s"ledger at $path is a signature-SET containment " +
      "index — use containmentSetAdmit")
    val in = newDocs.select(col(idCol).cast(LongType).as("in_doc"),
        graft.functions.TextHashExprs.shingleHashes(col(textCol), n)
          .as("sh"))
      .select(col("in_doc"), size(col("sh")).as("in_sz"),
        explode(col("sh")).as("s"))
    // live read: a tombstoned doc neither collides nor verifies, so a
    // quote of a DELETED document admits again (the ledger forgets)
    val corpus = Segments.live(spark, path, snap, "postings")
    val rejected = in.join(corpus, Seq("s"))
      .groupBy(col("in_doc"), col("doc_id"), col("in_sz"), col("sz"))
      .agg(count(lit(1)).as("shared"))
      .filter(round(col("shared").cast(DoubleType) /
        least(col("in_sz"), col("sz")).cast(DoubleType), 6)
        >= threshold)
      .select(col("in_doc")).distinct()
    newDocs.join(
      rejected.select(col("in_doc").cast(LongType).as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Fold the postings segments back to one — same CAS/guard contract
    * as [[compactMinhashIndexFrom]] (a mid-fold append's segment is
    * carried; a racing compaction aborts). */
  def compactContainmentIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactContainmentIndexFrom(spark, path,
      Segments.snapshot(spark, path))

  private[ext] def compactContainmentIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    if (snap.segs("postings").length <= 1 &&
      snap.segs(Segments.Deletes).isEmpty) return
    // live read: the fold physically removes tombstoned docs; the
    // tombstone table empties in the same commit
    Segments.fold(spark, path, snap, Seq("postings"),
        "compactContainmentIndex", Some(Segments.Deletes)) { seg =>
      Segments.live(spark, path, snap, "postings")
        .repartition(col("s")).sortWithinPartitions("s")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/postings/$seg")
    }
  }

  /** Retention GC for [[saveContainmentIndex]] — the shared vacuum. */
  def vacuumContainmentIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keepVersions: Int = 2): Unit =
    Segments.vacuum(spark, path, keepVersions,
      ContainmentTables :+ Segments.Deletes)

  // -------------- precomputed signature-SET containment ledger (x252)

  /** One postings segment from PRECOMPUTED signature sets — the
    * [[writeContainmentSegment]] shape with the caller supplying each
    * doc's hash set (e.g. per-frame dHashes,
    * [[Multimodal.frameDHash]]) instead of text shingles. Sets are
    * distinct-ed defensively; null/empty sets carry no postings
    * (their docs admit unconditionally, the < n-token rule's twin). */
  private def writeContainmentSetSegment(docs: DataFrame,
      idCol: String, setCol: String, path: String, seg: String): Unit =
    docs.select(col(idCol).cast(LongType).as("doc_id"),
        array_distinct(col(setCol)).as("sh"))
      .filter(col("sh").isNotNull && size(col("sh")) >= 1)
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
      .repartition(col("s")).sortWithinPartitions("s")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/postings/$seg")

  /** Persist a containment-admission ledger over PRECOMPUTED signature
    * SETS (x252) — the multi-frame/video axis: a container is its
    * distinct per-frame hash set, and "this clip is (mostly) inside an
    * already-ingested reel" is exactly the containment measure
    * C = |A∩B| / min(|A|,|B|) over frame hashes. Same manifest
    * lifecycle, deletes ([[deleteFromContainmentIndex]]), compaction
    * ([[compactContainmentIndex]]) and vacuum as the text ledger —
    * those operate on postings generically. `params.n = 0` marks the
    * set geometry: the text-shingle admit refuses to serve this
    * ledger and vice versa (a mixed read would compare incomparable
    * postings). */
  def saveContainmentSetIndex(docs: DataFrame, idCol: String,
      setCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Segments.drop(spark, path)
    Seq(0).toDF("n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params/base")
    writeContainmentSetSegment(docs, idCol, setCol, path, "base")
    Segments.create(spark, path,
      ContainmentTables.map(t => t -> Seq("base")).toMap)
  }

  /** Append a batch's signature sets — [[appendToContainmentIndex]]'s
    * idempotency contract on the set geometry (each doc appended
    * ONCE). */
  def appendToContainmentSetIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, setCol: String,
      batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("postings")) {
      require(Segments.scan(spark, path, snap, "params")
          .head().getAs[Int]("n") == 0,
        s"ledger at $path is a text-shingle containment index — use " +
          "appendToContainmentIndex")
      writeContainmentSetSegment(newDocs, idCol, setCol, path, seg)
    }
  }

  /** Within-corpus containment pairs over PRECOMPUTED signature sets
    * (x257) — [[containmentPairs]] with the caller's hash sets (e.g.
    * per-frame dHashes) as the shingles: every pair at
    * C = |A∩B| / min(|A|,|B|) >= `threshold`. Carries the x250
    * IDENTICAL-SET COLLAPSE: byte-identical hash sets (exact re-posts
    * of the same clip — the norm in scraped video) are mutual
    * duplicates at C = 1.0 by construction, so the inverted self-join
    * runs over one min-id representative per DISTINCT (sorted) set and
    * members re-expand afterwards — in-collision candidates scale with
    * distinct sets, never documents. Null/empty-set docs pair with
    * nothing. */
  def containmentSetPairs(df: DataFrame, idCol: String,
      setCol: String, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    // sort for a canonical set key: collect_set order is partition-
    // dependent and must not split identical sets across reps.
    // Materialized once (the simhashPairsFromSigs discipline): the
    // plan references this frame ~6 times, and the set pipeline above
    // it is typically a frame-decode scan (x257's GIF codec) that
    // must not re-run per reference.
    val s = Checkpoints.materialize(
      df.select(col(idCol).cast(LongType).as("doc_id"),
          array_sort(array_distinct(col(setCol))).as("sh"))
        .filter(col("sh").isNotNull && size(col("sh")) >= 1),
      reliable = false)
    val withRep = s.withColumn("rep",
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
    val repPairs = containmentRepPairs(withRep, threshold)
    val m = withRep.select(col("rep"), col("doc_id").as("m"))
    val expanded = repPairs
      .join(m.withColumnsRenamed(Map("rep" -> "doc_a", "m" -> "m_a")),
        "doc_a")
      .join(m.withColumnsRenamed(Map("rep" -> "doc_b", "m" -> "m_b")),
        "doc_b")
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"),
        col("containment"))
    // identical sets: C = 1.0 >= any threshold in (0, 1]
    val inGroup = withRep.as("a").join(withRep.as("b"),
        col("a.rep") === col("b.rep") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(1.0).as("containment"))
    expanded.unionByName(inGroup)
  }

  /** Rep-side containment pair generation over a (doc_id, sh, rep)
    * frame of SORTED DISTINCT hash sets — the shared-hash join +
    * C = |A∩B| / min(|A|,|B|) verify, reps only. */
  private def containmentRepPairs(withRep: DataFrame,
      threshold: Double): DataFrame = {
    val e = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
    e.as("a").join(e.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        round(col("shared").cast(DoubleType) /
          least(col("sz_a"), col("sz_b")).cast(DoubleType), 6))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Containment-graph component labels over signature SETS — the
    * fused [[containmentSetPairs]] → [[dedupClusters]] canonical-
    * selection path that SKIPS the member-pair expansion (see
    * [[clustersFromRepPairs]] for the equality argument; the x257
    * reel-dedup fixture is where the expansion measured 4.6 M pair
    * rows against a 250-node/542-edge rep graph). Same containment
    * measure, threshold domain, and identical-set collapse as
    * [[containmentSetPairs]]; docs with a null/empty set get no row.
    * Output: (id, cluster_id = component min) for every valid-set
    * doc, singletons labeled themselves. */
  def containmentSetClusters(df: DataFrame, idCol: String,
      setCol: String, threshold: Double, maxIters: Int = 30,
      reliable: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    // materialized once — the set pipeline above is typically a
    // frame-decode scan (the containmentSetPairs discipline)
    val s = Checkpoints.materialize(
      df.select(col(idCol).cast(LongType).as("doc_id"),
          array_sort(array_distinct(col(setCol))).as("sh"))
        .filter(col("sh").isNotNull && size(col("sh")) >= 1),
      reliable = false)
    val withRep = s.withColumn("rep",
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
    clustersFromRepPairs(withRep,
      containmentRepPairs(withRep, threshold), maxIters, reliable)
  }

  /** Incremental containment admission over signature SETS: the rows
    * of `newDocs` with no ledgered doc at C(A,B) = |A∩B| / min(|A|,|B|)
    * >= `threshold` over the precomputed hash sets — the
    * [[containmentAdmit]] verdict with frames (or any caller-chosen
    * signatures) as the shingles. Docs with a null/empty set admit
    * unconditionally. `asOfVersion` replays retained snapshots
    * ([[containmentIndexVersion]]'s MVCC handle). */
  def containmentSetAdmit(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, setCol: String,
      threshold: Double = 0.5, asOfVersion: Option[Long] = None)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    val snap = Segments.snapshot(spark, path, asOfVersion)
    require(Segments.scan(spark, path, snap, "params")
        .head().getAs[Int]("n") == 0,
      s"ledger at $path is a text-shingle containment index — use " +
        "containmentAdmit")
    // Materialize the incoming frame ONCE: it is referenced by the
    // postings probe AND the final anti-join, and set callers feed it
    // a frame-decode pipeline (x252's per-frame dHash sets) that must
    // not re-decode per reference. Batch-bounded; stream writers
    // release the blocks after each batch lands.
    val src = Checkpoints.materialize(newDocs, reliable = false)
    val in = src.select(col(idCol).cast(LongType).as("in_doc"),
        array_distinct(col(setCol)).as("sh"))
      .filter(col("sh").isNotNull && size(col("sh")) >= 1)
      .select(col("in_doc"), size(col("sh")).as("in_sz"),
        explode(col("sh")).as("s"))
    val corpus = Segments.live(spark, path, snap, "postings")
    val rejected = in.join(corpus, Seq("s"))
      .groupBy(col("in_doc"), col("doc_id"), col("in_sz"), col("sz"))
      .agg(count(lit(1)).as("shared"))
      .filter(round(col("shared").cast(DoubleType) /
        least(col("in_sz"), col("sz")).cast(DoubleType), 6)
        >= threshold)
      .select(col("in_doc")).distinct()
    src.join(
      rejected.select(col("in_doc").cast(LongType).as(idCol)),
      Seq(idCol), "left_anti")
  }

  // ------------- paragraph/chunk-level exact dedup + reassembly (x260)

  /** PARAGRAPH-LEVEL exact dedup with document reassembly (the CCNet
    * line-dedup shape, the one dedup granularity the doc-level family
    * misses: boilerplate headers/footers/navigation repeated across
    * distinct pages): split each doc into consecutive
    * `chunkWords`-word chunks, keep only each distinct chunk's FIRST
    * occurrence corpus-wide — ordered by (doc_id, chunk index),
    * first-ingested-wins — and reassemble every doc from its
    * surviving chunks in order. Returns one row per input doc:
    * (doc_id, n_chunks, n_kept, dedup_text); a doc whose every chunk
    * was seen earlier survives with n_kept = 0 and empty text (the
    * caller's length filter drops it).
    *
    * Shapes for 100 TB: the first-occurrence groupBy shuffles
    * (xxhash64(chunk), doc_id, idx) triples — 24-byte rows, chunk
    * TEXT never enters an exchange (the [[exactDedupHashed]] 2^-64
    * collision argument); the winner set is re-derived from the doc's
    * own token array on a single doc-keyed join (kept-index arrays,
    * doc-bounded), so reassembly costs one shuffle of the corpus by
    * id — the irreducible cost of rewriting documents in place. */
  /** (doc_id, toks, n_chunks) — the shared head of the chunk family. */
  private def chunkBase(df: DataFrame, idCol: String, textCol: String,
      cw: Int): DataFrame =
    df.select(col(idCol).cast(LongType).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .withColumn("n_chunks",
        floor((size(col("toks")) + lit(cw - 1)) / lit(cw)))

  /** One (doc_id, idx, h) row per chunk instance — 24 bytes, the only
    * shape the first-occurrence shuffle ever moves. */
  private def chunkHashes(base: DataFrame, cw: Int): DataFrame =
    base.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), col("n_chunks").cast(IntegerType) - 1),
        i => xxhash64(array_join(
          slice(col("toks"), i * cw + 1, lit(cw)), " "))))
        .as(Seq("idx", "h")))

  /** Rebuild each doc from its kept chunk indexes (doc-bounded
    * arrays); a doc with no surviving chunk gets n_kept 0, "". */
  private def chunkReassemble(base: DataFrame, keptIdx: DataFrame,
      cw: Int): DataFrame =
    base.join(keptIdx, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(size(col("kept")), lit(0)).cast(LongType).as("n_kept"),
        coalesce(array_join(transform(col("kept"),
          i => array_join(slice(col("toks"), i * cw + 1, lit(cw)),
            " ")), " "), lit("")).as("dedup_text"))

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int): DataFrame = {
    require(chunkWords >= 1, s"chunkWords must be >= 1 (got $chunkWords)")
    val cw = chunkWords
    val base = chunkBase(df, idCol, textCol, cw)
    val first = chunkHashes(base, cw).groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    val keptIdx = first
      .select(col("f.doc_id").as("doc_id"), col("f.idx").as("idx"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept"))
    chunkReassemble(base, keptIdx, cw)
  }

  // ---------------- content-defined chunking (shift-resistant form)

  /** Content-defined chunking — the LBFS boundary rule (Muthitacharoen
    * et al., SOSP 2001) at word granularity: a chunk ends AFTER any
    * word whose md5 slot modulo `avgWords` is 0, so boundaries anchor
    * to CONTENT, not offsets. Inserting or deleting words re-chunks
    * only the chunk containing the edit — every later chunk
    * re-synchronizes on the same boundary words — which is what lets
    * chunk-hash dedup survive the prefix/boilerplate shifts that break
    * [[chunkDedup]]'s fixed grid (one inserted word moves the grid and
    * every downstream chunk hash changes).
    *
    * Expected chunk length is `avgWords` (geometric boundary process).
    * The boundary hash is the md5-slot cross-engine discipline
    * ([[Corpus.md5Slot]], the x20 rule), so an oracle re-derives
    * identical boundaries; `chunk_hash` is sha256 of the chunk text —
    * exact in both engines.
    *
    * Scale shape: one posexplode over words, one DOC-BOUNDED running
    * sum (window partitioned by doc — no global ordering), one
    * (doc, chunk) aggregate; every shuffle carries (doc_id, pos, word)
    * rows, nothing quadratic, no driver state. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      avgWords: Int, salt: String): DataFrame = {
    require(avgWords >= 2, s"avgWords must be >= 2 (got $avgWords)")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    df.select(col(idCol).cast(LongType).as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "w")))
      .withColumn("_b",
        when(Corpus.md5Slot(col("w"), lit(salt), 8, avgWords) === 0L,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("chunk_idx",
        coalesce(sum(col("_b")).over(win), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_words"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ").as("chunk_text"))
      .withColumn("chunk_hash", sha2(col("chunk_text"), 256))
  }

  /** First-occurrence chunk dedup over CONTENT-DEFINED chunks — the
    * [[chunkDedup]] decision on [[cdcChunks]] boundaries: each distinct
    * chunk text survives at its lexicographically first (doc, idx)
    * occurrence, every later instance is dropped, and docs are rebuilt
    * from their surviving chunks in order. Same output contract as
    * [[chunkDedup]]: (doc_id, n_chunks, n_kept, dedup_text).
    *
    * The pair x270 pins: a copy of a document behind an inserted
    * prefix re-synchronizes after at most one chunk, so nearly all of
    * its chunks dedup away — under the fixed grid the same copy keeps
    * everything, because every chunk hash shifted. */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
      avgWords: Int, salt: String): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol, avgWords, salt)
    val first = chunks.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
      .select(col("f.doc_id").as("doc_id"),
        col("f.chunk_idx").as("chunk_idx"))
    val keptTexts = chunks
      .join(first, Seq("doc_id", "chunk_idx"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"),
            col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as("dedup_text"))
    chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
      .join(keptTexts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  // ------------- persisted CDC chunk-hash ledger (shift-resistant)

  /** [[saveChunkLedger]]'s content-defined twin: the persisted state
    * is the set of every sha256 CDC chunk hash ever seen, with the
    * boundary parameters (`avg_words`, `salt`) pinned in params so
    * every batch chunks identically — the property the whole ledger
    * rests on (a salt change would re-boundary history). Same
    * manifest MVCC lifecycle as the fixed-grid ledger; compaction is
    * [[compactChunkLedger]] verbatim (it folds the hash table and
    * never reads params). At 100 TB the state is
    * ~|distinct chunks| × 32-byte hashes; the serve-side anti-join
    * keys those hashes and document text never shuffles. */
  def saveCdcChunkLedger(docs: DataFrame, idCol: String,
      textCol: String, path: String, avgWords: Int,
      salt: String): Unit = {
    require(avgWords >= 2, s"avgWords must be >= 2 (got $avgWords)")
    val spark = docs.sparkSession
    import spark.implicits._
    Segments.drop(spark, path)
    Seq((avgWords, salt)).toDF("avg_words", "salt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params/base")
    writeCdcChunkSegment(docs, idCol, textCol, path, "base",
      avgWords, salt)
    Segments.create(spark, path,
      Map("hashes" -> Seq("base"), "params" -> Seq("base")))
  }

  private def writeCdcChunkSegment(docs: DataFrame, idCol: String,
      textCol: String, path: String, seg: String, aw: Int,
      salt: String): Unit =
    cdcChunks(docs, idCol, textCol, aw, salt)
      .select(col("chunk_hash").as("h")).distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/hashes/$seg")

  private def cdcLedgerParams(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): (Int, String) = {
    val r = Segments.scan(spark, path, snap, "params").head()
    (r.getAs[Int]("avg_words"), r.getAs[String]("salt"))
  }

  /** Append a batch's distinct CDC chunk hashes; idempotent per
    * batchId via the manifest applied record (same contract as
    * [[appendToChunkLedger]] — blind appends, serve-side anti-join
    * tolerates cross-segment duplicates, compaction folds them). */
  def appendToCdcChunkLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("hashes")) {
      val (aw, salt) = cdcLedgerParams(spark, path, snap)
      writeCdcChunkSegment(batch, idCol, textCol, path, seg, aw, salt)
    }
  }

  /** The CDC ledger's current version handle — capture before an
    * append for an as-of rewrite replay. */
  def cdcChunkLedgerVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** Rewrite a batch against the CDC ledger: a chunk survives iff it
    * is its batch's first occurrence (by (doc_id, chunk_idx)) AND its
    * hash was never ledgered. Batches replayed in id order equal
    * [[cdcDedup]] over the cumulative corpus — the oracle's form.
    * Output contract matches [[chunkDedupIncremental]]:
    * (doc_id, n_chunks, n_kept, dedup_text). */
  def cdcDedupIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val (aw, salt) = cdcLedgerParams(spark, path, snap)
    val chunks = cdcChunks(batch, idCol, textCol, aw, salt)
    val first = chunks.groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
    val novel = first.join(
      Segments.scan(spark, path, snap, "hashes")
        .withColumnRenamed("h", "chunk_hash"),
      Seq("chunk_hash"), "left_anti")
      .select(col("f.doc_id").as("doc_id"),
        col("f.chunk_idx").as("chunk_idx"))
    val keptTexts = chunks
      .join(novel, Seq("doc_id", "chunk_idx"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"),
            col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as("dedup_text"))
    chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
      .join(keptTexts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  // ---------- persisted chunk-hash ledger: streamed paragraph dedup

  /** Persist a CHUNK-HASH ledger (x263) — [[chunkDedup]]'s streaming
    * form: state is the set of every chunk hash ever seen (8-byte
    * rows, append-only under the shared manifest protocol), so
    * arriving documents are rewritten against ALL history, not just
    * their own batch. Appends land each batch's distinct hashes
    * blindly (duplicate hashes across segments are harmless — the
    * serve side anti-joins); `chunkWords` is pinned in params so
    * every batch chunks identically. */
  def saveChunkLedger(docs: DataFrame, idCol: String, textCol: String,
      path: String, chunkWords: Int): Unit = {
    require(chunkWords >= 1, s"chunkWords must be >= 1 (got $chunkWords)")
    val spark = docs.sparkSession
    import spark.implicits._
    Segments.drop(spark, path)
    Seq(chunkWords).toDF("chunk_words")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params/base")
    writeChunkSegment(docs, idCol, textCol, path, "base", chunkWords)
    Segments.create(spark, path,
      Map("hashes" -> Seq("base"), "params" -> Seq("base")))
  }

  private def writeChunkSegment(docs: DataFrame, idCol: String,
      textCol: String, path: String, seg: String, cw: Int): Unit =
    chunkHashes(chunkBase(docs, idCol, textCol, cw), cw)
      .select(col("h")).distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/hashes/$seg")

  private def chunkLedgerParams(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): Int = {
    val p = Segments.scan(spark, path, snap, "params")
    require(p.schema.fieldNames.contains("chunk_words"),
      s"ledger at $path is not a saveChunkLedger directory")
    p.head().getAs[Int]("chunk_words")
  }

  /** Append a processed batch's distinct chunk hashes — idempotent by
    * `batchId` ([[appendToContainmentSetIndex]]'s contract). ALL of
    * the batch's hashes append, kept or shadowed: after the batch
    * lands, every chunk it carried has been seen. */
  def appendToChunkLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("hashes")) {
      writeChunkSegment(batch, idCol, textCol, path, seg,
        chunkLedgerParams(spark, path, snap))
    }
  }

  /** The chunk ledger's current version handle — capture before an
    * append for an as-of rewrite replay. */
  def chunkLedgerVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** Fold the hash segments to one, DISTINCT-ed across segments —
    * appends land blind (duplicate hashes across batches), so the
    * fold is where the ledger's physical size re-converges to the
    * true seen-set. Same CAS/guard contract as
    * [[compactContainmentIndexFrom]]: a mid-fold append's segment is
    * carried, a racing compaction aborts; retained older manifests
    * keep serving their delta segments (as-of reads survive the
    * fold until vacuum). */
  def compactChunkLedger(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    if (snap.segs("hashes").length <= 1) return
    Segments.fold(spark, path, snap, Seq("hashes"),
        "compactChunkLedger") { seg =>
      Segments.scan(spark, path, snap, "hashes").distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/hashes/$seg")
    }
  }

  /** Rewrite a batch against the ledger: a chunk survives iff it is
    * its batch's first occurrence (by (doc_id, idx)) AND its hash was
    * never ledgered. Because batches replay in id order at the gate,
    * this sequential loop equals [[chunkDedup]] over the cumulative
    * corpus — the oracle's form. Shapes: ledger scan is 8-byte hash
    * rows; the anti-join keys 8-byte hashes; reassembly as in
    * [[chunkDedup]]. */
  def chunkDedupIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val cw = chunkLedgerParams(spark, path, snap)
    val base = chunkBase(batch, idCol, textCol, cw)
    val first = chunkHashes(base, cw).groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    val novel = first.join(
      Segments.scan(spark, path, snap, "hashes"),
      Seq("h"), "left_anti")
    val keptIdx = novel
      .select(col("f.doc_id").as("doc_id"), col("f.idx").as("idx"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept"))
    chunkReassemble(base, keptIdx, cw)
  }

  // -------------- per-host crawl-budget admission ledger (x261)

  private val HostBudgetTables = Seq("admitted", "params")

  private def writeHostBudgetSegment(docs: DataFrame, idCol: String,
      hostCol: String, path: String, seg: String): Unit =
    docs.select(col(idCol).cast(LongType).as("doc_id"),
        col(hostCol).cast(StringType).as("host"))
      .filter(col("host").isNotNull)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/admitted/$seg")

  /** Persist a PER-HOST CRAWL-BUDGET ledger (x261): the frontier-side
    * admission control every large-scale web ingest runs ahead of
    * content dedup — "at most `cap` documents per host", so one
    * boilerplate-heavy domain cannot dominate the corpus (the
    * host-level twin of the per-group quality trims). State is the
    * admitted (doc_id, host) rows themselves — counts are derived at
    * admit time by a host-keyed count over the ledger scan, so the
    * ledger needs no read-modify-write counter and appends stay
    * blind/idempotent under the shared manifest protocol ([[
    * saveMinhashIndex]] lifecycle: version handle, as-of time travel,
    * CAS commits). Base rows are ledgered AS-IS ("already crawled"),
    * even where a host already exceeds `cap` — the admit then simply
    * never admits more for that host. */
  def saveHostBudgetLedger(docs: DataFrame, idCol: String,
      hostCol: String, path: String, cap: Int): Unit = {
    require(cap >= 1, s"cap must be >= 1 (got $cap)")
    val spark = docs.sparkSession
    import spark.implicits._
    Segments.drop(spark, path)
    Seq(cap).toDF("cap")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params/base")
    writeHostBudgetSegment(docs, idCol, hostCol, path, "base")
    Segments.create(spark, path,
      HostBudgetTables.map(t => t -> Seq("base")).toMap)
  }

  /** Append an ADMITTED batch — [[appendToContainmentSetIndex]]'s
    * idempotency contract (a replayed `batchId` is a no-op; callers
    * pass [[hostBudgetAdmit]]'s output, never raw incoming rows). */
  def appendToHostBudgetLedger(
      spark: org.apache.spark.sql.SparkSession, path: String,
      admitted: DataFrame, idCol: String, hostCol: String,
      batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"delta_$batchId"
    Segments.append(spark, path, snap, batchId, seg, Seq("admitted")) {
      require(Segments.scan(spark, path, snap, "params")
          .schema.fieldNames.contains("cap"),
        s"ledger at $path is not a saveHostBudgetLedger directory")
      writeHostBudgetSegment(admitted, idCol, hostCol, path, seg)
    }
  }

  /** The ledger's current version handle — capture before an append
    * for an as-of admission replay. */
  def hostBudgetLedgerVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** Admit the rows of `batch` that fit their host's remaining budget:
    * rank the batch per host by ascending id (the deterministic
    * first-crawled-wins order), and admit rank `r` iff
    * `ledgered(host) + r <= cap`. Null-host rows are never admitted
    * (no frontier without a host). Shapes for 100 TB: the ledger scan
    * reduces to (host, count) — host-cardinality rows, shuffled once
    * on `host`; the per-host rank windows over the BATCH only (batch-
    * bounded sort); document text never enters the plan. Returns the
    * admitted `batch` rows with their original columns. */
  def hostBudgetAdmit(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, hostCol: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val params = Segments.scan(spark, path, snap, "params")
    require(params.schema.fieldNames.contains("cap"),
      s"ledger at $path is not a saveHostBudgetLedger directory")
    val cap = params.head().getAs[Int]("cap")
    val prior = Segments.scan(spark, path, snap, "admitted")
      .groupBy(col("host")).agg(count(lit(1)).as("n_prior"))
    val in = batch.select(col(idCol).cast(LongType).as("in_doc"),
        col(hostCol).cast(StringType).as("host"))
      .filter(col("host").isNotNull)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("host"))
          .orderBy(col("in_doc").asc)))
    val admitted = in.join(prior, Seq("host"), "left")
      .filter(coalesce(col("n_prior"), lit(0L)) + col("rn") <= cap)
      .select(col("in_doc"))
    batch.join(admitted.select(col("in_doc").cast(LongType).as(idCol)),
      Seq(idCol), "left_semi")
  }
}
