package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Concurrently
import graft.sinks.Segments

/** Text-analysis operators for a large-scale training-data pipeline
  * (SURVEY §7.5): token statistics, quality scoring, language-ID heuristic,
  * and document fingerprinting.
  *
  * All are pure narrow projections built from codegen'd built-in
  * expressions — zero UDFs, zero shuffles; at 100 TB they run at scan
  * speed inside whole-stage codegen next to the parquet reader.
  */
object TextAnalysis {

  /** Whitespace tokenization. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c)).cast(LongType)

  /** BPE-ish sub-token count: runs of letters, runs of digits, or single
    * non-alnum-non-space chars — the classic pre-tokenizer regex. */
  def bpeTokenCount(c: Column): Column =
    regexp_count(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast(LongType)

  /** Language-specific stopword profiles for the stopword language-ID
    * heuristic. Tiny on purpose: the profiles broadcast as literals inside
    * the expression tree (no join, no lookup table). */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  /** Per-language stopword hit count. */
  def stopwordHits(c: Column, lang: String): Column = {
    val words = StopwordProfiles.toMap.apply(lang)
    size(filter(tokens(lower(c)),
      t => array_contains(array(words.map(lit): _*), t))).cast(LongType)
  }

  /** Heuristic language-ID: argmax of stopword hits, ties broken by
    * profile order (en first), "und" (undetermined) when no profile hits.
    *
    * Single-evaluation by construction (the [[graft.ext.Corpus.assignSplit]]
    * lesson): higher-order functions run interpreted with no subexpression
    * elimination, so the old argmax-over-when-ladder re-evaluated the five
    * tokenize+filter subtrees up to ~30×/row. Here every expensive subtree
    * is referenced exactly once: ONE tokenize pass feeds ONE fold that
    * bumps all five per-language counters per token, and the argmax is a
    * second fold over the tiny 5-slot array — strictly-greater keeps the
    * earlier profile (en-first tie-break), and the 0/"und" seed makes
    * no-hits rows undetermined. */
  def langId(c: Column): Column = {
    val profiles = StopwordProfiles
    val init = array(profiles.map(_ => lit(0L)): _*)
    val counts = aggregate(tokens(lower(c)), init, (acc, t) =>
      array(profiles.zipWithIndex.map { case ((_, words), i) =>
        element_at(acc, i + 1) +
          when(t.isInCollection(words), lit(1L)).otherwise(lit(0L))
      }: _*))
    val langs = array(profiles.map(p => lit(p._1)): _*)
    // coalesce: NULL text folds to NULL through aggregate — the
    // documented contract is "und" for anything without a profile hit
    coalesce(aggregate(
      zip_with(counts, langs, (s, l) => struct(s.as("s"), l.as("l"))),
      struct(lit(0L).as("s"), lit("und").as("l")),
      (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc))
      .getField("l"), lit("und"))
  }

  /** Quality-scoring signals (length, punctuation ratio, stopword ratio,
    * mean token length). Ratios are divisions of identical ints →
    * bit-stable across engines. */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    val nTok = tokenCount(c)
    val nChar = length(c).cast(LongType)
    val nPunct = regexp_count(c, lit("[.,;:!?]")).cast(LongType)
    val nStop = stopwordHits(c, "en")
    df.withColumn("n_chars_calc", nChar)
      .withColumn("n_tokens", nTok)
      .withColumn("n_punct", nPunct)
      .withColumn("n_stopwords", nStop)
      .withColumn("punct_ratio",
        round(coalesce(try_divide(nPunct.cast(DoubleType),
          nChar.cast(DoubleType)), lit(0.0)), 6))
      .withColumn("stopword_ratio",
        round(coalesce(try_divide(nStop.cast(DoubleType),
          nTok.cast(DoubleType)), lit(0.0)), 6))
  }

  /** Quality score: length in a healthy band, some stopwords, not
    * punctuation-soup. Deterministic piecewise formula over the signals. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    qualitySignals(df, textCol).withColumn("quality_score",
      round(
        when(col("n_tokens") < 5, lit(0.1))
          .otherwise(
            lit(0.4) * least(col("n_tokens").cast(DoubleType) / lit(50.0),
              lit(1.0)) +
            lit(0.4) * least(col("stopword_ratio") * lit(10.0), lit(1.0)) +
            lit(0.2) * when(col("punct_ratio") > 0.2, lit(0.0))
              .otherwise(lit(1.0))), 6))

  /** Fixed-weight logistic quality classifier: P(keep) from the x09
    * signal columns — the "model scoring as a codegen projection"
    * pattern. The weights are illustrative public heuristics (stopwords
    * up, punctuation soup down, log-length up); swapping in trained
    * weights changes literals, not the plan. Inputs are the ROUNDED
    * ratio columns, so the logit is a short chain of correctly-rounded
    * IEEE ops over engine-identical values — deterministic across
    * engines to well inside the 1e-6 output rounding. */
  def qualityLogit(df: DataFrame, textCol: String): DataFrame = {
    val z = lit(-1.0d) + lit(2.5d) * col("stopword_ratio") -
      lit(4.0d) * col("punct_ratio") +
      lit(0.35d) * log(lit(1.0d) + col("n_tokens").cast(DoubleType))
    qualitySignals(df, textCol)
      .withColumn("quality_prob",
        round(lit(1.0d) / (lit(1.0d) + exp(-z)), 6))
  }

  /** TRAINED classifier-based quality scoring — the GPT-3 / CCNet
    * recipe (Brown et al. 2020 Appendix A; Wenzek et al. 2020): fit a
    * multinomial Naive-Bayes token model on a labeled seed — rows
    * where `positive` holds are the curated class (the pipelines use
    * a wiki-like corpus; here any Column predicate), everything else
    * the raw class — then score EVERY document by its mean token
    * log-likelihood ratio. Positive scores read "looks like the
    * curated seed". Unlike [[qualityLogit]]'s fixed illustrative
    * weights, the per-token weights here are ESTIMATED from the data:
    * llr(w) = ln((c₊(w)+1)/(N₊+V)) − ln((c₋(w)+1)/(N₋+V)) (Laplace
    * smoothing, V = corpus vocabulary), score(d) = Σ c_d(w)·llr(w) / |d|.
    *
    * Scale shape: ONE (doc, token) count aggregate feeds everything —
    * class totals re-aggregate it, the per-token llr table is
    * vocabulary-sized (not corpus-sized) and joins back against the
    * same doc-count aggregate; document text is tokenized once and
    * never shuffled again. The llr table is the "model": persist it
    * and scoring new corpora is one broadcast-shaped join, the same
    * serve pattern as the fastText classifiers these pipelines
    * actually deploy. Docs with zero tokens have no token rows and
    * drop out — same contract as [[lmDocScore]]. */
  def nbQualityScore(df: DataFrame, idCol: String, textCol: String,
      positive: Column): DataFrame = {
    val docCounts = df
      .select(col(idCol).as("doc_id"), positive.as("_pos"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("_pos"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val tok = docCounts.groupBy(col("w"))
      .agg(sum(when(col("_pos"), col("cnt")).otherwise(lit(0L)))
          .as("c_pos"),
        sum(when(!col("_pos"), col("cnt")).otherwise(lit(0L)))
          .as("c_neg"))
    // class totals + vocab as a single-row LAZY aggregate, broadcast-
    // cross-joined in-plan (the lmDocScore discipline — no eager
    // statistic job, the token aggregate executes once per action)
    val totals = tok.agg(sum(col("c_pos")).as("n_pos"),
      sum(col("c_neg")).as("n_neg"), count(lit(1)).as("v"))
    val llr = tok.crossJoin(broadcast(totals))
      .withColumn("llr",
        log((col("c_pos") + lit(1)).cast(DoubleType) /
          (col("n_pos") + col("v")).cast(DoubleType)) -
        log((col("c_neg") + lit(1)).cast(DoubleType) /
          (col("n_neg") + col("v")).cast(DoubleType)))
      .select(col("w"), col("llr"))
    docCounts
      .join(llr, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        round(sum(col("cnt").cast(DoubleType) * col("llr")) /
          sum(col("cnt")).cast(DoubleType), 6).as("nb_llr"))
  }

  /** C4's line-level cleaning (Raffel et al. 2020, §2.2 — the public
    * rules behind the most-used cleaned web corpus): a LINE survives
    * iff it ends in a terminal punctuation mark, has at least 3
    * words, and does not mention "javascript"; the DOCUMENT is
    * flagged dropped iff it contains "lorem ipsum" or a curly brace,
    * or fewer than 5 lines survive (the "at least five sentences"
    * page rule). Rows are flagged, never dropped — the caller
    * filters on `doc_kept`, audits read the counts.
    *
    * Output: (doc_id, n_lines, n_kept_lines, doc_kept 0/1,
    * clean_text = surviving lines joined by newline).
    *
    * Scale shape: pure per-row projection over the line ARRAY
    * (higher-order `filter`, no explode, no shuffle) — rides the
    * scan at any corpus size. */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val lines = split(col(textCol), "\n")
    val keptArr = filter(lines, l =>
      trim(l).rlike("[.!?\"']$") &&
        size(split(trim(l), "\\s+")) >= 3 &&
        !lower(l).contains("javascript"))
    df.select(col(idCol).as("doc_id"),
        size(lines).cast(LongType).as("n_lines"),
        size(keptArr).cast(LongType).as("n_kept_lines"),
        array_join(keptArr, "\n").as("clean_text"),
        lower(col(textCol)).contains("lorem ipsum").as("_lorem"),
        col(textCol).contains("{").as("_brace"))
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        when(!col("_lorem") && !col("_brace") &&
          col("n_kept_lines") >= 5, lit(1L)).otherwise(lit(0L))
          .as("doc_kept"),
        col("clean_text"))
  }

  /** Blocklist document filtering — the C4 "bad words" stage (Raffel
    * et al. 2020 discard any page with a word on the public
    * List-of-Dirty-Naughty-... blocklist): tokens join a broadcast
    * (term, category) table, documents aggregate hit counts, and
    * `kept` = zero hits. Every document gets a row (hit or not).
    *
    * Output: (doc_id, n_hits, n_terms = distinct blocklisted terms
    * present, categories = sorted distinct categories hit joined by
    * ',', kept 0/1).
    *
    * Scale shape: the blocklist is a few hundred to a few thousand
    * rows — broadcast to the exploded token scan; only HIT rows
    * (rare) shuffle into the per-doc aggregate, and the final
    * left-join back onto ids carries (doc_id, counts) pairs. Text
    * never shuffles. */
  def blocklistFilter(df: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[(String, String)]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val spark = df.sparkSession
    import spark.implicits._
    val bl = blocklist.toDF("w", "category")
    val hits = df
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .join(broadcast(bl), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("w")).as("n_terms"),
        array_join(array_sort(collect_set(col("category"))), ",")
          .as("categories"))
    df.select(col(idCol).as("doc_id")).distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("categories"), lit("")).as("categories"),
        when(col("n_hits").isNull, lit(1L)).otherwise(lit(0L))
          .as("kept"))
  }

  /** Gopher document-quality rules (Rae et al. 2021, Appendix A1.1 —
    * the published heuristic battery MassiveText shipped with): each
    * rule emits a 0/1 flag and `keep` is their conjunction. Rules and
    * the paper's thresholds:
    *
    *  - `wc_ok`:    50 ≤ word count ≤ 100,000
    *  - `mwl_ok`:   3 ≤ mean word length ≤ 10
    *  - `sym_ok`:   symbol-to-word ratio ('#' or '…') < 0.1
    *  - `alpha_ok`: > 70% of words contain an alphabetic character
    *  - `bullet_ok`: ≤ 10% of lines start with a bullet ('-' or '•')
    *  - `ell_ok`:   ≤ 30% of lines end with an ellipsis ('…'/'...')
    *  - `stop_ok`:  ≥ 2 DISTINCT stopwords present (the x09 list)
    *
    * Every threshold compare runs in INTEGER cross-multiplication
    * (10·n_sym < n_words, not n_sym/n_words < 0.1) so the decision is
    * bit-exact across engines; `mean_word_len` is emitted round-6 for
    * audits but never compared as a float. Pure projection over the
    * token/line arrays — no explode, no shuffle, scan-bounded. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = tokens(col(textCol))
    val lns = split(col(textCol), "\n")
    val stop = Array("the", "a", "of", "and", "to", "in", "is", "it")
    def cnt(c: Column): Column = c.cast(LongType)
    df.select(col(idCol).as("doc_id"),
        cnt(size(toks)).as("n_words"),
        cnt(aggregate(transform(toks, t => length(t)), lit(0),
          (acc, x) => acc + x)).as("n_chars"),
        cnt(length(col(textCol)) -
          length(regexp_replace(col(textCol), "[#…]", "")))
          .as("n_sym"),
        cnt(size(filter(toks, t => t.rlike("[A-Za-z]"))))
          .as("n_alpha"),
        cnt(size(lns)).as("n_lines"),
        cnt(size(filter(lns, l =>
          trim(l).rlike("^[-•]")))).as("n_bullet"),
        cnt(size(filter(lns, l =>
          trim(l).rlike("(\\.\\.\\.|…)$")))).as("n_ellipsis"),
        cnt(size(array_intersect(
          transform(toks, t => lower(t)),
          lit(stop)))).as("n_stop"))
      .withColumn("mean_word_len",
        round(col("n_chars").cast(DoubleType) /
          col("n_words").cast(DoubleType), 6))
      .withColumn("wc_ok", when(col("n_words") >= 50 &&
        col("n_words") <= 100000, lit(1L)).otherwise(lit(0L)))
      .withColumn("mwl_ok", when(col("n_chars") >= lit(3) * col("n_words")
        && col("n_chars") <= lit(10) * col("n_words"), lit(1L))
        .otherwise(lit(0L)))
      .withColumn("sym_ok", when(lit(10) * col("n_sym") < col("n_words"),
        lit(1L)).otherwise(lit(0L)))
      .withColumn("alpha_ok", when(lit(10) * col("n_alpha") >
        lit(7) * col("n_words"), lit(1L)).otherwise(lit(0L)))
      .withColumn("bullet_ok", when(lit(10) * col("n_bullet") <=
        col("n_lines"), lit(1L)).otherwise(lit(0L)))
      .withColumn("ell_ok", when(lit(10) * col("n_ellipsis") <=
        lit(3) * col("n_lines"), lit(1L)).otherwise(lit(0L)))
      .withColumn("stop_ok", when(col("n_stop") >= 2, lit(1L))
        .otherwise(lit(0L)))
      .withColumn("keep", col("wc_ok") * col("mwl_ok") * col("sym_ok") *
        col("alpha_ok") * col("bullet_ok") * col("ell_ok") *
        col("stop_ok"))
  }

  /** Gopher's REPETITION filters (Rae et al. 2021, A1.1 — the other
    * half of [[gopherRules]]'s battery): documents made of repeated
    * lines/n-grams are machine-generated boilerplate. Signals, with
    * the paper's thresholds, every compare in integer
    * cross-multiplication:
    *
    *  - `dup_line_ok`:  ≤ 30% of lines are repeats of an earlier line
    *    (occurrences beyond each line's first)
    *  - `dup_line_char_ok`: ≤ 20% of line characters sit in those
    *    repeated occurrences
    *  - `top2_ok`: the heaviest 2-gram covers ≤ 20% of the
    *    whitespace-normalized characters (coverage = count × gram
    *    length; the count·len argmax is the deterministic form of
    *    "chars in the most frequent n-gram" — no text tiebreak)
    *  - `dup5_ok`: characters in repeated 5-gram occurrences (beyond
    *    each gram's first; overlaps counted, as the paper does) ≤ 15%
    *
    * Scale shape: lines and n-grams are hashed ON THE MAP SIDE
    * (xxhash64 + char length), so the three doc-keyed aggregates
    * shuffle 24-byte (doc, hash, len) rows — text and grams never
    * enter an exchange. An oracle counts by text equality — identical
    * up to 2⁻⁶⁴ collisions, the bm25/minhash precedent. */
  def gopherRepetitionRules(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    // guard: sequence(0, -k) would COUNT DOWN under ANSI — short docs
    // contribute an empty gram list instead.
    // STAGED token array (the writeBm25Segment discipline): the gram
    // lambda slices the token array PER WORD POSITION — with the
    // split() inline it re-tokenized the document once per position
    // (O(words²·chars) per doc, interpreted); over a pre-projected
    // column each slice reads a bound attribute.
    def gramsOf(tk: Column, n: Int): Column =
      when(size(tk) >= n,
        transform(sequence(lit(0), size(tk) - lit(n)),
          i => array_join(slice(tk, i + 1, lit(n)), " ")))
        .otherwise(array())
    def gramStats(n: Int) = df
      .select(col(idCol).as("doc_id"), toks.as("_toks"))
      .select(col("doc_id"),
        explode(gramsOf(col("_toks"), n)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"),
        length(col("g")).cast(LongType).as("len"))
      .groupBy(col("doc_id"), col("h"), col("len"))
      .agg(count(lit(1)).as("c"))
    val lineStats = df
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("l"))
      .select(col("doc_id"), xxhash64(col("l")).as("h"),
        length(col("l")).cast(LongType).as("len"))
      .groupBy(col("doc_id"), col("h"), col("len"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_lines"),
        sum(col("c") - 1).as("dup_lines"),
        sum(col("len") * col("c")).as("line_chars"),
        sum(col("len") * (col("c") - 1)).as("dup_line_chars"))
    val top2 = gramStats(2).groupBy(col("doc_id"))
      .agg(max(col("c") * col("len")).as("top2_chars"))
    val dup5 = gramStats(5).groupBy(col("doc_id"))
      .agg(sum(col("len") * (col("c") - 1)).as("dup5_chars"))
    val base = df.select(col(idCol).as("doc_id"),
      length(array_join(toks, " ")).cast(LongType).as("norm_chars"))
    base.join(lineStats, Seq("doc_id"), "left")
      .join(top2, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("norm_chars"), col("n_lines"),
        col("dup_lines"), col("line_chars"), col("dup_line_chars"),
        coalesce(col("top2_chars"), lit(0L)).as("top2_chars"),
        coalesce(col("dup5_chars"), lit(0L)).as("dup5_chars"))
      .withColumn("dup_line_ok",
        when(lit(10) * col("dup_lines") <= lit(3) * col("n_lines"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("dup_line_char_ok",
        when(lit(5) * col("dup_line_chars") <= col("line_chars"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("top2_ok",
        when(lit(5) * col("top2_chars") <= col("norm_chars"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("dup5_ok",
        when(lit(20) * col("dup5_chars") <= lit(3) * col("norm_chars"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("keep", col("dup_line_ok") * col("dup_line_char_ok")
        * col("top2_ok") * col("dup5_ok"))
  }

  /** PII AUDIT — the measurement half of [[redactPii]]: per-document
    * counts of email / phone / IPv4 matches (the same RE2-safe
    * patterns the redactor rewrites), plus the total and a 0/1 flag.
    * Run it before redaction to size the exposure, after to verify
    * zero residue; the corpus rollup is one sum over this output.
    * Pure projection (regexp_count per pattern), scan-bounded. */
  def piiAudit(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    def cnt(p: String): Column =
      regexp_count(col(textCol), lit(p)).cast(LongType)
    df.select(col(idCol).as("doc_id"),
        cnt(email).as("n_emails"), cnt(phone).as("n_phones"),
        cnt(ipv4).as("n_ips"))
      .withColumn("n_pii",
        col("n_emails") + col("n_phones") + col("n_ips"))
      .withColumn("has_pii",
        when(col("n_pii") > 0, lit(1L)).otherwise(lit(0L)))
  }

  /** Canonical text normalization ahead of dedup/fingerprinting:
    * Unicode NFC composition first (decomposed `e`+U+0301 and
    * precomposed `é` become byte-identical — without it multilingual
    * near-dup requires byte-identical codepoints), then lowercase,
    * collapse every whitespace run to one space, trim. A narrow
    * projection — at 100 TB it rides the parquet scan; the NFC pass is
    * an allocation-free `isNormalized` scan on the (overwhelming)
    * already-composed majority. Normalizing BEFORE exact/near dedup is
    * what makes "same text modulo spacing/case/composition" collapse to
    * one digest (cf. [[Corpus.digest]]). */
  def normalizeText(c: Column): Column = {
    // active-session fallback registration, same contract as
    // DedupOps.shingles: operators holding the DataFrame register first
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.StringExprs.register)
    trim(regexp_replace(
      lower(graft.functions.StringExprs.nfcNormalize(c)), "\\s+", " "))
  }

  /** URL canonicalization (x251) — the standard web-corpus ingest
    * normalization BEFORE URL-keyed dedup: the same page arrives as
    * `HTTP://Example.COM:80/a/3/?b=2&a=1#frag` and
    * `http://example.com/a/3?a=1&b=2` across crawls, and exact dedup
    * on the raw string misses the rejoin. Rules (each one a pure
    * string op, replayable in any engine):
    *
    *  1. strip the fragment (`#...` — client-side only),
    *  2. lowercase the scheme and the authority (host names are
    *     case-insensitive; the PATH is not touched — case-significant
    *     on most servers),
    *  3. drop the default port (`:80` for http, `:443` for https;
    *     other ports kept),
    *  4. strip trailing slashes from the path (`/a/3/` == `/a/3`,
    *     root collapses to none),
    *  5. sort query parameters byte-lexicographically and drop empty
    *     ones (`?b=2&a=1` == `?a=1&b=2`); percent-encoding is NOT
    *     decoded (two encodings of one byte are rare and decoding
    *     engine-portably is not worth the ambiguity).
    *
    * Non-URLs (no scheme or no host) canonicalize to NULL — the
    * caller's filter, not an error. Narrow projection, RE2-safe
    * patterns ([[redactPii]]'s portability rule), no shuffle. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val auth = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val host = regexp_extract(auth, "^([^:]*)", 1)
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val keptPort = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_replace(
      regexp_extract(pathQ, "^([^?]*)", 1), "/+$", "")
    val qSorted = array_join(array_sort(filter(
      split(regexp_extract(pathQ, "\\?(.*)$", 1), "&"),
      p => p =!= "")), "&")
    val query = when(qSorted === "", lit(""))
      .otherwise(concat(lit("?"), qSorted))
    when(scheme === "" || host === "", lit(null).cast(StringType))
      .otherwise(concat(scheme, lit("://"), host, keptPort, path,
        query))
  }

  /** PII pattern redaction: emails, North-American phone shapes, and
    * IPv4 literals replaced by stable placeholder tokens. Patterns stay
    * in the RE2-compatible subset (no lookarounds) so the same regexes
    * run in Spark (java.util.regex) and the DuckDB oracle (RE2) — and,
    * at scale, in whatever engine sits next to this one. Narrow
    * projection, no shuffle; order matters (emails first, so their
    * digit runs are gone before the phone pass). */
  def redactPii(c: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    regexp_replace(
      regexp_replace(
        regexp_replace(c, email, "<EMAIL>"),
        phone, "<PHONE>"),
      ipv4, "<IP>")
  }

  /** Markup stripping (the extraction stage of a web-corpus pipeline):
    * drop tags, decode the common HTML entities, collapse the whitespace
    * runs the removals leave behind. RE2-safe patterns (cf.
    * [[redactPii]]); `&amp;` decodes LAST so `&amp;lt;` yields the
    * literal `&lt;` rather than double-decoding. Tag contents are NOT
    * preserved — script/style bodies survive only as their text, which
    * is the documented trade of regex-tier extraction vs a real DOM
    * parser (plug one in via mapPartitions where fidelity matters). */
  def stripMarkup(c: Column): Column = {
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(regexp_replace(c, "<[^>]+>", " ")) {
        case (acc, (ent, ch)) => regexp_replace(acc, ent, ch)
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Intra-document repetition ratio (Gopher-style quality signal):
    * 1 − |distinct n-grams| / |n-grams|. 0 for documents shorter than n
    * tokens (no n-grams → nothing repeated). High values flag
    * boilerplate/spam documents that repeat the same phrases. One narrow
    * pass: the distinct count reuses the native shingle expression, the
    * total is arithmetic on the token count. */
  def repetitionRatio(c: Column, n: Int): Column = {
    // active-session fallback registration, same contract as
    // DedupOps.shingles: operators holding the DataFrame register first
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.TextHashExprs.register)
    val total = greatest(tokenCount(c) - lit(n - 1), lit(0L))
    val distinctN =
      size(graft.functions.TextHashExprs.shingleHashes(c, n)).cast(LongType)
    round(coalesce(
      lit(1.0) - try_divide(distinctN.cast(DoubleType),
        total.cast(DoubleType)),
      lit(0.0)), 6)
  }

  /** Best-matching PASSAGE per document: the `window`-token span with
    * the most query-term hits (ties → the EARLIEST span) — the
    * snippet/highlight stage a retrieval result page ends with, and
    * the passage-selection step of a RAG pipeline (retrieve documents,
    * quote the span that actually matches). Matching is lowercase
    * whole-token, the [[bm25TopK]] tokenization, so passages agree
    * with what the retriever scored.
    *
    * Output, one row per document with ≥ 1 hit: (doc_id, best_start,
    * n_matched, passage) — best_start the 0-based token offset,
    * passage the space-joined window (truncated at the document's
    * end). Deterministic: exact integer hit counts, a total
    * (count DESC, start ASC) argmax, no floats anywhere.
    *
    * Scale shape: one narrow posexplode projection, one sliding
    * integer sum over a per-document window (hash-partitioned by
    * doc_id — thousands of tokens per group, never a single-partition
    * window), one max-of-struct argmax, one join back for the slice.
    * Query terms ride as a literal IN list; text shuffles once, as
    * (doc_id, token-array) rows for the final slice. */
  def bestPassage(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], window: Int = 10): DataFrame = {
    require(window >= 1, s"window must be >= 1 (got $window)")
    require(queryTerms.nonEmpty, "bestPassage: queryTerms is empty")
    val qset = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT))
      .distinct
    val base = df.select(col(idCol).as("doc_id"),
      tokens(lower(col(textCol))).as("_toks"))
    val pos = base
      .select(col("doc_id"),
        posexplode(col("_toks")).as(Seq("_pos", "_tok")))
      .select(col("doc_id"), col("_pos"),
        when(col("_tok").isin(qset: _*), 1L).otherwise(0L).as("_m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("_pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        window - 1)
    val best = pos.withColumn("_nm", sum(col("_m")).over(w))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("_nm"), (-col("_pos")).as("_np"))).as("_b"))
      .select(col("doc_id"),
        (-col("_b").getField("_np")).cast(LongType).as("best_start"),
        col("_b").getField("_nm").as("n_matched"))
      .filter(col("n_matched") > 0L)
    best.join(base, Seq("doc_id"))
      .select(col("doc_id"), col("best_start"), col("n_matched"),
        concat_ws(" ", slice(col("_toks"),
          (col("best_start") + 1L).cast(IntegerType), lit(window)))
          .as("passage"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's
    * distinct n-gram shingles that occur in NO other document — the
    * memorization-risk / boilerplate-saturation score. A document of
    * novelty 1.0 is all-original text; near 0.0 it is assembled
    * entirely from corpus-shared n-grams (template pages, licence
    * boilerplate, syndicated copy) — the complement of what
    * [[graft.ext.Corpus.commonNgrams]] measures corpus-wide, resolved
    * to a per-document signal a curation filter can threshold on.
    *
    * Output, one row per document with >= n tokens (shorter documents
    * carry no shingles and no score — [[DedupOps.ngramJaccardPairs]]'
    * domain): (doc_id, n_shingles, n_unique, novelty) with
    * novelty = n_unique / n_shingles rounded to 6.
    *
    * Shape: the inverted-index discipline — per-document DISTINCT
    * shingle hashes (native [[graft.functions.TextHashExprs]]
    * expression, so per-doc distinctness makes count = document
    * frequency), one partial+final count per shingle, one equi-join
    * back (each exploded row meets exactly ONE df row — a hot
    * boilerplate shingle fans out nothing), one per-doc aggregate.
    * Text never shuffles; every shuffled row is (hash, id) or
    * (hash, count). Novelty-by-hash equals novelty-by-string modulo
    * 64-bit collisions, the x02 concession. */
  def shingleNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    graft.functions.TextHashExprs.register(df.sparkSession)
    val ex = df.select(col(idCol).as("doc_id"),
        graft.functions.TextHashExprs.shingleHashes(col(textCol), n)
          .as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("s"))
      .groupBy(col("doc_id"), col("sz"))
      .agg(sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("sz").cast(LongType).as("n_shingles"),
        col("n_unique"),
        round(col("n_unique").cast(DoubleType) /
          col("sz").cast(DoubleType), 6).as("novelty"))
  }

  /** Rolling polynomial fingerprint over whitespace tokens, mod 2^31-1.
    * Per-token hash uses only SQL-expressible primitives (first/last char
    * code points + length) so a DuckDB oracle can replay it exactly; the
    * fold is `aggregate` (sequential left fold — deterministic). Products
    * stay below 2^36, so the int64 arithmetic never overflows in either
    * engine. */
  def fingerprint(c: Column): Column = {
    val p = lit(2147483647L) // 2^31 - 1
    val toks = tokens(c)
    aggregate(
      transform(toks, t =>
        (ascii(t) * lit(131L) + length(t).cast(LongType) * lit(137L) +
          ascii(right(t, lit(1))) * lit(139L)) % p),
      lit(0L),
      (acc, x) => (acc * lit(31L) + x) % p)
  }

  /** Exact corpus heavy hitters (terms with frequency > N/k) via
    * Misra-Gries pruning: one pass computes N and the ≤ k sketch
    * candidates ([[graft.functions.FreqAgg.MisraGries]] — its survival
    * guarantee makes the candidate set a SUPERSET of every > N/k term),
    * then only the candidates are re-counted exactly over the term
    * stream. The full-vocabulary aggregation never materializes: at
    * corpus scale that is the difference between shuffling |vocab|
    * (billions of n-grams) and shuffling k counters per partition.
    * Output is exact — the sketch's merge-order-dependent counters are
    * used only to prune, never emitted — so a plain GROUP BY/HAVING
    * oracle hash-matches. Threshold compares as `count·k > N` in exact
    * integer arithmetic (no division).
    *
    * Eager statistic job: N and the sketch run AT CALL TIME (same
    * contract as [[ngramJaccardPairs]]) — the returned plan snapshots
    * them, so build this after the input is settled, not over a frame
    * that late-arriving data will change. */
  def heavyTerms(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    graft.functions.FreqAgg.register(df.sparkSession)
    val terms = df.select(explode(tokens(lower(col(textCol)))).as("term"))
      .filter(length(col("term")) >= 1)
    val head = terms.agg(count(lit(1)),
      graft.functions.FreqAgg.misraGries(col("term"), k)).head()
    val n = head.getLong(0)
    val cand = head.getSeq[String](1)
    if (cand.isEmpty)
      return terms.limit(0).withColumn("term_count", lit(0L))
    terms.filter(col("term").isin(cand: _*))
      .groupBy("term").agg(count(lit(1)).as("term_count"))
      .filter(col("term_count") * lit(k.toLong) > lit(n))
  }

  /** Per-document top-k distinctive terms by rational tf-idf:
    * `score = tf · N / df_t` (term frequency × corpus size / document
    * frequency) — the linear-idf variant chosen deliberately over
    * `tf · ln(N/df)`: the score is ONE integer product (< 2⁵³, exact)
    * and ONE IEEE division, both correctly rounded identically in every
    * engine, so ranking and the rounded score are bit-stable across
    * engines — a log idf diverges in the last ulp between libm
    * implementations and can flip near-tied ranks (see SCALE.md's exact-
    * IEEE tier). Ranking order is total and engine-independent:
    * score DESC, then term ASC (terms are unique per doc).
    *
    * Scale shape: explode → two hash aggregations (tf by (doc, term),
    * df by term) → shuffle join on term → per-doc top-k window. The join
    * carries (term, counts) tuples only; `N` is one scalar count action.
    * Terms are lowercased whitespace tokens; empty tokens drop.
    *
    * Eager statistic job: `N` is counted AT CALL TIME (same contract as
    * [[ngramJaccardPairs]] / [[heavyTerms]]) — the returned plan
    * snapshots it, so build this after the input is settled, not over a
    * frame that late-arriving data will change. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val n = df.count()
    val terms = df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .filter(length(col("term")) >= 1)
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, term): counting them per term IS df
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val scored = tf.join(dft, Seq("term"))
      .withColumn("score",
        round((col("tf") * lit(n)).cast(DoubleType) /
          col("df_t").cast(DoubleType), 6))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df_t"),
        col("score"), col("rank").cast(LongType).as("rank"))
  }

  /** Corpus bigram language-model statistics: the top-k (w1, w2) pairs by
    * count, with the conditional probability P(w2|w1) = c(w1 w2)/c(w1 ·) —
    * the classic n-gram LM estimation step (and the input to pointwise
    * mutual information / collocation mining).
    *
    * Shapes for scale: bigrams come from a narrow zip of two slices (no
    * index join), counts are ONE hash agg with map-side combine, the
    * denominator is a window over the w1 partition (parallelism =
    * vocabulary, no second shuffle of the raw pairs), and the top-k is
    * TakeOrdered (per-partition heaps), never a global sort. Counts are
    * integers; the probability is one IEEE division — engine-exact. */
  def bigramStats(df: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val toks = tokens(col(textCol))
    val pairs = df
      .select(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2"))).as("bg"))
      .select(explode(col("bg")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    counts
      .withColumn("c1", sum(col("c12")).over(byW1))
      .withColumn("p", round(col("c12").cast(DoubleType) /
        col("c1").cast(DoubleType), 6))
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Top-k PMI collocations — the multiword-expression miner (Church &
    * Hanks 1990 pointwise mutual information over adjacent-token
    * pairs): PMI(w1, w2) = ln(c12·T / (c1·c2)) where c1/c2 are the
    * pair's left/right margin counts over the bigram table and T the
    * total bigram count. High-PMI pairs co-occur far above chance —
    * named entities, idioms, domain terms — the vocabulary-design
    * complement to [[bigramStats]]' raw frequencies (frequency finds
    * "of the"; PMI finds "San Francisco").
    *
    * Engine-exact float discipline (the dsirWeights convention): each
    * ln is taken of an exact integer count, floored to integer
    * MILLI-NATS independently, and PMI is the SUM of four such
    * integers — no cross-engine libm drift can survive the floor, and
    * the top-k order is an integer sort. `minCount` drops
    * singleton-pair noise (PMI's classic failure mode: c12 = 1 pairs
    * of rare tokens score highest). Ties break (w1, w2) — a total
    * order, so the limit is deterministic.
    *
    * Scale shape: tokenize once, ONE (w1, w2) count aggregate
    * (vocabulary²-bounded, corpus-independent), margins as windows
    * OVER THAT TABLE partitioned by w1/w2 (never the corpus), T
    * in-plan as the provably-1-row broadcast aggregate cross join (the
    * x69 shape), and a TakeOrdered k. */
  def pmiCollocations(df: DataFrame, textCol: String, k: Int = 30,
      minCount: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(minCount >= 1L, s"minCount must be >= 1 (got $minCount)")
    val toks = tokens(col(textCol))
    val pairs = df
      .select(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2"))).as("bg"))
      .select(explode(col("bg")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    val byW2 = org.apache.spark.sql.expressions.Window.partitionBy("w2")
    def lnMilli(c: Column): Column =
      floor(round(log(c.cast(DoubleType)) * 1000.0, 6)).cast(LongType)
    counts
      .withColumn("c1", sum(col("c12")).over(byW1))
      .withColumn("c2", sum(col("c12")).over(byW2))
      .filter(col("c12") >= minCount)
      .crossJoin(broadcast(counts.agg(sum("c12").as("t"))))
      .withColumn("pmi_milli",
        lnMilli(col("c12")) + lnMilli(col("t")) -
          lnMilli(col("c1")) - lnMilli(col("c2")))
      .orderBy(col("pmi_milli").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select("w1", "w2", "c12", "c1", "c2", "pmi_milli")
  }

  /** Corpus-self bigram-LM document scoring — the perplexity-proxy
    * quality signal: train add-one-smoothed bigram probabilities on the
    * corpus itself ([[bigramStats]]' counting machinery), then score
    * every document by the mean log-probability of its own bigrams.
    * Fluent, corpus-typical text scores high; rare/garbled token
    * sequences score low — the distributional complement to
    * [[qualityScore]]'s surface signals and [[charEntropy]]'s
    * character view.
    *
    * score(d) = avg over d's bigrams of ln((c12 + 1) / (c1 + V)),
    * where c12/c1 are corpus bigram/continuation counts and V the
    * distinct-w1 vocabulary size.
    *
    * Scale shape: the corpus is TOKENIZED ONCE — the LM counts and the
    * per-doc scoring both derive from a single per-doc
    * `(doc_id, w1, w2, cnt)` aggregate (the x66 vocabCoverage rule:
    * shared subtrees dedupe into a ReusedExchange, asserted in
    * ExtSpec). Counts are integers, so engine-exact; the per-doc
    * re-agg weights each distinct bigram by its multiplicity, and a
    * row per (doc, distinct bigram) crosses the join, not per token.
    * V rides IN-PLAN as a single-row broadcast aggregate cross-joined
    * onto the scored rows — fully lazy, so the whole pipeline executes
    * ONCE per action. (An eager `.head()` scalar — the round-6 shape —
    * re-planned and re-executed the tokenize→bigram aggregate as a
    * separate action: shuffle reuse does not cross actions, a
    * measured 2× on the op's batch cost. The resulting
    * BroadcastNestedLoopJoin is against a PROVABLY 1-row build side —
    * a per-row constant lookup, the same documented shape as x05's
    * broadcast query set; whitelisted in PlanAuditSpec.) Docs with
    * fewer than 2 tokens emit no row (they have no bigrams to score —
    * mirrored by the oracle). Float discipline: the only non-integer
    * steps are one exact IEEE division, `ln`, and the
    * multiplicity-weighted mean, rounded to 6 (the oracle aggregates
    * with the identical weighted formula). The weighted mean sums
    * doubles in partial-aggregation visit order while the oracle sums
    * in its own scan order — an ACCEPTED unordered-FP gate (like the
    * repo's other unordered-sum gates): a flake needs the true mean
    * within ~1 ulp-accumulated error (≈1e-13 relative) of a 5e-7
    * rounding boundary. */
  def lmDocScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = tokens(col(textCol))
    val docCounts = df
      .select(col(idCol).as("doc_id"),
        zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2"))).as("bg"))
      .select(col("doc_id"), explode(col("bg")).as("b"))
      // explicit null guard so every consumer (counts, uni, the join)
      // sees the IDENTICAL canonical subtree: without it the joins
      // infer different isnotnull filters per branch and the exchange
      // stops being reusable (tokens are never null; this filters
      // nothing)
      .filter(col("b.w1").isNotNull && col("b.w2").isNotNull)
      .groupBy(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    val counts = docCounts.groupBy("w1", "w2")
      .agg(sum(col("cnt")).as("c12"))
    val uni = counts.groupBy("w1").agg(sum(col("c12")).as("c1"))
    // vocabulary size (distinct bigram heads) as a LAZY single-row
    // aggregate: broadcast-cross-joined in-plan so the shared
    // tokenize→bigram subtree executes once per action, not once per
    // statistic. V = |uni| (one row per distinct w1); the c1 >= 0 guard
    // is always true — referencing c1 keeps this branch's column-pruned
    // subtree CANONICALLY IDENTICAL to the main uni subtree, which is
    // what lets the physical planner dedupe the exchange (the x66 rule:
    // a pruned-away column silently breaks ReusedExchange)
    val vocab = uni.agg(count(when(col("c1") >= 0, 1)).as("_v"))
    docCounts
      .join(counts, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("_lp", log(
        (col("c12") + lit(1)).cast(DoubleType) /
          (col("c1") + col("_v")).cast(DoubleType)))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt").cast(DoubleType) * col("_lp")) /
          sum(col("cnt")).cast(DoubleType), 6).as("avg_logp"))
  }

  /** Vocabulary coverage: build the corpus top-`vocabSize` term list and
    * score every document's out-of-vocabulary rate against it — the
    * "will this tokenizer vocabulary cover this corpus" diagnostic run
    * before committing to a vocab.
    *
    * Scale shape: the corpus is TOKENIZED ONCE — both the vocab and the
    * per-doc score derive from a single `(doc_id, term, count)`
    * aggregate, whose shuffle both subtrees share (the physical planner
    * dedupes the identical Exchange into a ReusedExchange, asserted in
    * ExtSpec — one executed Generate, one tokenization scan). The vocab
    * is a re-agg of it + TakeOrdered (k terms on the driver side of the
    * plan, broadcast back); the per-doc score re-aggregates it by
    * doc_id, so the second shuffle carries one row per document, not
    * per token. All-lazy single plan (no eager statistic job): the
    * vocab subtree rides inside the broadcast. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1 (got $vocabSize)")
    val termCounts = df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("_tc"))
    val vocab = termCounts.groupBy("term").agg(sum(col("_tc")).as("_c"))
      .orderBy(col("_c").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(1).as("_in_vocab"))
    termCounts.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum(col("_tc")).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, col("_tc")).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6))
  }

  /** Per-document character-unigram Shannon entropy (bits/char) — the
    * cheap perplexity proxy that separates natural text from repetitive
    * or degenerate content (complements [[repetitionRatio]]'s n-gram
    * view with a distributional one).
    *
    * Scale shape: entropy is a per-row quantity, so it is computed by
    * the native [[graft.functions.StringExprs.CharEntropyStats]]
    * expression in ONE pass inside the scan projection — zero shuffles.
    * (The builtin-only formulation — explode chars, two grouped
    * aggregations — shuffles a (doc, char) cell per distinct char of
    * every document: corpus-proportional shuffle for a scan-computable
    * value. Measured 3× slower at sf0.1 before the rewrite.) Documents
    * with no characters produce no row (mirrored by the oracle's
    * length > 0 guard). */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.StringExprs.register(df.sparkSession)
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        graft.functions.StringExprs.charEntropyStats(col(textCol))
          .as("_st"))
      .select(col("doc_id"),
        round(col("_st.entropy"), 6).as("entropy"),
        col("_st.n_distinct").as("n_distinct_chars"))
  }

  /** Term-distribution drift between two corpus snapshots — the
    * monitoring op that catches a crawl/source shift before it trains
    * in: for every term in the union vocabulary, the add-one-smoothed
    * odds ratio between snapshots, reported as the top-`topN` movers.
    *
    * `drift(t) = max(r, r⁻¹)` with
    * `r = ((c_a+1)·(N_b+V)) / ((c_b+1)·(N_a+V))` — the RATIONAL form
    * deliberately (the x40 rule): no log-odds ln(), which can drift in
    * the last ulp between libm implementations and flip near-tied
    * ranks. Each factor converts to double BEFORE the multiply (long→
    * double conversion and the multiply are each one correctly-rounded
    * IEEE op, identical in every engine) — the all-integer product
    * would overflow 2⁶³ once N reaches corpus-total token counts
    * (~10¹⁰ tokens × counts), where engines disagree on wrap-vs-throw;
    * three correctly-rounded ops per side are engine-exact at EVERY
    * scale. Symmetric, ≥ 1; a term present only in one snapshot gets
    * the maximal ratio for its count.
    *
    * Scale shape: one tokenize+count aggregate per snapshot (shuffles
    * carry (term, count)), a full-outer merge on term, and the totals
    * (N_a, N_b, V) folded in-plan as a broadcast 1-row aggregate over
    * the SAME joined subtree (the x69 rule — no eager scalar, no
    * second tokenize; the `length(term) >= 0` guard keeps the totals
    * branch's pruned subtree canonically identical so the exchanges
    * dedupe). Final order is a TakeOrdered of the top `topN` by
    * (drift DESC, term ASC) — a total, engine-independent order. */
  def termDrift(a: DataFrame, b: DataFrame, textCol: String,
      minCount: Long, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1 (got $topN)")
    def termCounts(df: DataFrame, cname: String) =
      df.select(explode(tokens(lower(col(textCol)))).as("term"))
        .filter(length(col("term")) >= 1)
        .groupBy("term").agg(count(lit(1)).as(cname))
    val j = termCounts(a, "_ca")
      .join(termCounts(b, "_cb"), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("_ca"), lit(0L)).as("cnt_a"),
        coalesce(col("_cb"), lit(0L)).as("cnt_b"))
    driftRank(j, minCount, topN)
  }

  /** Shared drift scorer over a (term, cnt_a, cnt_b) frame — the tail
    * of [[termDrift]] and [[bm25AppendDrift]] (one definition, so a
    * smoothing tweak cannot desynchronize the two gates). */
  private def driftRank(j: DataFrame, minCount: Long, topN: Int)
      : DataFrame = {
    // totals as a LAZY 1-row broadcast: V = |union vocab| = rows of j;
    // the always-true term guard keeps this branch column-identical to
    // the main branch (a pruned-away column silently breaks exchange
    // reuse — the x66/x69 lesson)
    val tot = j.agg(sum(col("cnt_a")).as("_na"), sum(col("cnt_b")).as("_nb"),
      count(when(length(col("term")) >= 0, 1)).as("_v"))
    // per-factor double conversion: overflow-proof at any corpus size
    // (an integer product of count x total-token-count exceeds 2^63 at
    // ~10 TB of text; each conversion + multiply is one correctly-
    // rounded IEEE op, mirrored exactly by the oracle)
    val rAB = ((col("cnt_a") + 1).cast(DoubleType) *
      (col("_nb") + col("_v")).cast(DoubleType)) /
      ((col("cnt_b") + 1).cast(DoubleType) *
        (col("_na") + col("_v")).cast(DoubleType))
    val rBA = ((col("cnt_b") + 1).cast(DoubleType) *
      (col("_na") + col("_v")).cast(DoubleType)) /
      ((col("cnt_a") + 1).cast(DoubleType) *
        (col("_nb") + col("_v")).cast(DoubleType))
    j.crossJoin(broadcast(tot))
      .filter(col("cnt_a") + col("cnt_b") >= minCount)
      .withColumn("_drift", greatest(rAB, rBA))
      .orderBy(col("_drift").desc, col("term").asc)
      .limit(topN)
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        round(col("_drift"), 6).as("drift"))
  }

  /** Pre-ingest drift gate for a persisted [[saveBm25Index]] index:
    * [[termDrift]]'s smoothed likelihood-ratio, but on DOC frequency,
    * with the index side read straight from the additive `termstats`
    * segments — no re-tokenization of the indexed corpus, cost ∝
    * vocabulary + batch (the monitoring dividend of the segment
    * design; the IVF-side analogue is [[Similarity.ivfCellStats]]).
    * Answers "does this batch shift the term distribution?" BEFORE
    * [[appendToBm25Index]] commits it. Gated x106 against a full
    * re-tokenization oracle of both document sets. */
  def bm25AppendDrift(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 3, topN: Int = 30): DataFrame = {
    require(topN >= 1, s"topN must be >= 1 (got $topN)")
    val snap = Segments.snapshot(spark, path)
    val idx = Segments.scan(spark, path, snap, "termstats")
      .filter(length(col("term")) >= 1)
      .groupBy("term").agg(sum(col("df_t")).as("_ca"))
    val batch = newDocs
      .select(explode(array_distinct(
        tokens(lower(col(textCol))))).as("term"))
      .filter(length(col("term")) >= 1)
      .groupBy("term").agg(count(lit(1)).as("_cb"))
    val j = idx.join(batch, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("_ca"), lit(0L)).as("cnt_a"),
        coalesce(col("_cb"), lit(0L)).as("cnt_b"))
    driftRank(j, minCount, topN)
  }

  /** BM25 ranked retrieval (Robertson & Zaragoza 2009, eq. 3.15) — the
    * lexical retriever that completes the hybrid-search pair with the
    * vector side ([[Similarity.bruteForceTopK]]/ivf; fuse the two lists
    * with [[Similarity.rrfFuse]]): the `k` highest-scoring documents
    * for a bag of query terms,
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * idf is the RATIONAL variant `(N − df + 0.5)/(df + 0.5)` — the
    * ln(·) of the classic form deliberately dropped, same reasoning as
    * [[tfidfTopTerms]]'s linear idf: every remaining step is integer
    * arithmetic (< 2⁵³, exact) or one correctly-rounded IEEE op, so
    * scores are bit-identical in every engine, while the ranking it
    * induces is the same monotone-in-df order. dl/avgdl is computed as
    * the exact integer product `dl·N` over the total token count (one
    * division instead of two — one rounding, identical both engines).
    *
    * Scale shape: the full vocabulary is NEVER aggregated — the query-
    * term `isin` pushes all the way to the scan under the explode, so
    * the tf pipeline only materializes and shuffles rows for the ≤|q|
    * query terms (a corpus-wide (doc, term) aggregate, the obvious
    * build, shuffles every token of 100 TB to answer a 3-term query).
    * The document's raw token count rides THROUGH that aggregate as a
    * grouping key (functionally determined by doc_id), and df_t is a
    * window count over the term partition of the already-tiny tf rows —
    * no self-join, no second tokenize. Corpus stats (N, total token
    * count) derive from the SAME per-doc aggregate as the tf rows —
    * the corpus is tokenized ONCE (x66/x69 ReusedExchange discipline,
    * plan-asserted in ExtSpec): `explode_outer` keeps every document in
    * the shared aggregate (a doc with no query terms contributes one
    * sentinel row — `''` can never be a whitespace token matching a
    * non-empty query term), the no-match docs are dropped AFTER the
    * per-doc aggregation by a having-filter on an aggregated column
    * (non-pushable, so it cannot sink into the shared subtree and break
    * exchange reuse — the null-filter-inference gotcha), and the stats
    * branch references `tf` through an always-true guard so column
    * pruning leaves both branches' exchange subtrees canonically
    * identical. Stats ride in-plan as a lazy 1-row broadcast aggregate
    * (the x69 shape — its BroadcastNestedLoopJoin is a per-row constant
    * lookup, whitelisted in PlanAuditSpec). Per-term scores quantize to
    * DECIMAL(20,9) via the native [[graft.functions.DecimalExprs]]
    * expression and sum EXACTLY, so the per-doc total is independent of
    * partial-aggregation order — no unordered-FP flake window. The
    * final top-k is orderBy+limit (TakeOrdered per-partition heaps,
    * never a single-task global window), total-ordered by
    * (score DESC, doc_id ASC). Document length is the RAW whitespace
    * token count ([[tokenCount]] semantics); N counts every corpus doc. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(_.nonEmpty),
      "queryTerms must be non-empty strings (the empty string is the " +
        "no-match sentinel)")
    // Locale.ROOT: the corpus side lowercases with Spark's locale-
    // insensitive lower(); a default-locale toLowerCase would break
    // the match under e.g. a Turkish JVM locale (I -> dotless ı)
    val qset = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT))
    val toks = tokens(lower(col(textCol)))
    // the ONE tokenize: per-doc (doc_id, dl, term, tf) over query terms
    // only, with every doc retained — a no-match doc carries one ''
    // sentinel row (explode_outer of its empty filtered array).
    // STAGED token array (the x02 shingle discipline): size() and the
    // generator must consume a pre-projected column — referencing the
    // split() inline put the dl projection ABOVE the Generate, where it
    // re-tokenized the document once per EMITTED row (measured 17x on
    // the index build's identical shape).
    val base = df.select(col(idCol).as("doc_id"), toks.as("_toks"))
      .select(col("doc_id"),
        size(col("_toks")).cast(LongType).as("dl"),
        explode_outer(filter(col("_toks"), t => t.isin(qset: _*)))
          .as("_t0"))
      .select(col("doc_id"), col("dl"),
        coalesce(col("_t0"), lit("")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    // corpus stats off the SAME aggregate: one row per doc (the ''
    // sentinel guarantees no-match docs appear), then a 1-row global
    // fold. The tf >= 1 guard is always true — referencing tf keeps
    // this branch's pruned subtree canonically identical to the tf
    // branch's, which is what lets the planner dedupe the exchange.
    val stats = base.groupBy("doc_id", "dl")
      .agg(count(when(col("tf") >= 1, 1)).as("_t"))
      .agg(count(when(col("_t") >= 0, 1)).as("_n"),
        sum(col("dl")).as("_len"))
    val tfq = base.withColumn("df_t", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
    val idf = (col("_n") - col("df_t") + lit(0.5)) /
      (col("df_t") + lit(0.5))
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) *
      ((col("dl") * col("_n")).cast(DoubleType) /
        col("_len").cast(DoubleType)))
    val tscore = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + norm)
    // sentinel rows score NULL (guarded out of both aggregates); docs
    // with NO real query term drop at the HAVING — an aggregate-output
    // predicate Catalyst cannot push below the shared exchange
    val real = col("term") =!= lit("")
    tfq.crossJoin(broadcast(stats))
      .withColumn("_s",
        when(real, graft.ops.Metrics.decQuantize(tscore, 9)))
      .groupBy("doc_id")
      .agg(count(when(real, 1)).as("n_terms"),
        round(sum(col("_s")).cast(DoubleType), 6).as("score"))
      .filter(col("n_terms") >= 1)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** [[bm25TopK]] as a retriever result list — (query_id, rank,
    * vec_id), the schema [[Similarity.rrfFuseN]] fuses: the lexical
    * side of hybrid search. `queryId` labels which query this term bag
    * answers; rank is the BM25 order (score DESC, doc_id ASC) as a
    * per-query window over the k-row list (never a global sort). */
  def bm25RankedList(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, queryId: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    bm25TopK(df, idCol, textCol, queryTerms, k)
      .withColumn("query_id", lit(queryId))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("query_id"), col("rank"), col("doc_id").as("vec_id"))
  }

  /** Persist a BM25 postings index — the build-vs-serve split
    * [[bm25TopK]] deliberately skips (it tokenizes the corpus per call,
    * the right shape for a one-shot gate, the wrong one for a serving
    * path: at 100 TB every query would re-read every document). Three
    * SEGMENTED parquet tables under `path`, tied together by a
    * versioned manifest ([[graft.sinks.IndexManifest]] — the commit
    * point every reader resolves ONCE, so appends and compactions can
    * land mid-query without mixing snapshots):
    *
    *  - `path/postings/<seg>/`: (term, doc_id, tf, dl) — one row per
    *    distinct (doc, term), REPARTITIONED BY term and sorted on it
    *    within partitions, so a `term IN (...)` serve filter prunes by
    *    parquet row-group min/max stats and reads ~|q| terms' postings,
    *    not the corpus. This file layout IS the inverted file (the
    *    [[graft.ext.Similarity.saveIvfIndex]] analogue for text).
    *  - `path/termstats/<seg>/`: (term, df_t) ADDITIVE deltas — each
    *    segment carries its own documents' df contribution; serve sums
    *    across segments. Same term-pruned layout.
    *  - `path/stats/<seg>/`: one additive row (n_docs, total_len) per
    *    segment — the corpus constants N and Σdl as segment sums.
    *
    * The additive-segment design is what makes
    * [[appendToBm25Index]]'s cost ∝ THE BATCH: an append writes only
    * its own three segments and a manifest — it never reads, merges,
    * or rewrites the indexed vocabulary (the LSM/Lucene-segment shape;
    * pre-existing segment files are byte-identical across an append,
    * pinned in Bm25IndexSpec).
    *
    * Determinism: tokenization, dl ([[tokenCount]] raw whitespace
    * count), and every statistic match [[bm25TopK]]'s exactly, so
    * build → serve reproduces the per-call scores bit-for-bit (gated
    * x89 replays x80's oracle from the index; BM25IndexSpec pins the
    * equality). */
  def saveBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = df.sparkSession
    Segments.drop(spark, path) // overwrite semantics
    writeBm25Segment(df, idCol, textCol, path, "base")
    Segments.create(spark, path, Bm25Tables.map(t => t -> Seq("base")).toMap)
  }

  private val Bm25Tables = Seq("postings", "termstats", "stats")

  /** Batches at or under this row count take the single-partition
    * segment build (see [[appendToBm25Index]]'s `knownRows`): well
    * under one parquet row group of postings, so the shuffle the
    * normal path pays buys nothing. */
  val TinyAppendRows = 65536L

  /** Write one (postings, termstats, stats) segment triple for `df`'s
    * documents — shared by the base build and every append. Overwrite
    * mode so a crashed attempt's orphan (never referenced by a
    * manifest, hence invisible) is simply re-landed by the retry.
    * The input is tokenized ONCE into the persisted `base`; all three
    * tables derive from it (statistics via Σ tf and distinct doc_id —
    * never a second tokenize pass), and the three writes run
    * CONCURRENTLY: block-level cache locking makes the racing jobs
    * compute each base partition once, and the wall cost of an append
    * batch drops from the sum of three tiny jobs to their max. */
  private def writeBm25Segment(df: DataFrame, idCol: String,
      textCol: String, path: String, seg: String,
      tiny: Boolean = false): Unit = {
    val toks = tokens(lower(col(textCol)))
    // TINY batches (a streaming micro-batch, a small manual append)
    // must not inherit the session's shuffle fan-out: a 32-way
    // repartition of a few hundred documents is pure task-scheduling
    // overhead, and the segment lands as one row group regardless —
    // term-range pruning cannot subdivide it. Collapse the whole build
    // to one partition up front; every downstream agg/sort then runs
    // single-task (AQE coalesces the agg exchanges to match).
    val in = if (tiny) df.coalesce(1) else df
    // STAGED token array (the x02 shingle discipline): computing
    // size(toks) inline beside explode(toks) lands the dl projection
    // ABOVE the Generate, where the split re-tokenizes the document
    // once per EMITTED token row — measured 17x slower on this exact
    // shape (5.7s -> 0.33s over sf0.1's documents).
    val base = in
      .select(col(idCol).cast(LongType).as("doc_id"), toks.as("_toks"))
      .select(col("doc_id"),
        size(col("_toks")).cast(LongType).as("dl"),
        explode(col("_toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Concurrently.all(Seq(
        () => {
          (if (tiny) base.coalesce(1) else base.repartition(col("term")))
            .sortWithinPartitions("term", "doc_id")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$path/postings/$seg")
        },
        // df_t from the postings rows — one pass, no second tokenize
        () => {
          val ts = base.groupBy("term").agg(count(lit(1)).as("df_t"))
          (if (tiny) ts.coalesce(1) else ts.repartition(col("term")))
            .sortWithinPartitions("term")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$path/termstats/$seg")
        },
        // Σ tf over a doc's rows IS its dl (every token lands in
        // exactly one (term, doc) group), so total_len = sum(tf) and
        // n_docs = countDistinct(doc_id) — bit-identical to
        // aggregating tokenCount over the raw text
        // (tokenCount == size(tokens)).
        () => {
          base.agg(countDistinct(col("doc_id")).as("n_docs"),
              coalesce(sum(col("tf")), lit(0L)).as("total_len"))
            .coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$path/stats/$seg")
        }))
    } finally base.unpersist(blocking = false)
  }

  /** The index's current manifest version — the handle [[queryBm25Index]]'s
    * `asOfVersion` time travel pins to. */
  def bm25IndexVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** Serve a BM25 top-k from a persisted [[saveBm25Index]] index: the
    * scan reads ONLY the query terms' postings (term `isin` pushed to
    * the parquet reader, pruned by the build's term-sorted row groups)
    * plus the 1-row stats — per-query cost scales with the query's
    * posting lists, never the corpus. Scoring is [[bm25TopK]]'s
    * verbatim: rational idf, DECIMAL(20,9)-exact per-doc sums, k1/b
    * norm on raw-token dl, (score DESC, doc_id ASC) TakeOrdered. */
  def queryBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      asOfVersion: Option[Long] = None): DataFrame =
    queryBm25IndexImpl(spark, path, queryTerms, k, k1, b, asOfVersion,
      None)

  /** FILTERED BM25 — top-k among only the docs in `allowedDocs` (the
    * id side of a metadata predicate on the caller's document table):
    * the lexical half of filtered retrieval
    * ([[graft.ext.Similarity.queryIvfIndexFiltered]] is the vector
    * half). Lucene filter-query semantics: the restriction applies to
    * the CANDIDATE set only — idf, N, and avgdl stay the full
    * corpus's, so a document's score is identical inside and outside
    * any filter (scores are properties of the corpus, filters choose
    * candidates; re-deriving statistics per filter would make the
    * same doc score differently per query). Pre-filter shape: the
    * semi-join restricts the already-term-pruned postings rows before
    * scoring, so every query yields k surviving docs whenever the
    * filter holds that many matches. */
  def queryBm25IndexFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], k: Int,
      allowedDocs: DataFrame, idCol: String, k1: Double = 1.2,
      b: Double = 0.75, asOfVersion: Option[Long] = None): DataFrame =
    queryBm25IndexImpl(spark, path, queryTerms, k, k1, b, asOfVersion,
      Some(allowedDocs.select(col(idCol).cast(LongType).as("doc_id"))
        .distinct()))

  /** PAGINATED BM25 — the page strictly AFTER a (score, doc_id)
    * cursor in the serve's total order (score DESC, doc_id ASC): the
    * search_after shape. Deep pagination via OFFSET forces every page
    * to rank offset+k rows; the cursor filter instead drops the
    * already-returned prefix BEFORE the top-k heap, so page N costs
    * the same as page 1 at any depth. Page boundaries are exact
    * because scores are engine-stable (DECIMAL-summed, rounded to 6):
    * the cursor comparison is on the very doubles the previous page
    * returned. Cursor = the LAST row of the previous page; pages
    * tile the full ranking with no gaps or overlaps (gated x136
    * against the rank-windowed oracle). */
  def queryBm25IndexAfter(spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], k: Int,
      afterScore: Double, afterDocId: Long, k1: Double = 1.2,
      b: Double = 0.75, asOfVersion: Option[Long] = None): DataFrame =
    queryBm25IndexImpl(spark, path, queryTerms, k, k1, b, asOfVersion,
      None, Some((afterScore, afterDocId)))

  /** Pseudo-relevance-feedback query EXPANSION (the RM3/Rocchio
    * positive-feedback shape, Lavrenko & Croft 2001): serve the
    * original terms, assume the top `feedbackDocs` results are
    * relevant, mine the `expandTerms` terms most characteristic of
    * them, and re-serve with the widened term set — the vocabulary-
    * mismatch fix ("join" retrieves docs that say "merge" even when
    * the query never did). Selection is deterministic: terms rank by
    * (feedback docs containing DESC, summed tf DESC, term ASC);
    * original terms and the empty-doc '' token are never selected.
    * `expandTerms = 0` reproduces [[queryBm25Index]] exactly
    * (Bm25IndexSpec pins it). Scoring semantics are unchanged —
    * expansion widens the candidate/scoring term set, idf and length
    * normalization stay the corpus's.
    *
    * Plan shape: ONE manifest resolution drives all three reads (a
    * concurrent commit must never pair pass-1's ranking with
    * pass-2's postings). The expansion scan reads postings with a
    * driver-bounded `doc_id IN (f ids)` filter PUSHED to the segment
    * scans — f is serving-request metadata (the queryBm25IndexBatch
    * term-union class), never corpus-sized; the mined term list
    * collected back is ≤ `expandTerms` rows. Both passes are the
    * standard term-pruned serve. */
  def queryBm25IndexExpanded(spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], k: Int = 10,
      feedbackDocs: Int = 5, expandTerms: Int = 3, k1: Double = 1.2,
      b: Double = 0.75, asOfVersion: Option[Long] = None): DataFrame = {
    require(feedbackDocs >= 1,
      s"feedbackDocs must be >= 1 (got $feedbackDocs)")
    require(expandTerms >= 0,
      s"expandTerms must be >= 0 (got $expandTerms)")
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val qset = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT))
    if (expandTerms == 0)
      return queryBm25IndexFromSnap(spark, path, snap, qset, k, k1, b,
        None)
    val fbIds = queryBm25IndexFromSnap(spark, path, snap, qset,
        feedbackDocs, k1, b, None)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val mined =
      if (fbIds.isEmpty) Array.empty[String]
      else Segments.live(spark, path, snap, "postings")
        .filter(col("doc_id").isin(fbIds.toIndexedSeq: _*))
        .filter(!col("term").isin(qset: _*) && col("term") =!= "")
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("_nfb"),
          sum(col("tf")).as("_ttf"))
        .orderBy(col("_nfb").desc, col("_ttf").desc, col("term").asc)
        .limit(expandTerms)
        .select(col("term")).collect().map(_.getString(0))
    queryBm25IndexFromSnap(spark, path, snap, qset ++ mined, k, k1, b,
      None)
  }

  private def queryBm25IndexImpl(
      spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], k: Int,
      k1: Double, b: Double, asOfVersion: Option[Long],
      allowed: Option[DataFrame],
      after: Option[(Double, Long)] = None): DataFrame =
    // time travel: any retained manifest version serves in full —
    // maintenance writes new segments and deletes nothing until vacuum
    queryBm25IndexFromSnap(spark, path,
      Segments.snapshot(spark, path, asOfVersion), queryTerms, k, k1, b,
      allowed, after)

  /** Snapshot-taking serve core: multi-read ops (query expansion's
    * first pass + expansion scan + second pass) resolve ONE manifest
    * at the top and drive every read from it — a commit landing
    * between reads must never pair one snapshot's ranking with
    * another's postings. */
  private def queryBm25IndexFromSnap(
      spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot,
      queryTerms: Seq[String], k: Int,
      k1: Double, b: Double,
      allowed: Option[DataFrame],
      after: Option[(Double, Long)] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(_.nonEmpty),
      "queryTerms must be non-empty strings (empty/whitespace-only " +
        "docs post an '' token row)")
    // Locale.ROOT: the corpus side lowercases with Spark's locale-
    // insensitive lower(); a default-locale toLowerCase would break
    // the match under e.g. a Turkish JVM locale (I -> dotless ı)
    val qset = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT))
    // tombstone-aware: deleted docs never surface, and because every
    // delete also landed NEGATIVE (termstats, stats) correction
    // segments, the summed statistics below are the live corpus's —
    // scores are exact immediately, not only after compaction
    val termPruned = Segments.live(spark, path, snap, "postings")
      .filter(col("term").isin(qset: _*))
    // the candidate filter restricts the already-term-pruned rows;
    // statistics below stay corpus-wide (Lucene filter semantics)
    val postings = allowed match {
      case Some(a) => termPruned.join(a, Seq("doc_id"), "left_semi")
      case None => termPruned
    }
    // per-segment df contributions sum to the corpus df_t; the filter
    // pushes below the union into every segment scan
    val termstats = Segments.scan(spark, path, snap, "termstats")
      .filter(col("term").isin(qset: _*))
      .groupBy("term").agg(sum(col("df_t")).as("df_t"))
    val stats = Segments.scan(spark, path, snap, "stats")
      .agg(sum(col("n_docs")).as("_n"),
        sum(col("total_len")).as("_len"))
    val idf = (col("_n") - col("df_t") + lit(0.5)) /
      (col("df_t") + lit(0.5))
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) *
      ((col("dl") * col("_n")).cast(DoubleType) /
        col("_len").cast(DoubleType)))
    val tscore = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + norm)
    val scored = postings.join(termstats, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_s", graft.ops.Metrics.decQuantize(tscore, 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("_s")).cast(DoubleType), 6).as("score"))
    // search_after: drop everything at or before the cursor in the
    // total order BEFORE the top-k heap — page N costs page 1
    val paged = after match {
      case Some((s, d)) => scored.filter(col("score") < s ||
        (col("score") === s && col("doc_id") > d))
      case None => scored
    }
    paged
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** [[queryBm25Index]] as a [[bm25RankedList]]-shaped retriever list —
    * the persisted lexical leg of hybrid fusion (gated x90). */
  def bm25IndexRankedList(spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], k: Int, queryId: Long,
      asOfVersion: Option[Long] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    queryBm25Index(spark, path, queryTerms, k, asOfVersion = asOfVersion)
      .withColumn("query_id", lit(queryId))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("query_id"), col("rank"), col("doc_id").as("vec_id"))
  }

  /** BATCHED BM25 serve — a whole frame of queries answered from ONE
    * pass over the union of their terms' postings (the production
    * serving shape: per-query cost amortizes the scan, where looping
    * [[queryBm25Index]] re-opens the index per query). `queries` is
    * (queryIdCol, termsCol: ARRAY<STRING>); scoring is bit-identical
    * to the single-query serve (same DECIMAL(20,9) quantized sums,
    * same rational idf over the corpus-wide stats), and the per-query
    * top-k is a window PARTITIONED by query_id — parallel across
    * queries, never a global sort. Output: (query_id, rank, doc_id,
    * n_terms, score), ranked (score DESC, doc_id ASC) within each
    * query; a term matching nothing contributes nothing, a query
    * whose terms all miss yields no rows.
    *
    * Driver contract: the batch's TERM UNION is collected (and
    * de-duplicated on the driver) to build the pushed `term IN (...)`
    * scan filter (the same driver-bounded class as the k-row centroid
    * reloads) — queries × terms is serving-request metadata, never
    * corpus-sized. */
  def queryBm25IndexBatch(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryIdCol: String,
      termsCol: String, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, asOfVersion: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val q = queries.select(
        col(queryIdCol).cast(LongType).as("query_id"),
        explode(array_distinct(
          transform(col(termsCol), t => lower(t)))).as("term"))
    // de-duplicated on the driver: the list is request metadata, and a
    // `distinct` would cost a shuffle and a second job
    val termList = q.select("term").collect().map(_.getString(0))
      .distinct.toSeq
    require(termList.nonEmpty, "queries must carry at least one term")
    require(termList.forall(t => t != null && t.nonEmpty),
      "query terms must be non-null, non-empty strings " +
        "(empty/whitespace-only docs post an '' token row)")
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val postings = Segments.live(spark, path, snap, "postings")
      .filter(col("term").isin(termList: _*))
    val termstats = Segments.scan(spark, path, snap, "termstats")
      .filter(col("term").isin(termList: _*))
      .groupBy("term").agg(sum(col("df_t")).as("df_t"))
    val stats = Segments.scan(spark, path, snap, "stats")
      .agg(sum(col("n_docs")).as("_n"),
        sum(col("total_len")).as("_len"))
    val idf = (col("_n") - col("df_t") + lit(0.5)) /
      (col("df_t") + lit(0.5))
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) *
      ((col("dl") * col("_n")).cast(DoubleType) /
        col("_len").cast(DoubleType)))
    val tscore = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + norm)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    postings.join(termstats, Seq("term"))
      // the query fan-out: each posting row scores once per query
      // containing its term (|q| rows, broadcast — request metadata)
      .join(broadcast(q), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_s", graft.ops.Metrics.decQuantize(tscore, 9))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("_s")).cast(DoubleType), 6).as("score"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms"), col("score"))
  }

  /** [[queryBm25IndexFiltered]] as a retriever list — the lexical leg
    * of FILTERED hybrid retrieval (gated x131: fuse with
    * [[graft.ext.Similarity.queryIvfIndexFiltered]] under the same
    * metadata predicate). */
  def bm25IndexRankedListFiltered(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queryTerms: Seq[String], k: Int, queryId: Long,
      allowedDocs: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    queryBm25IndexFiltered(spark, path, queryTerms, k, allowedDocs,
      idCol)
      .withColumn("query_id", lit(queryId))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("query_id"), col("rank"), col("doc_id").as("vec_id"))
  }

  /** Append new documents to a persisted [[saveBm25Index]] index
    * WITHOUT touching the indexed corpus — the daily-ingest half of
    * the lifecycle (the [[graft.ext.Similarity.appendToIvfIndex]]
    * analogue). The batch lands as one new (postings, termstats,
    * stats) segment triple plus a manifest commit; because the
    * statistics tables are ADDITIVE segments, nothing reads or
    * rewrites the existing vocabulary — append cost is ∝ the batch,
    * never the index (the r11 fix: the previous layout re-merged full
    * termstats per batch, ∝ vocabulary).
    *
    * Crash-safety + IDEMPOTENT RETRY, keyed on `batchId` in the
    * manifest's `applied` list:
    *
    *  - segment writes are invisible until the manifest commit (the
    *    single atomic step, [[graft.sinks.IndexManifest]]); a crash
    *    before the commit leaves unreferenced orphan directories that
    *    the retry overwrites and [[vacuumBm25Index]] sweeps.
    *  - a retry of an applied batchId is a no-op — checked up front,
    *    and re-checked inside the CAS merge so even a concurrent
    *    duplicate append cannot double-count.
    *  - a compaction folds segments but carries the `applied` list, so
    *    a LATE retry of a folded batch still no-ops.
    *
    * Caller contract: `newDocs` ids must be disjoint from the indexed
    * ids (same as the IVF append), and `batchId` must uniquely name
    * this batch (a stream's content-derived id, an ingest date, ...) —
    * reusing an applied id skips the append. */
  /** `knownRows`: a row count the caller already holds (the streaming
    * relay computes one for its content-derived batchId) — batches at
    * or under [[TinyAppendRows]] take the single-partition segment
    * build, which is the right plan when per-job overhead, not data,
    * is the cost. None (the default) never spends a count job; the
    * standard fan-out path is correct at every size. */
  def appendToBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      batchId: String, knownRows: Option[Long] = None): Unit = {
    val seg = s"delta_$batchId"
    Segments.append(spark, path, Segments.snapshot(spark, path), batchId,
        seg, Bm25Tables) {
      writeBm25Segment(newDocs, idCol, textCol, path, seg,
        tiny = knownRows.exists(_ <= TinyAppendRows))
    }
  }

  /** DELETE documents from a persisted [[saveBm25Index]] index — the
    * tombstone half of the lifecycle (GDPR/right-to-be-forgotten,
    * takedowns, corpus curation): the doc ids land as a
    * (doc_id, seg)-scoped tombstone segment plus NEGATIVE (termstats,
    * stats) correction segments, all under one manifest commit.
    * Because the statistics tables are additive sums, the corrections
    * make served scores EXACT immediately — idf, n_docs, and avgdl are
    * the live corpus's from the next read, not only after a merge
    * (stricter than Lucene, whose df counts deleted docs until segment
    * merge). Physical removal happens at [[compactBm25Index]], which
    * anti-joins the fold and drops the tombstones; time travel to a
    * pre-delete version still serves the deleted docs (the tombstone
    * is part of the snapshot, not the data).
    *
    * Scoped tombstones are what make RE-ADDS sound: a tombstone covers
    * (doc, segment-at-delete-time) pairs, so a later append of the
    * same doc id lands in a fresh segment no tombstone covers and
    * serves normally — the primitive [[reindexBm25Docs]] composes.
    *
    * Cost: one pass over the snapshot's postings (term-projected scan
    * + one semi-join) to locate the deleted docs' rows — ∝ index, the
    * same class as compaction, NOT ∝ batch like appends; deletes are
    * maintenance, batch them accordingly.
    *
    * Idempotent retry keyed on `delete_<deleteId>` in the manifest's
    * `applied` list (namespaced apart from append batchIds — the
    * append path reserves the prefix). Ids absent from the index
    * no-op row-wise (the semi-join finds nothing) but still record
    * the marker. Concurrency: composes with APPENDS (their segments
    * are outside every scope this delete writes); a concurrent
    * COMPACTION or overlapping DELETE aborts the commit — corrections
    * computed against a superseded segment/tombstone set could
    * double-count — and the rerun recomputes against the winner. */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, docIds: DataFrame, idCol: String,
      deleteId: String): Unit =
    deleteFromBm25IndexFrom(spark, path, docIds, idCol, deleteId,
      Segments.snapshot(spark, path))

  /** Snapshot-taking core of [[deleteFromBm25Index]] — `private[ext]`
    * so the concurrency specs can deterministically replay the
    * delete-races-compaction and delete-races-delete windows. */
  private[ext] def deleteFromBm25IndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docIds: DataFrame, idCol: String, deleteId: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    val seg = s"del_$deleteId"
    Segments.delete(spark, path, snap, deleteId, seg,
      Seq("termstats", "stats", Segments.Deletes), Seq(
        Segments.kept("postings")(
          "a concurrent compaction folded postings segments this " +
            "delete scanned — its tombstone scopes reference dropped " +
            "segments; rerun deleteFromBm25Index against the new " +
            "snapshot (appends compose; compactions serialize)"),
        Segments.unchanged(Segments.Deletes)(
          "a concurrent delete committed — corrections were computed " +
            "against a superseded tombstone set and overlapping ids " +
            "would double-count; rerun deleteFromBm25Index"))) {
      val ids = docIds.select(col(idCol).cast(LongType).as("doc_id"))
        .distinct()
      // locate the doomed rows in the LIVE postings (already-tombstoned
      // rows excluded, so overlapping delete sets can never double-count
      // a correction); _seg rides through as the tombstone scope
      val doomed = Segments.live(spark, path, snap, "postings",
          tagged = true)
        .join(ids, Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the three writes run CONCURRENTLY over the shared cached
        // `doomed` (as in writeBm25Segment): each is a
        // small job whose fixed per-job overhead, not data, is the cost
        Concurrently.all(Seq(
          () => {
            doomed.select(col("doc_id"), col("_seg").as("seg")).distinct()
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$path/${Segments.Deletes}/$seg")
          },
          // negative corrections: every statistic the serve path sums
          // nets to the live corpus's exact value
          () => {
            doomed.groupBy("term")
              .agg((lit(0L) - count(lit(1))).as("df_t"))
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$path/termstats/$seg")
          },
          () => {
            doomed.agg(
                (lit(0L) - countDistinct(col("doc_id"))).as("n_docs"),
                (lit(0L) - coalesce(sum(col("tf")), lit(0L)))
                  .as("total_len"))
              .coalesce(1)
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$path/stats/$seg")
          }))
      } finally doomed.unpersist(blocking = false)
      }
    }

  /** REINDEX (upsert) documents in a persisted [[saveBm25Index]] index
    * — the MERGE of the index lifecycle, and the reason tombstones are
    * segment-scoped: delete whatever the index currently holds under
    * these doc ids, then append the new versions as a fresh segment
    * (outside every tombstone's scope, so they serve immediately). Ids
    * not currently indexed insert cleanly (the delete's semi-join
    * finds nothing); statistics stay exact through both halves. This
    * is CDC-into-the-index: feed it the changed-doc frames a
    * [[graft.ops.Cdc]] apply emits and the index tracks the table.
    *
    * Idempotent retry: both halves key on `reidx_<reindexId>` markers
    * — a crash between them resumes at the append (the applied delete
    * no-ops). NOT atomic across the two commits: a reader between them
    * sees the corpus minus the old versions (deleted-not-yet-re-added)
    * — the same read-committed window a Lucene update exposes. */
  def reindexBm25Docs(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String, textCol: String,
      reindexId: String, knownRows: Option[Long] = None): Unit = {
    deleteFromBm25Index(spark, path, docs.select(col(idCol)), idCol,
      s"reidx_$reindexId")
    appendToBm25Index(spark, path, docs, idCol, textCol,
      s"reidx_$reindexId", knownRows)
  }

  /** Compact a persisted [[saveBm25Index]] index back to one segment
    * per table — the maintenance step that closes the append
    * lifecycle: every append adds a segment whose row-group term
    * ranges overlap the others', so a `term IN (...)` serve reads ~one
    * row group PER SEGMENT per term; compaction folds the snapshot
    * into one term-sorted segment per table and restores
    * single-row-group-per-term pruning. Values are unchanged (gated
    * x100 replays the full-corpus oracle across a compaction).
    *
    * Concurrency: folded results land as NEW `compact_v<version>_<id>`
    * segments and commit through the manifest CAS — the commit merges
    * against whatever is newest, so segments appended AFTER this
    * compaction began are carried forward, never dropped (the
    * pre-manifest protocol's unguarded window; pinned in
    * Bm25IndexSpec). In-flight readers keep their resolved snapshot —
    * old segments stay on disk until [[vacuumBm25Index]]. The
    * `applied` batch record is carried, so late retries of folded
    * batches still no-op. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactBm25IndexFrom(spark, path, Segments.snapshot(spark, path))

  /** Snapshot-taking core of [[compactBm25Index]] — `private[ext]` so
    * the concurrency specs can deterministically replay the
    * compact-races-delete window against a stale snapshot. */
  private[ext] def compactBm25IndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    if (Bm25Tables.forall(t => snap.segs(t).length <= 1) &&
      snap.segs(Segments.Deletes).isEmpty) return
    // physical removal of tombstoned docs happens HERE: the fold reads
    // live postings only, the summed termstats net out the deletes'
    // negative corrections (terms with no live postings drop), and the
    // tombstone table empties in the same commit. The three table
    // folds are independent reads — they run CONCURRENTLY (as in
    // writeBm25Segment), so the fold's wall cost is the postings fold,
    // not the sum of three jobs. A delete that commits mid-fold scoped
    // its tombstones to postings segments this fold drops, so the
    // commit aborts on a changed tombstone set.
    Segments.fold(spark, path, snap, Bm25Tables, "compactBm25Index",
        Some(Segments.Deletes)) { seg =>
      Concurrently.all(Seq(
        () => {
          Segments.live(spark, path, snap, "postings")
            .repartition(col("term"))
            .sortWithinPartitions("term", "doc_id")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$path/postings/$seg")
        },
        () => {
          Segments.scan(spark, path, snap, "termstats")
            .groupBy("term").agg(sum(col("df_t")).as("df_t"))
            .filter(col("df_t") > 0)
            .repartition(col("term")).sortWithinPartitions("term")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$path/termstats/$seg")
        },
        () => {
          Segments.scan(spark, path, snap, "stats")
            .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
              coalesce(sum(col("total_len")), lit(0L)).as("total_len"))
            .coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$path/stats/$seg")
        }))
    }
  }

  /** Reclaim segments and manifests no longer referenced by the newest
    * `keepVersions` snapshots — the GC half of compaction (which
    * deliberately deletes nothing, so in-flight readers finish on
    * their resolved snapshot). Retention contract: a reader still on a
    * vacuumed snapshot loses files mid-read; size `keepVersions` (or
    * the call cadence) to the longest-running serve query. */
  /** Observability summary of a persisted [[saveBm25Index]] index —
    * ONE row: (version, n_docs, total_len, vocab_size, n_segments,
    * n_tombstones). The corpus-shaped numbers are LIVE (statistics
    * sums net the delete corrections; vocab counts terms with net
    * df_t > 0 — exactly the distinct terms of the live corpus);
    * n_segments counts postings segments (the serve's per-term
    * row-group fan-out — the compaction trigger) and n_tombstones the
    * docs awaiting physical removal (the "compact soon" signal).
    * Cost ∝ index METADATA: stats is rows-per-segment, termstats is
    * ∝ vocabulary, tombstones ∝ deletes — never the corpus text. */
  def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val snap = Segments.snapshot(spark, path)
    val st = Segments.scan(spark, path, snap, "stats")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("total_len")), lit(0L)).as("total_len"))
    val vocab = Segments.scan(spark, path, snap, "termstats")
      .groupBy("term").agg(sum(col("df_t")).as("_d"))
      .filter(col("_d") > 0)
      .agg(count(lit(1)).as("vocab_size"))
    val tomb =
      if (snap.segs(Segments.Deletes).isEmpty)
        spark.range(1).select(lit(0L).as("n_tombstones"))
      else Segments.scan(spark, path, snap, Segments.Deletes)
        .select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_tombstones"))
    st.crossJoin(broadcast(vocab)).crossJoin(broadcast(tomb))
      .select(lit(snap.version).as("version"), col("n_docs"),
        col("total_len"), col("vocab_size"),
        lit(snap.segs("postings").length.toLong).as("n_segments"),
        col("n_tombstones"))
  }

  /** Clone ONE snapshot of a persisted [[saveBm25Index]] index to
    * `dstPath` — backup/restore, promotion, or branching: the clone
    * serves exactly the source's as-of read
    * ([[queryBm25Index]]`(asOfVersion)`) but is a fully independent
    * index — maintenance on either side (appends, deletes,
    * compaction, vacuum) never touches the other, and the carried
    * `applied` record keeps idempotent-append retries consistent.
    * Defaults to the newest snapshot. */
  def cloneBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, dstPath: String,
      asOfVersion: Option[Long] = None): Unit =
    Segments.cloneTo(spark, path,
      Segments.snapshot(spark, path, asOfVersion), dstPath,
      Bm25Tables :+ Segments.Deletes)

  def vacuumBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 2,
      pinnedVersions: Set[Long] = Set.empty): Unit =
    Segments.vacuum(spark, path, keepVersions,
      Bm25Tables :+ Segments.Deletes, pinnedVersions = pinnedVersions)

  // ---- byte-pair-encoding vocabulary learning ------------------------

  /** The word-frequency table BPE training iterates over: lowercase
    * letter runs (the classic pre-tokenizer, [[bpeTokenCount]]'s letter
    * branch), each word split to single-character symbols. This is the
    * WHOLE corpus reduced to its vocabulary — at 100 TB of text the
    * distinct-word table is ~10⁷ rows, so every subsequent training
    * round runs over megabytes, not terabytes. */
  private def bpeWords(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** One deterministic BPE merge applied to a symbol-array column:
    * leftmost non-overlapping occurrences of adjacent pair (l, r)
    * become the single symbol l||r. A left fold (`aggregate` HOF —
    * codegen'd, no UDF): append each symbol unless the accumulator's
    * last element is `l` and the incoming is `r`, in which case the
    * last element is replaced by the merge. The fold IS leftmost
    * semantics: a just-merged symbol (l||r ≠ l since r is non-empty)
    * can never immediately left-merge again, exactly like the scanning
    * definition — including `l = r` runs, where it pairs run positions
    * 1-2, 3-4, … (the oracle's run-parity window states the same rule
    * declaratively). */
  private[ext] def bpeMergeOnce(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      expr("cast(array() as array<string>)"),
      (acc, s) =>
        when(size(acc) === 0, array(s))
          .when(element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s))))

  /** Distributed BPE vocabulary learning (Sennrich, Haddow & Birch
    * 2016): `merges` rounds of count-all-adjacent-pairs → merge the
    * most frequent pair everywhere. Ties break (freq DESC, left ASC,
    * right ASC) — a TOTAL order, so the learned merge table is a pure
    * function of the corpus, identical across engines, partitionings,
    * and runs (reference BPE implementations tie-break on dict order —
    * a reproducibility killer this operator refuses).
    *
    * Scale shape: the corpus collapses ONCE to the word-frequency table
    * ([[bpeWords]] — one shuffle of (word, 1) pairs with map-side
    * combine); each round is then (a) one partial+final pair-count
    * aggregation over that vocabulary-bounded table, (b) a 1-ROW
    * argmax collect (the only driver traffic: one (l, r, freq) triple
    * per round), (c) a codegen'd fold rewrite of the symbol arrays.
    * Rounds follow the [[graft.ext.Checkpoints]] loop discipline:
    * materialize-and-release, `reliable` for fault-tolerant rounds.
    * Driver state: `merges` rows. Nothing data-sized ever collects.
    *
    * Output: (rank, left_sym, right_sym, pair_freq) — rank 1..merges in
    * learned order. Stops early (fewer rows) only if the corpus runs
    * out of adjacent pairs, impossible at corpus scale. */
  def bpeLearn(docs: DataFrame, textCol: String, merges: Int,
      reliable: Boolean = false): DataFrame = {
    require(merges >= 1, s"merges must be >= 1 (got $merges)")
    val spark = docs.sparkSession
    var w = Checkpoints.materialize(
      bpeWords(docs, textCol).select(col("freq"), col("syms")), reliable)
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var exhausted = false
    var rank = 1
    while (rank <= merges && !exhausted) {
      val best = w.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) AS l, " +
            "element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("f"))
        .orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, f) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        learned += ((rank.toLong, l, r, f))
        val next = Checkpoints.materialize(
          w.withColumn("syms", bpeMergeOnce(col("syms"), l, r)),
          reliable)
        Checkpoints.release(w)
        w = next
        rank += 1
      }
    }
    Checkpoints.release(w)
    import spark.implicits._
    learned.toSeq.toDF("rank", "left_sym", "right_sym", "pair_freq")
  }

  /** Apply a learned merge list ([[bpeLearn]] output rows as
    * (left, right) in rank order) to a document frame: tokenize exactly
    * as training did, fold the merges over each DISTINCT word once, and
    * broadcast-join the (word → token count) table back onto the
    * occurrences — the [[unigramEncode]] sanction: segmentation cost
    * scales with the VOCABULARY (distinct-word table, ~10⁷ rows at
    * 100 TB of text), never the corpus (10¹²+ occurrences). A
    * per-occurrence fold re-derives the same token count millions of
    * times; measured 11.7 s → 1.9 s at sf0.1 (x166). The merge table is
    * DRIVER-SIDE (vocabulary-sized metadata, like a tokenizer file —
    * k merges = k chained codegen'd folds in ONE narrow projection
    * over the distinct words). Past ~10⁷ distinct words swap the
    * broadcast for a shuffle join on `word` — still scan-bounded.
    *
    * Output: (idCol, n_words, n_chars_alpha, n_bpe_tokens) — BPE token
    * count after all merges; n_chars_alpha is the pre-merge symbol
    * count, so (n_chars_alpha − n_bpe_tokens) = merges applied. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      mergesInRankOrder: Seq[(String, String)]): DataFrame = {
    val occ = docs.select(col(idCol),
      explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"),
        lit(0))).as("word"))
    // materialized distinct-word table (the unigramEncode barrier):
    // the broadcast build side otherwise re-scans the corpus for the
    // distinct, and any predicate a caller adds on a derived column
    // would push the merge fold below it onto the occurrence rows
    val words = Checkpoints.materialize(
      occ.select("word").distinct(), reliable = false)
    val folded = mergesInRankOrder.foldLeft(
        words.withColumn("syms", expr(
          "transform(sequence(1, length(word)), " +
            "i -> substring(word, i, 1))"))) {
      case (df, (l, r)) =>
        df.withColumn("syms", bpeMergeOnce(col("syms"), l, r))
    }
    val enc = folded.select(col("word"),
      size(col("syms")).cast(LongType).as("n_bpe"))
    occ.join(broadcast(enc), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars_alpha"),
        sum(col("n_bpe")).as("n_bpe_tokens"))
  }

  // ---- unigram-LM tokenizer (SentencePiece-style) --------------------

  /** Max word length admitted to unigram training/encoding — bounds the
    * segmentation search in both engines (fixture letter-runs top out
    * at 8; real corpora shed only pathological runs at 16). */
  private[ext] val UnigramMaxWordLen = 16

  /** Max piece length considered during seeding/segmentation. */
  private[ext] val UnigramMaxPieceLen = 4

  /** The (word, freq) table unigram training iterates over — the same
    * lowercase letter-run pre-tokenizer as [[bpeWords]] (single-char
    * words INCLUDED: they carry character statistics the seed needs),
    * capped at [[UnigramMaxWordLen]]. Corpus collapses here once;
    * everything after runs over the vocabulary-bounded table. */
  private def unigramWords(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .filter(length(col("word")) <= UnigramMaxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Viterbi segmentation as ONE codegen'd expression (no UDF, no
    * join): DP over word positions via the `aggregate` HOF. `costs` is
    * a literal map piece → integer micronat cost (vocabulary-sized
    * metadata, like [[bpeEncode]]'s merge list); dp[i] minimizes
    * (cost, n_pieces, piece-path) — a TOTAL order, so the chosen
    * segmentation is a pure function of (word, vocab), identical
    * across engines and runs. Yields a struct (c, n, p) or NULL when
    * the word cannot be segmented (a character outside the vocab). */
  private[ext] def viterbiSeg(word: Column, costs: Column,
      withPath: Boolean = true): Column = {
    // the explicit cast makes the DP array's element type NULLABLE —
    // dead states (a character outside the vocab) are stored as null
    // entries, and a non-nullable element type would NPE in codegen
    // (a when(true,…) wrapper won't do: SimplifyConditionals folds it
    // away and restores the non-nullable type)
    //
    // withPath=false drops the tie-break path string from the DP
    // state: the path only disambiguates equal-(cost, n) candidates,
    // whose (cost, n) OUTPUT is identical either way — so encodes
    // that consume only (c, n) skip the per-position string
    // concatenation garbage entirely (measured ~2× on the sf0.1
    // encode). Learning (which explodes the chosen pieces into usage
    // counts) must keep the path.
    val fields = Seq(StructField("c", LongType),
      StructField("n", IntegerType)) ++
      (if (withPath) Seq(StructField("p", StringType)) else Nil)
    val dpType = ArrayType(StructType(fields), containsNull = true)
    val zero =
      if (withPath) struct(lit(0L).as("c"), lit(0).as("n"),
        lit("").as("p"))
      else struct(lit(0L).as("c"), lit(0).as("n"))
    val init = array(zero).cast(dpType)
    val dp = aggregate(
      sequence(lit(1), length(word)),
      init,
      (acc, i) => {
        val cands = (1 to UnigramMaxPieceLen).map { j =>
          val piece = word.substr(i - lit(j) + 1, lit(j))
          // greatest(…,1) keeps the index valid when i < j — the
          // i >= j gate below discards the candidate anyway; try_*
          // variants keep ANSI mode from erroring on missing pieces
          val prev = try_element_at(acc,
            greatest(i - lit(j) + 1, lit(1)).cast("int"))
          val pc = try_element_at(costs, piece)
          val next =
            if (withPath) struct(
              (prev.getField("c") + pc).as("c"),
              (prev.getField("n") + 1).as("n"),
              concat(prev.getField("p"), lit(" "), piece).as("p"))
            else struct(
              (prev.getField("c") + pc).as("c"),
              (prev.getField("n") + 1).as("n"))
          when(i >= j && pc.isNotNull && prev.isNotNull, next)
        }
        concat(acc, array(least(cands: _*)))
      })
    element_at(dp, (length(word) + 1).cast("int"))
  }

  /** Integer micronat piece costs over a (piece, cnt) frame:
    * cost = round(1e6 · ln(total/cnt)) — the only transcendental in
    * the tokenizer, immediately rounded to a BIGINT both engines agree
    * on (the round-to-6 float discipline, integer-hardened: every
    * downstream comparison and sum is exact long arithmetic). */
  private def withMicronatCosts(counted: DataFrame): DataFrame = {
    val total = counted.agg(sum("cnt").as("_total"))
    counted.crossJoin(broadcast(total))
      .select(col("piece"), col("cnt"),
        round(lit(1e6) * log(col("_total").cast(DoubleType) /
          col("cnt").cast(DoubleType)), 0).cast(LongType)
          .as("cost_micronats"))
  }

  /** Unigram-LM tokenizer TRAINING (Kudo 2018, SentencePiece's unigram
    * model), the deterministic distributed variant beside [[bpeLearn]]:
    *
    *  1. SEED: every substring of length 1..4 of the word table,
    *     frequency-weighted (all start positions); vocab₀ = ALL
    *     single characters (coverage guarantee) ∪ top-`seedMulti`
    *     multi-char pieces by (count DESC, piece ASC).
    *  2. E-STEP (hard/Viterbi EM): segment every distinct word under
    *     vocab₀'s micronat costs; usage n₁(piece) = Σ freq · uses.
    *  3. PRUNE (M-step): vocab₁ = all single characters ∪
    *     top-`vocabMulti` USED multi-char pieces by (n₁ DESC, piece
    *     ASC); counts Laplace-smoothed (+1) so never-used characters
    *     keep finite cost; final costs from the smoothed counts.
    *
    * Everything tie-breaks on a TOTAL order and every score is integer
    * micronats, so the learned vocabulary is a pure function of the
    * corpus — the oracle unrolls the same seed → segment → prune
    * pipeline declaratively (enumerating segmentations with a
    * recursive CTE where the engine runs codegen'd DP).
    *
    * Scale shape: corpus → word-frequency table once (one shuffle,
    * map-side combine); seeding and usage counting are aggregations
    * over that bounded table; the two driver collects are the
    * vocabulary itself (seed ~O(seedMulti+chars) rows, final
    * O(vocabMulti+chars) rows) — tokenizer-file-sized metadata, the
    * [[bpeLearn]] sanction. Viterbi is a narrow projection.
    *
    * Output: (piece, n_uses, cost_micronats), the learned vocabulary
    * with smoothed usage counts and final costs. */
  def unigramLearn(docs: DataFrame, textCol: String,
      seedMulti: Int = 150, vocabMulti: Int = 60): DataFrame = {
    require(seedMulti >= 1 && vocabMulti >= 1,
      s"vocab budgets must be >= 1 (got $seedMulti/$vocabMulti)")
    val spark = docs.sparkSession
    val w = Checkpoints.materialize(unigramWords(docs, textCol),
      reliable = false)
    try {
      // 1. seed counts: all substrings len 1..UnigramMaxPieceLen
      val subs = w.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), s ->
            filter(transform(sequence(1, $UnigramMaxPieceLen), l ->
              CASE WHEN s + l - 1 <= length(word)
                   THEN substring(word, s, l) END),
              x -> x IS NOT NULL)))""")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
      val chars0 = subs.filter(length(col("piece")) === 1)
      val multi0 = subs.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc).limit(seedMulti)
      val vocab0 = withMicronatCosts(chars0.unionByName(multi0))
      // vocabulary-sized collect (seedMulti + alphabet rows)
      val costs0 = vocab0.orderBy("piece")
        .select("piece", "cost_micronats")
        .collect().map(r => r.getString(0) -> r.getLong(1))
      // 2. Viterbi E-step over the distinct-word table
      val costMap0 = map(costs0.flatMap { case (p, c) =>
        Seq(lit(p), lit(c)) }.toIndexedSeq: _*)
      val usage = w
        .withColumn("_seg", viterbiSeg(col("word"), costMap0))
        .select(col("freq"),
          explode(split(ltrim(col("_seg").getField("p")), " "))
            .as("piece"))
        .groupBy("piece").agg(sum("freq").as("n1"))
      // 3. prune + smooth + rescore
      val usedMulti = usage.filter(length(col("piece")) > 1)
        .orderBy(col("n1").desc, col("piece").asc).limit(vocabMulti)
      val allChars = chars0.select("piece")
        .join(usage, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("n1"), lit(0L)).as("n1"))
      val vocab1 = allChars.unionByName(usedMulti)
        .select(col("piece"), (col("n1") + 1L).as("cnt"))
      // the result IS the tokenizer file — vocabulary-sized; collect
      // it before releasing the word-table checkpoint it derives from
      // (returning the lazy plan would outlive the checkpoint)
      val rows = withMicronatCosts(vocab1)
        .select(col("piece"), col("cnt").as("n_uses"),
          col("cost_micronats"))
        .orderBy("piece")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      import spark.implicits._
      rows.toDF("piece", "n_uses", "cost_micronats")
    } finally Checkpoints.release(w)
  }

  /** Persist a learned unigram vocabulary as a VERSIONED tokenizer
    * file under the [[graft.sinks.IndexManifest]] protocol (x230):
    * training data changes but models must reproduce — the tokenizer
    * an old run trained with must stay loadable AT ITS VERSION
    * forever. One `vocab` table, full-replacement generations
    * (tokenizers retrain, they never merge — the x108 retrain shape),
    * time travel via `asOfVersion`. */
  def saveUnigramVocab(vocab: DataFrame, path: String): Unit = {
    vocab.select("piece", "n_uses", "cost_micronats").coalesce(1)
      .write.mode("errorifexists").parquet(s"$path/vocab/base")
    Segments.create(vocab.sparkSession, path, Map("vocab" -> Seq("base")),
      Seq("base"))
  }

  /** Retrain a persisted tokenizer on a new corpus: the new vocabulary
    * lands as its own generation segment and REPLACES the old one in
    * a single manifest commit (readers pinned to an older version keep
    * the old generation — reproducibility is the point). */
  def retrainUnigramVocab(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, textCol: String,
      seedMulti: Int = 150, vocabMulti: Int = 60): Unit = {
    val snap = Segments.snapshot(spark, path)
    val seg = s"gen_v${snap.version + 1}"
    unigramLearn(docs, textCol, seedMulti, vocabMulti).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/vocab/$seg")
    Segments.commit(spark, path, snap)(c =>
      c.copy(tables = c.tables + ("vocab" -> Seq(seg))))
  }

  /** Load one tokenizer generation as the (piece, cost) list
    * [[unigramEncode]] consumes — a vocabulary-sized driver read (the
    * tokenizer file), ordered by piece for determinism. */
  def loadUnigramVocab(spark: org.apache.spark.sql.SparkSession,
      path: String, asOfVersion: Option[Long] = None)
      : Seq[(String, Long)] =
    Segments.scan(spark, path, Segments.snapshot(spark, path, asOfVersion),
        "vocab")
      .select("piece", "cost_micronats").orderBy("piece")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Apply a learned unigram vocabulary ([[unigramLearn]] output rows
    * as (piece, cost_micronats)) to a document frame: tokenize exactly
    * as training did, Viterbi-segment each DISTINCT word once, and
    * broadcast-join the (word → cost, n_pieces) table back onto the
    * occurrences — segmentation cost scales with the VOCABULARY
    * (distinct-word table, ~10⁷ rows at 100 TB of text), not the
    * corpus (10¹²+ occurrences), exactly like [[bpeLearn]]'s
    * word-frequency reduction. (A per-occurrence DP re-derives the
    * same answer millions of times; measured 17 s → 3 s at sf0.1.
    * Past ~10⁷ distinct words swap the broadcast for a shuffle join
    * on `word` — still corpus-scan-bounded.) Words the vocabulary
    * cannot segment (a character never seen in training) are excluded
    * from all three sums — the deterministic contract the oracle
    * mirrors.
    *
    * Output: (idCol, n_words, n_pieces, cost_sum) — cost_sum in
    * integer micronats is −1e6·log-likelihood under the unigram LM,
    * the corpus-quality scalar the mixture dashboards track. */
  /** Tokenizer evaluation scorecard (x236) — the number a real
    * pipeline picks its tokenizer with: per language, BPE
    * ([[bpeLearn]]/[[bpeMergeOnce]]) vs unigram-LM ([[unigramLearn]]/
    * Viterbi) at an equal multi-symbol vocabulary budget, scored on
    * - **fertility** = tokens per encoded word (lower = fewer
    *   sequence positions per word — the context-budget metric),
    * - **compression** = characters per token (higher = denser),
    * - **OOV** = word occurrences the tokenizer cannot encode (BPE is
    *   structurally total on letter-runs — every char is a token;
    *   unigram drops words over [[UnigramMaxWordLen]] or containing a
    *   char the vocabulary never saw).
    * All counts integer-exact; the two ratios are single rounded
    * divisions, so the whole card is oracle-replayable with the
    * tokenizers' encodes as derived tables.
    *
    * Scale shape: both encodes run once over the DISTINCT-word table
    * (vocabulary-bounded, the [[unigramEncode]] sanction) and
    * broadcast back onto the occurrence scan; the corpus contributes
    * one narrow explode + one keyed aggregate per leg. Output: one
    * row per (lang, tokenizer). */
  def tokenizerScorecard(docs: DataFrame, textCol: String,
      langCol: String, mergesInRankOrder: Seq[(String, String)],
      vocabWithCosts: Seq[(String, Long)]): DataFrame = {
    require(vocabWithCosts.nonEmpty, "vocabulary must be non-empty")
    val costMap = map(vocabWithCosts.flatMap { case (p, c) =>
      Seq(lit(p), lit(c)) }.toIndexedSeq: _*)
    val occ = docs.select(col(langCol).as("lang"),
      explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"),
        lit(0))).as("word"))
    val chars = expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    // materialized distinct-word table (the unigramEncode barrier):
    // both tokenizers' encode tables derive from it, and the uni_n
    // Viterbi column must never be pushed below the distinct onto the
    // occurrence rows
    val words = Checkpoints.materialize(
      occ.select("word").distinct(), reliable = false)
    val folded = mergesInRankOrder.foldLeft(
        words.withColumn("syms", chars)) {
      case (df, (l, r)) => df.withColumn("syms", bpeMergeOnce(
        col("syms"), l, r))
    }
    val enc = folded
      .withColumn("n_bpe", size(col("syms")).cast(LongType))
      .withColumn("uni_n",
        when(length(col("word")) <= UnigramMaxWordLen,
          viterbiSeg(col("word"), costMap, withPath = false)
            .getField("n").cast(LongType)))
      .select("word", "n_bpe", "uni_n")
    val perLang = occ.join(broadcast(enc), Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast(LongType).as("n_chars"),
        sum(col("n_bpe")).as("bpe_tokens"),
        count(col("uni_n")).as("uni_enc"),
        coalesce(sum(when(col("uni_n").isNotNull,
          length(col("word")))), lit(0L)).cast(LongType)
          .as("uni_chars"),
        coalesce(sum(col("uni_n")), lit(0L)).as("uni_tokens"))
    def ratio(num: Column, den: Column): Column =
      when(den > 0L, round(num.cast(DoubleType) /
        den.cast(DoubleType), 6))
    val bpeRows = perLang.select(col("lang"),
      lit("bpe").as("tokenizer"), col("n_words"),
      col("n_words").as("n_enc_words"), lit(0L).as("n_oov_words"),
      col("n_chars").as("n_chars_enc"), col("bpe_tokens").as("n_tokens"),
      ratio(col("bpe_tokens"), col("n_words")).as("fertility"),
      ratio(col("n_chars"), col("bpe_tokens")).as("compression"))
    val uniRows = perLang.select(col("lang"),
      lit("unigram").as("tokenizer"), col("n_words"),
      col("uni_enc").as("n_enc_words"),
      (col("n_words") - col("uni_enc")).as("n_oov_words"),
      col("uni_chars").as("n_chars_enc"),
      col("uni_tokens").as("n_tokens"),
      ratio(col("uni_tokens"), col("uni_enc")).as("fertility"),
      ratio(col("uni_chars"), col("uni_tokens")).as("compression"))
    bpeRows.unionByName(uniRows)
  }

  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
      vocabWithCosts: Seq[(String, Long)]): DataFrame = {
    require(vocabWithCosts.nonEmpty, "vocabulary must be non-empty")
    val costMap = map(vocabWithCosts.flatMap { case (p, c) =>
      Seq(lit(p), lit(c)) }.toIndexedSeq: _*)
    val occ = docs.select(col(idCol),
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"),
          lit(0))).as("word"))
      .filter(length(col("word")) <= UnigramMaxWordLen)
    // MATERIALIZED distinct-word table: without the checkpoint barrier
    // Catalyst pushes the isnotnull(_seg) predicate below the distinct
    // aggregate (it references only the grouping column), so the whole
    // Viterbi DP ran once per OCCURRENCE row in the pushed filter —
    // the very per-occurrence cost the distinct-word rewrite exists to
    // avoid (measured 8.3s -> the occurrence scan's 0.3s at sf0.1).
    // The checkpoint is the tokenizer's word domain: vocabulary-sized
    // (~10⁷ rows at 100 TB), never the corpus.
    val words = Checkpoints.materialize(
      occ.select("word").distinct(), reliable = false)
    val segs = words
      .withColumn("_seg",
        viterbiSeg(col("word"), costMap, withPath = false))
      .filter(col("_seg").isNotNull)
    occ.join(broadcast(segs), "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_seg").getField("n")).cast(LongType).as("n_pieces"),
        sum(col("_seg").getField("c")).as("cost_sum"))
  }
}
