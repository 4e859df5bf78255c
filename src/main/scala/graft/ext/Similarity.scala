package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Concurrently
import graft.sinks.Segments

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §7.5).
  *
  * 100 TB design: the query set is small and broadcast; the corpus streams
  * through one narrow pass per query batch. Brute force is the exactness
  * baseline (scan × |Q| dot products, then a per-query top-k — shuffle
  * carries only (query_id, vec_id, sim) triples). The IVF variant buckets
  * the corpus by a coarse deterministic quantizer so each query probes one
  * bucket — the classic inverted-file trade: recall bounded by the
  * quantizer, scan cost divided by the bucket count.
  */
object Similarity {

  private def asDouble(c: org.apache.spark.sql.Column) =
    transform(c, x => x.cast(DoubleType))

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself), rank-ordered with vec_id
    * tiebreak. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    val c = corpus.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dotF64(col("v"), col("v"))))
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", sqrt(dotF64(col("qv"), col("qv"))))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(coalesce(
        try_divide(dotF64(col("qv"), col("v")), col("qnrm") * col("nrm")),
        lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("cos"))
  }

  /** Late-interaction retrieval scoring (the ColBERT MaxSim form,
    * Khattab & Zaharia 2020): each vector is treated as `tokens`
    * contiguous sub-vectors ("token embeddings"), and
    * score(q, d) = Σ_{query token} max_{doc token} ⟨q_t, d_s⟩ — finer
    * than one pooled dot (a doc matching every query facet somewhere
    * beats one matching a single facet strongly), cheaper than a
    * cross-encoder. Determinism discipline: every ⟨·,·⟩ is the native
    * fixed-order fold ([[graft.functions.VectorExprs.dotF64]]), the
    * per-token max is order-independent, and the final sum is a FIXED
    * left-associated expression over the `tokens` per-token maxima
    * (never a float groupBy-sum whose partial order floats) — so the
    * score is bit-identical across engines and partitionings, rounded
    * once at the end.
    *
    * Scale shape: the corpus side explodes to `tokens` rows per
    * vector and joins the BROADCAST query tokens — tokens² dot
    * products per (query, doc), the known late-interaction cost. In
    * production the corpus frame should be a first-stage candidate
    * list (IVF/BM25 output), not the full corpus; the operator is
    * agnostic (see [[maxSimRerank]] for the composed two-stage form).
    * `size(vec) % tokens` must be 0 (contiguous equal splits) —
    * ENFORCED per row via `raise_error`, so a non-divisible dimension
    * fails the job instead of silently truncating the trailing
    * `size % tokens` dims to all-zero sub-scores. */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, tokens: Int, k: Int): DataFrame = {
    require(tokens >= 1, s"tokens must be >= 1 (got $tokens)")
    require(k >= 1, s"k must be >= 1 (got $k)")
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    def toTokens(df: DataFrame, id: String, outId: String,
        outVec: String): DataFrame =
      df.select(col(id).as(outId), asDouble(col(vecCol)).as("_v0"))
        // the guard feeds the slice input, so Catalyst cannot prune it
        .select(col(outId), expr(
          s"""IF(size(_v0) >= $tokens AND size(_v0) % $tokens = 0, _v0,
             raise_error(concat('maxSimTopK: size(vec)=', size(_v0),
               ' is not a positive multiple of tokens=$tokens')))""")
          .as("_v"))
        .select(col(outId), explode(expr(
          s"transform(sequence(0, ${tokens - 1}), t -> " +
            s"struct(t AS ti, slice(_v, t * (size(_v) div $tokens) + 1, " +
            s"size(_v) div $tokens) AS tv))")).as("_t"))
        .select(col(outId), col("_t.ti").as(s"${outVec}_idx"),
          col("_t.tv").as(outVec))
    val c = toTokens(corpus, idCol, "vec_id", "dv")
    val q = toTokens(queries, idCol, "query_id", "qv")
    val pairs = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
    maxSimScoreRank(pairs, tokens, k)
  }

  /** Shared MaxSim score-and-rank tail: `pairs` carries one row per
    * (query token, doc token) pair with columns (query_id, vec_id,
    * qv_idx, qv, dv); emits the (query_id, rank, vec_id, score)
    * top-k. The per-query-token max is order-independent and the
    * final sum is the FIXED left-associated `tokens`-term expression
    * (see [[maxSimTopK]]'s determinism note). */
  private def maxSimScoreRank(pairs: DataFrame, tokens: Int, k: Int)
      : DataFrame = {
    import graft.functions.VectorExprs.dotF64
    val maxes = (0 until tokens).map(t =>
      max(when(col("qv_idx") === t, dotF64(col("qv"), col("dv"))))
        .as(s"_m$t"))
    val grouped = pairs
      .groupBy(col("query_id"), col("vec_id"))
      .agg(maxes.head, maxes.tail: _*)
    val score = round(
      (0 until tokens).map(t => col(s"_m$t")).reduce(_ + _), 6)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    grouped.withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("score"))
  }

  /** MaxSim RE-RANK of a bounded per-query candidate list — the
    * production second stage [[maxSimTopK]]'s scaladoc promises: a
    * first-stage retriever (IVF/IVFPQ/BM25) supplies `candidates` as
    * (query_id, vec_id) pairs, and only those pairs pay the tokens²
    * late-interaction cost. Scoring is bit-identical to a full-scan
    * [[maxSimTopK]] restricted to the candidate set: same contiguous
    * splits, same fixed-order dot folds, same left-associated final
    * sum, rounded once.
    *
    * Scale shape: `candidates` is |Q|·fetchN rows — broadcast — so the
    * corpus side is ONE narrow pass that keeps only candidate vectors
    * (broadcast hash semi-restriction on vec_id via the pair join),
    * then joins the broadcast query tokens on query_id. No shuffle
    * carries more than |Q|·fetchN·tokens² scored rows; the full-scan
    * NLJ disappears. */
  def maxSimRerank(corpus: DataFrame, queries: DataFrame,
      candidates: DataFrame, idCol: String, vecCol: String,
      tokens: Int, k: Int): DataFrame = {
    require(tokens >= 1, s"tokens must be >= 1 (got $tokens)")
    require(k >= 1, s"k must be >= 1 (got $k)")
    graft.functions.VectorExprs.register(corpus.sparkSession)
    def toTokens(df: DataFrame, id: String, outId: String,
        outVec: String): DataFrame =
      df.select(col(id).as(outId), asDouble(col(vecCol)).as("_v0"))
        .select(col(outId), expr(
          s"""IF(size(_v0) >= $tokens AND size(_v0) % $tokens = 0, _v0,
             raise_error(concat('maxSimRerank: size(vec)=', size(_v0),
               ' is not a positive multiple of tokens=$tokens')))""")
          .as("_v"))
        .select(col(outId), explode(expr(
          s"transform(sequence(0, ${tokens - 1}), t -> " +
            s"struct(t AS ti, slice(_v, t * (size(_v) div $tokens) + 1, " +
            s"size(_v) div $tokens) AS tv))")).as("_t"))
        .select(col(outId), col("_t.ti").as(s"${outVec}_idx"),
          col("_t.tv").as(outVec))
    val cand = candidates.select(col("query_id"), col("vec_id"))
    val c = toTokens(corpus, idCol, "vec_id", "dv")
    val q = toTokens(queries, idCol, "query_id", "qv")
    val pairs = c.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
    maxSimScoreRank(pairs, tokens, k)
  }

  /** Two-stage late-interaction retrieval — the composed production
    * shape (retrieve-then-re-rank, the ColBERT serving pattern): stage
    * one fetches `fetchN` pooled-cosine candidates per query through
    * the sign-bucket multi-probe IVF ([[ivfTopK]] — banded, never
    * all-pairs), stage two [[maxSimRerank]]s exactly those pairs. At
    * 100 TB the corpus is touched by (a) one bucketed probe scan and
    * (b) one candidate-restricted token pass — the tokens² cost is
    * paid on |Q|·fetchN pairs instead of |Q|·N. Recall vs the
    * full-scan [[maxSimTopK]] is bounded by stage one's recall (the
    * `fetchN`/`bits` dial); `EvalSpec` pins the floor. */
  def twoStageMaxSim(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, tokens: Int, fetchN: Int, k: Int,
      bits: Int = 4): DataFrame = {
    require(fetchN >= k, s"fetchN ($fetchN) must be >= k ($k)")
    val cand = ivfTopK(corpus, queries, idCol, vecCol, k = fetchN,
        bits = bits)
      .select(col("query_id"), col("vec_id"))
    maxSimRerank(corpus, queries, cand, idCol, vecCol, tokens, k)
  }

  /** [[twoStageMaxSim]] SERVED from a persisted [[saveIvfIndex]] index
    * — late interaction joins the train-once/serve-many family: stage
    * one fetches `fetchN` pooled-cosine candidates per query through
    * [[queryIvfIndex]] (the saved learned-centroid inverted file,
    * `nprobe` probed cells — never a per-call re-bucket of the
    * corpus), and stage two [[maxSimRerank]]s exactly those pairs
    * against the INDEX's own stored vectors — serving touches only
    * index segments, no side copy of the corpus table, and an
    * `asOfVersion` pin serves BOTH stages from the same snapshot (the
    * candidate list and the reranked vectors can never mix two index
    * generations). At 100 TB the corpus pays (a) the probed-cell scans
    * and (b) one |Q|·fetchN broadcast-pair token pass; the tokens²
    * cost never multiplies N. Recall vs the full-scan [[maxSimTopK]]
    * is bounded by stage one's recall (the `fetchN`/`nprobe` dial). */
  def twoStageMaxSimIndexServe(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      tokens: Int, fetchN: Int, k: Int, nprobe: Int = 2,
      asOfVersion: Option[Long] = None,
      predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(fetchN >= k, s"fetchN ($fetchN) must be >= k ($k)")
    // FILTERED late interaction: the metadata predicate applies as
    // stage one's PRE-filter (x129's semantics — fetchN survivors per
    // query whenever the probed cells hold that many, never a
    // post-filtered short list); stage two needs no second filter —
    // the candidate pairs already carry only predicate-satisfying ids,
    // and the rerank's broadcast pair join is a semi-restriction.
    val cand = predicate match {
      case Some(p) => queryIvfIndexFiltered(spark, path, queries,
        idCol, vecCol, k = fetchN, predicate = p, nprobe = nprobe,
        asOfVersion = asOfVersion)
      case None => queryIvfIndex(spark, path, queries, idCol, vecCol,
        k = fetchN, nprobe = nprobe, asOfVersion = asOfVersion)
    }
    // stage two reads the SAME snapshot's corpus segments (stored
    // double vectors; asDouble in maxSimRerank is then the identity)
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val indexed = readIvfCorpus(spark, path, snap)
      .select(col("vec_id").as(idCol), col("v").as(vecCol))
    maxSimRerank(indexed, queries,
      cand.select(col("query_id"), col("vec_id")), idCol, vecCol,
      tokens, k)
  }

  /** Coarse deterministic quantizer: sign bits of the leading dims. */
  def signBucket(vec: org.apache.spark.sql.Column, bits: Int)
      : org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      when(element_at(vec, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF-style bucketed top-k: corpus pre-bucketed by [[signBucket]];
    * each query probes its own bucket plus (with `probeBits = 1`, the
    * default) every 1-bit-flip neighbor bucket — multi-probe, same
    * machinery as [[DedupOps.cosineDupPairs]]. Single-probe recall falls
    * off a cliff for vectors near a quantizer boundary (a leading dim
    * close to 0 flips the neighbor into an unseen bucket); probing the
    * `bits` Hamming-1 neighbors recovers exactly those, at (bits+1)×
    * probe cost. Still approximate: neighbors ≥2 sign flips away remain
    * unseen (the recall/cost dial is `bits` and `probeBits`).
    *
    * Each corpus vector lives in exactly ONE bucket and a query's probe
    * buckets are distinct, so no (query, vector) pair can match twice —
    * no dedup shuffle needed.
    *
    * SIZING (the default is fixture-sized, NOT a scale setting): 2^bits
    * buckets, so each query scans ~(bits+1)·N/2^bits corpus vectors with
    * multi-probe. Pick `bits = ceil(log2(N·(bits+1) / scanBudget))` —
    * e.g. 10⁹ vectors with a ~64k-vector probe budget → bits ≈ 18.
    * Raising bits trades recall for probe cost; see SCALE.md "LSH knob
    * sizing". */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, bits: Int = 4,
      probeBits: Int = 1): DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      s"probeBits must be 0 (own bucket) or 1 (1-bit multi-probe)")
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    val c = corpus.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", signBucket(col("v"), bits))
      .withColumn("nrm", sqrt(dotF64(col("v"), col("v"))))
    val q0 = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("b0", signBucket(col("qv"), bits))
      .withColumn("qnrm", sqrt(dotF64(col("qv"), col("qv"))))
    val q =
      if (probeBits == 0) q0.withColumnRenamed("b0", "bucket")
      else q0
        .select(col("query_id"), col("qv"), col("qnrm"), col("b0"),
          explode(array((lit(-1) +: (0 until bits).map(lit)): _*)).as("flip"))
        .withColumn("bucket",
          when(col("flip") === -1, col("b0"))
            .otherwise(col("b0").bitwiseXOR(
              call_function("shiftleft", lit(1L), col("flip")))))
        .drop("flip", "b0")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(coalesce(
        try_divide(dotF64(col("qv"), col("v")), col("qnrm") * col("nrm")),
        lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("cos"))
  }

  /** Learned-centroid IVF top-k — the composition [[ivfTopK]]'s scaladoc
    * promises and x53 trains for: bucket the corpus by nearest
    * k-means centroid ([[Clustering.kmeansCentroids]], data-ADAPTED
    * cells instead of [[signBucket]]'s data-oblivious sign cuts), then
    * have each query probe its `nprobe` nearest centroids by exact
    * centroid distance and rank candidates by cosine.
    *
    * Scale shape: centroids are driver-held (kCentroids × dim doubles);
    * BOTH the corpus bucketing and the query probe list are pure
    * projections against centroid literals (same whole-stage-codegen
    * fold as k-means assignment — no join, no shuffle to build the
    * index). The only join is corpus ⋈ broadcast(queries × nprobe) on
    * the bucket id, so each query scans ~nprobe·N/kCentroids vectors.
    * Recall beats sign-LSH at equal probe cost because Lloyd cells
    * track the data's actual density (gated in ExtSpec); exactness
    * within probed cells is total, so the oracle replays the same
    * unrolled-Lloyd's CTEs plus an exact per-bucket top-k.
    *
    * Determinism: probe selection compares exact squared-L2 folds with
    * centroid-id tiebreak (`array_sort` over (dist, id) structs — the
    * same order as the oracle's `row_number`); each corpus vector lives
    * in exactly ONE cell and a query's probe cells are distinct, so no
    * pair can match twice. Eager statistic jobs at call time: the
    * k-means training runs Spark jobs (plan-freezing, as
    * [[Clustering.kmeansCentroids]] documents). */
  def ivfLearnedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, kCentroids: Int = 8,
      iters: Int = 2, nprobe: Int = 2,
      trainSample: Option[String] = None): DataFrame =
    ivfLearnedTopKWith(corpus, queries, idCol, vecCol, k,
      Clustering.kmeansCentroids(corpus, idCol, vecCol, kCentroids, iters,
        trainSample),
      nprobe)

  /** [[ivfLearnedTopK]] against PRECOMPUTED centroids — the index-reuse
    * path: train once ([[Clustering.kmeansCentroids]]), serve many query
    * batches without re-touching the corpus for training. Centroids must
    * be id-sorted (as `kmeansCentroids` returns them) for the tiebreak
    * contract. */
  def ivfLearnedTopKWith(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int = 2): DataFrame =
    ivfServe(corpus, queries, idCol, vecCol, k, centroids, nprobe,
      broadcastQueries = true)

  private def ivfServe(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int,
      broadcastQueries: Boolean): DataFrame = {
    require(centroids.nonEmpty, "ivfLearnedTopKWith: no centroids")
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    val c = Clustering.assignTo(
        corpus.select(col(idCol).as("vec_id"),
          asDouble(col(vecCol)).as("_v")), centroids)
      .withColumn("nrm", sqrt(dotF64(col("_v"), col("_v"))))
      .select(col("vec_id"), col("_v").as("v"),
        col("cluster").as("bucket"), col("nrm"))
    serveBuckets(c, queries, idCol, vecCol, k, centroids, nprobe,
      broadcastQueries)
  }

  /** kNN graph over an embedding corpus, served from the learned
    * inverted file: EVERY vector is a query probing its `nprobe`
    * nearest cells, so candidates per node are ~nprobe·N/kCentroids —
    * the all-pairs-free construction behind embedding-space clustering
    * and diversity pruning (an N² pairing is exactly what this op
    * exists to avoid). Because the query side IS the corpus, the
    * bucket join is a SHUFFLE join on the cell id (both sides
    * hash-partition; broadcasting N query rows would be the
    * anti-pattern the small-batch serve path rightly uses).
    * Output: (src, dst, rank, cos) — k rows per node, exact cosine
    * within probed cells, [[ivfLearnedTopK]]'s determinism contract;
    * `trainSample` composes for the build-vs-serve split (x87). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 3, kCentroids: Int = 8, iters: Int = 2, nprobe: Int = 2,
      trainSample: Option[String] = None): DataFrame =
    ivfServe(corpus, corpus, idCol, vecCol, k,
      Clustering.kmeansCentroids(corpus, idCol, vecCol, kCentroids,
        iters, trainSample),
      nprobe, broadcastQueries = false)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        col("rank"), col("cos"))

  /** [[knnGraph]] served from a persisted [[saveIvfIndex]] index — the
    * train-once/serve-many twin that retires the one rebuild-per-call
    * path left after x71/x89: no k-means training, no re-bucketing; the
    * query side is the index's own bucket-partitioned corpus (vectors +
    * precomputed norms), probe cells come from the k-row centroid
    * reload, and the bucket join is the same shuffle join (the query
    * side IS the corpus — broadcasting N rows would be the
    * anti-pattern). Reproduces [[knnGraph]] on the indexed corpus
    * bit-for-bit when the index was trained with the same
    * (kCentroids, iters) (ExtSpec pins it; gated x93 replays x91's
    * oracle from a cold reload). */
  def knnGraphFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int = 3, nprobe: Int = 2): DataFrame =
    knnGraphFromIndex(spark, path, Segments.snapshot(spark, path), k, nprobe)

  /** Snapshot-taking overload: the composed serves
    * ([[knnGraphRefinedFromIndex]], [[mutualKnnClustersFromIndex]])
    * read the index TWICE (seed graph + re-rank/label vectors), and
    * each read must pin the SAME snapshot — resolving the manifest per
    * read would let a commit landing between the two pair one
    * snapshot's graph with another's corpus (observable after a
    * retrain + vacuum inside the window). */
  private def knnGraphFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot, k: Int,
      nprobe: Int): DataFrame = {
    val centroids = loadCentroids(spark, path, snap)
    require(centroids.nonEmpty, s"knnGraphFromIndex: empty index at $path")
    val c = readIvfCorpus(spark, path, snap)
      .select(col("vec_id"), col("v"),
        col("bucket").cast(LongType).as("bucket"), col("nrm"))
    val q = readIvfCorpus(spark, path, snap)
      .select(col("vec_id"), col("v"))
    serveBuckets(c, q, "vec_id", "v", k, centroids, nprobe,
      broadcastQueries = false)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        col("rank"), col("cos"))
  }

  /** One NN-descent refinement round over [[knnGraph]] (Dong et al.,
    * WWW 2011: "a neighbor of a neighbor is likely a neighbor"): take
    * the probe-bounded graph's edges, UNDIRECT them, expand to
    * neighbors-of-neighbors, re-rank the candidate pool by exact
    * cosine, and keep each node's top-k. Recall@k is ≥ the input
    * graph's BY CONSTRUCTION — the candidate pool is a superset of the
    * graph's own edges and the re-rank is exact — and the lift is
    * real whenever a true neighbor sits in an unprobed cell but shares
    * a neighbor with the query (the boundary-vector case that caps
    * x91's recall at fixed nprobe). Gated x103; the recall property
    * and the no-broadcast pin are in ExtSpec.
    *
    * Scale shape: the undirected edge list is ≤2Nk rows of 16-byte
    * pairs; the neighbor join squares only the per-node DEGREE
    * (≤N·(2k)² candidate rows, k small by design), never the corpus —
    * this is the standard NN-descent trade: one extra keyed shuffle
    * round for recall the quantizer alone cannot reach. All joins are
    * keyed on vector ids (the corpus-sized sides are never broadcast);
    * the final top-k is the per-node window every retriever here
    * uses. */
  def knnGraphRefined(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 3, kCentroids: Int = 8, iters: Int = 2, nprobe: Int = 2,
      trainSample: Option[String] = None, reliable: Boolean = false)
      : DataFrame = {
    val g0 = knnGraph(corpus, idCol, vecCol, k, kCentroids, iters,
      nprobe, trainSample).select(col("src"), col("dst"))
    refineKnnGraph(
      corpus.select(col(idCol).cast(LongType).as("vec_id"),
        asDouble(col(vecCol)).as("v")), g0, k, reliable)
  }

  /** [[knnGraphRefined]] served from a persisted [[saveIvfIndex]]
    * index — the train-once/serve-many twin (x93's pattern): the seed
    * graph comes from [[knnGraphFromIndex]] (no training, no
    * re-bucketing) and the re-rank reads the index's own stored
    * vectors, so the whole refinement runs off the cold index.
    * Reproduces [[knnGraphRefined]] on the indexed corpus bit-for-bit
    * when the index was trained with the same (kCentroids, iters)
    * (gated x104 replays x103's oracle from a cold reload). */
  def knnGraphRefinedFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int = 3, nprobe: Int = 2,
      reliable: Boolean = false): DataFrame = {
    // ONE manifest resolution for both index reads (seed graph +
    // re-rank vectors) — the every-reader-resolves-one-snapshot rule
    val snap = Segments.snapshot(spark, path)
    val g0 = knnGraphFromIndex(spark, path, snap, k, nprobe)
      .select(col("src"), col("dst"))
    refineKnnGraph(
      readIvfCorpus(spark, path, snap)
        .select(col("vec_id").cast(LongType).as("vec_id"),
          col("v")), g0, k, reliable)
  }

  /** The refinement core: candidates = undirected edges ∪ their
    * two-hop closure, exact-cosine re-rank, per-node top-k. `vecs` is
    * (vec_id, v); `g0` is a directed (src, dst) edge list.
    *
    * The seed graph is MATERIALIZED once
    * ([[Checkpoints.materialize]]): `g0` appears six times in the
    * expansion DAG (twice per `und`, three `und` uses), and Catalyst
    * does not dedupe the aliased subtrees — unmaterialized, the probe
    * join + window would scan and shuffle the corpus six times. The
    * checkpointed edge list is Nk 16-byte rows; `reliable` routes it
    * to the fault-tolerant checkpoint dir for long 100 TB runs. Per
    * the checkpoint-erases-stats lesson (SCALE.md round 12), every
    * join that touches the checkpointed lineage is pinned
    * SHUFFLE_HASH — the only shape that exists at scale, where
    * neither the edge list nor the corpus can broadcast. */
  private def refineKnnGraph(vecs: DataFrame, g0: DataFrame, k: Int,
      reliable: Boolean): DataFrame = {
    graft.functions.VectorExprs.register(vecs.sparkSession)
    import graft.functions.VectorExprs.dotF64
    val edges = Checkpoints.materialize(
      g0.select(col("src"), col("dst")), reliable)
    val und = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val twoHop = und.as("a").hint("SHUFFLE_HASH")
      .join(und.as("b").hint("SHUFFLE_HASH"),
        col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
    val cand = und.union(twoHop).distinct()
    val withV = vecs
      .withColumn("nrm", sqrt(dotF64(col("v"), col("v"))))
    val scored = cand.hint("SHUFFLE_HASH")
      .join(withV.select(col("vec_id").as("src"), col("v").as("av"),
        col("nrm").as("anrm")).hint("SHUFFLE_HASH"), Seq("src"))
      .join(withV.select(col("vec_id").as("dst"), col("v").as("bv"),
        col("nrm").as("bnrm")).hint("SHUFFLE_HASH"), Seq("dst"))
      .withColumn("cos", round(coalesce(
        try_divide(dotF64(col("av"), col("bv")),
          col("anrm") * col("bnrm")), lit(0.0)), 6))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"),
        col("rank").cast(LongType).as("rank"), col("cos"))
  }

  /** Embedding-space clusters = connected components of the MUTUAL
    * kNN graph (an edge iff each endpoint is in the other's top-k —
    * the standard symmetrization that keeps hub nodes from fusing
    * unrelated regions). Composition: [[knnGraph]] (inverted-file
    * candidates, no N²) → mutual filter (one keyed self-join on the
    * 16-byte edge pair) → [[DedupOps.dedupClustersStar]] (alternating
    * star — mutual-kNN components CAN be chains, so the
    * diameter-independent CC is the right one, not min-propagation).
    * Every corpus vector gets a label; vectors with no mutual
    * neighbor are their own singleton cluster (the split-coverage
    * rule). Output: (vec_id, cluster_id = component min).
    *
    * `trainSample` composes into the k-means training (x87's
    * build-vs-serve split); `reliable` threads through to the star-CC
    * loop so the iterative component state can live in fault-tolerant
    * checkpoint storage ([[Checkpoints.materialize]]) — both knobs a
    * 100 TB run wants at this composition's outermost call site. */
  def mutualKnnClusters(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, kCentroids: Int = 8, iters: Int = 2,
      nprobe: Int = 2, trainSample: Option[String] = None,
      reliable: Boolean = false): DataFrame = {
    val g = knnGraph(corpus, idCol, vecCol, k, kCentroids, iters,
      nprobe, trainSample).select(col("src"), col("dst"))
    mutualClustersFromGraph(g,
      corpus.select(col(idCol).cast(LongType).as("vec_id")), reliable)
  }

  /** [[mutualKnnClusters]] served from a persisted [[saveIvfIndex]]
    * index: [[knnGraphFromIndex]] candidates (no training, no
    * re-bucketing) → mutual filter → alternating-star CC. Same output
    * contract as the per-call form on the indexed corpus (gated x94
    * replays x92's oracle from a cold reload). */
  def mutualKnnClustersFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int = 3, nprobe: Int = 2, reliable: Boolean = false)
      : DataFrame = {
    // ONE manifest resolution for both index reads (graph + labels)
    val snap = Segments.snapshot(spark, path)
    val g = knnGraphFromIndex(spark, path, snap, k, nprobe)
      .select(col("src"), col("dst"))
    // same LongType id contract as the per-call form — the saved index
    // stores idCol as-is, so an int-id corpus must not change the
    // output schema between the two forms
    mutualClustersFromGraph(g,
      readIvfCorpus(spark, path, snap)
        .select(col("vec_id").cast(LongType).as("vec_id")), reliable)
  }

  /** Shared tail of the two mutual-kNN-cluster forms: symmetrize the
    * directed top-k edges (one keyed self-join on the 16-byte pair),
    * run star-CC, and label every corpus id (singletons = themselves).
    * The graph is MATERIALIZED once first — it appears on both sides
    * of the mutual join, and unmaterialized each side would recompute
    * the full probe-join + window subtree ([[refineKnnGraph]]'s
    * lesson); the mutual join over the checkpointed lineage is pinned
    * SHUFFLE_HASH (checkpointing erases planner stats). */
  private def mutualClustersFromGraph(g: DataFrame, ids: DataFrame,
      reliable: Boolean): DataFrame = {
    val edges = Checkpoints.materialize(
      g.select(col("src"), col("dst")), reliable)
    val mutual = edges.hint("SHUFFLE_HASH").join(
      edges.select(col("dst").as("src"), col("src").as("dst"))
        .hint("SHUFFLE_HASH"),
      Seq("src", "dst"))
    val labels = DedupOps.dedupClustersStar(mutual, "src", "dst",
      reliable = reliable)
    val out = ids.join(labels, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
    // star-CC materializes its own state from `mutual`, so the edge
    // checkpoint is only needed until labels exist; localCheckpoint
    // the small label frame and release the edges
    val done = Checkpoints.materialize(out, reliable)
    Checkpoints.release(edges)
    done
  }

  /** Serving core shared by [[ivfLearnedTopKWith]] (in-memory bucketing)
    * and [[queryIvfIndex]] (bucketing persisted by [[saveIvfIndex]]):
    * `c` must carry (vec_id, v, bucket, nrm).
    *
    * `broadcastQueries = true` (the serve default) is right when |Q| is
    * a query batch — the probe join builds a small hash relation. When
    * the QUERY SIDE IS THE CORPUS ([[knnGraph]]: every vector queries),
    * broadcasting N rows is the anti-pattern; `false` leaves the
    * bucket-keyed join to Catalyst/AQE, which shuffles both sides on
    * the bucket id. */
  private def serveBuckets(c: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    graft.functions.VectorExprs.register(queries.sparkSession)
    import graft.functions.VectorExprs.{dotF64, sqDistF64}
    // nprobe nearest centroids per query: array_sort over (dist, id)
    // structs is lexicographic — exact distance first, centroid id as
    // the tiebreak — then slice + explode into one probe row per cell
    val probeList = slice(array_sort(array(centroids.map { case (id, v) =>
      struct(sqDistF64(col("qv"), typedLit(v)).as("d"),
        lit(id).as("cl")) }: _*)), 1, nprobe)
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", sqrt(dotF64(col("qv"), col("qv"))))
      .select(col("query_id"), col("qv"), col("qnrm"),
        explode(probeList).as("_pr"))
      .select(col("query_id"), col("qv"), col("qnrm"),
        col("_pr.cl").as("bucket"))
    val scored = c.join(if (broadcastQueries) broadcast(q) else q,
        Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(coalesce(
        try_divide(dotF64(col("qv"), col("v")), col("qnrm") * col("nrm")),
        lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("cos"))
  }

  /** Persist a trained learned-centroid IVF index — the train-once /
    * query-many lifecycle a production 100 TB index needs (x67 trains
    * per call; this writes the training output once). Under `path`:
    *
    *  - `path/centroids/<seg>/`: (cluster_id, centroid) — the k × dim
    *    driver payload, one small file per generation (the build
    *    writes `base`; [[retrainIvfIndex]] adds a new generation);
    *  - `path/corpus`: (vec_id, v, nrm) PARTITIONED BY (`batch`,
    *    `bucket`) — every vector in its nearest-centroid cell with its
    *    norm precomputed. `batch` is the SEGMENT level: the build
    *    writes `batch=base`, each [[appendToIvfIndex]] call adds its
    *    own `batch=<batchId>`, a compaction adds a folded
    *    `batch=compact_v<N>_<id>`, a retrain adds a re-bucketed
    *    `batch=retrain_v<N>_<id>`. `bucket` stays a partition column,
    *    so cell pruning is unaffected by the extra level.
    *  - `path/manifest_v<N>.json` ([[graft.sinks.IndexManifest]]): the
    *    versioned commit record — which corpus segments and WHICH
    *    CENTROID GENERATION are live, and which append batchIds have
    *    been applied. Every reader resolves ONE manifest for both the
    *    centroid reload and the corpus scan (a static partition-value
    *    filter, pruned at planning), so an append, compaction, or
    *    retrain landing mid-query can never pair one snapshot's
    *    centroids with another's corpus, and a crashed write's partial
    *    directories are invisible until their manifest commit.
    *
    * At serve time ([[queryIvfIndex]]) the probe joins a broadcast
    * query set against the PARTITION column, so Spark's dynamic
    * partition pruning reads the ~nprobe·|Q| probed cell directories,
    * not the corpus — the index file layout IS the inverted file.
    * Training is [[Clustering.kmeansCentroids]] (deterministic,
    * RNG-free), so save → load → serve reproduces [[ivfLearnedTopK]]
    * bit-for-bit (ExtSpec pins the equality; gated x71 replays x67's
    * oracle from a cold reload). */
  /** Corpus columns reserved by the IVF layout — metadata columns may
    * not collide with them. */
  private val IvfCoreCols =
    Set("vec_id", "v", "nrm", "batch", "bucket", "codes")

  /** `metaCols`: additional per-vector METADATA columns persisted
    * alongside the vectors (language, source, license, timestamp …) —
    * the pre-filter surface [[queryIvfIndexFiltered]] serves. The
    * layout is self-describing: appends infer the metadata schema from
    * the stored corpus, and compaction/retrain carry the columns. */
  def saveIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, kCentroids: Int = 8, iters: Int = 2,
      trainSample: Option[String] = None,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    graft.functions.VectorExprs.register(spark)
    import graft.functions.VectorExprs.dotF64
    import spark.implicits._
    require(metaCols.forall(c => !IvfCoreCols.contains(c)),
      s"metaCols may not collide with the layout's core columns " +
        s"($IvfCoreCols)")
    Segments.drop(spark, path)
    val centroids = Clustering.kmeansCentroids(corpus, idCol, vecCol,
      kCentroids, iters, trainSample)
    // the centroid and corpus writes are independent jobs over the
    // trained literals — overlap them (fixed per-job overhead)
    Concurrently.all(Seq(
      () => centroids.toDF("cluster_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids/base"),
      () => Clustering.assignTo(
          corpus.select(col(idCol).as("vec_id") +:
            asDouble(col(vecCol)).as("_v") +:
            metaCols.map(col): _*), centroids)
        .select(col("vec_id") +: col("_v").as("v") +:
          sqrt(dotF64(col("_v"), col("_v"))).as("nrm") +:
          lit("base").as("batch") +: col("cluster").as("bucket") +:
          metaCols.map(col): _*)
        .write.mode("overwrite").partitionBy("batch", "bucket")
        .parquet(s"$path/corpus")))
    Segments.create(spark, path,
      Map("corpus" -> Seq("base"), "centroids" -> Seq("base")))
  }

  /** The index's current manifest version — the handle
    * [[queryIvfIndex]]'s `asOfVersion` time travel pins to. */
  def ivfIndexVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = Segments.snapshot(spark, path).version

  /** Read the corpus pinned to one snapshot's segments: a static
    * `batch IN (...)` partition filter, pruned at planning — partial
    * or post-snapshot batch directories are never read. */
  private def readIvfCorpus(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot): DataFrame = {
    val segs = snap.segs("corpus")
    require(segs.nonEmpty, s"index at $path has no corpus segments")
    val base = spark.read.parquet(s"$path/corpus")
      .filter(col("batch").isin(segs: _*))
    // tombstone-aware: every index reader (serve, kNN, cell stats,
    // admission, compaction fold, retrain training set) sees the live
    // corpus. Tombstones are (vec_id, batch)-scoped — the corpus
    // already carries its segment name as the `batch` partition
    // column, so a later re-append of a deleted id lands in a batch no
    // tombstone covers and serves normally (the reindex primitive).
    if (snap.segs(IvfDeletesTable).isEmpty) base
    else base.join(Segments.scan(spark, path, snap, IvfDeletesTable),
      Seq("vec_id", "batch"), "left_anti")
  }

  /** Metadata columns of a stored IVF corpus — its parquet schema
    * minus the core layout columns; appends and maintenance derive the
    * carry list from here, so the layout is self-describing. */
  private def ivfMetaCols(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot): Seq[String] = {
    // snapshot-pinned: reading the whole corpus directory's schema
    // would let a crashed writer's orphaned (never-committed) batch
    // dir inject columns; one committed segment's footer is both the
    // contract and the cheapest listing
    val segs = snap.segs("corpus")
    require(segs.nonEmpty, s"index at $path has no corpus segments")
    spark.read.parquet(s"$path/corpus/batch=${segs.head}")
      .schema.fieldNames.toSeq.filterNot(IvfCoreCols.contains)
  }

  /** A clear contract error when an append/retrain batch is missing
    * the stored layout's metadata columns (the alternative is an
    * unresolved-column AnalysisException deep in plan analysis). */
  private def requireMeta(df: DataFrame, meta: Seq[String],
      op: String): Unit =
    require(meta.forall(df.columns.contains),
      s"$op: the supplied frame is missing the index's metadata " +
        s"columns (${meta.mkString(",")}) — the layout is " +
        "self-describing and every ingested batch must carry them")

  /** The vector indexes' tombstone table: (vec_id, batch) rows scoping
    * each deleted vector to the corpus segment that held it when the
    * delete committed — shared by the IVF and IVFPQ layouts (both
    * bucket their corpus under `batch=` segments). */
  private val IvfDeletesTable = "deletes"

  /** DELETE vectors from a persisted [[saveIvfIndex]] or
    * [[saveIvfPqIndex]] index — the vector half of
    * [[graft.ext.TextAnalysis.deleteFromBm25Index]]: ids land as a
    * (vec_id, batch)-scoped tombstone segment under one manifest
    * commit, every reader ([[queryIvfIndex]]/[[queryIvfPqIndex]],
    * kNN-graph serves, [[ivfCellStats]], [[ivfNearDupAdmit]]) anti-
    * joins them out immediately, and [[compactIvfIndex]] /
    * [[retrainIvfIndex]] physically remove them. Time travel to a
    * pre-delete version still serves the vectors. No statistics
    * corrections are needed (the vector serves keep no corpus-global
    * statistics), so overlapping delete sets are naturally idempotent
    * and deletes need no mutual serialization.
    *
    * Cost: one corpus pass projecting (vec_id, batch) — two int-ish
    * columns under column pruning — to locate each id's segment; ∝
    * index like compaction, not ∝ batch like appends.
    *
    * Concurrency: composes with APPENDS (superset corpus check); a
    * concurrent COMPACTION or RETRAIN aborts the commit — the scopes
    * would reference folded/re-bucketed segments — and the rerun
    * recomputes. Idempotent retry keyed on `delete_<deleteId>`. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String,
      deleteId: String): Unit =
    deleteFromIvfIndexFrom(spark, path, ids, idCol, deleteId,
      Segments.snapshot(spark, path))

  /** Snapshot-taking core of [[deleteFromIvfIndex]] — `private[ext]`
    * for the concurrency specs (delete-races-compaction window). */
  private[ext] def deleteFromIvfIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String, deleteId: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    val seg = s"del_$deleteId"
    Segments.delete(spark, path, snap, deleteId, seg, Seq(IvfDeletesTable),
      Seq(Segments.kept("corpus")(
        "a concurrent compaction/retrain replaced corpus segments " +
          "this delete scanned — its tombstone scopes reference " +
          "dropped segments; rerun deleteFromIvfIndex against the " +
          "new snapshot (appends compose; maintenance serializes)"))) {
      readIvfCorpus(spark, path, snap)
        .join(ids.select(col(idCol).cast(LongType).as("vec_id"))
          .distinct(), Seq("vec_id"))
        .select(col("vec_id"), col("batch").cast(StringType).as("batch"))
        .distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/deletes/$seg")
    }
  }

  /** Reload the k-row centroid file of a [[saveIvfIndex]] index,
    * id-sorted (the [[ivfLearnedTopKWith]] tiebreak contract). Resolves
    * the newest snapshot; the serve paths pass their already-resolved
    * snapshot instead so centroids and corpus can never come from two
    * different generations. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Seq[Double])] =
    loadCentroids(spark, path, Segments.snapshot(spark, path))

  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot)
      : Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    val segs = snap.segs("centroids")
    require(segs.length == 1,
      s"index at $path must have exactly one centroid generation " +
        s"(got $segs)")
    spark.read.parquet(s"$path/centroids/${segs.head}")
      .select(col("cluster_id"), col("centroid"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
  }

  /** Append new vectors to a persisted [[saveIvfIndex]] index WITHOUT
    * retraining: assign each against the existing centroids (k-row
    * reload) and land them as this batch's own `batch=<batchId>`
    * partition level of the corpus — only the touched cell directories
    * grow. This is the daily-ingest half of the index lifecycle: train
    * rarely, append often, serve always; the result is exactly an
    * index whose centroids were trained on the ORIGINAL corpus but
    * whose inverted file holds everything (ExtSpec pins that
    * equivalence; gated x76).
    *
    * IDEMPOTENT RETRY, keyed on `batchId` in the manifest's `applied`
    * list: the batch's partitions are written first (invisible —
    * readers filter the corpus to manifest-listed segments), then one
    * manifest commit ([[graft.sinks.IndexManifest]]) makes them live
    * and records the batchId. A crash before the commit leaves an
    * unreferenced partial directory the retry overwrites; a retry of
    * an applied id no-ops — even after a compaction folded the batch
    * away (the `applied` record is carried). That is what lets a
    * streaming micro-batch relay drive the append exactly-once
    * ([[graft.streaming.StreamIndex.ivfAppendWriter]], x98).
    *
    * The accepted drift: appended vectors don't move the centroids, so
    * cell balance decays as the distribution shifts — monitor (e.g.
    * [[graft.ext.TextAnalysis.termDrift]]'s embedding-space analogue
    * is cell-size skew) and retrain when probe cost degrades. Caller
    * contract: ids disjoint from the indexed ids; `batchId` uniquely
    * names this delta (never `"base"`). */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newVecs: DataFrame, idCol: String,
      vecCol: String, batchId: String): Unit =
    appendToIvfIndexFrom(spark, path, newVecs, idCol, vecCol, batchId,
      Segments.snapshot(spark, path))

  /** Snapshot-taking core of [[appendToIvfIndex]] — `private[ext]` so
    * the concurrency specs can deterministically replay the
    * retrain-races-append window (resolve a snapshot, let a retrain
    * commit, then drive this against the STALE snapshot). */
  private[ext] def appendToIvfIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      batchId: String, snap: graft.sinks.IndexSnapshot): Unit =
    // a retrain that committed between our snapshot and the commit
    // changed the centroid generation: this batch was assigned against
    // the OLD centroids, so publishing it would bucket its vectors
    // against the wrong generation. Abort; the rerun re-assigns
    // against the new centroids (the orphan directory is overwritten,
    // or vacuumed if never retried).
    Segments.append(spark, path, snap, batchId, batchId, Seq("corpus"),
      Seq(Segments.unchanged("centroids")(
        s"retrain committed during append of batch '$batchId' — the " +
          "batch was bucketed against the superseded centroid " +
          "generation; rerun appendToIvfIndex to re-assign it"))) {
      val centroids = loadCentroids(spark, path, snap)
      require(centroids.nonEmpty, s"appendToIvfIndex: empty index at $path")
      graft.functions.VectorExprs.register(spark)
      import graft.functions.VectorExprs.dotF64
      // the layout is self-describing: metadata columns come from the
      // stored corpus schema, and the batch must supply them
      val meta = ivfMetaCols(spark, path, snap)
      requireMeta(newVecs, meta, "appendToIvfIndex")
      Clustering.assignTo(
          newVecs.select(col(idCol).as("vec_id") +:
            asDouble(col(vecCol)).as("_v") +: meta.map(col): _*),
          centroids)
        .select(col("vec_id") +: col("_v").as("v") +:
          sqrt(dotF64(col("_v"), col("_v"))).as("nrm") +:
          col("cluster").as("bucket") +: meta.map(col): _*)
        .write.mode("overwrite").partitionBy("bucket")
        // the batch value is encoded in the target path, so the write is
        // naturally scoped to this segment — never the corpus
        .parquet(s"$path/corpus/batch=$batchId")
    }

  /** Compact a persisted [[saveIvfIndex]] index's corpus back to a
    * single segment — the maintenance step that closes the append
    * lifecycle (train rarely → append often → COMPACT occasionally →
    * serve always): every [[appendToIvfIndex]] / streamed batch leaves
    * its own `batch=<id>` partition tree, and hundreds of small
    * per-batch files per cell eventually dominate scan open-cost.
    * Folds the snapshot's segments into a NEW
    * `batch=compact_v<version>_<id>` segment (values unchanged —
    * gated x99 replays x76's oracle across a compaction; cell
    * (`bucket`) partitioning preserved, so serve-time pruning is
    * untouched) and commits through the manifest CAS: segments
    * appended AFTER the compaction began are carried forward, never
    * dropped, and in-flight readers keep their resolved snapshot (old
    * segments stay until [[vacuumIvfIndex]]). Partial batch
    * directories (crashed appends, never committed) are excluded by
    * construction — the fold reads only manifest-listed segments. The
    * `applied` record is carried, so late retries of folded batches
    * still no-op. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactIvfIndexFrom(spark, path, Segments.snapshot(spark, path))

  /** Snapshot-taking core of [[compactIvfIndex]] — `private[ext]` for
    * the concurrency specs (replay the compact-races-retrain and
    * compact-races-compact windows against a stale snapshot). */
  private[ext] def compactIvfIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot): Unit = {
    if (snap.segs("corpus").length <= 1 &&
      snap.segs(IvfDeletesTable).isEmpty) return
    // readIvfCorpus is tombstone-aware, so the fold physically removes
    // deleted vectors; the tombstone table empties in the same commit.
    // Metadata columns are carried — folding must not strip the
    // pre-filter surface. Beyond the shared fold guards, a retrain
    // that won the slot re-bucketed the corpus against a NEW centroid
    // generation: prepending our old-generation copy would duplicate
    // every vec_id under stale buckets.
    Segments.fold(spark, path, snap, Seq("corpus"), "compactIvfIndex",
      Some(IvfDeletesTable), Seq(Segments.unchanged("centroids")(
        "retrain committed during compaction — the compacted segment " +
          "is bucketed against the superseded centroid generation; " +
          "discard and rerun compactIvfIndex if still needed"))) { seg =>
      readIvfCorpus(spark, path, snap)
        .select(col("vec_id") +: col("v") +: col("nrm") +:
          col("bucket").cast(LongType).as("bucket") +:
          ivfMetaCols(spark, path, snap).map(col): _*)
        .repartition(col("bucket"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"$path/corpus/batch=$seg")
    }
  }

  /** RETRAIN a persisted [[saveIvfIndex]] index in place — the action
    * the [[ivfCellStats]] monitoring signal calls for when frozen-
    * centroid appends have skewed the cells: train fresh centroids on
    * the LIVE corpus (every base + appended vector), re-bucket all of
    * it into one new corpus segment, and commit both in a single
    * manifest version — so a reader resolving any snapshot gets a
    * centroid generation and a corpus bucketed BY that generation,
    * never a mix, and in-flight readers finish on the old generation
    * (old segments stay until [[vacuumIvfIndex]]). The `applied`
    * record is carried: a late retry of an already-ingested batch
    * still no-ops after the retrain.
    *
    * Result contract: with the same (kCentroids, iters) the retrained
    * index serves exactly what [[ivfLearnedTopK]] trained on the live
    * corpus serves (gated x108 replays x67's full-corpus oracle over a
    * subset-trained + appended + retrained index). Concurrency
    * contract: APPENDS COMPOSE — a batch committed while the retrain
    * was training is detected at commit time, re-assigned against the
    * NEW centroids, and carried into the retrained snapshot, so the
    * result equals retrain-then-append (ExtSpec pins it); an append
    * still in flight when the retrain commits aborts its own commit
    * and re-assigns on rerun ([[appendToIvfIndex]]'s generation
    * guard). Only other MAINTENANCE ops (compact, retrain) must be
    * serialized with retrain; readers need no coordination. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, kCentroids: Int = 8, iters: Int = 2,
      trainSample: Option[String] = None): Unit =
    retrainIvfIndexFrom(spark, path, Segments.snapshot(spark, path),
      kCentroids, iters, trainSample)

  /** Snapshot-taking core of [[retrainIvfIndex]] — `private[ext]` so
    * the concurrency specs can deterministically replay the
    * append-lands-mid-retrain window (resolve a snapshot, commit an
    * append, then drive the retrain from the STALE snapshot — the
    * carry loop must fold the unseen batch in). */
  private[ext] def retrainIvfIndexFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      snap: graft.sinks.IndexSnapshot, kCentroids: Int = 8,
      iters: Int = 2, trainSample: Option[String] = None): Unit = {
    val seg = s"retrain_v${snap.version}_" +
      java.util.UUID.randomUUID().toString.take(8)
    val meta = ivfMetaCols(spark, path, snap)
    val live = readIvfCorpus(spark, path, snap)
      .select(col("vec_id") +: col("v") +: col("nrm") +:
        meta.map(col): _*)
    val centroids = Clustering.kmeansCentroids(live, "vec_id", "v",
      kCentroids, iters, trainSample)
    import spark.implicits._
    centroids.toDF("cluster_id", "centroid")
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/centroids/$seg")
    Clustering.assignTo(
        live.select(col("vec_id") +: col("v").as("_v") +:
          col("nrm") +: meta.map(col): _*),
        centroids)
      .select(col("vec_id") +: col("_v").as("v") +: col("nrm") +:
        col("cluster").as("bucket") +: meta.map(col): _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(s"$path/corpus/batch=$seg")
    val sawCorpus = snap.segs("corpus").toSet
    // Appends may land while the retrain trains and re-buckets (minutes
    // of wall at corpus scale) — the commit loop CARRIES them instead
    // of aborting: each corpus segment the snapshot didn't contain is
    // re-read (bounded: one append batch, never the corpus),
    // re-assigned against the NEW centroids into its own
    // `<seg>_carry_<batch>` segment, and committed alongside, so the
    // final snapshot equals retrain-then-append exactly (ExtSpec pins
    // the convergence). Concurrent COMPACTIONS/RETRAINS still abort:
    // their segments are full old-generation copies whose re-assignment
    // would duplicate every vec_id — maintenance ops serialize, appends
    // don't have to.
    var carried = Map.empty[String, String] // unseen batch -> carry seg
    var committed = false
    while (!committed) {
      val cur = Segments.latest(spark, path).getOrElse(snap)
      val unseen = cur.segs("corpus")
        .filterNot(s => sawCorpus.contains(s) || carried.contains(s))
      unseen.foreach { b =>
        require(!b.startsWith("compact_v") && !b.startsWith("retrain_v"),
          s"concurrent maintenance committed segment '$b' during " +
            "retrain — compaction/retrain must be serialized with " +
            "retrain (appends compose); rerun retrainIvfIndex")
        val carrySeg = s"${seg}_carry_$b"
        Clustering.assignTo(
            spark.read.parquet(s"$path/corpus/batch=$b")
              .select(col("vec_id") +: col("v").as("_v") +:
                col("nrm") +: meta.map(col): _*),
            centroids)
          .select(col("vec_id") +: col("_v").as("v") +: col("nrm") +:
            col("cluster").as("bucket") +: meta.map(col): _*)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("bucket")
          .parquet(s"$path/corpus/batch=$carrySeg")
        carried += (b -> carrySeg)
      }
      try {
        Segments.commit(spark, path, snap) { c =>
          // a still-newer append may have landed since `cur` was read;
          // bounce out to re-bucket it rather than dropping it
          if (c.segs("corpus").exists(s =>
              !sawCorpus.contains(s) && !carried.contains(s)))
            throw new RetrainCarryRetry
          // a delete committing mid-retrain scoped its tombstones to
          // batch names the retrain replaces — abort rather than
          // resurrect (the rerun trains on the post-delete live corpus)
          require(c.segs(IvfDeletesTable) ==
              snap.segs(IvfDeletesTable),
            "a delete committed during retrain — its tombstones are " +
              "scoped to segments the retrain replaces; rerun " +
              "retrainIvfIndex against the new snapshot")
          // carry order follows the winning snapshot's commit order
          val carrySegs = c.segs("corpus").flatMap(carried.get)
          // tombstoned vectors were excluded from the retrained fold
          // (readIvfCorpus), so the tombstones are baked in — drop them
          c.copy(tables = c.tables +
            ("corpus" -> (seg +: carrySegs)) +
            ("centroids" -> Seq(seg)) +
            (IvfDeletesTable -> Seq.empty[String]))
        }
        committed = true
      } catch { case _: RetrainCarryRetry => () }
    }
  }

  /** Control-flow sentinel for [[retrainIvfIndex]]'s carry loop: a new
    * append landed inside the CAS window and must be re-bucketed before
    * the retrain can commit. */
  private final class RetrainCarryRetry
    extends RuntimeException("retrain carry retry", null, false, false)

  /** Per-cell occupancy of a persisted [[saveIvfIndex]] index — the
    * monitoring hook behind the append lifecycle's accepted drift
    * (appends assign against FROZEN centroids, so cell balance decays
    * as the distribution shifts; [[appendToIvfIndex]] scaladoc):
    * (bucket, n_vecs, frac) over the live snapshot, base and appended
    * segments alike. Probe cost per query is ∝ the probed cells'
    * occupancy, so a rising max(frac) IS the "probe cost degraded,
    * retrain now" signal — the embedding-space analogue of
    * [[graft.ext.TextAnalysis.termDrift]]. Gated x105 (subset-trained
    * index + appended drift vs a full re-assignment oracle).
    *
    * Scale shape: one partial+final count keyed on the partition
    * column (k rows cross the wire), plus the sanctioned provably-1-row
    * broadcast total — never a corpus shuffle. */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val corpus = readIvfCorpus(spark, path, Segments.snapshot(spark, path))
    val counts = corpus
      .groupBy(col("bucket").cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
    val total = corpus.agg(count(lit(1)).as("_t"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_vecs"),
        round(col("n_vecs").cast(DoubleType) /
          col("_t").cast(DoubleType), 6).as("frac"))
      .orderBy(col("bucket"))
  }

  /** Reclaim corpus segments and manifests unreferenced by the newest
    * `keepVersions` snapshots — the GC half of [[compactIvfIndex]]
    * (which deletes nothing, so in-flight readers finish on their
    * resolved snapshot). Same retention contract as
    * [[graft.ext.TextAnalysis.vacuumBm25Index]]. */
  /** Clone ONE snapshot of a persisted [[saveIvfIndex]] (or
    * [[saveIvfPqIndex]] — `extraTables` = Seq("codebooks")) index to
    * `dstPath` — backup/restore, promotion, or branching. The clone
    * serves exactly the source's as-of read and is fully independent
    * thereafter; the carried `applied` record keeps idempotent-append
    * retries consistent. */
  def cloneIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, dstPath: String,
      asOfVersion: Option[Long] = None,
      extraTables: Seq[String] = Nil): Unit =
    Segments.cloneTo(spark, path,
      Segments.snapshot(spark, path, asOfVersion), dstPath,
      Seq("corpus", "centroids", IvfDeletesTable) ++ extraTables,
      CorpusSegDir)

  /** The corpus stores segment `s` as the `batch=s` partition
    * directory; every other table uses the plain name. */
  private val CorpusSegDir: (String, String) => String =
    (t, s) => if (t == "corpus") s"batch=$s" else s

  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 2,
      pinnedVersions: Set[Long] = Set.empty): Unit =
    Segments.vacuum(spark, path, keepVersions,
      Seq("corpus", "centroids", IvfDeletesTable), CorpusSegDir,
      pinnedVersions)

  /** Serve query batches from a persisted [[saveIvfIndex]] index: no
    * retraining, no re-bucketing — the centroid reload is k rows, and
    * the corpus scan is bounded to the probed cell directories. Result
    * is exactly [[ivfLearnedTopK]] on the same (corpus, queries). */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2, asOfVersion: Option[Long] = None): DataFrame = {
    // time travel: a retained older version serves its own centroid
    // generation AND its own corpus — never a mix (one snapshot reads
    // both)
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val centroids = loadCentroids(spark, path, snap)
    require(centroids.nonEmpty, s"queryIvfIndex: empty index at $path")
    val c = readIvfCorpus(spark, path, snap)
      .select(col("vec_id"), col("v"),
        col("bucket").cast(LongType).as("bucket"), col("nrm"))
    serveBuckets(c, queries, idCol, vecCol, k, centroids, nprobe)
  }

  /** FILTERED vector search over a persisted [[saveIvfIndex]] index —
    * top-k among only the vectors whose METADATA satisfies
    * `predicate` (language, source, license, recency …): the
    * vector-database "filtered search" feature, served as a
    * PRE-filter. The predicate applies to the corpus read BEFORE
    * candidate scoring, so the result is exactly
    * [[ivfLearnedTopKWith]] on the filtered corpus — k survivors per
    * query whenever the probed cells hold that many, never the
    * post-filter failure mode (filter the top-k after scoring and a
    * selective predicate leaves < k rows). Cost shape is unchanged:
    * the scan stays bounded to the probed cells, with the metadata
    * predicate pushed into those cells' parquet scans — filtering
    * costs column-pruned predicate evaluation, not a wider scan.
    * Metadata lives in the index (`saveIvfIndex(metaCols = …)`);
    * appends supply it, compaction/retrain carry it, deletes and time
    * travel compose. */
  def queryIvfIndexFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, predicate: org.apache.spark.sql.Column, nprobe: Int = 2,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val centroids = loadCentroids(spark, path, snap)
    require(centroids.nonEmpty,
      s"queryIvfIndexFiltered: empty index at $path")
    val c = readIvfCorpus(spark, path, snap)
      .filter(predicate)
      .select(col("vec_id"), col("v"),
        col("bucket").cast(LongType).as("bucket"), col("nrm"))
    serveBuckets(c, queries, idCol, vecCol, k, centroids, nprobe)
  }

  /** Incremental embedding NEAR-DUP ADMISSION against a persisted
    * [[saveIvfIndex]] index — the vector-modal member of the admission
    * family (exact digests: `Corpus.incrementalDedup` x15; lexical
    * near-dup: [[DedupOps.minhashAdmit]] x118): returns the rows of
    * `newVecs` whose cosine against EVERY indexed vector in their
    * `nprobe` probed cells stays below `threshold` — i.e. the batch
    * minus its semantic duplicates of the corpus (SemDeDup's admission
    * half, served from the inverted file instead of a fresh
    * clustering). Probe-bounded: each incoming vector compares against
    * ~nprobe/kCentroids of the corpus, never all of it; the accepted
    * approximation is exactly x07/x67's (a near-dup hiding in an
    * unprobed cell is missed — raise nprobe to trade cost for recall).
    * Caller contract: incoming ids disjoint from the indexed ids (the
    * append contract), so no self-pair exclusion is needed. Compose
    * with [[appendToIvfIndex]] to ingest the admitted batch — a
    * replayed batch then self-rejects (cos = 1 against itself). */
  def ivfNearDupAdmit(spark: org.apache.spark.sql.SparkSession,
      path: String, newVecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val snap = Segments.snapshot(spark, path)
    val centroids = loadCentroids(spark, path, snap)
    require(centroids.nonEmpty, s"ivfNearDupAdmit: empty index at $path")
    graft.functions.VectorExprs.register(spark)
    import graft.functions.VectorExprs.{dotF64, sqDistF64}
    val c = readIvfCorpus(spark, path, snap)
      .select(col("vec_id"), col("v"),
        col("bucket").cast(LongType).as("bucket"), col("nrm"))
    val probeList = slice(array_sort(array(centroids.map { case (id, v) =>
      struct(sqDistF64(col("qv"), typedLit(v)).as("d"),
        lit(id).as("cl")) }: _*)), 1, nprobe)
    val q = newVecs.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qnrm", sqrt(dotF64(col("qv"), col("qv"))))
      .select(col("query_id"), col("qv"), col("qnrm"),
        explode(probeList).as("_pr"))
      .select(col("query_id"), col("qv"), col("qnrm"),
        col("_pr.cl").as("bucket"))
    val rejected = c.join(broadcast(q), Seq("bucket"))
      .filter(round(coalesce(
        try_divide(dotF64(col("qv"), col("v")),
          col("qnrm") * col("nrm")), lit(0.0)), 6) >= threshold)
      .select(col("query_id").as(idCol)).distinct()
    newVecs.join(rejected, Seq(idCol), "left_anti")
  }

  /** REINDEX (upsert) vectors in a persisted [[saveIvfIndex]] index —
    * [[graft.ext.TextAnalysis.reindexBm25Docs]]'s vector twin, and the
    * re-embedding primitive: when a document's content changes, its
    * NEW embedding replaces the old one (old version tombstoned via
    * its (vec_id, batch) scope, new version assigned against the
    * frozen centroids and landed as a fresh batch segment no tombstone
    * covers). Ids not currently indexed insert cleanly. Both halves
    * key idempotent `reidx_<reindexId>` markers; a crash between them
    * resumes at the append, and the readable window between the two
    * commits is read-committed (the Lucene-update semantics). */
  def reindexIvfVecs(spark: org.apache.spark.sql.SparkSession,
      path: String, vecs: DataFrame, idCol: String, vecCol: String,
      reindexId: String): Unit = {
    deleteFromIvfIndex(spark, path, vecs.select(col(idCol)), idCol,
      s"reidx_$reindexId")
    appendToIvfIndex(spark, path, vecs, idCol, vecCol,
      s"reidx_$reindexId")
  }

  /** Persist an IVFPQ (IVFADC) index — [[ivfPqTopK]]'s train-once half
    * joined to the [[saveIvfIndex]] lifecycle: coarse centroids, the m
    * per-subspace PQ codebooks, and the corpus as (vec_id, bucket,
    * codes) — m SMALL INTS per vector instead of dim floats, bucketed
    * by coarse cell — all committed under ONE manifest version
    * ([[graft.sinks.IndexManifest]]). This is the billion-vector
    * serving layout (Jégou et al. IVFADC / the FAISS default): at
    * serve time a query reads ~nprobe cells of m-byte codes and never
    * touches a raw vector. Same snapshot-consistency contract as the
    * IVF index: a reader resolves one manifest, so centroids,
    * codebooks, and corpus can never mix generations. */
  def saveIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, kCentroids: Int = 8, coarseIters: Int = 2,
      m: Int = 4, ks: Int = 8, pqIters: Int = 2,
      trainSample: Option[String] = None,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(metaCols.forall(c => !IvfCoreCols.contains(c)),
      s"metaCols may not collide with the layout's core columns " +
        s"($IvfCoreCols)")
    Segments.drop(spark, path)
    // coarse training and the m PQ codebook trainers are independent
    // driver-blocking Lloyd's runs — overlap them, and then overlap the
    // three table writes (each internally unchanged; values bit-equal)
    graft.functions.VectorExprs.register(spark)
    val (centroids, cbs) = Concurrently.both(
      Clustering.kmeansCentroids(corpus, idCol, vecCol,
        kCentroids, coarseIters, trainSample),
      pqCodebooks(corpus, idCol, vecCol, m, ks, pqIters, trainSample))
    Concurrently.all(Seq(
      () => centroids.toDF("cluster_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids/base"),
      () => cbs.zipWithIndex.flatMap { case (cb, i) =>
          cb.map { case (id, v) => (i, id, v) }
        }.toDF("subspace", "cluster_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/codebooks/base"),
      () => attachMeta(ivfPqEncode(corpus, idCol, vecCol, centroids, cbs),
          corpus, idCol, metaCols)
        .withColumn("batch", lit("base"))
        .write.mode("overwrite").partitionBy("batch", "bucket")
        .parquet(s"$path/corpus")))
    Segments.create(spark, path, Map("corpus" -> Seq("base"),
      "centroids" -> Seq("base"), "codebooks" -> Seq("base")))
  }

  /** Reload a [[saveIvfPqIndex]] index's codebooks for one snapshot:
    * m×ks sub-centroids, subspace-ordered, id-sorted within each
    * (the [[pqCodebooks]] contract). */
  private def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: graft.sinks.IndexSnapshot)
      : Seq[Seq[(Long, Seq[Double])]] = {
    import spark.implicits._
    val segs = snap.segs("codebooks")
    require(segs.length == 1,
      s"index at $path must have exactly one codebook generation " +
        s"(got $segs)")
    spark.read.parquet(s"$path/codebooks/${segs.head}")
      .select(col("subspace"), col("cluster_id"), col("centroid"))
      .as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r._2, r._3)).sortBy(_._1).toSeq)
  }

  /** Serve query batches from a persisted [[saveIvfPqIndex]] index —
    * no training, no encoding: centroid + codebook reloads are k-row /
    * m×ks-row, and the corpus scan reads only the probed cells' CODES.
    * Result is exactly [[ivfPqTopK]] on the same (corpus, queries)
    * with the same training params (ExtSpec pins it; gated x115
    * replays x84's oracle from a cold reload). `asOfVersion` time
    * travel serves any retained snapshot in full. */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 2, asOfVersion: Option[Long] = None)
      : DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val centroids = loadCentroids(spark, path, snap)
    val cbs = loadPqCodebooks(spark, path, snap)
    require(centroids.nonEmpty, s"queryIvfPqIndex: empty index at $path")
    val enc = readIvfCorpus(spark, path, snap)
      .select(col("vec_id"),
        col("bucket").cast(LongType).as("bucket"), col("codes"))
    servePqBuckets(enc, queries, idCol, vecCol, k, centroids, cbs,
      nprobe)
  }

  /** FILTERED ADC serve from a persisted [[saveIvfPqIndex]] index —
    * [[queryIvfIndexFiltered]] on the codes layout: the metadata
    * predicate PRE-filters the probed cells' rows, so every query
    * gets k SURVIVING candidates (never a post-filtered short list),
    * and the predicate pushes into the probed cells' parquet scans.
    * Requires the index to have been saved with `metaCols`; appends
    * infer the columns from the stored schema, compaction and
    * retrain carry them, deletes and time travel compose — the same
    * self-describing-layout lifecycle the IVF side has (x129),
    * gated x145. */
  def queryIvfPqIndexFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, predicate: org.apache.spark.sql.Column, nprobe: Int = 2,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = Segments.snapshot(spark, path, asOfVersion)
    val centroids = loadCentroids(spark, path, snap)
    val cbs = loadPqCodebooks(spark, path, snap)
    require(centroids.nonEmpty,
      s"queryIvfPqIndexFiltered: empty index at $path")
    val enc = readIvfCorpus(spark, path, snap)
      .filter(predicate)
      .select(col("vec_id"),
        col("bucket").cast(LongType).as("bucket"), col("codes"))
    servePqBuckets(enc, queries, idCol, vecCol, k, centroids, cbs,
      nprobe)
  }

  /** Append new vectors to a persisted [[saveIvfPqIndex]] index:
    * assign + PQ-encode against the FROZEN centroids and codebooks
    * (driver-held reloads) into one new `batch=<batchId>` corpus
    * segment — [[appendToIvfIndex]]'s contract verbatim (idempotent
    * per batchId via the manifest `applied` record; the commit aborts
    * if a retrain changed either generation mid-append). Accepted
    * drift: appended vectors move neither the cells nor the codebooks
    * — monitor cell skew ([[ivfCellStats]] works unchanged on this
    * layout) and rebuild when quantization error degrades. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newVecs: DataFrame, idCol: String,
      vecCol: String, batchId: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    Segments.append(spark, path, snap, batchId, batchId, Seq("corpus"),
      Seq(Segments.unchanged("centroids", "codebooks")(
        s"index generation changed during append of batch '$batchId'" +
          " — the batch was encoded against superseded " +
          "centroids/codebooks; rerun appendToIvfPqIndex"))) {
      val centroids = loadCentroids(spark, path, snap)
      val cbs = loadPqCodebooks(spark, path, snap)
      require(centroids.nonEmpty,
        s"appendToIvfPqIndex: empty index at $path")
      // metadata columns are inferred from the stored schema (the
      // self-describing-layout contract shared with appendToIvfIndex)
      val meta = ivfMetaCols(spark, path, snap)
      requireMeta(newVecs, meta, "appendToIvfPqIndex")
      attachMeta(ivfPqEncode(newVecs, idCol, vecCol, centroids, cbs),
          newVecs, idCol, meta)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/corpus/batch=$batchId")
    }
  }

  /** RETRAIN a persisted [[saveIvfPqIndex]] index in place: fresh
    * coarse centroids AND codebooks trained on the CALLER-SUPPLIED
    * corpus, the whole corpus re-assigned + re-encoded, and all three
    * tables committed in ONE manifest version (readers never mix
    * generations; in-flight readers finish on the old one).
    *
    * Why the corpus is a parameter here, unlike [[retrainIvfIndex]]:
    * the IVFPQ index stores CODES, not vectors — raw vectors are gone
    * by design (the m-bytes-per-vector trade), so neither retraining
    * nor re-encoding is possible from the index alone. For the same
    * reason the commit ABORTS if ANY segment committed concurrently
    * (an unseen append's codes cannot be carried across a codebook
    * generation): IVFPQ retrain must be serialized with appends,
    * where the vector-storing IVF retrain composes with them. The
    * `applied` record is carried, so late retries of ingested batches
    * still no-op. Caller contract: `corpus` must be the live indexed
    * id set (the source of truth the appends came from). */
  def retrainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, idCol: String, vecCol: String,
      kCentroids: Int = 8, coarseIters: Int = 2, m: Int = 4,
      ks: Int = 8, pqIters: Int = 2,
      trainSample: Option[String] = None): Unit = {
    import spark.implicits._
    val snap = Segments.snapshot(spark, path)
    val seg = s"retrain_v${snap.version}_" +
      java.util.UUID.randomUUID().toString.take(8)
    // the stored layout's metadata list, read BEFORE the new segment
    // lands; the caller corpus (the source of truth) must supply it
    val meta = ivfMetaCols(spark, path, snap)
    requireMeta(corpus, meta, "retrainIvfPqIndex")
    // overlap coarse + codebook training, then the three table writes
    // (the saveIvfPqIndex discipline; values bit-equal to serial)
    graft.functions.VectorExprs.register(spark)
    val (centroids, cbs) = Concurrently.both(
      Clustering.kmeansCentroids(corpus, idCol, vecCol,
        kCentroids, coarseIters, trainSample),
      pqCodebooks(corpus, idCol, vecCol, m, ks, pqIters, trainSample))
    Concurrently.all(Seq(
      () => centroids.toDF("cluster_id", "centroid")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/centroids/$seg"),
      () => cbs.zipWithIndex.flatMap { case (cb, i) =>
          cb.map { case (id, v) => (i, id, v) }
        }.toDF("subspace", "cluster_id", "centroid")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/codebooks/$seg"),
      () => attachMeta(ivfPqEncode(corpus, idCol, vecCol, centroids, cbs),
          corpus, idCol, meta)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"$path/corpus/batch=$seg")))
    val sawCorpus = snap.segs("corpus").toSet
    Segments.commit(spark, path, snap) { c =>
      require(c.segs("corpus").toSet == sawCorpus,
        "a segment committed during IVFPQ retrain — this index stores " +
          "codes, so an unseen batch cannot be re-encoded against the " +
          "new codebooks from the index alone; serialize appends and " +
          "maintenance with retrainIvfPqIndex and rerun")
      require(c.segs(IvfDeletesTable) == snap.segs(IvfDeletesTable),
        "a delete committed during IVFPQ retrain — rerun with a " +
          "corpus that reflects it (the caller-supplied corpus is the " +
          "source of truth; a stale one would resurrect deleted ids)")
      // the retrained segment holds exactly the caller's (post-delete)
      // corpus, so prior tombstones are baked in — drop them
      c.copy(tables = c.tables + ("corpus" -> Seq(seg)) +
        ("centroids" -> Seq(seg)) + ("codebooks" -> Seq(seg)) +
        (IvfDeletesTable -> Seq.empty[String]))
    }
  }

  /** Compact a [[saveIvfPqIndex]] corpus back to one segment — same
    * fold/CAS/guard contract as [[compactIvfIndex]] (codes instead of
    * raw vectors; values provably unchanged). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val snap = Segments.snapshot(spark, path)
    if (snap.segs("corpus").length <= 1 &&
      snap.segs(IvfDeletesTable).isEmpty) return
    // metadata columns carried — folding must not strip the
    // pre-filter surface (the compactIvfIndex rule, codes edition)
    Segments.fold(spark, path, snap, Seq("corpus"), "compactIvfPqIndex",
      Some(IvfDeletesTable), Seq(Segments.unchanged("centroids",
        "codebooks")("index generation changed during compaction — " +
          "discard and rerun compactIvfPqIndex if still needed"))) { seg =>
      readIvfCorpus(spark, path, snap)
        .select(col("vec_id") +: col("codes") +:
          col("bucket").cast(LongType).as("bucket") +:
          ivfMetaCols(spark, path, snap).map(col): _*)
        .repartition(col("bucket"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"$path/corpus/batch=$seg")
    }
  }

  /** Retention GC for [[saveIvfPqIndex]] — [[vacuumIvfIndex]] with the
    * codebooks table included. */
  def vacuumIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int = 2): Unit =
    Segments.vacuum(spark, path, keepVersions,
      Seq("corpus", "centroids", "codebooks", IvfDeletesTable),
      CorpusSegDir)

  /** Reciprocal-rank fusion of two retriever result lists — the 2-list
    * form of [[rrfFuseN]] kept for the common exact+approximate pair. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60)
      : DataFrame = rrfFuseN(Seq(a, b), k, c)

  /** Reciprocal-rank fusion of N retriever result lists (Cormack et
    * al., SIGIR 2009): `rrf(v) = Σ_lists 1/(c + rank_list(v))`, summed
    * in FIXED list-declaration order — a vector missing from a list
    * contributes 0. Rank-based fusion needs no score calibration
    * between retrievers (cosine vs ADC distance vs BM25 are
    * incomparable; ranks always compare), which is why it's the
    * standard way to combine a lexical retriever with one or more
    * vector retrievers — the production hybrid-search shape
    * ([[graft.ext.TextAnalysis.bm25RankedList]] + [[bruteForceTopK]] /
    * [[ivfTopK]] / [[pqTopK]], gated x85).
    *
    * Inputs are (query_id, rank, vec_id, …) lists as every retriever
    * here emits. Scale shape: top-k lists are |Q|·k rows — vanishing
    * next to the corpus — so the N−1 fusion joins and the window are
    * driver-trivial at any corpus size; the cost lives in the
    * retrievers. Bit-stable: ranks are integers, each contribution is
    * one exact IEEE division, the N-term sum is a left fold in list
    * order, and ties break on vec_id. */
  def rrfFuseN(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.length >= 2,
      s"rrfFuseN needs at least 2 lists (got ${lists.length})")
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(c >= 0, s"rrf constant must be >= 0 (got $c)")
    val renamed = lists.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id"), col("vec_id"), col("rank").as(s"_r$i"))
    }
    val joined = renamed.reduce(
      (a, b) => a.join(b, Seq("query_id", "vec_id"), "full_outer"))
    val score = lists.indices.map(i =>
        coalesce(lit(1.0) / (col(s"_r$i") + lit(c.toLong))
          .cast(DoubleType), lit(0.0)))
      .reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_rrf").desc, col("vec_id").asc)
    joined
      .withColumn("_rrf", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), round(col("_rrf"), 6).as("rrf"))
  }

  /** Retrieval-quality evaluation: per-query recall@k (plus the
    * reciprocal rank of the exact top-1) of an APPROXIMATE ranked list
    * against the EXACT one — the number that decides every ANN
    * trade-off in this file (nprobe, kCentroids, PQ bits, sampling
    * rate). An index you can't score is an index you can't tune;
    * "measure, don't guess" applies to retrieval quality exactly as it
    * does to wall-clock.
    *
    * Inputs are two (query_id, rank, vec_id, …) lists as every
    * retriever here emits ([[bruteForceTopK]] as the exact reference;
    * [[ivfLearnedTopKWith]]/[[pqTopK]]/[[queryIvfIndex]]/… as the
    * candidate under test). Both are truncated to `rank <= k` first,
    * so passing deeper lists measures recall@k, not recall@whatever.
    * Output, one row per EXACT-side query:
    *
    *  - `hits`    — |exact top-k ∩ approx top-k|
    *  - `recall`  — hits / |exact top-k| (the standard |retrieved ∩
    *    relevant| / |relevant|; the divisor is k whenever the exact
    *    list is full, and the actual list size when the corpus gave
    *    back fewer — a well-formed list always self-scores 1.0;
    *    rounded 6)
    *  - `top1_rr` — 1 / approx-rank of the exact #1 result, 0 when the
    *    approximate list misses it entirely (the MRR contribution —
    *    averages to MRR@k across queries; rounded 6)
    *
    * Scale shape: both sides are |Q|·k rows — vanishing next to the
    * corpora that produced them — so the equi-join on (query, id) and
    * the per-query aggregate are driver-trivial at any corpus size;
    * the cost lives in the retrievers being compared. Deterministic:
    * both input lists carry their own id tie-breaks, the intersection
    * is exact set arithmetic, and the only division is one IEEE op per
    * row. Run it on a deterministic query SAMPLE at 100 TB — recall
    * estimates converge like any proportion (~1/√|Q|), so a few
    * thousand queries score an arbitrarily large index. */
  /** Truncate a ranked list to `rank <= k` and normalize malformed
    * input to at most one row per (query, id) AND per (query, rank) —
    * the defensive gate both eval metrics share. A well-formed
    * retriever list passes through unchanged; a fused/buggy list with
    * one id at two ranks keeps its lowest rank, and two ids at one
    * rank keep the lowest id — deterministic, and it caps the rows at
    * k per query, which is what keeps recall and nDCG in [0, 1] for
    * ANY input (EvalSpec pins both; EngineProps sweeps random
    * malformed lists). Ranks below 1 are dropped too — a 1-based
    * ranked list has no rank 0, and letting one through would put a
    * log₂(1) = 0 in nDCG's discount denominator. */
  private def rankedTopK(list: DataFrame, queryCol: String,
      idCol: String, k: Int, rankAlias: String): DataFrame =
    list.filter(col("rank") >= 1 && col("rank") <= k)
      .select(col(queryCol), col(idCol), col("rank").as(rankAlias))
      .groupBy(col(queryCol), col(idCol))
      .agg(min(col(rankAlias)).as(rankAlias))
      .groupBy(col(queryCol), col(rankAlias))
      .agg(min(col(idCol)).as(idCol))
      .select(col(queryCol), col(idCol), col(rankAlias))

  def recallAtK(exact: DataFrame, approx: DataFrame, queryCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"recallAtK: k must be >= 1 (got $k)")
    val e = rankedTopK(exact, queryCol, idCol, k, "_erank")
    val a = rankedTopK(approx, queryCol, idCol, k, "_arank")
    e.join(a, Seq(queryCol, idCol), "left")
      .groupBy(col(queryCol))
      .agg(
        count(col("_arank")).as("hits"),
        // divide by the EXACT list's actual size, not k: the standard
        // |retrieved ∩ relevant| / |relevant| — identical when the
        // exact list is full (the normal case), and a well-formed
        // list self-scores 1.0 even when shorter than k (the
        // EngineProps-caught definition bug: hits/k scored a 1-item
        // list's perfect self-eval 1/k)
        round(count(col("_arank")) / count(lit(1)), 6).as("recall"),
        round(coalesce(
          max(when(col("_erank") === 1,
            lit(1.0) / col("_arank").cast(DoubleType))),
          lit(0.0)), 6).as("top1_rr"))
  }

  /** Rank-aware retrieval evaluation: per-query nDCG@k of an
    * approximate list against the exact one — the third leg of the
    * eval triad next to [[recallAtK]]'s set overlap and top-1 RR.
    * Recall treats rank 1 and rank k the same; nDCG discounts each
    * hit by its position, so it distinguishes "found everything but
    * shuffled" from "found everything in order" — the number that
    * moves when an ANN index returns the right set in the wrong
    * order (common once PQ distortion enters).
    *
    * Definitions (all deterministic): graded relevance of an approx
    * item = `k + 1 − exact_rank` when it appears in the exact top-k,
    * else 0 (linear gains — integer, engine-portable; exponential
    * 2^rel gains explode for nothing at these depths);
    * `DCG = Σ rel / log₂(rank + 1)` over the approx list;
    * `IDCG` = the gains at DENSE ideal positions 1..n (gains decrease
    * in exact rank, so the exact order is the ideal ordering, and the
    * discount uses the row's position, not its raw rank);
    * `nDCG = DCG / IDCG ∈ [0, 1]`. log₂ is computed as
    * `ln(x) / ln 2` with the identical expression tree on both
    * engines; inputs are small integers, so the per-term doubles are
    * bit-equal and only the k-term sum carries the usual order ulp —
    * absorbed by round-6. Same |Q|·k scale shape, truncation, and
    * malformed-input dedup as [[recallAtK]]; queries the approx side
    * misses entirely score 0. Output: (query, dcg, idcg, ndcg). */
  def ndcgAtK(exact: DataFrame, approx: DataFrame, queryCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"ndcgAtK: k must be >= 1 (got $k)")
    val log2 = (c: org.apache.spark.sql.Column) =>
      log(c.cast(DoubleType) + lit(1.0)) / log(lit(2.0))
    val e = rankedTopK(exact, queryCol, idCol, k, "_erank")
    val a = rankedTopK(approx, queryCol, idCol, k, "_arank")
    val dcg = a.join(e, Seq(queryCol, idCol), "left")
      .withColumn("_g",
        coalesce(lit(k + 1L) - col("_erank"), lit(0L))
          .cast(DoubleType) / log2(col("_arank")))
      .groupBy(col(queryCol)).agg(sum(col("_g")).as("_dcg"))
    // IDCG places the gains at DENSE ideal positions 1..n (gains
    // decrease in exact rank, so exact order = ideal order — but the
    // POSITION is the row number, not the raw rank: a sparse exact
    // list's rank-3-only item still ideally sits at position 1, else
    // an approx list that finds it at position 1 would score
    // nDCG > 1 — the third EngineProps catch)
    val idealPos = Window.partitionBy(col(queryCol))
      .orderBy(col("_erank"))
    e.withColumn("_pos", row_number().over(idealPos).cast(LongType))
      .withColumn("_ig", (lit(k + 1L) - col("_erank"))
        .cast(DoubleType) / log2(col("_pos")))
      .groupBy(col(queryCol)).agg(sum(col("_ig")).as("_idcg"))
      .join(dcg, Seq(queryCol), "left")
      .select(col(queryCol),
        round(coalesce(col("_dcg"), lit(0.0)), 6).as("dcg"),
        round(col("_idcg"), 6).as("idcg"),
        round(coalesce(col("_dcg"), lit(0.0)) / col("_idcg"), 6)
          .as("ndcg"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998): greedily build a k-list where each step picks the
    * candidate maximizing `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` —
    * relevance traded against redundancy with what's already selected.
    * The de-duplicating re-ranker every retrieval stack ends with: a
    * plain top-k hands a RAG prompt five near-identical passages; MMR
    * hands it five RELEVANT-AND-DISTINCT ones. Step 1 has no selected
    * set, so its score is `λ·rel` (the retriever's top-1 survives).
    *
    * Shape: candidates come from the exact scan ([[bruteForceTopK]],
    * `fetch` per query — swap in an IVF/PQ list at scale, the re-rank
    * is retriever-agnostic); candidate↔candidate cosines are ONE keyed
    * |Q|·fetch² self-join computed up front with the native dot
    * expression (never recomputed inside the loop); then k−1
    * driver-paced rounds, each a handful of keyed joins + one
    * `max_by` argmax per query over ≤ fetch rows — every round is
    * all-queries-parallel, nothing ever collects. All loop inputs are
    * `Checkpoints.materialize`d once (candidate lists are |Q|·fetch
    * rows — re-running the retriever k times would dominate the cost
    * otherwise), rounds checkpoint-and-release per the house loop
    * discipline, and superseded blocks are freed before returning.
    *
    * Determinism: `rel` and `sim` are round-6 cosines, the MMR score
    * is two IEEE ops on them with the SAME λ literals both engines
    * parse, and every argmax breaks ties to the lowest id — the
    * selection sequence is bit-reproducible (the unrolled-CTE oracle
    * replays it step for step). Queries with fewer than k candidates
    * return short lists. Output: (query_id, rank, vec_id, mmr). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, fetch: Int, lambda: Double = 0.7)
      : DataFrame = {
    require(k >= 1, s"mmrRerank: k must be >= 1 (got $k)")
    require(fetch >= k,
      s"mmrRerank: fetch must be >= k (got fetch=$fetch, k=$k)")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrRerank: lambda must be in [0, 1] (got $lambda)")
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    val vecs = corpus.select(col(idCol).cast(LongType).as("vec_id"),
        asDouble(col(vecCol)).as("_v"))
      .withColumn("_nrm", sqrt(dotF64(col("_v"), col("_v"))))
    // one retriever pass + vector attach, materialized ONCE — every
    // loop round is a narrow projection of this block
    val base = Checkpoints.materialize(
      bruteForceTopK(corpus, queries, idCol, vecCol, fetch)
        .join(vecs, Seq("vec_id")), reliable = false)
    val cand = base.select(col("query_id"), col("vec_id"),
      col("cos").as("rel"))
    val ca = base.select(col("query_id"), col("vec_id").as("_ia"),
      col("_v").as("_va"), col("_nrm").as("_na"))
    val cb = base.select(col("query_id"), col("vec_id").as("_ib"),
      col("_v").as("_vb"), col("_nrm").as("_nb"))
    // candidate↔candidate cosines: keyed |Q|·fetch² self-join, round-6
    // like every cosine in this file; materialized for the loop
    val ps = Checkpoints.materialize(
      ca.join(cb, Seq("query_id")).filter(col("_ia") =!= col("_ib"))
        .withColumn("sim", round(coalesce(try_divide(
          dotF64(col("_va"), col("_vb")), col("_na") * col("_nb")),
          lit(0.0)), 6))
        .select(col("query_id"), col("_ia"), col("_ib"), col("sim")),
      reliable = false)
    val lam = lit(lambda)
    val om = lit(1.0 - lambda)
    var all = Checkpoints.materialize(
      cand.groupBy(col("query_id")).agg(
          max_by(struct(col("vec_id"), col("rel")),
            struct(col("rel"), -col("vec_id"))).as("_s"))
        .select(col("query_id"), col("_s.vec_id").as("vec_id"),
          col("_s.rel").as("rel"), (lam * col("_s.rel")).as("mmr"),
          lit(1L).as("rank")), reliable = false)
    for (t <- 2 to k) {
      val ms = ps.join(
          all.select(col("query_id"), col("vec_id").as("_ib")),
          Seq("query_id", "_ib"))
        .groupBy(col("query_id"), col("_ia"))
        .agg(max(col("sim")).as("_ms"))
        .withColumnRenamed("_ia", "vec_id")
      val next = cand
        .join(all.select("query_id", "vec_id"),
          Seq("query_id", "vec_id"), "left_anti")
        .join(ms, Seq("query_id", "vec_id"))
        .withColumn("_mmr", lam * col("rel") - om * col("_ms"))
        .groupBy(col("query_id")).agg(
          max_by(struct(col("vec_id"), col("rel"), col("_mmr")),
            struct(col("_mmr"), -col("vec_id"))).as("_s"))
        .select(col("query_id"), col("_s.vec_id").as("vec_id"),
          col("_s.rel").as("rel"), col("_s._mmr").as("mmr"),
          lit(t.toLong).as("rank"))
      val grown = Checkpoints.materialize(all.unionByName(next),
        reliable = false)
      Checkpoints.release(all)
      all = grown
    }
    // the caller owns `all`; the loop inputs are superseded garbage
    Checkpoints.release(base)
    Checkpoints.release(ps)
    all.select(col("query_id"), col("rank").cast(LongType).as("rank"),
      col("vec_id"), round(col("mmr"), 6).as("mmr"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the `k` MOST similar corpus vectors carrying a DIFFERENT
    * label — maximally confusable, maximally informative negatives
    * (random negatives quickly become trivial; x57's in-batch
    * negatives are the cheap tier, these are the expensive-and-better
    * tier of the same pipeline).
    *
    * Exact by construction: the label filter rides the same sanctioned
    * scan × |Q| broadcast-nested-loop baseline as [[bruteForceTopK]]
    * (whitelisted in PlanAuditSpec). At corpus scale, generate
    * candidates with the IVF/PQ paths instead ([[ivfLearnedTopKWith]]
    * probes or [[pqTopK]]'s ADC scan) and apply the same
    * different-label filter before the per-query top-k window — the
    * definition is filter-then-rank either way, which is what this
    * exact form pins. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int)
      : DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    val c = corpus.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v"), col(labelCol).as("neg_label"))
      .withColumn("nrm", sqrt(dotF64(col("v"), col("v"))))
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"), col(labelCol).as("_qlabel"))
      .withColumn("qnrm", sqrt(dotF64(col("qv"), col("qv"))))
    val scored = c.join(broadcast(q),
        col("vec_id") =!= col("query_id") &&
          col("neg_label") =!= col("_qlabel"))
      .withColumn("cos", round(coalesce(
        try_divide(dotF64(col("qv"), col("v")), col("qnrm") * col("nrm")),
        lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("neg_label"), col("cos"))
  }

  /** Product-quantization codebooks: split the embedding space into `m`
    * contiguous subspaces and train an independent k-means codebook
    * ([[Clustering.kmeansCentroids]] — deterministic, RNG-free) in each.
    * Returns one id-sorted centroid list per subspace.
    *
    * Training cost is m small k-means runs (each scans the corpus;
    * train on a sample at scale — the codebook is a k·d/m-double
    * driver payload either way). `dim` is taken from the first seed
    * row; vectors of any other length are excluded by the per-subspace
    * trainer (the [[Clustering.assignTo]] contract). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, iters: Int, trainSample: Option[String] = None)
      : Seq[Seq[(Long, Seq[Double])]] = {
    require(m >= 1, s"need at least one subspace (got $m)")
    // sample ONCE here (not per-subspace): every subspace trains on the
    // same id set, mirroring one sampled scan feeding m trainers
    val training = trainSample match {
      case Some(hex) => Corpus.deterministicSample(corpus, col(idCol), hex)
      case None      => corpus
    }
    val head = training.select(col(idCol).cast(LongType).as("_id"),
        asDouble(col(vecCol)).as("_v"))
      .orderBy(col("_id").asc).select(size(col("_v"))).limit(1)
      .collect().headOption
    require(head.nonEmpty, "pqCodebooks: empty training corpus (no " +
      "vectors to train codebooks on" +
      trainSample.fold("")(h => s"; trainSample=$h filtered all rows") +
      ")")
    val dim = head.get.getInt(0)
    require(dim % m == 0,
      s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // the m subspace trainers are INDEPENDENT small k-means runs whose
    // cost is driver-blocking round trips (seed collect + one collect
    // per Lloyd round), not data — run them CONCURRENTLY (the guide's
    // overlap-independent-jobs discipline): wall = the slowest trainer
    // instead of the sum of m. Each call is internally unchanged (same
    // seeds, same per-subspace jobs), so the codebooks are bit-equal to
    // the serial form's.
    graft.functions.VectorExprs.register(corpus.sparkSession)
    Concurrently.all((0 until m).map(i => () =>
      Clustering.kmeansCentroids(
        training.select(col(idCol),
          slice(asDouble(col(vecCol)), i * sub + 1, sub).as("_sv")),
        idCol, "_sv", ks, iters)))
  }

  /** PQ-encode a corpus against trained [[pqCodebooks]]: each vector
    * becomes `m` codebook slots (`code_0 … code_{m-1}`, 1-based index
    * into the id-sorted codebook — argmin with lowest-id tiebreak, the
    * [[Clustering.assignTo]] rule). This is the 100 TB storage shape:
    * m small ints per vector instead of dim floats (m=4, ks=256 → 4
    * bytes vs 256; the corpus scan of [[pqTopK]] reads only codes).
    * Pure projection against codebook literals — no join, no shuffle,
    * whole-stage codegen. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.sqDistF64
    val sub = codebooks.head.head._2.length
    codebooks.zipWithIndex.foldLeft(
      corpus.select(col(idCol).cast(LongType).as("vec_id"),
        asDouble(col(vecCol)).as("_v"))) { case (df, (cents, i)) =>
      val ds = array(cents.map(c =>
        sqDistF64(slice(col("_v"), i * sub + 1, sub),
          typedLit(c._2))): _*)
      df.withColumn("_ds", ds)
        .withColumn(s"code_$i",
          array_position(col("_ds"), array_min(col("_ds")))
            .cast(IntegerType))
        .drop("_ds")
    }.drop("_v")
  }

  /** Asymmetric-distance PQ top-k — the flat-scan ANN that still works
    * when the corpus no longer fits as floats: corpus vectors live as
    * `m` codebook slots ([[pqEncode]]), queries stay full-precision,
    * and each query precomputes ONE lookup table per subspace (its
    * exact squared-L2 to every sub-centroid — ks·m doubles per query,
    * computed once on the broadcast side, never per corpus row). The
    * scan then scores a row with m array lookups + m-1 adds over the
    * code columns — the classic ADC trade (Jégou et al., TPAMI 2011):
    * ~dim/m-fold less bandwidth and arithmetic per row, recall bounded
    * by codebook resolution (gated vs the exact scan in ExtSpec).
    *
    * Approx distance d̂(q,x) = Σ_m ‖q_m − c_{m,code_m(x)}‖², summed in
    * fixed subspace order over exact per-subspace folds — the oracle
    * replays per-subspace Lloyd's + the identical fold, so values
    * hash-match (the ~1-ulp centroid-mean wiggle is the accepted
    * x53-class caveat). METRIC is squared L2 (classical PQ); for
    * cosine ranking, L2-normalize the embedding column first — on unit
    * vectors L2 order ≡ cosine order. Recall scales with real cluster
    * structure: near-iid corpora concentrate pairwise distances and no
    * coarse code can rank a vanishing top-k gap (ExtSpec gates both a
    * clustered-corpus floor and the random-fixture sanity bound). Plan
    * shape: scan × |Q| broadcast nested loop — the sanctioned
    * [[bruteForceTopK]] baseline shape; the PQ win is per-row cost,
    * not scan count. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int = 4, ks: Int = 8,
      iters: Int = 2): DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.sqDistF64
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, ks, iters)
    val sub = cbs.head.head._2.length
    val enc = pqEncode(corpus, idCol, vecCol, cbs)
    val q = cbs.zipWithIndex.foldLeft(
      queries.select(col(idCol).cast(LongType).as("query_id"),
        asDouble(col(vecCol)).as("_qv"))) { case (df, (cents, i)) =>
      df.withColumn(s"_lut$i", array(cents.map(c =>
        sqDistF64(slice(col("_qv"), i * sub + 1, sub),
          typedLit(c._2))): _*))
    }.drop("_qv")
    val ad = (0 until m).map(i =>
        element_at(col(s"_lut$i"), col(s"code_$i")))
      .reduceLeft(_ + _)
    val scored = enc.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("_ad", ad)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_ad").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), round(col("_ad"), 6).as("adist"))
  }

  /** IVFPQ — the composition [[ivfLearnedTopKWith]] (inverted file of
    * learned cells) × [[pqTopK]] (PQ-compressed residents, asymmetric
    * distance): the actual 100 TB ANN architecture (Jégou et al.,
    * TPAMI 2011 — "IVFADC"). The corpus is bucketed by nearest coarse
    * centroid AND stored as `m` codebook slots; a query probes its
    * `nprobe` nearest cells and ADC-scans ONLY those cells' codes.
    *
    * Why the composition wins at scale: x67's inverted file divides the
    * scan (each query reads ~nprobe/kCentroids of the corpus) but still
    * reads dim floats per candidate; x74's ADC reads m bytes per
    * candidate but scans everything. IVFPQ divides BOTH — probe-bounded
    * scan of m-byte codes. Cost per query ≈ nprobe·N/kCentroids rows ×
    * (m lookups + m−1 adds), memory per vector m codes — the FAISS
    * default shape for billion-vector serving.
    *
    * Plan shape: corpus side is ONE projection (cell assignment + m
    * code argmins against centroid literals — no join, no shuffle,
    * whole-stage codegen); the probe is a broadcast HASH join on the
    * cell id (the x67 shape — NOT x74's sanctioned scan×|Q| NLJ: the
    * inverted file turns the pairing into an equi-join). Candidate
    * scoring, tiebreaks, and the top-k window follow [[pqTopK]]
    * exactly: d̂ sums exact per-subspace folds in fixed order, ranks
    * break ties on vec_id, TakeOrdered-style per-query window.
    *
    * Approximation contract: with `nprobe = kCentroids` (probe every
    * cell) the output EQUALS [[pqTopK]] trained with the same
    * codebooks (pinned in ExtSpec); smaller nprobe trades the x67
    * recall bound on top. Codes are trained on the RAW vectors (not
    * cell residuals): residual encoding couples the codebook to the
    * coarse quantizer (retraining both on every centroid drift) for a
    * precision gain that matters below the recall the gates pin —
    * the decoupled form composes with the frozen-centroid append
    * lifecycle ([[appendToIvfIndex]]). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, kCentroids: Int = 8,
      coarseIters: Int = 2, nprobe: Int = 2, m: Int = 4, ks: Int = 8,
      pqIters: Int = 2, trainSample: Option[String] = None): DataFrame = {
    val coarse = Clustering.kmeansCentroids(corpus, idCol, vecCol,
      kCentroids, coarseIters, trainSample)
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, ks, pqIters,
      trainSample)
    ivfPqTopKWith(corpus, queries, idCol, vecCol, k, coarse, cbs, nprobe)
  }

  /** [[ivfPqTopK]] against PRECOMPUTED coarse centroids and PQ
    * codebooks — train once, serve many (both payloads are small
    * driver-held literals: kCentroids×dim + m×ks×dim/m doubles). */
  def ivfPqTopKWith(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]], nprobe: Int)
      : DataFrame = {
    require(centroids.nonEmpty, "ivfPqTopKWith: no coarse centroids")
    require(codebooks.nonEmpty, "ivfPqTopKWith: no PQ codebooks")
    servePqBuckets(
      ivfPqEncode(corpus, idCol, vecCol, centroids, codebooks),
      queries, idCol, vecCol, k, centroids, codebooks, nprobe)
  }

  /** Join per-vector metadata back onto an encoded (vec_id, …) frame —
    * one keyed join against the encode's source; the PQ layout's
    * analogue of the IVF save carrying `metaCols` through
    * `assignTo`. No-op for an empty list; the source must carry the
    * columns (callers require it with a contract-naming error). */
  private def attachMeta(enc: DataFrame, source: DataFrame,
      idCol: String, metaCols: Seq[String]): DataFrame =
    if (metaCols.isEmpty) enc
    else enc.join(
      source.select(col(idCol).cast(LongType).as("vec_id") +:
        metaCols.map(col): _*),
      Seq("vec_id"))

  /** Corpus side of IVFADC: (vec_id, bucket, codes ARRAY<INT>) — cell
    * assignment + m code argmins against centroid/codebook literals in
    * ONE scan projection (no join, no shuffle, whole-stage codegen).
    * The `codes` array is the persisted storage shape of
    * [[saveIvfPqIndex]]: m small ints per vector instead of dim
    * floats. */
  private def ivfPqEncode(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.sqDistF64
    val sub = codebooks.head.head._2.length
    codebooks.zipWithIndex.foldLeft(
      Clustering.assignTo(
          corpus.select(col(idCol).cast(LongType).as("vec_id"),
            asDouble(col(vecCol)).as("_v")), centroids)
        .select(col("vec_id"), col("_v"), col("cluster").as("bucket"))
    ) { case (df, (cents, i)) =>
      val ds = array(cents.map(c =>
        sqDistF64(slice(col("_v"), i * sub + 1, sub),
          typedLit(c._2))): _*)
      df.withColumn("_ds", ds)
        .withColumn(s"code_$i",
          array_position(col("_ds"), array_min(col("_ds")))
            .cast(IntegerType))
        .drop("_ds")
    }
      .select(col("vec_id"), col("bucket"),
        array(codebooks.indices.map(i => col(s"code_$i")): _*)
          .as("codes"))
  }

  /** Serving core shared by [[ivfPqTopKWith]] (in-memory encoding) and
    * [[queryIvfPqIndex]] (codes persisted by [[saveIvfPqIndex]]):
    * `enc` must carry (vec_id, bucket, codes). Query side computes
    * nprobe probe cells (exact centroid distance, id tiebreak — the
    * serveBuckets rule) + one ADC lookup table per subspace; the probe
    * is a broadcast hash join on the cell id. */
  private def servePqBuckets(enc: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]], nprobe: Int)
      : DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    graft.functions.VectorExprs.register(queries.sparkSession)
    import graft.functions.VectorExprs.sqDistF64
    val m = codebooks.length
    val sub = codebooks.head.head._2.length
    val probeList = slice(array_sort(array(centroids.map { case (id, v) =>
      struct(sqDistF64(col("_qv"), typedLit(v)).as("d"),
        lit(id).as("cl")) }: _*)), 1, nprobe)
    val luts = (0 until m).map(i => col(s"_lut$i"))
    val q = codebooks.zipWithIndex.foldLeft(
      queries.select(col(idCol).cast(LongType).as("query_id"),
        asDouble(col(vecCol)).as("_qv"))) { case (df, (cents, i)) =>
      df.withColumn(s"_lut$i", array(cents.map(c =>
        sqDistF64(slice(col("_qv"), i * sub + 1, sub),
          typedLit(c._2))): _*))
    }
      .select(col("query_id") +: luts :+ explode(probeList).as("_pr"): _*)
      .select(col("query_id") +: luts :+ col("_pr.cl").as("bucket"): _*)
    val ad = (0 until m).map(i =>
        element_at(col(s"_lut$i"), element_at(col("codes"), i + 1)))
      .reduceLeft(_ + _)
    val scored = enc.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("_ad", ad)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_ad").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), round(col("_ad"), 6).as("adist"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x| / 127, levels = round-half-up(x / scale) ∈ [-127,
    * 127]. The 4× storage/bandwidth cut that makes a 100 TB ANN corpus
    * shuffle-able and cache-resident; reconstruction x̂ = q·scale has
    * per-element error ≤ scale/2.
    *
    * Engine-determinism contract (what makes this hash-matchable across
    * engines rather than "approximately equal"): every step is an exact
    * IEEE-754 double op — F32→F64 widening, `max`, one division, and
    * `floor(x + 0.5)` for round-half-up. No engine-specific
    * `round()` (half-even vs half-away divergence) and no float
    * accumulation order anywhere. Zero vectors quantize to all-zero
    * levels with scale 0. Narrow projection: no shuffle, rides the scan. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String)
      : DataFrame =
    df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .select(col("vec_id"),
        when(col("scale") === 0.0,
            transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"), x =>
            floor(x / col("scale") + lit(0.5)).cast(IntegerType)))
          .as("q"),
        col("scale"))

  /** Top-k by quantized dot product — the consumer of [[quantizeInt8]]:
    * score(a,b) = scale_a · scale_b · (q_a ⋅ q_b). This is the int8 flat
    * scan of a quantized ANN index: the corpus side streams 1-byte
    * levels instead of 4-byte floats (the 4× bandwidth cut is the whole
    * point), the broadcast query set is tiny, and the per-query top-k is
    * the same window as [[bruteForceTopK]] — whose scan×|Q| shape (the
    * one sanctioned nested-loop baseline) this shares.
    *
    * Exactness of the approximation: int8×int8 products (≤127²) summed
    * over realistic dims stay < 2⁵³, so evaluating the integer dot in
    * doubles via the native `dotF64` is EXACT integer arithmetic — the
    * only approximation is the quantization itself, and the score is
    * bit-deterministic across engines and summation orders. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.dotF64
    def qz(df: DataFrame) = quantizeInt8(df, idCol, vecCol)
      .select(col("vec_id"),
        transform(col("q"), x => x.cast(DoubleType)).as("qd"),
        col("scale"))
    val c = qz(corpus)
    val q = qz(queries).select(col("vec_id").as("query_id"),
      col("qd").as("qqd"), col("scale").as("qscale"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("score",
        col("qscale") * col("scale") * dotF64(col("qqd"), col("qd")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), round(col("score"), 6).as("score"))
  }
}
