package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Lloyd's k-means over an embedding column — the centroid
  * trainer behind IVF-style ANN partitioning (x07 probes data-oblivious
  * sign buckets; this op LEARNS data-adapted buckets, and
  * `Similarity.ivfLearnedTopK` composes the two into a learned-centroid
  * inverted-file search).
  *
  * Architecture is the canonical Spark shape (same as MLlib's KMeans):
  * centroids live on the DRIVER (k × dim doubles — bytes, not data),
  * assignments are a pure projection against centroid LITERALS folded
  * into whole-stage codegen (no join, no shuffle for the assign step),
  * and the centroid update is one partial-agg shuffle of k × dim cells
  * per partition. Per iteration the data is touched once; nothing wider
  * than k × dim ever moves. That plan is invariant to corpus size — at
  * 100 TB the only growth is the scan.
  *
  * Determinism contract: seeds are the k lowest-id rows (content-
  * addressed, no RNG), ties in the nearest-centroid argmin break to the
  * lowest seed id, and a cluster that empties simply drops out of the
  * next round (both engines' GROUP BY semantics — mirrored by the
  * oracle). Distances compare as exact sums of squares; the only cross-
  * engine wiggle is the 1-ulp tail of the centroid means, far below any
  * realistic argmin gap.
  */
object Clustering {

  /** Validated narrow projection: (idCol as long, `_v` as double array).
    * Integral id required up front — coerced to long, so int ids work; a
    * string id is a clear error, not a ClassCastException at seed
    * collection. */
  private[ext] def project(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(idType),
      s"kmeans: $idCol must be an integral id column (got $idType)")
    df.select(col(idCol).cast(LongType).as(idCol),
      transform(col(vecCol), x => x.cast(DoubleType)).as("_v"))
  }

  /** Nearest-centroid assignment projection: appends (cluster, dist) to
    * a projected frame (must carry `_v`). Pure projection against
    * centroid literals — no join, no shuffle; argmin ties break to the
    * FIRST (lowest-id) centroid because `centroids` is id-sorted and
    * `array_position` returns the first match. Rows whose vectors
    * disagree with the centroid dimensionality are EXCLUDED — never a
    * silently truncated distance, and never a NULL-distance row whose
    * cross-engine ordering is undefined. */
  private[ext] def assignTo(vecs: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      keepDists: Boolean = false): DataFrame = {
    graft.functions.VectorExprs.register(vecs.sparkSession)
    val dim = centroids.head._2.length
    // squared L2 to one centroid literal: native one-loop expression —
    // the zip_with/aggregate formulation evaluates interpreted per
    // element, k × dim times per row (the x08-class hazard); SqDistF64
    // is the same left fold in one primitive loop, bit-identical to the
    // list_reduce oracle
    val ds = array(centroids.map(c =>
      graft.functions.VectorExprs.sqDistF64(col("_v"), typedLit(c._2))): _*)
    val ids = typedLit(centroids.map(_._1))
    val assigned = vecs.filter(size(col("_v")) === lit(dim))
      .withColumn("_d", ds)
      .withColumn("dist", array_min(col("_d")))
      .withColumn("cluster",
        element_at(ids, array_position(col("_d"), col("dist"))
          .cast(IntegerType)))
    if (keepDists) assigned else assigned.drop("_d")
  }

  /** Train and return the final centroids after `iters` Lloyd updates:
    * id-sorted (seedRowId, mean vector) pairs, driver-held (k × dim
    * doubles). This is the reusable half of [[kmeansAssign]] — ANN
    * index builds (`Similarity.ivfLearnedTopK`) consume the centroids
    * directly as probe targets.
    *
    * Eager statistic jobs: the seed collect and each centroid update run
    * Spark jobs at CALL time (same plan-freezing behavior as
    * `ngramJaccardPairs`/`heavyTerms`) — call when the input is settled.
    * The projected (id, vector) frame is cached for the iteration jobs
    * and released on every exit, a thrown precondition included.
    *
    * `trainSample`: optional [[Corpus.deterministicSample]] hex
    * threshold applied to the TRAINING scan only (md5 of the id — same
    * content-addressed space as every other sampler, so the sampled run
    * is oracle-replayable). Centroid quality degrades ~O(1/√n) in the
    * sample size while the training cost drops linearly — at 100 TB
    * training on the full corpus is 5 full scans per Lloyd's round for
    * centroids that a 1% sample estimates within noise. Serving paths
    * (assignment, probes) are unaffected: they run against whatever
    * corpus the caller gives them. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, trainSample: Option[String] = None)
      : Seq[(Long, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0 (got $k, $iters)")
    graft.functions.VectorExprs.register(df.sparkSession)
    val training = trainSample match {
      case Some(hex) => Corpus.deterministicSample(df, col(idCol), hex)
      case None      => df
    }
    val vecs = project(training, idCol, vecCol)
    if (iters > 0)
      vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // the iteration cache is released on every exit — a failed seed
    // check or iteration job included; later consumers re-read the source
    try {
      // seeds: the k lowest ids — deterministic, engine-portable init
      var centroids: Seq[(Long, Seq[Double])] = vecs
        .orderBy(col(idCol).asc).limit(k)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toSeq
      require(centroids.nonEmpty,
        s"kmeansCentroids: input has no rows to seed from")
      val dim = centroids.head._2.length
      require(centroids.forall(_._2.length == dim),
        "ragged embedding column (seed rows disagree on dimensionality)")

      for (_ <- 0 until iters) {
        // one shuffle of (cluster, pos) cells — k*dim per partition
        // after the map-side partial agg, regardless of row count
        val cells = assignTo(vecs, centroids)
          .select(col("cluster"),
            posexplode(col("_v")).as(Seq("_p", "_x")))
          .groupBy(col("cluster"), col("_p"))
          .agg(avg(col("_x")).as("_m"))
          .collect()
        centroids = cells.groupBy(_.getLong(0)).toSeq
          .map { case (cl, rows) =>
            val m = new Array[Double](dim)
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            (cl, m.toSeq)
          }
          .sortBy(_._1)
      }
      centroids
    } finally if (iters > 0) vecs.unpersist(blocking = false)
  }

  /** Assign every row to its nearest centroid after `iters` Lloyd
    * updates. Output: (idCol, cluster, dist) — cluster is the SEED row's
    * id, dist the final squared Euclidean distance rounded to 6.
    *
    * Preconditions: see [[project]] (integral id) and [[assignTo]]
    * (uniform dimensionality; ragged non-seed rows are excluded). */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val centroids = kmeansCentroids(df, idCol, vecCol, k, iters)
    // the final (lazy) assignment re-reads the source once when the
    // caller materializes it
    assignTo(project(df, idCol, vecCol), centroids)
      .select(col(idCol), col("cluster"),
        round(col("dist"), 6).as("dist"))
  }

  /** Clustering-quality evaluation: one row per surviving cluster with
    * the three numbers that decide whether a trained partitioning is
    * any good — the evaluation half of the k-means story, the same way
    * `Similarity.recallAtK` is the evaluation half of the ANN serving
    * story. The IVF indexes freeze these centroids and live with them
    * through appends; this is the "should I retrain?" scorecard
    * (`Similarity.ivfCellStats` watches occupancy drift; this op
    * scores geometric fit).
    *
    *  - `n`          — cluster population
    *  - `inertia`    — Σ squared-L2 to the own centroid (the k-means
    *    objective; compare across k to elbow-pick)
    *  - `silhouette` — mean simplified silhouette (Kaufman &
    *    Rousseeuw's s(i) with CENTROID distances standing in for mean
    *    pairwise distances): (b−a)/max(a,b) per point, a = distance to
    *    own centroid, b = distance to the nearest OTHER centroid; 0
    *    when both are 0. In [−1, 1], higher = better separated.
    *
    * Why simplified: the full silhouette is an all-pairs O(n²)
    * computation — a non-starter at corpus scale. The centroid proxy
    * is O(n·k) and rides the SAME one-pass assignment projection as
    * [[kmeansAssign]] (distances to all k centroids are already in
    * hand; the runner-up distance is one `array_sort` away), so the
    * whole scorecard costs one scan + one k-row aggregate — no join,
    * no extra shuffle beyond the k-group agg, corpus-size-invariant
    * driver state. Deterministic: same seeds/tie-breaks as
    * [[kmeansAssign]]; only the per-cluster sums carry the usual
    * summation-order ulp, absorbed by round-6. */
  def clusterQuality(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, trainSample: Option[String] = None)
      : DataFrame = {
    require(k >= 2, s"clusterQuality: silhouette needs k >= 2 (got $k)")
    val centroids =
      kmeansCentroids(df, idCol, vecCol, k, iters, trainSample)
    require(centroids.length >= 2,
      "clusterQuality: fewer than 2 clusters survived training — " +
        "silhouette is undefined; lower k or check the input")
    val a = sqrt(col("dist"))
    val b = sqrt(element_at(array_sort(col("_d")), 2))
    assignTo(project(df, idCol, vecCol), centroids, keepDists = true)
      .withColumn("_sil",
        when(greatest(a, b) === lit(0.0), lit(0.0))
          .otherwise((b - a) / greatest(a, b)))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("dist")), 6).as("inertia"),
        round(avg(col("_sil")), 6).as("silhouette"))
  }
}
