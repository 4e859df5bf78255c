package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // three well-separated blobs on the axes of R^4, 8 points each, with a
  // deterministic per-point jitter so centroids genuinely move. Ids are
  // striped (id % 3 = blob) so the lowest-id seeds span the blobs — the
  // deterministic-seed contract's analogue of a decent init.
  private def blobs = {
    val pts = for {
      b <- 0 until 3
      i <- 0 until 8
    } yield {
      val base = Array.fill(4)(0.1d * ((b * 8 + i) % 5))
      base(b) = 10.0d + 0.01d * i
      (b + 3L * i, base.toSeq)
    }
    pts.toDF("vec_id", "embedding")
  }

  private def sse(iters: Int): Double =
    Clustering.kmeansAssign(blobs, "vec_id", "embedding", k = 3,
        iters = iters)
      .agg(sum("dist")).head().getDouble(0)

  test("kmeansAssign: SSE is non-increasing across Lloyd iterations") {
    val s0 = sse(0); val s1 = sse(1); val s2 = sse(2)
    assert(s1 <= s0 + 1e-9, s"iter1 SSE $s1 > iter0 $s0")
    assert(s2 <= s1 + 1e-9, s"iter2 SSE $s2 > iter1 $s1")
    assert(s1 < s0, "centroid update did not improve the seeds at all")
  }

  test("kmeansAssign: converged blobs → one cluster per blob") {
    val got = Clustering.kmeansAssign(blobs, "vec_id", "embedding",
        k = 3, iters = 3)
      .select("vec_id", "cluster").as[(Long, Long)].collect()
    assert(got.length == 24)
    // every blob lands in exactly one cluster, and distinct blobs in
    // distinct clusters
    val byBlob = got.groupBy(_._1 % 3L).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(byBlob.values.forall(_.size == 1), s"split blob: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 3, s"merged blobs: $byBlob")
    // cluster labels are seed row ids
    assert(byBlob.values.flatten.toSet.subsetOf((0L until 3L).toSet))
  }

  test("kmeansAssign: partition-layout invariant") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Clustering.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 2)
        .select("vec_id", "cluster").as[(Long, Long)].collect().toSet
    assert(run(blobs) == run(blobs.repartition(7)))
  }

  test("kmeansAssign: int ids coerce to long; string ids are a clear " +
      "error") {
    val intIds = blobs.withColumn("vec_id", $"vec_id".cast("int"))
    val got = Clustering.kmeansAssign(intIds, "vec_id", "embedding",
        k = 3, iters = 1)
      .select("vec_id", "cluster").as[(Long, Long)].collect()
    assert(got.length == 24)
    val strIds = blobs.withColumn("vec_id", $"vec_id".cast("string"))
    val e = intercept[IllegalArgumentException](
      Clustering.kmeansAssign(strIds, "vec_id", "embedding", 3, 1))
    assert(e.getMessage.contains("integral"))
  }

  test("kmeansAssign: ragged non-seed vectors are excluded, not NULL") {
    val ragged = blobs.unionByName(
      Seq((100L, Seq(1.0d, 2.0d))).toDF("vec_id", "embedding"))
    val got = Clustering.kmeansAssign(ragged, "vec_id", "embedding",
        k = 3, iters = 1)
    assert(got.count() == 24)
    assert(got.filter($"vec_id" === 100L).isEmpty)
    assert(got.filter($"cluster".isNull || $"dist".isNull).isEmpty)
  }

  test("kmeansAssign rejects bad parameters and empty input") {
    assertThrows[IllegalArgumentException](
      Clustering.kmeansAssign(blobs, "vec_id", "embedding", 0, 1))
    assertThrows[IllegalArgumentException](
      Clustering.kmeansAssign(blobs, "vec_id", "embedding", 3, -1))
    assertThrows[IllegalArgumentException](
      Clustering.kmeansAssign(blobs.filter($"vec_id" < 0L),
        "vec_id", "embedding", 3, 1))
  }

  test("kmeansCentroids releases its iteration cache when it throws") {
    spark.catalog.clearCache()
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeansCentroids(blobs.filter($"vec_id" < 0L),
        "vec_id", "embedding", k = 3, iters = 2)
    }
    assert(e.getMessage.contains("no rows to seed from"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the projected frame stayed cached after the failed seed check")
  }

  test("clusterQuality: populations sum to n, inertia sums to the " +
      "assignment SSE, well-separated blobs score silhouette near 1") {
    val q = Clustering.clusterQuality(blobs, "vec_id", "embedding",
        k = 3, iters = 3)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(q.map(_._2).sum == 24L)
    assert(q.map(_._1).toSet.size == 3)
    // inertia per cluster sums (within rounding) to kmeansAssign's SSE
    val sseTotal = Clustering.kmeansAssign(blobs, "vec_id", "embedding",
        k = 3, iters = 3)
      .agg(sum("dist")).head().getDouble(0)
    assert(math.abs(q.map(_._3).sum - sseTotal) < 1e-3,
      s"inertia ${q.map(_._3).sum} vs SSE $sseTotal")
    // blobs sit ~10 apart with sub-1 spread: simplified silhouette
    // must be near the top of its [-1, 1] range for every cluster
    assert(q.forall(_._4 > 0.8), s"weak separation: ${q.toSeq}")
    assert(q.forall(r => r._4 <= 1.0 && r._4 >= -1.0))
  }

  test("clusterQuality: a point equidistant from both centroids " +
      "scores silhouette 0, not NaN; k=1 is refused") {
    // two 1-d clusters at 0 and 10; id 4 sits exactly at 5
    val pts = Seq(
      (0L, Seq(0.0d)), (1L, Seq(0.2d)),
      (2L, Seq(10.0d)), (3L, Seq(9.8d)),
      (4L, Seq(5.0d))).toDF("vec_id", "embedding")
    val q = Clustering.clusterQuality(pts, "vec_id", "embedding",
        k = 2, iters = 0)
      .as[(Long, Long, Double, Double)].collect()
    // with iters=0 centroids are ids 0 (at 0.0) and 1 (at 0.2): id 4 is
    // NOT equidistant there — instead check the no-NaN contract plus
    // bounds, and pin the exact-tie case directly below
    assert(q.forall(r => !r._4.isNaN && r._4 <= 1.0 && r._4 >= -1.0))
    // exact tie: both centroids at distance 0 (duplicate seed points)
    val dup = Seq(
      (0L, Seq(0.0d)), (1L, Seq(0.0d))).toDF("vec_id", "embedding")
    val qd = Clustering.clusterQuality(dup, "vec_id", "embedding",
        k = 2, iters = 0)
      .as[(Long, Long, Double, Double)].collect()
    assert(qd.forall(_._4 == 0.0), s"a==b==0 must score 0: ${qd.toSeq}")
    assertThrows[IllegalArgumentException](
      Clustering.clusterQuality(blobs, "vec_id", "embedding", 1, 1))
  }
}
