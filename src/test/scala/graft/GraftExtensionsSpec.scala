package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.NativeFunctionsSpec

/** The suite JVM shares one SparkSession across suites, so
  * `.withExtensions` on getOrCreate would silently no-op when another
  * suite created the session first. Instead, apply the extension's
  * injection list to the live session's registry (the same call
  * SparkSession construction performs) — order-independent. */
class GraftExtensionsSpec extends SparkSpec {

  private def applyExtensions(): Unit = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val m = classOf[SparkSessionExtensions].getDeclaredMethods
      .find(_.getName.endsWith("registerFunctions"))
      .getOrElse(fail("registerFunctions not found on SparkSessionExtensions"))
    m.setAccessible(true)
    m.invoke(ext, spark.sessionState.functionRegistry)
  }

  test("extension registers native functions callable from SQL") {
    applyExtensions()
    val r = spark.sql(
      """SELECT graft_simhash64('a b c') AS sh,
                graft_dot_f64(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
                size(graft_shingle_hashes('a b c d', 2)) AS n_shingles,
                size(graft_minhash_sig(graft_shingle_hashes('a b c d', 2),
                     8)) AS sig_len""").head
    assert(r.getAs[Double]("dot") == 11.0)
    assert(r.getAs[Int]("n_shingles") == 3)
    assert(r.getAs[Int]("sig_len") == 8)
    assert(r.getAs[Long]("sh") != 0L)
  }

  test("extension registers the round-4 scalar and aggregate functions") {
    applyExtensions()
    val r = spark.sql(
      """SELECT size(graft_shingle_window_hashes('a b c d', 2)) AS n_win,
                size(graft_masked_pos_hashes('abc')) AS n_mask,
                graft_hamming_dist('abcd', 'abxd') AS hd,
                graft_hamming_dist('ab', 'abc') AS hd_len""").head
    assert(r.getAs[Int]("n_win") == 3)   // positional, not distinct
    assert(r.getAs[Int]("n_mask") == 3)
    assert(r.getAs[Long]("hd") == 1L)
    assert(r.getAs[Long]("hd_len") == Long.MaxValue)
    val agg = spark.sql(
      """SELECT graft_topk_by_score(s, id, 2) AS tk,
                graft_misra_gries(t, 2) AS mg
         FROM VALUES (1.0d, 1L, 'a'), (3.0d, 2L, 'a'), (2.0d, 3L, 'b')
           AS v(s, id, t)""").head
    assert(agg.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1))
      == Seq(2L, 3L))
    assert(agg.getSeq[String](1).toSet == Set("a", "b"))
  }

  test("extension registers the round-5 bloom and entropy functions") {
    applyExtensions()
    val r = spark.sql(
      """SELECT graft_char_entropy_stats('abab') AS st,
                graft_char_entropy_stats('') AS st_empty,
                graft_sqdist_f64(array(1.0d, 2.0d),
                                 array(4.0d, 6.0d)) AS sq,
                graft_bloom_contains(
                  (SELECT graft_bloom_agg(xxhash64(x), 4L, 64L)
                   FROM VALUES ('k1'), ('k2') AS v(x)),
                  xxhash64('k1')) AS hit""").head
    val st = r.getAs[org.apache.spark.sql.Row]("st")
    assert(math.abs(st.getDouble(0) - 1.0) < 1e-12 && st.getLong(1) == 2L)
    assert(r.isNullAt(1)) // empty string: no distribution
    assert(r.getAs[Double]("sq") == 25.0)
    assert(r.getAs[Boolean]("hit")) // no false negatives
  }

  test("extension registers the round-6 image-header function") {
    applyExtensions()
    val r = spark.sql(
      """SELECT graft_image_header_meta(
                  concat(unhex('474946383961'),  -- 'GIF89a'
                         unhex('4001'), unhex('C800'))) AS m,
                graft_image_header_meta(unhex('DEADBEEF')) AS bad""").head
    val m = r.getAs[org.apache.spark.sql.Row]("m")
    assert(m.getString(0) == "gif" && m.getInt(1) == 320 && m.getInt(2) == 200)
    assert(r.isNullAt(1))
  }

  test("extension injects every native-function family's builders") {
    applyExtensions()
    val registry = spark.sessionState.functionRegistry
    for ((family, _, builders) <- NativeFunctionsSpec.families;
         (name, _) <- builders) {
      val info = registry.lookupFunction(FunctionIdentifier(name))
      assert(info.exists(_.getClassName == classOf[GraftExtensions].getName),
        s"$family's $name does not resolve to the extension's entry: $info")
    }
  }
}
