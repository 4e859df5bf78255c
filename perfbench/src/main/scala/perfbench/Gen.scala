package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated document row before its text and vector are drawn:
  * `src` picks the text (and, with `subPos`, the near-duplicate edit),
  * `vecSrc` picks the vector, `jitter` perturbs it. */
final case class DocSpec(id: Long, src: Long, subPos: Int, vecSrc: Long,
    jitter: Boolean)

/** Seeded input generator. Every value is a pure function of the seed and
  * a row's ids (hashes, never an RNG whose state depends on partitioning),
  * so one seed always produces the same rows, and the parquet files are
  * written from a fixed partitioning so their bytes repeat as well. The
  * generator reads nothing. Each shape constant below names where its
  * value comes from: a measurement of the sf0.1 fixture tables
  * (`events`, `documents`, `embeddings`; see TESTDATA.md and FIXTURES.md)
  * or, where it says so, a free choice.
  */
final class Gen(val spark: SparkSession, val seed: Long) {
  private val sp = spark

  /** Free choice. The sf0.1 `documents` table draws its words from 31
    * distinct tokens, so two unrelated documents share most 3-shingles;
    * 500 words keep unrelated documents far below every near-duplicate
    * threshold, so the injected groups are the only duplicates. */
  val Vocab = 500

  /** The sf0.1 `embeddings` table: every vector has 64 components. */
  val Dim = 64

  /** Words per document, `MinWords` to `MinWords + WordSpan - 1`. The
    * sf0.1 `documents` table has a median and mean of 54 words (range
    * 10–100); the range is narrowed to 40–60 around that centre, a free
    * choice, so a one-token edit keeps a 3-shingle Jaccard of about 0.85
    * in every document and each injected near-duplicate is one. */
  val MinWords = 40
  val WordSpan = 21

  /** The sf0.1 `events` table starts on 2024-01-01 (UTC). */
  val Day0Micros = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Uniform double in [0, 1) keyed on the seed, a salt and `keys`. */
  def u(salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1L << 53))
      .cast(DoubleType) / lit((1L << 53).toDouble)

  def below(n: Int, salt: Int, keys: Column*): Column =
    floor(u(salt, keys: _*) * n).cast(IntegerType)

  def word(salt: Int, keys: Column*): Column =
    concat(lit("w"), below(Vocab, salt, keys: _*).cast(StringType))

  /** Words of document `src`. Position `subPos`, when it is not
    * negative, holds the token `x<subTag>` instead, which makes a
    * near-duplicate whose 3-shingle Jaccard to `src` is about 0.85. */
  def text(src: Column, subPos: Column, subTag: Column): Column = {
    val n = lit(MinWords) + below(WordSpan, 11, src)
    array_join(transform(sequence(lit(0), n - 1), i =>
      when(i === subPos, concat(lit("x"), subTag.cast(StringType)))
        .otherwise(word(12, src, i))), " ")
  }

  /** The embedding of `src` (components uniform in [-1, 1)), plus a jitter of relative size 1e-5
    * keyed on `id` when `jitter` is true. The jitter is far below the
    * distance between unrelated vectors, so a copy stays in its
    * original's k-means cell. */
  def vector(src: Column, id: Column, jitter: Column): Column =
    transform(sequence(lit(0), lit(Dim - 1)), i =>
      (u(21, src, i) * 2 - 1 +
        when(jitter, (u(22, id, i) * 2 - 1) * 1e-5).otherwise(lit(0.0)))
        .cast(FloatType))

  /** Query terms: `n` words drawn from document `src`'s own text. */
  def terms(src: Column, n: Int): Column = {
    val len = lit(MinWords) + below(WordSpan, 11, src)
    transform(sequence(lit(0), lit(n - 1)), j =>
      word(12, src, floor(u(31, src, j) * len).cast(IntegerType)))
  }

  /** Write `df` as one parquet file, so the bytes repeat run to run. */
  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------- Meta-Ads

  /** The sf0.1 `events` table: these five types, each about a fifth of
    * the rows (`error` 19.8%); `events` draws them uniformly. */
  val EventTypes = Seq("view", "click", "signup", "purchase", "error")

  /** Events of one day: `perDay` rows with ids from `idBase`, timestamps
    * inside day `tsDay`, `ads` distinct ads. */
  def events(idBase: Long, perDay: Long, tsDay: Int, ads: Int): DataFrame =
    spark.range(idBase, idBase + perDay, 1, 1).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Day0Micros + tsDay * 86400000000L) +
        floor(u(1, col("id")) * 86400000000.0).cast(LongType)).as("ts"),
      below(ads, 2, col("id")).cast(LongType).as("user_id"),
      element_at(typedLit(EventTypes), below(EventTypes.size, 3, col("id")) + 1)
        .as("event_type"),
      // the sf0.1 `value` column is exponential: mean 49.9, standard
      // deviation 49.6, median 34.8 (= 50 ln 2), maximum 560.2
      round(-log(lit(1.0) - u(4, col("id"))) * 50, 2).as("value"),
      // the sf0.1 `props` shape: {"k": <0..99>}
      concat(lit("{\"k\": "), below(100, 5, col("id")).cast(StringType),
        lit("}")).as("props"))

  // ----------------------------------------------------------- corpus

  def docsFrom(specs: DataFrame): DataFrame =
    specs.select(col("id").as("doc_id"),
      text(col("src"), col("subPos"), col("id")).as("text"),
      vector(col("vecSrc"), col("id"), col("jitter")).as("embedding"))

  def specFrame(specs: Seq[DocSpec]): DataFrame = {
    import sp.implicits._
    specs.toDF().repartition(1).sortWithinPartitions("id")
  }

  /** Base documents `[from, from + n)`: own text, own vector. */
  def baseSpecs(from: Long, n: Long): DataFrame =
    spark.range(from, from + n, 1, 1).select(col("id"), col("id").as("src"),
      lit(-1).as("subPos"), col("id").as("vecSrc"), lit(false).as("jitter"))
}
