package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own code: seeded inputs, output checks, metric names.
  * Run with `sbt test` from the `perfbench` directory. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val tmp: Path = Files.createTempDirectory(
    Files.createDirectories(java.nio.file.Paths.get("target")), "bench-spec")
  private lazy val spark: SparkSession = Main.session(2, tmp.resolve("local").toString)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  private def ctx(name: String, seed: Long) =
    new Ctx(spark, seed, tmp.resolve(name).toString)

  /** A tiny workload, set up and run for one whole cycle. */
  private def ran(workload: String, dir: String): Workload = {
    val w = Main.make(workload, ctx(dir, 7), tiny = true)
    w.setup()
    w.startCycle(0)
    (0 until w.cycle).foreach { i =>
      w.prepare(i); w.batch(i)
      if (w.maintains(i)) w.maintain()
      (0 until w.queriesPerBatch).foreach(_ => w.query(i))
    }
    w
  }

  test("the same seed gives the same input digest, another seed another") {
    def digest(dir: String, seed: Long) = {
      val w = Main.make("corpus_dedup", ctx(dir, seed), tiny = true)
      w.setup()
      Workload.fileDigest(w.ctx.path("input"))
    }
    val a = digest("seed-a", 1)
    assert(a == digest("seed-b", 1))
    assert(a != digest("seed-c", 2))
  }

  test("corpus_dedup: the check passes, then rejects a dropped survivor") {
    val w = ran("corpus_dedup", "corpus").asInstanceOf[CorpusDedup]
    assert(w.check() == Nil)
    val curated = w.output("curated")
    val kept = spark.read.parquet(curated)
    val victim = kept.select(min("doc_id")).head().getLong(0)
    kept.filter(col("doc_id") =!= victim).localCheckpoint()
      .write.mode("overwrite").parquet(curated + "_cut")
    Workload.delete(spark, curated)
    spark.read.parquet(curated + "_cut").write.parquet(curated)
    assert(w.check().exists(_.contains("corpus_dedup")))
  }

  test("index_live: the check passes, then rejects an admitted duplicate") {
    val w = ran("index_live", "live").asInstanceOf[IndexLive]
    assert(w.check() == Nil)
    val admitted = w.paths("admitted")
    spark.range(1).select(lit(999999999L).as("doc_id"), lit("x").as("text"))
      .write.parquet(s"$admitted/batch=forged")
    assert(w.check().exists(_.contains("admitted")))
  }

  test("index_live: the check rejects a lost index update") {
    val w = ran("index_live", "live2").asInstanceOf[IndexLive]
    // a delete the change stream never carried: every even id leaves the
    // IVF index but stays in the net corpus
    graft.ext.Similarity.deleteFromIvfIndex(spark, w.paths("ivf"),
      spark.range(0, 100000).filter(col("id") % 2 === 0)
        .select(col("id").as("doc_id")), "doc_id", "forged")
    assert(w.check().exists(_.contains("ivf")))
  }

  test("etl_daily: the check rejects a warehouse that lost rows") {
    val w = ran("etl_daily", "etl").asInstanceOf[EtlDaily]
    assert(!w.check().exists(_.startsWith("ads_campaign_performance")))
    val perf = s"${w.warehouse}/ads_campaign_performance"
    spark.read.parquet(perf).filter(col("ad_id") =!= "ad_1")
      .write.parquet(perf + "_cut")
    Workload.delete(spark, perf)
    spark.read.parquet(perf + "_cut").write.partitionBy("date_start").parquet(perf)
    assert(w.check().exists(_.startsWith("ads_campaign_performance")))
  }

  test("every printed metric is named in BENCHMARK.json, with its unit") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def named(key: String) = {
      val it = json.get(key).elements()
      var out = Map.empty[String, String]
      while (it.hasNext) {
        val m = it.next()
        out += m.get("name").asText() -> m.get("unit").asText()
      }
      out
    }
    assert(Main.EndToEnd.toMap == named("end_to_end"))
    assert(Main.PerLayer.toMap == named("per_layer"))
    // the etl_daily-only names are not listed yet; they must not clash
    assert(Main.EtlPerLayer.map(_._1).toSet.intersect(
      (Main.EndToEnd ++ Main.PerLayer).map(_._1).toSet).isEmpty)
    val grammar = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
    (Main.EndToEnd ++ Main.PerLayer ++ Main.EtlPerLayer).foreach { case (n, _) =>
      assert(n.matches(grammar), n)
    }
    val it = json.get("workloads").elements()
    while (it.hasNext)
      assert(Main.Workloads.contains(it.next().get("name").asText()))
  }
}
