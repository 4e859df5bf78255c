package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Micro-bench behind SCALE.md's full-outer crossover table: measures
  * the e3 J1 full-outer (post-aggregation inputs) and a raw-scan
  * full-outer against a small dimension, each via the built-in
  * sort-merge plan and via [[graft.ops.Joins.fullOuterViaBroadcast]].
  * The numbers decide WHICH plan each shape gets (Pipelines.leads keeps
  * the built-in; the rewrite is for raw-scan left sides).
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.JoinCrossoverBench"` — prints one JSON line of median seconds
  * over 3 reps after 1 warmup, forcing each plan with a count().
  */
object JoinCrossoverBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = EngineConf.session("graft-join-crossover")

    def time(f: () => Long): Double = {
      f() // warmup (also materializes fixture caches)
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }
      reps.sorted.apply(1)
    }

    // shape 1 — e3's REAL J1: both sides post-aggregation (the pivot's
    // groupBy already shuffled + reduced them)
    val demo = graft.ops.Actions.normalizeActions(
      graft.sources.MetaFixtures.rawInsights(spark, sfDir,
        Seq("age", "gender"), excludeErrors = true),
      graft.pipelines.Pipelines.ActionTypes)
    val joinKeys = Seq("date_start", "ad_id", "adset_id", "campaign_id")
    val geoSub = graft.ops.Dedup.dropDupes(
      graft.ops.Actions.normalizeActions(
          graft.sources.MetaFixtures.rawInsights(spark, sfDir,
            Seq("region")), graft.pipelines.Pipelines.ActionTypes)
        .select(("region" +: joinKeys).map(col).toIndexedSeq: _*))
    val e3Smj = time(() =>
      demo.join(geoSub, joinKeys, "full_outer").count())
    val e3Rewrite = time(() =>
      graft.ops.Joins.fullOuterViaBroadcast(demo, geoSub, joinKeys)
        .count())

    // shape 2 — raw-scan left side: the fact scan full-outer a small
    // dimension (the shape the rewrite exists for: SMJ would shuffle
    // the whole scan; the rewrite's only shuffle is the matched-key
    // distinct)
    val events = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val dim = graft.sources.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name"),
        col("c_acctbal")).limit(150)
    val rawSmj = time(() =>
      events.join(dim, Seq("user_id"), "full_outer").count())
    val rawRewrite = time(() =>
      graft.ops.Joins.fullOuterViaBroadcast(events, dim, Seq("user_id"))
        .count())

    println(f"""{"sf_dir":"$sfDir","e3_postagg_smj":$e3Smj%.3f,""" +
      f""""e3_postagg_rewrite":$e3Rewrite%.3f,""" +
      f""""rawscan_smj":$rawSmj%.3f,""" +
      f""""rawscan_rewrite":$rawRewrite%.3f}""")
    spark.stop()
  }
}
