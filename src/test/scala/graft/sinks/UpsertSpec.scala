package graft.sinks

import java.nio.file.Files

import graft.SparkSpec

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_upsert").resolve("t").toString

  test("first upsert creates the table") {
    val p = tmp()
    Upsert.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    assert(spark.read.parquet(p).count() == 2)
  }

  test("conflict keys update, new keys insert (K2, load.py:94-119)") {
    val p = tmp()
    Upsert.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    Upsert.upsert(spark, p, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val got = spark.read.parquet(p).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("upsert is idempotent: load twice ≡ once (SURVEY §5)") {
    val p = tmp()
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Upsert.upsert(spark, p, src, Seq("k"))
    Upsert.upsert(spark, p, src, Seq("k"))
    val got = spark.read.parquet(p).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b"))
  }

  test("a null key component matches itself: load twice ≡ once on both " +
      "paths") {
    // the ads_lead_insights shape: (date_start, ad_id, age, gender) with
    // no breakdown for an ad whose events carried none
    val src = Seq(("2024-01-01", 1L, Option.empty[String], "a"),
        ("2024-01-01", 2L, Some("18-24"), "b"))
      .toDF("date_start", "k", "age", "v")
    val keys = Seq("date_start", "k", "age")
    for (parts <- Seq(Nil, Seq("date_start"))) {
      val p = tmp()
      Upsert.upsert(spark, p, src, keys, parts)
      Upsert.upsert(spark, p, src, keys, parts)
      val got = spark.read.parquet(p)
        .selectExpr("CAST(date_start AS STRING)", "k", "age", "v")
        .as[(String, Long, Option[String], String)].collect()
      assert(got.sortBy(_._2).toSeq == src
        .as[(String, Long, Option[String], String)].collect().toSeq,
        s"partitionCols=$parts")
    }
  }

  test("empty source is a no-op (K6, load.py:29-31)") {
    val p = tmp()
    Upsert.upsert(spark, p, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    Upsert.upsert(spark, p,
      Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"))
    assert(spark.read.parquet(p).count() == 1)
  }

  test("partitioned upsert rewrites only touched partitions (scale path)") {
    val p = tmp()
    val day1 = Seq(("2024-01-01", 1L, "a"), ("2024-01-02", 2L, "b"))
      .toDF("date_start", "k", "v")
    Upsert.upsert(spark, p, day1, Seq("date_start", "k"), Seq("date_start"))
    // second batch touches only 2024-01-02 + a new day
    val day2 = Seq(("2024-01-02", 2L, "B"), ("2024-01-03", 3L, "c"))
      .toDF("date_start", "k", "v")
    Upsert.upsert(spark, p, day2, Seq("date_start", "k"), Seq("date_start"))
    val got = spark.read.parquet(p)
      .selectExpr("date_start", "k", "v").as[(String, Long, String)]
      .collect().toSet
    assert(got == Set(("2024-01-01", 1L, "a"), ("2024-01-02", 2L, "B"),
      ("2024-01-03", 3L, "c")))
  }

  test("recovers a table stranded mid-swap (crash between delete and " +
      "rename)") {
    val p = tmp()
    Upsert.upsert(spark, p, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    // simulate the documented non-atomic window: the merged table sits
    // fully written in __staging, the live table is already deleted
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.Path(p + "__staging")))
    // the next upsert must first complete the interrupted swap, then
    // merge against the RECOVERED table — no rows lost
    Upsert.upsert(spark, p, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val got = spark.read.parquet(p).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "__staging")))
  }

  test("unknown table name errors (load.py:62-63)") {
    intercept[IllegalArgumentException] {
      Upsert.upsertTable(spark, tmp(), "nope", Seq((1L, "a")).toDF("k", "v"))
    }
  }

  test("partitioned upsert restores partitionOverwriteMode afterwards") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    val p = tmp()
    val df = Seq(("2024-01-01", 1L, "a")).toDF("date_start", "k", "v")
    Upsert.upsert(spark, p, df, Seq("date_start", "k"), Seq("date_start"))
    Upsert.upsert(spark, p, df, Seq("date_start", "k"), Seq("date_start"))
    assert(spark.conf.getOption(key) == prior,
      "sink must not leave the session in dynamic-overwrite mode")
  }

  test("jdbc upsert SQL: ads_dimension (load.py:102-119)") {
    val s = JdbcUpsert.forContractTable("ads_dimension")
    assert(s.tempTable == "temp_ads_dimension")
    assert(s.upsert ==
      """INSERT INTO ads_dimension ("ad_id", "ad_name", "adset_id", "adset_name", "campaign_id", "campaign_name")
        |SELECT "ad_id", "ad_name", "adset_id", "adset_name", "campaign_id", "campaign_name" FROM temp_ads_dimension
        |ON CONFLICT ("ad_id")
        |DO UPDATE SET "ad_name" = EXCLUDED."ad_name", "adset_id" = EXCLUDED."adset_id", "adset_name" = EXCLUDED."adset_name", "campaign_id" = EXCLUDED."campaign_id", "campaign_name" = EXCLUDED."campaign_name";""".stripMargin)
    assert(s.dropTemp == "DROP TABLE temp_ads_dimension;")
  }

  test("jdbc upsert SQL: composite-key fact tables") {
    val perf = JdbcUpsert.forContractTable("ads_campaign_performance")
    assert(perf.upsert.contains("""ON CONFLICT ("date_start", "ad_id")"""))
    assert(!perf.upsert.contains("\"date_start\" = EXCLUDED"),
      "key columns must not be updated")
    assert(perf.upsert.contains("\"total_spend\" = EXCLUDED.\"total_spend\""))
    val leads = JdbcUpsert.forContractTable("ads_lead_insights")
    assert(leads.upsert.contains(
      """ON CONFLICT ("date_start", "ad_id", "age", "gender", "region")"""))
    // whitelisted action columns ride along in insert + update lists
    assert(leads.upsert.contains("\"lead\" = EXCLUDED.\"lead\""))
    assert(leads.upsert.contains(
      "\"offsite_conversion_fb_pixel_lead\" = EXCLUDED.\"offsite_conversion_fb_pixel_lead\""))
  }

  test("jdbc upsert SQL: ads_raw_leads casts field_data to JSONB in place") {
    val s = JdbcUpsert.forContractTable("ads_raw_leads")
    assert(s.upsert.contains(
      """CASE WHEN "field_data" IS NULL THEN NULL ELSE "field_data"::JSONB END AS "field_data""""))
    assert(s.upsert.contains(""""field_data" = EXCLUDED."field_data"::JSONB"""))
    assert(s.upsert.contains("""ON CONFLICT ("lead_id")"""))
    // INSERT and SELECT lists must stay positionally aligned: the cast
    // replaces field_data at its own position (cf. scaladoc divergence
    // note vs load.py:77-81), with ad_platform_data still last on both
    val insertLine = s.upsert.linesIterator.next()
    assert(insertLine.endsWith("\"field_data\", \"ad_platform_data\")"))
    val selectLine = s.upsert.linesIterator.drop(1).next()
    assert(selectLine.endsWith(
      """AS "field_data", "ad_platform_data" FROM temp_ads_raw_leads"""))
  }

  test("jdbc upsert SQL: unknown table / missing key column errors") {
    intercept[IllegalArgumentException] { JdbcUpsert.forContractTable("nope") }
    intercept[IllegalArgumentException] {
      JdbcUpsert.statements("ads_dimension", Seq("ad_name")) // no ad_id
    }
  }
}
