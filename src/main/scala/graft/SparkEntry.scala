package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Conform, Dedup}
import graft.pipelines.Pipelines

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ §7.5 extensions), each with DuckDB oracle SQL over the
  * same parquet tables.
  *
  * Float discipline (so value-hash compare is deterministic across
  * engines): money/quantity sums are computed as exact DECIMAL sums (order-
  * independent) and cast back to double; ratios are identical-bit divisions
  * of identical inputs, rounded to 6; small sums of 2-decimal data are
  * rounded to 2 (the true sum is a 2-decimal value, never at a rounding
  * midpoint). Timestamps are emitted as strings (engines disagree on
  * tz-awareness), dates as DATE.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(s, dir, name)

  /** sum(col) as exact decimal, back to double — order-independent.
    *
    * Quantizes from the SHORTEST decimal repr (native `DecQuantize` via
    * [[graft.ops.Metrics.decQuantize]]): Spark's direct double→decimal
    * cast quantizes the exact binary expansion, DuckDB the shortest
    * repr — they disagree on rows where the two round differently at the
    * target scale (measured: sum_charge at scale 8 diverged at sf0.1),
    * so a plain decimal cast would break the oracle hash match. */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(graft.ops.Metrics.decQuantize(c, scale)).cast(DoubleType)

  /** Per-query scratch dir, unique per JVM so concurrent driver runs
    * (e.g. Verify and Bench at once) can't wipe each other's live upsert
    * table or streaming checkpoint mid-run; wiped per call within the
    * run so repeated query invocations start clean, and removed at JVM
    * exit so runs don't accumulate orphaned temp data. */
  private val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), "graft_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteTree(root) catch { case _: Exception => () }))
    root
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }

  private def scratchDir(tag: String): String = {
    val p = scratchRoot.resolve(tag)
    deleteTree(p)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** The x251/x255 URL fixture: every canonicalization-rule variant
    * (scheme case, default/non-default port, trailing slash, query
    * param order, fragment) derived closed-form from the id, so the
    * oracle rebuilds the identical raw string. */
  private def urlFixture(id: Column): Column = {
    val scheme = when(pmod(id, lit(2)) === 0, lit("HTTP"))
      .otherwise(lit("https"))
    val host = when(pmod(id, lit(3)) === 0, lit("Example.COM"))
      .when(pmod(id, lit(3)) === 1, lit("example.com"))
      .otherwise(lit("News.Example.com"))
    val defPort = when(pmod(id, lit(2)) === 0, lit(":80"))
      .otherwise(lit(":443"))
    val port = when(pmod(id, lit(4)) === 0, defPort)
      .when(pmod(id, lit(4)) === 1, lit(":8080"))
      .otherwise(lit(""))
    val path = concat(lit("/a/"), pmod(id, lit(7)).cast(StringType),
      when(pmod(id, lit(5)) === 0, lit("/")).otherwise(lit("")))
    val query = when(pmod(id, lit(6)) === 0, lit("?b=2&a=1"))
      .when(pmod(id, lit(6)) === 1, lit("?a=1&b=2"))
      .when(pmod(id, lit(6)) === 2, lit(""))
      .otherwise(concat(lit("?x="), pmod(id, lit(11)).cast(StringType)))
    val frag = when(pmod(id, lit(8)) === 0, lit("#frag"))
      .otherwise(lit(""))
    concat(scheme, lit("://"), host, port, path, query, frag)
  }

  /** The x258/x259/x261 HOST fixture: 17 hosts (doc_id % 17) behind
    * mixed-case/port/trailing-slash noise, so the per-host gates run
    * downstream of real canonicalization. Canonical form (closed-form,
    * the rules x251 validates against the full regex replay):
    * `http(s)://h{id%17}.example.com[:8080 iff id%5=0]/p/{id%7}`. */
  private def urlHostFixture(id: Column): Column =
    concat(
      when(pmod(id, lit(2)) === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://H"), pmod(id, lit(17)).cast(StringType),
      lit(".Example.com"),
      when(pmod(id, lit(5)) === 0, lit(":8080")).otherwise(lit("")),
      lit("/p/"), pmod(id, lit(7)).cast(StringType),
      when(pmod(id, lit(3)) === 0, lit("/")).otherwise(lit("")))

  /** doc_id → canonical host/url via the PRODUCT canonicalizer over
    * the host fixture — the shared head of x258/x259/x261. */
  private def hostFixtureCanonical(df: DataFrame): DataFrame =
    df.withColumn("canonical_url",
        graft.ext.TextAnalysis.canonicalizeUrl(
          urlHostFixture(col("doc_id"))))
      .withColumn("host", regexp_extract(col("canonical_url"),
        "^[a-z][a-z0-9+.-]*://([^/:?]*)", 1))

  /** Session-scoped SHARED read-only index fixtures, keyed by
    * (sfDir, build recipe): the engine's own doctrine is
    * train-once/serve-many, so the READ-ONLY serve gates (x130/x131/
    * x132/x136/x151) resolve one prebuilt full-corpus index per sf
    * directory instead of each rebuilding it from scratch —
    * mutation/lifecycle gates (x121-x123, x133, x135, …) keep their
    * own private builds, because their builds ARE the measured
    * semantics. The fixture is IMMUTABLE after build — ENFORCED, not
    * conventional: the build drops [[graft.sinks.IndexManifest
    * .ReadOnlyMarker]] into the index root, and every mutation path
    * commits through `commitMerge`, which refuses frozen roots — so
    * a future gate appending through a shared path fails loudly
    * instead of silently mutating five serve gates' fixture. The
    * cache key additionally carries the source table's mtime, so a
    * table changing under the same dir within one JVM builds a fresh
    * fixture instead of serving a stale one. [[Bench]] builds these
    * OUTSIDE the measured window via [[prewarmSharedFixtures]]; under
    * Verify the first user pays the one-time build (correctness-only,
    * cost irrelevant). */
  private val sharedFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sharedFixture(key: String, tag: String)(
      build: String => Unit): String =
    sharedFixtures.computeIfAbsent(key, { _ =>
      val p = scratchDir(tag)
      build(p)
      graft.sinks.IndexManifest.markReadOnly(
        new org.apache.hadoop.fs.Path(p).getFileSystem(
          new org.apache.hadoop.conf.Configuration()), p)
      p
    })

  private def keyTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Staleness stamp for a shared fixture's source table: the backing
    * parquet's mtime (0 for a missing file — the build will fail on
    * its own terms). */
  private def tableStamp(dir: String, table: String): Long =
    new java.io.File(s"$dir/$table.parquet").lastModified()

  /** The full-`documents` BM25 index at default build params. */
  private def sharedBm25Index(s: SparkSession, dir: String): String =
    sharedFixture(s"bm25|$dir|${tableStamp(dir, "documents")}",
      s"bm25_fixture_${keyTag(dir)}") { p =>
      graft.ext.TextAnalysis.saveBm25Index(T(s, dir, "documents"),
        "doc_id", "text", p)
    }

  /** The full-`embeddings` IVF index carrying the x129 lang metadata
    * column (k=8, 2 Lloyd iters — the suite's standard recipe). */
  private def sharedIvfLangIndex(s: SparkSession, dir: String): String =
    sharedFixture(s"ivf_lang|$dir|${tableStamp(dir, "embeddings")}",
      s"ivf_lang_fixture_${keyTag(dir)}") {
      p =>
        graft.ext.Similarity.saveIvfIndex(
          T(s, dir, "embeddings").withColumn("lang",
            when(col("vec_id") % 3 === 0, "en")
              .when(col("vec_id") % 3 === 1, "fr").otherwise("de")),
          "vec_id", "embedding", p, kCentroids = 8, iters = 2,
          metaCols = Seq("lang"))
    }

  /** Build every shared read-only fixture for `dir` now — called by
    * [[Bench]] after its warm-touch, before the measured loop, so the
    * one-time builds never land inside a serve gate's window. */
  def prewarmSharedFixtures(s: SparkSession, dir: String): Unit = {
    sharedBm25Index(s, dir)
    sharedIvfLangIndex(s, dir)
  }

  /** Land each change frame as ONE parquet file with strictly
    * increasing, pinned modification times — the file-source ordering
    * cross-batch CDC correctness depends on (sequential writes nearly
    * always order correctly by mtime; pinning removes the "nearly").
    * `private[graft]`: the CDC specs land their fixtures through the
    * SAME helper so the ordering trick cannot drift between gate and
    * spec. */
  private[graft] def landOrdered(s: SparkSession,
      frames: Seq[DataFrame], dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(new Path(dir))
    frames.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"${dir}_tmp$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      val dst = new Path(dir, f"b$i%03d.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, 1700000000000L + i * 60000L, -1)
      fs.delete(new Path(tmp), true)
    }
  }

  /** Shared near-dup pair detection for the clustering gates (x31, x32,
    * x37) — these parameters must stay in lockstep with the pairClosure
    * oracle fragment, so they are defined ONCE; a tuning change cannot
    * desynchronize one gate from the others. */
  private def docNearDupPairs(docs: DataFrame): DataFrame =
    graft.ext.DedupOps.ngramJaccardPairs(
      docs, "doc_id", "text", n = 5, threshold = 0.5,
      maxShingleDF = Some(10000L), hotSampleMod = 20L)

  /** Cluster every document id by its near-dup connected component
    * (x31/x37: one operator, one output contract, one oracle). A pair
    * set of more than `driverPairs` pairs takes the distributed star
    * rounds; the default is the operator's own budget. */
  private def clusteredDocIds(s: SparkSession, dir: String,
      driverPairs: Option[Long] = None): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = docNearDupPairs(docs)
    val lbl = driverPairs.fold(
      graft.ext.DedupOps.dedupClusters(pairs, "doc_a", "doc_b"))(budget =>
      graft.ext.DedupOps.dedupClusters(pairs, "doc_a", "doc_b",
        maxIters = 30, reliable = false, driverPairs = budget))
    docs.select(col("doc_id"))
      .join(lbl, docs("doc_id") === lbl("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Stage a single-file parquet batch with a controlled mtime — the
    * file-source sequencing harness shared by the multi-batch streaming
    * gates (x25, x42): `maxFilesPerTrigger=1` picks files oldest-first,
    * so batch order rides on mtime, and a silent setLastModified failure
    * would make the batch sequence nondeterministic. */
  private def stageBatchFile(df: DataFrame, base: String, name: String,
      mtime: Long): Unit = {
    val tmp = s"$base/tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    val dest = java.nio.file.Paths.get(s"$base/in", s"$name.parquet")
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.move(part.toPath, dest)
    require(dest.toFile.setLastModified(mtime),
      s"cannot set mtime on $dest — streaming batch sequencing needs it")
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.performance(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ extQueries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ===== reference pipelines E1-E4 (SURVEY §3) =====
    "e1_dimension" -> ((s, dir) => Pipelines.dimension(s, dir)),

    "e2_performance" -> ((s, dir) =>
      Pipelines.performance(s, dir)
        .withColumn("date_start", date_format(col("date_start"), "yyyy-MM-dd"))
        .withColumn("cpc", round(col("cpc"), 6))
        .withColumn("ctr", round(col("ctr"), 6))
        .withColumn("cpl", round(col("cpl"), 6))),

    "e3_leads" -> ((s, dir) => Pipelines.leads(s, dir)
      .withColumn("date_start", date_format(col("date_start"), "yyyy-MM-dd"))),

    "e4_raw_leads" -> ((s, dir) => Pipelines.rawLeads(s, dir)
      .withColumn("created_time", date_format(col("created_time"), "yyyy-MM-dd"))),

    // ===== core relational operators (SURVEY §2) =====
    // A2 agg + F2 pushdown filter: TPC-H Q1-shaped pricing summary.
    "q01_pricing_summary" -> { (s, dir) =>
      val li = T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val charge = disc * (lit(1.0) + col("l_tax"))
      li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(disc, 6).as("sum_disc_price"),
        dsum(charge, 8).as("sum_charge"),
        round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        round(dsum(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"),
        count(lit(1)).as("count_order"))
    },

    // J2 star join: broadcast small dims, one shuffle for the agg.
    "q02_region_revenue" -> { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val sup = T(s, dir, "supplier")
      val nat = T(s, dir, "nation")
      val reg = T(s, dir, "region")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // F1 isin + F2 between + deterministic top-k (sort + limit).
    "q03_orders_topk" -> { (s, dir) =>
      T(s, dir, "orders")
        .filter(col("o_orderstatus").isin("O", "F") &&
          col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"), col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    },

    // left_semi (EXISTS): orders having a >45-quantity line item.
    "q04_semi_join" -> { (s, dir) =>
      T(s, dir, "orders")
        .join(T(s, dir, "lineitem").filter(col("l_quantity") > 45)
            .select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
    },

    // left_anti (NOT EXISTS): customers with no 400k+ order.
    "q05_anti_join" -> { (s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("sum_acctbal"))
    },

    // A4 keep-last dedup with explicit order (SURVEY §2.6 A4, §7.4-1).
    "q06_keep_last" -> { (s, dir) =>
      Dedup.keepLast(
        T(s, dir, "events")
          .select("user_id", "event_id", "event_type", "value", "ts"),
        Seq("user_id"), "ts", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"))
    },

    // A1 group-first: per (user, day) first non-null per column in
    // ingestion order (pandas GroupBy.first semantics).
    "q07_group_first" -> { (s, dir) =>
      Dedup.groupFirst(
        T(s, dir, "events")
          .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
            col("event_type"), col("value"), col("event_id")),
        Seq("user_id", "event_date"), "event_id")
        .select(col("user_id"), col("event_date"),
          col("event_type").as("first_event_type"),
          col("value").as("first_value"))
    },

    // §2.9 unionByName(allowMissingColumns) over shape-divergent frames.
    "q08_union_conform" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "props")
      Conform.unionConform(Seq(clicks, signups))
    },

    // window top-k per group (row_number, deterministic tiebreak).
    "q09_window_topk" -> { (s, dir) =>
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      T(s, dir, "part")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
    },

    // tumbling-window agg (batch restatement of SURVEY §2.11).
    "q10_tumbling_window" -> { (s, dir) =>
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(coalesce(graft.ops.Metrics.moneySum(col("value")),
            lit(0.0)), 2).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    },

    // §2.4 pivot analog directly over events: fixed-contract conditional
    // aggregation (schema-stable — no dynamic pivot distinct-scan).
    "q11_pivot_events" -> { (s, dir) =>
      def n(t: String) = count_if(col("event_type") === lit(t))
      T(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
        .agg(n("click").as("n_click"), n("view").as("n_view"),
          n("purchase").as("n_purchase"), n("signup").as("n_signup"),
          n("error").as("n_error"),
          round(coalesce(graft.ops.Metrics.moneySum(
            when(col("event_type") === "purchase", col("value"))),
            lit(0.0)), 2).as("purchase_value"))
    },

    // K3/§1.2 JSON handling: get_json_object over free-form props.
    "q12_json_extract" -> { (s, dir) =>
      T(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy("user_id")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n_events"))
    },

    // as-of join: view-through attribution — for each click, the most
    // recent view of the same user (union/window formulation, one shuffle).
    "q13_asof_attribution" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id"), col("ts"))
      graft.ops.AsOf.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
        Map("v_id" -> "attr_view_id", "ts" -> "attr_view_ts"),
        tieBreak = Some("attr_view_id"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("attr_view_id"),
          date_format(col("attr_view_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("attr_view_ts"))
    },

    // exact distinct counts (reach-style metrics, SURVEY §2.6 note).
    "q15_distinct_counts" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"),
          count_distinct(to_date(col("ts"))).as("n_days"),
          count(lit(1)).as("n_events"))),

    // approx_count_distinct (HLL) — sketch differs from DuckDB's →
    // rows-only check; the exact twin above is the oracle-checked one.
    "x13_approx_distinct" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))),

    // skew-safe salted join matches the plain join (demonstrated on the
    // events->dimension lookup; deterministic salt).
    "q16_salted_join" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val dims = ev.select(col("user_id")).distinct()
        .withColumn("ad_id", concat(lit("ad_"), col("user_id")))
      graft.ops.Skew.saltedJoin(
        ev.select("event_id", "user_id", "event_type"), dims,
        Seq("user_id"), salts = 8)
        .groupBy("ad_id")
        .agg(count(lit(1)).as("n_events"))
    },

    // DSv2 connector scan (S1/S4-S6): status filter pushed server-side,
    // nested structs flattened, dimension built via keep-last dedup —
    // E1 running through the real connector stack instead of fixtures.
    "q17_dsv2_dimension" -> { (s, dir) =>
      val raw = s.read.format("graft-meta")
        .option("rows", 5000).option("pageSize", 1000).load()
        .filter(col("effective_status")
          .isin("ACTIVE", "PAUSED", "PENDING_REVIEW"))
      val flat = raw
        .withColumnsRenamed(Map("id" -> "ad_id", "name" -> "ad_name"))
        .withColumn("adset_name", col("adset.name"))
        .withColumn("adset_id", col("adset.id"))
        .withColumn("campaign_name", col("campaign.name"))
        .withColumn("campaign_id", col("campaign.id"))
        .drop("adset", "campaign")
      Conform.conformToSchema(
        Dedup.keepLast(flat, Seq("ad_id"), "_ingest_order"),
        graft.model.Contracts.AdsDimension)
    },

    // S7/A2 aggregate pushdown through the DSv2 connector: the GROUP BY is
    // answered "server-side" (SupportsPushDownAggregates complete
    // pushdown) — the engine restatement of the reference asking the API
    // to pre-aggregate via level/time_increment/breakdowns params.
    "q18_dsv2_pushagg" -> { (s, dir) =>
      s.read.format("graft-meta")
        .option("rows", 5000).option("pageSize", 1000).load()
        .filter(col("effective_status")
          .isin("ACTIVE", "PAUSED", "PENDING_REVIEW"))
        .groupBy("effective_status")
        .agg(count(lit(1)).as("n_ads"),
          count_distinct(col("id")).as("n_distinct_ads"),
          min(col("_ingest_order")).as("first_ingest"),
          max(col("_ingest_order")).as("last_ingest"),
          sum(col("_ingest_order")).as("sum_ingest"))
    },

    // sessionization: inactivity-gap sessions + per-session rollup.
    "q14_sessionize" -> { (s, dir) =>
      graft.ops.AsOf.sessionStats(
        T(s, dir, "events").select("user_id", "ts"),
        Seq("user_id"), "ts", gapSeconds = 1800L)
        .select(col("user_id"), col("session_seq"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("duration_sec"), col("n_events"))
    },

    // K1/K2/K5 upsert sink run end-to-end: an initial load (old pipeline
    // version, purchases missing) then a corrected overlapping re-load;
    // the partitioned dynamic-overwrite merge path is exercised for real,
    // and the final table read back is the query result.
    "q19_upsert_merge" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      def grain(df: DataFrame): DataFrame =
        df.groupBy(to_date(col("ts")).as("event_date"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(coalesce(graft.ops.Metrics.moneySum(col("value")),
            lit(0.0)), 2).as("sum_value"))
      val oldBatch = grain(ev.filter(
        col("ts") < lit("2024-01-15").cast(TimestampType) &&
          col("event_type") =!= "purchase"))
      val newBatch = grain(ev.filter(
        col("ts") >= lit("2024-01-10").cast(TimestampType)))
      val tmp = scratchDir("upsert") + "/t"
      graft.sinks.Upsert.upsert(s, tmp, oldBatch,
        Seq("event_date", "user_id"), Seq("event_date"))
      graft.sinks.Upsert.upsert(s, tmp, newBatch,
        Seq("event_date", "user_id"), Seq("event_date"))
      s.read.parquet(tmp)
        .select(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
          col("user_id"), col("n_events"), col("sum_value"))
    },

    // §2.11 Structured Streaming for real: file stream → watermark →
    // 1-day tumbling window agg → foreachBatch keyed upsert
    // (Trigger.AvailableNow), then the sink table is the result.
    "q20_stream_tumbling" -> { (s, dir) =>
      val base = scratchDir("stream")
      // glob, not bare file: the file stream source requires a directory
      // or glob path (it infers basePath from it)
      val events = graft.streaming.EventStream
        .readEvents(s, dir + "/events*.parquet")
      val agg = graft.streaming.EventStream.performanceAgg(events)
      // state-store sizing: the day×ad key space is small — a handful of
      // state partitions beats the session default (a real knob: state
      // partition count is fixed per checkpoint at first run)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.EventStream.upsertWriter(agg, base + "/perf")
          .option("checkpointLocation", base + "/ckpt").start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(base + "/perf")
        .select(date_format(col("date_start"), "yyyy-MM-dd").as("date_start"),
          col("ad_id"), col("total_impressions"), col("total_clicks"),
          col("total_spend"), col("total_leads"))
    },

    // multi-level aggregation: ROLLUP with grouping_id. The decimal
    // quantization is projected BEFORE the rollup so Expand replicates a
    // ready decimal value per grouping set instead of re-running the
    // string-hop cast per expanded row.
    "q21_rollup" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          graft.ops.Metrics.decQuantize(col("l_quantity"), 4).as("_qty_dec"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("_qty_dec")).cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_items")
    },

    // multi-level aggregation: CUBE over orders (same pre-cast shape).
    "q22_cube" -> { (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          graft.ops.Metrics.decQuantize(col("o_totalprice"), 4)
            .as("_price_dec"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(col("_price_dec")).cast(DoubleType).as("sum_price"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders",
          "sum_price")
    },

    // interval (range) join, bucketized: clicks in the hour before each
    // purchase — O(window/bucket) work per row, no per-key cross product.
    "q23_range_join" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      graft.ops.RangeJoin.intervalJoin(purchases, clicks, Seq("user_id"),
        "p_ts", "c_ts", before = 3600L * 1000000L, after = 0L,
        tick = unix_micros)
        .groupBy("purchase_id", "user_id")
        .agg(count(lit(1)).as("n_clicks_1h"),
          max(col("c_ts")).as("last_click_ts"))
        .select(col("purchase_id"), col("user_id"), col("n_clicks_1h"),
          date_format(col("last_click_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("last_click_ts"))
    },

    // exact percentiles (interpolated), per group. SCALE NOTE: exact
    // `percentile` buffers every distinct value per group — correct and
    // oracle-checkable here, but an executor-memory wall on a continuous
    // domain at 100 TB. x24 below is the scale-safe twin (fixed-size
    // sketch); this query stays as its exactness baseline.
    "q24_percentiles" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          count(col("value")).as("n_valued"))),

    // scale-safe percentile twin: approx_percentile's bounded-size
    // KLL-style summary (O(accuracy) memory per group, mergeable partial
    // aggs) replaces q24's unbounded per-group value buffer — the variant
    // that survives a continuous domain at 100 TB. The sketch isn't
    // replicable in DuckDB → rows-only driver check; the rank-error
    // contract vs q24's exact twin is pinned in SketchGatesSpec.
    "x24_approx_percentiles" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("approx_percentile(value, 0.25, 1000)"), 6).as("p25"),
          round(expr("approx_percentile(value, 0.5, 1000)"), 6).as("p50"),
          round(expr("approx_percentile(value, 0.9, 1000)"), 6).as("p90"),
          count(col("value")).as("n_valued"))),

    // running aggregates: cumulative sum (integer-exact cents — immune to
    // fold-order fp drift), inter-event gap (lag), next event (lead).
    "q25_running_total" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          sum(floor(coalesce(col("value"), lit(0.0)) * 100).cast(LongType))
            .over(run).as("running_cents"),
          (col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(w))
            .as("gap_sec"),
          lead(col("event_type"), 1).over(w).as("next_type"))
    },

    // sliding (overlapping) windows: 1-hour span, 30-minute slide — each
    // event lands in 2 windows (the hopping-window streaming surface;
    // q10 is the tumbling special case).
    "q27_sliding_window" -> { (s, dir) =>
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(coalesce(graft.ops.Metrics.moneySum(col("value")),
            lit(0.0)), 2).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    },

    // DSv2 limit pushdown: the cursor stops paging once the limit is
    // satisfied (deterministic page order → first-n semantics).
    "q28_dsv2_limit" -> ((s, dir) =>
      s.read.format("graft-meta")
        .option("rows", 5000).option("pageSize", 1000).load()
        .limit(7)
        .select("id", "name", "effective_status", "_ingest_order")),

    // DSv2 top-N pushdown: ORDER BY the cursor column DESC LIMIT n clamps
    // the scan to the tail of the range server-side.
    "q29_dsv2_topn" -> ((s, dir) =>
      s.read.format("graft-meta")
        .option("rows", 5000).option("pageSize", 1000).load()
        .orderBy(col("_ingest_order").desc)
        .limit(5)
        .select("id", "name", "effective_status", "_ingest_order")),

    // built-in session_window (the streaming-native session abstraction;
    // q14 is the explicit window formulation). Spark semantics: a session
    // extends `gap` past each event, end = last event + gap, and an event
    // landing exactly at the boundary starts a NEW session (strict <).
    "q30_session_window" -> { (s, dir) =>
      T(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("n_events"))
    },

    // Bucketed big-big join (SURVEY §7 "co-locate joins via bucketing"):
    // both sides written bucketed+sorted by the join key, then joined
    // with zero Exchange on either side (BucketedSpec plan-asserts; at
    // 100 TB the write-time shuffle is amortized over every downstream
    // join on the key). The oracle is the plain join — bucketing is
    // physical layout only.
    "q31_bucketed_join" -> { (s, dir) =>
      val scratch = scratchDir("bucketed")
      graft.sinks.Bucketed.write(
        T(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_bkt_lineitem", s"$scratch/lineitem", 8, Seq("l_orderkey"))
      graft.sinks.Bucketed.write(
        T(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority")),
        "graft_bkt_orders", s"$scratch/orders", 8, Seq("l_orderkey"))
      graft.sinks.Bucketed.coLocatedJoin(s, "graft_bkt_lineitem",
          "graft_bkt_orders", Seq("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // per-type z-score outliers: decimal-exact moments, broadcast stats,
    // facts never shuffle; |z| > 3 on the rounded score.
    "q35_zscore_outliers" -> ((s, dir) =>
      graft.ops.Outliers.zscoreFlag(
        T(s, dir, "events"), "event_type", "value", threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("zscore"))),

    // CDC snapshot diff: synthetic old/new customer snapshots (modular
    // membership + a deterministic balance bump) → insert/delete/update
    // change set; unchanged rows must NOT appear.
    "q34_snapshot_diff" -> { (s, dir) =>
      val cust = T(s, dir, "customer")
      val oldSnap = cust.filter(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val newSnap = cust.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + lit(1.0))
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      graft.ops.Cdc.snapshotDiff(oldSnap, newSnap,
        Seq("c_custkey"), Seq("c_acctbal"))
    },

    // incremental aggregate maintenance: state(history) merged with
    // state(delta) must equal a direct full aggregation — the oracle IS
    // the direct form, so the gate proves the merge is lossless.
    "q33_incremental_agg" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val cut = lit("2024-01-20 00:00:00").cast(TimestampType)
      val hist = graft.ops.IncrementalAgg.state(
        ev.filter(col("ts") < cut), Seq("user_id", "event_type"), "value")
      val delta = graft.ops.IncrementalAgg.state(
        ev.filter(col("ts") >= cut), Seq("user_id", "event_type"), "value")
      graft.ops.IncrementalAgg.present(
        graft.ops.IncrementalAgg.merge(hist, delta,
          Seq("user_id", "event_type")),
        Seq("user_id", "event_type"))
    },

    // ordered funnel: earliest view → click-after-view → purchase-after-
    // click per user, deepest stage reached; exact-µs time compares.
    "q32_event_funnel" -> ((s, dir) =>
      graft.ops.Funnel.ordered(T(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // GROUPING SETS: the explicit multi-level aggregate (rollup/cube's
    // general form) — (flag, status), (flag), and grand total in ONE
    // pass over lineitem (Spark expands to a single Expand + hash agg,
    // not three scans).
    "q36_grouping_sets" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          graft.ops.Metrics.decQuantize(col("l_quantity"), 4).as("_qty_dec"))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("_qty_dec")).cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty",
          "n_items")
    },

    // UNPIVOT (wide → long): per-flag metric columns melted to
    // (metric, value) rows — the narrow reshape op, zero shuffle beyond
    // the feeding aggregate.
    "q37_unpivot" -> { (s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_returnflag"),
          graft.ops.Metrics.decQuantize(col("l_quantity"), 4)
            .as("_qty_dec"),
          graft.ops.Metrics.decQuantize(col("l_extendedprice"), 4)
            .as("_price_dec"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("_qty_dec")).cast(DoubleType).as("sum_qty"),
          sum(col("_price_dec")).cast(DoubleType).as("sum_price"),
          count(lit(1)).cast(DoubleType).as("n_items"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n_items")),
          "metric", "value")
    },

    // windowed quantile binning: ntile quartiles per nation over account
    // balance — partitioned window (parallelism = nations), decimal-
    // exact per-bin sums. EXACT small-corpus form (one task sorts a
    // whole nation; positional tie-splitting needs the sort) — x248
    // is the scale-safe sketch twin (value-defined bins from grouped-
    // KLL edges, no per-group sort).
    "q38_ntile_quartiles" -> { (s, dir) =>
      val byNation = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      T(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          graft.ops.Metrics.decQuantize(col("c_acctbal"), 2)
            .as("_bal_dec"))
        .withColumn("tile", ntile(4).over(byNation))
        .groupBy(col("c_nationkey"), col("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          sum(col("_bal_dec")).cast(DoubleType).as("sum_bal"))
    },

    // set operators with SQL bag-to-set semantics: customers ordering in
    // BOTH 1995 and 1996 (INTERSECT), minus any customer with a
    // low-priority order (EXCEPT) — distinct-key inputs keep the
    // intersect/except shuffles narrow.
    "q39_set_ops" -> { (s, dir) =>
      val o = T(s, dir, "orders")
      def keysIn(lo: String, hi: String) = o
        .filter(col("o_orderdate") >= lit(lo).cast(TimestampType) &&
          col("o_orderdate") < lit(hi).cast(TimestampType))
        .select(col("o_custkey")).distinct()
      val lowPrio = o.filter(col("o_orderpriority") === "5-LOW")
        .select(col("o_custkey")).distinct()
      keysIn("1995-01-01", "1996-01-01")
        .intersect(keysIn("1996-01-01", "1997-01-01"))
        .except(lowPrio)
    },

    // null-aware NOT IN: events whose (nullable) key is NOT IN the
    // purchase-user list — three-valued logic (outer NULL → never
    // qualifies) planned as Spark's null-aware anti join, a broadcast
    // hash join with the NULL-existence check, not a nested loop.
    "q40_not_in_nullsafe" -> { (s, dir) =>
      val ev = T(s, dir, "events")
        .withColumn("uid_n",
          when(col("value") < lit(1.0d), lit(null).cast(LongType))
            .otherwise(col("user_id")))
      ev.createOrReplaceTempView("graft_q40_events")
      s.sql("""
        SELECT event_type, count(*) AS n
        FROM graft_q40_events
        WHERE uid_n NOT IN (SELECT user_id FROM graft_q40_events
                            WHERE event_type = 'purchase' AND value > 300.0)
        GROUP BY event_type""")
    },

    // correlated scalar subquery, decorrelated: small-quantity orders vs
    // 0.2 × that part's average quantity (TPC-H Q17 shape) — the
    // correlation becomes ONE per-key pre-aggregate re-joined to the
    // facts; the brand dimension broadcasts. Threshold math is exact-
    // decimal sums divided as identical doubles on both engines.
    "q41_correlated_avg" -> { (s, dir) =>
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity"),
        graft.ops.Metrics.decQuantize(col("l_extendedprice"), 6)
          .as("_price_dec"),
        graft.ops.Metrics.decQuantize(col("l_quantity"), 4).as("_qty_dec"))
      val thr = li.groupBy("l_partkey")
        .agg((sum(col("_qty_dec")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType) * lit(0.2d)).as("_thr"))
      val brands = T(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      li.join(thr, Seq("l_partkey"))
        .filter(col("l_quantity") < col("_thr"))
        .join(broadcast(brands), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg((sum(col("_price_dec")).cast(DoubleType) / lit(7.0d))
            .as("avg_yearly"),
          count(lit(1)).as("n_items"))
    },

    // event-time RANGE window frame: per-user trailing-1h running sum —
    // value-based frame bounds (not row counts), exact-µs arithmetic,
    // decimal-exact window sums; parallelism = users.
    "q42_range_frame" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          graft.ops.Metrics.decQuantize(col("value"), 6).as("_val_dec"))
        .withColumn("trailing_1h_sum",
          sum(col("_val_dec")).over(w).cast(DoubleType))
        .withColumn("trailing_1h_n",
          count(lit(1)).over(w))
        .select("event_id", "user_id", "ts_us", "trailing_1h_sum",
          "trailing_1h_n")
    },

    // COUNT(DISTINCT) as a window function — Spark doesn't support
    // distinct window aggregates, so the engine rewrites to the standard
    // dense_rank-max identity (two windows over ONE shuffle of the same
    // partition key); the oracle runs the literal distinct window.
    // SQL's COUNT(DISTINCT) ignores NULLs but dense_rank ranks them
    // (nulls first), so a partition containing any NULL key subtracts
    // that rank back out.
    "q43_window_count_distinct" -> { (s, dir) =>
      val byType = Window.partitionBy(col("event_type"))
      T(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
        .withColumn("_dr", dense_rank().over(
          byType.orderBy(col("user_id").asc)))
        .withColumn("n_distinct_users",
          (max(col("_dr")).over(byType) -
            max(when(col("user_id").isNull, 1).otherwise(0))
              .over(byType)).cast(LongType))
        .drop("_dr")
    },

    // CDC apply (MERGE replay): the value-carrying change set from q34's
    // old/new snapshots replayed onto the old snapshot must reproduce
    // the new one — the roundtrip law `apply(old, diff(old,new)) == new`,
    // gated against the DIRECT new-snapshot oracle. The unchanged bulk
    // never shuffles; only churn moves.
    "q44_cdc_apply" -> { (s, dir) =>
      val cust = T(s, dir, "customer")
      val oldSnap = cust.filter(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val newSnap = cust.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + lit(1.0))
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      val changes = graft.ops.Cdc.snapshotDiffWithValues(oldSnap, newSnap,
        Seq("c_custkey"), Seq("c_acctbal"))
      graft.ops.Cdc.applyChanges(oldSnap, changes,
        Seq("c_custkey"), Seq("c_acctbal"))
    },

    // null-safe equi-join (IS NOT DISTINCT FROM): NULL keys are a match
    // group of their own, planned as a broadcast HASH join on the
    // null-safe key — not a nested loop, not silently dropped nulls.
    "q45_nullsafe_join" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      def key = when(pmod(col("user_id"), lit(89L)) === 0L,
        lit(null).cast(LongType)).otherwise(pmod(col("user_id"), lit(89L)))
      val dim = ev.filter(col("event_type") === "purchase")
        .select(key.as("dk"))
        .groupBy("dk").agg(count(lit(1)).as("purchase_n"))
      ev.filter(col("event_type") === "view")
        .select(col("event_id"), key.as("k"))
        .join(broadcast(dim), col("k") <=> col("dk"))
        .select("event_id", "k", "purchase_n")
    },

    // fill-forward (last observation carried forward): per-user latest
    // purchase value carried onto every later event — the telemetry
    // gap-filling op, `last(..., ignoreNulls)` over a per-key ROWS
    // frame; NULL until the key's first observation.
    "q46_fill_forward" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          col("value"))
        .withColumn("_pv",
          when(col("event_type") === "purchase", col("value")))
        .withColumn("last_purchase_value",
          last(col("_pv"), ignoreNulls = true).over(w))
        .select("event_id", "user_id", "ts_us", "last_purchase_value")
    },

    // cohort retention: users bucketed by first-seen day, distinct
    // active users per (cohort, day-offset) — the product-analytics
    // matrix; one min-agg plus one distinct-count agg, all integers.
    "q47_cohort_retention" -> { (s, dir) =>
      val ed = T(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohort = ed.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
      ed.join(cohort, Seq("user_id"))
        .withColumn("day_offset",
          datediff(col("d"), col("cohort_day")).cast(LongType))
        .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd")
          .as("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    // linear multi-touch attribution: each purchase's value split
    // equally across the user's views in the prior 2h — the bucketized
    // interval join (q23's machinery) plus a per-purchase credit window.
    "q48_linear_attribution" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("v_ts"))
      val byPurchase = Window.partitionBy(col("purchase_id"))
      graft.ops.RangeJoin.intervalJoin(purchases, views, Seq("user_id"),
          "p_ts", "v_ts", before = 2L * 3600L * 1000000L, after = 0L,
          tick = unix_micros)
        .withColumn("n_touches", count(lit(1)).over(byPurchase))
        .select(col("purchase_id"), col("view_id"), col("n_touches"),
          round(col("value") / col("n_touches").cast(DoubleType), 6)
            .as("credit"))
    },

    // ratio-to-report: each nation's share of its region's revenue —
    // the BI percent-of-total. The window total sums the DECIMAL
    // column (order-independent), so the share is one IEEE division of
    // engine-identical doubles.
    "q49_ratio_to_report" -> { (s, dir) =>
      val byRegion = Window.partitionBy(col("r_name"))
      T(s, dir, "lineitem")
        .join(T(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(T(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"),
          graft.ops.Metrics.decQuantize(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("_rev_dec"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("_rev_dec")).as("_rev_sum"))
        .withColumn("revenue", col("_rev_sum").cast(DoubleType))
        .withColumn("region_share",
          round(col("revenue") /
            sum(col("_rev_sum")).over(byRegion).cast(DoubleType), 6))
        .select("r_name", "n_name", "revenue", "region_share")
    },

    // native PIVOT (PivotFirst): order counts by status, one column per
    // priority — explicit value list keeps the schema static (no
    // distinct-collect pass); absent cells coalesce to 0 like the
    // oracle's CASE-sums.
    "q50_native_pivot" -> { (s, dir) =>
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val pivoted = T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", prios)
        .agg(count(lit(1)))
      pivoted.select(col("o_orderstatus") +:
        prios.zipWithIndex.map { case (p, i) =>
          coalesce(col(s"`$p`"), lit(0L)).as(s"p${i + 1}") }: _*)
    },

    // SCD Type-2 history build: collapse per-user event_type runs into
    // validity intervals [valid_from, valid_to) with an is_current flag —
    // the standard dimension-history op the reference's daily UPSERT
    // flattens away.
    "q26_scd2" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val changes = T(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
      val w2 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      changes
        .withColumn("valid_to_ts", lead(col("ts"), 1).over(w2))
        .select(col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"),
          col("valid_to_ts").isNull.as("is_current"))
    })

  /** North-star extension operators (SURVEY §7.5): dedup, similarity
    * search, text analysis, multimodal plumbing over documents/embeddings.
    */
  private def extQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_dedup_exact" -> ((s, dir) =>
      graft.ext.DedupOps.exactDedup(T(s, dir, "documents"), "text", "doc_id")),

    // maxShingleDF + sampled detection exercise the guard's scale
    // configuration; the cap sits far above any fixture shingle's DF, so
    // the runtime plan selection takes the exact uncapped branch and the
    // result (and the uncapped oracle SQL) is unchanged.
    "x02_ngram_jaccard" -> ((s, dir) =>
      graft.ext.DedupOps.ngramJaccardPairs(
        T(s, dir, "documents"), "doc_id", "text", n = 5, threshold = 0.5,
        maxShingleDF = Some(10000L), hotSampleMod = 20L)),

    "x03_minhash_pairs" -> ((s, dir) =>
      graft.ext.DedupOps.minhashPairs(
        T(s, dir, "documents"), "doc_id", "text",
        n = 3, bands = 16, rows = 4, threshold = 0.5)),

    // maxHamming < bands*(probeBits+1) enforces the pigeonhole recall
    // guarantee: 4 bands of 16 bits + 1-bit multi-probe find every pair
    // at Hamming <= 7 while keeping 65536 buckets per band.
    "x04_simhash_pairs" -> ((s, dir) =>
      graft.ext.DedupOps.simhashPairs(
        T(s, dir, "documents"), "doc_id", "text",
        maxHamming = 7, bands = 4, probeBits = 1)),

    // identical-signature collapse under boilerplate (x250): a 500-doc
    // BYTE-IDENTICAL block (the templated-boilerplate norm in web
    // corpora) through the x04 pipeline — the banded join sees one
    // representative per distinct signature (ExtSpec pins the
    // candidate cardinality at O(distinct²)), the output still carries
    // every one of the block's 124,750 mutual pairs at Hamming 0 plus
    // the cross pairs. Oracle: x04's brute-force pair SQL over the
    // same fixture.
    "x250_sig_collapse_pairs" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val donor = d.filter(col("doc_id") === 7).select(col("text"))
      val block = s.range(500)
        .select((col("id") + 1000000L).as("doc_id"))
        .crossJoin(broadcast(donor)) // 1-row broadcast: the template
      graft.ext.DedupOps.simhashPairs(
          d.filter(col("doc_id") < 40).unionByName(block),
          "doc_id", "text", maxHamming = 7, bands = 4, probeBits = 1)
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    },

    // URL canonicalization + URL-keyed dedup (x251): the web-corpus
    // ingest front door — the same page under scheme-case /
    // default-port / trailing-slash / query-param-order / fragment
    // variants collapses to ONE canonical URL before any content
    // fetch. The fixture derives every variant closed-form from
    // doc_id, so the oracle replays the exact string pipeline.
    "x251_url_canonical_dedup" -> { (s, dir) =>
      graft.ext.DedupOps.urlDedup(
          T(s, dir, "documents").select(col("doc_id"))
            .withColumn("url", urlFixture(col("doc_id"))),
          "doc_id", "url")
        .orderBy(col("canonical_url").asc)
    },

    // URL-keyed admission ledger (x255): "have we crawled this URL
    // already" — canonical URLs (x251's rules) hashed to 64 bits and
    // admitted through the persisted Hamming ledger at radius 0 with
    // exact-chunk probes: admission == exact canonical-URL-hash
    // equality against everything ledgered, incremental, idempotent,
    // and time-travelable under the shared manifest protocol (a hash
    // collision admits wrongly at 2^-64 per pair — the x03
    // modulo-hash-collision argument). Ledger %4 != 0, incoming
    // %4 == 0; the oracle compares canonical STRINGS.
    "x255_url_ledger_admit" -> { (s, dir) =>
      def sigs(f: DataFrame) = f
        .withColumn("_cu",
          graft.ext.TextAnalysis.canonicalizeUrl(col("url")))
        .filter(col("_cu").isNotNull)
        .select(col("doc_id"), xxhash64(col("_cu")).as("sh"))
      val d = T(s, dir, "documents").select(col("doc_id"))
        .withColumn("url", urlFixture(col("doc_id")))
      val ledger = scratchDir("urlledger255")
      graft.ext.DedupOps.saveSimhashLedger(
        sigs(d.filter(pmod(col("doc_id"), lit(4)) =!= 0)), ledger)
      graft.ext.DedupOps.simhashLedgerAdmit(s, ledger,
          sigs(d.filter(pmod(col("doc_id"), lit(4)) === 0)),
          maxHamming = 0, probeBits = 0)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // frame-level video near-dup (x252): multi-frame containers
    // (x113's real GIF decode) → per-frame dHash (x195's pixel loop,
    // one hash per frame) → doc-level DISTINCT frame-hash sets →
    // containment admission: a clip whose frames are mostly inside an
    // already-ingested container is rejected (C = |A∩B|/min >= 0.5),
    // covering trims/re-encodes/embeds the way x244's whole-clip hash
    // covers audio. Ledger %4 != 0, incoming %4 == 0 (x235's split);
    // the oracle recomputes every frame hash closed-form from the id.
    "x252_video_frame_neardup" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"))
      def sets(f: DataFrame) = graft.ext.Multimodal.frameDHash(s,
          graft.ext.Multimodal.withGifPayload(s, f, "doc_id"),
          "doc_id")
        .groupBy("doc_id")
        .agg(collect_set(col("dhash")).as("fset"))
      val ledger = scratchDir("framect252")
      graft.ext.DedupOps.saveContainmentSetIndex(
        sets(d.filter(pmod(col("doc_id"), lit(4)) =!= 0)),
        "doc_id", "fset", ledger)
      graft.ext.DedupOps.containmentSetAdmit(s, ledger,
          sets(d.filter(pmod(col("doc_id"), lit(4)) === 0)),
          "doc_id", "fset", threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // streamed video-set admission (x256): x245's greedy admit-then-
    // append loop on the frame-hash containment axis — micro-batches
    // of (doc, frame-hash set) rows admit against the x252 set ledger
    // and the admitted slice appends before the next batch admits. A
    // TINY base ledger (doc_id < 2) keeps the gate non-degenerate:
    // the fixture's frame-hash space is coarse (45 distinct hashes at
    // sf0.01), so batch 1 admits ~42 reels and every batch-2
    // rejection is caused by a BATCH-1 ADMISSION — the greedy
    // property, live in the data. Oracle: the two batches replayed
    // sequentially.
    "x256_stream_video_admit" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"))
      def sets(f: DataFrame) = graft.ext.Multimodal.frameDHash(s,
          graft.ext.Multimodal.withGifPayload(s, f, "doc_id"),
          "doc_id")
        .groupBy("doc_id").agg(collect_set(col("dhash")).as("fset"))
      val base = scratchDir("streamvid256")
      graft.ext.DedupOps.saveContainmentSetIndex(
        sets(d.filter(col("doc_id") < 2)), "doc_id", "fset",
        base + "/ledger")
      landOrdered(s, Seq(
        sets(d.filter(col("doc_id") >= 10 && col("doc_id") < 60)),
        sets(d.filter(col("doc_id") >= 60 && col("doc_id") < 110))),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.containmentSetAdmitWriter(
          s, base + "/in", schema, base + "/ledger", base + "/out",
          "doc_id", "fset", threshold = 0.5)
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out").select("doc_id")
        .orderBy(col("doc_id").asc)
    },

    // video canonical selection (x257): x203 on the multi-frame axis
    // — x252's frame-hash sets paired by set containment (C >= 0.5,
    // identical-set collapse inside containmentSetPairs), clustered
    // by the O(log n) alternating-star components, one keeper (min
    // id, first-ingested-wins) per visual reel cluster; singletons
    // are their own keeper.
    "x257_video_canonical" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"))
      val sets = graft.ext.Multimodal.frameDHash(s,
          graft.ext.Multimodal.withGifPayload(s, d, "doc_id"),
          "doc_id")
        .groupBy("doc_id").agg(collect_set(col("dhash")).as("fset"))
      // fused pairs→CC: star-CC runs on the distinct-set REP graph and
      // members attach by rep — identical labels (containmentSetClusters
      // scaladoc has the argument), without materializing the member-
      // expanded pair frame (4.6M rows at sf0.1 vs 542 rep edges)
      val lbl = graft.ext.DedupOps.containmentSetClusters(sets,
        "doc_id", "fset", threshold = 0.5)
      d.join(lbl, d("doc_id") === lbl("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .groupBy("cluster_id")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_members"))
        .orderBy(col("cluster_id").asc)
    },

    // per-host corpus health (x258): the curation dashboard every
    // web-scale ingest watches — doc counts, mean quality, token
    // volume, distinct canonical URLs per host, downstream of the
    // x251 canonicalizer. Mean quality sums DECIMAL(18,6) (exact,
    // order-independent) before the one double divide.
    "x258_host_quality_stats" -> { (s, dir) =>
      graft.ext.TextAnalysis.qualityScore(
          hostFixtureCanonical(T(s, dir, "documents")), "text")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("quality_score").cast(DecimalType(18, 6)))
            .cast(DoubleType) / count(lit(1)), 6).as("mean_quality"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("canonical_url")).as("n_urls"))
        .orderBy(col("host").asc)
    },

    // per-host crawl-budget admission, batch form (x259): docs with
    // id % 10 == 0 are pre-ledgered ("already crawled"), the rest
    // arrive as one batch against cap 5 — admitted iff the host's
    // prior count plus the doc's ascending-id rank within the batch
    // fits the budget. Gates hostBudgetAdmit end-to-end (ledger scan
    // → per-host count → batch-bounded rank).
    "x259_host_budget_cap" -> { (s, dir) =>
      val d = hostFixtureCanonical(
        T(s, dir, "documents").select(col("doc_id")))
      val ledger = scratchDir("hostbudget259")
      graft.ext.DedupOps.saveHostBudgetLedger(
        d.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "host", ledger, cap = 5)
      graft.ext.DedupOps.hostBudgetAdmit(s, ledger,
          d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          "doc_id", "host")
        .select(col("doc_id"), col("host"))
        .orderBy(col("doc_id").asc)
    },

    // paragraph-level exact dedup + reassembly (x260): CCNet's
    // line-dedup shape — consecutive 2-word chunks (the fixture's
    // ~50-word docs over a ~40-word vocabulary make 2-word windows
    // the realistic boilerplate granularity), first occurrence by
    // (doc_id, idx) wins corpus-wide, docs rebuilt from surviving
    // chunks. Chunk text never shuffles: the first-occurrence groupBy
    // moves 24-byte (hash, doc, idx) rows.
    "x260_paragraph_dedup" -> { (s, dir) =>
      graft.ext.DedupOps.chunkDedup(
          T(s, dir, "documents"), "doc_id", "text", chunkWords = 2)
        .orderBy(col("doc_id").asc)
    },

    // streamed per-host budget admission (x261): the crawl-frontier
    // loop — two micro-batches admit against the x259 ledger
    // machinery (base: id < 5, cap 4) and each admitted slice appends
    // before the next batch admits, so hosts filled by batch 1
    // (ids 5-39) reject batch 2 (ids 40-109) arrivals greedily.
    // Oracle: the two batches replayed sequentially.
    "x261_stream_host_budget" -> { (s, dir) =>
      val d = hostFixtureCanonical(
          T(s, dir, "documents").select(col("doc_id")))
        .select(col("doc_id"), col("host"))
      val base = scratchDir("streamhost261")
      graft.ext.DedupOps.saveHostBudgetLedger(
        d.filter(col("doc_id") < 5), "doc_id", "host",
        base + "/ledger", cap = 4)
      landOrdered(s, Seq(
        d.filter(col("doc_id") >= 5 && col("doc_id") < 40),
        d.filter(col("doc_id") >= 40 && col("doc_id") < 110)),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.hostBudgetAdmitWriter(
          s, base + "/in", schema, base + "/ledger", base + "/out",
          "doc_id", "host")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out").select("doc_id", "host")
        .orderBy(col("doc_id").asc)
    },

    // host-budget time travel (x262): the x155/x249 MVCC axis on the
    // frontier ledger — batch 2 admitted as-of v0 sees only the base
    // counts (b1's admissions invisible), while the latest read sees
    // hosts b1 filled. Both decisions from ONE ledger directory.
    "x262_host_budget_travel" -> { (s, dir) =>
      val d = hostFixtureCanonical(
          T(s, dir, "documents").select(col("doc_id")))
        .select(col("doc_id"), col("host"))
      val ledger = scratchDir("hosttravel262")
      graft.ext.DedupOps.saveHostBudgetLedger(
        d.filter(col("doc_id") < 5), "doc_id", "host", ledger,
        cap = 3)
      val v0 = graft.ext.DedupOps.hostBudgetLedgerVersion(s, ledger)
      val adm1 = graft.ext.DedupOps.hostBudgetAdmit(s, ledger,
        d.filter(col("doc_id") >= 5 && col("doc_id") < 40),
        "doc_id", "host")
      graft.ext.DedupOps.appendToHostBudgetLedger(s, ledger, adm1,
        "doc_id", "host", "b1")
      val b2 = d.filter(col("doc_id") >= 40 && col("doc_id") < 110)
      graft.ext.DedupOps.hostBudgetAdmit(s, ledger, b2,
          "doc_id", "host", asOfVersion = Some(v0))
        .select(col("doc_id")).withColumn("as_of", lit("v0"))
        .unionByName(
          graft.ext.DedupOps.hostBudgetAdmit(s, ledger, b2,
              "doc_id", "host")
            .select(col("doc_id"))
            .withColumn("as_of", lit("latest")))
        .orderBy(col("as_of").asc, col("doc_id").asc)
    },

    // streamed paragraph dedup (x263): x260 as a maintained pipeline
    // — each micro-batch rewrites against every chunk hash EVER seen
    // and appends its own before the next batch rewrites. Because the
    // batches arrive in id order, the sequential loop equals the
    // one-shot x260 over the cumulative corpus — which is the oracle.
    "x263_stream_paragraph_dedup" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = scratchDir("streamchunk263")
      graft.ext.DedupOps.saveChunkLedger(
        d.filter(col("doc_id") < 50), "doc_id", "text",
        base + "/ledger", chunkWords = 2)
      landOrdered(s, Seq(
        d.filter(col("doc_id") >= 50 && col("doc_id") < 150),
        d.filter(col("doc_id") >= 150 && col("doc_id") < 250)),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.chunkDedupWriter(
          s, base + "/in", schema, base + "/ledger", base + "/out",
          "doc_id", "text")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out")
        .select("doc_id", "n_chunks", "n_kept", "dedup_text")
        .orderBy(col("doc_id").asc)
    },

    // chunk-ledger compaction under time travel (x264): appends land
    // blind (duplicate hashes across segments), compaction DISTINCTs
    // the fold — and must change no answer: the latest rewrite after
    // the fold equals the pre-fold semantics, and an as-of read of
    // the pre-append version still serves only the base hashes
    // (the x155/x254 MVCC contract on the chunk axis).
    "x264_chunk_compact_travel" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val ledger = scratchDir("chunkcompact264")
      graft.ext.DedupOps.saveChunkLedger(
        d.filter(col("doc_id") < 50), "doc_id", "text", ledger,
        chunkWords = 2)
      val v1 = graft.ext.DedupOps.chunkLedgerVersion(s, ledger)
      graft.ext.DedupOps.appendToChunkLedger(s, ledger,
        d.filter(col("doc_id") >= 50 && col("doc_id") < 150),
        "doc_id", "text", "b1")
      graft.ext.DedupOps.compactChunkLedger(s, ledger)
      val b2 = d.filter(col("doc_id") >= 150 && col("doc_id") < 250)
      graft.ext.DedupOps.chunkDedupIncremental(s, ledger, b2,
          "doc_id", "text", asOfVersion = Some(v1))
        .withColumn("as_of", lit("v1"))
        .unionByName(
          graft.ext.DedupOps.chunkDedupIncremental(s, ledger, b2,
              "doc_id", "text")
            .withColumn("as_of", lit("latest")))
        .select(col("as_of"), col("doc_id"), col("n_chunks"),
          col("n_kept"), col("dedup_text"))
        .orderBy(col("as_of").asc, col("doc_id").asc)
    },

    // the ingest FRONT DOOR (x265): the three admission axes composed
    // as one pipeline, the order a production crawler runs them —
    // (1) exact canonical-URL dedup against the URL ledger (cheapest
    // first), (2) content near-dup via the simhash ledger (Hamming
    // <= 7, banding's exact-recall regime), (3) per-host crawl budget
    // ranked over the SURVIVORS (budget slots never burn on docs a
    // dedup stage already killed). Ledgered corpus: id % 3 == 0.
    "x265_ingest_front_door" -> { (s, dir) =>
      graft.functions.TextHashExprs.register(s)
      val all = hostFixtureCanonical(
        T(s, dir, "documents").select(col("doc_id"), col("text")))
      val led = all.filter(pmod(col("doc_id"), lit(3)) === 0)
      val inc = all.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val base = scratchDir("frontdoor265")
      def urlSigs(f: DataFrame) = f.select(col("doc_id"),
        xxhash64(col("canonical_url")).as("sh"))
      def txtSigs(f: DataFrame) = f.select(col("doc_id"),
        graft.functions.TextHashExprs.simhash64(col("text")).as("sh"))
      graft.ext.DedupOps.saveSimhashLedger(urlSigs(led), base + "/url")
      graft.ext.DedupOps.saveSimhashLedger(txtSigs(led), base + "/sig")
      graft.ext.DedupOps.saveHostBudgetLedger(led, "doc_id", "host",
        base + "/host", cap = 12)
      val urlOk = graft.ext.DedupOps.simhashLedgerAdmit(s,
          base + "/url", urlSigs(inc), maxHamming = 0, probeBits = 0)
        .select(col("doc_id"))
      val sigOk = graft.ext.DedupOps.simhashLedgerAdmit(s,
          base + "/sig", txtSigs(inc), maxHamming = 7, probeBits = 1)
        .select(col("doc_id"))
      val surv = inc.join(urlOk, Seq("doc_id"), "left_semi")
        .join(sigOk, Seq("doc_id"), "left_semi")
      graft.ext.DedupOps.hostBudgetAdmit(s, base + "/host", surv,
          "doc_id", "host")
        .select(col("doc_id"), col("host"))
        .orderBy(col("doc_id").asc)
    },

    // SemDeDup (x266): k-means cells bucket the corpus, exact cosine
    // verifies within cells only, components keep their min id — the
    // learned-partition end of the bucket-join dedup family (x06's
    // sign-LSH is the random-projection end). k=8/iters=2 rides the
    // same Lloyd's machinery the x53/x67 oracles replay.
    "x266_semdedup" -> ((s, dir) =>
      graft.ext.DedupOps.semDedupClusters(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        kClusters = 8, iters = 2, threshold = 0.35)
        .orderBy(col("vec_id").asc)),

    // trained NB quality classifier (x267): per-token log-likelihood
    // ratios estimated against a curated seed (sources src1-src3 play
    // the wiki-like corpus), every doc scored by mean llr — the
    // GPT-3/CCNet classifier filter with the model as a
    // vocabulary-sized broadcast table, not fixed weights (x58).
    "x267_nb_quality" -> ((s, dir) =>
      graft.ext.TextAnalysis.nbQualityScore(
        T(s, dir, "documents"), "doc_id", "text",
        col("source").isin("src1", "src2", "src3"))
        .orderBy(col("doc_id").asc)),

    // Pareto-threshold admission (x268): the GPT-3 Appendix-A keep
    // rule — admit iff pareto(u) > 1 - score at alpha=9 — over the
    // shared x09 quality score, derandomized via the md5 uniform so
    // the stochastic filter is replayable bit-for-bit.
    "x268_pareto_admit" -> { (s, dir) =>
      val scored = graft.ext.TextAnalysis.qualityScore(
        T(s, dir, "documents"), "text")
      graft.ext.Corpus.paretoAdmit(scored, "doc_id",
          col("quality_score"), alpha = 9.0, salt = "pareto268")
        .orderBy(col("doc_id").asc)
    },

    // content-defined chunking (x269): the LBFS boundary rule at word
    // granularity — a chunk ends after any word whose md5 slot % 8 is
    // 0, so boundaries anchor to content and an edit re-chunks one
    // chunk, not every chunk after it (x23/x260's fixed grids do).
    "x269_cdc_chunks" -> ((s, dir) =>
      graft.ext.DedupOps.cdcChunks(
        T(s, dir, "documents").filter(col("doc_id") < 120),
        "doc_id", "text", avgWords = 8, salt = "cdc269")
        .orderBy(col("doc_id").asc, col("chunk_idx").asc)),

    // shift-resistant chunk dedup (x270): docs plus prefix-shifted
    // copies; CDC boundaries re-synchronize right after the inserted
    // banner, so the copies dedup almost entirely — the case a fixed
    // grid structurally misses (every downstream chunk hash moves).
    "x270_cdc_shift_dedup" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 60)
      val shifted = d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 1000).as("doc_id"),
          concat(lit("boilerplate banner inserted "), col("text"))
            .as("text"))
      graft.ext.DedupOps.cdcDedup(d.unionByName(shifted),
          "doc_id", "text", avgWords = 8, salt = "cdc269")
        .orderBy(col("doc_id").asc)
    },

    // the QUALITY front door (x271): trained classifier -> logistic
    // probability -> Pareto-threshold admission — x267's model feeding
    // x268's keep rule, the exact two-stage filter the GPT-3 pipeline
    // ran (classifier score, then stochastic Pareto keep).
    "x271_quality_admission" -> { (s, dir) =>
      val scored = graft.ext.TextAnalysis.nbQualityScore(
        T(s, dir, "documents"), "doc_id", "text",
        col("source").isin("src1", "src2", "src3"))
        .withColumn("prob",
          round(lit(1.0) / (lit(1.0) + exp(-col("nb_llr"))), 6))
      graft.ext.Corpus.paretoAdmit(scored, "doc_id", col("prob"),
          alpha = 9.0, salt = "quality271")
        .orderBy(col("doc_id").asc)
    },

    // SemDeDup with the PAPER's keep policy (x272): within each
    // semantic component keep the member FARTHEST from its k-means
    // centroid (low-similarity-to-centroid = diversity-preserving),
    // round-6 distance, id tiebreak.
    "x272_semdedup_diverse" -> ((s, dir) =>
      graft.ext.DedupOps.semDedupDiverse(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        kClusters = 8, iters = 2, threshold = 0.35)
        .orderBy(col("vec_id").asc)),

    // CDC chunk-hash ledger under compaction + time travel (x273):
    // the x264 MVCC contract on content-defined boundaries — appends
    // land blind, compaction folds, and an as-of read of the
    // pre-append version serves only the base hashes.
    "x273_cdc_ledger_travel" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val ledger = scratchDir("cdcledger273")
      graft.ext.DedupOps.saveCdcChunkLedger(
        d.filter(col("doc_id") < 50), "doc_id", "text", ledger,
        avgWords = 8, salt = "cdc269")
      val v1 = graft.ext.DedupOps.cdcChunkLedgerVersion(s, ledger)
      graft.ext.DedupOps.appendToCdcChunkLedger(s, ledger,
        d.filter(col("doc_id") >= 50 && col("doc_id") < 150),
        "doc_id", "text", "b1")
      graft.ext.DedupOps.compactChunkLedger(s, ledger)
      val b2 = d.filter(col("doc_id") >= 150 && col("doc_id") < 250)
      graft.ext.DedupOps.cdcDedupIncremental(s, ledger, b2,
          "doc_id", "text", asOfVersion = Some(v1))
        .withColumn("as_of", lit("v1"))
        .unionByName(
          graft.ext.DedupOps.cdcDedupIncremental(s, ledger, b2,
              "doc_id", "text")
            .withColumn("as_of", lit("latest")))
        .select(col("as_of"), col("doc_id"), col("n_chunks"),
          col("n_kept"), col("dedup_text"))
        .orderBy(col("as_of").asc, col("doc_id").asc)
    },

    // streamed shift-resistant paragraph dedup (x274): x263's
    // maintained rewrite loop on CDC boundaries — batches arrive in
    // id order, so the sequential loop equals one-shot cdcDedup over
    // the cumulative corpus, which is the oracle.
    "x274_stream_cdc_dedup" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = scratchDir("streamcdc274")
      graft.ext.DedupOps.saveCdcChunkLedger(
        d.filter(col("doc_id") < 50), "doc_id", "text",
        base + "/ledger", avgWords = 8, salt = "cdc269")
      landOrdered(s, Seq(
        d.filter(col("doc_id") >= 50 && col("doc_id") < 150),
        d.filter(col("doc_id") >= 150 && col("doc_id") < 250)),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.cdcChunkDedupWriter(
          s, base + "/in", schema, base + "/ledger", base + "/out",
          "doc_id", "text")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out")
        .select("doc_id", "n_chunks", "n_kept", "dedup_text")
        .orderBy(col("doc_id").asc)
    },

    // C4 line-level cleaning (x275): the Raffel et al. §2.2 rules on
    // a deterministically line-ified fixture (' sort ' -> sentence
    // break, ' spark ' -> 'javascript' so the mention rule fires) —
    // terminal-punct lines with >= 3 words survive, pages need 5.
    "x275_c4_line_filter" -> ((s, dir) =>
      graft.ext.TextAnalysis.c4LineFilter(
        T(s, dir, "documents").select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), " spark ", " javascript "),
            " sort ", ".\n").as("text")),
        "doc_id", "text")
        .orderBy(col("doc_id").asc)),

    // blocklist filtering (x276): the C4 bad-words stage — broadcast
    // (term, category) table, per-doc hit counts, kept = zero hits.
    "x276_blocklist_filter" -> ((s, dir) =>
      graft.ext.TextAnalysis.blocklistFilter(
        T(s, dir, "documents"), "doc_id", "text",
        Seq(("data", "sensitive"), ("customer", "pii"),
          ("vector", "ml"), ("stream", "ml")))
        .orderBy(col("doc_id").asc)),

    // Gopher quality rules (x277): the Rae et al. A1.1 battery with
    // every threshold compared in integer cross-multiplication.
    "x277_gopher_rules" -> ((s, dir) =>
      graft.ext.TextAnalysis.gopherRules(
        T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id").asc)),

    // Gopher repetition rules (x278): duplicate lines / heaviest
    // 2-gram / repeated 5-grams, on a fixture where every 4th doc is
    // its own text twice (the machine-generated-boilerplate shape).
    "x278_gopher_repetition" -> ((s, dir) =>
      graft.ext.TextAnalysis.gopherRepetitionRules(
        T(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(col("text"), lit("\n"), col("text")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text")
        .orderBy(col("doc_id").asc)),

    // PII audit (x279): per-doc email/phone/IP counts over a fixture
    // with deterministically planted identifiers — the measurement
    // half of the x12 redaction pass.
    "x279_pii_audit" -> ((s, dir) =>
      graft.ext.TextAnalysis.piiAudit(
        T(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(lit(" contact user"),
                col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit(" call 555-123-4567")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit(" from 10.0.0.1")).otherwise(lit("")))
            .as("text")),
        "doc_id", "text")
        .orderBy(col("doc_id").asc)),

    // release-audit card (x280): the one-row rollup a training-data
    // release ships — doc/dup counts, Gopher + blocklist pass counts,
    // classifier mean (DECIMAL-summed, engine-exact), Pareto admits.
    "x280_release_audit" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val d = docs.agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(sha2(col("text"), 256)))
          .as("exact_dup_docs"))
      val g = graft.ext.TextAnalysis.gopherRules(docs, "doc_id", "text")
        .agg(sum("keep").as("gopher_pass"))
      val b = graft.ext.TextAnalysis.blocklistFilter(docs, "doc_id",
          "text", Seq(("data", "sensitive"), ("customer", "pii"),
            ("vector", "ml"), ("stream", "ml")))
        .agg(sum("kept").as("blocklist_pass"))
      val nb = graft.ext.TextAnalysis.nbQualityScore(docs, "doc_id",
          "text", col("source").isin("src1", "src2", "src3"))
        .agg(round(
          sum(col("nb_llr").cast(org.apache.spark.sql.types
            .DataTypes.createDecimalType(18, 6))).cast("double") /
            count(lit(1)), 6).as("mean_nb_llr"))
      val pa = graft.ext.Corpus.paretoAdmit(
          graft.ext.TextAnalysis.qualityScore(docs, "text"), "doc_id",
          col("quality_score"), alpha = 9.0, salt = "pareto268")
        .agg(sum("admitted").as("pareto_admits"))
      d.crossJoin(broadcast(g)).crossJoin(broadcast(b))
        .crossJoin(broadcast(nb)).crossJoin(broadcast(pa))
        .select("n_docs", "exact_dup_docs", "gopher_pass",
          "blocklist_pass", "mean_nb_llr", "pareto_admits")
    },

    "x05_cosine_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    },

    "x06_cosine_dups" -> ((s, dir) =>
      graft.ext.DedupOps.cosineDupPairs(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, signBits = 6)),

    // reciprocal-rank fusion (x78): the exact scan's list and the
    // sign-LSH list fused by 1/(60+rank) contributions — calibration-
    // free retriever combination; the fusion join is |Q|·k rows no
    // matter the corpus size.
    "x78_rrf_fusion" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      graft.ext.Similarity.rrfFuse(
        graft.ext.Similarity.bruteForceTopK(emb, q, "vec_id",
          "embedding", k = 5),
        graft.ext.Similarity.ivfTopK(emb, q, "vec_id", "embedding",
          k = 5),
        k = 5)
    },

    // hard-negative mining (x77): per query, the top-3 most similar
    // vectors with a DIFFERENT label — the confusable negatives a
    // contrastive trainer actually learns from (x57 is the cheap
    // in-batch tier of the same pipeline).
    "x77_hard_negatives" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.hardNegatives(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        "label", k = 3)
    },

    "x07_ivf_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, bits = 4)
    },

    "x08_lang_id" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.ext.TextAnalysis.langId(col("text")).as("lang_pred"))),

    "x09_quality" -> ((s, dir) =>
      graft.ext.TextAnalysis.qualityScore(T(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_punct", "n_stopwords",
          "punct_ratio", "stopword_ratio", "quality_score")),

    "x10_token_count" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        graft.ext.TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))),

    "x11_fingerprint" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))),

    "x12_multimodal_meta" -> ((s, dir) =>
      graft.ext.Multimodal.mediaMeta(
        graft.ext.Multimodal.withPayload(
          T(s, dir, "documents"), "doc_id", "text"), "doc_id", stride = 64)),

    // the multimodal decode path end-to-end: mapPartitions decode (stub
    // codec) → frame-sample every 2nd. The deterministic stub makes the
    // distributed decode pipeline oracle-checkable; resize is pinned by
    // MultimodalSpec.
    "x14_frames" -> { (s, dir) =>
      val frames = graft.ext.Multimodal.extractFrames(s,
        graft.ext.Multimodal.withPayload(
          T(s, dir, "documents"), "doc_id", "text"), "doc_id", stride = 64)
      graft.ext.Multimodal.sampleFrames(frames, everyN = 2L)
        .toDF()
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("feature")).cast(LongType).as("raw_len"))
    },

    // incremental-load dedup: admit only docs whose text is unseen in the
    // existing corpus — anti-join on a 32-byte content digest.
    // persisted MinHash-LSH index + incremental NEAR-dup admission
    // (x118): the x15 admission contract at near-dup granularity — the
    // incoming batch is checked against the corpus's banded signatures
    // (24-byte keys + collision-bounded sig reads; indexed text never
    // touched) and only documents with no verified near-duplicate
    // admit. Short docs carry no signature and admit unconditionally.
    "x118_minhash_index_admit" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("mh_index118")
      graft.ext.DedupOps.saveMinhashIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      graft.ext.DedupOps.minhashAdmit(s, idx,
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
        .select(col("doc_id"))
    },

    // the admit → append lifecycle (x119): a second day's batch is
    // admitted against base PLUS the appended first batch — the
    // signature ledger grows additively (cost ∝ batch) and later
    // admissions see everything ingested so far.
    "x119_minhash_index_append" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("mh_index119")
      graft.ext.DedupOps.saveMinhashIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      graft.ext.DedupOps.appendToMinhashIndex(s, idx,
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 400),
        "doc_id", "text", "b1")
      graft.ext.DedupOps.minhashAdmit(s, idx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text")
        .select(col("doc_id"))
    },

    // ledger DELETE (x125): a takedown must stop BLOCKING admission —
    // tombstoned docs leave the banded/sig join, so near-duplicates of
    // removed documents are ingestible again. Admission is checked
    // against the LIVE indexed corpus only (oracle bars the deleted
    // ids from the collision side).
    "x125_minhash_index_delete" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("mh_del125")
      graft.ext.DedupOps.saveMinhashIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      graft.ext.DedupOps.deleteFromMinhashIndex(s, idx,
        docs.filter(col("doc_id") < 250 && col("doc_id") % 4 === 2)
          .select(col("doc_id")), "doc_id", "d1")
      graft.ext.DedupOps.minhashAdmit(s, idx,
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
        .select(col("doc_id"))
    },

    // MinHash index compaction (x153): the full ledger lifecycle —
    // base + append + delete folded into one physical segment — must
    // leave ADMISSION DECISIONS untouched (tombstoned rows removed
    // physically, live rows preserved). Oracle: admission against the
    // live sub-400 corpus with the deleted ids barred — x119's and
    // x125's oracles composed.
    "x153_minhash_index_compact" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("mh_compact153")
      graft.ext.DedupOps.saveMinhashIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      graft.ext.DedupOps.appendToMinhashIndex(s, idx,
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 400),
        "doc_id", "text", "b1")
      graft.ext.DedupOps.deleteFromMinhashIndex(s, idx,
        docs.filter(col("doc_id") < 400 && col("doc_id") % 4 === 2)
          .select(col("doc_id")), "doc_id", "d1")
      graft.ext.DedupOps.compactMinhashIndex(s, idx)
      graft.ext.DedupOps.minhashAdmit(s, idx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text")
        .select(col("doc_id"))
    },

    // MinHash ledger TIME TRAVEL (x155): record the version before an
    // append, then replay an admission decision against that frozen
    // snapshot — "what did we admit against, and why", the audit
    // handle the other three index families already carry (x110 BM25,
    // x112 IVF, x149 IVFPQ). The >=400 probe batch is judged by the
    // sub-250 base corpus ONLY: the b1 append (250–399) is committed
    // and live, but invisible at the pinned version.
    "x155_minhash_time_travel" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("mh_tt155")
      graft.ext.DedupOps.saveMinhashIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      val v = graft.ext.DedupOps.minhashIndexVersion(s, idx)
      graft.ext.DedupOps.appendToMinhashIndex(s, idx,
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 400),
        "doc_id", "text", "b1")
      graft.ext.DedupOps.minhashAdmit(s, idx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text",
        asOfVersion = Some(v))
        .select(col("doc_id"))
    },

    "x15_incremental_dedup" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      graft.ext.Corpus.incrementalDedup(incoming, corpus, "text")
        .select("doc_id")
    },

    // deterministic content-hashed train/val/test split — stable across
    // re-runs, partitioning, and corpus growth.
    "x16_split_assign" -> ((s, dir) =>
      graft.ext.Corpus.assignSplit(T(s, dir, "documents"), "text")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))),

    // sequence-length bucketing for batch packing.
    "x17_length_buckets" -> ((s, dir) =>
      graft.ext.Corpus.lengthBuckets(T(s, dir, "documents"), "text")),

    // boilerplate detection: most document-frequent 3-grams.
    "x18_common_ngrams" -> ((s, dir) =>
      graft.ext.Corpus.commonNgrams(T(s, dir, "documents"), "text",
        n = 3, topK = 20)),

    // eval-set decontamination: train docs sharing a 5-gram with eval.
    "x19_decontaminate" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      graft.ext.Corpus.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "text", "doc_id", n = 5)
    },

    // deterministic hash-addressed ~25% downsample (reproducible across
    // runs/partitionings/engines, unlike RNG-seeded df.sample).
    "x20_hash_sample" -> ((s, dir) =>
      graft.ext.Corpus.deterministicSample(
        T(s, dir, "documents"), col("doc_id"))
        .select("doc_id", "lang")),

    // sequence packing: batches of ~512 tokens per (split, shard),
    // offset-based, integer-exact end to end. The shard key (doc_id % 8,
    // engine-portable) is what makes the sort scale: per-split-only
    // packing funnels the 80% train split through ONE sort partition.
    "x21_pack_batches" -> ((s, dir) =>
      graft.ext.Corpus.packBatches(
        graft.ext.Corpus.assignSplit(T(s, dir, "documents"), "text")
          .withColumn("shard", pmod(col("doc_id"), lit(8L))),
        "text", "doc_id", capacity = 512L,
        partitionCols = Seq("split", "shard"))
        .select("doc_id", "split", "shard", "n_tokens", "batch_id")),

    // fixed-token-window chunking with stride: the long-doc → training
    // window step ahead of sequence packing. Narrow op, no shuffle.
    "x23_chunk_docs" -> ((s, dir) =>
      graft.ext.Corpus.chunkDocuments(
        T(s, dir, "documents"), "text", "doc_id",
        chunkTokens = 64, stride = 48)),

    // canonical text normalization (case/whitespace) — the pass that
    // makes near-identical docs collapse under exact dedup. Narrow op.
    "x26_normalize_text" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        graft.ext.TextAnalysis.normalizeText(col("text"))
          .as("norm_text"))),

    // Unicode NFC composition ahead of dedup (x178): the fixture text is
    // pure ASCII (already NFC), so a deterministic decomposed suffix is
    // injected on even doc_ids (combining acute/diaeresis/ring — the
    // x27 injection trick); odd rows keep an ASCII tail so the
    // isNormalized fast path is exercised too. The codepoint counts
    // before/after prove composition actually collapsed the combining
    // marks; norm_text proves NFC composes with the case/whitespace
    // canonicalization (NFC FIRST — composition is case-sensitive).
    "x178_nfc_normalize" -> ((s, dir) => {
      graft.functions.StringExprs.register(s)
      val raw = concat(col("text"),
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          lit(" cafe\u0301 na\u0308ive A\u030Angstro\u0308m"))
          .otherwise(lit(" plain ascii tail")))
      T(s, dir, "documents").select(col("doc_id"),
        graft.ext.TextAnalysis.normalizeText(raw).as("norm_text"),
        length(raw).cast(LongType).as("n_cp_raw"),
        length(graft.functions.StringExprs.nfcNormalize(raw))
          .cast(LongType).as("n_cp_nfc"))
    }),

    // PII redaction with engine-portable (RE2-safe) patterns. The
    // fixture text carries no PII, so each doc gets a deterministic
    // email/phone/IP suffix injected first — the redaction path is
    // genuinely exercised and the oracle replays the same injection.
    "x27_redact_pii" -> ((s, dir) =>
      // concat (not concat_ws): NULL text must propagate exactly like
      // the oracle's `||` chain, not be silently skipped
      T(s, dir, "documents").select(col("doc_id"),
        graft.ext.TextAnalysis.redactPii(concat(col("text"),
          lit(" contact u"), col("doc_id").cast(StringType),
          lit("@mail.example.org tel 555-867-5309 ip 10.0."),
          pmod(col("doc_id"), lit(256L)).cast(StringType),
          lit(".7"))).as("redacted"))),

    // intra-document repetition ratio (quality signal): share of
    // repeated 3-grams per doc. Narrow op over the native shingle expr.
    "x28_repetition" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        graft.ext.TextAnalysis.repetitionRatio(col("text"), 3)
          .as("rep_ratio"))),

    // JSONL interchange surface: write the corpus as gzip JSON Lines,
    // read it back schema-on-read (NO inference pass), full-fidelity
    // round trip checked against the parquet source of truth.
    "x29_jsonl_roundtrip" -> { (s, dir) =>
      val base = scratchDir("jsonl")
      graft.sources.JsonLines.write(
        T(s, dir, "documents").select("doc_id", "lang", "text"),
        base + "/docs")
      graft.sources.JsonLines.read(s, base + "/docs", StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("text", StringType))))
    },

    // stratified deterministic sampling: per-language keep rates on the
    // md5 address space (rebalance the language mix, reproducibly).
    "x30_stratified_sample" -> ((s, dir) =>
      graft.ext.Corpus.stratifiedSample(
        T(s, dir, "documents"), col("lang"), col("doc_id"),
        Map("en" -> "8000", "de" -> "4000", "fr" -> "4000"),
        defaultThreshold = "1000")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))),

    // near-dup clusters: pair detection → connected components → one
    // cluster id per doc (min id in the component; docs with no
    // near-duplicate are their own singleton cluster). A small pair set
    // is labelled by a union-find on the driver, a large one by
    // checkpointed star rounds; the returned frame is the final labels
    // joined back onto the corpus.
    "x31_dedup_clusters" -> ((s, dir) => clusteredDocIds(s, dir)),

    // declarative data-quality audit (x83): the pre-promotion gate a
    // 100 TB ingest runs — row-level rules fold into ONE scan-pass
    // aggregate; uniqueness and referential integrity get their own
    // shapes; exact violation counts, one row per rule.
    "x83_quality_rules" -> { (s, dir) =>
      import graft.ops.Audit._
      val li = T(s, dir, "lineitem")
      val ev = T(s, dir, "events")
      audit(li, Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1.0, 45.0),
        AcceptedValues("l_returnflag", Seq("A", "N", "R")),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("l_orderkey", T(s, dir, "orders"), "o_orderkey")))
        .unionByName(audit(ev, Seq(
          InRange("value", 0.0, 100.0),
          RefIntegrity("user_id", T(s, dir, "customer"), "c_custkey"))))
    },

    // integer PageRank (x82): link analysis over the supplier↔part
    // bipartite graph (both directions, so the graph is closed and no
    // mass leaks) — exact fixed-point arithmetic, 4 power rounds, top-25.
    "x82_pagerank" -> { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val fwd = li.select((col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.ext.Graph.pageRank(edges, "src", "dst", iters = 4)
        .select(
          when(col("id") % 2 === 0, lit("supplier"))
            .otherwise(lit("part")).as("kind"),
          expr("id div 2").as("key"), col("rank"))
        .orderBy(col("rank").desc, col("kind").asc, col("key").asc)
        .limit(25)
    },

    // weighted integer PageRank (x86): the same closed supplier↔part
    // graph as x82 but each edge weighted by its lineitem count —
    // rank distributes PROPORTIONALLY to relationship strength
    // ((rank·w) div outw, exact fixed-point).
    "x86_pagerank_weighted" -> { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val fwd = li.groupBy((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      graft.ext.Graph.pageRankWeighted(edges, "src", "dst", "w",
          iters = 4)
        .select(
          when(col("id") % 2 === 0, lit("supplier"))
            .otherwise(lit("part")).as("kind"),
          expr("id div 2").as("key"), col("rank"))
        .orderBy(col("rank").desc, col("kind").asc, col("key").asc)
        .limit(25)
    },

    // convergence-early-exit PageRank (x95): tol=1 on a 2-REGULAR graph
    // (the nation-key cycle, closed both ways). Regularity makes the
    // uniform start an EXACT fixed point of the integer update — every
    // node's in-flow is 2·(scale div 2) = scale, so rank' = (15·scale)
    // div 100 + (85·scale) div 100 = scale (both divisions exact at
    // scale=10^9) — hence Δ=0 after round 1 and the early exit stops a
    // 50-round budget there. The oracle is the PROVEN fixed point in
    // closed form; a floor-loss or probe bug would drift values off it.
    "x95_pagerank_converged" -> { (s, dir) =>
      val n = T(s, dir, "nation")
      val fwd = n.select(col("n_nationkey").cast("long").as("src"),
        ((col("n_nationkey") + 1) % 25).cast("long").as("dst"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.ext.Graph.pageRank(edges, "src", "dst", iters = 50,
          tol = Some(1L))
        .orderBy(col("id").asc)
    },

    // leakage-safe splits (x81): whole near-dup clusters assigned to
    // one split by hashing the canonical member's text — near-copies
    // can never straddle train/test (x16 alone lets ~34% of pairs do).
    "x81_cluster_safe_split" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val lbl = graft.ext.DedupOps.dedupClusters(
        docNearDupPairs(docs), "doc_a", "doc_b")
      graft.ext.Corpus.clusterSafeSplit(docs, "doc_id", "text", lbl)
        .select(col("doc_id"), col("cluster_id"), col("split"))
    },

    // canonical selection: one keep-doc per near-dup cluster, highest
    // quality score wins (min doc_id tie-break) — detection → clusters
    // → decision, the complete dedup pipeline as one query.
    "x32_canonical_docs" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val lbl = graft.ext.DedupOps.dedupClusters(
        docNearDupPairs(docs), "doc_a", "doc_b")
      val scored = graft.ext.TextAnalysis.qualityScore(docs, "text")
        .select(col("doc_id"), col("quality_score"))
      val clustered = scored
        .join(lbl, scored("doc_id") === lbl("id"), "left")
        .select(col("doc_id"), col("quality_score"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      clustered.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("quality_score"))
    },

    // x31 under its own gate name and oracle, forced onto the
    // O(log n) alternating-star rounds (driverPairs = 0) that a large
    // pair set takes: the same operator, pair detection and
    // (id, cluster_id) contract as x31's driver union-find, so the two
    // gates pin the two paths to one oracle.
    "x37_star_clusters" -> ((s, dir) =>
      clusteredDocIds(s, dir, driverPairs = Some(0L))),

    // asymmetric containment pairs: |A∩B|/min(|A|,|B|) ≥ 0.8 — catches
    // small docs quoted inside large ones (Jaccard-invisible).
    "x49_containment_pairs" -> ((s, dir) =>
      graft.ext.DedupOps.containmentPairs(
        T(s, dir, "documents"), "doc_id", "text", n = 5, threshold = 0.8)),

    // containment-admission ledger (x235): x49's asymmetric
    // subset/quotation measure as an INCREMENTAL admission path — the
    // axis the MinHash ledger (x118) structurally misses (a small doc
    // fully quoted in a large indexed one has Jaccard ~0, containment
    // 1.0). Persisted shingle postings under the manifest protocol;
    // admit iff no indexed doc at C >= 0.8. Oracle: x49's pair SQL
    // restricted cross-side. Append/self-reject/as-of/compact-race
    // pinned in ExtSpec.
    "x235_containment_admit" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val ledger = scratchDir("ctledger235")
      graft.ext.DedupOps.saveContainmentIndex(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", ledger, n = 5)
      graft.ext.DedupOps.containmentAdmit(s, ledger,
          docs.filter(pmod(col("doc_id"), lit(4)) === 0),
          "doc_id", "text", threshold = 0.8)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // containment ledger takedown (x242): deleted docs stop BLOCKING
    // admission — tombstoned postings leave the join, so a quote of a
    // removed document is ingestible again (x125's contract on the
    // containment axis). Oracle: x235's cross-side SQL against the
    // SURVIVING ledger only.
    "x242_containment_delete" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val ledger = scratchDir("ctledger242")
      graft.ext.DedupOps.saveContainmentIndex(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", ledger, n = 5)
      graft.ext.DedupOps.deleteFromContainmentIndex(s, ledger,
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0 &&
            pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id")), "doc_id", "d1")
      graft.ext.DedupOps.containmentAdmit(s, ledger,
          docs.filter(pmod(col("doc_id"), lit(4)) === 0),
          "doc_id", "text", threshold = 0.8)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // containment ledger as-of admission (x249): x155's MVCC shape on
    // the containment axis — the ledger starts without the %5=0 docs,
    // v0 is recorded, they arrive as an append, and the admission
    // replays PINNED TO v0: the appended docs are invisible, so the
    // verdicts equal x242's surviving-ledger restriction exactly
    // (time travel before an append == the append never happened).
    "x249_containment_asof_admit" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val ledger = scratchDir("ctledger249")
      graft.ext.DedupOps.saveContainmentIndex(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0 &&
          pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", ledger, n = 5)
      val v0 = graft.ext.DedupOps.containmentIndexVersion(s, ledger)
      graft.ext.DedupOps.appendToContainmentIndex(s, ledger,
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0 &&
          pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", "b1")
      graft.ext.DedupOps.containmentAdmit(s, ledger,
          docs.filter(pmod(col("doc_id"), lit(4)) === 0),
          "doc_id", "text", threshold = 0.8, asOfVersion = Some(v0))
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // containment compaction preserves time travel (x254): x249's
    // MVCC admission driven THROUGH a delete + compaction — v0 is
    // recorded before the %5=0 append, a delete then tombstones a
    // slice, a compaction folds the postings (physically removing the
    // tombstoned docs), and the admission STILL replays pinned to v0:
    // compaction writes NEW segments and a NEW manifest, never
    // touching files a retained version references (the x155/x110
    // time-travel rule, now pinned on the containment axis). Oracle:
    // x249's surviving-ledger restriction verbatim.
    "x254_containment_compact_travel" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val ledger = scratchDir("ctledger254")
      graft.ext.DedupOps.saveContainmentIndex(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0 &&
          pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", ledger, n = 5)
      val v0 = graft.ext.DedupOps.containmentIndexVersion(s, ledger)
      graft.ext.DedupOps.appendToContainmentIndex(s, ledger,
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0 &&
          pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", "b1")
      graft.ext.DedupOps.deleteFromContainmentIndex(s, ledger,
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0 &&
            pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id")), "doc_id", "d1")
      graft.ext.DedupOps.compactContainmentIndex(s, ledger)
      graft.ext.DedupOps.containmentAdmit(s, ledger,
          docs.filter(pmod(col("doc_id"), lit(4)) === 0),
          "doc_id", "text", threshold = 0.8, asOfVersion = Some(v0))
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // exact heavy-hitter terms: Misra-Gries prunes the vocabulary to
    // ≤64 candidates, exact re-count keeps terms with freq·64 > N.
    "x47_heavy_terms" -> ((s, dir) =>
      graft.ext.TextAnalysis.heavyTerms(
        T(s, dir, "documents"), "text", k = 64)),

    // training-sequence assembly: per-user event history as one ordered
    // type@µs string (struct-sort → render, partitioning-independent).
    "x46_event_sequences" -> ((s, dir) =>
      graft.ext.Corpus.eventSequences(T(s, dir, "events"), "user_id")),

    // bounded-heap top-k aggregate: same result contract as q09's window
    // top-k, but partial k-entry heaps merge map-side — no per-group
    // sort, k rows per group shuffled. The scale path for huge groups.
    "x45_topk_agg" -> { (s, dir) =>
      graft.functions.TopKAgg.register(s)
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAgg.topKByScore(
          col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col("o_custkey"), posexplode(col("tk")))
        .select(col("o_custkey"),
          (col("pos") + 1).cast(LongType).as("rank"),
          col("col.id").as("o_orderkey"),
          col("col.score").as("o_totalprice"))
    },

    // range-sorted data-skipping layout: write orders range-partitioned
    // + sorted on o_orderkey, then emit the layout invariants (row
    // conservation, zero overlapping file ranges, file count) — the
    // disjointness precondition for file-level skipping IS the gate.
    "x44_range_sorted_write" -> { (s, dir) =>
      val base = scratchDir("rangesorted")
      graft.sinks.SortedWrite.writeRangeSorted(
        T(s, dir, "orders"), base, "o_orderkey", numFiles = 8)
      graft.sinks.SortedWrite.layoutInvariants(s, base, "o_orderkey")
    },

    // exact triangle count with degree-ordered orientation (x111): a
    // circulant-style graph over the supplier key space (strides
    // 1,2,3 mod N — sparse ~3N edges, ~O(N) triangles, scales with
    // sf; supplier keys need not be contiguous, the oracle replays
    // the identical edge construction). NOT the co-supply pair graph:
    // the synthetic fixture assigns suppliers uniformly, which makes
    // that graph essentially COMPLETE (K_N — ~N³/6 triangles, a worst
    // case no real power-law graph hits); the orientation's O(sqrt E)
    // out-degree bound is what matters at scale and GraphSpec pins
    // the semantics.
    "x111_triangle_count" -> { (s, dir) =>
      val sup = T(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("k"))
      val n = sup.agg(count(lit(1))).head().getLong(0)
      val edges = sup
        .select(col("k"), explode(array(lit(1L), lit(2L), lit(3L)))
          .as("stride"))
        .select(col("k").as("src"),
          (pmod(col("k") - 1 + col("stride"), lit(n)) + 1).as("dst"))
      graft.ext.Graph.triangleCount(edges, "src", "dst")
    },

    // Z-order (Morton) multi-column data-skipping layout (x109):
    // orders written range-sorted on the interleaved bits of
    // (o_custkey, o_orderkey) — every file covers a small rectangle of
    // BOTH dimensions, so min/max stats prune on either predicate
    // (x44's discipline, extended to two columns). Gate emits the
    // conservation invariants; ZOrderSpec pins the rectangle-tightness
    // contrast vs a linear sort.
    "x109_zorder_write" -> { (s, dir) =>
      val base = scratchDir("zorder")
      graft.sinks.ZOrder.writeZOrdered(
        T(s, dir, "orders"), base, "o_custkey", "o_orderkey",
        numFiles = 8)
      graft.sinks.ZOrder.layoutInvariants(s, base, "o_custkey",
        "o_orderkey")
    },

    // z-order file-skipping SERVE (x126): the read half of x109 — a
    // rectangle manifest written once at layout time lets a box
    // predicate on EITHER curve column drop whole files at plan time
    // (no listing, no footer reads); the box re-applies on survivors,
    // so the answer equals the plain filtered scan. ZOrderSpec pins
    // that files are actually skipped.
    "x126_zorder_pruned_scan" -> { (s, dir) =>
      val base = scratchDir("zorder126")
      graft.sinks.ZOrder.writeZOrdered(
        T(s, dir, "orders"), base, "o_custkey", "o_orderkey",
        numFiles = 8)
      graft.sinks.ZOrder.writeFileStats(s, base, "o_custkey",
        "o_orderkey")
      graft.sinks.ZOrder.readZOrderedPruned(s, base,
        "o_custkey", 50, 120, "o_orderkey", 1000, 30000)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("o_orderkey")), lit(0L)).as("sum_key"))
    },

    // exact Hamming-≤1 string pair join via position-masked hash
    // blocking (deletion-neighborhood); verify is the true byte distance.
    "x43_hamming_pairs" -> ((s, dir) =>
      graft.ext.DedupOps.hammingPairs(
        T(s, dir, "customer"), "c_custkey", "c_name")),

    // token-budget data mixing: fill per-language token budgets in
    // hash-addressed admission order; es has no budget → dropped.
    "x41_token_budget_mix" -> ((s, dir) =>
      graft.ext.Corpus.tokenBudgetMix(
        T(s, dir, "documents"), "lang", "doc_id", "text",
        Map("en" -> 6000L, "de" -> 2000L, "fr" -> 1500L, "zh" -> 1000L))),

    // per-doc distinctive keywords: rational tf-idf (tf·N/df — exact
    // integer product + one IEEE division, bit-stable across engines),
    // top-5 per doc with total score/term ordering.
    "x40_tfidf_terms" -> ((s, dir) =>
      graft.ext.TextAnalysis.tfidfTopTerms(
        T(s, dir, "documents"), "doc_id", "text", k = 5)),

    // BM25 ranked retrieval (x80): the lexical side of hybrid search
    // (fuse with the vector retrievers via x78's RRF) — rational idf,
    // decimal-exact per-doc sums, single-tokenize shared aggregate.
    "x80_bm25_topk" -> ((s, dir) =>
      graft.ext.TextAnalysis.bm25TopK(
        T(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "merge"), k = 10)),

    // duplicate-span coverage: per doc, maximal spans whose every
    // 8-token window appears in ≥2 docs — sub-document dedup signal.
    "x38_dup_spans" -> ((s, dir) =>
      graft.ext.DedupOps.duplicateSpans(
        T(s, dir, "documents"), "doc_id", "text", w = 8, minDocs = 2)),

    // duplicate-span REMOVAL (x96): the transform between x38's
    // detection and training — drop every token inside a duplicated
    // span, re-join the survivors (whitespace-canonical). The oracle
    // reconstructs the residual text from x38's literal-text spans.
    "x96_remove_dup_spans" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      graft.ext.Corpus.removeDuplicateSpans(docs, "doc_id", "text",
        graft.ext.DedupOps.duplicateSpanOffsets(docs, "doc_id", "text",
          w = 8, minDocs = 2))
    },

    // symmetric int8 embedding quantization: the 4× storage cut for an
    // ANN corpus, with an exact-IEEE determinism contract (floor-based
    // half-up rounding, no float accumulation) so the oracle hash-matches.
    // The gate emits levels as CSV text — the driver's row sort can't
    // order array cells; the library API keeps the typed array.
    "x33_quantize_embeddings" -> ((s, dir) =>
      graft.ext.Similarity.quantizeInt8(
        T(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          concat_ws(",", col("q")).as("q_csv"), col("scale"))),

    // quantized ANN flat scan: top-k by int8 dot product — x33's
    // consumer; scores are exact integer arithmetic in doubles, so the
    // oracle hash-matches bit-for-bit.
    "x34_quantized_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.quantizedTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    },

    // corpus pipeline integration gate: normalize → exact-dedup on the
    // normalized text → deterministic split → per-(split, lang) stats.
    // Composition is the product being tested; the dedup shuffle carries
    // the 32-byte digest (never text), all per-doc signals are computed
    // in the narrow stage before it and ride along via min_by. Plan
    // note: min_by's string payload forces a sort-based aggregate —
    // a deliberate trade: ONE digest-keyed shuffle with per-partition
    // sorts beats the hash-only alternative (digest agg + two more
    // doc_id-keyed join shuffles to re-attach lang/split).
    "x35_corpus_pipeline" -> { (s, dir) =>
      val staged = T(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        graft.ext.TextAnalysis.normalizeText(col("text")).as("text"))
      val signals = graft.ext.Corpus.assignSplit(staged, "text")
        .select(col("doc_id"), col("lang"), col("split"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_toks"),
          graft.ext.Corpus.digest(col("text")).as("d"))
      val deduped = signals.groupBy("d").agg(
        min("doc_id").as("doc_id"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("split"), col("doc_id")).as("split"),
        min_by(col("n_toks"), col("doc_id")).as("n_toks"))
      deduped.groupBy("split", "lang").agg(
        count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    },

    // markup-strip extraction: tags out, entities decoded, whitespace
    // re-collapsed. The fixture text carries no markup, so each doc is
    // wrapped in a deterministic HTML shell first (same trick as x27) —
    // the oracle replays the identical injection.
    "x36_strip_markup" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        graft.ext.TextAnalysis.stripMarkup(concat(
          lit("<html><body class=\"d\"><h1>T&amp;C &lt;draft&gt;</h1><p>"),
          col("text"),
          lit("</p><script>var x = 1;</script>&nbsp;&#39;end&#39;</body></html>")))
          .as("clean_text"))),

    // streaming exactly-once admission: state-store-backed distinct over
    // the key tuple, run as a real stream (AvailableNow) with the
    // admission log as the result. Emitting only key columns makes the
    // output arrival-order independent → oracle = SELECT DISTINCT.
    "x22_stream_dedup" -> { (s, dir) =>
      val base = scratchDir("streamdedup")
      val events = graft.streaming.EventStream
        .readEvents(s, dir + "/events*.parquet")
      val admitted = graft.streaming.StreamDedup.exactDistinct(
        events, Seq("user_id", "event_type"))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.StreamDedup
          .appendWriter(admitted, base + "/keys")
          .option("checkpointLocation", base + "/ckpt").start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      // batch=<id> is the sink's idempotence partition, not payload
      s.read.parquet(base + "/keys").select("user_id", "event_type")
    },

    // watermark-evicted streaming dedup — the tier that scales to an
    // unbounded firehose (state tracks the lateness horizon, not history).
    // Four hand-sequenced micro-batches (maxFilesPerTrigger=1, mtime
    // order) pin the full contract deterministically:
    //   b1: every distinct key at T0            → admitted
    //   b2: sentinel at T0+10h                  → advances the watermark
    //       to T0+9h (visible from the NEXT batch on)
    //   b3: second sentinel at T0+10h           → end-of-batch cleanup
    //       under the advanced watermark evicts every b1 key's state
    //       (expiry T0+1h) — eviction lags the advance by one batch
    //   b4: each key TWICE at T0+10h            → first copy re-admitted
    //       (beyond-horizon duplicate), second dropped (within-horizon)
    // Result = every key twice + both sentinels once, arrival-order
    // independent → exactly SQL-expressible (DISTINCT × 2 ∪ sentinels).
    // per-source document cap: at most 15 docs per source, admitted in
    // deterministic (md5(id), id) order — the "no domain dominates the
    // corpus" rule of a crawl pipeline.
    "x50_source_caps" -> ((s, dir) =>
      graft.ext.Corpus.sourceCap(
        T(s, dir, "documents"), "source", "doc_id", cap = 15)
        .select("doc_id", "source")),

    // weighted sampling without replacement (A-Res): inclusion odds ∝
    // document length, yet fully deterministic (md5-addressed u) — the
    // "oversample long documents" knob of a data-mix pipeline.
    "x51_weighted_sample" -> ((s, dir) =>
      graft.ext.Corpus.weightedSample(
        T(s, dir, "documents"), "doc_id", col("n_chars").cast(DoubleType),
        k = 100)
        .select("doc_id", "source", "sample_key")),

    // semantic dedup (SemDeDup): drop every embedding with a lower-id
    // cosine near-duplicate — detection shares x06's sign-LSH candidate
    // join, decision is one anti-join; survivors keep full rows.
    "x52_semantic_dedup" -> ((s, dir) =>
      graft.ext.DedupOps.semanticDedup(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, signBits = 6)
        .select(col("vec_id"), col("label").cast(LongType).as("label"))),

    // k-means (Lloyd's) over the embedding corpus: 2 driver-paced
    // iterations from the k lowest-id seeds, then the final nearest-
    // centroid assignment — the trainer for IVF/ANN partition layouts
    // (x07 consumes buckets like these).
    "x53_kmeans_assign" -> ((s, dir) =>
      graft.ext.Clustering.kmeansAssign(
        T(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
        .select("vec_id", "cluster", "dist")),

    // bloom-prefiltered incremental dedup: x15's exact admission with the
    // corpus digest set sketched into a broadcast Bloom filter — misses
    // are provably new and skip the anti-join; only hits (dups + the FP
    // sliver) pay the shuffle. Same result as x15, so the same oracle
    // shape gates it.
    "x54_bloom_dedup" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      graft.ext.Corpus.bloomDedup(incoming, corpus, "text",
        expectedItems = 10000L, numBits = 131072L)
        .select("doc_id", "source")
    },

    // sharded bloom admission: x54's prefilter with the digest space
    // split across 3 right-sized filters, ALL built in one corpus pass
    // (digest shuffle + per-shard bloom agg; bounded peak memory) —
    // same admission predicate, same oracle shape.
    "x70_sharded_bloom_dedup" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      graft.ext.Corpus.bloomDedupSharded(incoming, corpus, "text",
        shards = 3, expectedItemsPerShard = 4000L,
        numBitsPerShard = 65536L)
        .select("doc_id", "source")
    },

    // percentile length trimming: drop each language's shortest/longest
    // 5% by token count (percent_rank, partitioned by lang — exact
    // rational ranks, engine-identical doubles). This is the EXACT
    // small-corpus form: the window sorts each whole language in one
    // task, so at 100× a dominant language is a single-task sort —
    // x233 is the scale-safe sketch twin (KLL thresholds broadcast
    // back, corpus never sorts); keep this one for corpora that fit a
    // task and need exact rational ranks in the output.
    "x60_length_trim" -> { (s, dir) =>
      val byLang = Window.partitionBy(col("lang"))
        .orderBy(col("n_tokens").asc)
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("pr", percent_rank().over(byLang))
        .filter(col("pr") >= 0.05 && col("pr") <= 0.95)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("pr"), 6).as("pr"))
    },

    // KLL-thresholded per-group trimming (x233): x60's curation op in
    // the shape that survives 100× — per-language [Q(0.05), Q(0.95)]
    // token-count bands read from the grouped KLL sketch (x225's
    // keyed O(3k)-state aggregate) and broadcast back onto the scan:
    // one narrow filter, no per-group sort anywhere in the plan
    // (CorpusSpec pins the plan Window/Sort-free and the boundary/tie
    // semantics). k=1024 puts sf0.01's groups in the exact regime, so
    // the kept set is the ⌈q·n⌉-th-order-statistic band, oracle-green.
    "x233_kll_length_trim" -> { (s, dir) =>
      val t = T(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ext.Corpus.kllTrimByGroup(t, col("n_tokens"), Seq("lang"),
          k = 1024, loMicros = 50000L, hiMicros = 950000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("lo"), col("hi"))
        .orderBy(col("doc_id").asc)
    },

    // sketch-threshold trim from PERSISTED state (x241): x233's trim
    // with the per-language bands read off the x237 grouped-sketch
    // snapshot (save + append here; a stream maintains the same
    // state) — threshold freshness is the sketch's, the corpus is
    // scanned once for the filter and NEVER for the thresholds, and
    // asOfVersion can pin a trim to an audited snapshot. Exact regime
    // covering the full corpus → x233's oracle verbatim.
    "x241_sketch_threshold_trim" -> { (s, dir) =>
      val t = T(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val idx = scratchDir("kllgtrim241")
      graft.ext.Corpus.saveGroupedKllSketch(
        t.filter(col("doc_id") % 3 =!= 0), col("n_tokens"), "lang",
        idx, k = 1024)
      graft.ext.Corpus.appendToGroupedKllSketch(s, idx,
        t.filter(col("doc_id") % 3 === 0), col("n_tokens"), "b1")
      graft.ext.Corpus.kllTrimByGroupFromSketch(s, idx, t,
          col("n_tokens"), loMicros = 50000L, hiMicros = 950000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("lo"), col("hi"))
        .orderBy(col("doc_id").asc)
    },

    // partition-pruned read: events staged date-partitioned, one day
    // read back — the filter rides as a PartitionFilter (directory
    // pruning before file listing; PartitionedWriteSpec asserts the
    // plan), and the pruned rows must equal the raw filter's rows.
    "x61_partition_pruning" -> { (s, dir) =>
      val base = scratchDir("partwrite")
      graft.sinks.PartitionedWrite.prunedDay(s,
          T(s, dir, "events"), base + "/events", "2024-01-03")
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("event_date"), "yyyy-MM-dd").as("event_date"))
    },

    // preference-pair mining (RLHF/DPO data construction): per source,
    // the highest- vs lowest-quality document as a (chosen, rejected)
    // pair — ONE min_by/max_by hash agg over the x09 scores, no sort,
    // no window; deterministic id tie-breaks.
    "x63_preference_pairs" -> { (s, dir) =>
      val scored = graft.ext.TextAnalysis.qualityScore(
        T(s, dir, "documents"), "text")
      scored.groupBy(col("source"))
        .agg(
          max_by(col("doc_id"),
            struct(col("quality_score"), -col("doc_id"))).as("chosen_id"),
          max(col("quality_score")).as("chosen_score"),
          min_by(col("doc_id"),
            struct(col("quality_score"), col("doc_id"))).as("rejected_id"),
          min(col("quality_score")).as("rejected_score"))
        .filter(col("chosen_id") =!= col("rejected_id"))
        .withColumn("margin",
          round(col("chosen_score") - col("rejected_score"), 6))
    },

    // small-file compaction: events staged as 64 shard files, rewritten
    // to byte-sized-targeted files (CompactSpec pins the count); the
    // oracle pins content identity — compaction must not change a row.
    "x64_compact_files" -> { (s, dir) =>
      val base = scratchDir("compact")
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .repartition(64)
        .write.mode("overwrite").parquet(base + "/small")
      graft.sinks.Compact.compact(s, base + "/small", base + "/big",
        targetBytes = 64L * 1024L * 1024L)
      graft.sinks.Compact.read(s, base + "/big")
        .select("event_id", "user_id", "event_type")
    },

    // per-partition compaction (x72): one week of events staged
    // Hive-partitioned by day with small shard files, each date
    // directory compacted as its own bounded job with a
    // bounded-concurrency window (the 100 TB maintenance shape — at
    // most K partitions' footprint in flight), read back as the same
    // partitioned table. The WEEK slice is the point, not a shortcut:
    // incremental maintenance compacts the partitions the sinks
    // touched recently, never the whole table (compacting all history
    // every night is the anti-pattern the per-partition driver exists
    // to avoid).
    "x72_compact_partitioned" -> { (s, dir) =>
      val base = scratchDir("compactpart")
      T(s, dir, "events")
        .filter(col("ts") < lit("2024-01-08").cast(TimestampType))
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
        .repartition(4)
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(base + "/small")
      graft.sinks.Compact.compactPartitioned(s, base + "/small",
        base + "/big", targetBytes = 64L * 1024L * 1024L)
      s.read.parquet(base + "/big")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("event_date").cast(StringType).as("event_date"))
    },

    // CDC feed replayed as a stream (x79): q44's change set split into
    // per-batch files, each applied incrementally WITH delete support
    // (CdcSink — the merge Upsert's ON CONFLICT shape can't express),
    // landing exactly the one-shot apply's table.
    "x79_stream_cdc_apply" -> { (s, dir) =>
      val base = scratchDir("streamcdc")
      val cust = T(s, dir, "customer")
      val oldSnap = cust.filter(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val newSnap = cust.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + lit(1.0))
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      val changes = graft.ops.Cdc.snapshotDiffWithValues(oldSnap, newSnap,
        Seq("c_custkey"), Seq("c_acctbal"))
      oldSnap.write.mode("overwrite").parquet(base + "/table")
      changes.repartition(3, col("c_custkey"))
        .write.mode("overwrite").parquet(base + "/changes")
      val schema = s.read.parquet(base + "/changes").schema
      val q = graft.streaming.StreamCdc.applyWriter(s, base + "/changes",
          schema, base + "/table", Seq("c_custkey"), Seq("c_acctbal"))
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/table")
    },

    // streaming CDC INTO the index (x127): inserts, updates, deletes,
    // a delete of a previously-streamed insert, and a second update of
    // an already-updated doc stream through the delete/reindex
    // primitives — the final serve must equal a from-scratch build of
    // the net table state (the x79 table contract, lifted to the
    // retrieval index).
    "x127_stream_bm25_cdc" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val base = scratchDir("streamcdc127")
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 300), "doc_id", "text",
        base + "/idx")
      val b1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
        .select(col("doc_id"), col("text"), lit("upsert").as("op"))
      val b2 = docs
        .filter(col("doc_id") % 9 === 4 &&
          col("doc_id") >= 150 && col("doc_id") < 300)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("delete").as("op"))
        .unionByName(docs
          .filter(col("doc_id") >= 100 && col("doc_id") < 150)
          .select(col("doc_id"),
            concat(col("text"), lit(" merge")).as("text"),
            lit("upsert").as("op")))
      val b3 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 310)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("delete").as("op"))
        .unionByName(docs
          .filter(col("doc_id") >= 100 && col("doc_id") < 120)
          .select(col("doc_id"),
            concat(col("text"), lit(" join")).as("text"),
            lit("upsert").as("op")))
      landOrdered(s, Seq(b1, b2, b3), base + "/changes")
      val schema = s.read.parquet(base + "/changes").schema
      val q = graft.streaming.StreamIndex.bm25CdcWriter(s,
          base + "/changes", schema, base + "/idx", "doc_id", "text",
          "op")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.TextAnalysis.queryBm25Index(s, base + "/idx",
        Seq("hash", "join", "merge"), k = 10)
    },

    // streaming CDC into the VECTOR index (x128): the re-embedding
    // loop — inserts, deletes, a re-embedded (negated) slice, a
    // delete-of-an-insert, and a re-re-embedded (reversed) slice
    // stream through delete/reindex; the serve must equal the frozen
    // subset-trained centroids over the net corpus state.
    "x128_stream_ivf_cdc" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val base = scratchDir("streamivfcdc128")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding",
        base + "/idx", kCentroids = 8, iters = 2)
      // one change-file schema: embeddings unify to array<double>
      // (float→double widening is exact, so modified vectors stay
      // bit-equal to the oracle's CAST-then-transform)
      val asD = col("embedding").cast("array<double>")
      val b1 = emb.filter(col("vec_id") >= 400)
        .select(col("vec_id"), asD.as("embedding"),
          lit("upsert").as("op"))
      val b2 = emb.filter(col("vec_id") % 5 === 0 &&
          col("vec_id") < 400)
        .select(col("vec_id"),
          lit(null).cast("array<double>").as("embedding"),
          lit("delete").as("op"))
        .unionByName(emb
          .filter(col("vec_id") >= 100 && col("vec_id") < 150)
          .select(col("vec_id"),
            transform(asD, x => -x).as("embedding"),
            lit("upsert").as("op")))
      val b3 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
        .select(col("vec_id"),
          lit(null).cast("array<double>").as("embedding"),
          lit("delete").as("op"))
        .unionByName(emb
          .filter(col("vec_id") >= 100 && col("vec_id") < 120)
          .select(col("vec_id"),
            reverse(asD).as("embedding"),
            lit("upsert").as("op")))
      landOrdered(s, Seq(b1, b2, b3), base + "/changes")
      val schema = s.read.parquet(base + "/changes").schema
      val q = graft.streaming.StreamIndex.ivfCdcWriter(s,
          base + "/changes", schema, base + "/idx", "vec_id",
          "embedding", "op")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Similarity.queryIvfIndex(s, base + "/idx",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // streaming DUAL CDC (x182): the production form of x176 — one
    // change stream (id, text, embedding, op), the re-embedding loop's
    // full shape, applied per micro-batch to BOTH retrieval indexes
    // with ONE pipeline pin committed after both legs land (the
    // pin-commits-LAST invariant x176 gates the read side of). Batch
    // b1 appends docs 300-349 on both legs, b2 tombstones the
    // doc_id%9=4 slice of [150,300) on both; the final pinned hybrid
    // serve must equal the net-corpus twin (lex = BM25 over the
    // surviving docs with exact-live stats, vec = subset-trained
    // serve over the surviving vectors), RRF-fused in fixed order.
    "x182_stream_dual_cdc" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val base = scratchDir("dualcdc182")
      Concurrently.both(
        graft.ext.TextAnalysis.saveBm25Index(
          docs.filter(col("doc_id") < 300), "doc_id", "text",
          base + "/bm25"),
        graft.ext.Similarity.saveIvfIndex(
          emb.filter(col("vec_id") < 300), "vec_id", "embedding",
          base + "/ivf", kCentroids = 8, iters = 2))
      graft.ext.Hybrid.commitPin(s, base + "/pins", base + "/bm25",
        base + "/ivf")
      // change frames: doc and embedding travel TOGETHER (ids align
      // across the two tables); embeddings widen to array<double>
      // (exact, the x128 convention)
      val j = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(docs("doc_id"), col("text"),
          col("embedding").cast("array<double>").as("embedding"))
      val b1 = j.filter(col("doc_id") >= 300 && col("doc_id") < 350)
        .withColumn("op", lit("upsert"))
      val b2 = j
        .filter(col("doc_id") % 9 === 4 &&
          col("doc_id") >= 150 && col("doc_id") < 300)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit(null).cast("array<double>").as("embedding"),
          lit("delete").as("op"))
      landOrdered(s, Seq(b1, b2), base + "/changes")
      val schema = s.read.parquet(base + "/changes").schema
      val q = graft.streaming.StreamIndex.dualCdcWriter(s,
          base + "/changes", schema, base + "/bm25", base + "/ivf",
          base + "/pins", "doc_id", "text", "embedding", "op")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Hybrid.servePinned(s, base + "/pins", base + "/bm25",
        Seq("hash", "join", "merge"), 0L, base + "/ivf",
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        kLex = 10, kVec = 5, k = 10)
    },

    // streaming BM25 index maintenance (x97): a base index + three
    // streamed new-doc batches must serve exactly what a one-shot
    // full-corpus build serves (same oracle as x80/x89) — the
    // serving-side twin of x73's table loop, powered by the
    // batchId-idempotent incremental append (exactly-once under
    // micro-batch replay).
    "x97_stream_bm25_maintain" -> { (s, dir) =>
      val base = scratchDir("streambm25")
      val docs = T(s, dir, "documents")
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        base + "/idx")
      docs.filter(col("doc_id") >= 250)
        .repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(base + "/newdocs")
      val schema = s.read.parquet(base + "/newdocs").schema
      val q = graft.streaming.StreamIndex.bm25AppendWriter(s,
          base + "/newdocs", schema, base + "/idx", "doc_id", "text")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.TextAnalysis.queryBm25Index(s, base + "/idx",
        Seq("hash", "join", "merge"), k = 10)
    },

    // the FULL reference loop as an incremental stream (x73): raw
    // insight pulls staged as one file per date range, each replayed as
    // its own micro-batch through the COMPLETE E2 transform and
    // upserted on the reference grain — the daily-rerun loop end to
    // end. Gated against e2's full-batch oracle: streamed-incremental
    // and one-shot-batch must land the identical table.
    "x73_stream_e2_loop" -> { (s, dir) =>
      val base = scratchDir("streame2")
      graft.sources.MetaFixtures.rawInsights(s, dir)
        .repartitionByRange(3, col("date_start"))
        .write.mode("overwrite").parquet(base + "/pulls")
      val schema = s.read.parquet(base + "/pulls").schema
      val q = graft.streaming.EventStream
        .e2LoopWriter(s, base + "/pulls", schema, base + "/perf")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      // date_start is a PARTITION column of the upserted table —
      // inference may type the directory values as dates; the gate
      // shape is the ISO string
      s.read.parquet(base + "/perf")
        .select(date_format(col("date_start"), "yyyy-MM-dd")
            .as("date_start"), col("ad_id"), col("adset_id"),
          col("campaign_id"), col("total_impressions"),
          col("total_clicks"), col("total_spend"), col("total_leads"),
          col("total_successes"), col("cpc"), col("ctr"), col("cpl"))
    },

    // the incremental pull loop with NO staged files (x114): the DSv2
    // connector's /insights MicroBatchStream feeds the e2 transform
    // directly — offset = day window, each micro-batch one window's
    // pull, replay/restart resumes from the committed window
    // (MetaSourceSpec pins offset replay + the grow-the-range rerun).
    // The oracle replays the generator arithmetic + transform
    // projection over range(days) x range(ads).
    "x114_meta_stream_insights" -> { (s, dir) =>
      val base = scratchDir("metastream114")
      val stream = s.readStream.format("graft-meta")
        .option("endpoint", "insights")
        .option("days", 4).option("ads", 150)
        .load()
      val q = graft.streaming.EventStream
        .e2LoopStreamWriter(stream, base + "/perf")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/perf")
        .select(date_format(col("date_start"), "yyyy-MM-dd")
            .as("date_start"), col("ad_id"), col("adset_id"),
          col("campaign_id"), col("total_impressions"),
          col("total_clicks"), col("total_spend"), col("total_leads"),
          col("total_successes"), col("cpc"), col("ctr"), col("cpl"))
    },

    // full single-edit fuzzy pair join (SymSpell deletion-variant
    // blocking + exact levenshtein verify) — substitutions AND
    // insertions/deletions, vs x43's equal-length Hamming family.
    "x65_edit1_pairs" -> ((s, dir) =>
      graft.ext.DedupOps.editOnePairs(
        T(s, dir, "customer"), "c_custkey", "c_name")),

    // vocabulary coverage: per-doc OOV rate against the corpus
    // top-500 term list — the "does this vocab cover the corpus"
    // diagnostic; single lazy plan, vocab broadcasts.
    "x66_vocab_coverage" -> ((s, dir) =>
      graft.ext.TextAnalysis.vocabCoverage(
        T(s, dir, "documents"), "doc_id", "text", vocabSize = 500)),

    // learned-centroid IVF: the x53→x07 composition — k-means cells as
    // the inverted file, each query probing its 2 nearest centroids.
    "x67_ivf_learned_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.ivfLearnedTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, kCentroids = 8, iters = 2, nprobe = 2)
    },

    // persisted-IVF lifecycle (x71): TRAIN once → SAVE centroids + the
    // bucket-partitioned corpus to parquet → cold-RELOAD → serve. Must
    // reproduce x67's answer exactly (same oracle); at scale the serve
    // join hits only the probed cell directories.
    "x71_ivf_index_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_index")
      graft.ext.Similarity.saveIvfIndex(emb, "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.queryIvfIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // product-quantization ADC top-k (x74): per-subspace k-means
    // codebooks, corpus as m codebook slots, queries full-precision
    // with one per-subspace LUT — the flat ANN scan that survives when
    // the corpus no longer fits as floats.
    "x74_pq_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.pqTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, m = 4, ks = 8, iters = 2)
    },

    // IVFPQ (x84): x67's learned cells x x74's PQ codes — queries probe
    // their 2 nearest cells and ADC-scan ONLY those cells' codes (the
    // billion-vector serving shape). The probe is a broadcast HASH join
    // on the cell id, not the flat-scan NLJ.
    "x84_ivfpq_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.ivfPqTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, kCentroids = 8, coarseIters = 2, nprobe = 2,
        m = 4, ks = 8, pqIters = 2)
    },

    // persisted IVFPQ lifecycle (x115): TRAIN coarse centroids + PQ
    // codebooks once → SAVE (codes, not vectors — m small ints/row)
    // → cold-RELOAD → serve. Must reproduce x84's answer exactly
    // (same oracle); at scale a query reads ~nprobe cells of m-byte
    // codes and never touches a raw vector — the billion-vector
    // serving layout, now train-once/serve-many like IVF and BM25.
    "x115_ivfpq_index_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivfpq_index115")
      graft.ext.Similarity.saveIvfPqIndex(emb, "vec_id", "embedding",
        idx, kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
        pqIters = 2)
      graft.ext.Similarity.queryIvfPqIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // streaming IVFPQ maintenance (x116): new-embedding files stream
    // through the frozen-generation encode+append — the result must
    // equal subset-trained centroids/codebooks served over everything
    // (x76's contract, codes edition).
    "x116_stream_ivfpq_maintain" -> { (s, dir) =>
      val base = scratchDir("streamivfpq116")
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.saveIvfPqIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding",
        base + "/idx", kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
        pqIters = 2)
      emb.filter(col("vec_id") >= 400)
        .repartitionByRange(3, col("vec_id"))
        .write.mode("overwrite").parquet(base + "/newvecs")
      val schema = s.read.parquet(base + "/newvecs").schema
      val q = graft.streaming.StreamIndex.ivfPqAppendWriter(s,
          base + "/newvecs", schema, base + "/idx", "vec_id",
          "embedding")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Similarity.queryIvfPqIndex(s, base + "/idx",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // IVFPQ retrain-in-place (x117): subset-trained index + frozen-
    // generation append, then retrain on the live source corpus swaps
    // centroids + codebooks + re-encoded corpus in one commit — with
    // the same params the serve equals full-corpus training (x84's
    // oracle verbatim). The corpus is a retrain PARAMETER: this index
    // stores codes, so raw vectors cannot come from the index itself.
    "x117_ivfpq_retrain_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivfpq_retrain117")
      graft.ext.Similarity.saveIvfPqIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, coarseIters = 2, m = 4, ks = 8, pqIters = 2)
      graft.ext.Similarity.appendToIvfPqIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Similarity.retrainIvfPqIndex(s, idx, emb, "vec_id",
        "embedding", kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
        pqIters = 2)
      graft.ext.Similarity.queryIvfPqIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // sampled-training IVF (x87): centroids from a deterministic md5
    // 50% sample of the corpus, serving (cell assignment + probes) over
    // EVERYTHING — the build-vs-serve split that makes Lloyd's viable
    // at 100 TB: training cost scales with the sample, not the corpus,
    // and the sample is content-addressed so the oracle replays it.
    "x87_ivf_sampled_train" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.ivfLearnedTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, kCentroids = 8, iters = 2, nprobe = 2,
        trainSample = Some("8000"))
    },

    // sampled-training IVFPQ (x88): coarse centroids AND all m PQ
    // codebooks trained on the same 50% sample; the full corpus is
    // still encoded and served. x84's training is 5 sequential
    // full-corpus scans per Lloyd's stage — this variant is the shape
    // that survives when the corpus is 1000x the trainable budget.
    "x88_ivfpq_sampled_train" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.ivfPqTopK(
        emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, kCentroids = 8, coarseIters = 2, nprobe = 2,
        m = 4, ks = 8, pqIters = 2, trainSample = Some("8000"))
    },

    // kNN graph from the learned inverted file (x91): every vector
    // queries its probed cells — candidates ~nprobe·N/kCentroids per
    // node, never N², and the bucket join is a shuffle join because
    // the query side IS the corpus (broadcasting N rows is the
    // small-batch serve path's trick, not this one's).
    "x91_knn_graph" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.knnGraph(emb, "vec_id", "embedding",
        k = 3, kCentroids = 8, iters = 2, nprobe = 2)
    },

    // embedding-space clustering (x92): connected components of the
    // MUTUAL kNN graph — x91's edges symmetrized by a keyed self-join,
    // components via the diameter-independent alternating-star CC
    // (mutual-kNN components can be chains), singletons labeled
    // themselves. The semantic-cluster op behind diversity pruning.
    "x92_mutual_knn_clusters" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.mutualKnnClusters(emb, "vec_id", "embedding",
        k = 3, kCentroids = 8, iters = 2, nprobe = 2)
    },

    // kNN graph served from the persisted IVF index (x93): x91's answer
    // from a cold saveIvfIndex reload — no k-means training, no
    // re-bucketing in the serve plan; the train-once/serve-many twin
    // that retires the last rebuild-per-call path (x71/x89's pattern).
    "x93_knn_graph_index_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_index93")
      graft.ext.Similarity.saveIvfIndex(emb, "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.knnGraphFromIndex(s, idx, k = 3, nprobe = 2)
    },

    // NN-descent refinement round (x103): x91's probe-bounded graph,
    // expanded to undirected neighbors-of-neighbors and exact-cosine
    // re-ranked — recall@k ≥ x91's by construction (candidate superset
    // + exact re-rank; the ExtSpec property measures the lift on the
    // boundary-vector fixture). One extra keyed shuffle round, degree-
    // bounded candidates (≤N·(2k)²), corpus never broadcast.
    "x103_knn_graph_refined" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.knnGraphRefined(emb, "vec_id", "embedding",
        k = 3, kCentroids = 8, iters = 2, nprobe = 2)
    },

    // index time travel (x110): query a RETAINED older manifest
    // version after an append — the as-of read serves exactly the
    // pre-append index (the oracle scores only the pre-append document
    // subset), because maintenance writes new segments and deletes
    // nothing until vacuum. The MVCC payoff of the manifest protocol,
    // made directly oracle-checkable.
    "x110_bm25_time_travel" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_tt110")
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      val v = graft.ext.TextAnalysis.bm25IndexVersion(s, idx)
      graft.ext.TextAnalysis.appendToBm25Index(s, idx,
        docs.filter(col("doc_id") >= 250), "doc_id", "text", "b1")
      graft.ext.TextAnalysis.queryBm25Index(s, idx,
        Seq("hash", "join", "merge"), k = 10, asOfVersion = Some(v))
    },

    // embedding near-dup admission from the persisted IVF index
    // (x120): the vector-modal member of the admission family (x15
    // exact, x118 lexical) — incoming vectors are rejected iff a
    // probed cell holds an indexed vector at cosine >= threshold;
    // probe-bounded, never an all-pairs or full-corpus pass.
    "x120_ivf_neardup_admit" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_admit120")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.ivfNearDupAdmit(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding",
        threshold = 0.35, nprobe = 2)
        .select(col("vec_id"))
    },

    // search_after pagination (x136): page 2 fetched via the
    // (score, doc_id) CURSOR of page 1's last row — not an offset, so
    // page N costs page 1 (the cursor filter drops the prefix before
    // the top-k heap). Exact tiling is possible because scores are
    // engine-stable; the oracle is the rank-11..20 window of the full
    // ranking.
    // IVFPQ deletes (x137): the codes-only index shares the vector
    // tombstone machinery verbatim — (vec_id, batch)-scoped rows under
    // one manifest commit, anti-joined out of the ADC serve, folded by
    // compaction. Closes the delete story across all four persisted
    // index layouts (BM25 x121, IVF x124, MinHash x125, IVFPQ here).
    // Oracle: x84's unrolled IVFPQ serve with the deleted ids barred
    // from the CANDIDATE join only — cells and codebooks are untouched
    // by deletion, exactly like x124's geometry.
    "x137_ivfpq_index_delete" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivfpq_del137")
      graft.ext.Similarity.saveIvfPqIndex(emb, "vec_id", "embedding",
        idx, kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
        pqIters = 2)
      graft.ext.Similarity.deleteFromIvfIndex(s, idx,
        emb.filter(col("vec_id") % 3 === 1).select(col("vec_id")),
        "vec_id", "d1")
      graft.ext.Similarity.queryIvfPqIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // retrieval-quality evaluation (x138): per-query recall@5 and
    // top-1 reciprocal rank of the learned-IVF serve (x67's exact
    // configuration) against the exact scan (x05) — the scorecard that
    // decides every ANN knob (nprobe, kCentroids, PQ bits, sampling).
    // Both lists are |Q|·k rows, so the eval join is driver-trivial at
    // any corpus size; at 100 TB you run it over a deterministic query
    // sample and recall converges like any proportion.
    "x138_ann_recall" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      graft.ext.Similarity.recallAtK(
        graft.ext.Similarity.bruteForceTopK(emb, q, "vec_id",
          "embedding", k = 5),
        graft.ext.Similarity.ivfLearnedTopK(emb, q, "vec_id",
          "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2),
        "query_id", "vec_id", k = 5)
    },

    // clustering-quality scorecard (x139): per-cluster population,
    // inertia, and mean simplified silhouette for the x53/x67 training
    // configuration — the "should I retrain?" geometric-fit number
    // next to x105's occupancy drift. One scan + one k-row aggregate;
    // the runner-up centroid distance is an array_sort away from the
    // distances the assignment already computes.
    "x139_cluster_quality" -> ((s, dir) =>
      graft.ext.Clustering.clusterQuality(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)),

    // CSV boundary round-trip (x140): schema-on-read, splittability
    // guarded (embedded newlines refused at the write), types pinned
    // through the text round-trip — proven by aggregating AFTER the
    // round-trip against the oracle's aggregate over the parquet
    // original (a dropped row, a shifted quote, or a reparsed type
    // moves some group's sum).
    "x140_csv_roundtrip" -> { (s, dir) =>
      val base = scratchDir("csv140")
      graft.sources.CsvTable.write(
        T(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_quantity", "l_extendedprice",
          "l_shipdate"),
        base + "/li")
      graft.sources.CsvTable.read(s, base + "/li", StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_shipdate", TimestampType))))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd")
            .as("max_ship"))
    },

    // Avro boundary round-trip (x180): the typed row-interchange
    // format (Kafka/schema-registry land), built on the public Avro
    // container API — per-partition container files with snappy BLOCK
    // compression (compression never costs splittability here), read
    // back through AvroKeyInputFormat's sync-marker splits with
    // fields matched by name. The post-roundtrip aggregate includes a
    // microsecond-precision max(ts) so the timestamp-micros logical
    // type is gated end-to-end, not just the numeric columns.
    "x180_avro_roundtrip" -> { (s, dir) =>
      val base = scratchDir("avro180")
      val ev = T(s, dir, "events")
      graft.sources.AvroTable.write(ev, base + "/ev")
      graft.sources.AvroTable.read(s, base + "/ev", ev.schema)
        .filter(col("event_type") === "click")
        .groupBy((col("user_id") % 100).as("user_mod"))
        .agg(count(lit(1)).as("n"),
          round(coalesce(graft.ops.Metrics.moneySum(col("value")),
            lit(0.0)), 2).as("total_value"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("max_ts"))
    },

    // ORC round-trip (x141): the other columnar format, same scan
    // disciplines (pruning, pushdown — FormatsSpec asserts the ORC
    // PushedFilters); the post-roundtrip filtered aggregate must match
    // the oracle's over parquet.
    "x141_orc_roundtrip" -> { (s, dir) =>
      val base = scratchDir("orc141")
      graft.sources.OrcTable.write(T(s, dir, "events"), base + "/ev")
      graft.sources.OrcTable.read(s, base + "/ev")
        .filter(col("event_type") === "click")
        .groupBy((col("user_id") % 100).as("user_mod"))
        .agg(count(lit(1)).as("n"),
          round(coalesce(graft.ops.Metrics.moneySum(col("value")),
            lit(0.0)), 2).as("total_value"))
    },

    // partition-retention enforcement (x142): expire-by-time as a
    // directory DROP on the date-partitioned layout — O(expired
    // partitions) metadata work, zero data IO, the only retention
    // shape that survives 100 TB (row-level expiry predicates rewrite
    // the table). The post-sweep read must equal the oracle's
    // date-filtered aggregate over the original events.
    "x142_retention_delete" -> { (s, dir) =>
      val base = scratchDir("retention142")
      graft.sinks.PartitionedWrite.write(
        T(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        base + "/ev", Seq("event_date"))
      graft.sinks.Retention.dropPartitionsBefore(s, base + "/ev",
        "event_date", "2024-01-11")
      graft.sinks.PartitionedWrite.read(s, base + "/ev")
        .groupBy(date_format(col("event_date"), "yyyy-MM-dd")
          .as("event_date"))
        .agg(count(lit(1)).as("n_events"),
          round(coalesce(graft.ops.Metrics.moneySum(col("value")),
            lit(0.0)), 2).as("total_value"))
    },

    // rank-aware retrieval evaluation (x146): nDCG@5 of the learned-
    // IVF serve against the exact scan — recall (x138) says whether
    // the right set came back; nDCG says whether it came back in the
    // right ORDER. Linear gains k+1−exact_rank, log₂ discounts as an
    // identical ln-ratio expression tree on both engines.
    "x146_ann_ndcg" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      graft.ext.Similarity.ndcgAtK(
        graft.ext.Similarity.bruteForceTopK(emb, q, "vec_id",
          "embedding", k = 5),
        graft.ext.Similarity.ivfLearnedTopK(emb, q, "vec_id",
          "embedding", k = 5, kCentroids = 8, iters = 2, nprobe = 2),
        "query_id", "vec_id", k = 5)
    },

    // FILTERED vector search on the CODES layout (x145): x129's
    // lifecycle on the IVFPQ index — metadata saved alongside the
    // codes, appends infer it from the stored schema, and the ADC
    // serve PRE-filters the probed cells (k 'en' survivors per
    // query). Oracle: x116's subset-trained serve with candidates
    // restricted to the predicate's ids.
    "x145_ivfpq_filtered_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val withMeta = emb.withColumn("lang",
        when(col("vec_id") % 3 === 0, "en")
          .when(col("vec_id") % 3 === 1, "fr").otherwise("de"))
      val idx = scratchDir("ivfpq_filt145")
      graft.ext.Similarity.saveIvfPqIndex(
        withMeta.filter(col("vec_id") < 400), "vec_id", "embedding",
        idx, kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
        pqIters = 2, metaCols = Seq("lang"))
      graft.ext.Similarity.appendToIvfPqIndex(s, idx,
        withMeta.filter(col("vec_id") >= 400), "vec_id", "embedding",
        "b1")
      graft.ext.Similarity.queryIvfPqIndexFiltered(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
        predicate = col("lang") === "en", nprobe = 2)
    },

    // MMR diversified re-rank (x143): greedy λ·rel − (1−λ)·max-sim
    // selection over the exact top-20 candidates — the de-duplicating
    // re-ranker a RAG stack ends with (five relevant-AND-distinct
    // results, not five near-identical ones). λ = 0.75 so both MMR
    // constants are exact binary doubles; selection sequence replayed
    // step-for-step by the unrolled-CTE oracle.
    "x143_mmr_rerank" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.mmrRerank(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, fetch = 20, lambda = 0.75)
    }),

    // personalized PageRank (x144): teleport mass pinned to a seed set
    // (suppliers with suppkey % 10 = 0) on x82's closed supplier↔part
    // graph — rank becomes proximity-to-seeds, the related-entities /
    // graph-recommendation query. Same exact-integer rounds and plan
    // pins as x82; only the per-node teleport term differs.
    "x144_pagerank_personalized" -> { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val fwd = li.select((col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = li.filter(col("l_suppkey") % 10 === 0)
        .select((col("l_suppkey") * 2).as("id")).distinct()
      graft.ext.Graph.pageRankPersonalized(edges, "src", "dst",
          seeds, "id", iters = 4)
        .select(
          when(col("id") % 2 === 0, lit("supplier"))
            .otherwise(lit("part")).as("kind"),
          expr("id div 2").as("key"), col("rank"))
        .orderBy(col("rank").desc, col("kind").asc, col("key").asc)
        .limit(25)
    },

    // weighted personalized PageRank (x147): the full graph-
    // recommendation form — x144's seed-pinned teleport composed with
    // x86's proportional (rank·w) div outw propagation over the
    // lineitem-count-weighted supplier↔part graph. Both parameter
    // contracts compose unchanged (GraphSpec pins w≡1 ≡ x144's op and
    // all-seeds ≡ x86's); the oracle composes the two CTE builders.
    "x147_pagerank_weighted_personalized" -> { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val fwd = li.groupBy((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seeds = li.filter(col("l_suppkey") % 10 === 0)
        .select((col("l_suppkey") * 2).as("id")).distinct()
      graft.ext.Graph.pageRankWeightedPersonalized(edges, "src", "dst",
          "w", seeds, "id", iters = 4)
        .select(
          when(col("id") % 2 === 0, lit("supplier"))
            .otherwise(lit("part")).as("kind"),
          expr("id div 2").as("key"), col("rank"))
        .orderBy(col("rank").desc, col("kind").asc, col("key").asc)
        .limit(25)
    },

    // k-core decomposition (x148): peel the order↔part graph to its
    // 4-core — the graph-cleanup op that drops weakly attached nodes
    // (a node survives only if ≥4 of its NEIGHBORS survive too, not
    // just if its raw degree is ≥4). Small orders peel first, parts
    // that leaned on them follow — a 2-round cascade at every SF
    // (non-empty core at sf0.001, where the denser supplier graph's
    // core vanishes). The unique-core property makes bulk rounds and
    // the oracle's unrolled rounds agree exactly; GraphSpec covers the
    // deep-cascade and exhausted-budget paths on hand fixtures.
    "x148_kcore" -> { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val edges = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      graft.ext.Graph.kCore(edges, "src", "dst", k = 4)
        .select(
          when(col("id") % 2 === 0, lit("order"))
            .otherwise(lit("part")).as("kind"),
          expr("id div 2").as("key"), col("core_deg"))
        .orderBy(col("kind").asc, col("key").asc)
    },

    // community detection by deterministic label propagation (x156):
    // 3 synchronous min-label-tie-break rounds on x111's sparse
    // stride-{1,2,3} circulant — every label is a pure function of the
    // edge list (fixed rounds, total tie-break), so the oracle unrolls
    // the identical vote-argmax rounds. GraphSpec shows the op's real
    // payoff (two bridged cliques → two communities) on hand fixtures.
    "x156_label_propagation" -> { (s, dir) =>
      val sup = T(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("k"))
      val n = sup.agg(count(lit(1))).head().getLong(0)
      val edges = sup
        .select(col("k"), explode(array(lit(1L), lit(2L), lit(3L)))
          .as("stride"))
        .select(col("k").as("src"),
          (pmod(col("k") - 1 + col("stride"), lit(n)) + 1).as("dst"))
      graft.ext.Graph.labelPropagation(edges, "src", "dst", rounds = 3)
        .select(col("id").as("suppkey"), col("lbl").as("community"))
        .orderBy(col("suppkey").asc)
    },

    // per-document n-gram novelty (x157): fraction of each doc's
    // distinct 5-gram shingles found in NO other document — the
    // memorization-risk / boilerplate-saturation score (x18's
    // corpus-wide boilerplate ranking resolved to a per-doc signal a
    // curation filter thresholds on). Inverted-index shape: text never
    // shuffles, hot shingles fan out nothing.
    "x157_shingle_novelty" -> ((s, dir) =>
      graft.ext.TextAnalysis.shingleNovelty(
        T(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy(col("doc_id").asc)),

    // DSIR importance weights (x158): score the whole pool by hashed-
    // unigram log-likelihood ratio against the English subset — the
    // published data-selection recipe (Xie et al. 2023), exact-integer
    // micro-nat scores so the ranking is reproducible across engines
    // and partitionings. Selection = ORDER BY weight (the caller's
    // top-k / resample choice).
    "x158_dsir_weights" -> ((s, dir) =>
      graft.ext.Corpus.dsirWeights(T(s, dir, "documents"), "doc_id",
        "text", isTarget = col("lang") === "en", buckets = 256)
        .orderBy(col("doc_id").asc)),

    // best-matching passage (x159): the snippet/highlight stage after
    // retrieval — per doc, the 10-token window with the most hits for
    // x80's query terms, ties to the earliest span; exact integer
    // counts, a per-doc sliding window (hash-partitioned by doc_id,
    // never single-partition).
    "x159_best_passage" -> ((s, dir) =>
      graft.ext.TextAnalysis.bestPassage(T(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "join", "merge"), window = 10)
        .orderBy(col("doc_id").asc)),

    // rendezvous sharding (x174): highest-random-weight placement —
    // growing 8 → 9 shards moves ONLY the docs the new shard wins
    // (expected 1/9; modulo placement would reshuffle 8/9). md5
    // weights (the x20 cross-engine hash), codegen'd literal-array
    // argmax, one narrow projection.
    "x174_rendezvous_shards" -> { (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"))
        .withColumn("shard_8",
          graft.ext.Corpus.rendezvousShard(col("doc_id"), 8))
        .withColumn("shard_9",
          graft.ext.Corpus.rendezvousShard(col("doc_id"), 9))
        .withColumn("moved", col("shard_8") =!= col("shard_9"))
        .orderBy(col("doc_id").asc)
    },

    // matryoshka truncation eval (x173): recall@k of prefix-dim
    // (first 32 of 64) brute-force retrieval against the full-dim
    // exact list — the dimension-truncation tuning scorecard (how much
    // recall does halving the vector budget cost?); pure composition
    // of the audited bruteForceTopK scan and the |Q|·k-bounded
    // recallAtK join.
    "x173_matryoshka_recall" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      def half(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", expr("slice(embedding, 1, 32)"))
      graft.ext.Similarity.recallAtK(
        graft.ext.Similarity.bruteForceTopK(emb, q, "vec_id",
          "embedding", k = 5),
        graft.ext.Similarity.bruteForceTopK(half(emb), half(q),
          "vec_id", "embedding", k = 5),
        "query_id", "vec_id", k = 5)
    },

    // two-stage late-interaction retrieval (x175): the production
    // serving shape x172's scaladoc promises — stage one fetches 20
    // pooled-cosine candidates per query through the sign-bucket
    // multi-probe IVF (banded, never all-pairs), stage two pays the
    // tokens² MaxSim cost on exactly those |Q|·20 pairs (broadcast
    // candidate join — the full-scan NLJ disappears). Scoring is
    // bit-identical to x172 restricted to the candidate set; EvalSpec
    // pins the recall floor vs the full scan.
    "x175_two_stage_maxsim" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.twoStageMaxSim(emb,
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          tokens = 4, fetchN = 20, k = 5)
        .orderBy(col("query_id").asc, col("rank").asc)
    },

    // two-stage MaxSim SERVED from the persisted IVF index (x177):
    // x175's production completion — stage one fetches 20 candidates
    // through the SAVED learned-centroid inverted file (the shared
    // read-only fixture; nprobe=2 probed cells), stage two reranks
    // against the index's own stored vectors, so serving touches only
    // index segments. Oracle = x175's MaxSim tail with stage one
    // rebuilt as x71's full-trained probe (the saved centroid
    // generation replayed by the unrolled-Lloyd CTEs).
    "x177_two_stage_index_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val vidx = sharedIvfLangIndex(s, dir)
      graft.ext.Similarity.twoStageMaxSimIndexServe(s, vidx,
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          tokens = 4, fetchN = 20, k = 5, nprobe = 2)
        .orderBy(col("query_id").asc, col("rank").asc)
    },

    // FILTERED late interaction (x183): x177's indexed two-stage
    // serve with the metadata predicate as stage one's PRE-filter
    // (x129's pre-filter semantics) — fetchN 'en' candidates per
    // query, then the tokens² rerank pays only those pairs; stage two
    // needs no second filter (the candidate join IS the restriction).
    "x183_two_stage_filtered" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val vidx = sharedIvfLangIndex(s, dir)
      graft.ext.Similarity.twoStageMaxSimIndexServe(s, vidx,
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          tokens = 4, fetchN = 20, k = 5, nprobe = 2,
          predicate = Some(col("lang") === "en"))
        .orderBy(col("query_id").asc, col("rank").asc)
    },

    // late-interaction MaxSim retrieval (x172): ColBERT's scoring
    // form — vectors as 4 contiguous token sub-vectors, score =
    // Σ_qtoken max_dtoken dot; native fixed-order dot folds, an
    // order-independent max, and a FIXED left-associated final sum
    // (never a float groupBy-sum), so scores are engine-bit-identical.
    // Corpus side broadcast-joins the query tokens; production feeds a
    // first-stage candidate list, the operator is agnostic.
    "x172_maxsim_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.maxSimTopK(emb,
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          tokens = 4, k = 5)
        .orderBy(col("query_id").asc, col("rank").asc)
    },

    // binaryFile blob ingestion (x171): the boundary real blob corpora
    // cross — one encoded PNG FILE per doc written through the Hadoop
    // FS API, read back with Spark's binaryFile source (pathGlobFilter
    // pruning, maxPartitionBytes sizing), id recovered from the path,
    // pixels through the real decoder. Same closed-form oracle as
    // x101: the file-system hop must be invisible.
    "x171_binaryfile_ingest" -> { (s, dir) =>
      val base = scratchDir("binfiles")
      val sub = T(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200)
      graft.ext.Multimodal.writeBlobFiles(s,
        graft.ext.Multimodal.withPngPayload(s, sub, "doc_id"),
        "doc_id", base, ".png")
      val in = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(base)
        .select(regexp_extract(col("path"), "([0-9]+)\\.png$", 1)
          .cast("long").as("doc_id"), col("content").as("payload"))
      graft.ext.Multimodal.imagePixelStats(s, in, "doc_id")
        .orderBy(col("doc_id").asc)
    },

    // BFS hop levels (x170): exact multi-seed unweighted shortest-path
    // distances — frontier-only expansion (edges touched once per
    // direction over the whole run, the textbook BFS bound), rounds
    // materialize-and-release, SHUFFLE_HASH pins. The x163 irregular
    // fixture's doubling edges keep the diameter logarithmic, so the
    // round count stays bounded at every SF.
    "x170_bfs_levels" -> { (s, dir) =>
      val sup = T(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("k"))
      val n = sup.agg(count(lit(1))).head().getLong(0)
      val edges = sup
        .select(col("k").as("src"), explode(array(
          pmod(col("k"), lit(n)) + 1,
          pmod(col("k") + 1, lit(n)) + 1,
          pmod(col("k") * 2, lit(n)) + 1)).as("dst"))
      import s.implicits._
      graft.ext.Graph.bfsLevels(edges, "src", "dst",
          Seq(1L).toDF("id"), "id", maxHops = 12)
        .orderBy(col("id").asc)
    },

    // k-anonymity / l-diversity audit (x168): the quasi-identifier
    // groups too small (< k rows) or too uniform (< l distinct
    // sensitive values) to release — privacy curation next to x27's
    // PII redaction. One keyed partial+final aggregation; the output
    // is the bounded risky tail, never the group space.
    "x168_kanonymity_audit" -> { (s, dir) =>
      val d = T(s, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 200"))
        .withColumn("sens", pmod(col("doc_id"), lit(7L)))
      graft.ext.Corpus.kAnonymityAudit(d,
          Seq("lang", "source", "len_bucket"), k = 5,
          sensitiveCol = Some("sens"), l = 3)
        .orderBy(col("lang").asc, col("source").asc,
          col("len_bucket").asc)
    },

    // Zipf power-law fit (x169): OLS through the token-frequency
    // SPECTRUM (ln c, ln m(c)) — the no-global-rank estimator; each ln
    // floored once to milli-nats, all sums exact integers, the only
    // division the final slope of two identically-computed longs.
    "x169_zipf_fit" -> ((s, dir) =>
      graft.ext.Corpus.zipfFit(T(s, dir, "documents"), "text")),

    // Count-Min frequency sketch (x184): md5-addressed d×w counters,
    // estimate = min over rows of the probed cell — unlike the
    // engine-seeded sketches (x13/x24, rows-only by driver design),
    // the md5 addressing makes the ESTIMATES themselves
    // oracle-checkable: DuckDB rebuilds the identical counter table.
    // Probes include an ABSENT key (-1): its empty cell proves
    // absence, estimate 0.
    "x184_countmin_freq" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val probes = ev.filter(col("user_id") < 20)
        .select(col("user_id")).distinct()
        .unionByName(s.range(1).select(lit(-1L).as("user_id")))
      graft.ext.Corpus.countMinEstimates(ev, col("user_id"), probes,
        "user_id", depth = 4, width = 1024)
    },

    // HyperLogLog distinct estimate (x185): 256 md5-addressed
    // registers, the harmonic-mean denominator carried as the EXACT
    // integer Σ 2^(49-M_j) with one final division — the zipfFit
    // float discipline applied to cardinality sketching, so the
    // estimate (not just the row count) is oracle-exact. event_id is
    // row-unique: true cardinality ≫ 2.5·m, the raw-estimator regime.
    "x185_hll_distinct" -> ((s, dir) =>
      graft.ext.Corpus.hllDistinct(T(s, dir, "events"),
        col("event_id"))),

    // per-group HLL distinct (x187): approx_count_distinct's grouped
    // shape with the oracle-exact md5 registers — one 256-bucket
    // sketch per event_type through a single (group, bucket)-keyed
    // aggregate; per-group state bounded at 256 rows regardless of
    // group size. event_id per type is ~N/|types| ≫ 640 — raw regime.
    "x187_hll_by_group" -> ((s, dir) =>
      graft.ext.Corpus.hllDistinctBy(T(s, dir, "events"),
        col("event_id"), Seq("event_type"))
        .orderBy(col("event_type").asc)),

    // persisted mergeable CMS sketch (x188): the addition-merged twin
    // of x186 — counter segments sum at serve time, (depth, width)
    // persist WITH the index so serves can never probe with
    // mismatched hashing; save+append estimates equal the one-shot
    // sketch exactly (x184's oracle verbatim).
    "x188_cms_sketch_merge" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val idx = scratchDir("cmssketch188")
      graft.ext.Corpus.saveCmsSketch(
        ev.filter(col("event_id") % 3 =!= 0), col("user_id"), idx,
        depth = 4, width = 1024)
      graft.ext.Corpus.appendToCmsSketch(s, idx,
        ev.filter(col("event_id") % 3 === 0), col("user_id"), "b1")
      val probes = ev.filter(col("user_id") < 20)
        .select(col("user_id")).distinct()
        .unionByName(s.range(1).select(lit(-1L).as("user_id")))
      graft.ext.Corpus.queryCmsSketch(s, idx, probes, "user_id")
    },

    // streamed sketch maintenance (x189): x186's register segments
    // landed by a micro-batch stream — any arrival order and any
    // batching must serve the identical estimate (bucket-wise max is
    // order-free), exactly-once via the content-derived batchId.
    "x189_stream_hll_sketch" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val base = scratchDir("streamhll189")
      graft.ext.Corpus.saveHllSketch(
        ev.filter(col("event_id") % 3 === 1), col("event_id"),
        base + "/idx")
      landOrdered(s, Seq(
        ev.filter(col("event_id") % 3 === 2).select("event_id"),
        ev.filter(col("event_id") % 3 === 0).select("event_id")),
        base + "/keys")
      val schema = s.read.parquet(base + "/keys").schema
      val q = graft.streaming.StreamIndex.hllSketchAppendWriter(s,
          base + "/keys", schema, base + "/idx", "event_id")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Corpus.queryHllSketch(s, base + "/idx")
    },

    // CMS sketch deletion (x190): the turnstile half a LINEAR sketch
    // supports — deletions land as NEGATED counter segments (HLL's max
    // registers have no inverse; deleting there means rebuilding).
    // Estimates over ingest-minus-delete must equal the one-shot
    // sketch over the net corpus exactly.
    "x190_cms_sketch_delete" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val idx = scratchDir("cmssketch190")
      graft.ext.Corpus.saveCmsSketch(ev, col("user_id"), idx,
        depth = 4, width = 1024)
      graft.ext.Corpus.removeFromCmsSketch(s, idx,
        ev.filter(col("event_id") % 3 === 0), col("user_id"), "b1")
      val probes = ev.filter(col("user_id") < 20)
        .select(col("user_id")).distinct()
        .unionByName(s.range(1).select(lit(-1L).as("user_id")))
      graft.ext.Corpus.queryCmsSketch(s, idx, probes, "user_id")
    },

    // histogram quantile estimates (x191): the third member of the
    // oracle-exact sketch family (CMS = frequency, HLL = distinct,
    // this = distribution) — integer buckets over documents.n_chars,
    // q-quantile = lowest bucket whose cumulative count reaches
    // k = ceil(q·n), all micro-fraction integer arithmetic, so the
    // ESTIMATES are oracle-checkable where engine-seeded
    // approx_percentile (x24) is rows-only. Error bounded by one
    // bucket width by construction.
    "x191_hist_quantiles" -> ((s, dir) =>
      graft.ext.Corpus.histQuantiles(T(s, dir, "documents"),
          col("n_chars"), bucketWidth = 50L,
          qMicros = Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)),

    // persisted mergeable histogram sketch (x192): counter segments
    // sum at serve time, bucketWidth persists WITH the index so serves
    // can never re-bucket with mismatched geometry; save+append
    // estimates equal the one-shot sketch exactly (x191's oracle
    // verbatim).
    "x192_hist_sketch_merge" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val idx = scratchDir("histsketch192")
      graft.ext.Corpus.saveHistSketch(
        d.filter(col("doc_id") % 3 =!= 0), col("n_chars"), idx,
        bucketWidth = 50L)
      graft.ext.Corpus.appendToHistSketch(s, idx,
        d.filter(col("doc_id") % 3 === 0), col("n_chars"), "b1")
      graft.ext.Corpus.queryHistSketch(s, idx,
        Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)
    },

    // histogram sketch deletion (x193): the turnstile half — the
    // histogram is a LINEAR sketch like CMS, so deletions land as
    // NEGATED counter segments and estimates over ingest-minus-delete
    // must equal the one-shot sketch over the net corpus exactly
    // (netted-zero buckets shift no cumulative count).
    "x193_hist_sketch_delete" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val idx = scratchDir("histsketch193")
      graft.ext.Corpus.saveHistSketch(d, col("n_chars"), idx,
        bucketWidth = 50L)
      graft.ext.Corpus.removeFromHistSketch(s, idx,
        d.filter(col("doc_id") % 3 === 0), col("n_chars"), "b1")
      graft.ext.Corpus.queryHistSketch(s, idx,
        Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)
    },

    // streamed histogram-sketch maintenance (x194): x192's counter
    // segments landed by a micro-batch stream — addition is order-free
    // like the HLL max, so any arrival order and any batching must
    // serve the identical estimates, exactly-once via the
    // content-derived batchId.
    "x194_stream_hist_sketch" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val base = scratchDir("streamhist194")
      graft.ext.Corpus.saveHistSketch(
        d.filter(col("doc_id") % 3 === 1), col("n_chars"),
        base + "/idx", bucketWidth = 50L)
      landOrdered(s, Seq(
        d.filter(col("doc_id") % 3 === 2).select("doc_id", "n_chars"),
        d.filter(col("doc_id") % 3 === 0).select("doc_id", "n_chars")),
        base + "/vals")
      val schema = s.read.parquet(base + "/vals").schema
      val q = graft.streaming.StreamIndex.histSketchAppendWriter(s,
          base + "/vals", schema, base + "/idx", "n_chars", "doc_id")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Corpus.queryHistSketch(s, base + "/idx",
        Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)
    },

    // persisted mergeable HLL sketch (x186): registers as manifest-
    // protocol segments, appends land 256-row register deltas, the
    // serve merges by bucket-wise max — save+append must equal the
    // one-shot estimate over the union EXACTLY (max is associative/
    // commutative/idempotent), so the oracle is x185's verbatim. The
    // incremental corpus-statistics shape: ingest contributes rows
    // independent of N, the serve reads kilobytes, nothing rescans.
    "x186_hll_sketch_merge" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val idx = scratchDir("hllsketch186")
      graft.ext.Corpus.saveHllSketch(
        ev.filter(col("event_id") % 3 =!= 0), col("event_id"), idx)
      graft.ext.Corpus.appendToHllSketch(s, idx,
        ev.filter(col("event_id") % 3 === 0), col("event_id"), "b1")
      graft.ext.Corpus.queryHllSketch(s, idx)
    },

    // REAL WAV/PCM audio decode (x167): the multimodal family's audio
    // axis made real — a complete RIFF/WAVE container per doc written
    // through the JDK's own encoder, decoded back through
    // AudioSystem's actual RIFF parse; PCM16 is lossless so every
    // decoded amplitude equals the id's closed form (the x101
    // build∘decode identity on audio). Narrow mapPartitions codec
    // stage, integer sums, no shuffle of blobs.
    "x167_wav_pcm_stats" -> { (s, dir) =>
      val wav = graft.ext.Multimodal.withWavPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ext.Multimodal.audioPcmStats(s, wav, "doc_id")
        .orderBy(col("doc_id").asc)
    },

    // audio resample (x179): nearest-neighbor on the integer time grid
    // — the x107 resize twin on the audio axis. 8 kHz → 3 kHz is
    // deliberately non-divisible, so the rational index map
    // src=(j*srcRate)/dstRate is genuinely exercised (not a stride);
    // PCM16 is lossless, so the oracle recomputes every SELECTED
    // amplitude from doc_id's closed form without touching bytes.
    "x179_audio_resample_stats" -> { (s, dir) =>
      val wav = graft.ext.Multimodal.withWavPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ext.Multimodal.audioResampleStats(s, wav, "doc_id",
        dstRate = 3000).orderBy(col("doc_id").asc)
    },

    // perceptual image hash (x195): dHash over the REAL decoded pixels
    // — 9×7 nearest-neighbor grayscale grid, 56 horizontal-gradient
    // sign bits packed into one long. Every step is integer arithmetic
    // on channel values the PNG round-trip preserves, so the hash
    // itself is closed-form in the id (the x101 identity, through a
    // real perceptual transform).
    "x195_image_dhash" -> { (s, dir) =>
      val png = graft.ext.Multimodal.withPngPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ext.Multimodal.imageDHash(s, png, "doc_id")
        .orderBy(col("doc_id").asc)
    },

    // visual near-dup pairs (x196): x195's dHash sigs through the x04
    // banded-LSH + exact-Hamming-verify pipeline UNCHANGED — the image
    // axis of the near-dup family (text x04, embeddings x06, images
    // here). The oracle brute-forces ALL Hamming<=7 pairs over the
    // closed-form hashes; banding must find exactly those by the
    // enforced recall contract.
    "x196_dhash_neardup_pairs" -> { (s, dir) =>
      val png = graft.ext.Multimodal.withPngPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      val sigs = graft.ext.Multimodal.imageDHash(s, png, "doc_id")
        .select(col("doc_id"), col("dhash").as("sh"))
      graft.ext.DedupOps.simhashPairsFromSigs(sigs, maxHamming = 7,
          bands = 4, probeBits = 1)
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    },

    // semantic decontamination (x197): the embedding-space twin of
    // x19's n-gram overlap decontamination — corpus docs within cosine
    // threshold of ANY eval embedding are flagged (paraphrase/
    // translation leakage the token detector can't see). x06's
    // sign-bucket LSH made cross-frame: the small eval side carries
    // the multi-probe, the corpus is scanned once and never
    // self-paired.
    "x197_semantic_decontaminate" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      graft.ext.DedupOps.semanticDecontaminate(
          emb.filter(pmod(col("vec_id"), lit(19)) =!= 0),
          emb.filter(pmod(col("vec_id"), lit(19)) === 0),
          "vec_id", "embedding", threshold = 0.35, signBits = 6)
        .orderBy(col("vec_id").asc)
    },

    // per-group histogram quantiles (x198): x191's grouped shape (the
    // x187-to-x185 relationship) — per-lang length distributions with
    // every join keyed on the group, no group ever sorted; the
    // per-group estimate error stays one bucket width.
    "x198_hist_by_group" -> ((s, dir) =>
      graft.ext.Corpus.histQuantilesBy(T(s, dir, "documents"),
          col("n_chars"), Seq("lang"), bucketWidth = 50L,
          qMicros = Seq(250000L, 500000L, 750000L))
        .orderBy(col("lang").asc, col("q_micros").asc)),

    // persisted dHash ledger admission (x199): incremental VISUAL
    // dedup — x195's perceptual hashes in a persisted signature ledger
    // (save + idempotent append), new images admitted only when no
    // ledgered image sits within Hamming 7. The incoming batch carries
    // the multi-probe; the pigeonhole recall contract makes the banded
    // decision equal the brute-force one, which the oracle replays.
    "x199_dhash_ledger_admit" -> { (s, dir) =>
      def sigs(f: DataFrame) = graft.ext.Multimodal.imageDHash(s,
          graft.ext.Multimodal.withPngPayload(s, f, "doc_id"), "doc_id")
        .select(col("doc_id"), col("dhash").as("sh"))
      val d = T(s, dir, "documents").select(col("doc_id"))
      val ledger = scratchDir("dhashledger199")
      graft.ext.DedupOps.saveSimhashLedger(
        sigs(d.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))),
        ledger)
      graft.ext.DedupOps.appendToSimhashLedger(s, ledger,
        sigs(d.filter(pmod(col("doc_id"), lit(5)) === 4)), "b1")
      graft.ext.DedupOps.simhashLedgerAdmit(s, ledger,
          sigs(d.filter(pmod(col("doc_id"), lit(5)) === 0)),
          maxHamming = 7, probeBits = 1)
        .orderBy(col("doc_id").asc)
    },

    // windowed audio silence detection (x200): the audio-curation gate
    // — 16-frame windows over the REAL decoded PCM, a window is silent
    // when its mean |amplitude| is under the bar, compared
    // integer-exactly as sum < threshold·samples (the ragged tail
    // compares against its own count). PCM16 round-trip is lossless,
    // so every window sum is closed-form in the id.
    "x200_audio_silence" -> { (s, dir) =>
      val wav = graft.ext.Multimodal.withWavPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ext.Multimodal.audioSilenceStats(s, wav, "doc_id",
          windowFrames = 16, meanAbsThreshold = 16000L)
        .orderBy(col("doc_id").asc)
    },

    // PMI collocations (x201): Church-Hanks pointwise mutual
    // information over adjacent-token pairs — frequency (x55) finds
    // "of the", PMI finds "San Francisco". Each ln is floored to
    // integer milli-nats INDEPENDENTLY before the sum (the dsirWeights
    // convention), so the score and the top-k order are engine-exact
    // integers.
    "x201_pmi_collocations" -> ((s, dir) =>
      graft.ext.TextAnalysis.pmiCollocations(T(s, dir, "documents"),
        "text", k = 30, minCount = 2L)),

    // streamed ledger admission (x202): the admit-then-append visual
    // dedup loop as a STREAM — each micro-batch admits against the
    // ledger's current state and appends its admissions, so later
    // batches dedup against earlier ones; the content batchId gates
    // both effects for exactly-once. The oracle replays the two
    // batches sequentially (greedy earlier-batch-wins).
    "x202_stream_dhash_admit" -> { (s, dir) =>
      def sigs(f: DataFrame) = graft.ext.Multimodal.imageDHash(s,
          graft.ext.Multimodal.withPngPayload(s, f, "doc_id"), "doc_id")
        .select(col("doc_id"), col("dhash").as("sh"))
      val d = T(s, dir, "documents").select(col("doc_id"))
      val base = scratchDir("streamdhash202")
      graft.ext.DedupOps.saveSimhashLedger(
        sigs(d.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))),
        base + "/ledger")
      landOrdered(s, Seq(
        sigs(d.filter(pmod(col("doc_id"), lit(5)) === 4)),
        sigs(d.filter(pmod(col("doc_id"), lit(5)) === 0))),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.simhashAdmitWriter(s,
          base + "/in", schema, base + "/ledger", base + "/out",
          maxHamming = 7, probeBits = 1)
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out").select("doc_id", "sh")
        .orderBy(col("doc_id").asc)
    },

    // streamed containment admission (x245): x202's greedy
    // earlier-batch-wins stream on the subset/quotation axis — each
    // arriving batch admits against the ledger (x235) and its
    // admitted slice appends before the next batch admits, so a doc
    // quoted inside an EARLIER admission is rejected. Oracle: the two
    // batches replayed sequentially in SQL.
    "x245_stream_containment_admit" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val base = scratchDir("streamct245")
      graft.ext.DedupOps.saveContainmentIndex(
        d.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)),
        "doc_id", "text", base + "/ledger", n = 5)
      landOrdered(s, Seq(
        d.filter(pmod(col("doc_id"), lit(5)) === 4)
          .select("doc_id", "text"),
        d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select("doc_id", "text")),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.containmentAdmitWriter(s,
          base + "/in", schema, base + "/ledger", base + "/out",
          "doc_id", "text", threshold = 0.8)
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out").select("doc_id")
        .orderBy(col("doc_id").asc)
    },

    // streamed minhash admission (x247): the x245 greedy loop on the
    // near-dup Jaccard axis — batches admit against the persisted
    // MinHash ledger (signatures/banding from pinned params) and the
    // admitted slice appends before the next batch admits. Oracle:
    // the full 64-permutation signature pipeline replayed in SQL,
    // two batches sequentially.
    "x247_stream_minhash_admit" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val base = scratchDir("streammh247")
      graft.ext.DedupOps.saveMinhashIndex(
        d.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)),
        "doc_id", "text", base + "/ledger")
      landOrdered(s, Seq(
        d.filter(pmod(col("doc_id"), lit(5)) === 4)
          .select("doc_id", "text"),
        d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select("doc_id", "text")),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.minhashAdmitWriter(s,
          base + "/in", schema, base + "/ledger", base + "/out",
          "doc_id", "text", threshold = 0.5)
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out").select("doc_id")
        .orderBy(col("doc_id").asc)
    },

    // streamed audio admission (x253): the x202 greedy admit-then-
    // append loop on the audio spectral axis — arriving clips admit
    // against the persisted 64-bit Hamming ledger (x239's state) and
    // the admitted slice appends before the next batch admits, closing
    // the stream/batch symmetry the text (x202) and image (x199/x202)
    // axes already have. Same simhashAdmitWriter, so the replay-no-op
    // pin (StreamIndexSpec x202 test) covers this axis verbatim.
    // Split: a SMALL base ledger (doc_id < 25) keeps the admission
    // non-degenerate — spectral hashes are coarse (59 distinct values
    // over 500 sf0.01 clips), so a large ledger covers every Hamming-7
    // ball and admits nothing; here batch 1 admits ~40 clips and
    // batch 2's rejections are caused by BATCH-1 ADMISSIONS (the
    // greedy property, live in the data). Oracle: the two batches
    // replayed sequentially over the closed-form spectral hashes.
    "x253_stream_audio_admit" -> { (s, dir) =>
      def sigs(f: DataFrame) = graft.ext.Multimodal.audioSpectralHash(
          s, graft.ext.Multimodal.withWavPayload(s, f, "doc_id"),
          "doc_id")
        .select(col("doc_id"), col("ahash").as("sh"))
      val d = T(s, dir, "documents").select(col("doc_id"))
      val base = scratchDir("streamahash253")
      graft.ext.DedupOps.saveSimhashLedger(
        sigs(d.filter(col("doc_id") < 25)), base + "/ledger")
      landOrdered(s, Seq(
        sigs(d.filter(col("doc_id") >= 50 &&
          pmod(col("doc_id"), lit(5)) === 4)),
        sigs(d.filter(col("doc_id") >= 50 &&
          pmod(col("doc_id"), lit(5)) === 0))),
        base + "/in")
      val schema = s.read.parquet(base + "/in").schema
      val q = graft.streaming.StreamIndex.simhashAdmitWriter(s,
          base + "/in", schema, base + "/ledger", base + "/out",
          maxHamming = 7, probeBits = 1)
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out").select("doc_id", "sh")
        .orderBy(col("doc_id").asc)
    },

    // visual canonical selection (x203): x196's dHash pairs clustered
    // by the O(log n) alternating-star components (x37's machinery on
    // the image axis) — one keeper (min id, "first ingested wins":
    // images carry no quality score) per visual cluster; singletons
    // are their own keeper.
    "x203_visual_canonical" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"))
      val sigs = graft.ext.Multimodal.imageDHash(s,
          graft.ext.Multimodal.withPngPayload(s, d, "doc_id"), "doc_id")
        .select(col("doc_id"), col("dhash").as("sh"))
      // fused pairs→CC on the distinct-signature rep graph — identical
      // labels without the member-pair expansion (simhashClusters doc)
      val lbl = graft.ext.DedupOps.simhashClusters(sigs,
        maxHamming = 7, bands = 4, probeBits = 1)
      d.join(lbl, d("doc_id") === lbl("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .groupBy("cluster_id")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_members"))
        .orderBy(col("cluster_id").asc)
    },

    // token-weighted length quantiles (x204): histQuantiles with each
    // doc weighing its token count — "which length bucket holds the
    // q-th corpus TOKEN", the budget-relevant quantile (training runs
    // spend tokens, not documents). Same one-bucket error bound on the
    // weighted distribution.
    "x204_hist_weighted" -> ((s, dir) =>
      graft.ext.Corpus.histQuantilesWeighted(T(s, dir, "documents"),
          col("n_chars"),
          graft.ext.TextAnalysis.tokenCount(col("text")),
          bucketWidth = 50L,
          qMicros = Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)),

    // robust per-type outlier audit (x205): Tukey fences on histogram
    // quartiles over events.value — the heavy-tail-safe twin of q35's
    // mean/stddev z-score (medians move only when half the data
    // moves). floor(value) BEFORE the op: double→long CAST truncates
    // in Spark but rounds in DuckDB, so the floor pins the integer
    // both engines bucket.
    "x205_robust_outliers" -> ((s, dir) =>
      graft.ext.Corpus.robustOutliersByGroup(T(s, dir, "events"),
          floor(col("value")), Seq("event_type"), bucketWidth = 5L)
        .orderBy(col("event_type").asc)),

    // histogram distribution drift (x206): exact-integer L1 distance
    // between the en and fr length mixes — the ingest-monitoring gate
    // ("did this batch shift the distribution"); cross-multiplied
    // numerator, one final division (the zipfFit convention).
    "x206_hist_drift" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      graft.ext.Corpus.histDrift(
        d.filter(col("lang") === "en"), d.filter(col("lang") === "fr"),
        col("n_chars"), bucketWidth = 50L)
    },

    // sketch version drift (x212): how much did the ingest between
    // two index versions move the distribution — measured from the
    // sketch's retained snapshots ALONE (kilobytes, no corpus rescan):
    // the MVCC handle composed with the exact-integer L1.
    "x212_sketch_version_drift" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val idx = scratchDir("sketchdrift212")
      graft.ext.Corpus.saveHistSketch(
        d.filter(col("doc_id") % 3 =!= 0), col("n_chars"), idx,
        bucketWidth = 50L)
      val v0 = graft.ext.Corpus.histSketchVersion(s, idx)
      graft.ext.Corpus.appendToHistSketch(s, idx,
        d.filter(col("doc_id") % 3 === 0), col("n_chars"), "b1")
      val (latest, _) = graft.ext.Corpus.histSketchState(s, idx)
      val (base, _) = graft.ext.Corpus.histSketchState(s, idx,
        asOfVersion = Some(v0))
      graft.ext.Corpus.histDriftFromCounters(latest, base)
    },

    // adaptive KLL quantile sketch (x213): the UNKNOWN-RANGE member of
    // the quantile family — the histogram (x191) needs an a-priori
    // bucketWidth; KLL bounds RANK error with no range hint (Karnin-
    // Lang-Liberty 2016). k=64 keeps compaction ACTIVE at sf0.01
    // (n=500 > cap(0)), so estimates sit in an ε-band whose bound is
    // pinned in SketchGatesSpec (rank error ≤ 2k⁻¹·n observed ≪ that)
    // — rows-only here, like engine-seeded x13/x24; the exact regime
    // is oracle-checked as x222. O(3k) aggregate state, rank
    // selection over ≤3k surviving items, corpus never sorted.
    "x213_kll_quantiles" -> ((s, dir) =>
      graft.ext.Corpus.kllQuantiles(T(s, dir, "documents"),
          col("n_chars"), k = 64,
          qMicros = Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)),

    // persisted KLL sketch lifecycle (x220): save → append (replay
    // no-ops) → COMPACT (segments fold back to one O(3k) item table,
    // total weight conserved exactly) → serve. Item segments merge by
    // CONCATENATION (a union of weighted samples is a weighted sample
    // of the union) — no turnstile delete: KLL is not linear; that's
    // the price of unknown-range support. n in the output is exact by
    // weight conservation — the property the spec pins across the
    // whole lifecycle.
    "x220_kll_sketch_lifecycle" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val idx = scratchDir("kllsketch220")
      graft.ext.Corpus.saveKllSketch(
        d.filter(col("doc_id") % 3 =!= 0), col("n_chars"), idx, k = 64)
      graft.ext.Corpus.appendToKllSketch(s, idx,
        d.filter(col("doc_id") % 3 === 0), col("n_chars"), "b1")
      graft.ext.Corpus.appendToKllSketch(s, idx,
        d.filter(col("doc_id") % 3 === 0), col("n_chars"), "b1")
      graft.ext.Corpus.compactKllSketch(s, idx)
      graft.ext.Corpus.queryKllSketch(s, idx,
        Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)
    },

    // streamed KLL sketch maintenance (x221): arriving value files
    // land per-micro-batch item segments (built with the PERSISTED k)
    // under the same content-derived exactly-once contract as x194;
    // the serve concatenates segments. x194's shape with rank-bounded
    // items in place of linear counters.
    "x221_stream_kll_sketch" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val base = scratchDir("streamkll221")
      graft.ext.Corpus.saveKllSketch(
        d.filter(col("doc_id") % 3 === 1), col("n_chars"),
        base + "/idx", k = 64)
      landOrdered(s, Seq(
        d.filter(col("doc_id") % 3 === 2).select("doc_id", "n_chars"),
        d.filter(col("doc_id") % 3 === 0).select("doc_id", "n_chars")),
        base + "/vals")
      val schema = s.read.parquet(base + "/vals").schema
      val q = graft.streaming.StreamIndex.kllSketchAppendWriter(s,
          base + "/vals", schema, base + "/idx", "n_chars", "doc_id")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Corpus.queryKllSketch(s, base + "/idx",
        Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)
    },

    // KLL exact regime (x222): with k above the corpus size nothing
    // ever compacts — the sketch holds every item at level 0 and the
    // rank selection returns EXACT order statistics, deterministically
    // — so THIS gate is oracle-checked value-for-value (est = the
    // ⌈q·n⌉-th smallest n_chars as a double), pinning the estimator's
    // arithmetic (⌈·⌉ rank rule, cumulative-weight selection) that the
    // compaction-active gates then inherit.
    "x222_kll_exact" -> ((s, dir) =>
      graft.ext.Corpus.kllQuantiles(T(s, dir, "documents"),
          col("n_chars"), k = 1024,
          qMicros = Seq(100000L, 500000L, 900000L, 990000L))
        .orderBy(col("q_micros").asc)),

    // cross-corpus overlap scorecard (x214): |A∩B| and containment
    // |A∩B|/|B| between two PERSISTED corpus snapshots by
    // inclusion-exclusion over their HLL register segments — the
    // sketch-level contamination complement to x19/x197's row-level
    // decontamination. Two kilobyte register reads at serve time,
    // zero corpus access; registers are deterministic md5, so every
    // number is oracle-replicated in DuckDB (est(A∪B) from
    // register-wise max — HLL's union property). Runs on events
    // (x185's fixture): the raw-regime estimate needs n ≫ 2.5m and
    // inclusion-exclusion amplifies per-sketch error, so a 500-key
    // table would be all noise. A = event_id%3≠0, B = event_id%2≠0 →
    // true containment 2/3.
    "x214_corpus_overlap" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val root = scratchDir("overlap214")
      graft.ext.Corpus.saveHllSketch(
        ev.filter(col("event_id") % 3 =!= 0), col("event_id"),
        root + "/a")
      graft.ext.Corpus.saveHllSketch(
        ev.filter(col("event_id") % 2 =!= 0), col("event_id"),
        root + "/b")
      graft.ext.Corpus.hllSketchOverlap(s, root + "/a", root + "/b")
    },

    // versioned tokenizer file (x230): the reproducibility contract
    // real pipelines need — the tokenizer an old training run used
    // must stay loadable AT ITS VERSION after retrains. Gen 1 learns
    // on half the corpus, a retrain replaces it with the full-corpus
    // generation (single-commit swap, x108's shape on a vocabulary
    // artifact); both generations then encode the SAME documents,
    // keyed by vocab_gen. Gen 1's vocabulary may lack characters the
    // held-out half introduces — those words drop from its encode
    // (the documented unsegmentable contract), which the oracle
    // reproduces by enumerating only gen-1-reachable segmentations.
    "x230_unigram_vocab_persist" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val idx = scratchDir("univocab230")
      graft.ext.TextAnalysis.saveUnigramVocab(
        graft.ext.TextAnalysis.unigramLearn(
          d.filter(col("doc_id") % 2 === 0), "text"), idx)
      val v1 = graft.ext.Corpus.histSketchVersion(s, idx)
      graft.ext.TextAnalysis.retrainUnigramVocab(s, idx, d, "text")
      val encOld = graft.ext.TextAnalysis.unigramEncode(d, "doc_id",
        "text", graft.ext.TextAnalysis.loadUnigramVocab(s, idx,
          Some(v1)))
      val encNew = graft.ext.TextAnalysis.unigramEncode(d, "doc_id",
        "text", graft.ext.TextAnalysis.loadUnigramVocab(s, idx))
      encOld.withColumn("vocab_gen", lit(1L))
        .unionByName(encNew.withColumn("vocab_gen", lit(2L)))
        .orderBy(col("vocab_gen").asc, col("doc_id").asc)
    },

    // pHash ledger admission (x229): the persisted 64-bit Hamming
    // ledger's THIRD modality — one ledger design admits text SimHash
    // (x210), image dHash (x199), and DCT pHash signatures unchanged
    // (the banded geometry persists with the ledger; pigeonhole recall
    // makes the banded decision EQUAL brute force). Oracle: NOT-EXISTS
    // within Hamming 7 over the closed-form pHashes.
    "x229_phash_ledger_admit" -> { (s, dir) =>
      val png = graft.ext.Multimodal.withPngPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      val sigs = graft.ext.Multimodal.imagePHash(s, png, "doc_id")
        .select(col("doc_id"), col("phash").as("sh"))
      val ledger = scratchDir("phledger229")
      graft.ext.DedupOps.saveSimhashLedger(
        sigs.filter(pmod(col("doc_id"), lit(4)) =!= 0), ledger)
      graft.ext.DedupOps.simhashLedgerAdmit(s, ledger,
          sigs.filter(pmod(col("doc_id"), lit(4)) === 0),
          maxHamming = 7, probeBits = 1)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // audio spectral fingerprint (x234): the FOURTH modality on the
    // shared 64-bit signature machinery (text SimHash x04, image
    // dHash x195, pHash x219) — real RIFF decode, channel-pooled
    // frames nearest-neighbor-sampled onto a fixed 64-point time
    // grid, 8 windows × 8-point integer DCT (pHash's quantize-once
    // basis discipline), 63 time×band coefficients median-thresholded
    // into bits. Closed-form in the id on the withWavPayload fixture.
    "x234_audio_fingerprint" -> { (s, dir) =>
      val wav = graft.ext.Multimodal.withWavPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ext.Multimodal.audioSpectralHash(s, wav, "doc_id")
        .orderBy(col("doc_id").asc)
    },

    // audio near-dup pairs (x238): x234's signatures through the SAME
    // banded-LSH + exact-Hamming-verify pipeline as SimHash (x04),
    // dHash (x196), and pHash (x223) — one pair machinery, four
    // signal axes. Oracle brute-forces all Hamming<=7 pairs over the
    // closed-form hashes (pigeonhole: ≤7 flips over 4 bands leaves a
    // band within 1 bit — probeBits=1 covers it).
    "x238_audio_neardup_pairs" -> { (s, dir) =>
      val wav = graft.ext.Multimodal.withWavPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      val sigs = graft.ext.Multimodal.audioSpectralHash(s, wav,
          "doc_id")
        .select(col("doc_id"), col("ahash").as("sh"))
      graft.ext.DedupOps.simhashPairsFromSigs(sigs, maxHamming = 7,
          bands = 4, probeBits = 1)
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    },

    // audio ledger admission (x239): the persisted 64-bit Hamming
    // ledger's FOURTH modality (x210 text, x199 image dHash, x229
    // pHash) — clips admitted iff no ledgered clip within Hamming 7,
    // incremental and replay-safe under the same manifest protocol.
    "x239_audio_ledger_admit" -> { (s, dir) =>
      val wav = graft.ext.Multimodal.withWavPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      val sigs = graft.ext.Multimodal.audioSpectralHash(s, wav,
          "doc_id")
        .select(col("doc_id"), col("ahash").as("sh"))
      val ledger = scratchDir("ahledger239")
      graft.ext.DedupOps.saveSimhashLedger(
        sigs.filter(pmod(col("doc_id"), lit(4)) =!= 0), ledger)
      graft.ext.DedupOps.simhashLedgerAdmit(s, ledger,
          sigs.filter(pmod(col("doc_id"), lit(4)) === 0),
          maxHamming = 7, probeBits = 1)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // streamed CMS maintenance (x228): x188's counter segments landed
    // by a micro-batch stream — completes the streamed-writer symmetry
    // across the sketch family (HLL x189, histogram x194, KLL x221).
    // Addition is order-free, so any batching serves the identical
    // estimates; batch identity hashes event_id (unique per batch —
    // the sketch key user_id legitimately repeats across batches).
    // Same full-corpus oracle as x184/x188, verbatim.
    "x228_stream_cms_sketch" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val base = scratchDir("streamcms228")
      graft.ext.Corpus.saveCmsSketch(
        ev.filter(col("event_id") % 3 === 1), col("user_id"),
        base + "/idx", depth = 4, width = 1024)
      landOrdered(s, Seq(
        ev.filter(col("event_id") % 3 === 2)
          .select("event_id", "user_id"),
        ev.filter(col("event_id") % 3 === 0)
          .select("event_id", "user_id")),
        base + "/keys")
      val schema = s.read.parquet(base + "/keys").schema
      val q = graft.streaming.StreamIndex.cmsSketchAppendWriter(s,
          base + "/keys", schema, base + "/idx", "user_id",
          "event_id")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      val probes = ev.filter(col("user_id") < 20)
        .select(col("user_id")).distinct()
        .unionByName(s.range(1).select(lit(-1L).as("user_id")))
      graft.ext.Corpus.queryCmsSketch(s, base + "/idx", probes,
        "user_id")
    },

    // ingest novelty from HLL version overlap (x231): x214's
    // inclusion-exclusion pointed at TWO VERSIONS OF ONE index — the
    // x212 MVCC composition on the distinct-count axis. retention =
    // |old∩new|/|new| (the share of today's distinct keys that
    // predate the append), novelty = 1 − retention: the "is this
    // crawl actually new data" scorecard, answered from two kilobyte
    // register reads, no corpus rescan.
    "x231_ingest_novelty" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val idx = scratchDir("novelty231")
      graft.ext.Corpus.saveHllSketch(
        ev.filter(col("event_id") % 3 =!= 0), col("event_id"), idx)
      val v1 = graft.ext.Corpus.histSketchVersion(s, idx)
      graft.ext.Corpus.appendToHllSketch(s, idx,
        ev.filter(col("event_id") % 3 === 0), col("event_id"), "b1")
      graft.ext.Corpus.hllSketchOverlap(s, idx, idx,
          asOfA = Some(v1), asOfB = None)
        .select(col("est_a").as("est_old"), col("est_b").as("est_new"),
          col("est_intersect"),
          col("containment_b").as("retention"),
          round(lit(1.0) - col("containment_b"), 6).as("novelty"))
    },

    // CDF-at-threshold from the KLL sketch (x232): the inverse read of
    // x213 — "what fraction of docs are under these length bars", the
    // budget/threshold-planning question, with no bucket grid. Exact
    // regime at sf0.01 (k=1024) → the empirical CDF, oracle-checked.
    "x232_kll_cdf" -> ((s, dir) =>
      graft.ext.Corpus.kllCdfAt(T(s, dir, "documents"),
          col("n_chars"), k = 1024,
          thresholds = Seq(100.0, 200.0, 400.0))
        .orderBy(col("t").asc)),

    // KS drift from KLL sketches (x226): the rank-space member of the
    // drift family — histDrift's L1 needs the histogram's a-priori
    // bucket grid; the two-sample Kolmogorov-Smirnov sup-distance
    // between two KLL item tables needs no range hint. Exact-integer
    // numerator max|cum_a·n_b − cum_b·n_a| over the union of observed
    // values, one final division; k=1024 puts sf0.01 in the exact
    // regime, so this IS the textbook two-sample KS, oracle-checked.
    "x226_kll_ks_drift" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      graft.ext.Corpus.kllKsDrift(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        col("n_chars"), k = 1024)
    },

    // KLL sketch version drift (x227): x212's MVCC composition on the
    // rank-space sketch — "how much did this ingest move the
    // distribution" as a KS distance between two RETAINED snapshot
    // versions of one persisted KLL index, read from the sketches'
    // kilobytes alone, no corpus rescan.
    "x227_kll_version_drift" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val idx = scratchDir("kllvdrift227")
      graft.ext.Corpus.saveKllSketch(
        d.filter(col("doc_id") % 3 =!= 0), col("n_chars"), idx,
        k = 1024)
      val v0 = graft.ext.Corpus.histSketchVersion(s, idx)
      graft.ext.Corpus.appendToKllSketch(s, idx,
        d.filter(col("doc_id") % 3 === 0), col("n_chars"), "b1")
      val (latest, _) = graft.ext.Corpus.kllSketchState(s, idx)
      val (base, _) = graft.ext.Corpus.kllSketchState(s, idx,
        asOfVersion = Some(v0))
      graft.ext.Corpus.kllKsDriftFromItems(latest, base)
    },

    // per-group KLL quantiles (x225): x213's grouped shape (the
    // x198-to-x191 relationship) — one keyed typed aggregate, every
    // join keyed on the group, no group ever sorted; k=1024 puts
    // sf0.01's groups in the exact regime so the per-group order
    // statistics are oracle-checked (compaction-active grouped error
    // is pinned in SketchGatesSpec).
    "x225_kll_by_group" -> ((s, dir) =>
      graft.ext.Corpus.kllQuantilesBy(T(s, dir, "documents"),
          col("n_chars"), Seq("lang"), k = 1024,
          qMicros = Seq(250000L, 500000L, 750000L))
        .orderBy(col("lang").asc, col("q_micros").asc)),

    // streamed per-group KLL maintenance (x237): x221's writer shape
    // with the micro-batch sketched PER GROUP (persisted k AND group
    // column) — each source's quantile state stays O(3k) and current
    // as batches arrive, the per-source drift-alarm substrate. Exact
    // regime at sf0.01, so the streamed segments must serve the
    // one-shot grouped build (x225's oracle) exactly; replay no-op +
    // distributed compaction pinned in SketchGatesSpec.
    "x237_stream_kll_by_group" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val base = scratchDir("streamkllg237")
      graft.ext.Corpus.saveGroupedKllSketch(
        d.filter(col("doc_id") % 3 === 1), col("n_chars"), "lang",
        base + "/idx", k = 1024)
      landOrdered(s, Seq(
        d.filter(col("doc_id") % 3 === 2)
          .select("doc_id", "lang", "n_chars"),
        d.filter(col("doc_id") % 3 === 0)
          .select("doc_id", "lang", "n_chars")),
        base + "/vals")
      val schema = s.read.parquet(base + "/vals").schema
      val q = graft.streaming.StreamIndex.kllByGroupSketchAppendWriter(
          s, base + "/vals", schema, base + "/idx", "n_chars",
          "doc_id")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Corpus.queryGroupedKllSketch(s, base + "/idx",
          Seq(250000L, 500000L, 750000L))
        .orderBy(col("lang").asc, col("q_micros").asc)
    },

    // KLL quartile binning (x248): q38's per-nation quartile stats in
    // the shape that survives 100× — ntile(4) sorts each whole nation
    // in ONE task; here the three bin edges come from the grouped
    // sketch (x225) and broadcast back, bins are VALUE-defined (ties
    // land together — reproducible, unlike ntile's positional split),
    // and the corpus never sorts. k=4096 keeps even sf0.1's nations
    // in the exact regime → order-statistic edges, oracle-checked.
    "x248_kll_quartile_bins" -> { (s, dir) =>
      val c = T(s, dir, "customer").select(col("c_nationkey"),
        col("c_custkey"), col("c_acctbal"),
        graft.ops.Metrics.decQuantize(col("c_acctbal"), 2)
          .as("_bal_dec"))
      graft.ext.Corpus.kllBinByGroup(c, col("c_acctbal"),
          Seq("c_nationkey"), k = 4096,
          qMicros = Seq(250000L, 500000L, 750000L))
        .groupBy(col("c_nationkey"), col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          sum(col("_bal_dec")).cast(DoubleType).as("sum_bal"))
        .orderBy(col("c_nationkey").asc, col("bin").asc)
    },

    // streamed per-group drift monitor (x246): the per-source alarm
    // loop closed — each arriving batch KS-scored PER LANGUAGE
    // against the grouped sketch's pre-batch state (x240's statistic,
    // x211's monitor shape in rank space), drift rows landed, batch
    // appended; every batch measured against everything before it,
    // per source, no range hint. (lang, n_b) replays arrival order.
    "x246_stream_group_drift" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val base = scratchDir("streamgdrift246")
      graft.ext.Corpus.saveGroupedKllSketch(
        d.filter(col("doc_id") % 3 === 1), col("n_chars"), "lang",
        base + "/idx", k = 1024)
      landOrdered(s, Seq(
        d.filter(col("doc_id") % 3 === 2)
          .select("doc_id", "lang", "n_chars"),
        d.filter(col("doc_id") % 3 === 0)
          .select("doc_id", "lang", "n_chars")),
        base + "/vals")
      val schema = s.read.parquet(base + "/vals").schema
      val q = graft.streaming.StreamIndex.kllGroupDriftMonitorWriter(
          s, base + "/vals", schema, base + "/idx", base + "/out",
          "n_chars", "doc_id")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out")
        .select(col("g").as("lang"), col("n_a"), col("n_b"),
          col("ks_num"), col("ks"))
        .orderBy(col("lang").asc, col("n_b").asc)
    },

    // per-group CDF read (x243): x232's threshold-planning inverse
    // read keyed on the group and served off the PERSISTED grouped
    // sketch (save + append here; the x237 stream maintains the same
    // state) — "what share of EACH language clears these length
    // bars", from sketch kilobytes. Exact regime → per-lang empirical
    // CDF, oracle-checked.
    "x243_kll_group_cdf" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val idx = scratchDir("kllgcdf243")
      graft.ext.Corpus.saveGroupedKllSketch(
        d.filter(col("doc_id") % 3 =!= 0), col("n_chars"), "lang",
        idx, k = 1024)
      graft.ext.Corpus.appendToGroupedKllSketch(s, idx,
        d.filter(col("doc_id") % 3 === 0), col("n_chars"), "b1")
      graft.ext.Corpus.queryGroupedKllCdf(s, idx,
          Seq(100.0, 200.0, 400.0))
        .orderBy(col("lang").asc, col("t").asc)
    },

    // audio canonicalization (x244): x203's keep-one-per-cluster on
    // the audio axis — connected components (alternating star rounds)
    // over the x238 near-dup pairs, keeper = component minimum,
    // singletons their own cluster. One cluster machinery, every
    // signature modality.
    "x244_audio_canonical" -> { (s, dir) =>
      val d = T(s, dir, "documents").select(col("doc_id"))
      val sigs = graft.ext.Multimodal.audioSpectralHash(s,
          graft.ext.Multimodal.withWavPayload(s, d, "doc_id"),
          "doc_id")
        .select(col("doc_id"), col("ahash").as("sh"))
      // fused pairs→CC on the distinct-signature rep graph — identical
      // labels without the member-pair expansion (simhashClusters doc)
      val lbl = graft.ext.DedupOps.simhashClusters(sigs,
        maxHamming = 7, bands = 4, probeBits = 1)
      d.join(lbl, d("doc_id") === lbl("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .groupBy("cluster_id")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_members"))
        .orderBy(col("cluster_id").asc)
    },

    // per-group KS drift (x240): the x226 statistic keyed on the
    // group — the per-source drift alarm itself, one row per lang,
    // exact-integer numerator over the grouped value union; exact
    // regime at k=1024, so this IS each language's textbook
    // two-sample KS, oracle-checked.
    "x240_kll_group_drift" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      graft.ext.Corpus.kllKsDriftByGroup(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          col("n_chars"), "lang", k = 1024)
        .select(col("g").as("lang"), col("n_a"), col("n_b"),
          col("ks_num"), col("ks"))
        .orderBy(col("lang").asc)
    },

    // pin-aware vacuum (x224): retention composed with the pin
    // history — each leg vacuums to keepVersions=1 (normally only the
    // newest survives) but every version a LIVE pin names is kept, so
    // pin v1's whole-pipeline time travel still serves after the
    // sweep. Both pinned serves run POST-vacuum from what retention
    // left behind; output = the same (subset pair, full pair) as
    // x176/x218 — vacuum must change nothing a live pin can see.
    "x224_pin_aware_vacuum" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
      val base = scratchDir("pinvac224")
      val bidx = base + "/bm25"
      val vidx = base + "/ivf"
      val pins = base + "/pins"
      Concurrently.both(
        graft.ext.TextAnalysis.saveBm25Index(
          docs.filter(col("doc_id") < 400), "doc_id", "text", bidx),
        graft.ext.Similarity.saveIvfIndex(
          emb.filter(col("vec_id") < 400), "vec_id", "embedding", vidx,
          kCentroids = 8, iters = 2))
      val pin1 = graft.ext.Hybrid.commitPin(s, pins, bidx, vidx)
      val pin2 = graft.ext.Hybrid.dualAppend(s, pins, bidx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text", vidx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Hybrid.vacuumPinned(s, pins, bidx, vidx,
        keepVersions = 1)
      val old = graft.ext.Hybrid.servePinned(s, pins, bidx,
        Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
        "embedding", kLex = 10, kVec = 5, k = 10,
        pinVersion = Some(pin1.version))
      val cur = graft.ext.Hybrid.servePinned(s, pins, bidx,
        Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
        "embedding", kLex = 10, kVec = 5, k = 10,
        pinVersion = Some(pin2.version))
      old.withColumn("pin_version", lit(pin1.version))
        .unionByName(cur.withColumn("pin_version", lit(pin2.version)))
    },

    // DCT perceptual hash (x219): the frequency-domain second
    // perceptual axis — dHash (x195) reads local gradient signs and
    // misses scale/crop variants that preserve global structure; the
    // 32×32-grid DCT corner catches them. The cosine basis is
    // quantized once to integer micro-units, so coefficients, median,
    // and every bit decision are exact integer arithmetic — the hash
    // is closed-form in the id on the PNG fixture (x195's discipline
    // through a real frequency transform, no float thresholds).
    "x219_image_phash" -> { (s, dir) =>
      val png = graft.ext.Multimodal.withPngPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ext.Multimodal.imagePHash(s, png, "doc_id")
        .orderBy(col("doc_id").asc)
    },

    // pHash near-dup pairs (x223): x219's signatures through the SAME
    // banded-LSH + exact-Hamming-verify machinery as text SimHash
    // (x04) and dHash (x196) — one pair pipeline, three signal axes.
    // Oracle brute-forces all Hamming<=7 pairs over the closed-form
    // hashes; banding must find exactly those (pigeonhole: ≤7 flips
    // over 4 bands leaves a band within 1 bit — probeBits=1 covers
    // it).
    "x223_phash_neardup_pairs" -> { (s, dir) =>
      val png = graft.ext.Multimodal.withPngPayload(s,
        T(s, dir, "documents").select(col("doc_id")), "doc_id")
      val sigs = graft.ext.Multimodal.imagePHash(s, png, "doc_id")
        .select(col("doc_id"), col("phash").as("sh"))
      graft.ext.DedupOps.simhashPairsFromSigs(sigs, maxHamming = 7,
          bands = 4, probeBits = 1)
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    },

    // torn-pin crash recovery (x218): a dual-append writer dies AFTER
    // both leg commits but BEFORE the pin commit — the worst torn
    // window (both indexes are at v2, the pipeline still points at
    // v1). The serve must keep returning pin v1's coherent pair
    // (versions come from the PIN, not from "latest"), and a
    // recovering writer replaying the same batch through dualAppend
    // must complete the pair: both leg appends no-op on their applied
    // records, then the pin commits — the ORDER invariant (pin last)
    // makes replay the whole recovery protocol, no transaction log.
    // Same oracle as x176: pin1 = subset pair, pin2 = full pair.
    "x218_pin_crash_recovery" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
      val base = scratchDir("pincrash218")
      val bidx = base + "/bm25"
      val vidx = base + "/ivf"
      val pins = base + "/pins"
      Concurrently.both(
        graft.ext.TextAnalysis.saveBm25Index(
          docs.filter(col("doc_id") < 400), "doc_id", "text", bidx),
        graft.ext.Similarity.saveIvfIndex(
          emb.filter(col("vec_id") < 400), "vec_id", "embedding", vidx,
          kCentroids = 8, iters = 2))
      val pin1 = graft.ext.Hybrid.commitPin(s, pins, bidx, vidx)
      // the crash: both legs land, the writer dies pre-pin
      graft.ext.TextAnalysis.appendToBm25Index(s, bidx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text", "b1")
      graft.ext.Similarity.appendToIvfIndex(s, vidx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      val mid = graft.ext.Hybrid.servePinned(s, pins, bidx,
        Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
        "embedding", kLex = 10, kVec = 5, k = 10)
      // recovery = replay: appends no-op, the pin completes the pair
      val pin2 = graft.ext.Hybrid.dualAppend(s, pins, bidx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text", vidx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      val post = graft.ext.Hybrid.servePinned(s, pins, bidx,
        Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
        "embedding", kLex = 10, kVec = 5, k = 10,
        pinVersion = Some(pin2.version))
      mid.withColumn("pin_version", lit(pin1.version))
        .unionByName(post.withColumn("pin_version", lit(pin2.version)))
    },

    // recall under mutation (x217): x138's recall@k harness replayed
    // against a persisted IVF index AFTER the full mutation lifecycle
    // — append (x76) + turnstile delete (x124) + compact (x99) — the
    // composition gate the x181 pattern fixed for as-of+filtered. The
    // exact leg scans the SURVIVING corpus; the mutated serve keeps
    // the save-time centroid generation (appends/deletes never
    // retrain), so the oracle is the subset-trained serve with deleted
    // ids barred from the candidate join, composed into x138's recall
    // arithmetic. The spec pins the number that matters: recall after
    // mutation tracks a fresh rebuild on the survivors.
    "x217_ann_recall_mutated" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_mut217")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding",
        batchId = "b1")
      graft.ext.Similarity.deleteFromIvfIndex(s, idx,
        emb.filter(col("vec_id") % 3 === 1).select(col("vec_id")),
        "vec_id", "d1")
      graft.ext.Similarity.compactIvfIndex(s, idx)
      val q = emb.filter(col("vec_id") < 8)
      graft.ext.Similarity.recallAtK(
        graft.ext.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") % 3 =!= 1), q, "vec_id",
          "embedding", k = 5),
        graft.ext.Similarity.queryIvfIndex(s, idx, q, "vec_id",
          "embedding", k = 5, nprobe = 2),
        "query_id", "vec_id", k = 5)
    },

    // unigram-LM tokenizer training (x215): the OTHER tokenizer family
    // real pipelines train (Kudo 2018; BPE = x165 is merge-greedy,
    // unigram is likelihood-prune) — seed substrings → one hard-EM
    // Viterbi pass → prune to budget, every score integer micronats
    // and every tie a total order, so the learned vocabulary is a pure
    // function of the corpus and the oracle unrolls the same pipeline
    // (recursive-CTE segmentation enumeration against the engine's
    // codegen'd DP — same answers by DP optimal substructure; the
    // (cost, n_pieces, path) order is concatenation-stable because
    // equal-(cost,n) paths to a node have equal length).
    "x215_unigram_learn" -> ((s, dir) =>
      graft.ext.TextAnalysis.unigramLearn(T(s, dir, "documents"),
          "text")
        .orderBy(col("piece").asc)),

    // unigram encode (x216): the learned vocabulary applied as ONE
    // narrow codegen'd Viterbi projection per word occurrence (no
    // join, no shuffle before the per-doc rollup — the x166
    // discipline); cost_sum = −1e6·log-likelihood, the corpus-quality
    // scalar.
    "x216_unigram_encode" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      // vocabulary-sized collect — the tokenizer file (x166's merge
      // table sanction)
      val vocab = graft.ext.TextAnalysis.unigramLearn(d, "text")
        .orderBy(col("piece").asc).collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq
      graft.ext.TextAnalysis.unigramEncode(d, "doc_id", "text", vocab)
        .orderBy(col("doc_id").asc)
    },

    // tokenizer scorecard (x236): BPE (x165) vs unigram-LM (x215) at
    // an EQUAL multi-symbol vocabulary budget (6 merges vs 6 retained
    // multi pieces), scored per language on fertility (tokens/word),
    // compression (chars/token), and OOV — the comparison a real
    // pipeline picks its tokenizer with. Training runs inside the
    // gate (measured semantics, the x166/x216 precedent); all counts
    // integer-exact, both encodes replayed as oracle derived tables.
    "x236_tokenizer_scorecard" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      // vocabulary-sized collects — the two tokenizer files
      val merges = graft.ext.TextAnalysis
        .bpeLearn(d, "text", merges = 6)
        .orderBy(col("rank").asc).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.ext.TextAnalysis
        .unigramLearn(d, "text", seedMulti = 150, vocabMulti = 6)
        .orderBy(col("piece").asc).collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq
      graft.ext.TextAnalysis.tokenizerScorecard(d, "text", "lang",
          merges, vocab)
        .orderBy(col("lang").asc, col("tokenizer").asc)
    },

    // streamed drift monitor (x211): each arriving batch scored
    // against the sketch's PRE-BATCH state (exact-integer histogram
    // L1), then appended — the continuous "did this crawl shift the
    // mix" alarm; n_b grows monotonically so ordering by it replays
    // arrival order.
    "x211_stream_drift_monitor" -> { (s, dir) =>
      val d = T(s, dir, "documents")
      val base = scratchDir("streamdrift211")
      graft.ext.Corpus.saveHistSketch(
        d.filter(col("doc_id") % 3 === 1), col("n_chars"),
        base + "/idx", bucketWidth = 50L)
      landOrdered(s, Seq(
        d.filter(col("doc_id") % 3 === 2).select("doc_id", "n_chars"),
        d.filter(col("doc_id") % 3 === 0).select("doc_id", "n_chars")),
        base + "/vals")
      val schema = s.read.parquet(base + "/vals").schema
      val q = graft.streaming.StreamIndex.histDriftMonitorWriter(s,
          base + "/vals", schema, base + "/idx", base + "/out",
          "n_chars", "doc_id")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      s.read.parquet(base + "/out")
        .select("n_a", "n_b", "l1_num", "drift")
        .orderBy(col("n_b").asc)
    },

    // pairwise drift matrix (x209): x206 for every language pair at
    // once — per-group histograms zero-filled onto the common bucket
    // grid, pairs meet on a keyed bucket join, exact-integer L1 — the
    // mixture-design diagnostic ("which source mixes actually
    // differ").
    "x209_drift_matrix" -> ((s, dir) =>
      graft.ext.Corpus.histDriftMatrix(T(s, dir, "documents"),
          col("n_chars"), "lang", bucketWidth = 50L)
        .orderBy(col("g_a").asc, col("g_b").asc)),

    // text-SimHash ledger admission (x210): the SAME persisted
    // signature ledger as x199, fed x04's text SimHashes instead of
    // image dHashes — one ledger design, every 64-bit Hamming sig
    // modality; admission equals brute force by the recall contract.
    "x210_simhash_ledger_admit" -> { (s, dir) =>
      graft.functions.TextHashExprs.register(s)
      val d = T(s, dir, "documents")
      def sigs(f: DataFrame) = f.select(col("doc_id"),
        graft.functions.TextHashExprs.simhash64(col("text")).as("sh"))
      val ledger = scratchDir("shledger210")
      graft.ext.DedupOps.saveSimhashLedger(
        sigs(d.filter(pmod(col("doc_id"), lit(4)) =!= 0)), ledger)
      graft.ext.DedupOps.simhashLedgerAdmit(s, ledger,
          sigs(d.filter(pmod(col("doc_id"), lit(4)) === 0)),
          maxHamming = 7, probeBits = 1)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },

    // forward as-of with tolerance (x207): the next view WITHIN AN
    // HOUR after each click — merge_asof(direction='forward',
    // tolerance=1h) parity; q13's union/window shape, matches beyond
    // the tolerance null out, equal-ts forward ties keep the lowest id
    // (scan-first, mirroring backward's last).
    "x207_asof_tolerance" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id"), col("ts"))
      graft.ops.AsOf.asofJoinDirected(clicks, views, Seq("user_id"),
          "ts", "ts",
          Map("v_id" -> "next_view_id", "ts" -> "next_view_ts"),
          direction = "forward", tolerance = Some(3600L),
          tieBreak = Some("next_view_id"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("next_view_id"),
          date_format(col("next_view_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("next_view_ts"))
    },

    // nearest as-of (x208): the view CLOSEST to each click within 30
    // minutes either way, distance ties to BACKWARD (pandas' rule) —
    // one exchange, both directional fills over it.
    "x208_asof_nearest" -> { (s, dir) =>
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id"), col("ts"))
      graft.ops.AsOf.asofJoinDirected(clicks, views, Seq("user_id"),
          "ts", "ts",
          Map("v_id" -> "near_view_id", "ts" -> "near_view_ts"),
          direction = "nearest", tolerance = Some(1800L),
          tieBreak = Some("near_view_id"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("near_view_id"),
          date_format(col("near_view_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("near_view_ts"))
    },

    // distributed BPE vocabulary learning (x165): 6 rounds of
    // count-pairs → merge-everywhere over the vocabulary-bounded
    // word-frequency table (Sennrich 2016), total-order tie-break, all
    // merge rewrites as codegen'd array folds; driver traffic is ONE
    // row per round. The oracle unrolls the same rounds with the
    // leftmost-merge rule stated declaratively (run-parity windows).
    "x165_bpe_learn" -> ((s, dir) =>
      graft.ext.TextAnalysis.bpeLearn(T(s, dir, "documents"), "text",
        merges = 6).orderBy(col("rank").asc)),

    // BPE encode (x166): apply x165's learned merge list (rank order)
    // to every document — the merge table is tokenizer-file metadata
    // (6 rows collected), the encode itself is one narrow shuffle-free
    // projection of 6 chained folds + a per-doc count aggregation.
    "x166_bpe_encode" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val merges = graft.ext.TextAnalysis
        .bpeLearn(docs, "text", merges = 6)
        .orderBy(col("rank").asc).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ext.TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id").asc)
    },

    // event-transition matrix (x164): first-order Markov counts over
    // per-user event sequences — lead() within (user, time) order, a
    // per-user hash-partitioned window (never single-partition), then
    // one partial+final count on (from, to); row-probabilities as exact
    // floor-micros over a from-type-partitioned window on the already-
    // tiny |types|² frame. The sequence-mining complement to q14's
    // sessionize and q32's ordered funnel.
    "x164_event_transitions" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val c = T(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
      c.withColumn("prob_micros",
          expr("1000000 * n_transitions div " +
            "sum(n_transitions) OVER (PARTITION BY from_type)")
            .cast(LongType))
        .orderBy(col("from_type").asc, col("to_type").asc)
    },

    // local clustering coefficient (x163): per-node triangle density
    // (Watts-Strogatz) over an irregular sparse circulant+doubling
    // graph — x111's degree-ordered wedge machinery, now emitting all
    // three corners per closed wedge so one aggregation yields per-node
    // counts. Coefficient as exact floor-micros (integer div). The
    // oracle is DEFINITIONAL (n³ canonical-edge triple join), not the
    // engine's orientation — independent algorithms must agree.
    "x163_clustering_coefficient" -> { (s, dir) =>
      val sup = T(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("k"))
      val n = sup.agg(count(lit(1))).head().getLong(0)
      val edges = sup
        .select(col("k").as("src"), explode(array(
          pmod(col("k"), lit(n)) + 1,
          pmod(col("k") + 1, lit(n)) + 1,
          pmod(col("k") * 2, lit(n)) + 1)).as("dst"))
      graft.ext.Graph.clusteringCoefficient(edges, "src", "dst")
        .orderBy(col("id").asc)
    },

    // bloom semi-join reduction (x162): the explicit runtime-filter
    // star-join pattern — dim keys aggregate to ONE bloom sketch,
    // broadcast once per executor, probed on the fact scan inside
    // codegen so non-matching rows die before the exchange; the exact
    // semi join then clears false positives. Result ≡ plain left_semi
    // (EngineProps pin); at 100 TB the fact shuffle shrinks to the
    // dim's selectivity + FP traffic.
    "x162_bloom_semijoin" -> { (s, dir) =>
      val urgent = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.ops.Joins.bloomSemiJoin(
        T(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
    },

    // temperature-scaled source mixture (x161): α=0.5 sampling shares
    // per language — the multilingual-pretraining mixture design
    // (up-weight the tail, damp the head); exact integer raw shares,
    // correctly-rounded sqrt, order-pinned normalizer fold.
    "x161_temperature_mix" -> ((s, dir) =>
      graft.ext.Corpus.temperatureMix(T(s, dir, "documents"), "lang",
        "text").orderBy(col("lang").asc)),

    // bipartite co-clustering (x160): semi-synchronous LPA on the
    // doc↔3-gram-shingle graph — docs sharing MANY shingles converge
    // to one label (vote-weighted, where x31's components merge on any
    // single shared shingle). Two rounds = 2 left-to-left hops.
    "x160_bipartite_coclusters" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      graft.functions.TextHashExprs.register(s)
      val edges = docs.select(col("doc_id"),
        explode(graft.functions.TextHashExprs
          .shingleHashes(col("text"), 3)).as("sh"))
      graft.ext.Graph.labelPropagationBipartite(edges, "doc_id", "sh",
          rounds = 2)
        .select(col("id").as("doc_id"), col("lbl").as("cluster"))
        .orderBy(col("doc_id").asc)
    },

    // split-leakage audit (x152): the contingency of near-dup pairs by
    // the splits their members landed in — off-diagonal rows ARE the
    // evaluation leak. x16's content-hash split is audited against
    // x02's Jaccard pairs: the naive split leaves cross-split
    // near-dups (x81's cluster-safe split exists to zero them; this
    // op is the proof-as-a-query).
    "x152_split_leakage_audit" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      graft.ext.Corpus.splitLeakage(
          graft.ext.Corpus.assignSplit(docs, "text"), "doc_id", "split",
          docNearDupPairs(docs))
        .orderBy(col("split_a").asc, col("split_b").asc)
    },

    // per-group quantile curation (x150): keep the top 25% of docs per
    // language by quality score, thresholded via the histogram-quantile
    // op (integer floor-buckets at precision 2 — never a per-group
    // sort; the corpus crosses no shuffle). The relative-threshold
    // quality filter every curation pipeline ends with.
    "x150_quality_quantile_filter" -> { (s, dir) =>
      val scored = graft.ext.TextAnalysis.qualityScore(
        T(s, dir, "documents"), "text")
      graft.ext.Corpus.topFractionByQuantile(scored, "lang",
          col("quality_score"), frac = 0.25)
        .select(col("lang"), col("doc_id"), col("quality_score"))
        .orderBy(col("lang").asc, col("doc_id").asc)
    },

    // pseudo-relevance-feedback query expansion (x151): serve
    // ("hash","join"), mine the 3 terms most characteristic of the
    // top-5 results ((docs-containing, Σtf, term) order — original
    // terms and the '' token never selected), re-serve the widened
    // set. One manifest resolution drives all three reads; the
    // expansion scan is doc_id-IN-pushed to the f feedback ids.
    "x151_bm25_query_expansion" -> { (s, dir) =>
      val idx = sharedBm25Index(s, dir)
      graft.ext.TextAnalysis.queryBm25IndexExpanded(s, idx,
        Seq("hash", "join"), k = 10, feedbackDocs = 5, expandTerms = 3)
    },

    "x136_bm25_search_after" -> { (s, dir) =>
      val idx = sharedBm25Index(s, dir)
      val page1 = graft.ext.TextAnalysis.queryBm25Index(s, idx,
        Seq("hash", "join", "merge"), k = 10).collect()
      val last = page1.last
      graft.ext.TextAnalysis.queryBm25IndexAfter(s, idx,
        Seq("hash", "join", "merge"), k = 10,
        afterScore = last.getAs[Double]("score"),
        afterDocId = last.getAs[Long]("doc_id"))
    },

    // BATCHED BM25 serve (x132): three queries (one carrying a term
    // absent from the vocabulary) answered from ONE pass over the
    // union of their terms' postings — per-query top-k via a window
    // PARTITIONED by query_id, scores bit-identical to the
    // single-query serve.
    "x132_bm25_index_batch" -> { (s, dir) =>
      import s.implicits._
      val idx = sharedBm25Index(s, dir)
      val qdf = Seq(
        (0L, Seq("hash", "join", "merge")),
        (1L, Seq("sort", "stream", "spill")),
        (2L, Seq("filter", "scan", "join")))
        .toDF("query_id", "terms")
      graft.ext.TextAnalysis.queryBm25IndexBatch(s, idx, qdf,
        "query_id", "terms", k = 10)
    },

    // FILTERED BM25 (x130): the lexical half of filtered retrieval —
    // top-k among lang='en' docs only, with Lucene filter semantics:
    // idf/N/avgdl stay the FULL corpus's (scores are corpus
    // properties; filters choose candidates), so the oracle filters
    // at the scoring stage below corpus-wide statistics.
    "x130_bm25_filtered_topk" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = sharedBm25Index(s, dir)
      graft.ext.TextAnalysis.queryBm25IndexFiltered(s, idx,
        Seq("hash", "join", "merge"), k = 10,
        allowedDocs = docs.filter(col("lang") === "en"),
        idCol = "doc_id")
    },

    // BM25 index DELETE (x121): tombstone + negative-correction
    // deletion — served scores must be EXACT for the live corpus
    // immediately (idf/n_docs/avgdl all net out the deleted docs),
    // not merely exclude the deleted ids: the oracle scores the
    // filtered corpus from scratch.
    "x121_bm25_index_delete" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_del121")
      graft.ext.TextAnalysis.saveBm25Index(docs, "doc_id", "text", idx)
      graft.ext.TextAnalysis.deleteFromBm25Index(s, idx,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        "doc_id", "d1")
      graft.ext.TextAnalysis.queryBm25Index(s, idx,
        Seq("hash", "join", "merge"), k = 10)
    },

    // BM25 index REINDEX/upsert (x122): the MERGE of the lifecycle —
    // changed docs are tombstoned out of their old segments and
    // re-appended as a fresh segment outside every tombstone's scope
    // (the reason tombstones are (doc, segment)-scoped). The oracle
    // scores the UPDATED corpus from scratch: old versions must be
    // fully gone (stats included) and new versions fully live.
    "x122_bm25_reindex_docs" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_reidx122")
      graft.ext.TextAnalysis.saveBm25Index(docs, "doc_id", "text", idx)
      graft.ext.TextAnalysis.reindexBm25Docs(s, idx,
        docs.filter(col("doc_id") % 5 === 2)
          .withColumn("text", concat(col("text"), lit(" merge"))),
        "doc_id", "text", "r1")
      graft.ext.TextAnalysis.queryBm25Index(s, idx,
        Seq("hash", "join", "merge"), k = 10)
    },

    // BM25 delete + COMPACT (x123): physical removal — the fold
    // anti-joins the tombstones, nets the negative corrections into
    // one termstats/stats segment, and drops the tombstone table;
    // the answer must not move (x121's oracle verbatim).
    "x123_bm25_delete_compact" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_delc123")
      graft.ext.TextAnalysis.saveBm25Index(docs, "doc_id", "text", idx)
      graft.ext.TextAnalysis.deleteFromBm25Index(s, idx,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        "doc_id", "d1")
      graft.ext.TextAnalysis.compactBm25Index(s, idx)
      graft.ext.TextAnalysis.queryBm25Index(s, idx,
        Seq("hash", "join", "merge"), k = 10)
    },

    // IVF index DELETE (x124): the vector half — tombstoned vectors
    // vanish from every candidate set immediately (centroids stay the
    // full-corpus generation; deletes never retrain). Oracle: x71's
    // full-corpus-trained serve with deleted ids barred from the
    // candidate join only.
    "x124_ivf_index_delete" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_del124")
      graft.ext.Similarity.saveIvfIndex(emb, "vec_id", "embedding",
        idx, kCentroids = 8, iters = 2)
      graft.ext.Similarity.deleteFromIvfIndex(s, idx,
        emb.filter(col("vec_id") % 3 === 1).select(col("vec_id")),
        "vec_id", "d1")
      graft.ext.Similarity.queryIvfIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // FILTERED hybrid retrieval (x131): both retriever legs restricted
    // by the SAME metadata predicate (en ⇔ id % 3 = 0 — the x129
    // mapping), then rank-fused: the filtered lexical list
    // (corpus-wide stats, candidates restricted) + the filtered
    // vector list (pre-filtered probed cells), RRF in fixed leg order.
    "x131_hybrid_filtered_retrieval" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
      val bidx = sharedBm25Index(s, dir)
      val vidx = sharedIvfLangIndex(s, dir)
      graft.ext.Similarity.rrfFuseN(Seq(
        graft.ext.TextAnalysis.bm25IndexRankedListFiltered(s, bidx,
          Seq("hash", "join", "merge"), k = 10, queryId = 0L,
          allowedDocs = docs.filter(col("doc_id") % 3 === 0),
          idCol = "doc_id"),
        graft.ext.Similarity.queryIvfIndexFiltered(s, vidx, q0,
          "vec_id", "embedding", k = 5,
          predicate = col("lang") === "en", nprobe = 2)),
        k = 10)
    },

    // COORDINATED cross-index snapshots (x176): the hybrid stack's two
    // independently-versioned indexes served as one atomically-pinned
    // pair. The gate takes a serve MID-dual-append — the lexical half
    // of batch b1 has landed (its index is at v2), the vector half has
    // not — and the pinned serve must return the FROZEN pre-append
    // pair on BOTH legs (pin v1): a leg resolved independently would
    // fuse the new corpus's BM25 stats with the old vector list. Then
    // the dual append completes (the bm25 half replays as a no-op on
    // its applied record), pin v2 lands, and the same serve returns
    // the full-corpus pair. Both serves ship in one output, keyed by
    // pin_version; the oracle rebuilds pin 1 from the <400 subset and
    // pin 2 as x76's subset-trained/full-corpus append semantics.
    "x176_hybrid_pinned_snapshot" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
      val base = scratchDir("hybridpin176")
      val bidx = base + "/bm25"
      val vidx = base + "/ivf"
      val pins = base + "/pins"
      Concurrently.both(
        graft.ext.TextAnalysis.saveBm25Index(
          docs.filter(col("doc_id") < 400), "doc_id", "text", bidx),
        graft.ext.Similarity.saveIvfIndex(
          emb.filter(col("vec_id") < 400), "vec_id", "embedding", vidx,
          kCentroids = 8, iters = 2))
      val pin1 = graft.ext.Hybrid.commitPin(s, pins, bidx, vidx)
      // the torn window: lexical append lands first …
      graft.ext.TextAnalysis.appendToBm25Index(s, bidx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text", "b1")
      val mid = graft.ext.Hybrid.servePinned(s, pins, bidx,
        Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
        "embedding", kLex = 10, kVec = 5, k = 10)
      // … the dual applier completes the batch and pins the new pair
      val pin2 = graft.ext.Hybrid.dualAppend(s, pins, bidx,
        docs.filter(col("doc_id") >= 400), "doc_id", "text", vidx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      val post = graft.ext.Hybrid.servePinned(s, pins, bidx,
        Seq("hash", "join", "merge"), 0L, vidx, q0, "vec_id",
        "embedding", kLex = 10, kVec = 5, k = 10,
        pinVersion = Some(pin2.version))
      mid.withColumn("pin_version", lit(pin1.version))
        .unionByName(post.withColumn("pin_version", lit(pin2.version)))
    },

    // FILTERED vector search (x129): metadata columns live IN the
    // index (saveIvfIndex(metaCols)), appends infer them from the
    // stored schema, and the serve PRE-filters the probed cells — k
    // 'en' survivors per query, never a post-filtered short list.
    // Oracle: x76's appended-index serve with candidates restricted
    // to the predicate's ids.
    "x129_ivf_filtered_topk" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val withMeta = emb.withColumn("lang",
        when(col("vec_id") % 3 === 0, "en")
          .when(col("vec_id") % 3 === 1, "fr").otherwise("de"))
      val idx = scratchDir("ivf_filt129")
      graft.ext.Similarity.saveIvfIndex(
        withMeta.filter(col("vec_id") < 400), "vec_id", "embedding",
        idx, kCentroids = 8, iters = 2, metaCols = Seq("lang"))
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        withMeta.filter(col("vec_id") >= 400), "vec_id", "embedding",
        "b1")
      graft.ext.Similarity.queryIvfIndexFiltered(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
        predicate = col("lang") === "en", nprobe = 2)
    },

    // index observability (x135): one metadata-cost row over the live
    // snapshot after a save + append + delete — statistics net the
    // corrections (live corpus numbers), vocab counts net-live terms,
    // n_segments is the serve fan-out, n_tombstones the compact-soon
    // signal. version/segment counts are protocol literals.
    "x135_bm25_index_stats" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_stats135")
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      graft.ext.TextAnalysis.appendToBm25Index(s, idx,
        docs.filter(col("doc_id") >= 250), "doc_id", "text", "b1")
      graft.ext.TextAnalysis.deleteFromBm25Index(s, idx,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        "doc_id", "d1")
      graft.ext.TextAnalysis.bm25IndexStats(s, idx)
    },

    // index CLONE / backup-restore (x133): deep-copy the pinned
    // pre-append snapshot to a fresh location — the clone must serve
    // exactly that snapshot (x110's as-of oracle) while being fully
    // independent of the source's later life.
    "x133_bm25_index_clone" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_cl133")
      val dst = scratchDir("bm25_cl133_dst") + "/clone"
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      val v = graft.ext.TextAnalysis.bm25IndexVersion(s, idx)
      graft.ext.TextAnalysis.appendToBm25Index(s, idx,
        docs.filter(col("doc_id") >= 250), "doc_id", "text", "b1")
      graft.ext.TextAnalysis.cloneBm25Index(s, idx, dst, Some(v))
      graft.ext.TextAnalysis.queryBm25Index(s, dst,
        Seq("hash", "join", "merge"), k = 10)
    },

    // the vector-index clone (x134): x112's pinned snapshot, restored
    // at a fresh path and served from there.
    "x134_ivf_index_clone" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_cl134")
      val dst = scratchDir("ivf_cl134_dst") + "/clone"
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      val v = graft.ext.Similarity.ivfIndexVersion(s, idx)
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Similarity.cloneIvfIndex(s, idx, dst, Some(v))
      graft.ext.Similarity.queryIvfIndex(s, dst,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // IVF time travel (x112): the vector-index half of x110 — pin the
    // pre-append manifest version, append, then serve AS OF the
    // pinned version. The as-of read pairs that snapshot's centroid
    // generation with that snapshot's corpus (one manifest resolves
    // both), so the appended vectors must be invisible and the answer
    // is exactly the subset index's serve (x76's setup, pre-append).
    "x112_ivf_time_travel" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_tt112")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      val v = graft.ext.Similarity.ivfIndexVersion(s, idx)
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Similarity.queryIvfIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2, asOfVersion = Some(v))
    },

    // IVFPQ compaction (x154): subset-trained base + frozen-generation
    // append folded into one codes segment — the ADC serve must equal
    // the subset-trained payloads over everything (x116's oracle, the
    // append-convergence contract surviving physical re-layout).
    "x154_ivfpq_index_compact" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivfpq_compact154")
      graft.ext.Similarity.saveIvfPqIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, coarseIters = 2, m = 4, ks = 8, pqIters = 2)
      graft.ext.Similarity.appendToIvfPqIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Similarity.compactIvfPqIndex(s, idx)
      graft.ext.Similarity.queryIvfPqIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // IVFPQ time travel (x149): x112 on the CODES layout — the as-of
    // read pins the pre-append manifest, so it serves subset-trained
    // centroids + codebooks over the subset corpus only (the appended
    // codes are invisible to the retained snapshot). The version
    // handle is the same manifest protocol every index shares.
    "x149_ivfpq_time_travel" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivfpq_tt149")
      graft.ext.Similarity.saveIvfPqIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, coarseIters = 2, m = 4, ks = 8, pqIters = 2)
      val v = graft.ext.Similarity.ivfIndexVersion(s, idx)
      graft.ext.Similarity.appendToIvfPqIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Similarity.queryIvfPqIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2, asOfVersion = Some(v))
    },

    // COMBINED as-of + filtered IVFPQ serve (x181): x149's manifest
    // pin and x145's metadata pre-filter COMPOSED in one serve — the
    // retained snapshot's corpus (appends invisible) intersected with
    // the predicate's candidates (lang = 'en'), metadata carried by
    // the pinned segments themselves. Oracle = the subset-trained PQ
    // replay with BOTH candidate bars (vec_id < 400 AND % 3 = 0).
    "x181_ivfpq_asof_filtered" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val withMeta = emb.withColumn("lang",
        when(col("vec_id") % 3 === 0, "en")
          .when(col("vec_id") % 3 === 1, "fr").otherwise("de"))
      val idx = scratchDir("ivfpq_af181")
      graft.ext.Similarity.saveIvfPqIndex(
        withMeta.filter(col("vec_id") < 400), "vec_id", "embedding",
        idx, kCentroids = 8, coarseIters = 2, m = 4, ks = 8,
        pqIters = 2, metaCols = Seq("lang"))
      val v = graft.ext.Similarity.ivfIndexVersion(s, idx)
      graft.ext.Similarity.appendToIvfPqIndex(s, idx,
        withMeta.filter(col("vec_id") >= 400), "vec_id", "embedding",
        "b1")
      graft.ext.Similarity.queryIvfPqIndexFiltered(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
        predicate = col("lang") === "en", nprobe = 2,
        asOfVersion = Some(v))
    },

    // pre-ingest BM25 drift gate (x106): doc-frequency drift between a
    // persisted index and an incoming batch, index side read straight
    // from the additive termstats segments — no indexed-corpus
    // re-tokenization; x75's smoothed likelihood-ratio on df. The
    // "should this batch ingest" check that runs BEFORE the append.
    "x106_bm25_append_drift" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_drift106")
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      graft.ext.TextAnalysis.bm25AppendDrift(s, idx,
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        minCount = 3, topN = 30)
    },

    // IVF retrain-in-place (x108): the action x105's signal calls for
    // — subset-trained index + frozen-centroid append, then retrain on
    // the LIVE corpus re-buckets everything under fresh centroids in
    // one manifest commit (readers never mix generations). With the
    // same (k, iters) the result serves exactly what full-corpus
    // training serves — x67/x71's oracle verbatim.
    "x108_ivf_retrain_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_index108")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Similarity.retrainIvfIndex(s, idx, kCentroids = 8,
        iters = 2)
      graft.ext.Similarity.queryIvfIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // IVF cell-occupancy monitoring (x105): the retrain trigger for
    // the frozen-centroid append lifecycle — per-cell counts and
    // fractions over the live snapshot (base + appended segments).
    // Rising max(frac) = probe cost degrading = retrain. Oracle
    // re-assigns the full corpus against the subset-trained centroids
    // and counts per cell.
    "x105_ivf_cell_stats" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_index105")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", "b1")
      graft.ext.Similarity.ivfCellStats(s, idx)
    },

    // refined kNN graph served from the persisted IVF index (x104):
    // x103's answer from a cold saveIvfIndex reload — seed graph AND
    // re-rank vectors both come off the index, so refinement joins the
    // train-once/serve-many family (x71/x89/x93's pattern).
    "x104_knn_refined_index_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_index104")
      graft.ext.Similarity.saveIvfIndex(emb, "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.knnGraphRefinedFromIndex(s, idx, k = 3,
        nprobe = 2)
    },

    // embedding clustering served from the persisted IVF index (x94):
    // x92's components with the candidate generation swapped to the
    // index — per-call cost drops to probe joins + star-CC, training
    // amortized across every serve.
    "x94_mutual_knn_index_serve" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_index94")
      graft.ext.Similarity.saveIvfIndex(emb, "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.mutualKnnClustersFromIndex(s, idx,
        k = 3, nprobe = 2)
    },

    // hybrid retrieval (x85): BM25 lexical list + exact-cosine + sign-
    // LSH vector lists for the same query, fused by N-way reciprocal
    // rank — the production hybrid-search shape x78+x80 imply.
    // documents.doc_id and embeddings.vec_id share the id space.
    "x85_hybrid_retrieval" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
      graft.ext.Similarity.rrfFuseN(Seq(
        graft.ext.TextAnalysis.bm25RankedList(docs, "doc_id", "text",
          Seq("hash", "join", "merge"), k = 10, queryId = 0L),
        graft.ext.Similarity.bruteForceTopK(emb, q0, "vec_id",
          "embedding", k = 5),
        graft.ext.Similarity.ivfTopK(emb, q0, "vec_id", "embedding",
          k = 5)),
        k = 10)
    },

    // persisted-postings BM25 (x89): build the inverted file once
    // (saveBm25Index), serve x80's exact answer from it — the serve
    // plan reads the query terms' postings + a 1-row stats table, never
    // re-tokenizing the corpus (x80 recomputes corpus stats per call;
    // at 100 TB that is a rebuild-per-query serving path).
    "x89_bm25_index_topk" -> { (s, dir) =>
      val idx = scratchDir("bm25idx")
      graft.ext.TextAnalysis.saveBm25Index(
        T(s, dir, "documents"), "doc_id", "text", idx)
      graft.ext.TextAnalysis.queryBm25Index(s, idx,
        Seq("hash", "join", "merge"), k = 10)
    },

    // hybrid retrieval served from the persisted index (x90): x85's
    // fusion with its lexical leg swapped to the postings index — the
    // BM25 corpus-stat rebuild disappears from the serve plan while the
    // fused answer must stay byte-identical (same oracle as x85).
    "x90_hybrid_index_retrieval" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
      val idx = scratchDir("bm25idx90")
      graft.ext.TextAnalysis.saveBm25Index(docs, "doc_id", "text", idx)
      graft.ext.Similarity.rrfFuseN(Seq(
        graft.ext.TextAnalysis.bm25IndexRankedList(s, idx,
          Seq("hash", "join", "merge"), k = 10, queryId = 0L),
        graft.ext.Similarity.bruteForceTopK(emb, q0, "vec_id",
          "embedding", k = 5),
        graft.ext.Similarity.ivfTopK(emb, q0, "vec_id", "embedding",
          k = 5)),
        k = 10)
    },

    // native image-header decode: spec-layout PNG/GIF/JPEG headers built
    // from the id by pure expressions, parsed back by the magic-bytes
    // Expression — build∘parse must be the identity the oracle computes
    // directly from doc_id.
    "x68_image_header_meta" -> ((s, dir) =>
      graft.ext.Multimodal.imageMeta(
        graft.ext.Multimodal.withImageHeaderPayload(
          T(s, dir, "documents"), "doc_id"), "doc_id")),

    // corpus-self bigram-LM scoring: the perplexity-proxy quality
    // signal — x55's counts re-joined onto each doc's own bigrams.
    "x69_lm_doc_score" -> ((s, dir) =>
      graft.ext.TextAnalysis.lmDocScore(
        T(s, dir, "documents"), "doc_id", "text")),

    // term-distribution drift between two corpus snapshots (x75):
    // even/odd doc_id halves stand in for old/new crawls; top movers
    // by smoothed rational odds ratio (no logs — the x40 bit-stability
    // rule), totals folded in-plan as a 1-row broadcast.
    "x75_term_drift" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      graft.ext.TextAnalysis.termDrift(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "text", minCount = 3L, topN = 30)
    },

    // IVF index append lifecycle (x76): train+save on the first 400
    // vectors, APPEND the rest against the frozen centroids (no
    // retrain — only touched cell directories grow), serve. The oracle
    // trains Lloyd's on the subset but assigns/scans the FULL corpus —
    // exactly what the appended index must answer.
    "x76_ivf_index_append" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_append")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding",
        batchId = "b1")
      graft.ext.Similarity.queryIvfIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // IVF index compaction (x99): append lifecycle + COMPACT — the
    // per-batch partition trees fold back into one batch=base level
    // (staged swap; applied-batch markers survive so late retries of
    // folded batches still no-op). Values must be untouched: same
    // oracle as x76.
    "x99_ivf_index_compact" -> { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val idx = scratchDir("ivf_compact")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", idx,
        kCentroids = 8, iters = 2)
      graft.ext.Similarity.appendToIvfIndex(s, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding",
        batchId = "b1")
      graft.ext.Similarity.compactIvfIndex(s, idx)
      graft.ext.Similarity.queryIvfIndex(s, idx,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // BM25 index compaction (x100): the delta postings directories fold
    // into one term-sorted file set, restoring single-row-group-per-
    // term pruning; statistics untouched. Same full-corpus oracle as
    // x80/x89/x97.
    "x100_bm25_index_compact" -> { (s, dir) =>
      val docs = T(s, dir, "documents")
      val idx = scratchDir("bm25_compact")
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 250), "doc_id", "text", idx)
      graft.ext.TextAnalysis.appendToBm25Index(s, idx,
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        batchId = "b1")
      graft.ext.TextAnalysis.compactBm25Index(s, idx)
      graft.ext.TextAnalysis.queryBm25Index(s, idx,
        Seq("hash", "join", "merge"), k = 10)
    },

    // REAL image decode round-trip (x101): full PNG files encoded per
    // doc_id (javax.imageio writer — zlib IDAT, CRCs), then decoded
    // back through the real codec; width/height/Σ(R+G+B) must equal
    // the closed form the oracle computes straight from doc_id. The
    // x68 build∘parse identity, now through actual pixel decode
    // instead of header parsing.
    "x101_image_decode_roundtrip" -> { (s, dir) =>
      graft.ext.Multimodal.imagePixelStats(s,
        graft.ext.Multimodal.withPngPayload(s,
          T(s, dir, "documents"), "doc_id"), "doc_id")
    },

    // REAL multi-frame decode (x113): animated GIFs — the JDK sequence
    // writer encodes 2-4 grayscale frames per doc, the frame-iterating
    // reader decodes them back, and every (frame_idx, width, height,
    // ΣRGB) row matches the doc_id closed form (x101's identity, per
    // frame). This retires the "multi-frame containers are stubbed"
    // gap for every container the JDK can read; video stays the
    // documented stub.
    "x113_gif_frames" -> { (s, dir) =>
      graft.ext.Multimodal.frameStats(s,
        graft.ext.Multimodal.withGifPayload(s,
          T(s, dir, "documents"), "doc_id"), "doc_id")
    },

    // REAL pixel resize round-trip (x107): decode the per-id PNG with
    // the actual codec, nearest-neighbor downscale to 4x2 on the
    // integer index map src=(dst*srcDim)/dstDim, and sum the sampled
    // RGB — the x101 build∘decode identity extended through a real
    // pixel transform; the oracle computes the sampled grid straight
    // from doc_id without touching bytes.
    "x107_image_resize_stats" -> { (s, dir) =>
      graft.ext.Multimodal.imageResizeStats(s,
        graft.ext.Multimodal.withPngPayload(s,
          T(s, dir, "documents"), "doc_id"), "doc_id",
        dstW = 4, dstH = 2)
    },

    // streaming IVF index maintenance (x98): x76's append lifecycle
    // driven by a micro-batch stream — each batch lands as its own
    // corpus segment under a content-derived id and the manifest's
    // applied record makes replays no-ops, so the served answer must
    // equal the one-shot append's (same oracle as x76: subset-trained
    // centroids, full-corpus inverted file).
    "x98_stream_ivf_maintain" -> { (s, dir) =>
      val base = scratchDir("streamivf")
      val emb = T(s, dir, "embeddings")
      graft.ext.Similarity.saveIvfIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding",
        base + "/idx", kCentroids = 8, iters = 2)
      emb.filter(col("vec_id") >= 400)
        .repartitionByRange(3, col("vec_id"))
        .write.mode("overwrite").parquet(base + "/newvecs")
      val schema = s.read.parquet(base + "/newvecs").schema
      val q = graft.streaming.StreamIndex.ivfAppendWriter(s,
          base + "/newvecs", schema, base + "/idx", "vec_id",
          "embedding")
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.Similarity.queryIvfIndex(s, base + "/idx",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 2)
    },

    // streaming maintenance WITH inline auto-compaction (x102): x97's
    // loop, but any micro-batch that leaves more than compactEvery=2
    // live segments triggers compact+vacuum on the stream's own
    // thread — the segment count a serve pays is bounded by the
    // threshold instead of growing with stream lifetime, and replayed
    // appends of folded batches still no-op (StreamIndexSpec pins the
    // bound; this gate pins the answer — same full-corpus oracle as
    // x80/x89/x97/x100).
    "x102_stream_bm25_autocompact" -> { (s, dir) =>
      val base = scratchDir("streambm25ac")
      val docs = T(s, dir, "documents")
      graft.ext.TextAnalysis.saveBm25Index(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        base + "/idx")
      docs.filter(col("doc_id") >= 250)
        .repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(base + "/newdocs")
      val schema = s.read.parquet(base + "/newdocs").schema
      val q = graft.streaming.StreamIndex.bm25AppendWriter(s,
          base + "/newdocs", schema, base + "/idx", "doc_id", "text",
          compactEvery = 2)
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
      graft.ext.TextAnalysis.queryBm25Index(s, base + "/idx",
        Seq("hash", "join", "merge"), k = 10)
    },

    // bigram LM statistics: top-50 bigrams with P(w2|w1) — integer
    // counts, one hash agg, vocabulary-partitioned denominator window.
    "x55_bigram_lm" -> ((s, dir) =>
      graft.ext.TextAnalysis.bigramStats(
        T(s, dir, "documents"), "text", k = 50)),

    // character-entropy quality proxy (bits/char): distributional
    // degenerate-text signal next to x28's repetition ratio.
    "x56_char_entropy" -> ((s, dir) =>
      graft.ext.TextAnalysis.charEntropy(
        T(s, dir, "documents"), "doc_id", "text")),

    // in-batch negative sampling for contrastive training: hash-bucket
    // "batches", md5-ring successors, same-source neighbors rejected.
    "x57_inbatch_negatives" -> ((s, dir) =>
      graft.ext.Corpus.inBatchNegatives(
        T(s, dir, "documents"), "doc_id", "source", k = 3, buckets = 8)),

    // fixed-weight logistic quality scoring: model inference as a pure
    // codegen projection over the x09 signals — no UDF, no model server.
    "x58_quality_classifier" -> ((s, dir) =>
      graft.ext.TextAnalysis.qualityLogit(T(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
          "quality_prob")),

    // dataset-card summary: the one-row corpus profile (docs, tokens,
    // languages, sources, exact-dup count via digest distinct) a
    // training-data release ships with. All-integer → engine-exact.
    "x59_corpus_card" -> ((s, dir) =>
      T(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(graft.ext.TextAnalysis.tokenCount(col("text")))
          .as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        (count(lit(1)) -
          countDistinct(graft.ext.Corpus.digest(col("text"))))
          .as("n_exact_dups"))),

    // stream-stream interval join: view→click attribution within 2h,
    // run as a real watermarked stream; inner-join output set is
    // arrival-order independent → oracle = the same join in batch SQL
    // (compared at microsecond precision, matching the engine's ts).
    "x39_stream_interval_join" -> { (s, dir) =>
      val base = scratchDir("streamjoin")
      val views = graft.streaming.EventStream
        .readEvents(s, dir + "/events*.parquet")
      val clicks = graft.streaming.EventStream
        .readEvents(s, dir + "/events*.parquet")
      val joined = graft.streaming.StreamJoin.intervalJoin(
        views, clicks, "view", "click",
        horizon = "2 hours", lateness = "3 hours")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.StreamDedup
          .appendWriter(joined, base + "/pairs")
          .option("checkpointLocation", base + "/ckpt").start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(base + "/pairs")
        .select("left_id", "right_id", "user_id", "lag_us")
    },

    // stream-static enrichment: event stream joined to the customer
    // dimension (broadcast per micro-batch, stateless) — inner join ⇒
    // arrival-order independent ⇒ oracle = the batch join.
    "x48_stream_enrich" -> { (s, dir) =>
      val base = scratchDir("streamenrich")
      val events = graft.streaming.EventStream
        .readEvents(s, dir + "/events*.parquet")
      val dim = graft.sources.Tables.load(s, dir, "customer")
      val enriched = graft.streaming.StreamJoin.enrich(
          events, dim, "user_id", "c_custkey",
          Seq("c_name", "c_mktsegment"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_name"), col("c_mktsegment"))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.StreamDedup
          .appendWriter(enriched, base + "/rows")
          .option("checkpointLocation", base + "/ckpt").start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(base + "/rows")
        .select("event_id", "user_id", "event_type", "c_name",
          "c_mktsegment")
    },

    // LEFT-OUTER stream-stream interval join: unmatched views emit with
    // null click once the watermark passes their deadline. Bounded replay
    // needs the watermark pushed past every real deadline, so two
    // sentinel batches (filtered back out by user_id < 0) are staged
    // after the data; batch sequencing rides on file mtimes like x25.
    "x42_stream_outer_join" -> { (s, dir) =>
      val base = scratchDir("streamouter")
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
      val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      // deadline of the latest view = max_ts + 2h; watermark after the
      // sentinel batch = s_ts - 3h, so s1 > max_ts + 5h flushes all
      def sentinel(tag: Long, usOffset: Long): DataFrame =
        s.range(2).select(
          (lit(-100L) - col("id") - lit(tag * 10L)).as("event_id"),
          lit(-1L).as("user_id"),
          when(col("id") === 0L, "view").otherwise("click")
            .as("event_type"),
          timestamp_micros(lit(maxTs + usOffset)).as("ts"))
      val now = System.currentTimeMillis()
      val hourUs = 3600L * 1000000L
      stageBatchFile(ev, base, "b1", now - 180000L)
      stageBatchFile(sentinel(1L, 6L * hourUs), base, "b2", now - 120000L)
      stageBatchFile(sentinel(2L, 7L * hourUs), base, "b3", now - 60000L)
      def src() = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/in")
      val joined = graft.streaming.StreamJoin.intervalJoin(
        src(), src(), "view", "click",
        horizon = "2 hours", lateness = "3 hours",
        joinType = "leftOuter")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.StreamDedup
          .appendWriter(joined, base + "/pairs")
          .option("checkpointLocation", base + "/ckpt").start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(base + "/pairs")
        .filter(col("user_id") >= 0L)
        .select("left_id", "right_id", "user_id", "lag_us")
    },

    // stateful streaming sessionization (flatMapGroupsWithState) run as
    // a REAL watermarked stream: all events in batch 1, then two
    // far-future sentinel batches (filtered back out) push the watermark
    // past every session deadline so event-time timeouts flush the open
    // sessions. Session set is arrival-order independent → oracle = the
    // batch gaps-and-islands formulation (q14's, in epoch seconds).
    "x62_stream_sessionize" -> { (s, dir) =>
      val base = scratchDir("streamsess")
      val ev = T(s, dir, "events").select(col("user_id"), col("ts"))
      val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      def sentinel(usOffset: Long): DataFrame =
        s.range(1).select(lit(-1L).as("user_id"),
          timestamp_micros(lit(maxTs + usOffset)).as("ts"))
      val now = System.currentTimeMillis()
      val hourUs = 3600L * 1000000L
      stageBatchFile(ev, base, "b1", now - 180000L)
      stageBatchFile(sentinel(10L * hourUs), base, "b2", now - 120000L)
      stageBatchFile(sentinel(11L * hourUs), base, "b3", now - 60000L)
      val src = s.readStream
        .schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/in")
      val sess = graft.streaming.StreamSessionize
        .sessions(src, gapSeconds = 1800L, lateness = "30 minutes")
        .toDF()
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.StreamDedup
          .appendWriter(sess, base + "/sessions")
          .option("checkpointLocation", base + "/ckpt").start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(base + "/sessions")
        .filter(col("user_id") >= 0L)
        .select("user_id", "session_start", "session_end",
          "duration_sec", "n_events")
    },

    "x25_stream_horizon_dedup" -> { (s, dir) =>
      val base = scratchDir("streamhorizon")
      val keys = T(s, dir, "events").select("user_id", "event_type")
        .distinct()
      val t0 = 1717200000L // 2024-06-01 00:00:00 UTC
      def sentinel(id: Long, tag: String): DataFrame =
        s.range(1).select(lit(id).as("user_id"), lit(tag).as("event_type"),
          timestamp_seconds(lit(t0 + 36000L)).as("ts"))
      val b1 = keys.withColumn("ts", timestamp_seconds(lit(t0)))
      val b2 = sentinel(-1L, "wm")
      val b3 = sentinel(-2L, "wm2")
      val b4 = keys.union(keys)
        .withColumn("ts", timestamp_seconds(lit(t0 + 36000L)))
      val now = System.currentTimeMillis()
      stageBatchFile(b1, base, "b1", now - 240000L)
      stageBatchFile(b2, base, "b2", now - 180000L)
      stageBatchFile(b3, base, "b3", now - 120000L)
      stageBatchFile(b4, base, "b4", now - 60000L)
      val src = s.readStream
        .schema("user_id BIGINT, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/in")
      val admitted = graft.streaming.StreamDedup
        .horizonDedup(src, Seq("user_id", "event_type"), lateness = "1 hour")
        .select("user_id", "event_type")
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.StreamDedup
          .appendWriter(admitted, base + "/keys")
          .option("checkpointLocation", base + "/ckpt").start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(base + "/keys").select("user_id", "event_type")
    })

  // ------------------------------------------------------------ oracle SQL

  /** Shared SQL fragments for the Meta-fixture derivation (must stay in
    * lockstep with [[graft.sources.MetaFixtures]]). */
  private val adCols =
    """'ad_'||user_id AS ad_id, 'as_'||(user_id%7) AS adset_id,
       'c_'||(user_id%3) AS campaign_id"""

  /** q44's one-shot CDC-apply oracle — shared with `x79_stream_cdc
    * _apply`: replaying the change set incrementally (one batch per
    * file, deletes included) must land the same table as the one-shot
    * apply, i.e. the new snapshot itself. */
  private lazy val cdcOracleSql =
    """SELECT c_custkey,
              CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1.0
                   ELSE c_acctbal END AS c_acctbal
       FROM customer WHERE c_custkey % 7 <> 0"""

  /** E2's full-batch oracle — shared by `e2_performance` and
    * `x73_stream_e2_loop`: the streamed loop upserts per-pull batches
    * into the SAME final table the one-shot batch computes, so one SQL
    * gates both (that equivalence IS the reference's daily-rerun
    * contract). */
  private lazy val e2OracleSql =
    s"""WITH base AS (
          SELECT CAST(ts AS DATE) AS date_start, $adCols,
                 count(*) FILTER (WHERE event_type='view') AS n_view,
                 count(*) FILTER (WHERE event_type='click') AS n_click,
                 round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type='click') AS DOUBLE), 0), 2) AS spend,
                 count(*) FILTER (WHERE event_type='signup') AS n_signup
          FROM events GROUP BY 1,2,3,4)
        SELECT strftime(date_start, '%Y-%m-%d') AS date_start,
               ad_id, adset_id, campaign_id,
               n_view AS total_impressions, n_click AS total_clicks,
               spend AS total_spend, n_signup AS total_leads,
               CAST(0 AS BIGINT) AS total_successes,
               round(CASE WHEN n_click=0 THEN 0 ELSE spend/n_click END, 6) AS cpc,
               round(CASE WHEN n_view=0 THEN 0 ELSE n_click*1.0/n_view END, 6) AS ctr,
               round(CASE WHEN n_signup=0 THEN 0 ELSE spend/n_signup END, 6) AS cpl
        FROM base"""

  def oracleSql: Map[String, String] = coreOracles ++ extOracles

  private def coreOracles: Map[String, String] = Map(
    "e1_dimension" ->
      s"""WITH raw AS (
            SELECT 'ad_'||user_id AS ad_id,
                   'ad '||user_id||' v'||(event_id%3) AS ad_name,
                   'as_'||(user_id%7) AS adset_id,
                   'adset '||(user_id%7) AS adset_name,
                   'c_'||(user_id%3) AS campaign_id,
                   'campaign '||(user_id%3) AS campaign_name,
                   event_id,
                   CASE event_type WHEN 'error' THEN 'DISAPPROVED'
                        WHEN 'click' THEN 'PAUSED'
                        WHEN 'signup' THEN 'PENDING_REVIEW'
                        ELSE 'ACTIVE' END AS status
            FROM events),
          f AS (
            SELECT *, row_number() OVER
              (PARTITION BY ad_id ORDER BY event_id DESC) AS rn
            FROM raw
            WHERE status IN ('ACTIVE','PAUSED','PENDING_REVIEW'))
          SELECT ad_id, ad_name, adset_id, adset_name, campaign_id,
                 campaign_name
          FROM f WHERE rn = 1""",

    "e2_performance" -> e2OracleSql,

    "e3_leads" ->
      s"""WITH demo AS (
            SELECT CAST(ts AS DATE) AS date_start, $adCols,
                   CASE event_id%4 WHEN 0 THEN '18-24' WHEN 1 THEN '25-34'
                        WHEN 2 THEN '35-44' ELSE '45+' END AS age,
                   CASE event_id%2 WHEN 0 THEN 'male' ELSE 'female' END AS gender,
                   round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type='click') AS DOUBLE), 0), 2) AS spend,
                   count(*) FILTER (WHERE event_type='signup') AS leads,
                   count(*) FILTER (WHERE event_type='purchase') AS n_purchase,
                   count(*) FILTER (WHERE event_type='error') AS n_error
            FROM events WHERE event_type <> 'error'
            GROUP BY 1,2,3,4,5,6),
          geo AS (
            SELECT DISTINCT CAST(ts AS DATE) AS date_start, $adCols,
                   CASE event_id%3 WHEN 0 THEN 'north' WHEN 1 THEN 'south'
                        ELSE 'east' END AS region
            FROM events)
          SELECT strftime(coalesce(d.date_start, g.date_start), '%Y-%m-%d') AS date_start,
                 coalesce(d.ad_id, g.ad_id) AS ad_id,
                 coalesce(d.adset_id, g.adset_id) AS adset_id,
                 coalesce(d.campaign_id, g.campaign_id) AS campaign_id,
                 d.age AS age, d.gender AS gender, g.region AS region,
                 coalesce(d.spend, 0) AS total_spend,
                 coalesce(d.leads, 0) AS total_leads,
                 coalesce(d.n_purchase, 0) AS purchase,
                 coalesce(d.n_error, 0) AS offsite_conversion_fb_pixel_lead
          FROM demo d
          FULL OUTER JOIN geo g
            ON d.date_start=g.date_start AND d.ad_id=g.ad_id
           AND d.adset_id=g.adset_id AND d.campaign_id=g.campaign_id""",

    "e4_raw_leads" ->
      """SELECT 'lead_'||event_id AS lead_id,
                strftime(ts, '%Y-%m-%d') AS created_time,
                'ad_'||user_id AS ad_id,
                'c_'||(user_id%3) AS campaign_id,
                'as_'||(user_id%7) AS adset_id,
                'form_'||(user_id%5) AS form_id,
                props AS field_data,
                CAST(NULL AS VARCHAR) AS ad_platform_data
         FROM events WHERE event_type = 'signup'""",

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
                -- VARCHAR hop: DuckDB's decimal->double divides int128 by
                -- 10^scale in double space (double-rounds at 18 sig
                -- digits); parsing the decimal string is correctly rounded
                -- and matches Spark's BigDecimal.doubleValue
                CAST(CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS sum_charge,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)/count(*), 6) AS avg_qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)/count(*), 6) AS avg_price,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q31_bucketed_join" ->
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    // decimal sums mirror decQuantize; every later float step is one
    // correctly-rounded IEEE op, so z-scores hash-match bit-for-bit
    "q35_zscore_outliers" ->
      """WITH st AS (SELECT event_type, CAST(count(value) AS BIGINT) AS n,
                       sum(CAST(value AS DECIMAL(20,6))) AS s1,
                       sum(CAST(value*value AS DECIMAL(20,6))) AS s2
                     FROM events GROUP BY 1),
         m AS (SELECT event_type, n,
                 CAST(s1 AS DOUBLE)/n AS mu,
                 sqrt(greatest(CAST(s2 AS DOUBLE)/n -
                   (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n), 0))
                   AS sd
               FROM st)
         SELECT e.event_id, e.event_type,
                round((e.value - m.mu)/m.sd, 6) AS zscore
         FROM events e JOIN m USING (event_type)
         WHERE m.sd > 0 AND abs(round((e.value - m.mu)/m.sd, 6)) > 3""",

    "q34_snapshot_diff" ->
      """WITH o AS (SELECT c_custkey, c_acctbal FROM customer
                    WHERE c_custkey % 5 != 0),
         n AS (SELECT c_custkey,
                 CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1.0
                      ELSE c_acctbal END AS c_acctbal
               FROM customer WHERE c_custkey % 7 != 0)
         SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
                CASE WHEN o.c_custkey IS NULL THEN 'insert'
                     WHEN n.c_custkey IS NULL THEN 'delete'
                     ELSE 'update' END AS change_type
         FROM o FULL JOIN n ON o.c_custkey = n.c_custkey
         WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
            OR o.c_acctbal IS DISTINCT FROM n.c_acctbal""",

    // the direct full aggregation — deliberately NOT split/merged: a
    // lossy merge in the engine could not hash-match this
    "q33_incremental_agg" ->
      """SELECT user_id, event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                  AS sum_value,
                min(value) AS mn, max(value) AS mx
         FROM events GROUP BY 1, 2""",

    // all time math in exact integer microseconds (epoch_us) so stage
    // filters and minima match the engine's µs timestamps bit-for-bit
    "q32_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                    FROM events),
         u AS (SELECT DISTINCT user_id FROM e),
         s1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us
                FROM e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts_us >= s1.t1_us
                GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us
                FROM e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts_us >= s2.t2_us
                GROUP BY 1)
         SELECT u.user_id, t1_us, t2_us, t3_us,
                CAST(CASE WHEN t3_us IS NOT NULL THEN 3
                          WHEN t2_us IS NOT NULL THEN 2
                          WHEN t1_us IS NOT NULL THEN 1
                          ELSE 0 END AS BIGINT) AS stage
         FROM u LEFT JOIN s1 USING (user_id)
                LEFT JOIN s2 USING (user_id)
                LEFT JOIN s3 USING (user_id)""",

    "q36_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_qty,
                count(*) AS n_items
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())""",

    "q37_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
                CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_price,
                CAST(count(*) AS DOUBLE) AS n_items
              FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM a
         UNION ALL
         SELECT l_returnflag, 'n_items', n_items FROM a""",

    "q38_ntile_quartiles" ->
      """WITH t AS (SELECT c_nationkey, c_acctbal,
                CAST(c_acctbal AS DECIMAL(20,2)) AS bal_dec,
                ntile(4) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal, c_custkey) AS tile
              FROM customer)
         SELECT c_nationkey, CAST(tile AS INT) AS tile, count(*) AS n,
                min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
                CAST(sum(bal_dec) AS DOUBLE) AS sum_bal
         FROM t GROUP BY 1, 2""",

    "q39_set_ops" ->
      """SELECT o_custkey FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           AND o_orderdate < TIMESTAMP '1996-01-01'
         INTERSECT
         SELECT o_custkey FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'""",

    "q40_not_in_nullsafe" ->
      """WITH ev AS (SELECT event_type, value,
                CASE WHEN value < 1.0 THEN NULL ELSE user_id END AS uid_n
              FROM events)
         SELECT event_type, count(*) AS n
         FROM ev
         WHERE uid_n NOT IN (SELECT user_id FROM events
                             WHERE event_type = 'purchase'
                               AND value > 300.0)
         GROUP BY 1""",

    "q41_correlated_avg" ->
      """WITH thr AS (SELECT l_partkey,
                CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  / count(*) * 0.2 AS t
              FROM lineitem GROUP BY 1)
         SELECT p_brand,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
                  / 7.0 AS avg_yearly,
                count(*) AS n_items
         FROM lineitem
         JOIN thr USING (l_partkey)
         JOIN part ON p_partkey = l_partkey
         WHERE l_quantity < t
         GROUP BY 1""",

    "q42_range_frame" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
                  AS trailing_1h_sum,
                count(*) OVER w AS trailing_1h_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    "q43_window_count_distinct" ->
      """SELECT event_id, event_type, user_id,
                count(DISTINCT user_id)
                  OVER (PARTITION BY event_type) AS n_distinct_users
         FROM events""",

    // the roundtrip law: apply(old, diff(old,new)) == new, so the oracle
    // is the NEW snapshot's direct definition
    "q44_cdc_apply" -> cdcOracleSql,

    "q45_nullsafe_join" ->
      """WITH ky AS (SELECT event_id, event_type,
                CASE WHEN user_id % 89 = 0 THEN NULL
                     ELSE user_id % 89 END AS k
              FROM events),
         d AS (SELECT k AS dk, count(*) AS purchase_n FROM ky
               WHERE event_type = 'purchase' GROUP BY 1)
         SELECT e.event_id, e.k, d.purchase_n
         FROM ky e JOIN d ON e.k IS NOT DISTINCT FROM d.dk
         WHERE e.event_type = 'view'""",

    "q49_ratio_to_report" ->
      """WITH a AS (
           SELECT r_name, n_name,
                  sum(CAST(l_extendedprice*(1.0-l_discount)
                    AS DECIMAL(20,6))) AS rev_sum
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, n_name, CAST(rev_sum AS DOUBLE) AS revenue,
                round(CAST(rev_sum AS DOUBLE) /
                  CAST(sum(rev_sum) OVER (PARTITION BY r_name) AS DOUBLE),
                  6) AS region_share
         FROM a""",

    "q50_native_pivot" ->
      """SELECT o_orderstatus,
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
                CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2,
                CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3,
                CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4,
                CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5
         FROM orders GROUP BY 1""",

    "q46_fill_forward" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                last_value(CASE WHEN event_type = 'purchase' THEN value END
                           IGNORE NULLS)
                  OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS last_purchase_value
         FROM events""",

    "q47_cohort_retention" ->
      """WITH ed AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
         c AS (SELECT user_id, min(d) AS cohort_day FROM ed GROUP BY 1)
         SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                CAST(date_diff('day', cohort_day, d) AS BIGINT)
                  AS day_offset,
                count(DISTINCT ed.user_id) AS n_users
         FROM ed JOIN c USING (user_id)
         GROUP BY 1, 2""",

    "q48_linear_attribution" ->
      """WITH t AS (
           SELECT p.event_id AS purchase_id, v.event_id AS view_id,
                  p.value
           FROM events p JOIN events v
             ON p.user_id = v.user_id
            AND p.event_type = 'purchase' AND v.event_type = 'view'
            AND epoch_us(v.ts) >= epoch_us(p.ts) - 7200000000
            AND epoch_us(v.ts) <= epoch_us(p.ts)),
         n AS (SELECT purchase_id, view_id, value,
                 count(*) OVER (PARTITION BY purchase_id) AS n_touches
               FROM t)
         SELECT purchase_id, view_id, n_touches,
                round(value / n_touches, 6) AS credit
         FROM n""",

    "q02_region_revenue" ->
      """SELECT r_name, n_name,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",

    "q03_orders_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
                strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
         FROM orders
         WHERE o_orderstatus IN ('O','F')
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 10""",

    "q04_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         GROUP BY o_orderpriority""",

    "q05_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
                CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS sum_acctbal
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 400000.0)
         GROUP BY c_mktsegment""",

    "q06_keep_last" ->
      """SELECT user_id, event_id AS last_event_id,
                event_type AS last_event_type, value AS last_value
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1""",

    "q07_group_first" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS event_date,
                min_by(event_type, CASE WHEN event_type IS NOT NULL THEN event_id END) AS first_event_type,
                min_by(value, CASE WHEN value IS NOT NULL THEN event_id END) AS first_value
         FROM events
         GROUP BY user_id, strftime(ts, '%Y-%m-%d')""",

    "q08_union_conform" ->
      """SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS props
         FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value, props
         FROM events WHERE event_type = 'signup'""",

    "q09_window_topk" ->
      """SELECT p_brand, p_partkey, p_name, p_retailprice, rk
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY p_brand
                  ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
               FROM part)
         WHERE rk <= 2""",

    "q10_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*) AS n_events,
                round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 0), 2) AS sum_value
         FROM events
         GROUP BY 1, 2""",

    "q11_pivot_events" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date,
                count(*) FILTER (WHERE event_type='click') AS n_click,
                count(*) FILTER (WHERE event_type='view') AS n_view,
                count(*) FILTER (WHERE event_type='purchase') AS n_purchase,
                count(*) FILTER (WHERE event_type='signup') AS n_signup,
                count(*) FILTER (WHERE event_type='error') AS n_error,
                round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type='purchase') AS DOUBLE), 0), 2) AS purchase_value
         FROM events
         GROUP BY 1""",

    "q12_json_extract" ->
      """SELECT user_id,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS BIGINT) AS sum_k,
                count(*) AS n_events
         FROM events
         GROUP BY user_id""",

    "q13_asof_attribution" ->
      """WITH a AS (
           SELECT c.event_id, c.user_id, c.ts,
                  (SELECT v.event_id FROM events v
                   WHERE v.user_id = c.user_id AND v.event_type = 'view'
                     AND v.ts <= c.ts
                   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1)
                    AS attr_view_id
           FROM events c WHERE c.event_type = 'click')
         SELECT a.event_id, a.user_id,
                strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                a.attr_view_id,
                strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS attr_view_ts
         FROM a LEFT JOIN events v ON v.event_id = a.attr_view_id""",

    "q14_sessionize" ->
      """WITH e AS (
           SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events),
         g AS (
           SELECT user_id, ts, sec,
                  CASE WHEN lag(sec) OVER w IS NULL
                         OR sec - lag(sec) OVER w > 1800
                       THEN 1 ELSE 0 END AS ns
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts, sec,
                  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS session_seq
           FROM g)
         SELECT user_id, session_seq,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                max(sec) - min(sec) AS duration_sec,
                count(*) AS n_events
         FROM s GROUP BY user_id, session_seq""",

    "q15_distinct_counts" ->
      """SELECT event_type,
                count(DISTINCT user_id) AS n_users,
                count(DISTINCT CAST(ts AS DATE)) AS n_days,
                count(*) AS n_events
         FROM events GROUP BY event_type""",

    "q16_salted_join" ->
      """SELECT 'ad_'||user_id AS ad_id, count(*) AS n_events
         FROM events GROUP BY user_id""",

    "q17_dsv2_dimension" ->
      """WITH raw AS (
           SELECT 'ad_'||(i%150) AS ad_id,
                  'ad '||(i%150)||' v'||(i%3) AS ad_name,
                  'as_'||((i%150)%7) AS adset_id,
                  'adset '||((i%150)%7) AS adset_name,
                  'c_'||((i%150)%3) AS campaign_id,
                  'campaign '||((i%150)%3) AS campaign_name,
                  i AS ingest_order,
                  CASE i%4 WHEN 0 THEN 'ACTIVE' WHEN 1 THEN 'PAUSED'
                       WHEN 2 THEN 'PENDING_REVIEW'
                       ELSE 'DISAPPROVED' END AS status
           FROM range(0, 5000) t(i)),
         f AS (
           SELECT *, row_number() OVER
             (PARTITION BY ad_id ORDER BY ingest_order DESC) AS rn
           FROM raw
           WHERE status IN ('ACTIVE','PAUSED','PENDING_REVIEW'))
         SELECT ad_id, ad_name, adset_id, adset_name, campaign_id,
                campaign_name
         FROM f WHERE rn = 1""",

    "q27_sliding_window" ->
      """WITH c AS (
           SELECT event_type, value,
                  unnest([time_bucket(INTERVAL '30 minutes', ts),
                          time_bucket(INTERVAL '30 minutes', ts)
                            - INTERVAL '30 minutes']) AS ws
           FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*) AS n_events,
                round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 0), 2) AS sum_value
         FROM c
         GROUP BY 1, 2""",

    "q28_dsv2_limit" ->
      """SELECT 'ad_'||(i%150) AS id,
                'ad '||(i%150)||' v'||(i%3) AS name,
                CASE i%4 WHEN 0 THEN 'ACTIVE' WHEN 1 THEN 'PAUSED'
                     WHEN 2 THEN 'PENDING_REVIEW'
                     ELSE 'DISAPPROVED' END AS effective_status,
                i AS _ingest_order
         FROM range(0, 7) t(i)""",

    "q29_dsv2_topn" ->
      """SELECT 'ad_'||(i%150) AS id,
                'ad '||(i%150)||' v'||(i%3) AS name,
                CASE i%4 WHEN 0 THEN 'ACTIVE' WHEN 1 THEN 'PAUSED'
                     WHEN 2 THEN 'PENDING_REVIEW'
                     ELSE 'DISAPPROVED' END AS effective_status,
                i AS _ingest_order
         FROM range(4995, 5000) t(i)""",

    "q19_upsert_merge" ->
      """WITH o AS (
           SELECT CAST(ts AS DATE) AS d, user_id, count(*) AS n_events,
                  round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 0), 2) AS sum_value
           FROM events
           WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
             AND event_type <> 'purchase'
           GROUP BY 1, 2),
         n AS (
           SELECT CAST(ts AS DATE) AS d, user_id, count(*) AS n_events,
                  round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 0), 2) AS sum_value
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           GROUP BY 1, 2),
         m AS (
           SELECT * FROM n
           UNION ALL
           SELECT o.* FROM o
           WHERE NOT EXISTS (SELECT 1 FROM n
                             WHERE n.d = o.d AND n.user_id = o.user_id))
         SELECT strftime(d, '%Y-%m-%d') AS event_date, user_id, n_events,
                sum_value
         FROM m""",

    "q20_stream_tumbling" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date_start,
                'ad_'||user_id AS ad_id,
                count(*) FILTER (WHERE event_type='view')
                  AS total_impressions,
                count(*) FILTER (WHERE event_type='click') AS total_clicks,
                round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type='click') AS DOUBLE), 0), 2) AS total_spend,
                count(*) FILTER (WHERE event_type='signup') AS total_leads
         FROM events
         GROUP BY 1, 2""",

    "q21_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_qty,
                count(*) AS n_items
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q22_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
                  AS gid,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_price
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    "q23_range_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
                count(*) AS n_clicks_1h,
                strftime(max(c.ts), '%Y-%m-%d %H:%M:%S') AS last_click_ts
         FROM events p
         JOIN events c
           ON c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         WHERE p.event_type = 'purchase'
         GROUP BY 1, 2""",

    "q24_percentiles" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.25), 6) AS p25,
                round(quantile_cont(value, 0.5), 6) AS p50,
                round(quantile_cont(value, 0.9), 6) AS p90,
                count(value) AS n_valued
         FROM events
         GROUP BY event_type""",

    "q25_running_total" ->
      """SELECT user_id, event_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                CAST(sum(CAST(floor(coalesce(value, 0)*100) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS running_cents,
                CAST(floor(epoch(ts)) AS BIGINT)
                  - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS gap_sec,
                lead(event_type, 1)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS next_type
         FROM events""",

    "q30_session_window" ->
      """WITH e AS (
           SELECT user_id, ts, epoch_us(ts) AS us FROM events),
         g AS (
           SELECT user_id, ts, us,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w >= 1800000000
                       THEN 1 ELSE 0 END AS ns
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts,
                  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS seq
           FROM g)
         SELECT user_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts) + INTERVAL '30 minutes',
                         '%Y-%m-%d %H:%M:%S') AS session_end,
                count(*) AS n_events
         FROM s GROUP BY user_id, seq""",

    "q26_scd2" ->
      """WITH c AS (
           SELECT user_id, event_type, ts, event_id,
                  lag(event_type, 1) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         runs AS (
           SELECT user_id, event_type, ts, event_id
           FROM c WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type,
                strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                strftime(lead(ts, 1) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id),
                  '%Y-%m-%d %H:%M:%S') AS valid_to,
                (lead(ts, 1) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
                  AS is_current
         FROM runs""",

    "q18_dsv2_pushagg" ->
      """WITH raw AS (
           SELECT 'ad_'||(i%150) AS id, i,
                  CASE i%4 WHEN 0 THEN 'ACTIVE' WHEN 1 THEN 'PAUSED'
                       WHEN 2 THEN 'PENDING_REVIEW'
                       ELSE 'DISAPPROVED' END AS status
           FROM range(0, 5000) t(i))
         SELECT status AS effective_status, count(*) AS n_ads,
                count(DISTINCT id) AS n_distinct_ads,
                min(i) AS first_ingest, max(i) AS last_ingest,
                CAST(sum(i) AS BIGINT) AS sum_ingest
         FROM raw WHERE status IN ('ACTIVE','PAUSED','PENDING_REVIEW')
         GROUP BY 1""")

  /** DuckDB oracles for the extension queries — including full SQL
    * recomputations of the x03 minhash and x04 simhash sketches (the
    * wrap-arithmetic scaffolding below); only the genuinely randomized-
    * merge sketches (x13 HLL, x24 approx-percentile) stay rows-only,
    * gated by SketchGatesSpec instead. The FP-bearing oracles force the
    * same sequential left-fold order as Spark's `aggregate` via
    * list_reduce over a 0-prepended list. */
  private def extOracles: Map[String, String] = {
    val dotProd =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_zip(a.e, b.e), p -> p[1]*p[2])),
           (acc, x) -> acc + x)"""
    def norm(t: String) =
      s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform($t.e, x -> x*x)), (acc, x) -> acc + x))"""
    val vecs =
      """SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
         FROM embeddings"""
    val cosPairExpr = s"round($dotProd / (${norm("a")} * ${norm("b")}), 6)"
    // x09's quality-signal derivation + score formula — defined ONCE and
    // shared by the x09/x32/x58/x63 oracles (same rule as
    // docNearDupPairs / pairClosureBase: a formula tweak cannot
    // desynchronize one gate from the others). `passthrough` carries
    // extra columns (", source").
    def qualityCteSignals(passthrough: String) =
      s"""qs AS (
             SELECT doc_id$passthrough,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
                 AS n_punct,
               CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                 x -> x IN ('the','a','of','and','to','in','is','it')))
                 AS BIGINT) AS n_stopwords
             FROM documents),
           qr AS (
             SELECT doc_id$passthrough, n_tokens, n_punct, n_stopwords,
               round(CASE WHEN n_chars = 0 THEN 0
                     ELSE n_punct*1.0/n_chars END, 6) AS punct_ratio,
               round(CASE WHEN n_tokens = 0 THEN 0
                     ELSE n_stopwords*1.0/n_tokens END, 6) AS stopword_ratio
             FROM qs)"""
    val qualityScoreExpr =
      """round(CASE WHEN n_tokens < 5 THEN 0.1
                        ELSE 0.4*least(n_tokens/50.0, 1.0)
                           + 0.4*least(stopword_ratio*10.0, 1.0)
                           + 0.2*(CASE WHEN punct_ratio > 0.2 THEN 0.0
                                  ELSE 1.0 END) END, 6)"""
    // Lloyd's k-means, unrolled to SQL CTEs (must mirror
    // graft.ext.Clustering.kmeansAssign: k=8 lowest-id seeds, 2 update
    // rounds, squared-L2 argmin with lowest-seed tiebreak, empty
    // clusters drop out via GROUP BY). Distances are the same
    // left-fold-from-zero sum as the engine's `aggregate`, so argmin
    // compares identical doubles; only the centroid means carry
    // summation-order wiggle (~1 ulp, far below any argmin gap).
    // squared-L2 between aliases v and c — the same left-fold-from-zero
    // order as the engine's SqDistF64 (shared by the Lloyd's CTEs and
    // the x67 probe selection)
    val kmeansD2 =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_zip(v.e, c.e),
             p -> (p[1]-p[2])*(p[1]-p[2]))),
           (acc, x) -> acc + x)"""
    // Lloyd's k-means unrolled to CTEs over a source CTE `${p}v`
    // (vec_id, e): emits ${p}c0 (seeds = k lowest ids) through
    // ${p}a{iters+1} (final assignment: vec_id, cl[, d]) and
    // ${p}c{iters} (final centroids). Parameterized over a name prefix
    // so the PQ oracle (x74) can run one independent Lloyd's per
    // SUBSPACE with the identical machinery x53/x67 are gated by.
    def lloydCtes(p: String, dim: Int, k: Int, iters: Int): String = {
      def assign(i: Int, last: Boolean) =
        s"""${p}a$i AS (SELECT vec_id, cl${if (last) ", d" else ""} FROM (
              SELECT vec_id, cl, d, row_number() OVER (
                PARTITION BY vec_id ORDER BY d, cl) AS rn
              FROM (SELECT v.vec_id, c.cl, $kmeansD2 AS d
                    FROM ${p}v v, ${p}c${i - 1} c))
            WHERE rn = 1)"""
      def centroid(i: Int) =
        s"""${p}c$i AS (SELECT cl, list(m ORDER BY i) AS e FROM (
              SELECT a.cl, g.i, avg(v.e[g.i]) AS m
              FROM ${p}a$i a JOIN ${p}v v USING (vec_id),
                   generate_series(1, $dim) AS g(i)
              GROUP BY a.cl, g.i) GROUP BY cl)"""
      val ctes = (1 to iters).flatMap(i =>
        Seq(assign(i, last = false), centroid(i))) :+
        assign(iters + 1, last = true)
      s"""${p}c0 AS (SELECT vec_id AS cl, e FROM ${p}v
            ORDER BY vec_id LIMIT $k),
          ${ctes.mkString(",\n")}"""
    }
    // the x53/x67 instance: one Lloyd's over the full 64-dim vectors
    val kmeansCtes: String =
      s"""v AS ($vecs),
          ${lloydCtes("", 64, 8, 2)}"""
    val kmeansOracle: String =
      s"""WITH $kmeansCtes
          SELECT vec_id, cl AS cluster, round(d, 6) AS dist
          FROM a3"""
    // the Lloyd's CTEs (shared with x53) + exact per-bucket top-k:
    // probes = each query's 2 nearest FINAL centroids (same squared-L2
    // fold, centroid-id tiebreak), candidates = a3's cell members.
    // Shared verbatim by x67 (train-per-call) and x71 (persisted index,
    // cold reload): the lifecycle differs, the answer must not.
    val ivfLearnedOracle: String =
      s"""WITH $kmeansCtes,
          probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM v, c2 c
              WHERE v.vec_id < 8)
            WHERE rn <= 2)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                       row_number() OVER (PARTITION BY p.query_id
                         ORDER BY $cosPairExpr DESC, b.vec_id ASC) AS rank
                FROM probes p
                     JOIN a3 s ON s.cl = p.bucket
                     JOIN v b ON b.vec_id = s.vec_id
                     JOIN v a ON a.vec_id = p.query_id
                WHERE b.vec_id <> p.query_id)
          WHERE rank <= 5"""
    // x05 exact and x07 sign-LSH retriever lists — shared as derived
    // tables by the x78 fusion oracle
    val x05Sql: String =
      s"""WITH v AS ($vecs),
          scored AS (
            SELECT a.vec_id AS query_id, b.vec_id, $cosPairExpr AS cos
            FROM v a JOIN v b ON b.vec_id <> a.vec_id
            WHERE a.vec_id < 8)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT query_id, vec_id, cos, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
                  AS rank
                FROM scored)
          WHERE rank <= 5"""
    // x173's approximate leg: x05's exact scan on the FIRST 32 dims
    // only (the matryoshka prefix), same rounding and tie-break
    val x05HalfSql: String =
      s"""WITH v AS (SELECT vec_id,
                     [CAST(x AS DOUBLE) for x in embedding[1:32]] AS e
                   FROM embeddings),
          scored AS (
            SELECT a.vec_id AS query_id, b.vec_id, $cosPairExpr AS cos
            FROM v a JOIN v b ON b.vec_id <> a.vec_id
            WHERE a.vec_id < 8)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT query_id, vec_id, cos, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
                  AS rank
                FROM scored)
          WHERE rank <= 5"""
    val x07Sql: String =
      s"""WITH v AS ($vecs),
          b AS (SELECT vec_id, e,
                  (CASE WHEN e[1]>=0 THEN 1 ELSE 0 END
                 + CASE WHEN e[2]>=0 THEN 2 ELSE 0 END
                 + CASE WHEN e[3]>=0 THEN 4 ELSE 0 END
                 + CASE WHEN e[4]>=0 THEN 8 ELSE 0 END)::BIGINT AS bucket
                FROM v)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT a.vec_id AS query_id, b.vec_id,
                       $cosPairExpr AS cos,
                       row_number() OVER (PARTITION BY a.vec_id
                         ORDER BY $cosPairExpr DESC, b.vec_id ASC) AS rank
                FROM b a JOIN b b
                  ON bit_count(xor(a.bucket, b.bucket)) <= 1
                     AND b.vec_id <> a.vec_id
                WHERE a.vec_id < 8)
          WHERE rank <= 5"""
    // x143 MMR: the x05 scan at fetch=20 as the candidate CTE,
    // candidate-pair cosines, then the greedy selection unrolled to
    // step CTEs (the lloydCtes pattern): each step bars the selected
    // set, scores the remainder against it, and picks the argmax with
    // the id tiebreak. λ = 0.75 ⇒ both constants are exact binary
    // doubles, so the two engines compare identical IEEE scores.
    val mmrOracle: String = {
      val lam = 0.75
      val om = 1.0 - lam
      def step(t: Int) =
        s"""sc$t AS (
              SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS ms
              FROM cand c
              JOIN ps p ON p.query_id = c.query_id
                AND p.ia = c.vec_id
              JOIN sel${t - 1} s ON s.query_id = p.query_id
                AND s.vec_id = p.ib
              WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
                                WHERE x.query_id = c.query_id
                                  AND x.vec_id = c.vec_id)
              GROUP BY 1, 2, 3),
            pick$t AS (
              SELECT query_id, vec_id, rel, $lam*rel - $om*ms AS mmr
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY $lam*rel - $om*ms DESC, vec_id) AS rn
                    FROM sc$t)
              WHERE rn = 1),
            sel$t AS (SELECT query_id, vec_id FROM sel${t - 1}
                      UNION ALL
                      SELECT query_id, vec_id FROM pick$t)"""
      val steps = (2 to 5).map(step).mkString(",\n")
      val unions = (2 to 5).map(t =>
        s"SELECT query_id, $t AS rank, vec_id, mmr FROM pick$t")
        .mkString("\n                UNION ALL\n                ")
      s"""WITH v AS ($vecs),
          cand AS (
            SELECT query_id, vec_id, cos AS rel FROM (
              SELECT a.vec_id AS query_id, b.vec_id, $cosPairExpr AS cos,
                     row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY $cosPairExpr DESC, b.vec_id ASC) AS rn
              FROM v a JOIN v b ON b.vec_id <> a.vec_id
              WHERE a.vec_id < 8)
            WHERE rn <= 20),
          ps AS (
            SELECT ca.query_id, ca.vec_id AS ia, cb.vec_id AS ib,
                   $cosPairExpr AS sim
            FROM cand ca
                 JOIN cand cb ON cb.query_id = ca.query_id
                   AND cb.vec_id <> ca.vec_id
                 JOIN v a ON a.vec_id = ca.vec_id
                 JOIN v b ON b.vec_id = cb.vec_id),
          pick1 AS (
            SELECT query_id, vec_id, rel, $lam*rel AS mmr FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rel DESC, vec_id) AS rn
              FROM cand)
            WHERE rn = 1),
          sel1 AS (SELECT query_id, vec_id FROM pick1),
          $steps
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                 round(mmr, 6) AS mmr
          FROM (SELECT query_id, 1 AS rank, vec_id, mmr FROM pick1
                UNION ALL
                $unions)"""
    }
    // x80 BM25 — a val (not a map literal) because the x85 hybrid
    // oracle re-ranks this exact list as its lexical leg
    // BM25 scoring SQL over a parameterized document source — `src`
    // is the table (x80/x89/...) or a filtered subquery (x110's
    // time-travel gate scores the PRE-append document subset)
    // `scWhere`: candidate restriction applied at the SCORING stage
    // only (x130's filtered retrieval) — df_t, N, and avgdl stay the
    // full `src` corpus's, matching the engine's Lucene filter
    // semantics (the tfd window and st aggregate sit ABOVE the filter)
    def bm25Sql(src: String, scWhere: String = "",
        termsPred: String = "term IN ('hash', 'join', 'merge')",
        k: Int = 10): String =
      s"""WITH t AS (SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS BIGINT) AS dl,
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS term
              FROM $src),
           tf AS (SELECT doc_id, dl, term,
                    CAST(count(*) AS BIGINT) AS tf
                  FROM t WHERE $termsPred
                  GROUP BY 1, 2, 3),
           tfd AS (SELECT *, CAST(count(*) OVER (PARTITION BY term)
                     AS BIGINT) AS df_t FROM tf),
           st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CAST(
                      len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                        AS BIGINT)) AS BIGINT) AS total_len
                  FROM $src),
           sc AS (SELECT doc_id,
                    CAST(((n - df_t + 0.5) / (df_t + 0.5))
                      * (tf * (1.2 + 1.0))
                      / (tf + 1.2 * (1.0 - 0.75 + 0.75 *
                          (CAST(dl * n AS DOUBLE)
                            / CAST(total_len AS DOUBLE))))
                      AS DECIMAL(20,9)) AS s
                  FROM tfd, st $scWhere)
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                  round(CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE), 6)
                    AS score
           FROM sc GROUP BY 1
           ORDER BY score DESC, doc_id ASC LIMIT $k"""
    val x80Sql: String = bm25Sql("documents")
    // x185/x186 share the HLL oracle: identical registers (bucket =
    // first md5 byte, rank = 49 − bitlength of the next 48 bits), the
    // denominator as the exact integer Σ 2^(49-M_j), one final
    // division. x186's merged save+append registers must equal the
    // one-shot over the union exactly (bucket-wise max).
    // x184/x188/x190 share the CMS oracle: the identical md5-addressed
    // counter table and min-over-rows estimates, over a parameterized
    // (possibly net-of-deletions) corpus; probes always come from the
    // FULL table
    def cmsOracleFor(where: String): String =
      s"""WITH d AS (SELECT unnest(range(0, 4)) AS d),
         cells AS (SELECT d.d,
               ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' ||
                 CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT % 1024
                 AS slot,
               count(*) AS c
             FROM (SELECT user_id FROM events $where) e, d
             GROUP BY 1, 2),
         p AS (SELECT DISTINCT user_id AS pk FROM events
               WHERE user_id < 20
               UNION ALL SELECT -1),
         ps AS (SELECT pk, d.d,
               ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' ||
                 CAST(pk AS VARCHAR)), 1, 8))::BIGINT % 1024 AS slot
             FROM p, d)
         SELECT pk AS user_id,
                CAST(min(coalesce(c, 0)) AS BIGINT) AS est_count
         FROM ps LEFT JOIN cells USING (d, slot)
         GROUP BY 1"""
    val cmsOracle: String = cmsOracleFor("")
    // x191/x192/x193/x194 share the histogram-quantile oracle: the
    // identical integer bucket table (n_chars div 50), from-the-bottom
    // cumulative counts, k = ceil(q·n) in exact micro-fraction integer
    // arithmetic, estimate = lowest bucket reaching k — over a
    // parameterized (possibly net-of-deletions) corpus
    def histOracleFor(extra: String): String =
      s"""WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v
               FROM documents
               WHERE n_chars IS NOT NULL AND n_chars >= 0 $extra),
         h AS (SELECT v // 50 AS bucket, count(*) AS c
               FROM v GROUP BY 1),
         cum AS (SELECT a.bucket, sum(b.c) AS cum
                 FROM h a JOIN h b ON b.bucket <= a.bucket
                 GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM h),
         q AS (SELECT CAST(unnest([100000, 500000, 900000, 990000])
                 AS BIGINT) AS q_micros),
         sel AS (SELECT q.q_micros, n.n,
                   (q.q_micros * n.n + 999999) // 1000000 AS k,
                   min(cum.bucket) AS bucket
                 FROM q, n, cum
                 WHERE cum.cum >=
                   (q.q_micros * n.n + 999999) // 1000000
                 GROUP BY 1, 2, 3)
         SELECT q_micros, CAST(n AS BIGINT) AS n,
                CAST(k AS BIGINT) AS k,
                CAST(bucket AS BIGINT) AS bucket,
                CAST(bucket * 50 AS BIGINT) AS est_lo,
                CAST((bucket + 1) * 50 - 1 AS BIGINT) AS est_hi
         FROM sel ORDER BY q_micros ASC"""
    val histOracle: String = histOracleFor("")
    // x195/x196: grayscale grid + gradient-sign bits straight from
    // x101's pixel closed form (w = 4+id%13, h = 3+id%7, channels
    // (id+sx)%256 / (id+sy)%256 / (sx+sy)%256), sampled on the
    // nearest-neighbor grid sx = x·w div 9, sy = y·h div 7 — the
    // byte-free dHash twin of the x171 oracle
    val dhashSigCte: String =
      """g AS (SELECT d.doc_id, gy.y, gx.x,
               ((d.doc_id + (gx.x * (4 + d.doc_id % 13)) // 9) % 256
                + (d.doc_id + (gy.y * (3 + d.doc_id % 7)) // 7) % 256
                + ((gx.x * (4 + d.doc_id % 13)) // 9
                   + (gy.y * (3 + d.doc_id % 7)) // 7) % 256) // 3
                 AS gray
             FROM documents d,
                  generate_series(0, 8) gx(x),
                  generate_series(0, 6) gy(y)),
         bits AS (SELECT a.doc_id, a.y, a.x,
                    CASE WHEN n.gray > a.gray THEN 1 ELSE 0 END AS bit
                  FROM g a JOIN g n
                    ON n.doc_id = a.doc_id AND n.y = a.y
                       AND n.x = a.x + 1
                  WHERE a.x < 8),
         sh AS (SELECT doc_id,
                  CAST(sum(bit * (CAST(1 AS BIGINT) << (y * 8 + x)))
                    AS BIGINT) AS dhash
                FROM bits GROUP BY 1)"""
    // x219/x223: the pHash pipeline closed-form — 32×32 grid grayscale
    // from the PNG pixel formula, integer-quantized cosine basis
    // (identical round(1e6·cos) constants in both engines), separable
    // integer DCT, 32nd-smallest median, 63 bit decisions — every
    // number exact integer arithmetic after the basis constants
    val phashSigCte: String =
      """pg AS (SELECT d.doc_id, gy.y, gx.x,
               ((d.doc_id + (gx.x * (4 + d.doc_id % 13)) // 32) % 256
                + (d.doc_id + (gy.y * (3 + d.doc_id % 7)) // 32) % 256
                + ((gx.x * (4 + d.doc_id % 13)) // 32
                   + (gy.y * (3 + d.doc_id % 7)) // 32) % 256) // 3
                 AS gray
             FROM documents d,
                  generate_series(0, 31) gx(x),
                  generate_series(0, 31) gy(y)),
         ct AS (SELECT k.k, m.m,
                  CAST(round(1000000.0 *
                    cos(pi() * (2 * m.m + 1) * k.k / 64.0)) AS BIGINT)
                    AS c
                FROM generate_series(0, 7) k(k),
                     generate_series(0, 31) m(m)),
         gm AS (SELECT p.doc_id, ct.k AS u, p.y,
                  sum(ct.c * p.gray) AS s
                FROM pg p JOIN ct ON ct.m = p.x
                GROUP BY 1, 2, 3),
         fm AS (SELECT g.doc_id, g.u, ct.k AS v, sum(ct.c * g.s) AS f
                FROM gm g JOIN ct ON ct.m = g.y
                GROUP BY 1, 2, 3),
         cf AS (SELECT doc_id, v * 8 + u - 1 AS i, f
                FROM fm WHERE NOT (u = 0 AND v = 0)),
         pmed AS (SELECT doc_id, f AS med FROM (
                   SELECT doc_id, f, row_number() OVER (
                     PARTITION BY doc_id ORDER BY f ASC) AS rn
                   FROM cf)
                 WHERE rn = 32),
         ph AS (SELECT c.doc_id,
                  CAST(sum(CASE WHEN c.f > m.med
                       THEN (CAST(1 AS BIGINT) << CAST(c.i AS INT))
                       ELSE 0 END) AS BIGINT) AS phash
                FROM cf c JOIN pmed m USING (doc_id)
                GROUP BY 1)"""
    // x234/x238/x239: the audio spectral hash closed-form — x167's
    // amplitude formula on the 64-point nearest-neighbor time grid,
    // 8 windows × 8-point integer DCT (round(1e6·cos) basis, the
    // pHash discipline), 32nd-smallest median, 63 bit decisions
    val ahashSigCte: String =
      """an AS (SELECT doc_id, 32 + doc_id % 64 AS n FROM documents),
         ag AS (SELECT a.doc_id, g.j,
                  (a.doc_id * 31 + ((g.j * a.n) // 64) * 17) % 65536
                    - 32768 AS v
                FROM an a, generate_series(0, 63) g(j)),
         act AS (SELECT k.k, m.m,
                  CAST(round(1000000.0 *
                    cos(pi() * (2 * m.m + 1) * k.k / 16.0)) AS BIGINT)
                    AS c
                FROM generate_series(0, 7) k(k),
                     generate_series(0, 7) m(m)),
         acf AS (SELECT g.doc_id, (g.j // 8) * 8 + act.k - 1 AS i,
                   sum(act.c * g.v) AS f
                 FROM ag g JOIN act ON act.m = g.j % 8
                 WHERE NOT (g.j // 8 = 0 AND act.k = 0)
                 GROUP BY 1, 2),
         amed AS (SELECT doc_id, f AS med FROM (
                   SELECT doc_id, f, row_number() OVER (
                     PARTITION BY doc_id ORDER BY f ASC) AS rn
                   FROM acf)
                 WHERE rn = 32),
         ah AS (SELECT c.doc_id,
                  CAST(sum(CASE WHEN c.f > m.med
                       THEN (CAST(1 AS BIGINT) << CAST(c.i AS INT))
                       ELSE 0 END) AS BIGINT) AS ahash
                FROM acf c JOIN amed m USING (doc_id)
                GROUP BY 1)"""
    val hllOracle: String =
      """WITH h AS (SELECT md5(CAST(event_id AS VARCHAR)) AS hx
             FROM events),
         r AS (SELECT ('0x' || substr(hx, 1, 2))::BIGINT AS bucket,
                 CASE WHEN ('0x' || substr(hx, 3, 12))::BIGINT = 0
                      THEN 49
                      ELSE 49 - length(to_base(
                        ('0x' || substr(hx, 3, 12))::BIGINT, 2))
                 END AS rank
               FROM h),
         regs AS (SELECT bucket, max(rank) AS m FROM r GROUP BY 1),
         a AS (SELECT count(*) AS n_filled,
                 sum(CAST(1 AS BIGINT) << CAST(49 - m AS INT))
                   AS t_filled
               FROM regs)
         SELECT CAST(256 AS BIGINT) AS n_buckets,
                CAST(256 - n_filled AS BIGINT) AS n_zero,
                CAST(t_filled + (256 - n_filled) *
                  (CAST(1 AS BIGINT) << 49) AS BIGINT) AS t_sum,
                round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
                  562949953421312.0 /
                  CAST(t_filled + (256 - n_filled) *
                    (CAST(1 AS BIGINT) << 49) AS DOUBLE), 2)
                  AS est_raw
         FROM a"""
    // x214: both slices' registers + their register-wise max (the
    // union sketch), three est_raw estimates through the identical
    // formula, inclusion-exclusion clamped at 0, containment vs B
    def hllRegsSqlFor(where: String): String =
      s"""SELECT bucket, max(rank) AS m FROM (
           SELECT ('0x' || substr(hx, 1, 2))::BIGINT AS bucket,
                  CASE WHEN ('0x' || substr(hx, 3, 12))::BIGINT = 0
                       THEN 49
                       ELSE 49 - length(to_base(
                         ('0x' || substr(hx, 3, 12))::BIGINT, 2))
                  END AS rank
           FROM (SELECT md5(CAST(event_id AS VARCHAR)) AS hx
                 FROM events $where)) GROUP BY 1"""
    val hllEstSql: String =
      """SELECT round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
           562949953421312.0 /
           CAST(t_filled + (256 - n_filled) *
             (CAST(1 AS BIGINT) << 49) AS DOUBLE), 2) AS e
         FROM (SELECT count(*) AS n_filled,
                 sum(CAST(1 AS BIGINT) << CAST(49 - m AS INT))
                   AS t_filled FROM %s)"""
    val overlapOracle: String =
      s"""WITH ra AS (${hllRegsSqlFor("WHERE event_id % 3 <> 0")}),
         rb AS (${hllRegsSqlFor("WHERE event_id % 2 <> 0")}),
         ru AS (SELECT bucket, max(m) AS m FROM
                  (SELECT * FROM ra UNION ALL SELECT * FROM rb)
                GROUP BY 1),
         ea AS (${hllEstSql.replace("%s", "ra")}),
         eb AS (${hllEstSql.replace("%s", "rb")}),
         eu AS (${hllEstSql.replace("%s", "ru")})
         SELECT ea.e AS est_a, eb.e AS est_b, eu.e AS est_union,
                greatest(round(ea.e + eb.e - eu.e, 2), 0.0)
                  AS est_intersect,
                round(greatest(round(ea.e + eb.e - eu.e, 2), 0.0)
                  / eb.e, 6) AS containment_b
         FROM ea, eb, eu"""
    // x215/x216/x230 share the unigram-LM core: seed substring counts
    // → vocab0 (chars ∪ top-150 multi) → integer micronat costs →
    // segmentation via recursive-CTE enumeration + (cost, n, path)
    // argmin (= the engine's Viterbi DP) → usage → prune to vocab1
    // (chars ∪ top-60 used multi, +1 smoothed) → final costs.
    // Parameterized by a CTE-name prefix and the LEARN corpus filter
    // so x230 can run two tokenizer generations in one query.
    def unigramCoreSqlP(p: String, learnWhere: String,
        vocabMulti: Int = 60): String =
      s"""${p}words AS (
           SELECT word, count(*) AS freq FROM (
             SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
               AS word FROM documents WHERE 1=1 $learnWhere)
           WHERE len(word) <= 16 GROUP BY 1),
         ${p}subs AS (
           SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece,
                  sum(freq) AS cnt
           FROM ${p}words, range(1, 17) t(s), range(1, 5) u(l)
           WHERE s + l - 1 <= len(word)
           GROUP BY 1),
         ${p}chars0 AS (SELECT piece, cnt FROM ${p}subs
                        WHERE len(piece) = 1),
         ${p}multi0 AS (SELECT piece, cnt FROM ${p}subs
                        WHERE len(piece) > 1
                        ORDER BY cnt DESC, piece ASC LIMIT 150),
         ${p}v0 AS (SELECT * FROM ${p}chars0
                    UNION ALL SELECT * FROM ${p}multi0),
         ${p}t0 AS (SELECT sum(cnt) AS total FROM ${p}v0),
         ${p}c0 AS (SELECT piece, len(piece) AS l,
                  CAST(round(1000000.0 * ln(CAST(total AS DOUBLE) /
                    CAST(cnt AS DOUBLE))) AS BIGINT) AS cost
                FROM ${p}v0, ${p}t0),
         ${p}paths AS (
           SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS c, 0 AS n,
                  '' AS p
           FROM ${p}words
           UNION ALL
           SELECT x.word, x.pos + g.l, x.c + g.cost, x.n + 1,
                  x.p || ' ' || g.piece
           FROM ${p}paths x JOIN ${p}c0 g
             ON substr(x.word, x.pos + 1, CAST(g.l AS INT)) = g.piece
           WHERE x.pos < len(x.word)),
         ${p}best AS (
           SELECT word, c, n, p FROM (
             SELECT word, c, n, p, row_number() OVER (
               PARTITION BY word ORDER BY c ASC, n ASC, p ASC) AS rn
             FROM ${p}paths WHERE pos = len(word)) WHERE rn = 1),
         ${p}usage AS (
           SELECT piece, sum(freq) AS n1 FROM (
             SELECT w.freq,
               unnest(string_split(trim(b.p), ' ')) AS piece
             FROM ${p}best b JOIN ${p}words w USING (word))
           GROUP BY 1),
         ${p}usedmulti AS (SELECT piece, n1 FROM ${p}usage
                       WHERE len(piece) > 1
                       ORDER BY n1 DESC, piece ASC LIMIT $vocabMulti),
         ${p}allchars AS (SELECT c.piece, coalesce(u.n1, 0) AS n1
                      FROM (SELECT piece FROM ${p}chars0) c
                      LEFT JOIN ${p}usage u USING (piece)),
         ${p}v1 AS (SELECT piece, n1 + 1 AS cnt FROM ${p}allchars
                UNION ALL SELECT piece, n1 + 1 FROM ${p}usedmulti),
         ${p}t1 AS (SELECT sum(cnt) AS total FROM ${p}v1)"""
    // encode tail: final costs → best segmentation per ENCODE-corpus
    // word (encwords — may exceed the learn corpus's words; words a
    // generation cannot segment have no pos=len row and drop) →
    // consumed by a per-doc rollup over `occ`
    def unigramEncodeCtesP(p: String): String =
      s"""${p}c1 AS (SELECT piece, len(piece) AS l,
                  CAST(round(1000000.0 * ln(CAST(total AS DOUBLE) /
                    CAST(cnt AS DOUBLE))) AS BIGINT) AS cost
                FROM ${p}v1, ${p}t1),
         ${p}paths2 AS (
           SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS c, 0 AS n,
                  '' AS p
           FROM encwords
           UNION ALL
           SELECT x.word, x.pos + g.l, x.c + g.cost, x.n + 1,
                  x.p || ' ' || g.piece
           FROM ${p}paths2 x JOIN ${p}c1 g
             ON substr(x.word, x.pos + 1, CAST(g.l AS INT)) = g.piece
           WHERE x.pos < len(x.word)),
         ${p}best2 AS (
           SELECT word, c, n FROM (
             SELECT word, c, n, row_number() OVER (
               PARTITION BY word ORDER BY c ASC, n ASC, p ASC) AS rn
             FROM ${p}paths2 WHERE pos = len(word)) WHERE rn = 1)"""
    val unigramOccSql: String =
      """occ AS (
           SELECT doc_id, word FROM (
             SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+'))
                 AS word
             FROM documents)
           WHERE len(word) <= 16),
         encwords AS (SELECT DISTINCT word FROM occ)"""
    def unigramEncodeSelectP(p: String): String =
      s"""SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(b.n) AS BIGINT) AS n_pieces,
                CAST(sum(b.c) AS BIGINT) AS cost_sum
         FROM occ o JOIN ${p}best2 b USING (word)
         GROUP BY 1"""
    val unigramLearnOracle: String =
      s"""WITH RECURSIVE ${unigramCoreSqlP("", "")}
         SELECT piece, CAST(cnt AS BIGINT) AS n_uses,
                CAST(round(1000000.0 * ln(CAST(total AS DOUBLE) /
                  CAST(cnt AS DOUBLE))) AS BIGINT) AS cost_micronats
         FROM v1, t1 ORDER BY piece ASC"""
    val unigramEncodeOracle: String =
      s"""WITH RECURSIVE $unigramOccSql,
         ${unigramCoreSqlP("", "")},
         ${unigramEncodeCtesP("")}
         ${unigramEncodeSelectP("")} ORDER BY o.doc_id ASC"""
    // x230: two complete generations in one query — gen 1 learns on
    // the even half, gen 2 on the full corpus; both encode ALL docs
    val unigramPersistOracle: String =
      s"""WITH RECURSIVE $unigramOccSql,
         ${unigramCoreSqlP("a", "AND doc_id % 2 = 0")},
         ${unigramEncodeCtesP("a")},
         ${unigramCoreSqlP("b", "")},
         ${unigramEncodeCtesP("b")}
         SELECT * FROM (
           SELECT doc_id, n_words, n_pieces, cost_sum,
                  CAST(1 AS BIGINT) AS vocab_gen
           FROM (${unigramEncodeSelectP("a")})
           UNION ALL
           SELECT doc_id, n_words, n_pieces, cost_sum,
                  CAST(2 AS BIGINT) AS vocab_gen
           FROM (${unigramEncodeSelectP("b")}))
         ORDER BY vocab_gen ASC, doc_id ASC"""
    // x242/x249 share the surviving-ledger containment oracle:
    // blockers are the ledgered docs with doc_id % 5 <> 0 — reached by
    // DELETING the %5=0 docs (x242) or by admitting AS-OF the version
    // before they were appended (x249)
    val containmentSurvivorOracle: String =
      """WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents),
           s AS (SELECT doc_id,
                   list_distinct([array_to_string(toks[i+1:i+5], ' ')
                                  for i in range(len(toks)-4)]) AS sh
                 FROM t WHERE len(toks) >= 5),
           e AS (SELECT doc_id, unnest(sh) AS s FROM s),
           sz AS (SELECT doc_id, len(sh) AS z FROM s),
           p AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        count(*) AS shared
                 FROM e a JOIN e b ON a.s = b.s
                 WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
                   AND b.doc_id % 5 <> 0
                 GROUP BY 1, 2),
           rej AS (SELECT DISTINCT da
                   FROM p JOIN sz x ON p.da = x.doc_id
                          JOIN sz y ON p.db = y.doc_id
                   WHERE round(shared*1.0/least(x.z, y.z), 6) >= 0.8)
           SELECT doc_id FROM documents
           WHERE doc_id % 4 = 0
             AND doc_id NOT IN (SELECT da FROM rej)
           ORDER BY doc_id ASC"""
    // x233/x241 share the per-lang order-statistic trim oracle (x241
    // reads identical thresholds off the persisted grouped sketch)
    val kllTrimOracle: String =
      """WITH t AS (SELECT doc_id, lang,
                CAST(len(regexp_split_to_array(trim(text), '\s+'))
                  AS BIGINT) AS n_tokens
              FROM documents),
           v AS (SELECT lang, CAST(n_tokens AS DOUBLE) AS v FROM t
                 WHERE lang IS NOT NULL AND n_tokens IS NOT NULL),
           n AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
           r AS (SELECT lang, v, row_number() OVER (
                   PARTITION BY lang ORDER BY v) AS rn FROM v),
           q AS (SELECT CAST(unnest([50000, 950000]) AS BIGINT)
                   AS q_micros),
           sel AS (SELECT n.lang, q.q_micros,
                     (q.q_micros * n.n + 999999) // 1000000 AS kk
                   FROM q, n),
           est AS (SELECT sel.lang, sel.q_micros, r.v AS est
                   FROM sel JOIN r
                     ON r.lang = sel.lang AND r.rn = sel.kk),
           th AS (SELECT lang,
                    min(CASE WHEN q_micros = 50000 THEN est END) AS lo,
                    min(CASE WHEN q_micros = 950000 THEN est END)
                      AS hi
                  FROM est GROUP BY 1)
           SELECT t.doc_id, t.lang, t.n_tokens, th.lo, th.hi
           FROM t JOIN th ON th.lang = t.lang
           WHERE CAST(t.n_tokens AS DOUBLE) >= th.lo
             AND CAST(t.n_tokens AS DOUBLE) <= th.hi
           ORDER BY t.doc_id ASC"""
    // x225/x237 share the exact-regime per-lang order-statistic oracle
    // (x237's streamed segments must serve the one-shot build exactly)
    val kllByLangOracle: String =
      """WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v
             FROM documents
             WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         n AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
         r AS (SELECT lang, v, row_number() OVER (
                 PARTITION BY lang ORDER BY v) AS rn FROM v),
         q AS (SELECT CAST(unnest([250000, 500000, 750000])
                 AS BIGINT) AS q_micros),
         sel AS (SELECT n.lang, q.q_micros, n.n,
                   (q.q_micros * n.n + 999999) // 1000000 AS k
                 FROM q, n)
         SELECT sel.lang AS lang, sel.q_micros,
                CAST(sel.n AS BIGINT) AS n,
                CAST(sel.k AS BIGINT) AS k, r.v AS est
         FROM sel JOIN r ON r.lang = sel.lang AND r.rn = sel.k
         ORDER BY sel.lang ASC, sel.q_micros ASC"""
    // x240/x246 share the per-lang two-sample KS rows, parameterized
    // by the two sides' doc_id predicates (batch = side a, ledger =
    // side b); no ORDER BY — callers compose and sort
    def kllGroupKsSql(whereA: String, whereB: String): String =
      s"""WITH va AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v
               FROM documents
               WHERE $whereA AND n_chars IS NOT NULL
                 AND lang IS NOT NULL),
           vb AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v
               FROM documents
               WHERE $whereB AND n_chars IS NOT NULL
                 AND lang IS NOT NULL),
           na AS (SELECT g, count(*) AS n_a FROM va GROUP BY 1),
           nb AS (SELECT g, count(*) AS n_b FROM vb GROUP BY 1),
           vals AS (SELECT DISTINCT g, v FROM
             (SELECT * FROM va UNION ALL SELECT * FROM vb)),
           ca AS (SELECT vals.g, vals.v, count(va.v) AS cum_a
                  FROM vals LEFT JOIN va
                    ON va.g = vals.g AND va.v <= vals.v
                  GROUP BY 1, 2),
           cb AS (SELECT vals.g, vals.v, count(vb.v) AS cum_b
                  FROM vals LEFT JOIN vb
                    ON vb.g = vals.g AND vb.v <= vals.v
                  GROUP BY 1, 2),
           d AS (SELECT ca.g,
                   max(abs(ca.cum_a * nb.n_b - cb.cum_b * na.n_a))
                     AS ks_num
                 FROM ca JOIN cb ON ca.g = cb.g AND ca.v = cb.v
                 JOIN na ON na.g = ca.g JOIN nb ON nb.g = ca.g
                 GROUP BY 1)
           SELECT d.g AS lang, CAST(na.n_a AS BIGINT) AS n_a,
                  CAST(nb.n_b AS BIGINT) AS n_b,
                  CAST(d.ks_num AS BIGINT) AS ks_num,
                  round(CAST(d.ks_num AS DOUBLE) /
                    (CAST(na.n_a AS DOUBLE) * CAST(nb.n_b AS DOUBLE)),
                    6) AS ks
           FROM d JOIN na ON na.g = d.g JOIN nb ON nb.g = d.g"""
    // x226/x227 share the two-sample KS oracle, parameterized by the
    // two sides' WHERE clauses
    def kllKsOracle(whereA: String, whereB: String): String =
      s"""WITH va AS (SELECT CAST(n_chars AS DOUBLE) AS v
               FROM documents $whereA),
         vb AS (SELECT CAST(n_chars AS DOUBLE) AS v
               FROM documents $whereB),
         na AS (SELECT count(*) AS n_a FROM va),
         nb AS (SELECT count(*) AS n_b FROM vb),
         vals AS (SELECT DISTINCT v FROM
           (SELECT v FROM va UNION ALL SELECT v FROM vb)),
         ca AS (SELECT vals.v, count(va.v) AS cum_a
                FROM vals LEFT JOIN va ON va.v <= vals.v GROUP BY 1),
         cb AS (SELECT vals.v, count(vb.v) AS cum_b
                FROM vals LEFT JOIN vb ON vb.v <= vals.v GROUP BY 1),
         d AS (SELECT max(abs(ca.cum_a * nb.n_b - cb.cum_b * na.n_a))
                 AS ks_num
               FROM ca JOIN cb USING (v), na, nb)
         SELECT CAST(na.n_a AS BIGINT) AS n_a,
                CAST(nb.n_b AS BIGINT) AS n_b,
                CAST(d.ks_num AS BIGINT) AS ks_num,
                round(CAST(d.ks_num AS DOUBLE) /
                  (CAST(na.n_a AS DOUBLE) * CAST(nb.n_b AS DOUBLE)), 6)
                  AS ks
         FROM d, na, nb"""
    // x85 hybrid retrieval: the BM25 lexical list (x80, re-ranked into
    // retriever-list form) fused with the exact-cosine (x05) and
    // sign-LSH (x07) vector lists for query 0 — a 3-way reciprocal-rank
    // fusion. Contribution sum is the same FIXED left-assoc order as
    // the engine's rrfFuseN fold (lex + exact + ivf); the chained FULL
    // OUTER joins key the third leg on the coalesced first two.
    val hybridOracle: String =
      s"""WITH lex AS (
            SELECT CAST(0 AS BIGINT) AS query_id,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rank,
                   doc_id AS vec_id
            FROM ($x80Sql)),
          ex AS (SELECT query_id, rank, vec_id FROM ($x05Sql)
                 WHERE query_id = 0),
          iv AS (SELECT query_id, rank, vec_id FROM ($x07Sql)
                 WHERE query_id = 0),
          j AS (SELECT
                  coalesce(l.query_id, e.query_id, i.query_id) AS query_id,
                  coalesce(l.vec_id, e.vec_id, i.vec_id) AS vec_id,
                  coalesce(CAST(1 AS DOUBLE)
                      / CAST(l.rank + 60 AS DOUBLE), 0)
                    + coalesce(CAST(1 AS DOUBLE)
                      / CAST(e.rank + 60 AS DOUBLE), 0)
                    + coalesce(CAST(1 AS DOUBLE)
                      / CAST(i.rank + 60 AS DOUBLE), 0) AS rrf
                FROM lex l
                FULL OUTER JOIN ex e
                  ON e.query_id = l.query_id AND e.vec_id = l.vec_id
                FULL OUTER JOIN iv i
                  ON i.query_id = coalesce(l.query_id, e.query_id)
                 AND i.vec_id = coalesce(l.vec_id, e.vec_id))
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                 round(rrf, 6) AS rrf
          FROM (SELECT query_id, vec_id, rrf, row_number() OVER
                  (PARTITION BY query_id ORDER BY rrf DESC, vec_id ASC)
                  AS rank
                FROM j)
          WHERE rank <= 10"""
    // x76 appended index: Lloyd's trained on the vec_id < 400 SUBSET
    // (prefix t over tv), every vector — original and appended alike —
    // assigned to those frozen centroids, probes and candidates over
    // the full corpus. Train rarely, append often, serve always.
    val ivfAppendOracle: String =
      s"""WITH v AS ($vecs),
          tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
          ${lloydCtes("t", 64, 8, 2)},
          allasg AS (
            SELECT vec_id, cl FROM (
              SELECT v.vec_id, c.cl, row_number() OVER (
                PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c)
            WHERE rn = 1),
          probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c
              WHERE v.vec_id < 8)
            WHERE rn <= 2)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                       row_number() OVER (PARTITION BY p.query_id
                         ORDER BY $cosPairExpr DESC, b.vec_id ASC) AS rank
                FROM probes p
                     JOIN allasg s ON s.cl = p.bucket
                     JOIN v b ON b.vec_id = s.vec_id
                     JOIN v a ON a.vec_id = p.query_id
                WHERE b.vec_id <> p.query_id)
          WHERE rank <= 5"""
    // x217: the mutated serve = x76's subset-trained (tv < 400)
    // full-corpus assignment with the deleted ids (vec_id % 3 = 1)
    // barred from the candidate join (x124's bar), composed into
    // x138's recall arithmetic against the exact scan over SURVIVORS
    val ivfMutatedServeOracle: String =
      s"""WITH v AS ($vecs),
          tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
          ${lloydCtes("t", 64, 8, 2)},
          allasg AS (
            SELECT vec_id, cl FROM (
              SELECT v.vec_id, c.cl, row_number() OVER (
                PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c)
            WHERE rn = 1),
          probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c
              WHERE v.vec_id < 8)
            WHERE rn <= 2)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                       row_number() OVER (PARTITION BY p.query_id
                         ORDER BY $cosPairExpr DESC, b.vec_id ASC) AS rank
                FROM probes p
                     JOIN allasg s ON s.cl = p.bucket
                     JOIN v b ON b.vec_id = s.vec_id
                     JOIN v a ON a.vec_id = p.query_id
                WHERE b.vec_id <> p.query_id
                  AND s.vec_id % 3 <> 1)
          WHERE rank <= 5"""
    val x05SurvivorsSql: String =
      s"""WITH v AS ($vecs),
          scored AS (
            SELECT a.vec_id AS query_id, b.vec_id, $cosPairExpr AS cos
            FROM v a JOIN v b
              ON b.vec_id <> a.vec_id AND b.vec_id % 3 <> 1
            WHERE a.vec_id < 8)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT query_id, vec_id, cos, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
                  AS rank
                FROM scored)
          WHERE rank <= 5"""
    // x176/x218 share the pinned-pair oracle: pin v1 = the subset
    // (lex,vec) pair, pin v2 = the full pair, tagged by pin_version
    val hybridPinnedOracle: String =
      s"""WITH v AS ($vecs),
            tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
            ${lloydCtes("t", 64, 8, 2)},
            subasg AS (
              SELECT vec_id, cl FROM (
                SELECT v.vec_id, c.cl, row_number() OVER (
                  PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
                FROM tv v, tc2 c)
              WHERE rn = 1),
            allasg AS (
              SELECT vec_id, cl FROM (
                SELECT v.vec_id, c.cl, row_number() OVER (
                  PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
                FROM v v, tc2 c)
              WHERE rn = 1),
            probes AS (
              SELECT query_id, cl AS bucket FROM (
                SELECT v.vec_id AS query_id, c.cl,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY $kmeansD2, c.cl) AS rn
                FROM tv v, tc2 c
                WHERE v.vec_id = 0)
              WHERE rn <= 2),
            lex1 AS (SELECT CAST(0 AS BIGINT) AS query_id,
                  row_number() OVER (ORDER BY score DESC, doc_id ASC)
                    AS rank,
                  doc_id AS vec_id
                FROM (${bm25Sql(
                  "(SELECT * FROM documents WHERE doc_id < 400)")})),
            fv1 AS (SELECT query_id, rank, vec_id FROM (
                  SELECT p.query_id, b.vec_id,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                           AS rank
                  FROM probes p
                       JOIN subasg s ON s.cl = p.bucket
                       JOIN tv b ON b.vec_id = s.vec_id
                       JOIN v a ON a.vec_id = p.query_id
                  WHERE b.vec_id <> p.query_id)
                WHERE rank <= 5),
            lex2 AS (SELECT CAST(0 AS BIGINT) AS query_id,
                  row_number() OVER (ORDER BY score DESC, doc_id ASC)
                    AS rank,
                  doc_id AS vec_id
                FROM (${bm25Sql("documents")})),
            fv2 AS (SELECT query_id, rank, vec_id FROM (
                  SELECT p.query_id, b.vec_id,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                           AS rank
                  FROM probes p
                       JOIN allasg s ON s.cl = p.bucket
                       JOIN v b ON b.vec_id = s.vec_id
                       JOIN v a ON a.vec_id = p.query_id
                  WHERE b.vec_id <> p.query_id)
                WHERE rank <= 5),
            j1 AS (SELECT
                    coalesce(l.query_id, f.query_id) AS query_id,
                    coalesce(l.vec_id, f.vec_id) AS vec_id,
                    coalesce(CAST(1 AS DOUBLE)
                        / CAST(l.rank + 60 AS DOUBLE), 0)
                      + coalesce(CAST(1 AS DOUBLE)
                        / CAST(f.rank + 60 AS DOUBLE), 0) AS rrf
                  FROM lex1 l
                  FULL OUTER JOIN fv1 f
                    ON f.query_id = l.query_id
                   AND f.vec_id = l.vec_id),
            j2 AS (SELECT
                    coalesce(l.query_id, f.query_id) AS query_id,
                    coalesce(l.vec_id, f.vec_id) AS vec_id,
                    coalesce(CAST(1 AS DOUBLE)
                        / CAST(l.rank + 60 AS DOUBLE), 0)
                      + coalesce(CAST(1 AS DOUBLE)
                        / CAST(f.rank + 60 AS DOUBLE), 0) AS rrf
                  FROM lex2 l
                  FULL OUTER JOIN fv2 f
                    ON f.query_id = l.query_id
                   AND f.vec_id = l.vec_id),
            r1 AS (SELECT query_id, CAST(rank AS BIGINT) AS rank,
                    vec_id, round(rrf, 6) AS rrf
                  FROM (SELECT query_id, vec_id, rrf, row_number() OVER
                          (PARTITION BY query_id ORDER BY rrf DESC,
                            vec_id ASC) AS rank
                        FROM j1)
                  WHERE rank <= 10),
            r2 AS (SELECT query_id, CAST(rank AS BIGINT) AS rank,
                    vec_id, round(rrf, 6) AS rrf
                  FROM (SELECT query_id, vec_id, rrf, row_number() OVER
                          (PARTITION BY query_id ORDER BY rrf DESC,
                            vec_id ASC) AS rank
                        FROM j2)
                  WHERE rank <= 10)
            SELECT query_id, rank, vec_id, rrf,
                   CAST(1 AS BIGINT) AS pin_version FROM r1
            UNION ALL
            SELECT query_id, rank, vec_id, rrf,
                   CAST(2 AS BIGINT) AS pin_version FROM r2"""
    // x112 IVF as-of read: the pinned pre-append version serves the
    // SUBSET index exactly — subset-trained centroids, subset corpus,
    // subset assignment (the appended vectors are invisible to the
    // retained snapshot). Same Lloyd CTEs as x76; every corpus-side
    // reference restricted to tv.
    val ivfAsOfOracle: String =
      s"""WITH v AS ($vecs),
          tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
          ${lloydCtes("t", 64, 8, 2)},
          subasg AS (
            SELECT vec_id, cl FROM (
              SELECT v.vec_id, c.cl, row_number() OVER (
                PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
              FROM tv v, tc2 c)
            WHERE rn = 1),
          probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM tv v, tc2 c
              WHERE v.vec_id < 8)
            WHERE rn <= 2)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                       row_number() OVER (PARTITION BY p.query_id
                         ORDER BY $cosPairExpr DESC, b.vec_id ASC) AS rank
                FROM probes p
                     JOIN subasg s ON s.cl = p.bucket
                     JOIN tv b ON b.vec_id = s.vec_id
                     JOIN tv a ON a.vec_id = p.query_id
                WHERE b.vec_id <> p.query_id)
          WHERE rank <= 5"""
    // x74 product quantization: one INDEPENDENT Lloyd's per 16-dim
    // subspace (prefixes s0..s3 over sliced copies of v), then the
    // asymmetric distance d̂(q,x) = Σ_m ‖q_m − c_{m,code_m(x)}‖² —
    // per-subspace folds in the engine's exact left-fold order, summed
    // in fixed subspace order (d0+d1+d2+d3 left-assoc, mirroring the
    // engine's LUT-lookup sum).
    // shared PQ scaffolding (x74 flat ADC + x84 IVFPQ — one definition,
    // the docNearDupPairs de-sync rule): per-subspace slices of v, one
    // independent Lloyd's per subspace, the per-subspace ADC fold, and
    // the encode joins mapping each corpus vector to its codeword
    val (pqM, pqSub) = (4, 16)
    val pqSlices = (0 until pqM).map(mm =>
      s"""s${mm}v AS (SELECT vec_id,
            e[${mm * pqSub + 1}:${(mm + 1) * pqSub}] AS e FROM v)""")
      .mkString(",\n")
    val pqLloyds = (0 until pqM).map(mm => lloydCtes(s"s$mm", pqSub, 8, 2))
      .mkString(",\n")
    def pqSubD2(mm: Int) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_zip(
             q.e[${mm * pqSub + 1}:${(mm + 1) * pqSub}], c${mm}x.e),
             p -> (p[1]-p[2])*(p[1]-p[2]))),
           (acc, x) -> acc + x)"""
    val pqAdSum = (0 until pqM).map(pqSubD2).mkString(" + ")
    val pqEncJoins = (0 until pqM).map(mm =>
      s"""JOIN s${mm}a3 e$mm ON e$mm.vec_id = x.vec_id
          JOIN s${mm}c2 c${mm}x ON c${mm}x.cl = e$mm.cl""").mkString("\n")
    val pqOracle: String =
      s"""WITH v AS ($vecs),
          $pqSlices,
          $pqLloyds,
          q AS (SELECT vec_id, e FROM v WHERE vec_id < 8)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                 round(ad, 6) AS adist
          FROM (SELECT query_id, vec_id, ad, row_number() OVER (
                  PARTITION BY query_id ORDER BY ad, vec_id) AS rank
                FROM (SELECT q.vec_id AS query_id, x.vec_id,
                             $pqAdSum AS ad
                      FROM q, v x
                      $pqEncJoins
                      WHERE x.vec_id <> q.vec_id))
          WHERE rank <= 5"""
    // x84 IVFPQ: the coarse Lloyd's CTEs (x53/x67's, prefix "") give
    // cells (a3) and final centroids (c2); the PQ CTEs (x74's) give
    // codes; probes = 2 nearest final centroids per query (x67's CTE
    // verbatim); ADC pairing restricted to probed cells via JOIN a3.
    // parameterized over a candidate-join bar so x137's delete oracle
    // (deleted ids barred from candidates, geometry untouched — the
    // x124 pattern on the codes layout) shares every other CTE
    def ivfPqCandOracle(candBar: String): String =
      s"""WITH $kmeansCtes,
          $pqSlices,
          $pqLloyds,
          q AS (SELECT vec_id, e FROM v WHERE vec_id < 8),
          probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM v, c2 c
              WHERE v.vec_id < 8)
            WHERE rn <= 2)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                 round(ad, 6) AS adist
          FROM (SELECT query_id, vec_id, ad, row_number() OVER (
                  PARTITION BY query_id ORDER BY ad, vec_id) AS rank
                FROM (SELECT q.vec_id AS query_id, x.vec_id,
                             $pqAdSum AS ad
                      FROM probes p
                           JOIN a3 s ON s.cl = p.bucket$candBar
                           JOIN v x ON x.vec_id = s.vec_id
                           JOIN q ON q.vec_id = p.query_id
                      $pqEncJoins
                      WHERE x.vec_id <> q.vec_id))
          WHERE rank <= 5"""
    val ivfPqOracle: String = ivfPqCandOracle("")
    // x87/x88 sampled training: tv = the engine's deterministicSample
    // (md5 prefix of the id, threshold 8000 = 50%); training CTEs run
    // over tv, every serving CTE (cell assignment, probes, PQ encode)
    // over the FULL v — the trainSample contract, replayed.
    val sampledTv =
      """tv AS (SELECT vec_id, e FROM v
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '8000')"""
    val ivfSampledOracle: String =
      s"""WITH v AS ($vecs),
          $sampledTv,
          ${lloydCtes("t", 64, 8, 2)},
          allasg AS (
            SELECT vec_id, cl FROM (
              SELECT v.vec_id, c.cl, row_number() OVER (
                PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c)
            WHERE rn = 1),
          probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c
              WHERE v.vec_id < 8)
            WHERE rn <= 2)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
          FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                       row_number() OVER (PARTITION BY p.query_id
                         ORDER BY $cosPairExpr DESC, b.vec_id ASC) AS rank
                FROM probes p
                     JOIN allasg s ON s.cl = p.bucket
                     JOIN v b ON b.vec_id = s.vec_id
                     JOIN v a ON a.vec_id = p.query_id
                WHERE b.vec_id <> p.query_id)
          WHERE rank <= 5"""
    // x88: coarse Lloyd's + all m subspace Lloyd's over tv; the encode
    // is a FRESH full-corpus argmin against the sampled codebooks
    // (pqEncode's rule: nearest sub-centroid, lowest-cl tiebreak) —
    // x84's pqEncJoins can't be reused because its s{m}a3 assignment
    // only covers the training rows.
    val sampledPqSlices = (0 until pqM).map(mm =>
      s"""ts${mm}v AS (SELECT vec_id,
            e[${mm * pqSub + 1}:${(mm + 1) * pqSub}] AS e FROM tv)""")
      .mkString(",\n")
    val sampledPqLloyds = (0 until pqM).map(mm =>
      lloydCtes(s"ts$mm", pqSub, 8, 2)).mkString(",\n")
    val sampledEncCtes = (0 until pqM).map(mm =>
      s"""enc$mm AS (SELECT vec_id, cl FROM (
            SELECT fv.vec_id, c.cl, row_number() OVER (
              PARTITION BY fv.vec_id ORDER BY
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(list_zip(
                    fv.e[${mm * pqSub + 1}:${(mm + 1) * pqSub}], c.e),
                    p -> (p[1]-p[2])*(p[1]-p[2]))),
                  (acc, x) -> acc + x), c.cl) AS rn
            FROM v fv, ts${mm}c2 c)
          WHERE rn = 1)""").mkString(",\n")
    val sampledEncJoins = (0 until pqM).map(mm =>
      s"""JOIN enc$mm e$mm ON e$mm.vec_id = x.vec_id
          JOIN ts${mm}c2 c${mm}x ON c${mm}x.cl = e$mm.cl""").mkString("\n")
    // IVFPQ trained on ANY `tv` subset, served over the full corpus —
    // shared by x88 (md5-sampled tv), x116 (prefix-subset tv): coarse
    // + per-subspace Lloyd's over tv, fresh full-corpus assignment and
    // encode against the tv-trained payloads.
    def ivfPqTvOracle(tvCte: String, candBar: String = ""): String =
      s"""WITH v AS ($vecs),
          $tvCte,
          ${lloydCtes("t", 64, 8, 2)},
          $sampledPqSlices,
          $sampledPqLloyds,
          $sampledEncCtes,
          q AS (SELECT vec_id, e FROM v WHERE vec_id < 8),
          allasg AS (
            SELECT vec_id, cl FROM (
              SELECT v.vec_id, c.cl, row_number() OVER (
                PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c)
            WHERE rn = 1),
          probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, tc2 c
              WHERE v.vec_id < 8)
            WHERE rn <= 2)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                 round(ad, 6) AS adist
          FROM (SELECT query_id, vec_id, ad, row_number() OVER (
                  PARTITION BY query_id ORDER BY ad, vec_id) AS rank
                FROM (SELECT q.vec_id AS query_id, x.vec_id,
                             $pqAdSum AS ad
                      FROM probes p
                           JOIN allasg s ON s.cl = p.bucket$candBar
                           JOIN v x ON x.vec_id = s.vec_id
                           JOIN q ON q.vec_id = p.query_id
                      $sampledEncJoins
                      WHERE x.vec_id <> q.vec_id))
          WHERE rank <= 5"""
    val ivfPqSampledOracle: String = ivfPqTvOracle(sampledTv)
    // x116: streamed frozen-generation appends over a subset-trained
    // IVFPQ index == subset-trained payloads served over everything
    val ivfPqSubsetOracle: String = ivfPqTvOracle(
      "tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400)")
    // x91/x92: the x67 serving CTEs with EVERY vector as a query (no
    // vec_id filter in probes), k=3; x92 symmetrizes to mutual edges
    // and closes them with the x31-style recursive min-label closure,
    // labeling singletons with their own id.
    val knnGraphCtes =
      s"""probes AS (
            SELECT query_id, cl AS bucket FROM (
              SELECT v.vec_id AS query_id, c.cl,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY $kmeansD2, c.cl) AS rn
              FROM v v, c2 c)
            WHERE rn <= 2),
          knn AS (
            SELECT query_id AS src, vec_id AS dst, rank, cos
            FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                           AS rank
                  FROM probes p
                       JOIN a3 s ON s.cl = p.bucket
                       JOIN v b ON b.vec_id = s.vec_id
                       JOIN v a ON a.vec_id = p.query_id
                  WHERE b.vec_id <> p.query_id)
            WHERE rank <= 3)"""
    val knnGraphOracle: String =
      s"""WITH $kmeansCtes,
          $knnGraphCtes
          SELECT src, dst, CAST(rank AS BIGINT) AS rank, cos FROM knn"""
    // x103: the knn CTE's edges undirected, closed one neighbor hop,
    // and exact-cosine re-ranked per src — the same candidate-superset
    // + exact-re-rank definition as the engine's refinement round.
    val knnRefinedOracle: String =
      s"""WITH $kmeansCtes,
          $knnGraphCtes,
          und AS (SELECT src, dst FROM knn
                  UNION
                  SELECT dst AS src, src AS dst FROM knn),
          cand AS (SELECT src, dst FROM und
                   UNION
                   SELECT x.src, y.dst FROM und x
                   JOIN und y ON x.dst = y.src
                   WHERE y.dst <> x.src)
          SELECT src, dst, CAST(rank AS BIGINT) AS rank, cos
          FROM (SELECT c.src, c.dst, $cosPairExpr AS cos,
                       row_number() OVER (PARTITION BY c.src
                         ORDER BY $cosPairExpr DESC, c.dst ASC) AS rank
                FROM cand c JOIN v a ON a.vec_id = c.src
                     JOIN v b ON b.vec_id = c.dst)
          WHERE rank <= 3"""
    val mutualKnnOracle: String =
      s"""WITH RECURSIVE $kmeansCtes,
          $knnGraphCtes,
          mu AS (SELECT a.src AS eu, a.dst AS ev FROM knn a
                 JOIN knn b ON b.src = a.dst AND b.dst = a.src),
          reach(ru, rv) AS (
            SELECT eu, ev FROM mu
            UNION
            SELECT r.ru, e2.ev FROM reach r JOIN mu e2 ON r.rv = e2.eu),
          lbl AS (SELECT ru AS lid, least(ru, min(rv)) AS lcluster
                  FROM reach GROUP BY ru)
          SELECT v.vec_id, coalesce(l.lcluster, v.vec_id) AS cluster_id
          FROM v LEFT JOIN lbl l ON v.vec_id = l.lid"""
    // x266/x272 share the SemDeDup closure: exact in-cell cosine
    // pairs >= 0.35 over the final Lloyd's assignment, then the
    // recursive min-label component closure (the mutualKnn shape) —
    // defined once so a threshold tweak cannot desynchronize the two
    // keep policies
    val semClosureCtes: String =
      s"""pr AS (SELECT sa.vec_id AS eu, sb.vec_id AS ev
                 FROM a3 sa JOIN a3 sb
                   ON sa.cl = sb.cl AND sa.vec_id < sb.vec_id
                 JOIN v a ON a.vec_id = sa.vec_id
                 JOIN v b ON b.vec_id = sb.vec_id
                 WHERE $cosPairExpr >= 0.35),
          ed AS (SELECT eu, ev FROM pr
                 UNION SELECT ev, eu FROM pr),
          reach(ru, rv) AS (
            SELECT eu, ev FROM ed
            UNION
            SELECT r.ru, e2.ev FROM reach r JOIN ed e2 ON r.rv = e2.eu),
          lbl AS (SELECT ru AS lid, least(ru, min(rv)) AS lcluster
                  FROM reach GROUP BY ru)"""
    // x267/x271 share the NB classifier derivation: one (doc, pos, w)
    // count CTE feeds class totals, vocab, the per-token llr table,
    // and the per-doc count-weighted mean — the model definition
    // cannot desynchronize the score gate from the admission gate
    val nbLlrCtes: String =
      """tk AS (SELECT doc_id,
               (source IN ('src1','src2','src3')) AS pos,
               unnest(regexp_split_to_array(lower(trim(text)),
                 '\s+')) AS w
             FROM documents),
         tw AS (SELECT doc_id, pos, w, count(*) AS cnt
                FROM tk WHERE w <> '' GROUP BY 1, 2, 3),
         tot AS (SELECT
                   sum(CASE WHEN pos THEN cnt ELSE 0 END) AS n_pos,
                   sum(CASE WHEN NOT pos THEN cnt ELSE 0 END) AS n_neg,
                   count(DISTINCT w) AS v
                 FROM tw),
         wl AS (SELECT w,
                  ln((sum(CASE WHEN pos THEN cnt ELSE 0 END) + 1.0)
                     / (t.n_pos + t.v))
                - ln((sum(CASE WHEN NOT pos THEN cnt ELSE 0 END) + 1.0)
                     / (t.n_neg + t.v)) AS llr
                FROM tw, tot t
                GROUP BY w, t.n_pos, t.n_neg, t.v),
         nb AS (SELECT tw.doc_id,
                  CAST(sum(tw.cnt) AS BIGINT) AS n_tokens,
                  round(sum(tw.cnt * wl.llr) / sum(tw.cnt), 6)
                    AS nb_llr
                FROM tw JOIN wl USING (w)
                GROUP BY tw.doc_id)"""
    // hoisted full-query forms, shared with the x280 release-audit
    // card (which sums their keep/kept/admitted columns as derived
    // tables — one definition, two gates)
    val x267NbSql: String =
      s"""WITH $nbLlrCtes
         SELECT doc_id, n_tokens, nb_llr FROM nb
         ORDER BY doc_id ASC"""
    val x268ParetoSql: String =
      s"""WITH ${qualityCteSignals("")},
          q AS (SELECT doc_id, $qualityScoreExpr AS quality_score
                FROM qr),
          p AS (SELECT doc_id,
                  round(quality_score, 6) AS score,
                  round(power(1.0 -
                      ((('0x' || substr(md5('pareto268:'
                          || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 1048576 + 0.5) / 1048576.0),
                      ${-1.0 / 9.0}) - 1.0, 6) AS pareto_draw
                FROM q)
          SELECT doc_id, score, pareto_draw,
                 CAST(CASE WHEN pareto_draw > round(1.0 - score, 6)
                      THEN 1 ELSE 0 END AS BIGINT) AS admitted
          FROM p ORDER BY doc_id ASC"""
    val x276BlockSql: String =
      """WITH bl(w, category) AS (VALUES
           ('data','sensitive'), ('customer','pii'),
           ('vector','ml'), ('stream','ml')),
         tk AS (SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)),
                    '\s+')) AS w
                FROM documents),
         h AS (SELECT doc_id, count(*) AS n_hits,
                 count(DISTINCT tk.w) AS n_terms,
                 array_to_string(list_sort(list(DISTINCT category)),
                   ',') AS categories
               FROM tk JOIN bl ON tk.w = bl.w GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                CAST(coalesce(h.n_terms, 0) AS BIGINT) AS n_terms,
                coalesce(h.categories, '') AS categories,
                CAST(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS kept
         FROM (SELECT DISTINCT doc_id FROM documents) d
              LEFT JOIN h ON d.doc_id = h.doc_id
         ORDER BY d.doc_id ASC"""
    val x277GopherSql: String =
      """WITH t AS (SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\s+') AS toks,
                 string_split(text, chr(10)) AS lines
               FROM documents),
           s AS (SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(list_reduce(list_prepend(0,
                       list_transform(toks, x -> length(x))),
                     (a, b) -> a + b) AS BIGINT) AS n_chars,
                   CAST(length(text) - length(regexp_replace(text,
                     '[#…]', '', 'g')) AS BIGINT) AS n_sym,
                   CAST(len(list_filter(toks, x ->
                     regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                     AS n_alpha,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(list_filter(lines, x ->
                     regexp_matches(trim(x), '^[-•]'))) AS BIGINT)
                     AS n_bullet,
                   CAST(len(list_filter(lines, x ->
                     regexp_matches(trim(x), '(\.\.\.|…)$')))
                     AS BIGINT) AS n_ellipsis,
                   CAST(len(list_intersect(
                     list_transform(toks, x -> lower(x)),
                     ['the','a','of','and','to','in','is','it']))
                     AS BIGINT) AS n_stop
                 FROM t)
           SELECT doc_id, n_words, n_chars, n_sym, n_alpha, n_lines,
                  n_bullet, n_ellipsis, n_stop,
                  round(n_chars * 1.0 / n_words, 6) AS mean_word_len,
                  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                       THEN 1 ELSE 0 END AS BIGINT) AS wc_ok,
                  CAST(CASE WHEN n_chars >= 3 * n_words
                         AND n_chars <= 10 * n_words
                       THEN 1 ELSE 0 END AS BIGINT) AS mwl_ok,
                  CAST(CASE WHEN 10 * n_sym < n_words
                       THEN 1 ELSE 0 END AS BIGINT) AS sym_ok,
                  CAST(CASE WHEN 10 * n_alpha > 7 * n_words
                       THEN 1 ELSE 0 END AS BIGINT) AS alpha_ok,
                  CAST(CASE WHEN 10 * n_bullet <= n_lines
                       THEN 1 ELSE 0 END AS BIGINT) AS bullet_ok,
                  CAST(CASE WHEN 10 * n_ellipsis <= 3 * n_lines
                       THEN 1 ELSE 0 END AS BIGINT) AS ell_ok,
                  CAST(CASE WHEN n_stop >= 2
                       THEN 1 ELSE 0 END AS BIGINT) AS stop_ok,
                  CAST((CASE WHEN n_words >= 50 AND n_words <= 100000
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN n_chars >= 3 * n_words
                          AND n_chars <= 10 * n_words
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN 10 * n_sym < n_words
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN 10 * n_alpha > 7 * n_words
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN 10 * n_bullet <= n_lines
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN 10 * n_ellipsis <= 3 * n_lines
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN n_stop >= 2
                        THEN 1 ELSE 0 END) AS BIGINT) AS keep
           FROM s ORDER BY doc_id ASC"""
    // --- Wrapping 64-bit arithmetic in DuckDB, for the FNV-1a +
    // splitmix64 token hashing behind x03/x04 (TextHashExprs.hashToken).
    // DuckDB's checked BIGINT refuses overflow, so values live as
    // UBIGINT and every wrap-multiply decomposes into 32-bit halves in
    // HUGEINT space —
    //   x*C mod 2^64 = ((hi32(x)*C mod 2^32)·2^32 + lo32(x)*C) mod 2^64
    // (the hi product would overflow HUGEINT if taken un-split). Token
    // bytes come from hex(encode(tok)) pairs, so multi-byte UTF-8
    // matches the engine's byte-level fold.
    val wrapW = "18446744073709551616"
    def wrapmul(x: String, c: String) =
      s"""CAST((((($x)::HUGEINT // 4294967296) * $c % 4294967296)
          * 4294967296 + (($x)::HUGEINT % 4294967296) * $c) % $wrapW
          AS UBIGINT)"""
    def wrapadd(x: String, c: String) =
      s"CAST((($x)::HUGEINT + $c) % $wrapW AS UBIGINT)"
    def splitmix(u: String) = {
      val x1 = wrapadd(u, "11400714819323198485")
      val x2 = wrapmul(s"xor($x1, ($x1) >> 30)", "13787848793156543929")
      val x3 = wrapmul(s"xor($x2, ($x2) >> 27)", "10723151780598845931")
      s"xor($x3, ($x3) >> 31)"
    }
    // splitmix64 on the Scala side (JVM longs wrap natively) — for
    // embedding the engine's DERIVED constants (minhash seeds) as SQL
    // literals rather than re-deriving them in SQL
    def mixS(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def u64(v: Long) = java.lang.Long.toUnsignedString(v)
    val hashFromHex: String = {
      val bytesExpr =
        """list_transform(range(length(hx) // 2), i ->
           CAST((strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1))-1)*16
              + strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1))-1
             AS UBIGINT))"""
      val fnv =
        s"""list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT),
            $bytesExpr), (acc, b) -> ${wrapmul("xor(acc, b)", "1099511628211")})"""
      splitmix(fnv)
    }
    // token-hash array per doc (shared CTE body for x03/x04; `src` lets
    // a gate swap the scanned relation for a fixture CTE — x250)
    def tokenHashCtesFrom(src: String, filter: String) =
      s"""t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM $src$filter),
          th AS (SELECT doc_id,
                   list_transform(list_transform(toks,
                       tok -> hex(encode(tok))),
                     hx -> $hashFromHex) AS th
                 FROM t)"""
    def tokenHashCtes(filter: String) =
      tokenHashCtesFrom("documents", filter)
    // x04: full SimHash recomputation, then brute-force ALL Hamming<=7
    // pairs — equal to the engine's banded+verified output BY THE
    // ENFORCED RECALL CONTRACT (maxHamming < bands*(probeBits+1)
    // rejects configs where banding could miss).
    def simhashShCteFrom(src: String): String = {
      val pows = (0 until 64).map(b =>
        s"CAST(${u64(1L << b)} AS UBIGINT)").mkString(", ")
      s"""${tokenHashCtesFrom(src, "")},
          sh AS (SELECT doc_id,
                   CAST(list_sum(list_transform([$pows], p ->
                     CASE WHEN list_sum(list_transform(th, h ->
                            CASE WHEN (h & p) != CAST(0 AS UBIGINT)
                                 THEN 1 ELSE -1 END)) > 0
                          THEN p ELSE CAST(0 AS UBIGINT) END))
                     AS UBIGINT) AS sh
                 FROM th)"""
    }
    val simhashShCte: String = simhashShCteFrom("documents")
    // x251/x255: the URL fixture + every canonicalization rule as
    // staged string CTEs → c(doc_id, canonical_url)
    val urlCanonicalCtes: String =
      """u AS (SELECT doc_id,
               (CASE doc_id % 2 WHEN 0 THEN 'HTTP' ELSE 'https' END)
               || '://' ||
               (CASE doc_id % 3 WHEN 0 THEN 'Example.COM'
                     WHEN 1 THEN 'example.com'
                     ELSE 'News.Example.com' END) ||
               (CASE doc_id % 4
                     WHEN 0 THEN (CASE doc_id % 2 WHEN 0 THEN ':80'
                                       ELSE ':443' END)
                     WHEN 1 THEN ':8080' ELSE '' END) ||
               '/a/' || (doc_id % 7) ||
               (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
               (CASE doc_id % 6 WHEN 0 THEN '?b=2&a=1'
                     WHEN 1 THEN '?a=1&b=2' WHEN 2 THEN ''
                     ELSE '?x=' || (doc_id % 11) END) ||
               (CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END)
                 AS url
             FROM documents),
           v1 AS (SELECT doc_id,
                    regexp_replace(url, '#.*$', '') AS nf
                  FROM u),
           v2 AS (SELECT doc_id,
                    lower(regexp_extract(nf,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
                    regexp_replace(nf,
                      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
                  FROM v1),
           v3 AS (SELECT doc_id, sch,
                    lower(regexp_extract(rest, '^([^/?]*)', 1))
                      AS auth,
                    regexp_replace(rest, '^[^/?]*', '') AS pq
                  FROM v2),
           v4 AS (SELECT doc_id, sch,
                    regexp_extract(auth, '^([^:]*)', 1) AS hst,
                    regexp_extract(auth, ':([0-9]+)$', 1) AS prt,
                    regexp_replace(regexp_extract(pq, '^([^?]*)', 1),
                      '/+$', '') AS pth,
                    coalesce(array_to_string(list_sort(list_filter(
                      string_split(regexp_extract(pq, '\?(.*)$', 1),
                        '&'), p -> p <> '')), '&'), '') AS qsort
                  FROM v3),
           c AS (SELECT doc_id, sch || '://' || hst ||
                   (CASE WHEN prt = '' OR (sch = 'http' AND prt = '80')
                         OR (sch = 'https' AND prt = '443') THEN ''
                         ELSE ':' || prt END) || pth ||
                   (CASE WHEN qsort = '' THEN ''
                         ELSE '?' || qsort END) AS canonical_url
                 FROM v4 WHERE sch <> '' AND hst <> '')"""
    // x252/x256/x257: the GIF fixture's per-frame dHash, doc-level
    // distinct hash sets, and the exploded/size views every
    // containment read shares
    val frameHashCtes: String =
      """fr AS (SELECT doc_id,
               4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
               unnest(range(0, 2 + doc_id % 3)) AS f
             FROM documents),
           dh AS (SELECT doc_id, f,
               CAST(list_sum([
                 CASE WHEN (doc_id + ((((i % 8) + 1) * w) // 9)
                            + (((i // 8) * h) // 7) + f) % 256
                         > (doc_id + (((i % 8) * w) // 9)
                            + (((i // 8) * h) // 7) + f) % 256
                      THEN (1::BIGINT << i) ELSE 0::BIGINT END
                 for i in range(56)]) AS BIGINT) AS dhash
             FROM fr),
           st AS (SELECT doc_id, list_distinct(list(dhash)) AS s
                  FROM dh GROUP BY doc_id),
           e AS (SELECT doc_id, unnest(s) AS v FROM st),
           sz AS (SELECT doc_id, len(s) AS z FROM st)"""
    // x258/x259/x261: the host fixture's canonical form, closed-form
    // (the canonicalization rules x251 validates against the full
    // regex replay: lowered scheme/host, non-default port kept,
    // trailing slash trimmed)
    val hostCte: String =
      """hu AS (SELECT doc_id,
               'h' || (doc_id % 17) || '.example.com' AS host,
               (CASE doc_id % 2 WHEN 0 THEN 'http' ELSE 'https' END)
               || '://h' || (doc_id % 17) || '.example.com' ||
               (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
               '/p/' || (doc_id % 7) AS canonical_url
             FROM documents)"""
    // x264: one chunk-dedup pipeline instance over `corpus`, reported
    // for docs >= 150, CTEs prefix-parameterized so two instances
    // (as-of vs latest) compose in one UNION (each side parenthesized
    // — the DuckDB CTE-in-subquery rule)
    def chunkAsOfSql(p: String, corpus: String, label: String): String =
      s"""(WITH ${p}t AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents WHERE $corpus),
         ${p}n AS (SELECT doc_id, toks,
             CAST(ceil(len(toks) / 2.0) AS BIGINT) AS n_chunks
           FROM ${p}t),
         ${p}ck AS (SELECT doc_id, unnest(range(0, n_chunks)) AS idx,
             toks
           FROM ${p}n),
         ${p}c2 AS (SELECT doc_id, idx,
             array_to_string(toks[idx*2+1:idx*2+2], ' ') AS chunk
           FROM ${p}ck),
         ${p}fst AS (SELECT chunk,
             min(doc_id * 4294967296 + idx) AS k
           FROM ${p}c2 GROUP BY chunk),
         ${p}kp AS (SELECT k // 4294967296 AS doc_id,
             k % 4294967296 AS idx
           FROM ${p}fst),
         ${p}kl AS (SELECT doc_id, list_sort(list(idx)) AS kept
           FROM ${p}kp GROUP BY doc_id)
         SELECT '$label' AS as_of, n.doc_id, n.n_chunks,
           CAST(COALESCE(len(kl.kept), 0) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(
             [array_to_string(n.toks[i*2+1:i*2+2], ' ')
              for i in kl.kept], ' '), '') AS dedup_text
         FROM ${p}n n LEFT JOIN ${p}kl kl ON n.doc_id = kl.doc_id
         WHERE n.doc_id >= 150)"""
    // x273/x274: the CDC (content-defined) twin of chunkAsOfSql —
    // md5-slot boundaries (% 8, salt cdc269), running-sum chunk ids,
    // global first-occurrence over the cumulative `corpus`, rewritten
    // docs served for doc_id >= serveFrom. Prefix-parameterized so
    // as-of and latest instances compose in one UNION.
    def cdcAsOfSql(p: String, corpus: String, label: String,
        serveFrom: Int): String =
      s"""(WITH ${p}t AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents WHERE $corpus),
         ${p}wp AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
             toks
           FROM ${p}t),
         ${p}f AS (SELECT doc_id, pos, toks[pos+1] AS w,
             CASE WHEN ('0x' || substr(md5('cdc269:'
                 || toks[pos+1]), 1, 8))::BIGINT % 8 = 0
             THEN 1 ELSE 0 END AS b
           FROM ${p}wp),
         ${p}c AS (SELECT doc_id, pos, w,
             CAST(coalesce(sum(b) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cidx
           FROM ${p}f),
         ${p}ch AS (SELECT doc_id, cidx,
             string_agg(w, ' ' ORDER BY pos) AS chunk
           FROM ${p}c GROUP BY doc_id, cidx),
         ${p}fst AS (SELECT chunk,
             min(doc_id * 4294967296 + cidx) AS k
           FROM ${p}ch GROUP BY chunk),
         ${p}kp AS (SELECT k // 4294967296 AS doc_id,
             k % 4294967296 AS cidx
           FROM ${p}fst),
         ${p}kt AS (SELECT ch.doc_id, count(*) AS n_kept,
             string_agg(ch.chunk, ' ' ORDER BY ch.cidx) AS dedup_text
           FROM ${p}ch ch JOIN ${p}kp kp ON ch.doc_id = kp.doc_id
                  AND ch.cidx = kp.cidx
           GROUP BY ch.doc_id),
         ${p}nc AS (SELECT doc_id, count(*) AS n_chunks FROM ${p}ch
           GROUP BY doc_id)
         SELECT '$label' AS as_of, nc.doc_id,
           CAST(nc.n_chunks AS BIGINT) AS n_chunks,
           CAST(coalesce(kt.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(kt.dedup_text, '') AS dedup_text
         FROM ${p}nc nc LEFT JOIN ${p}kt kt ON nc.doc_id = kt.doc_id
         WHERE nc.doc_id >= $serveFrom)"""
    val simhashOracle: String =
      s"""WITH $simhashShCte
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh, b.sh)) <= 7"""
    // x03: full MinHash-LSH recomputation — 3-gram window hashes staged
    // LEVEL BY LEVEL (nesting the fold textually would duplicate each
    // level ~16x), the engine's 64 (a_i·h + b_i) mod (2^61-1)
    // permutation minima with the a/b seeds precomputed HERE via the
    // same splitmix64, then band-slice equality joins (the engine
    // buckets on xxhash64 OF the slice; equality of slices is the same
    // relation modulo hash collisions) and the exact est_jaccard
    // verify. Duplicate windows (the engine's ShingleHashes dedupes)
    // are harmless: permutation MINIMA ignore multiplicity.
    val (minhashSigCtes, minhashOracle): (String, String) = {
      val fnvP = "1099511628211"
      val c0 = u64(0x9e3779b97f4a7c15L * 0x100000001b3L) // h0·prime
      val p61 = "2305843009213693951"
      val seeds = (0 until 64).map(i =>
        (mixS(0x517cc1b727220a95L + i) | 1L, mixS(0x2545f4914f6cdd1dL + i)))
      val sigElems = seeds.map { case (a, b) =>
        s"""list_min(list_transform(wh, h -> CAST(${
          wrapadd(wrapmul("h", u64(a)), u64(b))} % $p61 AS BIGINT)))"""
      }.mkString(", ")
      val lvl1 = splitmix(s"xor(CAST($c0 AS UBIGINT), th[i+1])")
      val lvl2 = splitmix(s"xor(${wrapmul("l1[i+1]", fnvP)}, th[i+2])")
      val lvl3 = splitmix(s"xor(${wrapmul("l2[i+1]", fnvP)}, th[i+3])")
      val sigCtes =
        s"""${tokenHashCtes(
            " WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3")},
          w1 AS (SELECT doc_id, th,
                   list_transform(range(len(th)-2), i -> $lvl1) AS l1
                 FROM th),
          w2 AS (SELECT doc_id, th,
                   list_transform(range(len(th)-2), i -> $lvl2) AS l2
                 FROM w1),
          w3 AS (SELECT doc_id,
                   list_transform(range(len(th)-2), i -> $lvl3) AS wh
                 FROM w2),
          sig AS (SELECT doc_id, [$sigElems] AS sig FROM w3),
          banded AS (SELECT doc_id, sig, b, sig[4*b+1:4*b+4] AS sl
                     FROM sig, range(16) AS r(b))"""
      val pairs =
        s"""WITH $sigCtes,
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM banded a JOIN banded b
                     ON a.b = b.b AND a.sl = b.sl
                        AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b,
                 round(len(list_filter(list_zip(sa.sig, sb.sig),
                   p -> p[1] = p[2])) / 64.0, 6) AS est_jaccard
          FROM cand JOIN sig sa ON sa.doc_id = doc_a
               JOIN sig sb ON sb.doc_id = doc_b
          WHERE round(len(list_filter(list_zip(sa.sig, sb.sig),
                  p -> p[1] = p[2])) / 64.0, 6) >= 0.5"""
      (sigCtes, pairs)
    }
    // x118/x119 incremental near-dup admission: incoming (doc_id >=
    // probeCut, default = cut) is REJECTED iff a banded collision with
    // the indexed corpus (doc_id < cut) verifies at est >= 0.5; short
    // docs carry no sig and admit unconditionally (they are absent
    // from the sig CTEs)
    // `corpusExtra`: extra predicate on the INDEXED side (x125 bars
    // tombstoned docs from blocking admission); `probeCut` decouples
    // the probe batch from the corpus bound (x155's as-of replay
    // admits the >=400 batch against the frozen <250 snapshot)
    def minhashAdmitOracle(cut: Int, corpusExtra: String = "",
        probeCut: Int = -1): String = {
      val pc = if (probeCut < 0) cut else probeCut
      s"""WITH $minhashSigCtes,
          rej AS (SELECT DISTINCT b.doc_id
                  FROM banded a JOIN banded b
                    ON a.b = b.b AND a.sl = b.sl
                   AND a.doc_id < $cut $corpusExtra
                   AND b.doc_id >= $pc
                  JOIN sig sa ON sa.doc_id = a.doc_id
                  JOIN sig sb ON sb.doc_id = b.doc_id
                  WHERE round(len(list_filter(list_zip(sa.sig, sb.sig),
                          p -> p[1] = p[2])) / 64.0, 6) >= 0.5)
          SELECT d.doc_id FROM documents d
          WHERE d.doc_id >= $pc
            AND d.doc_id NOT IN (SELECT doc_id FROM rej)"""
    }
    // rolling-hash fingerprint (must mirror TextAnalysis.fingerprint)
    val fp =
      """list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(regexp_split_to_array(trim(text), '\s+'),
               t -> (ascii(t)*131 + length(t)*137
                     + ascii(right(t,1))*139) % 2147483647)),
           (acc, x) -> (acc*31 + x) % 2147483647)"""
    val splitCase =
      s"""CASE WHEN $fp % 100 < 80 THEN 'train'
               WHEN $fp % 100 < 90 THEN 'val'
               ELSE 'test' END"""
    // x02's exact Jaccard pairs → undirected edges → recursive min-label
    // closure: `lbl` maps every paired doc to its component's min id
    // (shared by the x31/x32 oracles; queries prefix WITH RECURSIVE)
    // shared shingle-set pair machinery (t/s/e/sz/p) for every 5-gram
    // pair oracle (x31/x32/x37 closure, x49 containment)
    val pairClosureBase =
      """t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents),
         s AS (SELECT doc_id,
                 list_distinct([array_to_string(toks[i+1:i+5], ' ')
                                for i in range(len(toks)-4)]) AS sh
               FROM t WHERE len(toks) >= 5),
         e AS (SELECT doc_id, unnest(sh) AS s FROM s),
         sz AS (SELECT doc_id, len(sh) AS z FROM s),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*) AS shared
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)"""
    val pairClosure =
      s"""$pairClosureBase,
         pr AS (SELECT doc_a, doc_b
                FROM p JOIN sz x ON p.doc_a = x.doc_id
                       JOIN sz y ON p.doc_b = y.doc_id
                WHERE round(shared*1.0/(x.z + y.z - shared), 6) >= 0.5),
         ed AS (SELECT doc_a AS eu, doc_b AS ev FROM pr
                UNION SELECT doc_b, doc_a FROM pr),
         reach(ru, rv) AS (
           SELECT eu, ev FROM ed
           UNION
           SELECT r.ru, e2.ev FROM reach r JOIN ed e2 ON r.rv = e2.eu),
         lbl AS (SELECT ru AS lid, least(ru, min(rv)) AS lcluster
                 FROM reach GROUP BY ru)"""
    // quality score per doc (mirrors TextAnalysis.qualityScore) — the
    // signal body and formula come from the SHARED fragments above
    val qualityCte =
      s"""${qualityCteSignals("")},
         q AS (
           SELECT doc_id, $qualityScoreExpr AS quality_score
           FROM qr)"""

    // x82's unrolled integer power rounds (mirrors Graph.pageRank:
    // rank0 = scale, contrib = rank // outdeg, rank' = base + 85·Σ//100
    // — all BIGINT, so the unroll is bit-exact, not approximate).
    // Parameterized over the teleport term + node table so the x144
    // personalized variant shares the ONE round definition (a round-
    // shape fix cannot desynchronize the two oracles).
    def prRoundsWith(baseExpr: String, nodeTable: String): String =
      (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS id, sum(r.rank // od.outdeg) AS s
                 FROM e JOIN r${i - 1} r ON e.src = r.id
                        JOIN od ON e.src = od.src
                 GROUP BY 1),
         r$i AS (SELECT n.id,
                   CAST($baseExpr + (85 * coalesce(c.s, 0)) // 100
                     AS BIGINT) AS rank
                 FROM $nodeTable n LEFT JOIN c$i c ON n.id = c.id)"""
      }.mkString(",\n         ")
    val prRounds = prRoundsWith("150000000", "n")
    // x144's personalized rounds: the SAME round definition with the
    // per-node teleport base joined from nb (seeds get the conserved
    // split, others 0)
    val pprRounds = prRoundsWith("n.base", "nb")
    // x86's weighted rounds: contributions are (rank·w) // outw — the
    // proportional-distribution form of prRounds (same base/damp/CAST
    // discipline; integer products bounded by the engine's enforced
    // overflow contract). Parameterized over the teleport term + node
    // table exactly like prRoundsWith, so the x147 weighted-
    // personalized variant shares the ONE weighted round definition.
    def prWRoundsWith(baseExpr: String, nodeTable: String): String =
      (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS id, sum((r.rank * e.w) // ow.outw) AS s
                 FROM e JOIN r${i - 1} r ON e.src = r.id
                        JOIN ow ON e.src = ow.src
                 GROUP BY 1),
         r$i AS (SELECT n.id,
                   CAST($baseExpr + (85 * coalesce(c.s, 0)) // 100
                     AS BIGINT) AS rank
                 FROM $nodeTable n LEFT JOIN c$i c ON n.id = c.id)"""
      }.mkString(",\n         ")
    val prWRounds = prWRoundsWith("150000000", "n")
    // x147's rounds: weighted propagation + the x144 per-node teleport
    val pprWRounds = prWRoundsWith("n.base", "nb")
    // x148's unrolled peel rounds over the both-direction adjacency
    // e0: round i keeps edges whose BOTH endpoints still have degree
    // ≥ k. The k-core is a fixpoint, so unrolling more rounds than the
    // engine needs is a no-op (measured 2 rounds at sf0.01/sf0.1,
    // 1 at sf0.001; 4 unrolled for margin).
    def kcoreRounds(k: Int, rounds: Int): String =
      (1 to rounds).map { i =>
        s"""a$i AS (SELECT src FROM e${i - 1}
                 GROUP BY src HAVING count(*) >= $k),
         e$i AS (SELECT t.src, t.dst FROM e${i - 1} t
                 JOIN a$i x ON t.src = x.src
                 JOIN a$i y ON t.dst = y.src)"""
      }.mkString(",\n         ")
    // x160's unrolled SEMI-synchronous bipartite rounds over `ed`
    // (l, r): right side adopts the left argmax, then left adopts the
    // just-updated right — same (cnt DESC, lbl ASC) argmax as x156.
    // Right ids stay UBIGINT (raw shingle hashes): they are only ever
    // JOIN keys, and unsigned-vs-signed encoding is a bijection;
    // every ordered/compared label is a left (doc) id.
    def lpaBipRounds(rounds: Int): String =
      (1 to rounds).map { i =>
        s"""rv$i AS (SELECT ed.r AS id, l.lbl, count(*) AS cnt
                 FROM ed JOIN d${i - 1} l ON ed.l = l.id GROUP BY 1, 2),
         rs$i AS (SELECT id, lbl FROM (
                   SELECT id, lbl, row_number() OVER (
                     PARTITION BY id
                     ORDER BY cnt DESC, lbl ASC) AS rn
                   FROM rv$i) WHERE rn = 1),
         lv$i AS (SELECT ed.l AS id, r.lbl, count(*) AS cnt
                 FROM ed JOIN rs$i r ON ed.r = r.id GROUP BY 1, 2),
         d$i AS (SELECT id, lbl FROM (
                   SELECT id, lbl, row_number() OVER (
                     PARTITION BY id
                     ORDER BY cnt DESC, lbl ASC) AS rn
                   FROM lv$i) WHERE rn = 1)"""
      }.mkString(",\n         ")
    // x156's unrolled synchronous LPA rounds over the both-direction
    // `adj`: vote = neighbor-label count, argmax with the SMALLEST
    // label on ties — the engine's max(struct(cnt, −lbl)) exactly
    def lpaRounds(rounds: Int): String =
      (1 to rounds).map { i =>
        s"""v$i AS (SELECT a.src AS id, l.lbl, count(*) AS cnt
                 FROM adj a JOIN l${i - 1} l ON a.dst = l.id
                 GROUP BY 1, 2),
         l$i AS (SELECT id, lbl FROM (
                   SELECT id, lbl, row_number() OVER (
                     PARTITION BY id
                     ORDER BY cnt DESC, lbl ASC) AS rn
                   FROM v$i) WHERE rn = 1)"""
      }.mkString(",\n         ")
    // x165's unrolled BPE training rounds over the w0 word-frequency
    // table. Round i: p = adjacent-pair counts, b = the (f DESC, l, r)
    // argmax, then the DECLARATIVE form of the engine's leftmost fold:
    // mergeable positions (mg) → gaps-and-islands run grouping (grp,
    // only l = r pairs can form runs > 1) → select odd positions within
    // each run (sel) → rebuild (merged token at sel, drop the consumed
    // right neighbor, keep the rest). w$i MATERIALIZED: each CTE is
    // referenced twice per round — inlining would double the chain per
    // level. Dry-round guard: if a round finds NO adjacent pairs
    // (every word fully merged), b$i emits one all-NULL sentinel row
    // instead of going empty — the t$i cross join then keeps w$i equal
    // to w(i-1) (mg coalesces to false everywhere), matching the
    // engine's stop-early/keep-last-table semantics instead of
    // collapsing every later round to empty.
    def bpeRounds(rounds: Int): String =
      (1 to rounds).map { i =>
        s"""p$i AS (SELECT syms[j] AS l, syms[j + 1] AS r,
                   sum(freq) AS f
                 FROM w${i - 1}, unnest(range(1, len(syms))) AS u(j)
                 GROUP BY 1, 2),
         b$i AS (SELECT l, r, f FROM (
                   SELECT l, r, f FROM p$i
                   ORDER BY f DESC, l ASC, r ASC LIMIT 1)
                 UNION ALL
                 SELECT NULL, NULL, NULL
                 WHERE NOT EXISTS (SELECT 1 FROM p$i)),
         t$i AS (SELECT w.word, w.freq, u.j, w.syms[u.j] AS s,
                   w.syms[u.j + 1] AS nxt,
                   coalesce(w.syms[u.j] = b.l
                     AND w.syms[u.j + 1] = b.r, false) AS mg
                 FROM w${i - 1} w, b$i b,
                      unnest(range(1, len(w.syms) + 1)) AS u(j)),
         g$i AS (SELECT word, freq, s, nxt, j, mg,
                   CASE WHEN mg THEN j - row_number() OVER (
                     PARTITION BY word, mg ORDER BY j) END AS grp
                 FROM t$i),
         s$i AS (SELECT word, freq, s, nxt, j,
                   mg AND (row_number() OVER (
                     PARTITION BY word, grp ORDER BY j) % 2 = 1)
                     AS sel
                 FROM g$i),
         k$i AS (SELECT word, freq, j,
                   CASE WHEN sel THEN s || nxt
                        WHEN NOT coalesce(lag(sel) OVER (
                          PARTITION BY word ORDER BY j), false) THEN s
                   END AS tok
                 FROM s$i),
         w$i AS MATERIALIZED (
                 SELECT word, min(freq) AS freq,
                        list(tok ORDER BY j) AS syms
                 FROM k$i WHERE tok IS NOT NULL GROUP BY word)"""
      }.mkString(",\n         ")
    // x170's unrolled BFS rounds over the both-direction `adj`:
    // hop = min over rounds of first-reach round — a node reached at
    // round i enters with hop i; re-reaches at later rounds lose the
    // min. Unrolling past the fixture's diameter is a no-op at the
    // fixpoint, exactly the kcoreRounds convention.
    def bfsRounds(rounds: Int): String =
      (1 to rounds).map { i =>
        s"""l$i AS MATERIALIZED (
                 SELECT id, min(hop) AS hop FROM (
                   SELECT id, hop FROM l${i - 1}
                   UNION ALL
                   SELECT a.dst AS id, CAST($i AS BIGINT) AS hop
                   FROM adj a JOIN l${i - 1} l ON a.src = l.id)
                 GROUP BY id)"""
      }.mkString(",\n         ")

    // the x165 base table: lowercase letter-run words at character
    // granularity (mirrors TextAnalysis.bpeWords; the len >= 2 filter
    // is an engine-side optimization — 1-char words carry no pairs)
    val bpeW0 =
      """w0 AS MATERIALIZED (
           SELECT word, count(*) AS freq,
                  list_transform(range(1, len(word) + 1),
                    i -> word[i:i]) AS syms
           FROM (SELECT unnest(regexp_extract_all(lower(text),
                   '[a-z]+')) AS word FROM documents)
           GROUP BY word)"""

    Map(
      "x01_dedup_exact" ->
        """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
           FROM documents GROUP BY text""",

      "x02_ngram_jaccard" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents),
           s AS (SELECT doc_id,
                   list_distinct([array_to_string(toks[i+1:i+5], ' ')
                                  for i in range(len(toks)-4)]) AS sh
                 FROM t WHERE len(toks) >= 5),
           e AS (SELECT doc_id, unnest(sh) AS s FROM s),
           sz AS (SELECT doc_id, len(sh) AS z FROM s),
           p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        count(*) AS shared
                 FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
           SELECT doc_a, doc_b,
                  round(shared*1.0/(x.z + y.z - shared), 6) AS jaccard
           FROM p JOIN sz x ON p.doc_a = x.doc_id
                  JOIN sz y ON p.doc_b = y.doc_id
           WHERE round(shared*1.0/(x.z + y.z - shared), 6) >= 0.5""",

      "x03_minhash_pairs" -> minhashOracle,
      "x118_minhash_index_admit" -> minhashAdmitOracle(250),
      // x247: two batches replayed sequentially over the full
      // replicated signature pipeline — batch 1 (%5=4) admits against
      // the base ledger (%5 in 1,2,3), batch 2 (%5=0) against base
      // plus batch 1's admissions
      "x247_stream_minhash_admit" ->
        s"""WITH $minhashSigCtes,
          r1 AS (SELECT DISTINCT b.doc_id
                 FROM banded a JOIN banded b
                   ON a.b = b.b AND a.sl = b.sl
                  AND a.doc_id % 5 IN (1, 2, 3) AND b.doc_id % 5 = 4
                 JOIN sig sa ON sa.doc_id = a.doc_id
                 JOIN sig sb ON sb.doc_id = b.doc_id
                 WHERE round(len(list_filter(list_zip(sa.sig, sb.sig),
                         p -> p[1] = p[2])) / 64.0, 6) >= 0.5),
          a1 AS (SELECT d.doc_id FROM documents d
                 WHERE d.doc_id % 5 = 4
                   AND d.doc_id NOT IN (SELECT doc_id FROM r1)),
          r2 AS (SELECT DISTINCT b.doc_id
                 FROM banded a JOIN banded b
                   ON a.b = b.b AND a.sl = b.sl
                  AND (a.doc_id % 5 IN (1, 2, 3)
                       OR a.doc_id IN (SELECT doc_id FROM a1))
                  AND b.doc_id % 5 = 0
                 JOIN sig sa ON sa.doc_id = a.doc_id
                 JOIN sig sb ON sb.doc_id = b.doc_id
                 WHERE round(len(list_filter(list_zip(sa.sig, sb.sig),
                         p -> p[1] = p[2])) / 64.0, 6) >= 0.5),
          a2 AS (SELECT d.doc_id FROM documents d
                 WHERE d.doc_id % 5 = 0
                   AND d.doc_id NOT IN (SELECT doc_id FROM r2))
          SELECT doc_id FROM
            (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
          ORDER BY doc_id ASC""",
      // x125: deleted indexed docs cannot block admission
      "x125_minhash_index_delete" ->
        minhashAdmitOracle(250, "AND a.doc_id % 4 <> 2"),
      // after the append the corpus is everything below 400
      "x119_minhash_index_append" -> minhashAdmitOracle(400),
      // x153: live sub-400 corpus (x119) minus the deleted ids (x125)
      // — compaction must not move a single admission decision
      "x153_minhash_index_compact" ->
        minhashAdmitOracle(400, "AND a.doc_id % 4 <> 2"),
      // x155: as-of replay — the >=400 probe judged by the sub-250
      // BASE corpus only (the committed b1 append is invisible at the
      // pinned pre-append version)
      "x155_minhash_time_travel" ->
        minhashAdmitOracle(250, probeCut = 400),

      "x04_simhash_pairs" -> simhashOracle,
      // x250: x04's brute-force pair SQL over the boilerplate fixture
      // (docs < 40 plus 500 byte-identical copies of doc 7's text
      // under ids 1000000+i)
      "x250_sig_collapse_pairs" -> {
        val fixture =
          """fixture AS (
               SELECT doc_id, text FROM documents WHERE doc_id < 40
               UNION ALL
               SELECT 1000000 + i AS doc_id,
                      (SELECT text FROM documents WHERE doc_id = 7)
                        AS text
               FROM range(500) r(i))"""
        s"""WITH $fixture,
            ${simhashShCteFrom("fixture")}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 7
            ORDER BY doc_a ASC, doc_b ASC"""
      },
      // x251: the URL fixture and every canonicalization rule replayed
      // as staged string CTEs — strip fragment, lowercase scheme +
      // authority, drop default port, trim trailing slashes, sort
      // query params — then the exact group-by dedup
      "x251_url_canonical_dedup" ->
        s"""WITH $urlCanonicalCtes
           SELECT regexp_extract(canonical_url,
                    '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host,
                  canonical_url,
                  CAST(min(doc_id) AS BIGINT) AS keep_id,
                  CAST(count(*) AS BIGINT) AS n_copies
           FROM c GROUP BY canonical_url
           ORDER BY canonical_url ASC""",
      // x255: the brute-force admission decision over canonical URL
      // STRINGS — incoming (%4=0) admitted iff no ledgered doc
      // (%4<>0) shares its canonical URL; equal to the engine's
      // radius-0 hash-ledger decision modulo 64-bit hash collisions
      "x255_url_ledger_admit" ->
        s"""WITH $urlCanonicalCtes
           SELECT i.doc_id FROM c i
           WHERE i.doc_id % 4 = 0 AND NOT EXISTS (
             SELECT 1 FROM c x
             WHERE x.doc_id % 4 <> 0
               AND x.canonical_url = i.canonical_url)
           ORDER BY i.doc_id ASC""",
      // x252/x256/x257: per-frame dHash recomputed closed-form from
      // the GIF fixture (frame f pixel (x,y) gray = (id+x+y+f)%256,
      // dims w=4+id%13 h=3+id%7, frames 2+id%3; grid sample
      // sx=gx*w//9, sy=gy*h//7, bit gy*8+gx set iff right neighbor
      // brighter), then set containment C = |A∩B|/min cross-side
      "x252_video_frame_neardup" ->
        s"""WITH $frameHashCtes,
           p AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        count(*) AS shared
                 FROM e a JOIN e b ON a.v = b.v
                 WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
                 GROUP BY 1, 2),
           rej AS (SELECT DISTINCT da
                   FROM p JOIN sz x ON p.da = x.doc_id
                          JOIN sz y ON p.db = y.doc_id
                   WHERE round(shared * 1.0 / least(x.z, y.z), 6)
                         >= 0.5)
           SELECT doc_id FROM documents
           WHERE doc_id % 4 = 0
             AND doc_id NOT IN (SELECT da FROM rej)
           ORDER BY doc_id ASC""",
      // x256: the two stream batches replayed sequentially over the
      // frame-hash sets (greedy earlier-batch-wins on containment)
      "x256_stream_video_admit" ->
        s"""WITH $frameHashCtes,
           led AS (SELECT doc_id FROM st WHERE doc_id < 2),
           p1 AS (SELECT a.doc_id AS da, b.doc_id AS db,
                         count(*) AS shared
                  FROM e a JOIN e b ON a.v = b.v
                  WHERE a.doc_id >= 10 AND a.doc_id < 60
                    AND b.doc_id IN (SELECT doc_id FROM led)
                  GROUP BY 1, 2),
           r1 AS (SELECT DISTINCT da FROM p1
                  JOIN sz x ON p1.da = x.doc_id
                  JOIN sz y ON p1.db = y.doc_id
                  WHERE round(shared * 1.0 / least(x.z, y.z), 6)
                        >= 0.5),
           a1 AS (SELECT doc_id FROM st
                  WHERE doc_id >= 10 AND doc_id < 60
                    AND doc_id NOT IN (SELECT da FROM r1)),
           idx1 AS (SELECT doc_id FROM led
                    UNION ALL SELECT doc_id FROM a1),
           p2 AS (SELECT a.doc_id AS da, b.doc_id AS db,
                         count(*) AS shared
                  FROM e a JOIN e b ON a.v = b.v
                  WHERE a.doc_id >= 60 AND a.doc_id < 110
                    AND b.doc_id IN (SELECT doc_id FROM idx1)
                  GROUP BY 1, 2),
           r2 AS (SELECT DISTINCT da FROM p2
                  JOIN sz x ON p2.da = x.doc_id
                  JOIN sz y ON p2.db = y.doc_id
                  WHERE round(shared * 1.0 / least(x.z, y.z), 6)
                        >= 0.5),
           a2 AS (SELECT doc_id FROM st
                  WHERE doc_id >= 60 AND doc_id < 110
                    AND doc_id NOT IN (SELECT da FROM r2))
           SELECT doc_id FROM
             (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
           ORDER BY doc_id ASC""",
      // x257: exact components via the recursive reachability closure
      // over the brute-force set-containment pair set (the x203 shape
      // on the frame-hash axis)
      "x257_video_canonical" ->
        s"""WITH RECURSIVE $frameHashCtes,
           pp AS (SELECT a.doc_id AS da, b.doc_id AS db,
                         count(*) AS shared
                  FROM e a JOIN e b
                    ON a.v = b.v AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
           pr AS (SELECT da AS doc_a, db AS doc_b FROM pp
                  JOIN sz x ON pp.da = x.doc_id
                  JOIN sz y ON pp.db = y.doc_id
                  WHERE round(shared * 1.0 / least(x.z, y.z), 6)
                        >= 0.5),
           ed AS (SELECT doc_a AS eu, doc_b AS ev FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
           reach(ru, rv) AS (
             SELECT eu, ev FROM ed
             UNION
             SELECT r.ru, e2.ev FROM reach r JOIN ed e2
               ON r.rv = e2.eu),
           lbl AS (SELECT ru AS lid, least(ru, min(rv)) AS lcluster
                   FROM reach GROUP BY ru),
           cl AS (SELECT d.doc_id,
                    coalesce(l.lcluster, d.doc_id) AS cluster_id
                  FROM (SELECT doc_id FROM documents) d
                  LEFT JOIN lbl l ON d.doc_id = l.lid)
           SELECT cluster_id, CAST(min(doc_id) AS BIGINT) AS keep_id,
                  CAST(count(*) AS BIGINT) AS n_members
           FROM cl GROUP BY 1 ORDER BY cluster_id ASC""",
      // x258: per-host rollup of the quality signals over canonical
      // hosts; the DECIMAL sum mirrors the engine's exact-sum-then-
      // one-divide mean
      "x258_host_quality_stats" ->
        s"""WITH $hostCte, $qualityCte
           SELECT hu.host,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  round(CAST(sum(CAST(q.quality_score
                      AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
                    AS mean_quality,
                  CAST(sum(qr.n_tokens) AS BIGINT) AS n_tokens,
                  CAST(count(DISTINCT hu.canonical_url) AS BIGINT)
                    AS n_urls
           FROM hu JOIN qr ON hu.doc_id = qr.doc_id
                   JOIN q ON hu.doc_id = q.doc_id
           GROUP BY hu.host ORDER BY hu.host ASC""",
      // x259: the budget decision replayed brute-force — prior counts
      // from the pre-ledgered slice, ascending-id rank within the
      // batch, admit iff prior + rank <= cap
      "x259_host_budget_cap" ->
        s"""WITH $hostCte,
           pri AS (SELECT host, count(*) AS np FROM hu
                   WHERE doc_id % 10 = 0 GROUP BY host),
           r AS (SELECT doc_id, host,
                   row_number() OVER (PARTITION BY host
                     ORDER BY doc_id ASC) AS rn
                 FROM hu WHERE doc_id % 10 <> 0)
           SELECT r.doc_id, r.host
           FROM r LEFT JOIN pri ON r.host = pri.host
           WHERE COALESCE(pri.np, 0) + r.rn <= 5
           ORDER BY r.doc_id ASC""",
      // x260: 2-word chunks, first occurrence by the total order
      // doc_id*2^32 + idx (== lexicographic (doc_id, idx)), docs
      // rebuilt from their surviving chunk indexes
      "x260_paragraph_dedup" ->
        """WITH t AS (SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS toks
             FROM documents),
           n AS (SELECT doc_id, toks,
                   CAST(ceil(len(toks) / 2.0) AS BIGINT) AS n_chunks
                 FROM t),
           ck AS (SELECT doc_id, unnest(range(0, n_chunks)) AS idx,
                    toks
                  FROM n),
           c2 AS (SELECT doc_id, idx,
                    array_to_string(toks[idx*2+1:idx*2+2], ' ')
                      AS chunk
                  FROM ck),
           fst AS (SELECT chunk, min(doc_id * 4294967296 + idx) AS k
                   FROM c2 GROUP BY chunk),
           kp AS (SELECT k // 4294967296 AS doc_id,
                    k % 4294967296 AS idx
                  FROM fst),
           kl AS (SELECT doc_id, list_sort(list(idx)) AS kept
                  FROM kp GROUP BY doc_id)
           SELECT n.doc_id, n.n_chunks,
             CAST(COALESCE(len(kl.kept), 0) AS BIGINT) AS n_kept,
             COALESCE(array_to_string(
               [array_to_string(n.toks[i*2+1:i*2+2], ' ')
                for i in kl.kept], ' '), '') AS dedup_text
           FROM n LEFT JOIN kl ON n.doc_id = kl.doc_id
           ORDER BY n.doc_id ASC""",
      // x261: the two stream batches replayed sequentially against
      // the base ledger (greedy earlier-batch-wins on the budget)
      "x261_stream_host_budget" ->
        s"""WITH $hostCte,
           pri AS (SELECT host, count(*) AS np FROM hu
                   WHERE doc_id < 5 GROUP BY host),
           b1 AS (SELECT doc_id, host,
                    row_number() OVER (PARTITION BY host
                      ORDER BY doc_id ASC) AS rn
                  FROM hu WHERE doc_id >= 5 AND doc_id < 40),
           a1 AS (SELECT b1.doc_id, b1.host
                  FROM b1 LEFT JOIN pri ON b1.host = pri.host
                  WHERE COALESCE(pri.np, 0) + b1.rn <= 4),
           cnt1 AS (SELECT host, count(*) AS n1 FROM
                      (SELECT host FROM hu WHERE doc_id < 5
                       UNION ALL SELECT host FROM a1)
                    GROUP BY host),
           b2 AS (SELECT doc_id, host,
                    row_number() OVER (PARTITION BY host
                      ORDER BY doc_id ASC) AS rn
                  FROM hu WHERE doc_id >= 40 AND doc_id < 110),
           a2 AS (SELECT b2.doc_id, b2.host
                  FROM b2 LEFT JOIN cnt1 ON b2.host = cnt1.host
                  WHERE COALESCE(cnt1.n1, 0) + b2.rn <= 4)
           SELECT doc_id, host FROM
             (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
           ORDER BY doc_id ASC""",
      // x262: both admission decisions replayed — v0 against the base
      // counts only, latest against base + batch-1 admissions (cap 3)
      "x262_host_budget_travel" ->
        s"""WITH $hostCte,
           pri AS (SELECT host, count(*) AS np FROM hu
                   WHERE doc_id < 5 GROUP BY host),
           b1 AS (SELECT doc_id, host,
                    row_number() OVER (PARTITION BY host
                      ORDER BY doc_id ASC) AS rn
                  FROM hu WHERE doc_id >= 5 AND doc_id < 40),
           a1 AS (SELECT b1.doc_id, b1.host
                  FROM b1 LEFT JOIN pri ON b1.host = pri.host
                  WHERE COALESCE(pri.np, 0) + b1.rn <= 3),
           cnt1 AS (SELECT host, count(*) AS n1 FROM
                      (SELECT host FROM hu WHERE doc_id < 5
                       UNION ALL SELECT host FROM a1)
                    GROUP BY host),
           b2 AS (SELECT doc_id, host,
                    row_number() OVER (PARTITION BY host
                      ORDER BY doc_id ASC) AS rn
                  FROM hu WHERE doc_id >= 40 AND doc_id < 110),
           v0 AS (SELECT b2.doc_id
                  FROM b2 LEFT JOIN pri ON b2.host = pri.host
                  WHERE COALESCE(pri.np, 0) + b2.rn <= 3),
           lat AS (SELECT b2.doc_id
                   FROM b2 LEFT JOIN cnt1 ON b2.host = cnt1.host
                   WHERE COALESCE(cnt1.n1, 0) + b2.rn <= 3)
           SELECT doc_id, as_of FROM
             (SELECT doc_id, 'v0' AS as_of FROM v0
              UNION ALL SELECT doc_id, 'latest' FROM lat)
           ORDER BY as_of ASC, doc_id ASC""",
      // x263: the in-id-order stream equals the one-shot chunk dedup
      // over the cumulative corpus (docs < 250), reported for the
      // streamed slice
      "x263_stream_paragraph_dedup" ->
        """WITH t AS (SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS toks
             FROM documents WHERE doc_id < 250),
           n AS (SELECT doc_id, toks,
                   CAST(ceil(len(toks) / 2.0) AS BIGINT) AS n_chunks
                 FROM t),
           ck AS (SELECT doc_id, unnest(range(0, n_chunks)) AS idx,
                    toks
                  FROM n),
           c2 AS (SELECT doc_id, idx,
                    array_to_string(toks[idx*2+1:idx*2+2], ' ')
                      AS chunk
                  FROM ck),
           fst AS (SELECT chunk, min(doc_id * 4294967296 + idx) AS k
                   FROM c2 GROUP BY chunk),
           kp AS (SELECT k // 4294967296 AS doc_id,
                    k % 4294967296 AS idx
                  FROM fst),
           kl AS (SELECT doc_id, list_sort(list(idx)) AS kept
                  FROM kp GROUP BY doc_id)
           SELECT n.doc_id, n.n_chunks,
             CAST(COALESCE(len(kl.kept), 0) AS BIGINT) AS n_kept,
             COALESCE(array_to_string(
               [array_to_string(n.toks[i*2+1:i*2+2], ' ')
                for i in kl.kept], ' '), '') AS dedup_text
           FROM n LEFT JOIN kl ON n.doc_id = kl.doc_id
           WHERE n.doc_id >= 50
           ORDER BY n.doc_id ASC""",
      // x264: both rewrites replayed as one-shot chunk dedups over
      // their visible corpora — latest sees docs < 250, the as-of-v1
      // read sees only base (< 50) + the incoming batch
      "x264_chunk_compact_travel" ->
        s"""SELECT * FROM (
             ${chunkAsOfSql("la", "doc_id < 250", "latest")}
             UNION ALL
             ${chunkAsOfSql("va",
                "doc_id < 50 OR (doc_id >= 150 AND doc_id < 250)",
                "v1")})
           ORDER BY as_of ASC, doc_id ASC""",
      // x265: all three decisions replayed brute-force — URL equality
      // on canonical STRINGS (the engine's 64-bit hash, 2^-64), exact
      // Hamming vs every ledgered simhash (banding is exact-recall at
      // <= 7), then the budget rank over the survivors
      "x265_ingest_front_door" ->
        s"""WITH $hostCte, $simhashShCte,
           u_rej AS (SELECT DISTINCT i.doc_id FROM hu i JOIN hu x
                     ON x.doc_id % 3 = 0
                        AND x.canonical_url = i.canonical_url
                     WHERE i.doc_id % 3 <> 0),
           s_rej AS (SELECT DISTINCT a.doc_id FROM sh a JOIN sh b
                     ON b.doc_id % 3 = 0
                        AND bit_count(xor(a.sh, b.sh)) <= 7
                     WHERE a.doc_id % 3 <> 0),
           surv AS (SELECT doc_id, host FROM hu
                    WHERE doc_id % 3 <> 0
                      AND doc_id NOT IN (SELECT doc_id FROM u_rej)
                      AND doc_id NOT IN (SELECT doc_id FROM s_rej)),
           pri AS (SELECT host, count(*) AS np FROM hu
                   WHERE doc_id % 3 = 0 GROUP BY host),
           r AS (SELECT doc_id, host,
                   row_number() OVER (PARTITION BY host
                     ORDER BY doc_id ASC) AS rn
                 FROM surv)
           SELECT r.doc_id, r.host
           FROM r LEFT JOIN pri ON r.host = pri.host
           WHERE COALESCE(pri.np, 0) + r.rn <= 12
           ORDER BY r.doc_id ASC""",

      // x266: the shared Lloyd's CTEs assign cells, exact in-cell
      // cosine pairs >= 0.35 connect, the recursive min-closure labels
      // components (the mutualKnn/x31 closure shape), keep = is-own-min
      "x266_semdedup" ->
        s"""WITH RECURSIVE $kmeansCtes,
            $semClosureCtes
            SELECT s.vec_id, s.cl AS cluster,
                   coalesce(l.lcluster, s.vec_id) AS sem_cluster_id,
                   CAST(CASE WHEN coalesce(l.lcluster, s.vec_id)
                               = s.vec_id
                        THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM a3 s LEFT JOIN lbl l ON s.vec_id = l.lid
            ORDER BY s.vec_id ASC""",

      // x272: same closure, the paper's keep policy — per component
      // the max round-6 centroid distance wins, id tiebreak
      "x272_semdedup_diverse" ->
        s"""WITH RECURSIVE $kmeansCtes,
            $semClosureCtes,
            m AS (SELECT s.vec_id, s.cl, round(s.d, 6) AS dist,
                    coalesce(l.lcluster, s.vec_id) AS sem
                  FROM a3 s LEFT JOIN lbl l ON s.vec_id = l.lid)
            SELECT vec_id, cl AS cluster, dist,
                   sem AS sem_cluster_id,
                   CAST(CASE WHEN row_number() OVER (PARTITION BY sem
                          ORDER BY dist DESC, vec_id ASC) = 1
                        THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM m ORDER BY vec_id ASC""",

      // x267: Laplace-smoothed NB token llr table from the seed split,
      // docs scored by count-weighted mean llr — one (doc, pos, w)
      // count CTE feeds class totals, vocab, and the doc join
      "x267_nb_quality" -> x267NbSql,

      // x271: the trained model's logistic probability through the
      // Pareto keep rule — x267's nb CTE + x268's admission pattern
      "x271_quality_admission" ->
        s"""WITH $nbLlrCtes,
            q AS (SELECT doc_id,
                    round(1.0 / (1.0 + exp(-nb_llr)), 6) AS prob
                  FROM nb),
            p AS (SELECT doc_id,
                    round(prob, 6) AS score,
                    round(power(1.0 -
                        ((('0x' || substr(md5('quality271:'
                            || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 1048576 + 0.5) / 1048576.0),
                        ${-1.0 / 9.0}) - 1.0, 6) AS pareto_draw
                  FROM q)
            SELECT doc_id, score, pareto_draw,
                   CAST(CASE WHEN pareto_draw > round(1.0 - score, 6)
                        THEN 1 ELSE 0 END AS BIGINT) AS admitted
            FROM p ORDER BY doc_id ASC""",

      // x268: the shared x09 score + the md5-slot uniform (1048576
      // slots) through the Pareto inverse CDF; the admit compare runs
      // on round-6 values so pow's last ulp cannot flip a decision
      "x268_pareto_admit" -> x268ParetoSql,

      // x269: md5-slot boundary flags, doc-bounded running sum to
      // chunk ids, ordered string_agg reassembly + sha256 — the
      // boundary hash is the x20 cross-engine md5 discipline
      "x269_cdc_chunks" ->
        """WITH t AS (SELECT doc_id,
                 regexp_split_to_array(trim(text), '\s+') AS toks
               FROM documents WHERE doc_id < 120),
           wp AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
                    toks
                  FROM t),
           f AS (SELECT doc_id, pos, toks[pos+1] AS w,
                   CASE WHEN ('0x' || substr(md5('cdc269:'
                       || toks[pos+1]), 1, 8))::BIGINT % 8 = 0
                   THEN 1 ELSE 0 END AS b
                 FROM wp),
           c AS (SELECT doc_id, pos, w,
                   CAST(coalesce(sum(b) OVER (PARTITION BY doc_id
                     ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS chunk_idx
                 FROM f)
           SELECT doc_id, chunk_idx,
                  CAST(count(*) AS BIGINT) AS n_words,
                  string_agg(w, ' ' ORDER BY pos) AS chunk_text,
                  sha256(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
           FROM c GROUP BY doc_id, chunk_idx
           ORDER BY doc_id ASC, chunk_idx ASC""",

      // x270: x269's chunk CTEs over originals + prefixed copies,
      // first occurrence by the doc_id*2^32+idx total order (the x260
      // rule), docs rebuilt from surviving chunks in chunk order
      "x270_cdc_shift_dedup" ->
        """WITH d0 AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 60),
           sh0 AS (SELECT doc_id + 1000 AS doc_id,
                     'boilerplate banner inserted ' || text AS text
                   FROM d0 WHERE doc_id < 25),
           u AS (SELECT * FROM d0 UNION ALL SELECT * FROM sh0),
           t AS (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM u),
           wp AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
                    toks
                  FROM t),
           f AS (SELECT doc_id, pos, toks[pos+1] AS w,
                   CASE WHEN ('0x' || substr(md5('cdc269:'
                       || toks[pos+1]), 1, 8))::BIGINT % 8 = 0
                   THEN 1 ELSE 0 END AS b
                 FROM wp),
           c AS (SELECT doc_id, pos, w,
                   CAST(coalesce(sum(b) OVER (PARTITION BY doc_id
                     ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS cidx
                 FROM f),
           ch AS (SELECT doc_id, cidx,
                    string_agg(w, ' ' ORDER BY pos) AS chunk
                  FROM c GROUP BY doc_id, cidx),
           fst AS (SELECT chunk,
                     min(doc_id * 4294967296 + cidx) AS k
                   FROM ch GROUP BY chunk),
           kp AS (SELECT k // 4294967296 AS doc_id,
                    k % 4294967296 AS cidx
                  FROM fst),
           kt AS (SELECT ch.doc_id, count(*) AS n_kept,
                    string_agg(ch.chunk, ' ' ORDER BY ch.cidx)
                      AS dedup_text
                  FROM ch JOIN kp ON ch.doc_id = kp.doc_id
                         AND ch.cidx = kp.cidx
                  GROUP BY ch.doc_id),
           nc AS (SELECT doc_id, count(*) AS n_chunks FROM ch
                  GROUP BY doc_id)
           SELECT nc.doc_id, CAST(nc.n_chunks AS BIGINT) AS n_chunks,
                  CAST(coalesce(kt.n_kept, 0) AS BIGINT) AS n_kept,
                  coalesce(kt.dedup_text, '') AS dedup_text
           FROM nc LEFT JOIN kt ON nc.doc_id = kt.doc_id
           ORDER BY nc.doc_id ASC""",

      // x273: both rewrite decisions replayed — latest against the
      // cumulative base+b1 corpus, as-of v1 against base only (the
      // x264 MVCC contract on CDC boundaries; compaction changes no
      // answer on either side)
      "x273_cdc_ledger_travel" ->
        s"""SELECT * FROM (
             ${cdcAsOfSql("la", "doc_id < 250", "latest", 150)}
             UNION ALL
             ${cdcAsOfSql("va",
                "doc_id < 50 OR (doc_id >= 150 AND doc_id < 250)",
                "v1", 150)})
           ORDER BY as_of ASC, doc_id ASC""",

      // x274: the two stream batches replayed sequentially = one-shot
      // CDC dedup over the cumulative corpus, served for the streamed
      // ids (the x263 equivalence on content-defined boundaries)
      "x274_stream_cdc_dedup" ->
        s"""SELECT doc_id, n_chunks, n_kept, dedup_text
           FROM ${cdcAsOfSql("st", "doc_id < 250", "x", 50)}
           ORDER BY doc_id ASC""",

      // x275: the same two regex passes build the lines, then the C4
      // rules — terminal punct, >= 3 words, no 'javascript' mention;
      // page flag needs 5 survivors and no lorem-ipsum/brace
      "x275_c4_line_filter" ->
        """WITH d2 AS (SELECT doc_id,
                 regexp_replace(regexp_replace(text,
                   ' spark ', ' javascript ', 'g'),
                   ' sort ', '.' || chr(10), 'g') AS text
               FROM documents),
           l AS (SELECT doc_id, string_split(text, chr(10)) AS lines
                 FROM d2),
           k AS (SELECT doc_id, len(lines) AS n_lines,
                   list_filter(lines, x ->
                     regexp_matches(trim(x), '[.!?"'']$')
                     AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
                     AND NOT contains(lower(x), 'javascript')) AS kept
                 FROM l)
           SELECT k.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
                  CAST(len(kept) AS BIGINT) AS n_kept_lines,
                  CAST(CASE WHEN NOT contains(lower(d2.text),
                              'lorem ipsum')
                         AND NOT contains(d2.text, '{')
                         AND len(kept) >= 5
                       THEN 1 ELSE 0 END AS BIGINT) AS doc_kept,
                  coalesce(array_to_string(kept, chr(10)), '')
                    AS clean_text
           FROM k JOIN d2 ON k.doc_id = d2.doc_id
           ORDER BY k.doc_id ASC""",

      // x276: the blocklist as a VALUES table joined to the token
      // unnest; kept = no hit row
      "x276_blocklist_filter" -> x276BlockSql,

      // x277: every Gopher signal as an exact integer count, every
      // threshold as integer cross-multiplication — bit-exact across
      // engines; mean_word_len is audit-only (round-6, never compared)
      "x277_gopher_rules" -> x277GopherSql,

      // x278: line/2-gram/5-gram stats counted by TEXT equality (the
      // engine counts by xxhash64 — identical up to 2^-64 collisions),
      // thresholds in integer cross-multiplication
      "x278_gopher_repetition" ->
        """WITH d2 AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
                 THEN text || chr(10) || text ELSE text END AS text
               FROM documents),
           t AS (SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM d2),
           ls AS (SELECT doc_id, l, length(l) AS len, count(*) AS c
                  FROM (SELECT doc_id,
                          unnest(string_split(text, chr(10))) AS l
                        FROM d2)
                  GROUP BY doc_id, l),
           la AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
                    CAST(sum(c - 1) AS BIGINT) AS dup_lines,
                    CAST(sum(len * c) AS BIGINT) AS line_chars,
                    CAST(sum(len * (c - 1)) AS BIGINT)
                      AS dup_line_chars
                  FROM ls GROUP BY doc_id),
           g2 AS (SELECT doc_id, g, length(g) AS len, count(*) AS c
                  FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                          THEN [array_to_string(toks[i+1:i+2], ' ')
                                for i in range(len(toks)-1)]
                          ELSE []::VARCHAR[] END) AS g
                        FROM t)
                  GROUP BY doc_id, g),
           t2 AS (SELECT doc_id, CAST(max(c * len) AS BIGINT)
                    AS top2_chars
                  FROM g2 GROUP BY doc_id),
           g5 AS (SELECT doc_id, g, length(g) AS len, count(*) AS c
                  FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
                          THEN [array_to_string(toks[i+1:i+5], ' ')
                                for i in range(len(toks)-4)]
                          ELSE []::VARCHAR[] END) AS g
                        FROM t)
                  GROUP BY doc_id, g),
           d5 AS (SELECT doc_id, CAST(sum(len * (c - 1)) AS BIGINT)
                    AS dup5_chars
                  FROM g5 GROUP BY doc_id),
           nc AS (SELECT doc_id,
                    CAST(length(array_to_string(toks, ' ')) AS BIGINT)
                      AS norm_chars
                  FROM t)
           SELECT nc.doc_id, nc.norm_chars, la.n_lines, la.dup_lines,
                  la.line_chars, la.dup_line_chars,
                  CAST(coalesce(t2.top2_chars, 0) AS BIGINT)
                    AS top2_chars,
                  CAST(coalesce(d5.dup5_chars, 0) AS BIGINT)
                    AS dup5_chars,
                  CAST(CASE WHEN 10 * la.dup_lines <= 3 * la.n_lines
                       THEN 1 ELSE 0 END AS BIGINT) AS dup_line_ok,
                  CAST(CASE WHEN 5 * la.dup_line_chars <= la.line_chars
                       THEN 1 ELSE 0 END AS BIGINT) AS dup_line_char_ok,
                  CAST(CASE WHEN 5 * coalesce(t2.top2_chars, 0)
                              <= nc.norm_chars
                       THEN 1 ELSE 0 END AS BIGINT) AS top2_ok,
                  CAST(CASE WHEN 20 * coalesce(d5.dup5_chars, 0)
                              <= 3 * nc.norm_chars
                       THEN 1 ELSE 0 END AS BIGINT) AS dup5_ok,
                  CAST((CASE WHEN 10 * la.dup_lines <= 3 * la.n_lines
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN 5 * la.dup_line_chars
                               <= la.line_chars
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN 5 * coalesce(t2.top2_chars, 0)
                               <= nc.norm_chars
                        THEN 1 ELSE 0 END)
                     * (CASE WHEN 20 * coalesce(d5.dup5_chars, 0)
                               <= 3 * nc.norm_chars
                        THEN 1 ELSE 0 END) AS BIGINT) AS keep
           FROM nc JOIN la USING (doc_id)
                LEFT JOIN t2 USING (doc_id)
                LEFT JOIN d5 USING (doc_id)
           ORDER BY nc.doc_id ASC""",

      // x279: the planted identifiers re-derived, counts via
      // regexp_extract_all over the identical RE2-safe patterns
      "x279_pii_audit" ->
        """WITH d2 AS (SELECT doc_id, text
                 || CASE WHEN doc_id % 5 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                    THEN ' call 555-123-4567' ELSE '' END
                 || CASE WHEN doc_id % 3 = 0
                    THEN ' from 10.0.0.1' ELSE '' END AS text
               FROM documents),
           c AS (SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT)
                     AS n_phones,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                     AS BIGINT) AS n_ips
                 FROM d2)
           SELECT doc_id, n_emails, n_phones, n_ips,
                  n_emails + n_phones + n_ips AS n_pii,
                  CAST(CASE WHEN n_emails + n_phones + n_ips > 0
                       THEN 1 ELSE 0 END AS BIGINT) AS has_pii
           FROM c ORDER BY doc_id ASC""",

      // x280: the shared full-query forms as derived tables — one
      // definition per metric, summed; the classifier mean goes
      // through a DECIMAL(18,6) sum so both engines add exactly
      "x280_release_audit" ->
        s"""SELECT d.n_docs, d.exact_dup_docs, g.gopher_pass,
                  b.blocklist_pass, n.mean_nb_llr, p.pareto_admits
           FROM (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) - count(DISTINCT sha256(text))
                     AS BIGINT) AS exact_dup_docs
                 FROM documents) d,
                (SELECT CAST(sum(keep) AS BIGINT) AS gopher_pass
                 FROM ($x277GopherSql)) g,
                (SELECT CAST(sum(kept) AS BIGINT) AS blocklist_pass
                 FROM ($x276BlockSql)) b,
                (SELECT round(CAST(sum(CAST(nb_llr AS DECIMAL(18,6)))
                     AS DOUBLE) / count(*), 6) AS mean_nb_llr
                 FROM ($x267NbSql)) n,
                (SELECT CAST(sum(admitted) AS BIGINT) AS pareto_admits
                 FROM ($x268ParetoSql)) p""",

      "x05_cosine_topk" -> x05Sql,

      // x05's scan with the different-label predicate in the pairing —
      // filter-then-rank is the hard-negative definition
      "x77_hard_negatives" ->
        s"""WITH v AS ($vecs),
            l AS (SELECT vec_id, label FROM embeddings),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id,
                     lb.label AS neg_label, $cosPairExpr AS cos
              FROM v a JOIN l la ON la.vec_id = a.vec_id
                   JOIN v b ON b.vec_id <> a.vec_id
                   JOIN l lb ON lb.vec_id = b.vec_id
              WHERE a.vec_id < 8 AND lb.label <> la.label)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                   neg_label, cos
            FROM (SELECT query_id, vec_id, neg_label, cos, row_number()
                    OVER (PARTITION BY query_id
                          ORDER BY cos DESC, vec_id ASC) AS rank
                  FROM scored)
            WHERE rank <= 3""",

      "x06_cosine_dups" ->
        s"""WITH v AS ($vecs),
            b AS (SELECT vec_id, e,
                    (CASE WHEN e[1]>=0 THEN 1 ELSE 0 END
                   + CASE WHEN e[2]>=0 THEN 2 ELSE 0 END
                   + CASE WHEN e[3]>=0 THEN 4 ELSE 0 END
                   + CASE WHEN e[4]>=0 THEN 8 ELSE 0 END
                   + CASE WHEN e[5]>=0 THEN 16 ELSE 0 END
                   + CASE WHEN e[6]>=0 THEN 32 ELSE 0 END)::BIGINT AS b0
                  FROM v)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   $cosPairExpr AS cos
            FROM b a JOIN b b
              ON a.vec_id < b.vec_id
             AND bit_count(xor(a.b0, b.b0)) <= 1
            WHERE $cosPairExpr >= 0.35""",

      // x197: the same sign-bucket relation (bucket Hamming <= 1, the
      // own-or-1-flip probe collision set) made cross-frame — corpus
      // (vec_id % 19 <> 0) vs eval (vec_id % 19 = 0), then the exact
      // cosine bar and a per-corpus-doc hit aggregate
      "x197_semantic_decontaminate" ->
        s"""WITH v AS ($vecs),
            bk AS (SELECT vec_id, e,
                    (CASE WHEN e[1]>=0 THEN 1 ELSE 0 END
                   + CASE WHEN e[2]>=0 THEN 2 ELSE 0 END
                   + CASE WHEN e[3]>=0 THEN 4 ELSE 0 END
                   + CASE WHEN e[4]>=0 THEN 8 ELSE 0 END
                   + CASE WHEN e[5]>=0 THEN 16 ELSE 0 END
                   + CASE WHEN e[6]>=0 THEN 32 ELSE 0 END)::BIGINT AS b0
                  FROM v),
            hits AS (SELECT a.vec_id, $cosPairExpr AS cos
                     FROM (SELECT * FROM bk WHERE vec_id % 19 <> 0) a
                     JOIN (SELECT * FROM bk WHERE vec_id % 19 = 0) b
                       ON bit_count(xor(a.b0, b.b0)) <= 1
                     WHERE $cosPairExpr >= 0.35)
            SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
                   max(cos) AS max_cos
            FROM hits GROUP BY 1 ORDER BY vec_id ASC""",

      "x07_ivf_topk" -> x07Sql,

      // rank-based fusion of the two retrievers above: each list as a
      // derived table, contributions summed in fixed (exact, ivf)
      // order — one exact IEEE division per present rank
      "x78_rrf_fusion" ->
        s"""SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                   round(rrf, 6) AS rrf
            FROM (SELECT query_id, vec_id, rrf, row_number() OVER
                    (PARTITION BY query_id ORDER BY rrf DESC, vec_id ASC)
                    AS rank
                  FROM (SELECT
                          coalesce(a.query_id, b.query_id) AS query_id,
                          coalesce(a.vec_id, b.vec_id) AS vec_id,
                          coalesce(CAST(1 AS DOUBLE)
                              / CAST(a.rank + 60 AS DOUBLE), 0)
                            + coalesce(CAST(1 AS DOUBLE)
                              / CAST(b.rank + 60 AS DOUBLE), 0) AS rrf
                        FROM ($x05Sql) a
                        FULL OUTER JOIN ($x07Sql) b
                          ON a.query_id = b.query_id
                         AND a.vec_id = b.vec_id))
            WHERE rank <= 5""",

      "x08_lang_id" -> {
        def hits(words: Seq[String]) =
          s"""len(list_filter(toks, x -> x IN (${
            words.map(w => s"'$w'").mkString(",")})))"""
        val profiles = graft.ext.TextAnalysis.StopwordProfiles
        val scores = profiles.map { case (l, ws) => s"${hits(ws)} AS s_$l" }
          .mkString(", ")
        val gr = s"greatest(${profiles.map(p => "s_" + p._1).mkString(",")})"
        val cases = profiles.map { case (l, _) =>
          s"WHEN s_$l = $gr THEN '$l'"
        }.mkString(" ")
        s"""WITH t AS (SELECT doc_id, lang,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
            s AS (SELECT doc_id, lang, $scores FROM t)
            SELECT doc_id, lang,
                   CASE WHEN $gr = 0 THEN 'und' $cases END AS lang_pred
            FROM s"""
      },

      "x09_quality" ->
        s"""WITH ${qualityCteSignals("")}
           SELECT doc_id, n_tokens, n_punct, n_stopwords, punct_ratio,
                  stopword_ratio,
                  $qualityScoreExpr AS quality_score
           FROM qr""",

      "x10_token_count" ->
        """SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS n_ws_tokens,
                  CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
           FROM documents""",

      "x11_fingerprint" ->
        """SELECT doc_id,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(regexp_split_to_array(trim(text), '\s+'),
                        t -> (ascii(t)*131 + length(t)*137
                              + ascii(right(t,1))*139) % 2147483647)),
                    (acc, x) -> (acc*31 + x) % 2147483647) AS fp
           FROM documents""",

      "x12_multimodal_meta" ->
        """SELECT doc_id,
                  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS media_kind,
                  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                  CAST(ceil(octet_length(encode(text))/64.0) AS BIGINT)
                    AS n_frames
           FROM documents""",

      "x20_hash_sample" ->
        """SELECT doc_id, lang FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'""",

      "x18_common_ngrams" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents),
           s AS (SELECT doc_id,
                   unnest(list_distinct(
                     [array_to_string(toks[i+1:i+3], ' ')
                      for i in range(len(toks)-2)])) AS g
                 FROM t WHERE len(toks) >= 3)
           SELECT g AS ngram, count(*) AS n_docs
           FROM s GROUP BY 1
           ORDER BY n_docs DESC, ngram ASC
           LIMIT 20""",

      "x19_decontaminate" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents),
           s AS (SELECT doc_id,
                   list_distinct([array_to_string(toks[i+1:i+5], ' ')
                                  for i in range(len(toks)-4)]) AS sh
                 FROM t WHERE len(toks) >= 5),
           ed AS (SELECT DISTINCT unnest(sh) AS g FROM s
                  WHERE doc_id % 97 = 0),
           tr AS (SELECT doc_id, unnest(sh) AS g FROM s
                  WHERE doc_id % 97 <> 0)
           SELECT tr.doc_id, count(DISTINCT tr.g) AS n_shared
           FROM tr JOIN ed ON tr.g = ed.g
           GROUP BY 1""",

      "x15_incremental_dedup" ->
        """SELECT i.doc_id
           FROM documents i
           WHERE i.doc_id % 5 = 4
             AND NOT EXISTS (SELECT 1 FROM documents c
                             WHERE c.doc_id % 5 < 4 AND c.text = i.text)""",

      "x16_split_assign" ->
        s"""WITH s AS (
              SELECT doc_id, $splitCase AS split
              FROM documents)
            SELECT split, count(*) AS n_docs,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM s GROUP BY split""",

      "x21_pack_batches" ->
        s"""WITH s AS (
              SELECT doc_id, $splitCase AS split,
                     doc_id % 8 AS shard,
                     CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                       AS n_tokens
              FROM documents)
            SELECT doc_id, split, shard, n_tokens,
                   CAST((sum(n_tokens) OVER
                       (PARTITION BY split, shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) // 512
                     AS BIGINT) AS batch_id
            FROM s""",

      "x26_normalize_text" ->
        """SELECT doc_id,
                  trim(regexp_replace(lower(nfc_normalize(text)),
                    '\s+', ' ', 'g')) AS norm_text
           FROM documents""",

      // x178: replay the decomposed-suffix injection (chr codepoints =
      // the engine's \u escapes), then DuckDB's own nfc_normalize
      "x178_nfc_normalize" ->
        """WITH w AS (SELECT doc_id,
                 text || CASE WHEN doc_id % 2 = 0
                   THEN ' cafe' || chr(769) || ' na' || chr(776) ||
                        'ive A' || chr(778) || 'ngstro' || chr(776) || 'm'
                   ELSE ' plain ascii tail' END AS raw
               FROM documents)
           SELECT doc_id,
                  trim(regexp_replace(lower(nfc_normalize(raw)),
                    '\s+', ' ', 'g')) AS norm_text,
                  CAST(length(raw) AS BIGINT) AS n_cp_raw,
                  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_cp_nfc
           FROM w""",

      "x27_redact_pii" ->
        """SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(
                    text || ' contact u' || doc_id
                         || '@mail.example.org tel 555-867-5309 ip 10.0.'
                         || (doc_id % 256) || '.7',
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
                    AS redacted
           FROM documents""",

      "x28_repetition" ->
        """WITH t AS (
             SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             FROM documents)
           SELECT doc_id,
                  round(CASE WHEN len(toks) < 3 THEN 0
                        ELSE 1.0 - len(list_distinct(
                               [array_to_string(toks[i+1:i+3], ' ')
                                for i in range(len(toks)-2)])) * 1.0
                             / (len(toks)-2) END, 6) AS rep_ratio
           FROM t""",

      "x29_jsonl_roundtrip" ->
        """SELECT doc_id, lang, text FROM documents""",

      "x30_stratified_sample" ->
        """SELECT lang, count(*) AS n_docs,
                  min(doc_id) AS min_id, max(doc_id) AS max_id
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                 CASE lang WHEN 'en' THEN '8000'
                           WHEN 'de' THEN '4000'
                           WHEN 'fr' THEN '4000'
                           ELSE '1000' END
           GROUP BY lang""",

      "x31_dedup_clusters" ->
        s"""WITH RECURSIVE $pairClosure
            SELECT d.doc_id, coalesce(l.lcluster, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN lbl l ON d.doc_id = l.lid""",

      // every rule is an exact integer count; NULLs pass validity
      // rules (only not_null counts them — the Audit contract)
      "x83_quality_rules" ->
        """SELECT 'not_null(l_shipdate)' AS rule,
                  CAST(count(*) FILTER (l_shipdate IS NULL) AS BIGINT)
                    AS violations,
                  CAST(count(*) AS BIGINT) AS total,
                  count(*) FILTER (l_shipdate IS NULL) = 0 AS pass
           FROM lineitem
           UNION ALL
           SELECT 'in_range(l_quantity,1.0,45.0)',
                  CAST(count(*) FILTER (l_quantity IS NOT NULL AND NOT
                    (CAST(l_quantity AS DOUBLE) >= 1.0
                     AND CAST(l_quantity AS DOUBLE) <= 45.0)) AS BIGINT),
                  CAST(count(*) AS BIGINT),
                  count(*) FILTER (l_quantity IS NOT NULL AND NOT
                    (CAST(l_quantity AS DOUBLE) >= 1.0
                     AND CAST(l_quantity AS DOUBLE) <= 45.0)) = 0
           FROM lineitem
           UNION ALL
           SELECT 'accepted_values(l_returnflag)',
                  CAST(count(*) FILTER (l_returnflag IS NOT NULL AND
                    l_returnflag NOT IN ('A','N','R')) AS BIGINT),
                  CAST(count(*) AS BIGINT),
                  count(*) FILTER (l_returnflag IS NOT NULL AND
                    l_returnflag NOT IN ('A','N','R')) = 0
           FROM lineitem
           UNION ALL
           SELECT 'unique(l_orderkey,l_linenumber)',
                  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                    AS BIGINT),
                  CAST(count(*) AS BIGINT),
                  count(*) = count(DISTINCT (l_orderkey, l_linenumber))
           FROM lineitem
           UNION ALL
           SELECT 'ref_integrity(l_orderkey->o_orderkey)',
                  CAST(count(*) FILTER (l_orderkey IS NOT NULL
                    AND o_orderkey IS NULL) AS BIGINT),
                  CAST(count(*) AS BIGINT),
                  count(*) FILTER (l_orderkey IS NOT NULL
                    AND o_orderkey IS NULL) = 0
           FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey
                                    FROM orders) o
             ON l_orderkey = o_orderkey
           UNION ALL
           SELECT 'in_range(value,0.0,100.0)',
                  CAST(count(*) FILTER (value IS NOT NULL AND NOT
                    (CAST(value AS DOUBLE) >= 0.0
                     AND CAST(value AS DOUBLE) <= 100.0)) AS BIGINT),
                  CAST(count(*) AS BIGINT),
                  count(*) FILTER (value IS NOT NULL AND NOT
                    (CAST(value AS DOUBLE) >= 0.0
                     AND CAST(value AS DOUBLE) <= 100.0)) = 0
           FROM events
           UNION ALL
           SELECT 'ref_integrity(user_id->c_custkey)',
                  CAST(count(*) FILTER (user_id IS NOT NULL
                    AND c_custkey IS NULL) AS BIGINT),
                  CAST(count(*) AS BIGINT),
                  count(*) FILTER (user_id IS NOT NULL
                    AND c_custkey IS NULL) = 0
           FROM events LEFT JOIN (SELECT DISTINCT c_custkey
                                  FROM customer) c
             ON user_id = c_custkey""",

      "x82_pagerank" ->
        s"""WITH e AS (SELECT DISTINCT l_suppkey*2 AS src,
                         l_partkey*2+1 AS dst FROM lineitem
                       UNION
                       SELECT DISTINCT l_partkey*2+1 AS src,
                         l_suppkey*2 AS dst FROM lineitem),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY 1),
            n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank FROM n),
            $prRounds
            SELECT CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END
                     AS kind,
                   id // 2 AS key, rank
            FROM r4
            ORDER BY rank DESC, kind ASC, key ASC LIMIT 25""",

      // x144: x82's rounds with the teleport base joined per node —
      // seeds (suppkey % 10 = 0, all graph nodes by construction)
      // split ((100−85)·scale·n) // (100·|S|), everyone else 0
      "x144_pagerank_personalized" ->
        s"""WITH e AS (SELECT DISTINCT l_suppkey*2 AS src,
                         l_partkey*2+1 AS dst FROM lineitem
                       UNION
                       SELECT DISTINCT l_partkey*2+1 AS src,
                         l_suppkey*2 AS dst FROM lineitem),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY 1),
            n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            sd AS (SELECT DISTINCT l_suppkey*2 AS id FROM lineitem
                   WHERE l_suppkey % 10 = 0),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM n),
            ns AS (SELECT CAST(count(*) AS BIGINT) AS m FROM sd),
            nb AS (SELECT n.id,
                     CASE WHEN sd.id IS NOT NULL
                       THEN (CAST(15000000000 AS BIGINT) * nn.cnt)
                            // (100 * ns.m)
                       ELSE CAST(0 AS BIGINT) END AS base
                   FROM n LEFT JOIN sd ON n.id = sd.id, nn, ns),
            r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank
                   FROM n),
            $pprRounds
            SELECT CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END
                     AS kind,
                   id // 2 AS key, rank
            FROM r4
            ORDER BY rank DESC, kind ASC, key ASC LIMIT 25""",

      // the PROVEN fixed point in closed form (see the x95 query's
      // regularity argument): on the closed 2-regular nation cycle the
      // uniform start never moves, so the converged answer is rank =
      // scale for every node — no unrolled rounds needed, BECAUSE the
      // fixture was chosen to make the fixed point provable
      "x95_pagerank_converged" ->
        """SELECT CAST(n_nationkey AS BIGINT) AS id,
                  CAST(1000000000 AS BIGINT) AS rank
           FROM nation ORDER BY id""",

      "x86_pagerank_weighted" ->
        s"""WITH fwd AS (SELECT l_suppkey*2 AS src, l_partkey*2+1 AS dst,
                           CAST(count(*) AS BIGINT) AS w
                         FROM lineitem GROUP BY 1, 2),
            e AS (SELECT src, dst, w FROM fwd
                  UNION ALL
                  SELECT dst AS src, src AS dst, w FROM fwd),
            ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw
                   FROM e GROUP BY 1),
            n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank FROM n),
            $prWRounds
            SELECT CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END
                     AS kind,
                   id // 2 AS key, rank
            FROM r4
            ORDER BY rank DESC, kind ASC, key ASC LIMIT 25""",

      // x147: x86's weighted edges/rounds + x144's per-node teleport —
      // both parameterized CTE builders compose, so a round-shape fix
      // in either dimension cannot desynchronize this oracle
      "x147_pagerank_weighted_personalized" ->
        s"""WITH fwd AS (SELECT l_suppkey*2 AS src, l_partkey*2+1 AS dst,
                           CAST(count(*) AS BIGINT) AS w
                         FROM lineitem GROUP BY 1, 2),
            e AS (SELECT src, dst, w FROM fwd
                  UNION ALL
                  SELECT dst AS src, src AS dst, w FROM fwd),
            ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw
                   FROM e GROUP BY 1),
            n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            sd AS (SELECT DISTINCT l_suppkey*2 AS id FROM lineitem
                   WHERE l_suppkey % 10 = 0),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM n),
            ns AS (SELECT CAST(count(*) AS BIGINT) AS m FROM sd),
            nb AS (SELECT n.id,
                     CASE WHEN sd.id IS NOT NULL
                       THEN (CAST(15000000000 AS BIGINT) * nn.cnt)
                            // (100 * ns.m)
                       ELSE CAST(0 AS BIGINT) END AS base
                   FROM n LEFT JOIN sd ON n.id = sd.id, nn, ns),
            r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank
                   FROM n),
            $pprWRounds
            SELECT CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END
                     AS kind,
                   id // 2 AS key, rank
            FROM r4
            ORDER BY rank DESC, kind ASC, key ASC LIMIT 25""",

      // x152: x02's Jaccard pair machinery ⋈ x16's split case — the
      // per-(split,split) pair contingency, endpoints normalized
      // lexicographically so each undirected pair counts once
      "x152_split_leakage_audit" ->
        s"""WITH $pairClosureBase,
            pr AS (SELECT doc_a, doc_b
                   FROM p JOIN sz x ON p.doc_a = x.doc_id
                          JOIN sz y ON p.doc_b = y.doc_id
                   WHERE round(shared*1.0/(x.z + y.z - shared), 6)
                     >= 0.5),
            sp AS (SELECT doc_id, $splitCase AS split FROM documents)
            SELECT least(a.split, b.split) AS split_a,
                   greatest(a.split, b.split) AS split_b,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pr JOIN sp a ON pr.doc_a = a.doc_id
                    JOIN sp b ON pr.doc_b = b.doc_id
            GROUP BY 1, 2
            ORDER BY split_a ASC, split_b ASC""",

      // x150: the shared quality formula + the histogram-quantile
      // threshold — floor-buckets at 100×, from-the-top cumulative
      // counts, highest bucket reaching ceil(0.25·n) per lang (floor,
      // not round: round-half tie semantics differ across engines)
      "x150_quality_quantile_filter" ->
        s"""WITH ${qualityCteSignals(", lang")},
            q AS (SELECT doc_id, lang,
                    $qualityScoreExpr AS quality_score
                  FROM qr),
            h AS (SELECT lang,
                    CAST(floor(quality_score * 100) AS BIGINT) AS b,
                    count(*) AS n
                  FROM q GROUP BY 1, 2),
            c AS (SELECT lang, b,
                    sum(n) OVER (PARTITION BY lang
                                 ORDER BY b DESC) AS cum,
                    sum(n) OVER (PARTITION BY lang) AS tot
                  FROM h),
            thr AS (SELECT lang, max(b) AS t FROM c
                    WHERE cum >= ceil(0.25 * tot) GROUP BY 1)
            SELECT q.lang, q.doc_id, q.quality_score
            FROM q JOIN thr ON q.lang = thr.lang
            WHERE CAST(floor(q.quality_score * 100) AS BIGINT) >= thr.t
            ORDER BY q.lang ASC, q.doc_id ASC""",

      // x148: the same canonical both-direction adjacency the engine
      // peels, with the rounds unrolled (see kcoreRounds)
      "x148_kcore" ->
        s"""WITH fwd AS (SELECT DISTINCT l_orderkey*2 AS u,
                           l_partkey*2+1 AS v FROM lineitem),
            e0 AS (SELECT u AS src, v AS dst FROM fwd
                   UNION ALL
                   SELECT v AS src, u AS dst FROM fwd),
            ${kcoreRounds(4, 4)}
            SELECT CASE WHEN src % 2 = 0 THEN 'order' ELSE 'part' END
                     AS kind,
                   src // 2 AS key,
                   CAST(count(*) AS BIGINT) AS core_deg
            FROM e4 GROUP BY 1, 2
            ORDER BY kind ASC, key ASC""",

      // x31's closure + x16's split case applied to the CANONICAL
      // member's text (aliased AS text so the shared fp fragment binds)
      "x81_cluster_safe_split" ->
        s"""WITH RECURSIVE $pairClosure,
            c AS (SELECT d.doc_id, coalesce(l.lcluster, d.doc_id)
                    AS cluster_id
                  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.lid),
            cc AS (SELECT c.doc_id, c.cluster_id, cd.text
                   FROM c JOIN documents cd ON c.cluster_id = cd.doc_id)
            SELECT doc_id, cluster_id, $splitCase AS split FROM cc""",

      "x32_canonical_docs" ->
        s"""WITH RECURSIVE $pairClosure, $qualityCte,
            c AS (SELECT q.doc_id, q.quality_score,
                         coalesce(l.lcluster, q.doc_id) AS cluster_id
                  FROM q LEFT JOIN lbl l ON q.doc_id = l.lid)
            SELECT cluster_id, doc_id AS keep_id, quality_score
            FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                    ORDER BY quality_score DESC, doc_id ASC) AS rn
                  FROM c)
            WHERE rn = 1""",

      // identical to x31's oracle: the star variant must produce the
      // same labeling, only the distributed algorithm differs
      "x37_star_clusters" ->
        s"""WITH RECURSIVE $pairClosure
            SELECT d.doc_id, coalesce(l.lcluster, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN lbl l ON d.doc_id = l.lid""",

      "x49_containment_pairs" ->
        s"""WITH $pairClosureBase
           SELECT doc_a, doc_b,
                  round(shared*1.0/least(x.z, y.z), 6) AS containment
           FROM p JOIN sz x ON p.doc_a = x.doc_id
                  JOIN sz y ON p.doc_b = y.doc_id
           WHERE round(shared*1.0/least(x.z, y.z), 6) >= 0.8""",

      // x235: x49's containment verdict restricted cross-side —
      // incoming (doc_id % 4 = 0) admitted iff no ledgered doc
      // (doc_id % 4 <> 0) reaches C >= 0.8; shingle-less docs admit
      "x235_containment_admit" ->
        """WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents),
           s AS (SELECT doc_id,
                   list_distinct([array_to_string(toks[i+1:i+5], ' ')
                                  for i in range(len(toks)-4)]) AS sh
                 FROM t WHERE len(toks) >= 5),
           e AS (SELECT doc_id, unnest(sh) AS s FROM s),
           sz AS (SELECT doc_id, len(sh) AS z FROM s),
           p AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        count(*) AS shared
                 FROM e a JOIN e b ON a.s = b.s
                 WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
                 GROUP BY 1, 2),
           rej AS (SELECT DISTINCT da
                   FROM p JOIN sz x ON p.da = x.doc_id
                          JOIN sz y ON p.db = y.doc_id
                   WHERE round(shared*1.0/least(x.z, y.z), 6) >= 0.8)
           SELECT doc_id FROM documents
           WHERE doc_id % 4 = 0
             AND doc_id NOT IN (SELECT da FROM rej)
           ORDER BY doc_id ASC""",

      // x245: the two batches replayed sequentially — batch 1 (%5=4)
      // admits against the base ledger (%5 in 1,2,3), batch 2 (%5=0)
      // against base plus batch 1's admissions (greedy
      // earlier-batch-wins — the x202 oracle shape on containment)
      "x245_stream_containment_admit" ->
        """WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents),
           s AS (SELECT doc_id,
                   list_distinct([array_to_string(toks[i+1:i+5], ' ')
                                  for i in range(len(toks)-4)]) AS sh
                 FROM t WHERE len(toks) >= 5),
           e AS (SELECT doc_id, unnest(sh) AS s FROM s),
           sz AS (SELECT doc_id, len(sh) AS z FROM s),
           p1 AS (SELECT a.doc_id AS da, b.doc_id AS db,
                         count(*) AS shared
                  FROM e a JOIN e b ON a.s = b.s
                  WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 IN (1, 2, 3)
                  GROUP BY 1, 2),
           r1 AS (SELECT DISTINCT da
                  FROM p1 JOIN sz x ON p1.da = x.doc_id
                         JOIN sz y ON p1.db = y.doc_id
                  WHERE round(shared*1.0/least(x.z, y.z), 6) >= 0.8),
           a1 AS (SELECT doc_id FROM documents
                  WHERE doc_id % 5 = 4
                    AND doc_id NOT IN (SELECT da FROM r1)),
           idx1 AS (SELECT doc_id FROM documents
                    WHERE doc_id % 5 IN (1, 2, 3)
                    UNION ALL SELECT doc_id FROM a1),
           p2 AS (SELECT a.doc_id AS da, b.doc_id AS db,
                         count(*) AS shared
                  FROM e a JOIN e b ON a.s = b.s
                  WHERE a.doc_id % 5 = 0
                    AND b.doc_id IN (SELECT doc_id FROM idx1)
                  GROUP BY 1, 2),
           r2 AS (SELECT DISTINCT da
                  FROM p2 JOIN sz x ON p2.da = x.doc_id
                         JOIN sz y ON p2.db = y.doc_id
                  WHERE round(shared*1.0/least(x.z, y.z), 6) >= 0.8),
           a2 AS (SELECT doc_id FROM documents
                  WHERE doc_id % 5 = 0
                    AND doc_id NOT IN (SELECT da FROM r2))
           SELECT doc_id FROM
             (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
           ORDER BY doc_id ASC""",

      // x242: x235 with the tombstoned docs (doc_id % 5 = 0) removed
      // from the blocking side — deletion widens admission
      "x242_containment_delete" -> containmentSurvivorOracle,
      // x249: as-of admission pinned to the PRE-append snapshot — the
      // %5=0 docs are invisible at v0, so the verdicts equal x242's
      // surviving-ledger restriction (MVCC: time travel before an
      // append == the append never happened)
      "x249_containment_asof_admit" -> containmentSurvivorOracle,
      // x254: as-of v0 through a later delete + compaction — the
      // pinned snapshot must still serve the pre-append ledger, so
      // the verdicts stay x242's surviving-ledger restriction
      "x254_containment_compact_travel" -> containmentSurvivorOracle,

      // exact-by-construction: the engine's sketch only PRUNES; this
      // direct GROUP BY/HAVING is the definitional form
      "x47_heavy_terms" ->
        """WITH t AS (SELECT unnest(regexp_split_to_array(
                        trim(lower(text)), '\s+')) AS term
                      FROM documents),
           ft AS (SELECT term FROM t WHERE len(term) >= 1),
           tot AS (SELECT count(*) AS n FROM ft)
           SELECT term, CAST(count(*) AS BIGINT) AS term_count
           FROM ft GROUP BY term
           HAVING count(*) * 64 > (SELECT n FROM tot)""",

      "x46_event_sequences" ->
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                  string_agg(event_type || '@' || epoch_us(ts), ','
                    ORDER BY epoch_us(ts), event_id) AS seq
           FROM events GROUP BY user_id""",

      "x45_topk_agg" ->
        """SELECT o_custkey, CAST(rn AS BIGINT) AS rank, o_orderkey,
                  o_totalprice
           FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                 FROM orders)
           WHERE rn <= 3""",

      // the invariants are constants by contract: overlap count must be
      // 0 and the file count must equal the requested 8; only row
      // conservation depends on the data
      "x44_range_sorted_write" ->
        """SELECT CAST(count(*) AS BIGINT) AS total_rows,
                  CAST(0 AS BIGINT) AS overlapping_pairs,
                  CAST(8 AS BIGINT) AS n_files
           FROM orders""",
      // x111: DEFINITIONAL oracle — the vertex-ordered (a<b<c) triple
      // join over canonical undirected edges, deliberately NOT the
      // engine's canonicalize → degree-orient → wedge-close pipeline,
      // so a shared algorithmic error in the orientation cannot agree
      // with itself (cubic-shape join, fine at oracle scale on the
      // sparse circulant fixture).
      "x111_triangle_count" ->
        """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n
                      FROM supplier),
             raw AS (SELECT s_suppkey AS src,
                            ((s_suppkey - 1 + st.stride) %
                              (SELECT n FROM n)) + 1 AS dst
                     FROM supplier,
                          (SELECT unnest([1, 2, 3]) AS stride) st),
             und AS (SELECT DISTINCT least(src, dst) AS u,
                            greatest(src, dst) AS v
                     FROM raw WHERE src <> dst),
             ids AS (SELECT DISTINCT id FROM (
                       SELECT u AS id FROM und
                       UNION ALL SELECT v FROM und))
           SELECT (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_nodes,
                  (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
                  (SELECT CAST(count(*) AS BIGINT)
                   FROM und e1 JOIN und e2 ON e2.u = e1.v
                        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
                    AS n_triangles""",

      // x158: the x03 token-hash machinery at window size 1 — bucket =
      // low 8 bits of the n=1 window hash (power-of-two mod, so the
      // engine's signed pmod and this unsigned % agree bit-for-bit);
      // per-bucket log-ratios floored to integer micro-nats, per-doc
      // INTEGER sums (order-free)
      "x158_dsir_weights" -> {
        val c0 = u64(0x9e3779b97f4a7c15L * 0x100000001b3L)
        val w1 = splitmix(s"xor(CAST($c0 AS UBIGINT), h)")
        s"""WITH ${tokenHashCtes("")},
            e AS (SELECT t2.doc_id, d.lang,
                    CAST($w1 % 256 AS BIGINT) AS b
                  FROM (SELECT doc_id, unnest(th) AS h FROM th) t2
                  JOIN documents d ON d.doc_id = t2.doc_id),
            hist AS (SELECT b, count(*) AS cr,
                       sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                         AS ct
                     FROM e GROUP BY 1),
            tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM hist),
            lw AS (SELECT b,
                     CAST(floor(ln(
                       ((ct + 1) * (tr + 256))::DOUBLE /
                       ((cr + 1) * (tt + 256))::DOUBLE) * 1000000.0)
                       AS BIGINT) AS lw
                   FROM hist, tot)
            SELECT e.doc_id, CAST(sum(lw.lw) AS BIGINT) AS dsir_micros
            FROM e JOIN lw ON e.b = lw.b
            GROUP BY 1 ORDER BY doc_id ASC"""
      },

      // x174: the same md5("<id>:<shard>") weights, argmax stated as
      // a (w DESC, s DESC) window — identical tie order to the
      // engine's lexicographic struct max
      "x174_rendezvous_shards" ->
        """WITH a8 AS (SELECT doc_id, s,
                 md5(CAST(doc_id AS VARCHAR) || ':' ||
                     CAST(s AS VARCHAR)) AS w
               FROM documents, unnest(range(0, 8)) u(s)),
           r8 AS (SELECT doc_id, CAST(s AS BIGINT) AS shard_8
                  FROM (SELECT doc_id, s, row_number() OVER
                          (PARTITION BY doc_id
                           ORDER BY w DESC, s DESC) AS rn
                        FROM a8) WHERE rn = 1),
           a9 AS (SELECT doc_id, s,
                 md5(CAST(doc_id AS VARCHAR) || ':' ||
                     CAST(s AS VARCHAR)) AS w
               FROM documents, unnest(range(0, 9)) u(s)),
           r9 AS (SELECT doc_id, CAST(s AS BIGINT) AS shard_9
                  FROM (SELECT doc_id, s, row_number() OVER
                          (PARTITION BY doc_id
                           ORDER BY w DESC, s DESC) AS rn
                        FROM a9) WHERE rn = 1)
           SELECT r8.doc_id, shard_8, shard_9,
                  shard_8 <> shard_9 AS moved
           FROM r8 JOIN r9 ON r8.doc_id = r9.doc_id
           ORDER BY r8.doc_id ASC""",

      // x173: x138's intersection scorer over the full-dim exact list
      // and the prefix-dim approximate list
      "x173_matryoshka_recall" ->
        s"""SELECT query_id, hits,
                   round(hits / n_exact, 6) AS recall,
                   round(coalesce(rr1, 0), 6) AS top1_rr
            FROM (SELECT e.query_id, count(a.vec_id) AS hits,
                         count(*) AS n_exact,
                         max(CASE WHEN e.rank = 1
                             THEN 1.0 / a.rank END) AS rr1
                  FROM ($x05Sql) e
                  LEFT JOIN ($x05HalfSql) a
                    ON a.query_id = e.query_id
                       AND a.vec_id = e.vec_id
                  GROUP BY e.query_id)""",

      // x175: stage one = x07's sign-bucket multi-probe machinery as
      // a fetch-20 candidate CTE, stage two = x172's MaxSim scoring
      // restricted to exactly those (query, candidate) pairs
      "x175_two_stage_maxsim" ->
        s"""WITH v AS ($vecs),
           bk AS (SELECT vec_id, e,
                   (CASE WHEN e[1]>=0 THEN 1 ELSE 0 END
                  + CASE WHEN e[2]>=0 THEN 2 ELSE 0 END
                  + CASE WHEN e[3]>=0 THEN 4 ELSE 0 END
                  + CASE WHEN e[4]>=0 THEN 8 ELSE 0 END)::BIGINT
                     AS bucket
                 FROM v),
           cand AS (SELECT query_id, vec_id FROM (
                 SELECT a.vec_id AS query_id, b.vec_id,
                        row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                          AS rank
                 FROM bk a JOIN bk b
                   ON bit_count(xor(a.bucket, b.bucket)) <= 1
                      AND b.vec_id <> a.vec_id
                 WHERE a.vec_id < 4)
               WHERE rank <= 20),
           tok AS (SELECT vec_id, t,
                     e[CAST(t * (len(e) // 4) + 1 AS INT) :
                       CAST((t + 1) * (len(e) // 4) AS INT)] AS sub
                   FROM v, unnest(range(0, 4)) u(t)),
           mx AS (SELECT q.vec_id AS query_id, d.vec_id, q.t AS qt,
                    max(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(list_zip(q.sub, d.sub),
                        p -> p[1] * p[2])), (acc, x) -> acc + x)) AS m
                  FROM tok q
                  JOIN cand c ON c.query_id = q.vec_id
                  JOIN tok d ON d.vec_id = c.vec_id
                  WHERE q.vec_id < 4
                  GROUP BY 1, 2, 3),
           sc AS (SELECT query_id, vec_id,
                    round(max(CASE WHEN qt = 0 THEN m END)
                        + max(CASE WHEN qt = 1 THEN m END)
                        + max(CASE WHEN qt = 2 THEN m END)
                        + max(CASE WHEN qt = 3 THEN m END), 6) AS score
                  FROM mx GROUP BY 1, 2)
           SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score
           FROM (SELECT query_id, vec_id, score, row_number() OVER
                   (PARTITION BY query_id
                    ORDER BY score DESC, vec_id ASC) AS rank FROM sc)
           WHERE rank <= 5
           ORDER BY query_id ASC, rank ASC""",

      // x177: x175's MaxSim tail with stage one rebuilt as x71's
      // full-trained learned-centroid probe (kmeansCtes = the saved
      // centroid generation; fetch-20 candidates from the 2 probed
      // cells), stage two restricted to exactly those pairs
      "x177_two_stage_index_serve" ->
        s"""WITH $kmeansCtes,
           probes AS (
             SELECT query_id, cl AS bucket FROM (
               SELECT v.vec_id AS query_id, c.cl,
                      row_number() OVER (PARTITION BY v.vec_id
                        ORDER BY $kmeansD2, c.cl) AS rn
               FROM v, c2 c
               WHERE v.vec_id < 4)
             WHERE rn <= 2),
           cand AS (SELECT query_id, vec_id FROM (
                 SELECT p.query_id, b.vec_id,
                        row_number() OVER (PARTITION BY p.query_id
                          ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                          AS rank
                 FROM probes p
                      JOIN a3 s ON s.cl = p.bucket
                      JOIN v b ON b.vec_id = s.vec_id
                      JOIN v a ON a.vec_id = p.query_id
                 WHERE b.vec_id <> p.query_id)
               WHERE rank <= 20),
           tok AS (SELECT vec_id, t,
                     e[CAST(t * (len(e) // 4) + 1 AS INT) :
                       CAST((t + 1) * (len(e) // 4) AS INT)] AS sub
                   FROM v, unnest(range(0, 4)) u(t)),
           mx AS (SELECT q.vec_id AS query_id, d.vec_id, q.t AS qt,
                    max(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(list_zip(q.sub, d.sub),
                        p -> p[1] * p[2])), (acc, x) -> acc + x)) AS m
                  FROM tok q
                  JOIN cand c ON c.query_id = q.vec_id
                  JOIN tok d ON d.vec_id = c.vec_id
                  WHERE q.vec_id < 4
                  GROUP BY 1, 2, 3),
           sc AS (SELECT query_id, vec_id,
                    round(max(CASE WHEN qt = 0 THEN m END)
                        + max(CASE WHEN qt = 1 THEN m END)
                        + max(CASE WHEN qt = 2 THEN m END)
                        + max(CASE WHEN qt = 3 THEN m END), 6) AS score
                  FROM mx GROUP BY 1, 2)
           SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score
           FROM (SELECT query_id, vec_id, score, row_number() OVER
                   (PARTITION BY query_id
                    ORDER BY score DESC, vec_id ASC) AS rank FROM sc)
           WHERE rank <= 5
           ORDER BY query_id ASC, rank ASC""",

      // x183: x177's oracle with the metadata bar (en ⇔ id % 3 = 0)
      // on the candidate join — the bar flows through cand into the
      // MaxSim tail; probes and centroids untouched by the filter
      "x183_two_stage_filtered" ->
        s"""WITH $kmeansCtes,
           probes AS (
             SELECT query_id, cl AS bucket FROM (
               SELECT v.vec_id AS query_id, c.cl,
                      row_number() OVER (PARTITION BY v.vec_id
                        ORDER BY $kmeansD2, c.cl) AS rn
               FROM v, c2 c
               WHERE v.vec_id < 4)
             WHERE rn <= 2),
           cand AS (SELECT query_id, vec_id FROM (
                 SELECT p.query_id, b.vec_id,
                        row_number() OVER (PARTITION BY p.query_id
                          ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                          AS rank
                 FROM probes p
                      JOIN a3 s ON s.cl = p.bucket
                        AND s.vec_id % 3 = 0
                      JOIN v b ON b.vec_id = s.vec_id
                      JOIN v a ON a.vec_id = p.query_id
                 WHERE b.vec_id <> p.query_id)
               WHERE rank <= 20),
           tok AS (SELECT vec_id, t,
                     e[CAST(t * (len(e) // 4) + 1 AS INT) :
                       CAST((t + 1) * (len(e) // 4) AS INT)] AS sub
                   FROM v, unnest(range(0, 4)) u(t)),
           mx AS (SELECT q.vec_id AS query_id, d.vec_id, q.t AS qt,
                    max(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(list_zip(q.sub, d.sub),
                        p -> p[1] * p[2])), (acc, x) -> acc + x)) AS m
                  FROM tok q
                  JOIN cand c ON c.query_id = q.vec_id
                  JOIN tok d ON d.vec_id = c.vec_id
                  WHERE q.vec_id < 4
                  GROUP BY 1, 2, 3),
           sc AS (SELECT query_id, vec_id,
                    round(max(CASE WHEN qt = 0 THEN m END)
                        + max(CASE WHEN qt = 1 THEN m END)
                        + max(CASE WHEN qt = 2 THEN m END)
                        + max(CASE WHEN qt = 3 THEN m END), 6) AS score
                  FROM mx GROUP BY 1, 2)
           SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score
           FROM (SELECT query_id, vec_id, score, row_number() OVER
                   (PARTITION BY query_id
                    ORDER BY score DESC, vec_id ASC) AS rank FROM sc)
           WHERE rank <= 5
           ORDER BY query_id ASC, rank ASC""",

      // x172: the same contiguous splits, the same fold dots, the
      // same fixed-order 4-term sum, rounded once
      "x172_maxsim_topk" ->
        s"""WITH v AS ($vecs),
           tok AS (SELECT vec_id, t,
                     e[CAST(t * (len(e) // 4) + 1 AS INT) :
                       CAST((t + 1) * (len(e) // 4) AS INT)] AS sub
                   FROM v, unnest(range(0, 4)) u(t)),
           mx AS (SELECT q.vec_id AS query_id, d.vec_id, q.t AS qt,
                    max(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(list_zip(q.sub, d.sub),
                        p -> p[1] * p[2])), (acc, x) -> acc + x)) AS m
                  FROM tok q JOIN tok d ON d.vec_id <> q.vec_id
                  WHERE q.vec_id < 4
                  GROUP BY 1, 2, 3),
           sc AS (SELECT query_id, vec_id,
                    round(max(CASE WHEN qt = 0 THEN m END)
                        + max(CASE WHEN qt = 1 THEN m END)
                        + max(CASE WHEN qt = 2 THEN m END)
                        + max(CASE WHEN qt = 3 THEN m END), 6) AS score
                  FROM mx GROUP BY 1, 2)
           SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score
           FROM (SELECT query_id, vec_id, score, row_number() OVER
                   (PARTITION BY query_id
                    ORDER BY score DESC, vec_id ASC) AS rank FROM sc)
           WHERE rank <= 5
           ORDER BY query_id ASC, rank ASC""",

      // x171: x101's closed form on the ingested subset — the
      // write-files → binaryFile-read → decode chain is the identity
      "x171_binaryfile_ingest" ->
        """WITH xs AS (SELECT x FROM generate_series(0, 16) g(x)),
                ys AS (SELECT y FROM generate_series(0, 9) g(y)),
                p AS (
                  SELECT d.doc_id, 4 + d.doc_id % 13 AS w,
                         3 + d.doc_id % 7 AS h, xs.x, ys.y
                  FROM documents d, xs, ys
                  WHERE d.doc_id < 200
                    AND xs.x < 4 + d.doc_id % 13
                    AND ys.y < 3 + d.doc_id % 7)
           SELECT doc_id, CAST(MIN(w) AS INT) AS width,
                  CAST(MIN(h) AS INT) AS height,
                  CAST(SUM(((doc_id + x) % 256) + ((doc_id + y) % 256)
                           + ((x + y) % 256)) AS BIGINT) AS pix_sum
           FROM p GROUP BY doc_id ORDER BY doc_id ASC""",

      // x170: x163's canonical edge set, both directions, 12 unrolled
      // min-hop rounds from seed 1
      "x170_bfs_levels" ->
        s"""WITH k AS (SELECT CAST(s_suppkey AS BIGINT) AS k
                       FROM supplier),
           n AS (SELECT count(*) AS n FROM k),
           raw AS (SELECT k, ((k % n) + 1) AS d FROM k, n
                   UNION ALL
                   SELECT k, (((k + 1) % n) + 1) FROM k, n
                   UNION ALL
                   SELECT k, (((2 * k) % n) + 1) FROM k, n),
           e AS (SELECT DISTINCT least(k, d) AS u, greatest(k, d) AS v
                 FROM raw WHERE k <> d),
           adj AS (SELECT u AS src, v AS dst FROM e
                   UNION ALL SELECT v, u FROM e),
           l0 AS (SELECT CAST(1 AS BIGINT) AS id,
                    CAST(0 AS BIGINT) AS hop),
           ${bfsRounds(12)}
           SELECT id, hop FROM l12 ORDER BY id ASC""",

      // x184: the identical md5-addressed counter table (slot = first
      // 8 md5 hex digits of "d:key" mod 1024), the identical min-over-
      // rows estimates; the absent probe (-1) left-joins an empty cell
      // → estimate 0. x188's summed persisted counter segments must
      // land the identical estimates — same oracle verbatim.
      "x184_countmin_freq" -> cmsOracle,
      "x188_cms_sketch_merge" -> cmsOracle,
      // x228: streamed counter segments — same oracle verbatim (the
      // x189/x194 relationship)
      "x228_stream_cms_sketch" -> cmsOracle,
      // x190: negated delete segments net out — the one-shot sketch
      // over the surviving rows
      "x190_cms_sketch_delete" ->
        cmsOracleFor("WHERE event_id % 3 <> 0"),

      // x191: the identical integer bucket table, cumulative counts,
      // and lowest-qualifying-bucket selection — estimates themselves
      // oracle-exact (one-bucket-width error bound is structural)
      "x191_hist_quantiles" -> histOracle,
      // x192: summed persisted counter segments must land the one-shot
      // estimates — same oracle verbatim
      "x192_hist_sketch_merge" -> histOracle,
      // x194: streamed counter segments — same oracle verbatim again
      "x194_stream_hist_sketch" -> histOracle,
      // x222: KLL in the exact regime (k > n at sf0.01, nothing ever
      // compacts) — est IS the ⌈q·n⌉-th smallest value as a double;
      // the same ⌈·⌉ micro-fraction rank rule as the histogram family
      "x222_kll_exact" ->
        """WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS v
               FROM documents WHERE n_chars IS NOT NULL),
           n AS (SELECT count(*) AS n FROM v),
           r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
                 FROM v),
           q AS (SELECT CAST(unnest([100000, 500000, 900000, 990000])
                   AS BIGINT) AS q_micros),
           sel AS (SELECT q.q_micros, n.n,
                     (q.q_micros * n.n + 999999) // 1000000 AS k
                   FROM q, n)
           SELECT sel.q_micros, CAST(sel.n AS BIGINT) AS n,
                  CAST(sel.k AS BIGINT) AS k, r.v AS est
           FROM sel JOIN r ON r.rn = sel.k ORDER BY q_micros ASC""",
      // x226/x227: the textbook two-sample KS in the exact regime —
      // cumulative counts per side over the union of values, integer
      // cross-product numerator, one division (x227 compares A∪B
      // against A — the save slice vs the post-append state)
      "x226_kll_ks_drift" -> kllKsOracle(
        "WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL",
        "WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL"),
      "x227_kll_version_drift" -> kllKsOracle(
        "WHERE n_chars IS NOT NULL",
        "WHERE doc_id % 3 <> 0 AND n_chars IS NOT NULL"),
      // x225: the same exact-regime order statistics, grouped per lang
      "x225_kll_by_group" -> kllByLangOracle,
      // x237: the streamed grouped sketch must serve the one-shot
      // grouped build exactly (exact regime — segments concatenate,
      // weights conserve) — x225's oracle verbatim
      "x237_stream_kll_by_group" -> kllByLangOracle,
      // x240: per-lang textbook two-sample KS in the exact regime —
      // x226's integer arithmetic keyed on the group
      "x240_kll_group_drift" ->
        s"""SELECT * FROM (${kllGroupKsSql(
          "doc_id % 2 = 0", "doc_id % 2 = 1")})
           ORDER BY lang ASC""",
      // x246: the streamed per-group monitor replayed — batch 1
      // (%3=2) scored against the base ledger (%3=1), batch 2 (%3=0)
      // against base+batch1 (%3 in 1,2); (lang, n_b) replays arrival
      "x246_stream_group_drift" ->
        s"""SELECT * FROM (
             (${kllGroupKsSql("doc_id % 3 = 2", "doc_id % 3 = 1")})
             UNION ALL
             (${kllGroupKsSql("doc_id % 3 = 0",
               "doc_id % 3 IN (1, 2)")}))
           ORDER BY lang ASC, n_b ASC""",
      // x193: negated delete segments net out — the one-shot sketch
      // over the surviving rows
      "x193_hist_sketch_delete" ->
        histOracleFor("AND doc_id % 3 <> 0"),
      // x198: the same bucket/cumulative/selection arithmetic, grouped
      // per lang (every aggregate and join keyed on the group)
      "x198_hist_by_group" ->
        """WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS v
               FROM documents
               WHERE lang IS NOT NULL AND n_chars IS NOT NULL
                 AND n_chars >= 0),
           h AS (SELECT lang, v // 50 AS bucket, count(*) AS c
                 FROM v GROUP BY 1, 2),
           cum AS (SELECT a.lang, a.bucket, sum(b.c) AS cum
                   FROM h a JOIN h b
                     ON b.lang = a.lang AND b.bucket <= a.bucket
                   GROUP BY 1, 2),
           n AS (SELECT lang, sum(c) AS n FROM h GROUP BY 1),
           q AS (SELECT CAST(unnest([250000, 500000, 750000])
                   AS BIGINT) AS q_micros),
           sel AS (SELECT cum.lang, q.q_micros, n.n,
                     (q.q_micros * n.n + 999999) // 1000000 AS k,
                     min(cum.bucket) AS bucket
                   FROM q, n, cum
                   WHERE cum.lang = n.lang
                     AND cum.cum >=
                       (q.q_micros * n.n + 999999) // 1000000
                   GROUP BY 1, 2, 3, 4)
           SELECT lang, q_micros, CAST(n AS BIGINT) AS n,
                  CAST(k AS BIGINT) AS k,
                  CAST(bucket AS BIGINT) AS bucket,
                  CAST(bucket * 50 AS BIGINT) AS est_lo,
                  CAST((bucket + 1) * 50 - 1 AS BIGINT) AS est_hi
           FROM sel ORDER BY lang ASC, q_micros ASC""",

      "x185_hll_distinct" -> hllOracle,
      // x186: the merged persisted registers must land the one-shot
      // estimate exactly — same oracle verbatim
      "x186_hll_sketch_merge" -> hllOracle,
      // x214: inclusion-exclusion + containment over the two slices'
      // deterministic registers — every number replicated
      "x214_corpus_overlap" -> overlapOracle,
      // x231: x214's register pipeline on two versions of one index —
      // old slice vs full corpus, retention/novelty from the same
      // rounded containment
      "x231_ingest_novelty" ->
        s"""WITH ra AS (${hllRegsSqlFor("WHERE event_id % 3 <> 0")}),
           rb AS (${hllRegsSqlFor("")}),
           ru AS (SELECT bucket, max(m) AS m FROM
                    (SELECT * FROM ra UNION ALL SELECT * FROM rb)
                  GROUP BY 1),
           ea AS (${hllEstSql.replace("%s", "ra")}),
           eb AS (${hllEstSql.replace("%s", "rb")}),
           eu AS (${hllEstSql.replace("%s", "ru")})
           SELECT ea.e AS est_old, eb.e AS est_new,
                  greatest(round(ea.e + eb.e - eu.e, 2), 0.0)
                    AS est_intersect,
                  round(greatest(round(ea.e + eb.e - eu.e, 2), 0.0)
                    / eb.e, 6) AS retention,
                  round(1.0 - round(greatest(round(ea.e + eb.e - eu.e,
                    2), 0.0) / eb.e, 6), 6) AS novelty
           FROM ea, eb, eu""",
      // x232: the empirical CDF at each threshold — exact regime, so
      // counts over the raw values
      "x232_kll_cdf" ->
        """WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS v
               FROM documents WHERE n_chars IS NOT NULL),
           n AS (SELECT count(*) AS n FROM v),
           t AS (SELECT CAST(unnest([100.0, 200.0, 400.0]) AS DOUBLE)
                   AS t)
           SELECT t.t, CAST(n.n AS BIGINT) AS n,
                  CAST((SELECT count(*) FROM v WHERE v.v <= t.t)
                    AS BIGINT) AS le_w,
                  round((SELECT count(*) FROM v WHERE v.v <= t.t)
                    * 1.0 / n.n, 6) AS cdf
           FROM t, n ORDER BY t.t ASC""",
      // x215/x216: the full unigram-LM pipeline unrolled declaratively
      // — recursive-CTE segmentation enumeration against the engine's
      // codegen'd Viterbi DP, integer micronat costs end to end
      "x215_unigram_learn" -> unigramLearnOracle,
      "x216_unigram_encode" -> unigramEncodeOracle,
      // x236: both tokenizers replayed as derived tables — w6 holds
      // each word's fully-merged BPE symbols, ubest2 the unigram
      // Viterbi (vocabMulti=6, the equal budget); per-lang integer
      // rollups, two rounded divisions
      "x236_tokenizer_scorecard" ->
        s"""WITH RECURSIVE $bpeW0,
           ${bpeRounds(6)},
           socc AS (SELECT lang, word FROM (
                      SELECT lang, unnest(regexp_extract_all(
                        lower(text), '[a-z]+')) AS word
                      FROM documents)),
           encwords AS (SELECT DISTINCT word FROM socc
                        WHERE len(word) <= 16),
           ${unigramCoreSqlP("u", "", 6)},
           ${unigramEncodeCtesP("u")},
           agg AS (SELECT s.lang,
                     count(*) AS n_words,
                     sum(len(s.word)) AS n_chars,
                     sum(len(w6.syms)) AS bpe_tokens,
                     count(b.n) AS uni_enc,
                     coalesce(sum(CASE WHEN b.n IS NOT NULL
                       THEN len(s.word) END), 0) AS uni_chars,
                     coalesce(sum(b.n), 0) AS uni_tokens
                   FROM socc s JOIN w6 USING (word)
                   LEFT JOIN ubest2 b USING (word)
                   GROUP BY 1)
           SELECT * FROM (
             SELECT lang, 'bpe' AS tokenizer,
                    CAST(n_words AS BIGINT) AS n_words,
                    CAST(n_words AS BIGINT) AS n_enc_words,
                    CAST(0 AS BIGINT) AS n_oov_words,
                    CAST(n_chars AS BIGINT) AS n_chars_enc,
                    CAST(bpe_tokens AS BIGINT) AS n_tokens,
                    CASE WHEN n_words > 0 THEN
                      round(bpe_tokens*1.0/n_words, 6) END
                      AS fertility,
                    CASE WHEN bpe_tokens > 0 THEN
                      round(n_chars*1.0/bpe_tokens, 6) END
                      AS compression
             FROM agg
             UNION ALL
             SELECT lang, 'unigram' AS tokenizer,
                    CAST(n_words AS BIGINT) AS n_words,
                    CAST(uni_enc AS BIGINT) AS n_enc_words,
                    CAST(n_words - uni_enc AS BIGINT) AS n_oov_words,
                    CAST(uni_chars AS BIGINT) AS n_chars_enc,
                    CAST(uni_tokens AS BIGINT) AS n_tokens,
                    CASE WHEN uni_enc > 0 THEN
                      round(uni_tokens*1.0/uni_enc, 6) END
                      AS fertility,
                    CASE WHEN uni_tokens > 0 THEN
                      round(uni_chars*1.0/uni_tokens, 6) END
                      AS compression
             FROM agg)
           ORDER BY lang ASC, tokenizer ASC""",
      // x230: two tokenizer generations (half-corpus learn, full-corpus
      // retrain) encoding the same documents, tagged by vocab_gen
      "x230_unigram_vocab_persist" -> unigramPersistOracle,
      // x189: streamed register segments — same oracle verbatim again
      "x189_stream_hll_sketch" -> hllOracle,
      // x187: the same registers and integer denominator, grouped
      "x187_hll_by_group" ->
        """WITH h AS (SELECT event_type,
                 md5(CAST(event_id AS VARCHAR)) AS hx
               FROM events),
           r AS (SELECT event_type,
                   ('0x' || substr(hx, 1, 2))::BIGINT AS bucket,
                   CASE WHEN ('0x' || substr(hx, 3, 12))::BIGINT = 0
                        THEN 49
                        ELSE 49 - length(to_base(
                          ('0x' || substr(hx, 3, 12))::BIGINT, 2))
                   END AS rank
                 FROM h),
           regs AS (SELECT event_type, bucket, max(rank) AS m
                    FROM r GROUP BY 1, 2),
           a AS (SELECT event_type, count(*) AS n_filled,
                   sum(CAST(1 AS BIGINT) << CAST(49 - m AS INT))
                     AS t_filled
                 FROM regs GROUP BY 1)
           SELECT event_type,
                  CAST(256 AS BIGINT) AS n_buckets,
                  CAST(256 - n_filled AS BIGINT) AS n_zero,
                  CAST(t_filled + (256 - n_filled) *
                    (CAST(1 AS BIGINT) << 49) AS BIGINT) AS t_sum,
                  round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
                    562949953421312.0 /
                    CAST(t_filled + (256 - n_filled) *
                      (CAST(1 AS BIGINT) << 49) AS DOUBLE), 2)
                    AS est_raw
           FROM a ORDER BY event_type ASC""",

      // x168: GROUP BY + HAVING is the definition; both engines group
      // NULL quasi-values together
      "x168_kanonymity_audit" ->
        """WITH g AS (SELECT lang, source,
                 n_chars // 200 AS len_bucket, count(*) AS n_rows,
                 count(DISTINCT doc_id % 7) AS n_sensitive
               FROM documents GROUP BY 1, 2, 3)
           SELECT lang, source, CAST(len_bucket AS BIGINT) AS len_bucket,
                  CAST(n_rows AS BIGINT) AS n_rows,
                  CAST(n_sensitive AS BIGINT) AS n_sensitive,
                  n_rows < 5 AS k_violation,
                  n_sensitive < 3 AS l_violation
           FROM g WHERE n_rows < 5 OR n_sensitive < 3
           ORDER BY lang ASC, source ASC, len_bucket ASC""",

      // x169: same round-to-guard-digits-then-floor milli-nats (the
      // pre-floor round(…,6) keeps a last-ulp ln difference between
      // libm implementations from flipping a grid point), same exact
      // integer sums, same final division
      "x169_zipf_fit" ->
        """WITH tf AS (SELECT t, count(*) AS c FROM (
                 SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                   AS t FROM documents) GROUP BY 1),
           sp AS (SELECT c, count(*) AS m FROM tf GROUP BY 1),
           pts AS (SELECT CAST(floor(round(1000 * ln(c), 6)) AS BIGINT) AS x,
                     CAST(floor(round(1000 * ln(m), 6)) AS BIGINT) AS y FROM sp),
           agg AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                     sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts)
           SELECT CAST((SELECT count(*) FROM tf) AS BIGINT) AS n_terms,
                  CAST(n AS BIGINT) AS n_points,
                  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
                  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
                  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
                         CAST(n * sxx - sx * sx AS DOUBLE), 6)
                  END AS slope
           FROM agg""",

      // x167: PCM16 round-trips losslessly — the oracle recomputes
      // every amplitude from the id, never touching bytes
      "x167_wav_pcm_stats" ->
        """WITH s AS (SELECT doc_id,
                 unnest(range(0, 32 + doc_id % 64)) AS i
               FROM documents),
           v AS (SELECT doc_id,
                   (doc_id * 31 + i * 17) % 65536 - 32768 AS amp
                 FROM s)
           SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
                  CAST(count(*) AS BIGINT) AS n_samples,
                  CAST(sum(amp) AS BIGINT) AS sum_amp,
                  CAST(max(abs(amp)) AS BIGINT) AS peak_amp
           FROM v GROUP BY 1 ORDER BY doc_id ASC""",

      // x179: the engine's rational index map replayed in integer SQL —
      // m = n*3000//8000 output frames, output j reads source frame
      // j*8000//3000, amplitude from the same closed form as x167
      "x179_audio_resample_stats" ->
        """WITH s AS (SELECT doc_id, 32 + doc_id % 64 AS n
               FROM documents),
           o AS (SELECT doc_id, n, (n * 3000) // 8000 AS m FROM s),
           j AS (SELECT doc_id, m, unnest(range(0, m)) AS j FROM o),
           v AS (SELECT doc_id, m,
                   (doc_id * 31 + ((j * 8000) // 3000) * 17) % 65536
                     - 32768 AS amp
                 FROM j)
           SELECT doc_id, CAST(3000 AS BIGINT) AS sample_rate,
                  CAST(count(*) AS BIGINT) AS n_samples,
                  CAST(sum(amp) AS BIGINT) AS sum_amp,
                  CAST(max(abs(amp)) AS BIGINT) AS peak_amp
           FROM v GROUP BY 1 ORDER BY doc_id ASC""",

      // x195/x196: the dHash recomputed entirely from x101's pixel
      // closed form — 9×7 nearest-neighbor grayscale grid, gray =
      // (R+G+B) div 3, bit set iff the right neighbor is brighter;
      // x196 then brute-forces ALL Hamming<=7 pairs (equal to the
      // engine's banded+verified output by the enforced recall
      // contract, the x04 argument)
      "x195_image_dhash" ->
        s"""WITH $dhashSigCte
           SELECT doc_id, dhash FROM sh ORDER BY doc_id ASC""",
      "x219_image_phash" ->
        s"""WITH $phashSigCte
           SELECT doc_id, phash FROM ph ORDER BY doc_id ASC""",
      "x223_phash_neardup_pairs" ->
        s"""WITH $phashSigCte
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
                    AS hamming
           FROM ph a JOIN ph b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.phash, b.phash)) <= 7
           ORDER BY doc_a ASC, doc_b ASC""",
      // x229: the brute-force admission decision over the closed-form
      // pHashes — incoming (doc_id % 4 = 0) with NO ledgered doc
      // within Hamming 7 (the x199/x210 shape on the third modality)
      "x229_phash_ledger_admit" ->
        s"""WITH $phashSigCte
           SELECT i.doc_id
           FROM (SELECT * FROM ph WHERE doc_id % 4 = 0) i
           WHERE NOT EXISTS (
             SELECT 1 FROM ph x
             WHERE x.doc_id % 4 <> 0
               AND bit_count(xor(x.phash, i.phash)) <= 7)
           ORDER BY i.doc_id ASC""",
      // x234/x238/x239: the audio-hash family over the closed-form
      // spectral signatures — same shapes as x219/x223/x229
      "x234_audio_fingerprint" ->
        s"""WITH $ahashSigCte
           SELECT doc_id, ahash FROM ah ORDER BY doc_id ASC""",
      "x238_audio_neardup_pairs" ->
        s"""WITH $ahashSigCte
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT)
                    AS hamming
           FROM ah a JOIN ah b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.ahash, b.ahash)) <= 7
           ORDER BY doc_a ASC, doc_b ASC""",
      "x239_audio_ledger_admit" ->
        s"""WITH $ahashSigCte
           SELECT i.doc_id
           FROM (SELECT * FROM ah WHERE doc_id % 4 = 0) i
           WHERE NOT EXISTS (
             SELECT 1 FROM ah x
             WHERE x.doc_id % 4 <> 0
               AND bit_count(xor(x.ahash, i.ahash)) <= 7)
           ORDER BY i.doc_id ASC""",
      // x253: the two stream batches replayed sequentially (greedy
      // earlier-batch-wins — the x202 oracle shape on the audio axis)
      "x253_stream_audio_admit" ->
        s"""WITH $ahashSigCte,
           base AS (SELECT doc_id, ahash FROM ah WHERE doc_id < 25),
           b1 AS (SELECT doc_id, ahash FROM ah
                  WHERE doc_id >= 50 AND doc_id % 5 = 4),
           a1 AS (SELECT * FROM b1 i WHERE NOT EXISTS (
                    SELECT 1 FROM base x
                    WHERE bit_count(xor(x.ahash, i.ahash)) <= 7)),
           idx1 AS (SELECT * FROM base UNION ALL SELECT * FROM a1),
           b2 AS (SELECT doc_id, ahash FROM ah
                  WHERE doc_id >= 50 AND doc_id % 5 = 0),
           a2 AS (SELECT * FROM b2 i WHERE NOT EXISTS (
                    SELECT 1 FROM idx1 x
                    WHERE bit_count(xor(x.ahash, i.ahash)) <= 7))
           SELECT doc_id, ahash AS sh
           FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
           ORDER BY doc_id ASC""",
      // x244: exact components via the recursive reachability closure
      // over the brute-force audio-hash pair set (x203's shape on the
      // fourth modality)
      "x244_audio_canonical" ->
        s"""WITH RECURSIVE $ahashSigCte,
           pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM ah a JOIN ah b ON a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.ahash, b.ahash)) <= 7),
           ed AS (SELECT doc_a AS eu, doc_b AS ev FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
           reach(ru, rv) AS (
             SELECT eu, ev FROM ed
             UNION
             SELECT r.ru, e2.ev FROM reach r JOIN ed e2 ON r.rv = e2.eu),
           lbl AS (SELECT ru AS lid, least(ru, min(rv)) AS lcluster
                   FROM reach GROUP BY ru),
           cl AS (SELECT d.doc_id,
                    coalesce(l.lcluster, d.doc_id) AS cluster_id
                  FROM (SELECT doc_id FROM documents) d
                  LEFT JOIN lbl l ON d.doc_id = l.lid)
           SELECT cluster_id, CAST(min(doc_id) AS BIGINT) AS keep_id,
                  CAST(count(*) AS BIGINT) AS n_members
           FROM cl GROUP BY 1 ORDER BY cluster_id ASC""",
      // x248: value-defined quartile bins from the per-nation
      // ⌈q·n⌉-th order statistics (exact regime) — q38's stats shape
      // with sketch-broadcast edges instead of the ntile window
      "x248_kll_quartile_bins" ->
        """WITH v AS (SELECT c_nationkey AS g,
                CAST(c_acctbal AS DOUBLE) AS v
              FROM customer WHERE c_acctbal IS NOT NULL),
           n AS (SELECT g, count(*) AS n FROM v GROUP BY 1),
           r AS (SELECT g, v, row_number() OVER (
                   PARTITION BY g ORDER BY v) AS rn FROM v),
           q AS (SELECT CAST(unnest([250000, 500000, 750000])
                   AS BIGINT) AS q_micros),
           sel AS (SELECT n.g, q.q_micros,
                     (q.q_micros * n.n + 999999) // 1000000 AS kk
                   FROM q, n),
           est AS (SELECT sel.g, sel.q_micros, r.v AS est
                   FROM sel JOIN r
                     ON r.g = sel.g AND r.rn = sel.kk),
           th AS (SELECT g,
                    min(CASE WHEN q_micros = 250000 THEN est END)
                      AS t1,
                    min(CASE WHEN q_micros = 500000 THEN est END)
                      AS t2,
                    min(CASE WHEN q_micros = 750000 THEN est END)
                      AS t3
                  FROM est GROUP BY 1),
           b AS (SELECT c.c_nationkey, c.c_acctbal,
                   CAST(c.c_acctbal AS DECIMAL(20,2)) AS bal_dec,
                   1 + CAST(CAST(c.c_acctbal AS DOUBLE) > th.t1
                         AS INT)
                     + CAST(CAST(c.c_acctbal AS DOUBLE) > th.t2
                         AS INT)
                     + CAST(CAST(c.c_acctbal AS DOUBLE) > th.t3
                         AS INT) AS bin
                 FROM customer c JOIN th ON th.g = c.c_nationkey
                 WHERE c.c_acctbal IS NOT NULL)
           SELECT c_nationkey, CAST(bin AS BIGINT) AS bin,
                  count(*) AS n, min(c_acctbal) AS min_bal,
                  max(c_acctbal) AS max_bal,
                  CAST(sum(bal_dec) AS DOUBLE) AS sum_bal
           FROM b GROUP BY 1, 2
           ORDER BY c_nationkey ASC, bin ASC""",

      // x243: per-lang empirical CDF at each threshold — exact
      // regime, counts over the raw values keyed on the group
      "x243_kll_group_cdf" ->
        """WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v
               FROM documents
               WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
           n AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
           t AS (SELECT CAST(unnest([100.0, 200.0, 400.0]) AS DOUBLE)
                   AS t),
           le AS (SELECT n.lang, t.t, n.n,
                    (SELECT count(*) FROM v
                     WHERE v.lang = n.lang AND v.v <= t.t) AS le_w
                  FROM n, t)
           SELECT lang, t, CAST(n AS BIGINT) AS n,
                  CAST(le_w AS BIGINT) AS le_w,
                  round(le_w * 1.0 / n, 6) AS cdf
           FROM le ORDER BY lang ASC, t ASC""",
      "x196_dhash_neardup_pairs" ->
        s"""WITH $dhashSigCte
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT)
                    AS hamming
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
           ORDER BY doc_a ASC, doc_b ASC""",

      // x199: the brute-force admission decision — incoming docs
      // (doc_id % 5 = 0) with NO indexed doc (doc_id % 5 <> 0, base +
      // append) within Hamming 7; equal to the banded+verified ledger
      // decision by the enforced recall contract
      "x199_dhash_ledger_admit" ->
        s"""WITH $dhashSigCte
           SELECT i.doc_id, i.dhash AS sh
           FROM (SELECT * FROM sh WHERE doc_id % 5 = 0) i
           WHERE NOT EXISTS (
             SELECT 1 FROM sh x
             WHERE x.doc_id % 5 <> 0
               AND bit_count(xor(x.dhash, i.dhash)) <= 7)
           ORDER BY i.doc_id ASC""",

      // x202: the two batches replayed sequentially — batch 1 admits
      // against base (doc_id % 5 in 1,2,3), batch 2 against base plus
      // batch 1's admissions (greedy earlier-batch-wins, exactly the
      // stream's ledger-state semantics)
      "x202_stream_dhash_admit" ->
        s"""WITH $dhashSigCte,
           base AS (SELECT doc_id, dhash FROM sh
                    WHERE doc_id % 5 IN (1, 2, 3)),
           b1 AS (SELECT doc_id, dhash FROM sh WHERE doc_id % 5 = 4),
           a1 AS (SELECT * FROM b1 i WHERE NOT EXISTS (
                    SELECT 1 FROM base x
                    WHERE bit_count(xor(x.dhash, i.dhash)) <= 7)),
           idx1 AS (SELECT * FROM base UNION ALL SELECT * FROM a1),
           b2 AS (SELECT doc_id, dhash FROM sh WHERE doc_id % 5 = 0),
           a2 AS (SELECT * FROM b2 i WHERE NOT EXISTS (
                    SELECT 1 FROM idx1 x
                    WHERE bit_count(xor(x.dhash, i.dhash)) <= 7))
           SELECT doc_id, dhash AS sh
           FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
           ORDER BY doc_id ASC""",

      // x203: exact components via a recursive reachability closure
      // over the brute-force Hamming<=7 pair set (x31's oracle shape
      // on the dHash graph); keepers are component minima, singletons
      // their own cluster
      "x203_visual_canonical" ->
        s"""WITH RECURSIVE $dhashSigCte,
           pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.dhash, b.dhash)) <= 7),
           ed AS (SELECT doc_a AS eu, doc_b AS ev FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
           reach(ru, rv) AS (
             SELECT eu, ev FROM ed
             UNION
             SELECT r.ru, e2.ev FROM reach r JOIN ed e2 ON r.rv = e2.eu),
           lbl AS (SELECT ru AS lid, least(ru, min(rv)) AS lcluster
                   FROM reach GROUP BY ru),
           cl AS (SELECT d.doc_id,
                    coalesce(l.lcluster, d.doc_id) AS cluster_id
                  FROM (SELECT doc_id FROM sh) d
                  LEFT JOIN lbl l ON d.doc_id = l.lid)
           SELECT cluster_id, CAST(min(doc_id) AS BIGINT) AS keep_id,
                  CAST(count(*) AS BIGINT) AS n_members
           FROM cl GROUP BY 1 ORDER BY cluster_id ASC""",

      // x204: the histogram tail over token-weight sums — same bucket
      // and selection arithmetic, counters are Σ tokens not row counts
      "x204_hist_weighted" ->
        """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v,
                 CAST(len(regexp_split_to_array(trim(text), '\s+'))
                   AS BIGINT) AS w
               FROM documents
               WHERE n_chars IS NOT NULL AND n_chars >= 0
                 AND text IS NOT NULL),
           h AS (SELECT v // 50 AS bucket, sum(w) AS c
                 FROM v GROUP BY 1),
           cum AS (SELECT a.bucket, sum(b.c) AS cum
                   FROM h a JOIN h b ON b.bucket <= a.bucket
                   GROUP BY 1),
           n AS (SELECT sum(c) AS n FROM h),
           q AS (SELECT CAST(unnest([100000, 500000, 900000, 990000])
                   AS BIGINT) AS q_micros),
           sel AS (SELECT q.q_micros, n.n,
                     (q.q_micros * n.n + 999999) // 1000000 AS k,
                     min(cum.bucket) AS bucket
                   FROM q, n, cum
                   WHERE cum.cum >=
                     (q.q_micros * n.n + 999999) // 1000000
                   GROUP BY 1, 2, 3)
           SELECT q_micros, CAST(n AS BIGINT) AS n,
                  CAST(k AS BIGINT) AS k,
                  CAST(bucket AS BIGINT) AS bucket,
                  CAST(bucket * 50 AS BIGINT) AS est_lo,
                  CAST((bucket + 1) * 50 - 1 AS BIGINT) AS est_hi
           FROM sel ORDER BY q_micros ASC""",

      // x212: the drift of (full corpus) vs (pre-append base) — x206's
      // exact-integer L1 with side a = everything, side b = the base
      // slice; the engine reads both from retained sketch snapshots
      "x212_sketch_version_drift" ->
        """WITH va AS (SELECT CAST(n_chars AS BIGINT) // 50 AS bucket
               FROM documents
               WHERE n_chars IS NOT NULL AND n_chars >= 0),
           vb AS (SELECT CAST(n_chars AS BIGINT) // 50 AS bucket
               FROM documents
               WHERE doc_id % 3 <> 0 AND n_chars IS NOT NULL
                 AND n_chars >= 0),
           ha AS (SELECT bucket, count(*) AS c_a FROM va GROUP BY 1),
           hb AS (SELECT bucket, count(*) AS c_b FROM vb GROUP BY 1),
           j AS (SELECT coalesce(ha.c_a, 0) AS c_a,
                        coalesce(hb.c_b, 0) AS c_b
                 FROM ha FULL OUTER JOIN hb USING (bucket)),
           t AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM j)
           SELECT CAST(t.n_a AS BIGINT) AS n_a,
                  CAST(t.n_b AS BIGINT) AS n_b,
                  CAST(sum(abs(j.c_a * t.n_b - j.c_b * t.n_a))
                    AS BIGINT) AS l1_num,
                  round(sum(abs(j.c_a * t.n_b - j.c_b * t.n_a)) * 1.0 /
                    (t.n_a * t.n_b), 6) AS drift
           FROM j, t GROUP BY t.n_a, t.n_b""",

      // x211: both batches replayed sequentially — batch 1 scored
      // against the base counters, batch 2 against base+batch1; the
      // same exact-integer L1 as x206 per pair
      "x211_stream_drift_monitor" -> {
        def driftPair(i: Int, aTbl: String, bTbl: String): String =
          s"""j$i AS (SELECT coalesce(a.c, 0) AS c_a,
                        coalesce(b.c, 0) AS c_b
                      FROM $aTbl a FULL OUTER JOIN $bTbl b
                      USING (bucket)),
             t$i AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM j$i),
             d$i AS (SELECT CAST(t$i.n_a AS BIGINT) AS n_a,
                       CAST(t$i.n_b AS BIGINT) AS n_b,
                       CAST(sum(abs(j$i.c_a * t$i.n_b -
                         j$i.c_b * t$i.n_a)) AS BIGINT) AS l1_num,
                       round(sum(abs(j$i.c_a * t$i.n_b -
                         j$i.c_b * t$i.n_a)) * 1.0 /
                         (t$i.n_a * t$i.n_b), 6) AS drift
                     FROM j$i, t$i GROUP BY t$i.n_a, t$i.n_b)"""
        s"""WITH v AS (SELECT doc_id % 3 AS m,
                 CAST(n_chars AS BIGINT) // 50 AS bucket
               FROM documents
               WHERE n_chars IS NOT NULL AND n_chars >= 0),
           h AS (SELECT m, bucket, count(*) AS c FROM v GROUP BY 1, 2),
           base AS (SELECT bucket, c FROM h WHERE m = 1),
           b1 AS (SELECT bucket, c FROM h WHERE m = 2),
           b2 AS (SELECT bucket, c FROM h WHERE m = 0),
           st1 AS (SELECT bucket, sum(c) AS c FROM (
                     SELECT * FROM base UNION ALL SELECT * FROM b1)
                   GROUP BY 1),
           ${driftPair(1, "b1", "base")},
           ${driftPair(2, "b2", "st1")}
           SELECT * FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
           ORDER BY n_b ASC"""
      },

      // x209: per-group histograms on the shared bucket grid, pairwise
      // exact-integer L1 under g_a < g_b
      "x209_drift_matrix" ->
        """WITH v AS (SELECT lang AS g,
                 CAST(n_chars AS BIGINT) // 50 AS bucket
               FROM documents
               WHERE lang IS NOT NULL AND n_chars IS NOT NULL
                 AND n_chars >= 0),
           h AS (SELECT g, bucket, count(*) AS c FROM v GROUP BY 1, 2),
           n AS (SELECT g, sum(c) AS n FROM h GROUP BY 1),
           grid AS (SELECT gb.g, gb.bucket, coalesce(h.c, 0) AS c
                    FROM (SELECT n.g, b.bucket
                          FROM n, (SELECT DISTINCT bucket FROM h) b) gb
                    LEFT JOIN h
                      ON h.g = gb.g AND h.bucket = gb.bucket),
           pairs AS (SELECT a.g AS g_a, b2.g AS g_b, na.n AS rn_a,
                       nb.n AS rn_b,
                       sum(abs(a.c * nb.n - b2.c * na.n)) AS num
                     FROM grid a
                     JOIN grid b2
                       ON a.bucket = b2.bucket AND a.g < b2.g
                     JOIN n na ON na.g = a.g
                     JOIN n nb ON nb.g = b2.g
                     GROUP BY 1, 2, 3, 4)
           SELECT g_a, g_b, CAST(rn_a AS BIGINT) AS n_a,
                  CAST(rn_b AS BIGINT) AS n_b,
                  CAST(num AS BIGINT) AS l1_num,
                  round(num * 1.0 / (rn_a * rn_b), 6) AS drift
           FROM pairs ORDER BY g_a ASC, g_b ASC""",

      // x210: the full text-SimHash recomputation (x04's sh CTE), then
      // the brute-force admission decision — incoming docs
      // (doc_id % 4 = 0) with NO indexed doc within Hamming 7; equal
      // to the banded ledger decision by the recall contract
      "x210_simhash_ledger_admit" ->
        s"""WITH $simhashShCte
           SELECT i.doc_id
           FROM (SELECT * FROM sh WHERE doc_id % 4 = 0) i
           WHERE NOT EXISTS (
             SELECT 1 FROM sh x
             WHERE x.doc_id % 4 <> 0
               AND bit_count(xor(x.sh, i.sh)) <= 7)
           ORDER BY i.doc_id ASC""",

      // x207: q13's correlated-subquery shape with the direction
      // reversed (earliest view >= click ts), the tolerance bar in
      // epoch seconds, and the forward tie rule (lowest id)
      "x207_asof_tolerance" ->
        """WITH a AS (
             SELECT c.event_id, c.user_id, c.ts,
                    (SELECT v.event_id FROM events v
                     WHERE v.user_id = c.user_id
                       AND v.event_type = 'view'
                       AND v.ts >= c.ts
                       AND epoch(v.ts) - epoch(c.ts) <= 3600
                     ORDER BY v.ts ASC, v.event_id ASC LIMIT 1)
                      AS next_view_id
             FROM events c WHERE c.event_type = 'click')
           SELECT a.event_id, a.user_id,
                  strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                  a.next_view_id,
                  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS next_view_ts
           FROM a LEFT JOIN events v ON v.event_id = a.next_view_id""",

      // x208: global nearest within the tolerance — min |Δ| first,
      // distance ties prefer the backward side, same-side same-ts ties
      // keep backward's highest / forward's lowest id
      "x208_asof_nearest" ->
        """WITH a AS (
             SELECT c.event_id, c.user_id, c.ts,
                    (SELECT v.event_id FROM events v
                     WHERE v.user_id = c.user_id
                       AND v.event_type = 'view'
                       AND abs(epoch(v.ts) - epoch(c.ts)) <= 1800
                     ORDER BY abs(epoch(v.ts) - epoch(c.ts)) ASC,
                       CASE WHEN v.ts <= c.ts THEN 0 ELSE 1 END ASC,
                       CASE WHEN v.ts <= c.ts THEN -v.event_id
                            ELSE v.event_id END ASC
                     LIMIT 1) AS near_view_id
             FROM events c WHERE c.event_type = 'click')
           SELECT a.event_id, a.user_id,
                  strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                  a.near_view_id,
                  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS near_view_ts
           FROM a LEFT JOIN events v ON v.event_id = a.near_view_id""",

      // x205: the grouped histogram quartiles (upper bucket bounds),
      // integer Tukey fences q1 ∓ (3·IQR) div 2, and per-type counts
      // of rows outside the fences — all integer arithmetic
      "x205_robust_outliers" ->
        """WITH v AS (SELECT event_type AS g,
                 CAST(floor(value) AS BIGINT) AS v
               FROM events
               WHERE event_type IS NOT NULL AND value IS NOT NULL
                 AND floor(value) >= 0),
           h AS (SELECT g, v // 5 AS bucket, count(*) AS c
                 FROM v GROUP BY 1, 2),
           cum AS (SELECT a.g, a.bucket, sum(b.c) AS cum
                   FROM h a JOIN h b
                     ON b.g = a.g AND b.bucket <= a.bucket
                   GROUP BY 1, 2),
           n AS (SELECT g, sum(c) AS n FROM h GROUP BY 1),
           q AS (SELECT CAST(unnest([250000, 500000, 750000])
                   AS BIGINT) AS q_micros),
           sel AS (SELECT cum.g, q.q_micros, n.n,
                     min(cum.bucket) AS bucket
                   FROM q, n, cum
                   WHERE cum.g = n.g
                     AND cum.cum >=
                       (q.q_micros * n.n + 999999) // 1000000
                   GROUP BY 1, 2, 3),
           f0 AS (SELECT g, max(n) AS n,
                    max(CASE WHEN q_micros = 250000
                        THEN (bucket + 1) * 5 - 1 END) AS q1,
                    max(CASE WHEN q_micros = 500000
                        THEN (bucket + 1) * 5 - 1 END) AS med,
                    max(CASE WHEN q_micros = 750000
                        THEN (bucket + 1) * 5 - 1 END) AS q3
                  FROM sel GROUP BY 1),
           f AS (SELECT g, n, q1, med, q3,
                   q1 - (3 * (q3 - q1)) // 2 AS lo_bound,
                   q3 + (3 * (q3 - q1)) // 2 AS hi_bound
                 FROM f0)
           SELECT v.g AS event_type, CAST(max(f.n) AS BIGINT) AS n,
                  CAST(max(q1) AS BIGINT) AS q1,
                  CAST(max(med) AS BIGINT) AS med,
                  CAST(max(q3) AS BIGINT) AS q3,
                  CAST(max(lo_bound) AS BIGINT) AS lo_bound,
                  CAST(max(hi_bound) AS BIGINT) AS hi_bound,
                  CAST(sum(CASE WHEN v.v < lo_bound THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low,
                  CAST(sum(CASE WHEN v.v > hi_bound THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high
           FROM v JOIN f ON v.g = f.g
           GROUP BY 1 ORDER BY 1 ASC""",

      // x206: bucket-wise full-outer histogram compare, numerator
      // cross-multiplied to exact integers, one final division
      "x206_hist_drift" ->
        """WITH va AS (SELECT CAST(n_chars AS BIGINT) // 50 AS bucket
               FROM documents
               WHERE lang = 'en' AND n_chars IS NOT NULL
                 AND n_chars >= 0),
           vb AS (SELECT CAST(n_chars AS BIGINT) // 50 AS bucket
               FROM documents
               WHERE lang = 'fr' AND n_chars IS NOT NULL
                 AND n_chars >= 0),
           ha AS (SELECT bucket, count(*) AS c_a FROM va GROUP BY 1),
           hb AS (SELECT bucket, count(*) AS c_b FROM vb GROUP BY 1),
           j AS (SELECT coalesce(ha.c_a, 0) AS c_a,
                        coalesce(hb.c_b, 0) AS c_b
                 FROM ha FULL OUTER JOIN hb USING (bucket)),
           t AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM j)
           SELECT CAST(t.n_a AS BIGINT) AS n_a,
                  CAST(t.n_b AS BIGINT) AS n_b,
                  CAST(sum(abs(j.c_a * t.n_b - j.c_b * t.n_a))
                    AS BIGINT) AS l1_num,
                  round(sum(abs(j.c_a * t.n_b - j.c_b * t.n_a)) * 1.0 /
                    (t.n_a * t.n_b), 6) AS drift
           FROM j, t GROUP BY t.n_a, t.n_b""",

      // x200: the x167 amplitude closed form grouped into 16-frame
      // windows — silent iff sum|amp| < 16000 · window's own sample
      // count (integer comparison, ragged tail included)
      "x200_audio_silence" ->
        """WITH s AS (SELECT doc_id, 32 + doc_id % 64 AS n
               FROM documents),
           j AS (SELECT doc_id, unnest(range(0, n)) AS j FROM s),
           v AS (SELECT doc_id, j // 16 AS win,
                   abs((doc_id * 31 + j * 17) % 65536 - 32768) AS a
                 FROM j),
           w AS (SELECT doc_id, win, sum(a) AS sabs, count(*) AS cnt
                 FROM v GROUP BY 1, 2)
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
                  CAST(sum(CASE WHEN sabs < 16000 * cnt THEN 1 ELSE 0
                           END) AS BIGINT) AS n_silent,
                  CAST(sum(sabs) AS BIGINT) AS sum_abs
           FROM w GROUP BY 1 ORDER BY doc_id ASC""",

      // x201: x55's bigram CTE with both margins, T from the same
      // counts, each ln floored to milli-nats independently — the PMI
      // score is a sum of four integers, the top-30 an integer sort
      "x201_pmi_collocations" ->
        """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+')
                        AS toks FROM documents),
           bg AS (SELECT unnest([{'w1': toks[i+1], 'w2': toks[i+2]}
                                 for i in range(len(toks)-1)],
                                recursive := true)
                  FROM t),
           c AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
           m AS (SELECT w1, w2, c12,
                   CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT)
                     AS c1,
                   CAST(sum(c12) OVER (PARTITION BY w2) AS BIGINT)
                     AS c2
                 FROM c),
           tt AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM c),
           sc AS (SELECT w1, w2, c12, c1, c2,
                    CAST(floor(round(ln(CAST(c12 AS DOUBLE)) * 1000, 6))
                       + floor(round(ln(CAST(tt.t AS DOUBLE)) * 1000, 6))
                       - floor(round(ln(CAST(c1 AS DOUBLE)) * 1000, 6))
                       - floor(round(ln(CAST(c2 AS DOUBLE)) * 1000, 6))
                      AS BIGINT) AS pmi_milli
                  FROM m, tt
                  WHERE c12 >= 2)
           SELECT w1, w2, c12, c1, c2, pmi_milli
           FROM sc ORDER BY pmi_milli DESC, w1 ASC, w2 ASC LIMIT 30""",

      // x165: w0 + 6 unrolled training rounds; the merge table is the
      // per-round argmax rows. The dry-round all-NULL sentinel stays in
      // b$i (t$i/w$i rely on the cross join never going empty) but is
      // filtered out here: the engine's bpeLearn stops early and emits
      // no merge row for a dry round, so the oracle must not either.
      "x165_bpe_learn" ->
        s"""WITH $bpeW0,
           ${bpeRounds(6)}
           SELECT * FROM (
             ${(1 to 6).map(i =>
               s"SELECT CAST($i AS BIGINT) AS rank, l AS left_sym, " +
               s"r AS right_sym, CAST(f AS BIGINT) AS pair_freq FROM b$i " +
               s"WHERE l IS NOT NULL")
               .mkString("\n             UNION ALL ")})
           ORDER BY rank ASC""",

      // x166: w6 already holds each word's fully-merged symbols — the
      // per-doc encode is a join of doc word instances to it
      "x166_bpe_encode" ->
        s"""WITH $bpeW0,
           ${bpeRounds(6)},
           wd AS (SELECT doc_id,
                    unnest(regexp_extract_all(lower(text), '[a-z]+'))
                      AS word
                  FROM documents)
           SELECT wd.doc_id,
                  CAST(count(*) AS BIGINT) AS n_words,
                  CAST(sum(len(wd.word)) AS BIGINT) AS n_chars_alpha,
                  CAST(sum(len(w6.syms)) AS BIGINT) AS n_bpe_tokens
           FROM wd JOIN w6 USING (word)
           GROUP BY 1 ORDER BY wd.doc_id ASC""",

      // x164: same (ts, event_id) total order; integer floor-division
      // row probabilities
      "x164_event_transitions" ->
        """WITH s AS (SELECT event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS to_type
               FROM events),
           c AS (SELECT event_type AS from_type, to_type,
                   count(*) AS n_transitions
                 FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
           SELECT from_type, to_type,
                  CAST(n_transitions AS BIGINT) AS n_transitions,
                  CAST((1000000 * n_transitions) //
                    sum(n_transitions) OVER (PARTITION BY from_type)
                    AS BIGINT) AS prob_micros
           FROM c ORDER BY from_type ASC, to_type ASC""",

      // x163: definitional oracle — canonical u<v edges, triangles by
      // the x<y<z triple join, corners unnested; never the engine's
      // degree-ordered orientation (independent-algorithm agreement)
      "x163_clustering_coefficient" ->
        """WITH k AS (SELECT CAST(s_suppkey AS BIGINT) AS k
                      FROM supplier),
           n AS (SELECT count(*) AS n FROM k),
           raw AS (SELECT k, ((k % n) + 1) AS d FROM k, n
                   UNION ALL
                   SELECT k, (((k + 1) % n) + 1) FROM k, n
                   UNION ALL
                   SELECT k, (((2 * k) % n) + 1) FROM k, n),
           e AS (SELECT DISTINCT least(k, d) AS u, greatest(k, d) AS v
                 FROM raw WHERE k <> d),
           deg AS (SELECT id, count(*) AS degree FROM (
                     SELECT u AS id FROM e
                     UNION ALL SELECT v FROM e) GROUP BY 1),
           tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                   FROM e a JOIN e b ON b.u = a.v
                          JOIN e c ON c.u = a.u AND c.v = b.v),
           t AS (SELECT id, count(*) AS nt FROM (
                   SELECT unnest([x, y, z]) AS id FROM tri) GROUP BY 1)
           SELECT deg.id, CAST(degree AS BIGINT) AS degree,
                  CAST(coalesce(nt, 0) AS BIGINT) AS n_triangles,
                  CAST(CASE WHEN degree < 2 THEN 0
                       ELSE (2000000 * coalesce(nt, 0))
                            // (degree * (degree - 1)) END
                    AS BIGINT) AS lcc_micros
           FROM deg LEFT JOIN t ON deg.id = t.id
           ORDER BY deg.id ASC""",

      // x162: the oracle is the DEFINITION (plain semi join + agg) —
      // the bloom prefilter must be invisible in the result
      "x162_bloom_semijoin" ->
        """SELECT l_returnflag, l_linestatus,
                  count(*) AS n_lines,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)))
                    AS DOUBLE) AS sum_price
           FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                WHERE o_orderpriority = '1-URGENT')
           GROUP BY 1, 2
           ORDER BY l_returnflag ASC, l_linestatus ASC""",

      // x161: raw shares by integer floor-division; smoothed shares
      // from correctly-rounded sqrt and a list_reduce fold in lang
      // order (the engine folds the same values in the same order)
      "x161_temperature_mix" ->
        """WITH g AS (SELECT lang, count(*) AS n_docs,
                 sum(len(regexp_split_to_array(trim(text), '\s+')))
                   AS n_tokens
               FROM documents WHERE lang IS NOT NULL GROUP BY 1),
           tot AS (SELECT sum(n_tokens) AS nt,
                     list_reduce(
                       list(sqrt(n_tokens::DOUBLE) ORDER BY lang),
                       (a, b) -> a + b) AS t
                   FROM g)
           SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
                  CAST(n_tokens AS BIGINT) AS n_tokens,
                  CAST((n_tokens * 1000000) // nt AS BIGINT)
                    AS raw_share_micros,
                  CAST(floor(1000000.0 * sqrt(n_tokens::DOUBLE) / t)
                    AS BIGINT) AS mix_share_micros
           FROM g, tot ORDER BY lang ASC""",

      // x159: dense token positions + a 10-row sliding integer sum,
      // argmax (hits DESC, start ASC), slice the winning window
      "x159_best_passage" ->
        """WITH t AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
               FROM documents),
           p AS (SELECT doc_id,
                   unnest(range(len(toks))) AS pos,
                   unnest(list_transform(range(len(toks)), i ->
                     CASE WHEN toks[i+1] IN ('hash', 'join', 'merge')
                          THEN 1 ELSE 0 END)) AS m
                 FROM t),
           w AS (SELECT doc_id, pos,
                   sum(m) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS nm
                 FROM p),
           b AS (SELECT doc_id, pos, nm, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY nm DESC, pos ASC) AS rn
                 FROM w)
           SELECT b.doc_id, CAST(b.pos AS BIGINT) AS best_start,
                  CAST(b.nm AS BIGINT) AS n_matched,
                  array_to_string(t.toks[b.pos+1:b.pos+10], ' ')
                    AS passage
           FROM b JOIN t ON b.doc_id = t.doc_id
           WHERE rn = 1 AND nm > 0
           ORDER BY b.doc_id ASC""",

      // x160: the x03 3-gram window-hash machinery builds the same
      // doc↔shingle edge set the engine votes over (distinct per doc),
      // then the semi-synchronous rounds unroll (see lpaBipRounds)
      "x160_bipartite_coclusters" ->
        s"""WITH $minhashSigCtes,
            ed AS (SELECT DISTINCT doc_id AS l, s AS r
                   FROM (SELECT doc_id, unnest(wh) AS s FROM w3)),
            d0 AS (SELECT DISTINCT l AS id, l AS lbl FROM ed),
            ${lpaBipRounds(2)}
            SELECT id AS doc_id, lbl AS cluster FROM d2
            ORDER BY doc_id ASC""",

      // x157: x02's shingle CTEs + a document-frequency join — df by
      // string equals the engine's df by hash modulo 64-bit collisions
      // (the x02 concession); docs with < 5 tokens carry no shingles
      // and no row
      "x157_shingle_novelty" ->
        """WITH t AS (SELECT doc_id,
                 regexp_split_to_array(trim(text), '\s+') AS toks
               FROM documents),
           s AS (SELECT doc_id,
                   list_distinct([array_to_string(toks[i+1:i+5], ' ')
                                  for i in range(len(toks)-4)]) AS sh
                 FROM t WHERE len(toks) >= 5),
           e AS (SELECT doc_id, unnest(sh) AS s FROM s),
           dfq AS (SELECT s, count(*) AS df FROM e GROUP BY 1),
           a AS (SELECT e.doc_id, count(*) AS n_sh,
                   sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END)
                     AS n_unique
                 FROM e JOIN dfq ON e.s = dfq.s GROUP BY 1)
           SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
                  CAST(n_unique AS BIGINT) AS n_unique,
                  round(n_unique * 1.0 / n_sh, 6) AS novelty
           FROM a ORDER BY doc_id ASC""",

      // x156: x111's circulant canonicalized to the same both-direction
      // adjacency the engine votes over, with the LPA rounds unrolled
      // (see lpaRounds)
      "x156_label_propagation" ->
        s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n
                       FROM supplier),
            raw AS (SELECT CAST(s_suppkey AS BIGINT) AS src,
                           ((CAST(s_suppkey AS BIGINT) - 1 + st.stride)
                             % (SELECT n FROM n)) + 1 AS dst
                    FROM supplier,
                         (SELECT unnest([1, 2, 3]) AS stride) st),
            und AS (SELECT DISTINCT least(src, dst) AS u,
                           greatest(src, dst) AS v
                    FROM raw WHERE src <> dst),
            adj AS (SELECT u AS src, v AS dst FROM und
                    UNION ALL
                    SELECT v AS src, u AS dst FROM und),
            l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM adj),
            ${lpaRounds(3)}
            SELECT id AS suppkey, lbl AS community FROM l3
            ORDER BY suppkey ASC""",

      // x109: conservation invariants of the z-ordered layout
      // (rectangle tightness is spec-pinned, not hash-gated)
      "x109_zorder_write" ->
        """SELECT CAST(count(*) AS BIGINT) AS total_rows,
                  CAST(8 AS BIGINT) AS n_files
           FROM orders""",

      // x126: the pruned scan must equal the plain filtered scan —
      // rectangles over-approximate, the re-applied box exacts
      "x126_zorder_pruned_scan" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS sum_key
           FROM orders
           WHERE o_custkey BETWEEN 50 AND 120
             AND o_orderkey BETWEEN 1000 AND 30000""",

      // brute-force n² here (fine at oracle scale); the engine must get
      // the same set from its position-masked blocking
      // hamming() is CASE-guarded: DuckDB errors on unequal lengths and
      // SQL does not promise AND short-circuit order
      "x43_hamming_pairs" ->
        """WITH p AS (
             SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                    CASE WHEN len(a.c_name) = len(b.c_name)
                         THEN CAST(hamming(a.c_name, b.c_name) AS BIGINT)
                         END AS dist
             FROM customer a JOIN customer b
               ON a.c_custkey < b.c_custkey)
           SELECT id_a, id_b, dist FROM p WHERE dist <= 1""",

      "x41_token_budget_mix" ->
        """WITH d AS (SELECT doc_id, lang,
                        CAST(len(regexp_split_to_array(trim(text), '\s+'))
                          AS BIGINT) AS n_tokens,
                        md5(CAST(doc_id AS VARCHAR)) AS addr
                      FROM documents),
           c AS (SELECT doc_id, lang, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY lang
                     ORDER BY addr, doc_id) AS cum_tokens
                 FROM d)
           SELECT doc_id, lang, n_tokens,
                  CAST(cum_tokens AS BIGINT) AS cum_tokens
           FROM c
           WHERE cum_tokens <= CASE lang WHEN 'en' THEN 6000
                                         WHEN 'de' THEN 2000
                                         WHEN 'fr' THEN 1500
                                         WHEN 'zh' THEN 1000
                                         ELSE 0 END""",

      // BM25 with rational idf: every step is integer-exact or one
      // correctly-rounded IEEE op mirrored textually from the engine;
      // per-term scores quantize to DECIMAL(20,9) (DuckDB's
      // double→decimal cast == DecQuantize's shortest-repr rule) so the
      // per-doc sum is order-independent; VARCHAR hop on the way back
      // to double (the q01 decimal→double double-rounding rule).
      "x80_bm25_topk" -> x80Sql,

      "x40_tfidf_terms" ->
        """WITH nn AS (SELECT count(*) AS n FROM documents),
           t AS (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                     AS term
                 FROM documents),
           ft AS (SELECT doc_id, term FROM t WHERE len(term) >= 1),
           tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                  FROM ft GROUP BY 1, 2),
           dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t
                   FROM tf GROUP BY 1),
           sc AS (SELECT doc_id, tf.term, tf, df_t,
                    round(CAST(tf * (SELECT n FROM nn) AS DOUBLE) / df_t, 6)
                      AS score
                  FROM tf JOIN dft ON tf.term = dft.term),
           rk AS (SELECT *,
                    CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term ASC) AS BIGINT) AS rank
                  FROM sc)
           SELECT doc_id, term, tf, df_t, score, rank
           FROM rk WHERE rank <= 5""",

      // windows compared by literal text here vs 64-bit hashes in the
      // engine — the 2^-64 collision trade is the engine's scale design,
      // and the oracle checks it never fires on the test corpus
      "x38_dup_spans" ->
        """WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents),
           tot AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS total_tokens
                   FROM t),
           w AS (SELECT doc_id,
                   unnest([{'p': i,
                            'g': array_to_string(toks[i+1:i+8], ' ')}
                           for i in range(len(toks)-7)],
                          recursive := true)
                 FROM t),
           sh AS (SELECT g FROM w
                  GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
           mk AS (SELECT w.doc_id, w.p FROM w JOIN sh USING (g)),
           isl AS (SELECT doc_id, p,
                     CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
                                                ORDER BY p) <= 8
                          THEN 0 ELSE 1 END AS st
                   FROM mk),
           gi AS (SELECT doc_id, p,
                    sum(st) OVER (PARTITION BY doc_id ORDER BY p) AS island
                  FROM isl),
           sp AS (SELECT doc_id, island, min(p) AS s, max(p) + 8 AS e
                  FROM gi GROUP BY 1, 2),
           agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
                          CAST(sum(e - s) AS BIGINT) AS dup_tokens
                   FROM sp GROUP BY 1)
           SELECT tot.doc_id, coalesce(dup_spans, 0) AS dup_spans,
                  coalesce(dup_tokens, 0) AS dup_tokens, total_tokens,
                  round(coalesce(dup_tokens, 0) * 1.0 / total_tokens, 6)
                    AS dup_fraction
           FROM tot LEFT JOIN agg USING (doc_id)""",

      // x38's span CTEs verbatim through `sp`, then the removal: keep
      // token i iff no span covers it (0-based positions, half-open
      // [s, e)), re-join with single spaces — the engine's
      // whitespace-canonical output contract
      "x96_remove_dup_spans" ->
        """WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents),
           w AS (SELECT doc_id,
                   unnest([{'p': i,
                            'g': array_to_string(toks[i+1:i+8], ' ')}
                           for i in range(len(toks)-7)],
                          recursive := true)
                 FROM t),
           sh AS (SELECT g FROM w
                  GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
           mk AS (SELECT w.doc_id, w.p FROM w JOIN sh USING (g)),
           isl AS (SELECT doc_id, p,
                     CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
                                                ORDER BY p) <= 8
                          THEN 0 ELSE 1 END AS st
                   FROM mk),
           gi AS (SELECT doc_id, p,
                    sum(st) OVER (PARTITION BY doc_id ORDER BY p) AS island
                  FROM isl),
           sp AS (SELECT doc_id, island, min(p) AS s, max(p) + 8 AS e
                  FROM gi GROUP BY 1, 2),
           spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans
                   FROM sp GROUP BY 1)
           SELECT t.doc_id,
                  -- array_to_string([]) is NULL in DuckDB but Spark's
                  -- array_join is '': a wholly-duplicated doc must come
                  -- out EMPTY, not NULL (NULL stays NULL-text only)
                  CASE WHEN t.toks IS NULL THEN NULL
                       ELSE coalesce(array_to_string(
                         [t.toks[i+1] for i in range(len(t.toks))
                          if len(list_filter(coalesce(spans, []),
                               x -> i >= x.s AND i < x.e)) = 0], ' '),
                         '') END AS clean_text
           FROM t LEFT JOIN spl USING (doc_id)""",

      "x33_quantize_embeddings" ->
        """WITH v AS (SELECT vec_id,
                        [CAST(x AS DOUBLE) for x in embedding] AS e
                      FROM embeddings),
           s AS (SELECT vec_id, e,
                   list_max(list_transform(e, x -> abs(x))) / 127.0
                     AS scale
                 FROM v)
           SELECT vec_id,
                  array_to_string(
                    CASE WHEN scale = 0 THEN [0 for x in e]
                         ELSE [CAST(floor(x / scale + 0.5) AS INTEGER)
                               for x in e] END, ',') AS q_csv,
                  scale
           FROM s""",

      "x34_quantized_topk" ->
        """WITH v AS (SELECT vec_id,
                        [CAST(x AS DOUBLE) for x in embedding] AS e
                      FROM embeddings),
           s AS (SELECT vec_id, e,
                   list_max(list_transform(e, x -> abs(x))) / 127.0
                     AS scale
                 FROM v),
           z AS (SELECT vec_id, scale,
                   CASE WHEN scale = 0
                        THEN [CAST(0 AS DOUBLE) for x in e]
                        ELSE [CAST(CAST(floor(x / scale + 0.5) AS INTEGER)
                                   AS DOUBLE) for x in e] END AS qd
                 FROM s),
           scored AS (
             SELECT a.vec_id AS query_id, b.vec_id,
                    a.scale * b.scale * list_reduce(
                      list_prepend(CAST(0 AS DOUBLE),
                        list_transform(list_zip(a.qd, b.qd),
                          p -> p[1]*p[2])),
                      (acc, x) -> acc + x) AS score
             FROM z a JOIN z b ON b.vec_id <> a.vec_id
             WHERE a.vec_id < 8)
           SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                  round(score, 6) AS score
           FROM (SELECT query_id, vec_id, score, row_number() OVER
                   (PARTITION BY query_id ORDER BY score DESC, vec_id ASC)
                   AS rank
                 FROM scored)
           WHERE rank <= 5""",

      "x35_corpus_pipeline" ->
        s"""WITH n AS (SELECT doc_id, lang,
                         trim(regexp_replace(lower(nfc_normalize(text)),
                           '\\s+', ' ', 'g')) AS text
                       FROM documents),
            sg AS (SELECT doc_id, lang, $splitCase AS split,
                     CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS BIGINT) AS n_toks,
                     text
                   FROM n),
            d AS (SELECT min(doc_id) AS doc_id,
                    arg_min(lang, doc_id) AS lang,
                    arg_min(split, doc_id) AS split,
                    arg_min(n_toks, doc_id) AS n_toks
                  FROM sg GROUP BY text)
            SELECT split, lang, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens
            FROM d GROUP BY 1, 2""",

      "x36_strip_markup" ->
        """WITH w AS (
             SELECT doc_id,
               '<html><body class="d"><h1>T&amp;C &lt;draft&gt;</h1><p>'
                 || text ||
                 '</p><script>var x = 1;</script>&nbsp;&#39;end&#39;</body></html>'
                 AS h
             FROM documents),
           st AS (SELECT doc_id,
                    regexp_replace(h, '<[^>]+>', ' ', 'g') AS t FROM w),
           de AS (SELECT doc_id,
                    regexp_replace(regexp_replace(regexp_replace(
                      regexp_replace(regexp_replace(regexp_replace(
                        t,
                        '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                        '&quot;', '"', 'g'), '&#39;', '''', 'g'),
                        '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t
                  FROM st)
           SELECT doc_id,
                  trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text
           FROM de""",

      "x22_stream_dedup" ->
        """SELECT DISTINCT user_id, event_type FROM events""",

      "x39_stream_interval_join" ->
        """SELECT v.event_id AS left_id, c.event_id AS right_id,
                  v.user_id,
                  epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
           FROM events v JOIN events c
             ON v.user_id = c.user_id
            AND v.event_type = 'view' AND c.event_type = 'click'
            AND epoch_us(c.ts) >= epoch_us(v.ts)
            AND epoch_us(c.ts) <= epoch_us(v.ts) + 7200000000""",

      "x48_stream_enrich" ->
        """SELECT e.event_id, e.user_id, e.event_type,
                  c.c_name, c.c_mktsegment
           FROM events e JOIN customer c ON e.user_id = c.c_custkey""",

      "x42_stream_outer_join" ->
        """SELECT v.event_id AS left_id, c.event_id AS right_id,
                  v.user_id,
                  epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
           FROM events v LEFT JOIN events c
             ON v.user_id = c.user_id
            AND c.event_type = 'click'
            AND epoch_us(c.ts) >= epoch_us(v.ts)
            AND epoch_us(c.ts) <= epoch_us(v.ts) + 7200000000
           WHERE v.event_type = 'view'""",

      "x62_stream_sessionize" ->
        """WITH e AS (
             SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS sec
             FROM events),
           g AS (
             SELECT user_id, ts, sec,
                    CASE WHEN lag(sec) OVER w IS NULL
                           OR sec - lag(sec) OVER w > 1800
                         THEN 1 ELSE 0 END AS ns
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           s AS (
             SELECT user_id, sec,
                    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
             FROM g)
           SELECT user_id, min(sec) AS session_start,
                  max(sec) AS session_end,
                  max(sec) - min(sec) AS duration_sec,
                  count(*) AS n_events
           FROM s GROUP BY user_id, session_seq""",

      "x25_stream_horizon_dedup" ->
        """SELECT d.user_id, d.event_type
           FROM (SELECT DISTINCT user_id, event_type FROM events) d
           CROSS JOIN (VALUES (1),(2)) t(i)
           UNION ALL
           SELECT CAST(-1 AS BIGINT) AS user_id, 'wm' AS event_type
           UNION ALL
           SELECT CAST(-2 AS BIGINT) AS user_id, 'wm2' AS event_type""",

      "x23_chunk_docs" ->
        """WITH t AS (
             SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             FROM documents)
           SELECT doc_id, CAST(u.s AS BIGINT) AS chunk_pos,
                  array_to_string(toks[u.s+1 : u.s+64], ' ') AS chunk_text,
                  CAST(len(toks[u.s+1 : u.s+64]) AS BIGINT)
                    AS n_chunk_tokens
           FROM t CROSS JOIN unnest(range(0, len(toks), 48)) AS u(s)""",

      "x50_source_caps" ->
        """SELECT doc_id, source FROM (
             SELECT doc_id, source, row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             FROM documents) WHERE rk <= 15""",

      // same ln(u)/w scoring as the engine: u = (first-8-md5-hex + 1) /
      // 2^32, identical double arithmetic on both sides
      "x51_weighted_sample" ->
        """WITH s AS (SELECT doc_id, source,
                ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      ::BIGINT + 1) / 4294967296.0)
                  / CAST(n_chars AS DOUBLE) AS key
              FROM documents WHERE n_chars > 0)
           SELECT doc_id, source, round(key, 6) AS sample_key
           FROM s ORDER BY key DESC, doc_id ASC LIMIT 100""",

      // x06's candidate+verify pair set, then the greedy decision:
      // survivors are rows never appearing on a pair's high side
      "x52_semantic_dedup" ->
        s"""WITH v AS ($vecs),
            b AS (SELECT vec_id, e,
                    (CASE WHEN e[1]>=0 THEN 1 ELSE 0 END
                   + CASE WHEN e[2]>=0 THEN 2 ELSE 0 END
                   + CASE WHEN e[3]>=0 THEN 4 ELSE 0 END
                   + CASE WHEN e[4]>=0 THEN 8 ELSE 0 END
                   + CASE WHEN e[5]>=0 THEN 16 ELSE 0 END
                   + CASE WHEN e[6]>=0 THEN 32 ELSE 0 END)::BIGINT AS b0
                  FROM v),
            p AS (SELECT b.vec_id AS vec_b
                  FROM b a JOIN b b
                    ON a.vec_id < b.vec_id
                   AND bit_count(xor(a.b0, b.b0)) <= 1
                  WHERE $cosPairExpr >= 0.35)
            SELECT vec_id, CAST(label AS BIGINT) AS label
            FROM embeddings
            WHERE vec_id NOT IN (SELECT vec_b FROM p)""",

      "x53_kmeans_assign" -> kmeansOracle,

      // exactly x15's admission predicate — the bloom pass is a plan
      // optimization, not a semantics change, and the oracle proves it
      "x54_bloom_dedup" ->
        """SELECT i.doc_id, i.source FROM documents i
           WHERE i.doc_id % 5 = 4
             AND NOT EXISTS (SELECT 1 FROM documents c
                             WHERE c.doc_id % 5 < 4
                               AND c.text = i.text)""",

      // sharding is also only a plan optimization — identical predicate
      "x70_sharded_bloom_dedup" ->
        """SELECT i.doc_id, i.source FROM documents i
           WHERE i.doc_id % 5 = 4
             AND NOT EXISTS (SELECT 1 FROM documents c
                             WHERE c.doc_id % 5 < 4
                               AND c.text = i.text)""",

      "x61_partition_pruning" ->
        """SELECT event_id, user_id, event_type,
                  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
           FROM events
           WHERE CAST(ts AS DATE) = DATE '2024-01-03'""",

      "x60_length_trim" ->
        """WITH t AS (SELECT doc_id, lang,
                CAST(len(regexp_split_to_array(trim(text), '\s+'))
                  AS BIGINT) AS n_tokens
              FROM documents),
           r AS (SELECT doc_id, lang, n_tokens,
                   percent_rank() OVER (PARTITION BY lang
                                        ORDER BY n_tokens ASC) AS pr
                 FROM t)
           SELECT doc_id, lang, n_tokens, round(pr, 6) AS pr
           FROM r WHERE pr >= 0.05 AND pr <= 0.95""",

      // x233: x60's trim with sketch thresholds — exact regime, so the
      // band ends are the per-lang ⌈q·n⌉-th order statistics (x225's
      // rank rule) and the kept set is the inclusive band.
      // x241 reads the same thresholds off the persisted grouped
      // sketch (save+append covering the full corpus, exact regime) —
      // same oracle verbatim.
      "x241_sketch_threshold_trim" -> kllTrimOracle,
      "x233_kll_length_trim" -> kllTrimOracle,

      // x09's shared quality CTE (with source), then best-vs-worst per
      // source with the engine's id tie-breaks
      "x63_preference_pairs" ->
        s"""WITH ${qualityCteSignals(", source")},
           q AS (SELECT doc_id, source,
                   $qualityScoreExpr AS quality_score
                 FROM qr),
           w AS (
             SELECT source, doc_id, quality_score,
               row_number() OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id ASC) AS rc,
               row_number() OVER (PARTITION BY source
                 ORDER BY quality_score ASC, doc_id ASC) AS rr
             FROM q)
           SELECT c.source, c.doc_id AS chosen_id,
                  c.quality_score AS chosen_score,
                  j.doc_id AS rejected_id,
                  j.quality_score AS rejected_score,
                  round(c.quality_score - j.quality_score, 6) AS margin
           FROM (SELECT * FROM w WHERE rc = 1) c
           JOIN (SELECT * FROM w WHERE rr = 1) j USING (source)
           WHERE c.doc_id <> j.doc_id""",

      // compaction must not change a row — identity oracle
      "x64_compact_files" ->
        """SELECT event_id, user_id, event_type FROM events""",

      // per-partition compaction is still an identity — every row of
      // the week slice survives with its partition value intact
      "x72_compact_partitioned" ->
        """SELECT event_id, user_id, event_type,
                  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
           FROM events
           WHERE ts < TIMESTAMP '2024-01-08 00:00:00'""",

      // the streamed loop must land EXACTLY the one-shot batch table
      "x73_stream_e2_loop" -> e2OracleSql,
      // x114: the generator arithmetic + e2 transform projection over
      // range(days) x range(ads) — spend parsed from the identical
      // decimal string both engines see; ratios mirror e2's guards
      "x114_meta_stream_insights" ->
        """WITH g AS (
             SELECT d, a,
                    100 + (a*7 + d*13) % 900 AS imp,
                    (a*3 + d*5) % 50 AS clk,
                    (a*11 + d*17) % 10000 AS cents,
                    (a + d) % 20 AS lead
             FROM range(0, 4) t1(d), range(0, 150) t2(a)),
           p AS (SELECT *,
                   CAST(printf('%d.%02d', cents // 100, cents % 100)
                     AS DOUBLE) AS sp
                 FROM g)
           SELECT strftime(DATE '2024-01-01' + CAST(d AS INTEGER),
                    '%Y-%m-%d') AS date_start,
                  'ad_'||a AS ad_id, 'as_'||(a % 7) AS adset_id,
                  'c_'||(a % 3) AS campaign_id,
                  imp AS total_impressions, clk AS total_clicks,
                  sp AS total_spend, lead AS total_leads,
                  CAST(0 AS BIGINT) AS total_successes,
                  round(CASE WHEN clk = 0 THEN 0 ELSE sp / clk END, 6)
                    AS cpc,
                  round(CASE WHEN imp = 0 THEN 0
                        ELSE clk * 1.0 / imp END, 6) AS ctr,
                  round(CASE WHEN lead = 0 THEN 0 ELSE sp / lead END, 6)
                    AS cpl
           FROM p""",

      // incremental CDC replay must land the one-shot apply's table
      "x79_stream_cdc_apply" -> cdcOracleSql,

      // brute-force n² oracle over the exact same verify metric
      "x65_edit1_pairs" ->
        """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
           FROM customer a JOIN customer b
             ON a.c_custkey < b.c_custkey
           WHERE levenshtein(a.c_name, b.c_name) <= 1""",

      "x66_vocab_coverage" ->
        """WITH tok AS (
             SELECT doc_id,
                    unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                      AS term
             FROM documents),
           v AS (SELECT term FROM (
                   SELECT term, count(*) AS c FROM tok
                   GROUP BY 1 ORDER BY c DESC, term ASC LIMIT 500)),
           d AS (SELECT tok.doc_id, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_oov
                 FROM tok LEFT JOIN v USING (term)
                 GROUP BY 1)
           SELECT doc_id, n_tokens, n_oov,
                  round(n_oov * 1.0 / n_tokens, 6) AS oov_rate
           FROM d""",

      "x67_ivf_learned_topk" -> ivfLearnedOracle,

      // identical oracle to x67 BY DESIGN: persistence is a lifecycle
      // optimization (train once, serve many), never a result change
      "x71_ivf_index_serve" -> ivfLearnedOracle,

      "x74_pq_topk" -> pqOracle,
      "x84_ivfpq_topk" -> ivfPqOracle,
      // cold save->load->serve is value-identical to the per-call form
      "x115_ivfpq_index_serve" -> ivfPqOracle,
      // streamed frozen-generation appends == subset-trained payloads
      // served over the full corpus
      "x116_stream_ivfpq_maintain" -> ivfPqSubsetOracle,
      // x154: the same subset-trained-payloads-over-everything answer,
      // served from the compacted single-segment codes layout
      "x154_ivfpq_index_compact" -> ivfPqSubsetOracle,
      // retrain on the live corpus == full-corpus per-call training
      "x117_ivfpq_retrain_serve" -> ivfPqOracle,
      "x87_ivf_sampled_train" -> ivfSampledOracle,
      "x88_ivfpq_sampled_train" -> ivfPqSampledOracle,
      "x91_knn_graph" -> knnGraphOracle,
      "x92_mutual_knn_clusters" -> mutualKnnOracle,
      // identical oracles to x91/x92 BY DESIGN: serving from the
      // persisted index is a lifecycle optimization, never a result
      // change (the x71/x89 contract, completed for the graph family)
      "x93_knn_graph_index_serve" -> knnGraphOracle,
      "x103_knn_graph_refined" -> knnRefinedOracle,
      "x104_knn_refined_index_serve" -> knnRefinedOracle,
      "x94_mutual_knn_index_serve" -> mutualKnnOracle,
      "x85_hybrid_retrieval" -> hybridOracle,
      // persisted-index twins: lifecycle differs, the answer must not
      "x89_bm25_index_topk" -> x80Sql,
      // streamed appends converge to the full build — same full-corpus
      // BM25 answer as x80/x89, reached via N micro-batch merges
      "x97_stream_bm25_maintain" -> x80Sql,
      "x90_hybrid_index_retrieval" -> hybridOracle,

      "x76_ivf_index_append" -> ivfAppendOracle,
      // x108: retrain with the same (k, iters) == full-corpus training
      "x108_ivf_retrain_serve" -> ivfLearnedOracle,
      // x105: same subset-training CTEs as x76, counts per cell over
      // the full corpus's assignment
      "x105_ivf_cell_stats" ->
        s"""WITH v AS ($vecs),
            tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
            ${lloydCtes("t", 64, 8, 2)},
            allasg AS (
              SELECT vec_id, cl FROM (
                SELECT v.vec_id, c.cl, row_number() OVER (
                  PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
                FROM v v, tc2 c)
              WHERE rn = 1)
            SELECT cl AS bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   round(COUNT(*) / (SELECT COUNT(*) FROM v), 6)
                     AS frac
            FROM allasg GROUP BY cl ORDER BY bucket""",
      // streamed appends land exactly the one-shot append's index —
      // same subset-trained/full-serve oracle as x76
      "x98_stream_ivf_maintain" -> ivfAppendOracle,
      // compaction is a pure layout rewrite — x76's oracle verbatim
      "x99_ivf_index_compact" -> ivfAppendOracle,
      // compaction of the postings deltas — full-corpus BM25 oracle
      "x100_bm25_index_compact" -> x80Sql,
      "x102_stream_bm25_autocompact" -> x80Sql,
      // x110: the as-of read scores only the pre-append subset
      "x110_bm25_time_travel" ->
        bm25Sql("(SELECT * FROM documents WHERE doc_id < 250)"),
      // x112: the as-of read serves only the pre-append subset index
      "x112_ivf_time_travel" -> ivfAsOfOracle,
      // x135: live-corpus numbers (deletes netted), vocabulary of the
      // live corpus, protocol literals for version/segments (save=v1,
      // append=v2, delete=v3; postings segments: base + delta)
      "x135_bm25_index_stats" ->
        """WITH live AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
            t AS (SELECT
                unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                  AS term
              FROM live)
            SELECT CAST(3 AS BIGINT) AS version,
                   (SELECT CAST(count(*) AS BIGINT) FROM live)
                     AS n_docs,
                   (SELECT CAST(sum(CAST(len(regexp_split_to_array(
                      trim(lower(text)), '\s+')) AS BIGINT))
                      AS BIGINT) FROM live) AS total_len,
                   (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM t)
                     AS vocab_size,
                   CAST(2 AS BIGINT) AS n_segments,
                   (SELECT CAST(count(*) AS BIGINT) FROM documents
                    WHERE doc_id % 7 = 3) AS n_tombstones""",
      // x133/x134: a clone of the pinned snapshot serves exactly the
      // as-of read (x110/x112's oracles, from the restored path)
      "x133_bm25_index_clone" ->
        bm25Sql("(SELECT * FROM documents WHERE doc_id < 250)"),
      "x134_ivf_index_clone" -> ivfAsOfOracle,
      // x182: the net-corpus twin of the dual-CDC final state — lex =
      // BM25 over the surviving docs (appends live, tombstoned stats
      // netted exactly), vec = subset-trained (<300) serve over the
      // surviving vectors, fused in the engine's fixed leg order
      "x182_stream_dual_cdc" ->
        s"""WITH v AS ($vecs),
            tv AS (SELECT vec_id, e FROM v WHERE vec_id < 300),
            ${lloydCtes("t", 64, 8, 2)},
            nc AS (SELECT vec_id, e FROM v
                   WHERE vec_id < 350
                     AND NOT (vec_id % 9 = 4
                              AND vec_id >= 150 AND vec_id < 300)),
            ncasg AS (
              SELECT vec_id, cl FROM (
                SELECT v.vec_id, c.cl, row_number() OVER (
                  PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
                FROM nc v, tc2 c)
              WHERE rn = 1),
            probes AS (
              SELECT query_id, cl AS bucket FROM (
                SELECT v.vec_id AS query_id, c.cl,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY $kmeansD2, c.cl) AS rn
                FROM v v, tc2 c
                WHERE v.vec_id = 0)
              WHERE rn <= 2),
            lex AS (SELECT CAST(0 AS BIGINT) AS query_id,
                  row_number() OVER (ORDER BY score DESC, doc_id ASC)
                    AS rank,
                  doc_id AS vec_id
                FROM (${bm25Sql(
                  """(SELECT doc_id, text FROM documents
                      WHERE doc_id < 350
                        AND NOT (doc_id % 9 = 4
                                 AND doc_id >= 150 AND doc_id < 300))""")})),
            fv AS (SELECT query_id, rank, vec_id FROM (
                  SELECT p.query_id, b.vec_id,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                           AS rank
                  FROM probes p
                       JOIN ncasg s ON s.cl = p.bucket
                       JOIN nc b ON b.vec_id = s.vec_id
                       JOIN v a ON a.vec_id = p.query_id
                  WHERE b.vec_id <> p.query_id)
                WHERE rank <= 5),
            j AS (SELECT
                    coalesce(l.query_id, f.query_id) AS query_id,
                    coalesce(l.vec_id, f.vec_id) AS vec_id,
                    coalesce(CAST(1 AS DOUBLE)
                        / CAST(l.rank + 60 AS DOUBLE), 0)
                      + coalesce(CAST(1 AS DOUBLE)
                        / CAST(f.rank + 60 AS DOUBLE), 0) AS rrf
                  FROM lex l
                  FULL OUTER JOIN fv f
                    ON f.query_id = l.query_id
                   AND f.vec_id = l.vec_id)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                   round(rrf, 6) AS rrf
            FROM (SELECT query_id, vec_id, rrf, row_number() OVER
                    (PARTITION BY query_id ORDER BY rrf DESC,
                      vec_id ASC) AS rank
                  FROM j)
            WHERE rank <= 10""",

      // x176: pin 1 = both legs rebuilt from the <400 subset (the
      // frozen pre-append pair — the mid-dual-append serve must equal
      // it on BOTH legs, lexical stats included); pin 2 = x76's
      // subset-trained/full-corpus append semantics on the vector leg
      // + the full-corpus BM25; 2-leg RRF in fixed (lex, vector) order
      "x176_hybrid_pinned_snapshot" -> hybridPinnedOracle,
      // x218: identical pinned pairs — the crash/recovery choreography
      // changes WHEN versions land, never what a pin serves
      "x218_pin_crash_recovery" -> hybridPinnedOracle,
      // x224: identical pinned pairs again — vacuum must change
      // nothing a live pin can see
      "x224_pin_aware_vacuum" -> hybridPinnedOracle,

      // x131: both legs restricted to en (id % 3 = 0), then the 2-leg
      // RRF in the engine's fixed leg order (lex, then vector); lex
      // keeps corpus-wide stats (x130's semantics), the vector leg is
      // x71's full-trained serve with candidates restricted
      "x131_hybrid_filtered_retrieval" ->
        s"""WITH lex AS (
              SELECT CAST(0 AS BIGINT) AS query_id,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank,
                     doc_id AS vec_id
              FROM (${bm25Sql("documents",
                "WHERE tfd.doc_id % 3 = 0")})),
            fv AS (SELECT query_id, rank, vec_id
                   FROM (WITH $kmeansCtes,
                     probes AS (
                       SELECT query_id, cl AS bucket FROM (
                         SELECT v.vec_id AS query_id, c.cl,
                                row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY $kmeansD2, c.cl) AS rn
                         FROM v, c2 c
                         WHERE v.vec_id = 0)
                       WHERE rn <= 2)
                     SELECT p.query_id, b.vec_id,
                            row_number() OVER (PARTITION BY p.query_id
                              ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                              AS rank
                     FROM probes p
                          JOIN a3 s ON s.cl = p.bucket
                            AND s.vec_id % 3 = 0
                          JOIN v b ON b.vec_id = s.vec_id
                          JOIN v a ON a.vec_id = p.query_id
                     WHERE b.vec_id <> p.query_id)
                   WHERE rank <= 5),
            j AS (SELECT
                    coalesce(l.query_id, f.query_id) AS query_id,
                    coalesce(l.vec_id, f.vec_id) AS vec_id,
                    coalesce(CAST(1 AS DOUBLE)
                        / CAST(l.rank + 60 AS DOUBLE), 0)
                      + coalesce(CAST(1 AS DOUBLE)
                        / CAST(f.rank + 60 AS DOUBLE), 0) AS rrf
                  FROM lex l
                  FULL OUTER JOIN fv f
                    ON f.query_id = l.query_id
                   AND f.vec_id = l.vec_id)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                   round(rrf, 6) AS rrf
            FROM (SELECT query_id, vec_id, rrf, row_number() OVER
                    (PARTITION BY query_id ORDER BY rrf DESC,
                      vec_id ASC) AS rank
                  FROM j)
            WHERE rank <= 10""",
      // x129: x76's appended-index serve with the metadata pre-filter
      // on the CANDIDATE side only (lang = 'en' ⇔ vec_id % 3 = 0);
      // probes and centroids untouched by the filter
      "x129_ivf_filtered_topk" ->
        s"""WITH v AS ($vecs),
            tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
            ${lloydCtes("t", 64, 8, 2)},
            allasg AS (
              SELECT vec_id, cl FROM (
                SELECT v.vec_id, c.cl, row_number() OVER (
                  PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
                FROM v v, tc2 c)
              WHERE rn = 1),
            probes AS (
              SELECT query_id, cl AS bucket FROM (
                SELECT v.vec_id AS query_id, c.cl,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY $kmeansD2, c.cl) AS rn
                FROM v v, tc2 c
                WHERE v.vec_id < 8)
              WHERE rn <= 2)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
            FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                           AS rank
                  FROM probes p
                       JOIN allasg s ON s.cl = p.bucket
                         AND s.vec_id % 3 = 0
                       JOIN v b ON b.vec_id = s.vec_id
                       JOIN v a ON a.vec_id = p.query_id
                  WHERE b.vec_id <> p.query_id)
            WHERE rank <= 5""",
      // x128: frozen subset-trained centroids (tv = original vectors
      // < 400, the base build's training set) served over the NET
      // corpus state — inserts live, [100,120) reversed (update-of-
      // update, latest wins), [120,150) negated, deletes and
      // delete-of-insert gone. The %5 delete set deliberately
      // OVERLAPS the [100,150) upsert set: a delete+upsert of one id
      // in one batch nets to the upsert (the writer's documented
      // order), so those ids survive re-embedded. Queries probe with
      // their ORIGINAL vectors (external query side).
      "x128_stream_ivf_cdc" ->
        s"""WITH v AS ($vecs),
            tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
            ${lloydCtes("t", 64, 8, 2)},
            nc AS (SELECT vec_id,
                     CASE WHEN vec_id >= 100 AND vec_id < 120
                            THEN list_reverse(e)
                          WHEN vec_id >= 120 AND vec_id < 150
                            THEN list_transform(e, x -> -x)
                          ELSE e END AS e
                   FROM v
                   WHERE NOT (vec_id % 5 = 0 AND vec_id < 400
                              AND NOT (vec_id >= 100 AND vec_id < 150))
                     AND NOT (vec_id >= 400 AND vec_id < 420)),
            allasg AS (
              SELECT vec_id, cl FROM (
                SELECT v.vec_id, c.cl, row_number() OVER (
                  PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
                FROM nc v, tc2 c)
              WHERE rn = 1),
            probes AS (
              SELECT query_id, cl AS bucket FROM (
                SELECT v.vec_id AS query_id, c.cl,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY $kmeansD2, c.cl) AS rn
                FROM v v, tc2 c
                WHERE v.vec_id < 8)
              WHERE rn <= 2)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
            FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                           AS rank
                  FROM probes p
                       JOIN allasg s ON s.cl = p.bucket
                       JOIN nc b ON b.vec_id = s.vec_id
                       JOIN v a ON a.vec_id = p.query_id
                  WHERE b.vec_id <> p.query_id)
            WHERE rank <= 5""",

      // x136: the second page IS ranks 11..20 of the full ranking —
      // same scoring pipeline as x80, rank-windowed instead of LIMIT
      // x151: pass 1 (original terms, k=5 — the bm25Sql builder as a
      // subquery), expansion mining over the tokenized feedback docs
      // ((docs-containing, Σtf, term) order; originals and '' barred),
      // pass 2 with the widened term set via the SAME builder's
      // parameterized term predicate — a formula fix flows to both
      // passes and every other BM25 oracle at once
      "x151_bm25_query_expansion" ->
        s"""WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)),
                  '\\s+')) AS term
              FROM documents),
            p1 AS (SELECT doc_id FROM (${bm25Sql("documents",
                termsPred = "term IN ('hash', 'join')", k = 5)})),
            fbtf AS (SELECT toks.term, toks.doc_id,
                       CAST(count(*) AS BIGINT) AS tf
                     FROM toks JOIN p1 ON toks.doc_id = p1.doc_id
                     WHERE toks.term NOT IN ('hash', 'join')
                       AND toks.term <> ''
                     GROUP BY 1, 2),
            exp AS (SELECT term FROM (
                      SELECT term, count(*) AS nfb, sum(tf) AS ttf
                      FROM fbtf GROUP BY 1)
                    ORDER BY nfb DESC, ttf DESC, term ASC LIMIT 3),
            qt AS (SELECT 'hash' AS term UNION ALL SELECT 'join'
                   UNION ALL SELECT term FROM exp)
            SELECT * FROM (${bm25Sql("documents",
              termsPred = "term IN (SELECT term FROM qt)", k = 10)})""",

      "x136_bm25_search_after" ->
        s"""WITH t AS (SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(lower(text)),
                  '\\s+')) AS BIGINT) AS dl,
                unnest(regexp_split_to_array(trim(lower(text)),
                  '\\s+')) AS term
              FROM documents),
            tf AS (SELECT doc_id, dl, term,
                     CAST(count(*) AS BIGINT) AS tf
                   FROM t WHERE term IN ('hash', 'join', 'merge')
                   GROUP BY 1, 2, 3),
            tfd AS (SELECT *, CAST(count(*) OVER (PARTITION BY term)
                      AS BIGINT) AS df_t FROM tf),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(len(regexp_split_to_array(
                       trim(lower(text)), '\\s+')) AS BIGINT))
                       AS BIGINT) AS total_len
                   FROM documents),
            sc AS (SELECT doc_id,
                     CAST(((n - df_t + 0.5) / (df_t + 0.5))
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 *
                           (CAST(dl * n AS DOUBLE)
                             / CAST(total_len AS DOUBLE))))
                       AS DECIMAL(20,9)) AS s
                   FROM tfd, st),
            agg AS (SELECT doc_id,
                      CAST(count(*) AS BIGINT) AS n_terms,
                      round(CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE), 6)
                        AS score
                    FROM sc GROUP BY 1)
            SELECT doc_id, n_terms, score
            FROM (SELECT *, row_number() OVER (ORDER BY score DESC,
                    doc_id ASC) AS rank FROM agg)
            WHERE rank BETWEEN 11 AND 20""",
      // x143: the unrolled greedy MMR selection (builder above)
      "x143_mmr_rerank" -> mmrOracle,
      // x145: x116's subset-trained IVFPQ serve with the 'en'
      // candidate bar (vec_id % 3 = 0 — the x129 lang mapping)
      "x145_ivfpq_filtered_topk" -> ivfPqTvOracle(
        "tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400)",
        """
                             AND s.vec_id % 3 = 0"""),
      // x149: the pre-append IVFPQ snapshot — subset-trained payloads
      // (tv < 400) AND subset corpus (candidate bar < 400); the
      // appended vectors are invisible to the retained version
      "x149_ivfpq_time_travel" -> ivfPqTvOracle(
        "tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400)",
        """
                             AND s.vec_id < 400"""),
      // x181: x149 ∩ x145 — the snapshot bar AND the metadata bar
      // compose on the candidate join; training/probes unchanged
      "x181_ivfpq_asof_filtered" -> ivfPqTvOracle(
        "tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400)",
        """
                             AND s.vec_id < 400
                             AND s.vec_id % 3 = 0"""),
      // x137: x84's full IVFPQ serve with the deleted ids
      // (vec_id % 3 = 1) barred from the CANDIDATE join only —
      // centroids, codebooks, and probe geometry are untouched by
      // deletion (the x124 pattern on the codes layout)
      "x137_ivfpq_index_delete" ->
        ivfPqCandOracle(" AND s.vec_id % 3 <> 1"),
      // x138: the exact list (x05) LEFT-joined to the learned-IVF
      // list (x67) on (query, id) — hits per query, recall@5, and the
      // reciprocal approx-rank of the exact #1 (0 when missed)
      "x138_ann_recall" ->
        s"""SELECT query_id, hits,
                   round(hits / n_exact, 6) AS recall,
                   round(coalesce(rr1, 0), 6) AS top1_rr
            FROM (SELECT e.query_id, count(a.vec_id) AS hits,
                         count(*) AS n_exact,
                         max(CASE WHEN e.rank = 1
                             THEN 1.0 / a.rank END) AS rr1
                  FROM ($x05Sql) e
                  LEFT JOIN ($ivfLearnedOracle) a
                    ON a.query_id = e.query_id
                       AND a.vec_id = e.vec_id
                  GROUP BY e.query_id)""",
      // x217: x138's recall arithmetic with the exact leg restricted
      // to survivors and the approx leg the mutated (subset-trained,
      // delete-barred) serve
      "x217_ann_recall_mutated" ->
        s"""SELECT query_id, hits,
                   round(hits / n_exact, 6) AS recall,
                   round(coalesce(rr1, 0), 6) AS top1_rr
            FROM (SELECT e.query_id, count(a.vec_id) AS hits,
                         count(*) AS n_exact,
                         max(CASE WHEN e.rank = 1
                             THEN 1.0 / a.rank END) AS rr1
                  FROM ($x05SurvivorsSql) e
                  LEFT JOIN ($ivfMutatedServeOracle) a
                    ON a.query_id = e.query_id
                       AND a.vec_id = e.vec_id
                  GROUP BY e.query_id)""",
      // x146: DCG over the approx list with gains 6−exact_rank (0 on
      // a miss), IDCG over the exact list in its own order, both with
      // the identical ln-ratio log₂ tree the engine uses
      "x146_ann_ndcg" ->
        s"""WITH el AS (SELECT query_id, vec_id, rank FROM ($x05Sql)),
            al AS (SELECT query_id, vec_id, rank
                   FROM ($ivfLearnedOracle)),
            g AS (SELECT a.query_id,
                    CAST(coalesce(6 - e.rank, 0) AS DOUBLE)
                      / (ln(a.rank + 1.0) / ln(2.0)) AS gg
                  FROM al a LEFT JOIN el e
                    ON e.query_id = a.query_id
                       AND e.vec_id = a.vec_id),
            d AS (SELECT query_id, sum(gg) AS dcg FROM g GROUP BY 1),
            i AS (SELECT query_id,
                    sum(CAST(6 - rank AS DOUBLE)
                      / (ln(pos + 1.0) / ln(2.0))) AS idcg
                  FROM (SELECT query_id, rank, row_number() OVER (
                          PARTITION BY query_id ORDER BY rank) AS pos
                        FROM el)
                  GROUP BY 1)
            SELECT i.query_id, round(coalesce(d.dcg, 0), 6) AS dcg,
                   round(i.idcg, 6) AS idcg,
                   round(coalesce(d.dcg, 0) / i.idcg, 6) AS ndcg
            FROM i LEFT JOIN d ON d.query_id = i.query_id""",
      // x139: the x53 Lloyd's CTEs + a rank<=2 distance window —
      // rn=1 is the own-centroid distance (a), rn=2 the runner-up
      // (b); simplified silhouette (b−a)/max(a,b) on sqrt distances
      "x139_cluster_quality" ->
        s"""WITH $kmeansCtes,
            dd AS (SELECT v.vec_id, c.cl, $kmeansD2 AS d,
                          row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY $kmeansD2, c.cl) AS rn
                   FROM v, c2 c),
            own AS (SELECT vec_id, cl, d FROM dd WHERE rn = 1),
            nxt AS (SELECT vec_id, d AS dn FROM dd WHERE rn = 2)
            SELECT own.cl AS cluster, count(*) AS n,
                   round(sum(own.d), 6) AS inertia,
                   round(avg(CASE
                     WHEN greatest(sqrt(own.d), sqrt(nxt.dn)) = 0
                     THEN 0
                     ELSE (sqrt(nxt.dn) - sqrt(own.d))
                          / greatest(sqrt(own.d), sqrt(nxt.dn)) END),
                     6) AS silhouette
            FROM own JOIN nxt USING (vec_id)
            GROUP BY own.cl""",
      // x140: the same aggregate over the parquet original — any
      // dropped row, shifted quote, or reparsed type in the CSV
      // round-trip moves a group's sum (q01's exact decimal-sum hop)
      "x140_csv_roundtrip" ->
        """SELECT l_returnflag, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(20,4)))
                    AS DOUBLE) AS sum_qty,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)))
                    AS DOUBLE) AS sum_price,
                  strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
           FROM lineitem
           GROUP BY l_returnflag""",
      // x180: filtered aggregate over the parquet original (the Avro
      // round-trip must be invisible, timestamps to the microsecond)
      "x180_avro_roundtrip" ->
        """SELECT user_id % 100 AS user_mod, count(*) AS n,
                  round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6)))
                    AS DOUBLE), 0), 2) AS total_value,
                  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
           FROM events
           WHERE event_type = 'click'
           GROUP BY 1""",
      // x141: filtered aggregate over the parquet original (the ORC
      // round-trip must be invisible to it)
      "x141_orc_roundtrip" ->
        """SELECT user_id % 100 AS user_mod, count(*) AS n,
                  round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6)))
                    AS DOUBLE), 0), 2) AS total_value
           FROM events
           WHERE event_type = 'click'
           GROUP BY 1""",
      // x142: the date-filtered aggregate — partitions before the
      // cutoff are gone, everything on/after survives byte-identical
      "x142_retention_delete" ->
        """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
                  count(*) AS n_events,
                  round(coalesce(CAST(sum(CAST(value AS DECIMAL(20,6)))
                    AS DOUBLE), 0), 2) AS total_value
           FROM events
           WHERE CAST(ts AS DATE) >= DATE '2024-01-11'
           GROUP BY 1""",
      // x132: the batch pipeline — per-term df over the corpus, each
      // posting row scored once per query containing its term,
      // per-query ranking ('spill' matches nothing and contributes
      // nothing)
      "x132_bm25_index_batch" ->
        s"""WITH q(query_id, term) AS (VALUES
              (0,'hash'),(0,'join'),(0,'merge'),
              (1,'sort'),(1,'stream'),(1,'spill'),
              (2,'filter'),(2,'scan'),(2,'join')),
            t AS (SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(lower(text)),
                  '\\s+')) AS BIGINT) AS dl,
                unnest(regexp_split_to_array(trim(lower(text)),
                  '\\s+')) AS term
              FROM documents),
            tf AS (SELECT doc_id, dl, term,
                     CAST(count(*) AS BIGINT) AS tf
                   FROM t WHERE term IN (SELECT term FROM q)
                   GROUP BY 1, 2, 3),
            tfd AS (SELECT *, CAST(count(*) OVER (PARTITION BY term)
                      AS BIGINT) AS df_t FROM tf),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(len(regexp_split_to_array(
                       trim(lower(text)), '\\s+')) AS BIGINT))
                       AS BIGINT) AS total_len
                   FROM documents),
            sc AS (SELECT q.query_id, tfd.doc_id,
                     CAST(((n - df_t + 0.5) / (df_t + 0.5))
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 *
                           (CAST(dl * n AS DOUBLE)
                             / CAST(total_len AS DOUBLE))))
                       AS DECIMAL(20,9)) AS s
                   FROM tfd JOIN q USING (term), st),
            agg AS (SELECT query_id, doc_id,
                      CAST(count(*) AS BIGINT) AS n_terms,
                      round(CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE), 6)
                        AS score
                    FROM sc GROUP BY 1, 2)
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(rank AS BIGINT) AS rank, doc_id, n_terms, score
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc_id ASC) AS rank
                  FROM agg)
            WHERE rank <= 10""",
      // x130: candidate restriction at the scoring stage; statistics
      // corpus-wide (Lucene filter semantics)
      "x130_bm25_filtered_topk" -> bm25Sql("documents",
        """WHERE doc_id IN
             (SELECT doc_id FROM documents WHERE lang = 'en')"""),
      // x121/x123: deletion must make served statistics EXACTLY the
      // live corpus's — the oracle rebuilds BM25 from scratch over the
      // filtered corpus (x123 adds a compaction; same answer)
      "x121_bm25_index_delete" ->
        bm25Sql("(SELECT * FROM documents WHERE doc_id % 7 <> 3)"),
      "x123_bm25_delete_compact" ->
        bm25Sql("(SELECT * FROM documents WHERE doc_id % 7 <> 3)"),
      // x127: the streamed CDC net state scored from scratch —
      // inserts live, updates replaced (latest wins), deletes and
      // delete-of-insert gone
      "x127_stream_bm25_cdc" -> bm25Sql(
        """(SELECT doc_id,
              CASE WHEN doc_id >= 100 AND doc_id < 120
                     THEN text || ' join'
                   WHEN doc_id >= 120 AND doc_id < 150
                     THEN text || ' merge'
                   ELSE text END AS text
            FROM documents
            WHERE doc_id < 350
              AND NOT (doc_id % 9 = 4
                       AND doc_id >= 150 AND doc_id < 300)
              AND NOT (doc_id >= 300 AND doc_id < 310))"""),
      // x122: reindex = the updated corpus scored from scratch — old
      // versions fully gone (stats included), new versions fully live
      "x122_bm25_reindex_docs" -> bm25Sql(
        """(SELECT doc_id,
              CASE WHEN doc_id % 5 = 2 THEN text || ' merge'
                   ELSE text END AS text
            FROM documents)"""),
      // x124: full-corpus-trained IVF serve (x71's Lloyd's verbatim)
      // with deleted ids barred from the CANDIDATE join only —
      // centroids and probe geometry are untouched by deletion
      "x124_ivf_index_delete" ->
        s"""WITH $kmeansCtes,
            probes AS (
              SELECT query_id, cl AS bucket FROM (
                SELECT v.vec_id AS query_id, c.cl,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY $kmeansD2, c.cl) AS rn
                FROM v, c2 c
                WHERE v.vec_id < 8)
              WHERE rn <= 2)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
            FROM (SELECT p.query_id, b.vec_id, $cosPairExpr AS cos,
                         row_number() OVER (PARTITION BY p.query_id
                           ORDER BY $cosPairExpr DESC, b.vec_id ASC)
                           AS rank
                  FROM probes p
                       JOIN a3 s ON s.cl = p.bucket
                         AND s.vec_id % 3 <> 1
                       JOIN v b ON b.vec_id = s.vec_id
                       JOIN v a ON a.vec_id = p.query_id
                  WHERE b.vec_id <> p.query_id)
            WHERE rank <= 5""",
      // x120: incoming (>= 400) rejected iff a probed cell of the
      // subset-trained index holds a vector at cosine >= 0.35
      "x120_ivf_neardup_admit" ->
        s"""WITH v AS ($vecs),
            tv AS (SELECT vec_id, e FROM v WHERE vec_id < 400),
            ${lloydCtes("t", 64, 8, 2)},
            subasg AS (
              SELECT vec_id, cl FROM (
                SELECT v.vec_id, c.cl, row_number() OVER (
                  PARTITION BY v.vec_id ORDER BY $kmeansD2, c.cl) AS rn
                FROM tv v, tc2 c)
              WHERE rn = 1),
            probes AS (
              SELECT query_id, cl AS bucket FROM (
                SELECT v.vec_id AS query_id, c.cl,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY $kmeansD2, c.cl) AS rn
                FROM v v, tc2 c
                WHERE v.vec_id >= 400)
              WHERE rn <= 2),
            rej AS (SELECT DISTINCT p.query_id
                    FROM probes p
                         JOIN subasg s ON s.cl = p.bucket
                         JOIN tv b ON b.vec_id = s.vec_id
                         JOIN v a ON a.vec_id = p.query_id
                    WHERE $cosPairExpr >= 0.35)
            SELECT vec_id FROM v
            WHERE vec_id >= 400
              AND vec_id NOT IN (SELECT query_id FROM rej)""",

      // the engine encodes REAL PNGs and decodes them back; the oracle
      // recomputes every decoded value in closed form from doc_id
      // (lossless round-trip ⇒ decode correctness, not just parsing)
      "x101_image_decode_roundtrip" ->
        """WITH xs AS (SELECT x FROM generate_series(0, 16) g(x)),
                ys AS (SELECT y FROM generate_series(0, 9) g(y)),
                p AS (
                  SELECT d.doc_id, 4 + d.doc_id % 13 AS w,
                         3 + d.doc_id % 7 AS h, xs.x, ys.y
                  FROM documents d, xs, ys
                  WHERE xs.x < 4 + d.doc_id % 13
                    AND ys.y < 3 + d.doc_id % 7)
           SELECT doc_id, CAST(MIN(w) AS INT) AS width,
                  CAST(MIN(h) AS INT) AS height,
                  CAST(SUM(((doc_id + x) % 256) + ((doc_id + y) % 256)
                           + ((x + y) % 256)) AS BIGINT) AS pix_sum
           FROM p GROUP BY doc_id""",

      // x113: the x101 closed form per GIF frame — frames = 2+id%3,
      // frame f's gray level at (x,y) is (id+x+y+f)%256, so
      // ΣRGB = Σ 3·gray over the frame's grid
      "x113_gif_frames" ->
        """WITH fs AS (SELECT f FROM generate_series(0, 3) g(f)),
                xs AS (SELECT x FROM generate_series(0, 16) g(x)),
                ys AS (SELECT y FROM generate_series(0, 9) g(y)),
                p AS (
                  SELECT d.doc_id, fs.f, 4 + d.doc_id % 13 AS w,
                         3 + d.doc_id % 7 AS h, xs.x, ys.y
                  FROM documents d, fs, xs, ys
                  WHERE fs.f < 2 + d.doc_id % 3
                    AND xs.x < 4 + d.doc_id % 13
                    AND ys.y < 3 + d.doc_id % 7)
           SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                  CAST(MIN(w) AS BIGINT) AS width,
                  CAST(MIN(h) AS BIGINT) AS height,
                  CAST(SUM(3 * ((doc_id + x + y + f) % 256)) AS BIGINT)
                    AS pix_sum
           FROM p GROUP BY doc_id, f""",

      // x107: the x101 closed form sampled on the 4x2 nearest-neighbor
      // grid sx=(x*w)//4, sy=(y*h)//2
      "x107_image_resize_stats" ->
        """WITH g AS (
                SELECT d.doc_id, 4 + d.doc_id % 13 AS w,
                       3 + d.doc_id % 7 AS h, xs.x, ys.y
                FROM documents d,
                     generate_series(0, 3) xs(x),
                     generate_series(0, 1) ys(y)),
             p AS (SELECT doc_id, (x * w) // 4 AS sx,
                          (y * h) // 2 AS sy FROM g)
           SELECT doc_id, CAST(4 AS INT) AS width,
                  CAST(2 AS INT) AS height,
                  CAST(SUM(((doc_id + sx) % 256) + ((doc_id + sy) % 256)
                           + ((sx + sy) % 256)) AS BIGINT) AS pix_sum
           FROM p GROUP BY doc_id""",

      // add-one-smoothed rational odds ratio per union-vocab term,
      // symmetric via greatest(r, 1/r) computed as two independent
      // exact divisions; totals from the same joined counts
      "x75_term_drift" ->
        """WITH ta AS (SELECT term, CAST(count(*) AS BIGINT) AS ca FROM (
                SELECT unnest(regexp_split_to_array(
                  trim(lower(text)), '\s+')) AS term
                FROM documents WHERE doc_id % 2 = 0)
              WHERE len(term) >= 1 GROUP BY term),
           tb AS (SELECT term, CAST(count(*) AS BIGINT) AS cb FROM (
                SELECT unnest(regexp_split_to_array(
                  trim(lower(text)), '\s+')) AS term
                FROM documents WHERE doc_id % 2 = 1)
              WHERE len(term) >= 1 GROUP BY term),
           j AS (SELECT coalesce(ta.term, tb.term) AS term,
                        coalesce(ca, CAST(0 AS BIGINT)) AS cnt_a,
                        coalesce(cb, CAST(0 AS BIGINT)) AS cnt_b
                 FROM ta FULL OUTER JOIN tb ON ta.term = tb.term),
           tot AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb,
                          count(*) AS v FROM j),
           sc AS (SELECT term, cnt_a, cnt_b,
                    greatest(
                      (CAST(cnt_a+1 AS DOUBLE) * CAST(nb+v AS DOUBLE))
                        / (CAST(cnt_b+1 AS DOUBLE) * CAST(na+v AS DOUBLE)),
                      (CAST(cnt_b+1 AS DOUBLE) * CAST(na+v AS DOUBLE))
                        / (CAST(cnt_a+1 AS DOUBLE) * CAST(nb+v AS DOUBLE))) AS d
                  FROM j, tot
                  WHERE cnt_a + cnt_b >= 3)
           SELECT term, cnt_a, cnt_b, round(d, 6) AS drift
           FROM sc ORDER BY d DESC, term ASC LIMIT 30""",

      // x106: x75's smoothed ratio on DOC frequency (distinct doc per
      // term) across the indexed/batch doc_id split
      "x106_bm25_append_drift" ->
        """WITH ta AS (SELECT term, CAST(count(*) AS BIGINT) AS ca FROM (
                SELECT DISTINCT doc_id, unnest(regexp_split_to_array(
                  trim(lower(text)), '\s+')) AS term
                FROM documents WHERE doc_id < 250)
              WHERE len(term) >= 1 GROUP BY term),
           tb AS (SELECT term, CAST(count(*) AS BIGINT) AS cb FROM (
                SELECT DISTINCT doc_id, unnest(regexp_split_to_array(
                  trim(lower(text)), '\s+')) AS term
                FROM documents WHERE doc_id >= 250)
              WHERE len(term) >= 1 GROUP BY term),
           j AS (SELECT coalesce(ta.term, tb.term) AS term,
                        coalesce(ca, CAST(0 AS BIGINT)) AS cnt_a,
                        coalesce(cb, CAST(0 AS BIGINT)) AS cnt_b
                 FROM ta FULL OUTER JOIN tb ON ta.term = tb.term),
           tot AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb,
                          count(*) AS v FROM j),
           sc AS (SELECT term, cnt_a, cnt_b,
                    greatest(
                      (CAST(cnt_a+1 AS DOUBLE) * CAST(nb+v AS DOUBLE))
                        / (CAST(cnt_b+1 AS DOUBLE) * CAST(na+v AS DOUBLE)),
                      (CAST(cnt_b+1 AS DOUBLE) * CAST(na+v AS DOUBLE))
                        / (CAST(cnt_a+1 AS DOUBLE) * CAST(nb+v AS DOUBLE))) AS d
                  FROM j, tot
                  WHERE cnt_a + cnt_b >= 3)
           SELECT term, cnt_a, cnt_b, round(d, 6) AS drift
           FROM sc ORDER BY d DESC, term ASC LIMIT 30""",

      // the engine routes through real header BYTES (build → parse);
      // the oracle computes the same expected metadata straight from
      // doc_id — the gate proves build∘parse is the identity
      "x68_image_header_meta" ->
        """SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
                       WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
                  CAST(16 + doc_id % 512 AS INT) AS width,
                  CAST(16 + doc_id % 307 AS INT) AS height
           FROM documents""",

      // weighted by per-doc multiplicity, matching the engine's
      // single-tokenize (doc_id, w1, w2, cnt) derivation exactly
      "x69_lm_doc_score" ->
        """WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents),
           bg AS (SELECT doc_id,
                    unnest([{'w1': toks[i+1], 'w2': toks[i+2]}
                            for i in range(len(toks)-1)],
                           recursive := true)
                  FROM t),
           dc AS (SELECT doc_id, w1, w2, count(*) AS cnt
                  FROM bg GROUP BY 1, 2, 3),
           c AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
                 FROM dc GROUP BY 1, 2),
           u AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
                 FROM c GROUP BY 1),
           vv AS (SELECT count(DISTINCT w1) AS v FROM c),
           d AS (SELECT dc.doc_id, dc.cnt,
                   ln((c.c12 + 1.0) / (u.c1 + vv.v)) AS lp
                 FROM dc JOIN c USING (w1, w2) JOIN u USING (w1), vv)
           SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
                  round(sum(cnt * lp) / sum(cnt), 6) AS avg_logp
           FROM d GROUP BY 1""",

      "x55_bigram_lm" ->
        """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+')
                        AS toks FROM documents),
           bg AS (SELECT unnest([{'w1': toks[i+1], 'w2': toks[i+2]}
                                 for i in range(len(toks)-1)],
                                recursive := true)
                  FROM t),
           c AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
           d AS (SELECT w1, w2, c12,
                   CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1
                 FROM c)
           SELECT w1, w2, c12, c1, round(c12 * 1.0 / c1, 6) AS p
           FROM d ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 50""",

      "x56_char_entropy" ->
        """WITH ch AS (SELECT doc_id,
                unnest([substr(text, CAST(i + 1 AS INT), 1)
                        for i in range(length(text))]) AS ch
              FROM documents
              WHERE text IS NOT NULL AND length(text) > 0),
           c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
           p AS (SELECT doc_id, c * 1.0 /
                   sum(c) OVER (PARTITION BY doc_id) AS p
                 FROM c)
           SELECT doc_id, round(-sum(p * log2(p)), 6) AS entropy,
                  count(*) AS n_distinct_chars
           FROM p GROUP BY doc_id""",

      "x57_inbatch_negatives" ->
        """WITH s AS (SELECT doc_id, source,
                md5(CAST(doc_id AS VARCHAR)) AS addr,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                  ::BIGINT % 8 AS bucket
              FROM documents),
           n AS (SELECT doc_id, source, bucket,
                   lead(doc_id, 1) OVER w AS n1,
                   lead(source, 1) OVER w AS g1,
                   lead(doc_id, 2) OVER w AS n2,
                   lead(source, 2) OVER w AS g2,
                   lead(doc_id, 3) OVER w AS n3,
                   lead(source, 3) OVER w AS g3
                 FROM s
                 WINDOW w AS (PARTITION BY bucket
                              ORDER BY addr ASC, doc_id ASC)),
           u AS (SELECT doc_id, source, bucket,
                   unnest([{'neg_id': n1, 'neg_grp': g1, 'neg_rank': 1},
                           {'neg_id': n2, 'neg_grp': g2, 'neg_rank': 2},
                           {'neg_id': n3, 'neg_grp': g3, 'neg_rank': 3}],
                          recursive := true)
                 FROM n)
           SELECT doc_id, bucket, neg_id,
                  CAST(neg_rank AS BIGINT) AS neg_rank
           FROM u
           WHERE neg_id IS NOT NULL AND neg_grp <> source""",

      // x09's shared signal CTE, then the same left-associated logit
      // chain over the ROUNDED ratios
      "x58_quality_classifier" ->
        s"""WITH ${qualityCteSignals("")}
           SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
                  round(1.0 / (1.0 + exp(-(-1.0 + 2.5*stopword_ratio
                                           - 4.0*punct_ratio
                                           + 0.35*ln(1.0 + n_tokens)))), 6)
                    AS quality_prob
           FROM qr""",

      "x59_corpus_card" ->
        """SELECT count(*) AS n_docs,
                  CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                    AS BIGINT) AS total_tokens,
                  count(DISTINCT lang) AS n_langs,
                  count(DISTINCT source) AS n_sources,
                  count(*) - count(DISTINCT text) AS n_exact_dups
           FROM documents""",

      "x17_length_buckets" ->
        """WITH t AS (
             SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
             FROM documents)
           SELECT CASE WHEN n < 16 THEN 'lt16'
                       WHEN n < 64 THEN 'lt64'
                       WHEN n < 256 THEN 'lt256'
                       WHEN n < 1024 THEN 'lt1024'
                       ELSE 'ge1024' END AS bucket,
                  count(*) AS n_docs,
                  CAST(sum(n) AS BIGINT) AS total_tokens
           FROM t GROUP BY 1""",

      "x14_frames" ->
        """WITH d AS (
             SELECT doc_id, octet_length(encode(text)) AS len,
                    unnest(range(0, CAST(ceil(octet_length(encode(text))/64.0)
                                         AS BIGINT))) AS i
             FROM documents)
           SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
                  CAST(least(64, len - i*64) AS BIGINT) AS raw_len
           FROM d WHERE i % 2 = 0""")
  }
}
