package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Actions
import graft.pipelines.Pipelines
import graft.sinks.Upsert
import graft.sources.MetaFixtures

/** `etl_daily`: the reference's daily job. Each batch is one day's run of
  * the dimension, performance, leads and raw-leads pipelines, each
  * upserted into a warehouse that persists across the cycle's days, in
  * the order `graft.MetaEtlMain.runAll` uses. A day's input holds that
  * day's events plus the previous whole day again (the reference's
  * lookback), with late events for the previous day that first arrive
  * in this pull. A cycle is `days` daily runs into a fresh warehouse;
  * the query batch after each run is a dashboard read of the warehouse.
  */
final class EtlDaily(ctx: Ctx, perDay: Long, ads: Int, days: Int)
    extends Workload(ctx) {

  val cycle: Int = days
  private val gen = ctx.gen
  private val late = perDay / 10
  private var wh = ctx.path("warehouse/c0")

  /** The action types the performance and leads flows pivot — the same
    * list as `graft.pipelines.Pipelines.ActionTypes`. */
  private val ActionTypes =
    Seq("lead", "purchase", "offsite_conversion.fb_pixel_lead")

  private val Tables = Seq("ads_dimension", "ads_campaign_performance",
    "ads_lead_insights", "ads_raw_leads")

  private def dayDir(d: Int) = ctx.path(s"input/day=$d")
  private val allDir = ctx.path("oracle/all")

  private def dayEvents(d: Int) = gen.events(d * perDay, perDay, d, ads)
  private def lateEvents(d: Int) =
    gen.events(1000000000L + d * late, late, d - 1, ads)

  private def dayRows(d: Int): Long =
    if (d == 0) perDay else 2 * perDay + late

  def setup(): Unit = {
    (0 until days).foreach { d =>
      val frames = dayEvents(d) +: (if (d > 0)
        Seq(dayEvents(d - 1), lateEvents(d)) else Nil)
      gen.write(frames.reduce(_ union _), s"${dayDir(d)}/events.parquet")
    }
    // every distinct event any pull emitted: the one-shot oracle's input
    val all = (0 until days).map(dayEvents) ++ (1 until days).map(lateEvents)
    gen.write(all.reduce(_ union _), s"$allDir/events.parquet")
  }

  override def startCycle(n: Int): Unit =
    wh = ctx.path(s"warehouse/c$n")

  private def flow(table: String, dir: String): DataFrame = table match {
    case "ads_dimension" => Pipelines.dimension(spark, dir)
    case "ads_campaign_performance" => Pipelines.performance(spark, dir)
    case "ads_lead_insights" => Pipelines.leads(spark, dir)
    case "ads_raw_leads" => Pipelines.rawLeads(spark, dir)
  }

  /** Traced batches time each lazy layer by materializing its output to
    * `noop`; a layer's own share is its output's cost minus its input's.
    * Returns the cost of the flow's full output. */
  private def traceFlow(table: String, dir: String): Double = {
    val short = table.stripPrefix("ads_").replace("campaign_", "")
      .replace("lead_insights", "leads")
    val sources: Seq[() => DataFrame] = table match {
      case "ads_dimension" => Seq(() => MetaFixtures.rawAds(spark, dir))
      case "ads_campaign_performance" =>
        Seq(() => MetaFixtures.rawInsights(spark, dir))
      case "ads_lead_insights" => Seq(
        () => MetaFixtures.rawInsights(spark, dir, Seq("age", "gender"),
          excludeErrors = true),
        () => MetaFixtures.rawInsights(spark, dir, Seq("region")))
      case "ads_raw_leads" => Seq(() => MetaFixtures.rawLeads(spark, dir))
    }
    val src = sources.map(s => ctx.noop(s"sources.$short", "sources", s())).sum
    ctx.add("sources.scan_s", src)
    val below =
      if (table == "ads_dimension" || table == "ads_raw_leads") src
      else {
        val ops = sources.map(s => ctx.noop(s"ops.normalize_actions.$short",
          "ops", Actions.normalizeActions(s(), ActionTypes))).sum
        ctx.add("ops.normalize_actions_s", math.max(0.0, ops - src))
        ops
      }
    val pipe = ctx.noop(s"pipelines.$short", "pipelines", flow(table, dir))
    ctx.add(s"pipelines.${short}_s", math.max(0.0, pipe - below))
    pipe
  }

  private def upsertAll(dir: String): Unit = Tables.foreach { t =>
    val below = if (ctx.rec.isDefined) traceFlow(t, dir) else 0.0
    val (_, s) = ctx.span(s"sinks.upsert.$t", "sinks")(
      Upsert.upsertTable(spark, wh, t, flow(t, dir)))
    ctx.add(s"sinks.upsert.${t}_s", math.max(0.0, s - below))
  }

  def batch(i: Int): Long = {
    val since = System.currentTimeMillis()
    upsertAll(dayDir(i))
    if (ctx.rec.isDefined) {
      ctx.add("sinks.files_written", Workload.filesUnder(spark, wh, since).toDouble)
      ctx.add("_sinks.batch_input_bytes", Workload.bytesUnder(spark, dayDir(i)).toDouble)
    }
    dayRows(i)
  }

  def query(i: Int): Long = {
    val perf = spark.read.parquet(s"$wh/ads_campaign_performance")
    val dim = spark.read.parquet(s"$wh/ads_dimension")
    val byCampaign = perf.join(dim.select("ad_id", "campaign_name"), "ad_id")
      .groupBy("campaign_name")
      .agg(sum("total_spend"), sum("total_clicks"), sum("total_leads"))
      .collect()
    val byAudience = spark.read.parquet(s"$wh/ads_lead_insights")
      .groupBy("age", "gender")
      .agg(sum("total_spend"), sum("total_leads"))
      .collect()
    byCampaign.length + byAudience.length
  }

  private def table(t: String) = spark.read.parquet(s"$wh/$t")

  def check(): Seq[String] = {
    // date-keyed tables and raw leads: a one-shot run over every event
    val oneShot = Tables.drop(1).flatMap(t =>
      Workload.diff(t, table(t), flow(t, allDir)))
    // dimension: each ad as the last daily run that saw it emitted it
    val perDayDim = (0 until days)
      .map(d => Pipelines.dimension(spark, dayDir(d)).withColumn("_d", lit(d)))
      .reduce(_ unionByName _)
    val lastSeen = perDayDim
      .withColumn("_r", row_number().over(
        Window.partitionBy("ad_id").orderBy(col("_d").desc)))
      .filter(col("_r") === 1).drop("_r", "_d")
    val dimension = Workload.diff("ads_dimension", table("ads_dimension"),
      lastSeen)
    // re-running the last day must leave every table as it was
    val before = Tables.map(t => Workload.digest(table(t)))
    upsertAll(dayDir(days - 1))
    val after = Tables.map(t => Workload.digest(table(t)))
    val rerun = Tables.zip(before.zip(after)).collect {
      case (t, (b, a)) if b != a => s"$t: re-running the last day changed it"
    }
    oneShot ++ dimension ++ rerun
  }

  def inputStats: Seq[(String, Long, Long)] = Seq(("events",
    (0 until days).map(dayRows).sum,
    Workload.bytesUnder(spark, ctx.path("input"))))

  def storedBytes: Long = Workload.bytesUnder(spark, wh)

  def storedInputBytes: Long = Workload.bytesUnder(spark, ctx.path("input"))

  /** The warehouse directory, for tests that corrupt it. */
  def warehouse: String = wh
}
