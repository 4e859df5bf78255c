package graft

import org.apache.spark.sql.SparkSession

import graft.pipelines.Pipelines
import graft.sinks.Upsert

/** Orchestrator — the reference's `main.py` (SURVEY §2.13 O1-O3):
  * sequential DAG dimension → performance → leads (order documented in
  * the reference README:144), each flow isolated by its own try/catch so
  * one failure doesn't stop the others, non-zero exit code for the
  * scheduler when anything failed. The dormant raw-leads flow (E4) runs
  * last, matching its loader-supported-but-unwired status.
  *
  * Usage: runMain graft.MetaEtlMain <sfDir> <warehouseDir>
  */
object MetaEtlMain {

  /** Runs all four pipelines; returns the per-pipeline outcome. */
  def runAll(spark: SparkSession, sfDir: String, warehouse: String)
      : Map[String, Option[Throwable]] = {
    def flow(table: String)(body: => Unit): (String, Option[Throwable]) =
      table -> (try { body; None } catch { case e: Throwable => Some(e) })

    Map(
      flow("ads_dimension") {
        Upsert.upsertTable(spark, warehouse, "ads_dimension",
          Pipelines.dimension(spark, sfDir))
      },
      flow("ads_campaign_performance") {
        Upsert.upsertTable(spark, warehouse, "ads_campaign_performance",
          Pipelines.performance(spark, sfDir))
      },
      flow("ads_lead_insights") {
        Upsert.upsertTable(spark, warehouse, "ads_lead_insights",
          Pipelines.leads(spark, sfDir))
      },
      flow("ads_raw_leads") {
        Upsert.upsertTable(spark, warehouse, "ads_raw_leads",
          Pipelines.rawLeads(spark, sfDir))
      })
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, warehouse) = args
    val spark = EngineConf.session("graft-etl")
    val outcomes = runAll(spark, sfDir, warehouse)
    outcomes.toSeq.sortBy(_._1).foreach {
      case (t, None) => println(s"[etl] $t: ok")
      case (t, Some(e)) => System.err.println(s"[etl] $t: FAILED ${e.getMessage}")
    }
    spark.stop()
    if (outcomes.values.exists(_.isDefined)) sys.exit(1)
  }
}
