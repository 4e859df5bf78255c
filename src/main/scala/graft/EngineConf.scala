package graft

import org.apache.spark.sql.SparkSession

/** Session settings shared by every engine entry point (Bench, Verify,
  * Plans, MetaEtlMain, and the test harness) so the correctness gate and
  * the benchmarks run the SAME plans — a rule excluded in one builder but
  * not another would gate correctness on one plan shape and measure a
  * different one. Every entry point builds its session through
  * [[session]].
  */
object EngineConf {

  /** `InferFiltersFromGenerate` re-derives a Generate's input under the
    * projection that computes it: for the native sketch arrays
    * (shingle_hashes etc.) that evaluates the most expensive per-row
    * expression 3×, and `explode(outer=false)` already skips empty/null
    * arrays, so the inferred filter only costs here (see SCALE.md
    * "Expression-level lessons"). The rule pays off only when the
    * generator input is cheap. */
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Task slots: `SPARK_GRAFT_CPUS`, else the machine's core count. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's local session: `cpus` task slots and as many shuffle
    * partitions, [[ExcludedOptimizerRules]], UTC, no UI, WARN logging.
    * `getOrCreate`, so every caller in one JVM shares one session. */
  def session(app: String, cpus: Int = EngineConf.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.excludedRules", ExcludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
