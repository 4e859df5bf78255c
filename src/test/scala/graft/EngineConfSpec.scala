package graft

/** Every entry point gets its session from [[EngineConf.session]]; pin
  * what that session carries so no entry point can drift from the plans
  * Verify checks. */
class EngineConfSpec extends SparkSpec {

  test("EngineConf.session carries the shared optimizer, time-zone and " +
      "shuffle settings") {
    val s = EngineConf.session("graft-conf-check", cpus = 4)
    assert(s eq spark, "getOrCreate must hand back the one JVM session")
    assert(s.conf.get("spark.sql.optimizer.excludedRules") ==
      EngineConf.ExcludedOptimizerRules)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
