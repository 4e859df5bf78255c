package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's session
  * ([[EngineConf.session]], one JVM-wide via getOrCreate) pinned to 4
  * slots, so small shuffle fan-out regardless of the machine. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = EngineConf.session("graft-test", cpus = 4)

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
