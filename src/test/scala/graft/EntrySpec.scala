package graft

/** Smoke: flagship entry + every declared query runs and returns rows on
  * sf0.001 (the driver's t1 gate); oracle coverage is checked by the
  * driver's DuckDB compare at sf0.01. */
class EntrySpec extends SparkSpec {

  test("entry() returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs on sf0.001 and returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, Sf0001).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("README states the declared query and oracle counts") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val Counts = ("(?s).*driver contract: (\\d+) queries " +
      "\\((\\d+) DuckDB-oracled.*").r
    val Counts(queries, oracled) = readme
    assert(queries.toInt == SparkEntry.queries.size)
    assert(oracled.toInt == SparkEntry.oracleSql.size)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }
}
