package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = EngineConf.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query filter for single-query iteration
    // (dev-loop only, mirrors Bench: the driver never sets it, so round
    // dumps stay full).
    val selected = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        SparkEntry.queries.view.filterKeys(keep).toMap
      case None => SparkEntry.queries
    }
    // Failures must be FIRST-CLASS in the artifact: a query that throws
    // writes its error text to <outDir>_errors/<name>.txt (and a rollup
    // json), so the driver/judge sees an `err` row instead of a silent
    // absence — r9's ten vanished queries looked like never-declared
    // queries. The marker dir lives as a SIBLING of outDir: anything
    // inside outDir is scanned as a query result, so an in-tree marker
    // showed up as a 147th pseudo-query "_errors" in CORRECTNESS_r10.
    val outPath = Paths.get(outDir).toAbsolutePath
    val errDir = outPath.resolveSibling(outPath.getFileName.toString + "_errors")
    Files.createDirectories(errDir)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        Files.writeString(errDir.resolve(s"$name.txt"), msg + "\n")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
