package graft

/** Plan-inspection main: prints the formatted physical plan of each query
  * (or the ones named in args) against sf0.001. Used to keep the plans
  * honest: filters/projections pushed into the parquet scan, dims
  * broadcast, whole-stage codegen spans wide, no stray shuffles.
  *
  * Usage: runMain graft.Plans [queryName ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = EngineConf.session("graft-plans", cpus = 4)
    // optional first arg: an sf dir — then each query is also executed
    // against it (noop sink) and timed
    val (dir, time) = args.headOption match {
      case Some(d) if d.startsWith("/") => (d, true)
      case _ => ("/root/testdata/sf0.001", false)
    }
    val names = if (time) args.tail else args
    val wanted =
      if (names.nonEmpty) names.toSet else SparkEntry.queries.keySet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => wanted.contains(q._1))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, dir)
          df.explain("formatted")
          if (time) {
            val t0 = System.nanoTime()
            df.write.mode("overwrite").format("noop").save()
            println(f"elapsed: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        } catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
