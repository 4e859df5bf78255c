package perfbench

import scala.collection.mutable

import org.apache.spark.graft.BenchHygiene
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one workload, one seed, one closed loop
  * with one client.
  *
  * {{{
  * Main --workload <etl_daily|corpus_dedup|index_live> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * A warm-up first runs the workload's set-up and the batches of one
  * cycle that reach every code path, on its own inputs. Set-up (timed as
  * `setup_s`, median of `SetupRuns` from scratch) then generates the
  * inputs and builds the base state. The loop then repeats whole cycles
  * of write batches, each followed by its maintenance step (if any) and
  * its query batches, until `--seconds` have passed. With `--trace 0` it
  * prints the end-to-end metrics; with `--trace 1` it interleaves traced
  * and untraced cycles and prints the per-layer metrics, including the
  * traced cycles' cost relative to the untraced ones. The last line of
  * stdout is the result object; the exit code is non-zero when any
  * batch, query or output check failed.
  */
object Main {

  val Workloads: Seq[String] = Seq("etl_daily", "corpus_dedup", "index_live")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s",
    "batch_p50_s" -> "s", "query_p50_s" -> "s",
    "heap_peak_mb" -> "MB", "stored_bytes_per_input_byte" -> "ratio")

  /** Set-ups timed per run; `setup_s` is their median. */
  val SetupRuns = 7

  /** Layers the listed workloads call, and the layers only `etl_daily`
    * calls. */
  val Layers: Seq[String] = Seq("sinks", "ext", "streaming")
  val EtlLayers: Seq[String] = Seq("sources", "ops", "pipelines")

  private def counters(layers: Seq[String]): Seq[(String, String)] =
    layers.flatMap(l => Seq(s"$l.driver_bound_ratio" -> "ratio",
      s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.spill_bytes" -> "bytes"))

  /** Per-layer metrics of the workloads `BENCHMARK.json` lists, with
    * their units, in the order they print. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sinks.bytes_written" -> "bytes", "sinks.index_versions" -> "count",
    "sinks.index_segments_live" -> "count", "sinks.index_dir_bytes" -> "bytes",
    "ext.exact_dedup_s" -> "s", "ext.minhash_pairs_s" -> "s",
    "ext.dedup_clusters_s" -> "s", "ext.dedup_clusters_jobs" -> "count",
    "ext.sem_dedup_s" -> "s", "ext.knn_s" -> "s",
    "ext.knn_shuffle_write_bytes" -> "bytes",
    "ext.knn_rows_scored_per_result" -> "ratio",
    "ext.index_build.bm25_s" -> "s", "ext.index_build.ivf_s" -> "s",
    "ext.index_build.minhash_s" -> "s",
    "ext.query.bm25_s" -> "s", "ext.query.ivf_s" -> "s",
    "ext.query.fuse_s" -> "s",
    "ext.serve_rows_scanned_per_result" -> "ratio",
    "ext.admit_ratio" -> "ratio", "ext.storage_held_mb" -> "MB",
    "streaming.cdc_trigger_s" -> "s", "streaming.admit_trigger_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.floor_s" -> "s",
    "streaming.rows_per_batch" -> "count",
    "jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
    "trace.overhead_ratio" -> "ratio") ++ counters(Layers)

  /** Per-layer metrics only `etl_daily` produces. `etl_daily` is not
    * listed in `BENCHMARK.json` (see perfbench/README.md), so these are
    * printed by its traced runs alone. */
  val EtlPerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.input_bytes" -> "bytes",
    "ops.normalize_actions_s" -> "s",
    "pipelines.dimension_s" -> "s", "pipelines.performance_s" -> "s",
    "pipelines.leads_s" -> "s", "pipelines.raw_leads_s" -> "s",
    "pipelines.shuffle_write_bytes" -> "bytes",
    "sinks.upsert.ads_dimension_s" -> "s",
    "sinks.upsert.ads_campaign_performance_s" -> "s",
    "sinks.upsert.ads_lead_insights_s" -> "s",
    "sinks.upsert.ads_raw_leads_s" -> "s",
    "sinks.files_written" -> "count", "sinks.write_amp" -> "ratio") ++
    counters(EtlLayers)

  def perLayerOf(workload: String): Seq[(String, String)] =
    if (workload == "etl_daily") PerLayer ++ EtlPerLayer else PerLayer

  /** Workload sizes: the measured scale, and a tiny one for the
    * benchmark's own tests. Where each measured size comes from is in
    * perfbench/README.md. */
  def make(name: String, ctx: Ctx, tiny: Boolean): Workload = name match {
    case "etl_daily" =>
      if (tiny) new EtlDaily(ctx, perDay = 1000, ads = 100, days = 2)
      else new EtlDaily(ctx, perDay = 20000, ads = 4000, days = 8)
    case "corpus_dedup" =>
      if (tiny) new CorpusDedup(ctx, docs = 200, groups = 15)
      else new CorpusDedup(ctx, docs = 2000, groups = 150)
    case "index_live" =>
      if (tiny) new IndexLive(ctx, baseDocs = 200, inserts = 4, updates = 4,
        deletes = 2, arrivals = 6, compactEvery = 2)
      else new IndexLive(ctx, baseDocs = 3000, inserts = 17, updates = 23,
        deletes = 9, arrivals = 30, compactEvery = 3)
  }

  def session(slots: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        graft.EngineConf.ExcludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample, at percentile (n − 10) / n. With fewer than 11
    * samples no such percentile exists and the maximum is reported. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size >= 11) (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    else (s.last, 100.0)
  }

  def hygiene(spark: SparkSession): Unit = {
    BenchHygiene.releaseAll(spark.sparkContext)
    BenchHygiene.drainListenerBus(spark.sparkContext)
    System.gc()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val name = opts.getOrElse("--workload", "")
    require(Workloads.contains(name),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts("--trace") == "1"
    val work = new java.io.File(opts("--work")).getAbsoluteFile
    val runDir = new java.io.File(work,
      s"$name-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}")
    val slots = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = session(slots, new java.io.File(runDir, "local").toString)
    val ok = try run(spark, name, seed, seconds, trace, slots, runDir, work)
    finally {
      spark.stop()
      // the next run deletes it while it warms up
      val trash = new java.io.File(work, "trash")
      trash.mkdirs()
      if (!runDir.renameTo(new java.io.File(trash, runDir.getName)))
        org.apache.commons.io.FileUtils.deleteQuietly(runDir)
    }
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  /** Runs one workload and prints its result; true when nothing failed. */
  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, slots: Int, runDir: java.io.File,
      work: java.io.File): Boolean = {
    val scratch = new java.io.File(runDir, "local/bench").toString

    // earlier runs' directories are deleted while this run warms up:
    // freeing many small files can take seconds on a volume mounted with
    // online discard, which this keeps out of every timed window
    val sweep = new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work, "trash")))
    sweep.start()

    // warm-up: set-up and the warm batches of one cycle at full scale on
    // their own inputs, so the JIT and the codegen cache are warm before
    // anything is timed
    val warmT0 = System.nanoTime()
    val warm = make(name, new Ctx(spark, seed, s"$scratch/warm"), tiny = false)
    warm.setup()
    warm.warmBatches.foreach { i =>
      warm.prepare(i); warm.batch(i)
      if (warm.maintains(i)) warm.maintain()
      (0 until warm.queriesPerBatch).foreach(_ => warm.query(i))
    }
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    sweep.join()

    // set-up, `SetupRuns` times from scratch; the last one is kept.
    // Nothing is deleted before the run ends: on a file system that
    // discards freed blocks, a deletion slows the small-file writes that
    // follow it, and the index streams measured next are made of them
    var w: Workload = null
    val setupTimes = (0 until SetupRuns).map { r =>
      hygiene(spark)
      val t0 = System.nanoTime()
      w = make(name, new Ctx(spark, seed, s"$scratch/rep$r"), tiny = false)
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    hygiene(spark)

    val ctx = w.ctx
    val rec = new Recorder(spark, slots, s"$name-$seed")
    val batchS = mutable.ArrayBuffer.empty[Double]
    val maintS = mutable.ArrayBuffer.empty[Double]
    val queryS = mutable.ArrayBuffer.empty[Double]
    val cycleS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var rows = 0L
    var attempted = 0L
    var failed = 0L
    var tracedBatches = 0
    var gcTraced = (0L, 0L)
    // traced runs order cycles traced, plain, plain, traced (and repeat),
    // so traced and plain cycles sit equally early and late in the run
    val minCycles = if (trace) 4 else 1
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
      }
    }

    var heapPeak = 0L
    val t0 = System.nanoTime()
    // whole cycles only: a cycle's batches differ (index_live's last
    // round compacts), so every run measures the same mix
    var n = 0
    while (n < minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && (n % 4 == 0 || n % 4 == 3)
      w.startCycle(n)
      if (traced) { rec.attach(); ctx.rec = Some(rec) }
      var cycleTime = 0.0
      (0 until w.cycle).foreach { i =>
        w.prepare(i)
        val gc0 = Gc.totals()
        val b0 = System.nanoTime()
        attempt(s"batch $n.$i")(w.batch(i)).foreach(rows += _)
        val b = (System.nanoTime() - b0) / 1e9
        val m = if (!w.maintains(i)) 0.0 else {
          val m0 = System.nanoTime()
          attempt(s"maintenance $n.$i")(w.maintain())
          (System.nanoTime() - m0) / 1e9
        }
        val qs = (0 until w.queriesPerBatch).map { _ =>
          val q0 = System.nanoTime()
          attempt(s"query $n.$i")(w.query(i))
          (System.nanoTime() - q0) / 1e9
        }
        if (!trace) {
          batchS += b; queryS ++= qs
          if (w.maintains(i)) maintS += m
        }
        cycleTime += b + m + qs.sum
        if (traced) {
          val gc1 = Gc.totals()
          gcTraced = (gcTraced._1 + gc1._1 - gc0._1, gcTraced._2 + gc1._2 - gc0._2)
          tracedBatches += 1
        }
        // untimed, as graft.Bench does between queries: free the batch's
        // shuffles and broadcasts, deliver its events, collect; what the
        // old generation still holds is what the session retains
        hygiene(spark)
        heapPeak = math.max(heapPeak, Gc.oldGenUsed())
      }
      if (traced) {
        ctx.rec = None
        rec.detach()
      }
      cycleS += ((traced, cycleTime))
      n += 1
    }
    val heapMb = heapPeak / (1024.0 * 1024.0)
    val loopS = (System.nanoTime() - t0) / 1e9

    val checkT0 = System.nanoTime()
    val failures = attempt("output check")(w.check()).getOrElse(Seq("check threw"))
    val checkS = (System.nanoTime() - checkT0) / 1e9
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    if (failures.nonEmpty) failed += 1
    val inputs = w.inputStats
    val inputBytes = w.storedInputBytes.toDouble
    val measured = batchS.sum + maintS.sum + queryS.sum

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val (bt, bp) = tail(batchS.toSeq)
        val (qt, qp) = tail(queryS.toSeq)
        System.out.println(s"""{"workload":"$name","seed":$seed,""" +
          s""""batches":${batchS.size},"queries":${queryS.size},""" +
          s""""batch_s":[${batchS.map(num).mkString(",")}],""" +
          s""""maintenance_s":[${maintS.map(num).mkString(",")}],""" +
          s""""query_s":[${queryS.map(num).mkString(",")}],""" +
          s""""batch_tail_s":${num(bt)},"batch_tail_percentile":${num(bp)},""" +
          s""""query_tail_s":${num(qt)},"query_tail_percentile":${num(qp)},""" +
          s""""warmup_s":${num(warmupS)},"loop_s":${num(loopS)},"check_s":${num(checkS)},""" +
          s""""input_digest":"${Workload.fileDigest(ctx.path("input"))}",""" +
          s""""setup_runs_s":[${setupTimes.map(num).mkString(",")}],""" +
          """"inputs":[""" + inputs.map { case (t, r, b) =>
            s"""{"table":"$t","rows":$r,"bytes":$b}""" }.mkString(",") + "]}")
        val v = Map(
          "setup_s" -> median(setupTimes),
          "rows_per_s" -> rows / measured,
          "batch_p50_s" -> median(batchS.toSeq),
          "query_p50_s" -> median(queryS.toSeq),
          "heap_peak_mb" -> heapMb,
          "stored_bytes_per_input_byte" -> w.storedBytes / inputBytes)
        EndToEnd.map { case (m, u) => (m, u, v(m)) }
      } else {
        val per = math.max(1, tracedBatches).toDouble
        val v = mutable.LinkedHashMap.empty[String, Double]
        (PerLayer ++ EtlPerLayer).foreach { case (m, _) => v(m) = 0.0 }
        ctx.traced.foreach { case (k, x) => if (v.contains(k)) v(k) = x / per }
        def spanSeconds(prefix: String) =
          rec.spansNamed(prefix).map(_.seconds).sum / per
        Seq("exact_dedup", "minhash_pairs", "dedup_clusters", "sem_dedup", "knn",
          "index_build.bm25", "index_build.ivf", "index_build.minhash")
          .foreach(s => v(s"ext.${s}_s") = spanSeconds(s"ext.$s"))
        v("ext.dedup_clusters_jobs") = rec.sum(rec.spansNamed("ext.dedup_clusters")).jobs / per
        v("ext.knn_shuffle_write_bytes") = rec.sum(rec.spansNamed("ext.knn")).shuffleWriteBytes / per
        def ratio(a: String, b: String) =
          ctx.traced.get(b).filter(_ > 0).map(ctx.traced.getOrElse(a, 0.0) / _)
            .getOrElse(0.0)
        v("ext.knn_rows_scored_per_result") = ratio("_ext.knn_rows_scored", "_ext.knn_results")
        v("ext.serve_rows_scanned_per_result") = ratio("_ext.serve_rows_scanned", "_ext.serve_results")
        v("ext.storage_held_mb") = rec.storageHeldMb
        v("sources.input_bytes") = rec.sum(rec.spansOf("sources")).inputBytes / per
        v("pipelines.shuffle_write_bytes") = rec.sum(rec.spansOf("pipelines")).shuffleWriteBytes / per
        val sinkBytes = rec.sum(rec.spansOf("sinks")).outputBytes.toDouble
        v("sinks.bytes_written") = sinkBytes / per
        v("sinks.write_amp") = ctx.traced.get("_sinks.batch_input_bytes")
          .filter(_ > 0).map(sinkBytes / _).getOrElse(0.0)
        val progress = rec.streamProgress
        def dur(q: Option[String], keys: String*) = progress
          .filter(p => q.forall(_ == p._1))
          .map(p => keys.map(k => p._2.getOrElse(k, 0L)).sum).sum / 1000.0 / per
        v("streaming.cdc_trigger_s") = dur(Some("cdc"), "triggerExecution")
        v("streaming.admit_trigger_s") = dur(Some("admit"), "triggerExecution")
        v("streaming.add_batch_s") = dur(None, "addBatch")
        v("streaming.wal_commit_s") = dur(None, "walCommit", "commitOffsets")
        v("streaming.query_planning_s") = dur(None, "queryPlanning")
        v("streaming.floor_s") = math.max(0.0,
          dur(None, "triggerExecution") - dur(None, "addBatch"))
        val withRows = progress.filter(_._3 > 0)
        v("streaming.rows_per_batch") =
          if (withRows.isEmpty) 0.0 else withRows.map(_._3).sum.toDouble / withRows.size
        v("jvm.gc_s") = gcTraced._1 / 1000.0 / per
        v("jvm.gc_count") = gcTraced._2 / per
        (Layers ++ EtlLayers).foreach { l =>
          val ss = rec.spansOf(l)
          val c = rec.sum(ss)
          v(s"$l.driver_bound_ratio") = rec.driverBoundRatio(ss)
          v(s"$l.jobs") = c.jobs / per
          v(s"$l.tasks") = c.tasks / per
          v(s"$l.spill_bytes") = c.spillBytes / per
        }
        w.layerSnapshot().foreach { case (k, x) => v(k) = x }
        val tracedCycles = cycleS.filter(_._1).map(_._2).toSeq
        val plainCycles = cycleS.filterNot(_._1).map(_._2).toSeq
        v("trace.overhead_ratio") = median(tracedCycles) / median(plainCycles)
        rec.writeArtifact(new java.io.File(work, s"trace/$name-seed$seed.jsonl").toPath)
        perLayerOf(name).map { case (m, u) => (m, u, v(m)) }
      }

    val body = metrics.map { case (m, u, x) =>
      s""""$m":{"value":${num(x)},"unit":"$u"}""" }.mkString(",")
    val correct = failures.isEmpty
    System.out.println(s"""{"correct":$correct,"attempted":$attempted,""" +
      s""""failed":${math.min(failed, attempted)},"metrics":{$body}}""")
    failed == 0
  }
}
