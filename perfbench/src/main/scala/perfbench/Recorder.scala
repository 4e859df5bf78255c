package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer recorder for the traced run.
  *
  * Spans are opened by the benchmark around each call into an engine
  * layer; the engine itself is not instrumented. Each span tags its
  * calling thread with `setJobGroup("span-<id>")`. A job is charged to
  * the span named by its job group while that span is open; jobs
  * submitted from engine-owned pools or stream threads carry a stale or
  * foreign group, so they are charged to the innermost span open when
  * the job started (the benchmark is a single client, so exactly one
  * span stack is open at any time). Spans and counters stay in memory
  * and are written out once, when the run ends.
  */
final class Recorder(spark: SparkSession, val slots: Int, runId: String) {

  final class Span(val id: Int, val name: String, val layer: String,
      val parent: Int, val startMs: Long, val startNs: Long) {
    @volatile var endMs: Long = Long.MaxValue
    @volatile var endNs: Long = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Task-level counters summed over the jobs charged to one span. */
  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var execRunMs = 0L
    var spillBytes = 0L
    var shuffleWriteBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val progress = mutable.ArrayBuffer.empty[(String, Map[String, Long], Long)]
  private var storageHeldPeak = 0L

  private def spanAt(t: Long): Option[Span] = spans.synchronized {
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => -s.startNs).headOption
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val byGroup = group.filter(_.startsWith("span-"))
        .map(_.stripPrefix("span-").toInt)
        .flatMap(id => spans.synchronized(spans.lift(id)))
        .filter(s => e.time <= s.endMs)
      byGroup.orElse(spanAt(e.time)).foreach { s =>
        e.stageIds.foreach(st => stageSpan.put(st, s.id))
        val c = counters.computeIfAbsent(s.id, _ => new Counters)
        c.synchronized { c.jobs += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = counters.computeIfAbsent(id, _ => new Counters)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.execRunMs += m.executorRunTime
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.synchronized { progress += ((p.name, d, p.numInputRows)) }
    }
  }

  /** Attach the listeners; recording covers only the attached window. */
  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every queued event, then detach the listeners. */
  def detach(): Unit = {
    org.apache.spark.graft.BenchHygiene.drainListenerBus(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Time `body` as one span of `layer`; returns its value and seconds. */
  def span[T](name: String, layer: String)(body: => T): (T, Double) = {
    val s = spans.synchronized {
      val sp = new Span(spans.length, name, layer,
        stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += sp
      sp
    }
    stack.push(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try {
      val v = body
      (v, (System.nanoTime() - s.startNs) / 1e9)
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      storageHeldPeak = math.max(storageHeldPeak, held)
    }
  }

  def storageHeldMb: Double = storageHeldPeak / (1024.0 * 1024.0)

  def spansOf(layer: String): Seq[Span] =
    spans.synchronized(spans.filter(_.layer == layer).toSeq)

  def spansNamed(prefix: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name.startsWith(prefix)).toSeq)

  /** Counters summed over `ss`. */
  def sum(ss: Seq[Span]): Counters = {
    val out = new Counters
    ss.foreach { s =>
      Option(counters.get(s.id)).foreach { c => c.synchronized {
        out.jobs += c.jobs; out.tasks += c.tasks
        out.execRunMs += c.execRunMs; out.spillBytes += c.spillBytes
        out.shuffleWriteBytes += c.shuffleWriteBytes
        out.inputBytes += c.inputBytes
        out.outputBytes += c.outputBytes
      } }
    }
    out
  }

  /** 1 − executor run time ÷ (wall × task slots) over `ss`. */
  def driverBoundRatio(ss: Seq[Span]): Double = {
    val wallMs = ss.map(_.seconds).sum * 1000.0
    if (wallMs <= 0) 0.0
    else math.max(0.0, 1.0 - sum(ss).execRunMs / (wallMs * slots))
  }

  /** Stream progress records: (query name, durationMs, input rows). */
  def streamProgress: Seq[(String, Map[String, Long], Long)] =
    progress.synchronized(progress.toSeq)

  /** Write every span with its counters as JSON lines. */
  def writeArtifact(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toSeq).map { s =>
      val c = sum(Seq(s))
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""seconds":${s.seconds}%.6f,"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""exec_run_ms":${c.execRunMs},"spill_bytes":${c.spillBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""input_bytes":${c.inputBytes},"output_bytes":${c.outputBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** JVM-wide collector totals, read before and after a window. */
object Gc {
  def totals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Old-generation occupancy in bytes. */
  def oldGenUsed(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
}
