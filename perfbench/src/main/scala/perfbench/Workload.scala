package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload sees of the run: the session, its generator, its own
  * directory, and — on traced cycles — the recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: String) {
  val gen = new Gen(spark, seed)

  /** Set while a traced cycle runs. */
  var rec: Option[Recorder] = None

  /** Per-layer values summed over traced batches. */
  val traced = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, v: Double): Unit =
    if (rec.isDefined) traced(name) = traced.getOrElse(name, 0.0) + v

  /** Run `body` as a span of `layer` when tracing; returns its seconds. */
  def span[T](name: String, layer: String)(body: => T): (T, Double) =
    rec match {
      case Some(r) => r.span(name, layer)(body)
      case None =>
        val t0 = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
    }

  /** Materialize a lazy frame to the `noop` sink inside a span: the
    * seconds it takes is the cost of producing that frame. Only traced
    * batches do this; it is how lazy layers are timed. */
  def noop(name: String, layer: String, df: => DataFrame): Double =
    if (rec.isEmpty) 0.0
    else span(name, layer)(
      df.write.format("noop").mode("overwrite").save())._2

  def path(p: String): String = s"$dir/$p"
}

/** One benchmark workload: a closed loop of write batches, each followed
  * by an optional maintenance step and its query batches. A cycle is the unit the loop repeats; tracing
  * alternates whole cycles so traced and untraced cycles do the same
  * work. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark

  /** Write batches per cycle. */
  def cycle: Int

  /** The batches of one cycle the warm-up runs: enough to reach every
    * code path a cycle takes. */
  def warmBatches: Seq[Int] = 0 until cycle

  /** Generate inputs and build the base state (timed as set-up). */
  def setup(): Unit

  /** Untimed reset before each cycle. */
  def startCycle(n: Int): Unit = ()

  /** Untimed step before batch `i`: the arrival of its input. */
  def prepare(i: Int): Unit = ()

  /** Batch `i` of the current cycle; returns the input rows it read. */
  def batch(i: Int): Long

  /** True when a maintenance step follows write batch `i`. */
  def maintains(i: Int): Boolean = false

  /** Maintenance after a write batch (compaction), timed on its own. */
  def maintain(): Unit = ()

  /** Query batches served after each write batch. */
  def queriesPerBatch: Int = 1

  /** One query batch after write batch `i`; returns result rows. */
  def query(i: Int): Long

  /** Output checks on the final state; each string is one failure. */
  def check(): Seq[String]

  /** Rows and bytes of the generated input, per input table. */
  def inputStats: Seq[(String, Long, Long)]

  /** Bytes of the final warehouse or index directories. */
  def storedBytes: Long

  /** Bytes of the generated input the stored state was built from. */
  def storedInputBytes: Long

  /** Per-layer values that are not span sums (counts, sizes, ratios). */
  def layerSnapshot(): Map[String, Double] = Map.empty
}

object Workload {
  def bytesUnder(spark: SparkSession, p: String): Long = {
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) 0L else fs.getContentSummary(path).getLength
  }

  def filesUnder(spark: SparkSession, p: String, since: Long): Long = {
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) 0L
    else {
      val it = fs.listFiles(path, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
          f.getModificationTime >= since) n += 1
      }
      n
    }
  }

  def delete(spark: SparkSession, p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).delete(path, true)
  }

  /** Rows of `df` with every column rendered as a string, so a table read
    * back from parquet (partition columns re-typed) compares with the
    * frame that produced it. */
  def canonical(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => col(c).cast("string").as(c)): _*)

  /** None when `actual` and `expected` hold the same multiset of rows
    * over `expected`'s columns; otherwise a one-line description. */
  def diff(name: String, actual: DataFrame, expected: DataFrame)
      : Option[String] = {
    val cols = expected.columns.toSeq
    val missingCols = cols.filterNot(actual.columns.contains)
    if (missingCols.nonEmpty)
      return Some(s"$name: missing columns ${missingCols.mkString(",")}")
    val a = canonical(actual, cols)
    val e = canonical(expected, cols)
    val extra = a.exceptAll(e).count()
    val missing = e.exceptAll(a).count()
    if (extra == 0 && missing == 0) None
    else Some(s"$name: $extra unexpected rows, $missing missing rows")
  }

  /** SHA-256 over every data file under `dir`: relative path (with the
    * per-write unique id dropped from file names) and bytes, in path
    * order. Equal digests mean the engine was handed identical input. */
  def fileDigest(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
    files.map(p => root.relativize(p).toString
        .replaceAll("-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "") -> p)
      .sortBy(_._1).foreach { case (rel, p) =>
        md.update(rel.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(p))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Order-independent digest of a table's rows. */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")), lit(0)).cast("string")).head()
    s"${r.getLong(0)}:${r.getString(1)}"
  }
}
