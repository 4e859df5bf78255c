package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions.{col, regexp_extract}
import org.apache.spark.sql.types.{DataType, StructType}

/** The family-facing half of the [[IndexManifest]] protocol: every
  * persisted index, ledger and sketch (BM25, IVF/IVFPQ, MinHash,
  * containment, the chunk/simhash/host-budget ledgers, the
  * CMS/HLL/histogram/KLL sketches, the unigram vocabulary) resolves its
  * snapshot, scans its tables and commits its segments through here.
  * A family keeps only its schema, its segment write body, its serve
  * plan and its own guards; the rules below hold for all of them:
  *
  *  - a table's segments live under `<root>/<table>/<seg>/` and are
  *    immutable once a manifest references them;
  *  - a segment id ([[checkId]]) is a filesystem-safe token outside
  *    the names the protocol itself mints (`base`, `compact_v*`,
  *    `retrain_v*`) and the delete-marker namespace (`delete_*`);
  *  - an append or delete is idempotent on its marker in `applied`
  *    ([[append]], [[delete]]): checked up front, re-checked inside the
  *    CAS merge, carried across compactions;
  *  - a compaction ([[fold]]) lands one `compact_v<v+1>_<uuid8>`
  *    segment, carries segments committed since its snapshot, and
  *    aborts rather than double-count when a racing fold already
  *    dropped its inputs. */
private[graft] object Segments {

  /** Prefixes of segment names and markers the protocol mints itself. */
  private val Reserved = Seq("compact_v", "retrain_v", "delete_")

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Remove the whole root — the overwrite policy of saves that
    * rebuild an index in place. */
  def drop(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new Path(path), true)

  /** The newest snapshot, or None for a root with no manifest. */
  def latest(spark: SparkSession, path: String): Option[IndexSnapshot] =
    IndexManifest.latest(fs(spark, path), path)

  /** The newest snapshot, or the retained version `asOf` (time
    * travel). */
  def snapshot(spark: SparkSession, path: String,
      asOf: Option[Long] = None): IndexSnapshot = asOf match {
    case Some(v) => IndexManifest.at(fs(spark, path), path, v)
      .getOrElse(throw new IllegalArgumentException(
        s"index version $v not found at $path (vacuumed past the " +
          "retention window, or never committed)"))
    case None => latest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no index manifest at $path"))
  }

  /** Whether `marker` is already in the newest snapshot's `applied`
    * record — the replay probe of writers whose side effects precede
    * the append (an admit that lands its output first). */
  def applied(spark: SparkSession, path: String, marker: String)
      : Boolean = latest(spark, path).exists(_.applied.contains(marker))

  /** One table of `snap` as ONE multi-path parquet scan over its
    * listed segments. One scan, not a union of per-segment scans: the
    * union paid a driver listing per segment and let the optimizer
    * duplicate every join build side once per segment. Parquet maps
    * columns by name per file, so the rows are identical. */
  def scan(spark: SparkSession, path: String, snap: IndexSnapshot,
      table: String): DataFrame = {
    val segs = snap.segs(table)
    require(segs.nonEmpty,
      s"snapshot v${snap.version} at $path has no '$table' segments")
    read(spark, segs.map(s => s"$path/$table/$s"))
  }

  /** The one reader of committed segment directories: parquet `dirs`
    * read under the Spark schema stored in ONE footer of `schemaDir`
    * (default: the first listed dir), read on the driver. Without it,
    * `spark.read.parquet` infers the schema by a Spark job that reads
    * that same footer (parquet schema inference runs its footer reads
    * as a job even when there is nothing to merge), so every index
    * read paid one job before its plan existed. Only the data columns
    * come from the footer: partition columns (the IVF corpus's
    * `batch`/`bucket`) are still found by partition discovery, with
    * the types it infers. A dir with no data file to read a footer
    * from falls back to plain inference and its errors. */
  def read(spark: SparkSession, dirs: Seq[String],
      schemaDir: Option[String] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    footerSchema(conf, new Path(schemaDir.getOrElse(dirs.head))) match {
      case Some(schema) => spark.read.schema(schema).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }
  }

  /** The Spark row schema Spark wrote into the footer of the first
    * data file under `dir` (depth-first, hidden `_`/`.` names skipped
    * as partition discovery skips them); None when there is no such
    * file or the footer carries no Spark schema. */
  private def footerSchema(conf: Configuration, dir: Path)
      : Option[StructType] = {
    val fs = dir.getFileSystem(conf)
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def firstFile(d: Path): Option[Path] = {
      val (files, subdirs) = fs.listStatus(d)
        .filterNot(st => hidden(st.getPath.getName)).partition(_.isFile)
      files.headOption.map(_.getPath)
        .orElse(subdirs.iterator.flatMap(st => firstFile(st.getPath))
          .nextOption())
    }
    val file = if (fs.exists(dir)) firstFile(dir) else None
    file.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
        HadoopReadOptions.builder(conf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .build())
      val json =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY)
        finally reader.close()
      Option(json).map(DataType.fromJson).collect {
        case s: StructType => s
      }
    }
  }

  /** The tombstone table of every family that deletes: rows scoping
    * each deleted doc to the segment that held it when the delete
    * committed (the Lucene per-segment live-docs shape) — a doc
    * re-added by a LATER append lands in a segment no existing
    * tombstone covers, which is what makes delete + re-add
    * well-defined. The text and signature families key it
    * `(doc_id, seg)`; the vector indexes key it `(vec_id, batch)`. */
  val Deletes = "deletes"

  /** One table of `snap` LIVE: the [[scan]] minus rows whose
    * `(doc_id, seg)` is tombstoned in [[Deletes]]. With no deletes
    * this is exactly the plain scan — zero added plan nodes; with
    * deletes, one anti-join against the (small) tombstone table, which
    * Catalyst pushes filters through to the scan. `tagged` keeps each
    * row's segment name as `_seg` — the scope a delete writes its new
    * tombstones under. The tag derives from the DETERMINISTIC
    * `_metadata.file_path` column (input_file_name is nondeterministic
    * and would block predicate pushdown past the projection), and the
    * greedy leading `.*` anchors the match to the LAST path component
    * named `table`, so a root under a directory of that name cannot
    * mistag. */
  def live(spark: SparkSession, path: String, snap: IndexSnapshot,
      table: String, tagged: Boolean = false): DataFrame = {
    val noDeletes = snap.segs(Deletes).isEmpty
    if (noDeletes && !tagged) return scan(spark, path, snap, table)
    val withSeg = scan(spark, path, snap, table).withColumn("_seg",
      regexp_extract(col("_metadata.file_path"), s".*/$table/([^/]+)/",
        1))
    val rows =
      if (noDeletes) withSeg
      else withSeg.join(scan(spark, path, snap, Deletes)
          .select(col("doc_id"), col("seg").as("_seg")),
        Seq("doc_id", "_seg"), "left_anti")
    if (tagged) rows else rows.drop("_seg")
  }

  /** The one segment-id rule: `/`, spaces or other separators would
    * nest or malform segment paths and manifest entries, and the
    * reserved names would collide with segments and markers the
    * protocol mints. */
  def checkId(id: String): Unit =
    require(id.nonEmpty && id != "base" &&
        !Reserved.exists(id.startsWith) &&
        id.forall(c =>
          c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batch id must be a filesystem-safe token [A-Za-z0-9._-] != " +
        "'base' and outside the reserved " +
        Reserved.map(p => s"'$p*'").mkString(", ") +
        s" prefixes (got '$id')")

  /** Commit the v0 snapshot of a freshly written root. */
  def create(spark: SparkSession, path: String,
      tables: Map[String, Seq[String]],
      applied: Seq[String] = Seq.empty): Unit =
    IndexManifest.commitMerge(fs(spark, path), path)(_ =>
      IndexSnapshot(0L, tables, applied))

  /** Commit `merge(newest)` through the CAS loop (`snap` stands in when
    * the root has no readable manifest). `merge` may run more than
    * once and must be pure. */
  def commit(spark: SparkSession, path: String, snap: IndexSnapshot)(
      merge: IndexSnapshot => IndexSnapshot): IndexSnapshot =
    IndexManifest.commitMerge(fs(spark, path), path)(cur =>
      merge(cur.getOrElse(snap)))

  /** A commit-time precondition, checked against the CAS winner
    * `(snapshot the writer read, snapshot it commits over)`. */
  type Guard = (IndexSnapshot, IndexSnapshot) => Unit

  /** `tables` must list exactly the segments they listed at the
    * writer's snapshot (a centroid generation, a tombstone set). */
  def unchanged(tables: String*)(why: String): Guard = (snap, cur) =>
    require(tables.forall(t => cur.segs(t) == snap.segs(t)), why)

  /** Every segment `tables` listed at the writer's snapshot must still
    * be listed — segments added since compose; a fold that dropped one
    * the writer read does not. */
  def kept(tables: String*)(why: String): Guard = (snap, cur) =>
    require(tables.forall(t =>
      snap.segs(t).toSet.subsetOf(cur.segs(t).toSet)), why)

  /** Idempotent append of segment `seg` to `tables`, keyed on `id` in
    * `applied`. A no-op when `snap` already records `id`; otherwise
    * `write` lands the segment (invisible until the commit; a crashed
    * attempt's orphan is overwritten by the retry) and the commit
    * re-checks `applied`, so a concurrent duplicate cannot land twice. */
  def append(spark: SparkSession, path: String, snap: IndexSnapshot,
      id: String, seg: String, tables: Seq[String],
      guards: Seq[Guard] = Nil)(write: => Unit): Unit = {
    checkId(id)
    once(spark, path, snap, id, seg, tables, guards)(write)
  }

  /** [[append]] keyed on the `delete_<id>` marker — the namespace
    * appends cannot use, so an append and a delete may share an id. */
  def delete(spark: SparkSession, path: String, snap: IndexSnapshot,
      id: String, seg: String, tables: Seq[String],
      guards: Seq[Guard] = Nil)(write: => Unit): Unit = {
    checkId(id)
    once(spark, path, snap, s"delete_$id", seg, tables, guards)(write)
  }

  private def once(spark: SparkSession, path: String,
      snap: IndexSnapshot, marker: String, seg: String,
      tables: Seq[String], guards: Seq[Guard])(write: => Unit): Unit = {
    if (snap.applied.contains(marker)) return
    write
    commit(spark, path, snap) { c =>
      if (c.applied.contains(marker)) c // concurrent duplicate: no-op
      else {
        guards.foreach(_(snap, c))
        // ++ over c.tables: the merge carries tables it doesn't touch
        c.copy(
          tables = c.tables ++ tables.map(t =>
            t -> (c.segs(t).filterNot(_ == seg) :+ seg)),
          applied = c.applied :+ marker)
      }
    }
  }

  /** Fold `snap`'s segments of `tables` into one new
    * `compact_v<v+1>_<uuid8>` segment per table: `write(seg)` lands
    * the folded data (the UUID keeps a losing fold from overwriting a
    * winner's referenced directory), then the commit replaces exactly
    * the folded segments with it — segments committed after `snap`
    * survive, and `applied` is carried so late replays of folded
    * batches still no-op. Aborts when a racing fold already dropped
    * some folded segment (both copies would double-count), when
    * `tombstones` changed (a delete scoped its tombstones to segments
    * this fold drops), or when a family `guard` fails; the tombstone
    * table empties with the commit, the fold having applied it. `op`
    * names the call to rerun. */
  def fold(spark: SparkSession, path: String, snap: IndexSnapshot,
      tables: Seq[String], op: String, tombstones: Option[String] = None,
      guards: Seq[Guard] = Nil)(write: String => Unit): Unit = {
    val seg = s"compact_v${snap.version + 1}_" +
      java.util.UUID.randomUUID().toString.take(8)
    write(seg)
    val checks = guards ++
      Seq(kept(tables: _*)(
        "a concurrent compaction already folded segments this " +
          "compaction read — committing both copies would double-" +
          s"count; rerun $op against the new snapshot")) ++
      tombstones.map(t => unchanged(t)(
        "a concurrent delete committed during compaction — its " +
          "tombstones are scoped to segments this fold dropped; rerun " +
          s"$op against the new snapshot"))
    commit(spark, path, snap) { c =>
      checks.foreach(_(snap, c))
      c.copy(tables = c.tables ++ tables.map(t =>
          t -> (seg +: c.segs(t).filterNot(snap.segs(t).toSet))) ++
        tombstones.map(_ -> Seq.empty[String]))
    }
  }

  /** [[IndexManifest.vacuum]] over `tables`, each stored under
    * `<root>/<table>`. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int,
      tables: Seq[String],
      segDirName: (String, String) => String = (_, seg) => seg,
      pinnedVersions: Set[Long] = Set.empty): Unit =
    IndexManifest.vacuum(fs(spark, path), path, keepVersions,
      tables.map(t => t -> s"$path/$t").toMap, segDirName,
      pinnedVersions)

  /** [[IndexManifest.cloneSnapshot]] of `snap` from `path` to
    * `dstPath`, `tables` stored under `<root>/<table>` on both sides. */
  def cloneTo(spark: SparkSession, path: String, snap: IndexSnapshot,
      dstPath: String, tables: Seq[String],
      segDirName: (String, String) => String = (_, seg) => seg): Unit =
    IndexManifest.cloneSnapshot(fs(spark, path), snap, dstPath,
      tables.map(t => t -> (s"$path/$t", s"$dstPath/$t")).toMap,
      segDirName)
}
