package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

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
    spark.read.parquet(segs.map(s => s"$path/$table/$s"): _*)
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
