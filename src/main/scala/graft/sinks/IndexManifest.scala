package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** One consistent snapshot of a persisted index: which segment
  * directories compose each table, and which append batches have been
  * applied. `tables` maps a table name (e.g. "postings", "corpus") to
  * the ordered segment-directory names the snapshot reads; `applied`
  * is the idempotency record — an append whose batchId is listed is a
  * no-op on retry, even after a compaction folded its segment away. */
case class IndexSnapshot(version: Long,
    tables: Map[String, Seq[String]], applied: Seq[String]) {
  def segs(table: String): Seq[String] =
    tables.getOrElse(table, Seq.empty)
}

/** Versioned manifest commit protocol for every persisted index,
  * ledger and sketch — families reach it only through [[Segments]],
  * which owns the family-facing rules (snapshot resolve, table scan,
  * segment ids, idempotent and fold commits). The serve-while-ingest
  * fix for the directory-listing race: readers resolve ONE manifest
  * file (`manifest_v<N>.json`, newest parseable wins) into a frozen
  * segment list, so an append or compaction that lands mid-query can
  * never mix two snapshots into one read. Writers commit by
  * CREATE-IF-ABSENT of the next version file — an optimistic CAS: two
  * concurrent committers race for `v+1`, the loser re-reads, re-merges
  * its change against the winner's snapshot, and retries
  * ([[commitMerge]]). That merge step is what lets a compaction and an
  * append overlap safely: the compaction's commit carries any segment
  * the append added after the compaction began, instead of silently
  * dropping it (the pre-manifest protocol's one unguarded window).
  *
  * Data-side contract that makes this sound: segment directories are
  * IMMUTABLE once referenced by a manifest — maintenance writes NEW
  * segments and commits a manifest that stops referencing old ones;
  * nothing rewrites a live directory in place. Old segments and
  * manifests stay on disk for in-flight readers until [[vacuum]]
  * reclaims everything unreferenced by the newest `keepVersions`
  * manifests (the Iceberg/Delta-style retention rule: a reader older
  * than the retention window can lose files under it).
  *
  * Atomicity caveat (same class as [[TableSwap]]'s rename note):
  * create-if-absent is atomic on HDFS; on local/object-store
  * filesystems the exists-check races by a hair. A torn manifest WRITE
  * is harmless either way — readers skip unparseable manifests and
  * fall back one version. */
private[graft] object IndexManifest {

  private val Prefix = "manifest_v"

  /** Marker file that FREEZES an index root: while present,
    * [[commitMerge]] — the choke point every mutation (append, delete,
    * compact, retrain, pin) commits through — refuses with a clear
    * error, so a serve-only index (a shared read-only fixture, an
    * archived snapshot, a promoted prod copy) cannot be mutated by a
    * code path that mistakes it for a live one. Reads are unaffected.
    * Drop the file to thaw. */
  val ReadOnlyMarker = "_READONLY"

  /** Freeze `root`: all future commits fail until the marker is
    * removed. Idempotent. */
  def markReadOnly(fs: FileSystem, root: String): Unit = {
    val p = new Path(root, ReadOnlyMarker)
    if (!fs.exists(p)) fs.create(p, false).close()
  }

  private def mapper = new ObjectMapper()

  private def path(root: String, version: Long): Path =
    new Path(root, f"$Prefix$version%012d.json")

  private def render(s: IndexSnapshot): Array[Byte] = {
    val m = mapper
    val node = m.createObjectNode()
    node.put("version", s.version)
    val tables = node.putObject("tables")
    s.tables.toSeq.sortBy(_._1).foreach { case (t, segs) =>
      val arr = tables.putArray(t)
      segs.foreach(arr.add)
    }
    val applied = node.putArray("applied")
    s.applied.foreach(applied.add)
    m.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)
  }

  private def parse(bytes: Array[Byte]): IndexSnapshot = {
    import scala.jdk.CollectionConverters._
    val node = mapper.readTree(bytes)
    val tables = node.get("tables").properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
    val applied = node.get("applied").elements().asScala
      .map(_.asText()).toSeq
    IndexSnapshot(node.get("version").asLong(), tables, applied)
  }

  /** Manifest versions present under `root`, ascending. */
  private def versions(fs: FileSystem, root: String): Seq[Long] = {
    val r = new Path(root)
    if (!fs.exists(r)) return Seq.empty
    fs.listStatus(r).map(_.getPath.getName)
      .filter(n => n.startsWith(Prefix) && n.endsWith(".json"))
      .flatMap(n =>
        n.stripPrefix(Prefix).stripSuffix(".json").toLongOption)
      .sorted.toSeq
  }

  private def readVersion(fs: FileSystem, root: String, v: Long)
      : Option[IndexSnapshot] =
    try {
      val in = fs.open(path(root, v))
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        Some(parse(out.toByteArray))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The newest PARSEABLE snapshot (a torn concurrent write is skipped,
    * falling back one version), or None for a directory with no
    * manifest — not-an-index, or a pre-manifest layout. */
  def latest(fs: FileSystem, root: String): Option[IndexSnapshot] =
    versions(fs, root).reverse.iterator
      .flatMap(readVersion(fs, root, _)).nextOption()

  /** A SPECIFIC snapshot version — time travel: any version still
    * inside the vacuum retention window is fully servable, because
    * segments referenced by a retained manifest are never deleted.
    * None if the version was vacuumed or never existed. */
  def at(fs: FileSystem, root: String, version: Long)
      : Option[IndexSnapshot] = readVersion(fs, root, version)

  /** Whether the manifest FILE for `version` is present — lets a
    * deleter distinguish "vacuumed/never committed" (skip) from
    * "exists but unreadable right now" (MUST abort: [[at]] returning
    * None may be a transient read failure, not a torn commit). */
  private[sinks] def versionFileExists(fs: FileSystem, root: String,
      version: Long): Boolean = fs.exists(path(root, version))

  /** The newest manifest version FILE present, parseable or not — the
    * upper bound a DELETER must scan to ([[commitMerge]]'s slot rule):
    * bounding by [[latest]] (newest PARSEABLE) would silently exclude
    * an unreadable newest manifest from the scan, and anything only it
    * references from the keep-set. */
  private[sinks] def newestVersionFile(fs: FileSystem, root: String)
      : Option[Long] = versions(fs, root).lastOption

  /** Commit `merge(latest)` as the next manifest version via the CAS
    * loop: on a version collision the merge re-runs against the
    * winner's snapshot, so concurrent committers compose instead of
    * overwrite. Returns the committed snapshot. `merge` must be pure
    * (it can run more than once) and must return the snapshot CONTENT
    * (its `version` field is overwritten with the slot won).
    *
    * The slot claimed is one past the newest version FILE, parseable
    * or not — a writer that crashed mid-write leaves a torn file
    * occupying its slot forever, and computing the slot from the
    * newest PARSEABLE version would collide with that corpse on every
    * attempt, bricking the index for writers (readers are fine — they
    * fall back past torn versions). Skipping the slot leaves version
    * numbers sparse, which every consumer (latest, at, vacuum's
    * newest-K window) already tolerates. */
  def commitMerge(fs: FileSystem, root: String)(
      merge: Option[IndexSnapshot] => IndexSnapshot): IndexSnapshot = {
    if (fs.exists(new Path(root, ReadOnlyMarker)))
      throw new IllegalStateException(
        s"$root is frozen ($ReadOnlyMarker present): this index is " +
          "serve-only — mutate a clone (cloneSnapshot) or remove the " +
          "marker if the freeze is no longer intended")
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50,
        s"manifest CAS did not converge after 50 attempts: $root")
      // slot claimed BEFORE the merge runs: a commit landing while the
      // merge computes collides on create and re-runs the loop against
      // the winner, exactly like a commit landing before the read
      val slot = versions(fs, root).lastOption.getOrElse(0L) + 1
      val cur = latest(fs, root)
      val next = merge(cur).copy(version = slot)
      try {
        val out = fs.create(path(root, next.version), false)
        try out.write(render(next)) finally out.close()
        return next
      } catch {
        case _: FileAlreadyExistsException => () // lost the slot; retry
        case _: org.apache.hadoop.fs.PathExistsException => ()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Deep-copy ONE snapshot of an index to `dstRoot` — backup/restore,
    * environment promotion, or branching a serving index for an
    * experiment. Copies exactly the segment directories the snapshot
    * references (orphans, superseded segments, and other versions stay
    * behind) and commits a fresh manifest v0 carrying the snapshot's
    * tables AND its `applied` record, so idempotent-append retries
    * behave identically against the clone. The clone is a fully
    * independent index: maintenance on either side never touches the
    * other. `tableRoots` maps table -> (srcDir, dstDir); `segDirName`
    * as in [[vacuum]]. Fails if `dstRoot` already exists (no silent
    * overwrite of an index). */
  def cloneSnapshot(fs: FileSystem, snap: IndexSnapshot,
      dstRoot: String, tableRoots: Map[String, (String, String)],
      segDirName: (String, String) => String = (_, seg) => seg)
      : Unit = {
    val dst = new Path(dstRoot)
    // the destination may live on a DIFFERENT filesystem (backup to
    // object storage, promotion across stores) — resolve its own FS
    // instead of assuming the source's
    val dstFs = dst.getFileSystem(fs.getConf)
    require(!dstFs.exists(dst),
      s"clone destination $dstRoot already exists — refusing to " +
        "overwrite an index; delete it first or pick a fresh path")
    dstFs.mkdirs(dst)
    val conf = fs.getConf
    snap.tables.foreach { case (t, segs) =>
      val (srcDir, dstDir) = tableRoots.getOrElse(t,
        throw new IllegalArgumentException(
          s"snapshot references table '$t' with no configured root"))
      segs.foreach { seg =>
        val d = segDirName(t, seg)
        require(org.apache.hadoop.fs.FileUtil.copy(
          fs, new Path(srcDir, d), dstFs, new Path(dstDir, d),
          false, conf), s"copy failed for $srcDir/$d")
      }
    }
    commitMerge(dstFs, dstRoot)(_ =>
      snap.copy(version = 0L))
  }

  /** Reclaim everything unreferenced by the newest `keepVersions`
    * manifests: older manifest files, and any segment directory of the
    * given tables that no kept manifest lists. `tableRoots` maps each
    * table name to the directory its segments live under;
    * `segDirName(table, seg)` maps a segment name to its directory
    * name (the IVF corpus stores segments as `batch=<seg>` partition
    * directories while its centroids use plain names). Retention
    * contract: readers older than the kept window may lose files
    * mid-read; size `keepVersions` to the longest-running query. */
  def vacuum(fs: FileSystem, root: String, keepVersions: Int,
      tableRoots: Map[String, String],
      segDirName: (String, String) => String = (_, seg) => seg,
      pinnedVersions: Set[Long] = Set.empty): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1")
    val vs = versions(fs, root)
    if (vs.isEmpty) return
    // pinnedVersions (e.g. [[PipelinePin.liveLegVersions]]) extend the
    // keep window: a version a live pipeline pin still names must stay
    // servable until the pin itself is vacuumed, however old it is
    val keep = (vs.takeRight(keepVersions) ++
      vs.filter(pinnedVersions.contains)).toSet
    // A kept manifest that fails to read/parse must ABORT the vacuum,
    // not be treated as referencing nothing: a torn in-flight commit or
    // a transient FS error would otherwise make the segments referenced
    // only by that snapshot look unreferenced — and vacuum would delete
    // the data behind a live (possibly current) version. Only READERS
    // may tolerate torn manifests (fall back one version); a deleter
    // must fail hard and be retried once the window is clean.
    val kept = vs.filter(keep.contains).map { v =>
      readVersion(fs, root, v).getOrElse(throw new IllegalStateException(
        s"vacuum aborted: kept manifest v$v under $root is unreadable " +
          "(torn in-flight commit or transient FS error); deleting " +
          "against a partial kept window could reclaim live segments — " +
          "retry vacuum once the manifest is readable"))
    }
    val live: Map[String, Set[String]] = tableRoots.map { case (t, _) =>
      t -> kept.flatMap(_.segs(t)).map(segDirName(t, _)).toSet
    }
    // drop unreferenced segment dirs, then superseded manifests
    tableRoots.foreach { case (t, dir) =>
      val d = new Path(dir)
      if (fs.exists(d)) fs.listStatus(d).map(_.getPath)
        .filter(p => fs.getFileStatus(p).isDirectory &&
          !live(t).contains(p.getName))
        .foreach(p => fs.delete(p, true))
    }
    vs.filterNot(keep.contains).foreach(v => fs.delete(path(root, v),
      false))
  }
}
