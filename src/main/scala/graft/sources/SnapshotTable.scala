package graft.sources

import com.fasterxml.jackson.annotation.JsonInclude
import graft.util.Json
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Manifest-log table format: snapshot isolation + time travel on
  * immutable parquet, the layout of [[graft.domain.GaugeStore]]'s fact
  * tables. It needs no atomic DIRECTORY rename, only "create fails if
  * the target exists" on one small FILE — the guarantee S3-style
  * stores and every HDFS/POSIX filesystem give.
  *
  * Layout under `root`:
  *   data/<commit-uuid>-partNNNNN.parquet   — immutable data files
  *   _log/00000001.json, 00000002.json, …   — one manifest per commit
  *
  * A manifest lists the files the commit ADDs and the files it
  * REMOVEs (logically — removed files stay on disk so older snapshots
  * keep reading them; [[vacuum]] reclaims files no LIVE snapshot
  * references). The table state at version v is replay(1..v):
  * adds minus removes. Readers resolve a snapshot to a concrete file
  * list and never race writers; writers race each other only on the
  * next log filename — optimistic concurrency, loser recomputes and
  * retries. The commit POINT is the atomic publish of one FULLY-
  * WRITTEN staged manifest into its log slot (hard link on POSIX —
  * link(2) fails EEXIST atomically; no-overwrite rename on HDFS; see
  * `publish`): before it the commit is invisible staging garbage,
  * after it the commit is fully visible. No reader ever sees a
  * half-commit, and a race loser can never clobber the winner's
  * manifest.
  *
  * Scale shape: the log is O(#commits) small JSON files, but NO read
  * cost grows with that —
  *  - replay is O(checkpointInterval): every interval commits the
  *    committer writes `_log/NNNNNNNN.checkpoint.json` holding the
  *    fully replayed state (live files + live-file stats + tags) at
  *    that version, and every state read replays
  *    newest-checkpoint-≤-v plus the ≤ interval-sized manifest tail
  *    (the Delta checkpoint-parquet / Iceberg snapshot-manifest idea);
  *  - log LISTING is gone from the hot path: `_log/_last_checkpoint`
  *    (one tiny file at a known name, the Delta `_last_checkpoint`
  *    idea) records the newest checkpoint version, so resolving the
  *    head is one GET plus ≤ interval existence probes instead of
  *    listing O(#commits-ever) names — the op that costs hundreds of
  *    paginated LIST calls per cold planning on an object store after
  *    a year of per-micro-batch streaming commits;
  *  - the log itself is reclaimed by [[vacuumLog]] (and [[vacuum]]),
  *    which deletes manifests already subsumed by a retained
  *    checkpoint — time travel keeps working within retention.
  * Data-file IO is untouched Spark parquet (pushdown, pruning,
  * vectorized read all apply: the snapshot only decides WHICH files
  * the scan gets).
  */
final class SnapshotTable(private[sources] val spark: SparkSession,
    val root: String, val checkpointInterval: Int = 20) {

  private[sources] def fs: FileSystem =
    FileSystem.get(new Path(root).toUri, spark.sparkContext.hadoopConfiguration)

  /** see the test-seam comment in `commit` */
  private[sources] var raceInjector: () => Unit = () => ()

  /** Diagnostic counter: manifest + checkpoint files this instance has
    * opened — the spec's O(tail) replay assertions read it. */
  private[graft] var metaReads: Long = 0L

  /** Diagnostic counter: full `_log` directory LISTINGS this instance
    * has performed. Listings are the metadata op that grows with
    * commit count (O(#commits-ever) names — hundreds of paginated LIST
    * calls on an object store after a year of streaming commits), so
    * the hot read path must do ZERO of them once a checkpoint exists:
    * it reads the O(1) `_last_checkpoint` pointer instead and only
    * falls back to listing when the pointer is absent/corrupt or the
    * read time-travels below the newest checkpoint. */
  private[graft] var logLists: Long = 0L

  private def logDir = new Path(s"$root/_log")
  private def dataDir = new Path(s"$root/data")

  private def versionOf(name: String): Option[Int] =
    if (name.matches("\\d{8}\\.json")) Some(name.take(8).toInt) else None

  private def manifestPath(v: Int) = new Path(logDir, f"$v%08d.json")

  private def listLog(): Array[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(logDir)) Array.empty
    else { logLists += 1; fs.listStatus(logDir) }

  // ---- _last_checkpoint pointer: O(1) cold-read planning -------------
  //
  // The log is one file per commit, so any operation that LISTS it pays
  // O(#commits-ever) — under the streaming sink (~one commit per
  // micro-batch) that's ~500k names after a year, listed on EVERY cold
  // planning. The fix is the Delta `_last_checkpoint` idea: a tiny
  // pointer file at a KNOWN name records the newest checkpoint version
  // (the retention record lives in `_retention_floor`, its own file —
  // see below), so a cold read does one GET of the
  // pointer, one GET of that checkpoint, and ≤ checkpointInterval
  // manifest GETs found by sequential existence probes — no listing at
  // all. The pointer is purely an accelerator: it is parsed
  // defensively and ANY absence/staleness/corruption falls back to the
  // listing path, so a torn overwrite can never corrupt reads.

  private def pointerPath = new Path(logDir, "_last_checkpoint")

  /** (newest checkpoint version, log-retention floor) from the pointer
    * file; None on absence or any parse/IO problem (callers fall back
    * to listing). The floor is the newest checkpoint whose OLDER log
    * entries [[vacuumLog]] has deleted — versions below it are no
    * longer replayable and fail with a clear retention error. */
  private def readPointer(): Option[(Int, Int)] = try {
    if (!fs.exists(pointerPath)) None
    else {
      val p = Json.read(fs, pointerPath, classOf[SnapshotTable.Pointer])
      Some((p.version, p.floor))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Overwrite the pointer. Monotonic in `version` (a lagging writer's
    * late checkpoint never regresses it) and best-effort: on `file://`
    * the swap is an atomic rename; elsewhere a brief delete+rename
    * absence window only costs readers the listing fallback.
    *
    * The pointer no longer CARRIES the retention floor — that lives in
    * `_retention_floor`, a file only the vacuum paths write (see
    * [[writeFloor]]) — but a legacy `floor` field already present is
    * preserved so pre-migration tables keep their recorded floor. */
  private def writePointer(version: Int): Unit = try {
    val cur = readPointer()
    val v = math.max(version, cur.map(_._1).getOrElse(0))
    val f = cur.map(_._2).getOrElse(0)
    if (!cur.contains((v, f))) {
      val tmp = new Path(s"$root/_staging/ptr-${java.util.UUID.randomUUID()}.json")
      Json.write(fs, tmp, SnapshotTable.Pointer(v, f))
      if (fs.getUri.getScheme == "file") {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(pointerPath).toUri.getPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else {
        fs.delete(pointerPath, false)
        if (!fs.rename(tmp, pointerPath)) fs.delete(tmp, false)
      }
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  // ---- _retention_floor: the log-retention record --------------------
  //
  // Two integers, both monotonic:
  //  - `floor`: the REPLAY floor — the checkpoint below which
  //    [[vacuumLog]] has deleted manifests. Replay of any v >= floor
  //    is unaffected (checkpoint(floor) + surviving tail).
  //  - `boundary`: the USER-FACING retention boundary (>= floor) —
  //    [[vacuum]] records its `retainFrom` here, so any read below it
  //    fails with the clean retention error even where manifests
  //    happen to survive but the data files may not (a remove-bearing
  //    history vacuumed at rf leaves [floor, rf) resolvable in
  //    metadata while referencing reaped files — erroring uniformly at
  //    the boundary beats a FileNotFound mid-scan).
  // The record lives in its OWN file that no checkpoint path ever
  // writes: the previous design rode the floor on `_last_checkpoint`,
  // where a concurrent `maybeCheckpoint`'s read-modify-write could
  // interleave with a vacuum's and silently regress the floor to 0.
  // Writers here are vacuum/maintenance only; a lost update between
  // two concurrent vacuums is monotonic-idempotent (the next pass
  // re-records), and reads additionally fall back to the floor DERIVED
  // from the surviving log itself (see [[derivedReplayFloor]]).

  private def floorPath = new Path(logDir, "_retention_floor")

  /** (replay floor, boundary) from `_retention_floor`; None on
    * absence or any parse/IO problem. */
  private def readFloorFile(): Option[(Int, Int)] = try {
    if (!fs.exists(floorPath)) None
    else {
      val r = Json.read(fs, floorPath, classOf[SnapshotTable.RetentionRecord])
      Some((r.floor, math.max(r.boundary, r.floor)))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Record retention state, monotonic max on both fields (a legacy
    * pointer-carried floor is folded in on first write). Returns
    * whether the requested values LANDED — confirmed by read-back —
    * so [[vacuumLogBelow]] can refuse to delete manifests whose only
    * retention record failed to persist. */
  /** Test seam: route the floor replacement through the FileContext
    * branch even on `file:` (the spec drives the non-posix code path
    * without an HDFS cluster). */
  private[sources] var floorForceFileContext: Boolean = false

  private[sources] def writeFloor(floor: Int, boundary: Int): Boolean = try {
    val (curF, curB) = readFloorFile().getOrElse((0, 0))
    val legacy = readPointer().map(_._2).getOrElse(0)
    val f = math.max(math.max(floor, curF), legacy)
    val b = math.max(math.max(boundary, curB), f)
    if ((f, b) != (curF, curB)) {
      val tmp = new Path(s"$root/_staging/floor-${java.util.UUID.randomUUID()}.json")
      Json.write(fs, tmp, SnapshotTable.RetentionRecord(f, b))
      if (fs.getUri.getScheme == "file" && !floorForceFileContext) {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(floorPath).toUri.getPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else try {
        // write-new-then-rename-over, the manifest commit's own shape:
        // FileContext.rename(OVERWRITE) is the atomic replace HDFS
        // exposes — no instant in which the floor file is absent, the
        // window the old delete-then-rename had
        org.apache.hadoop.fs.FileContext.getFileContext(
          fs.makeQualified(floorPath).toUri,
          spark.sparkContext.hadoopConfiguration)
          .rename(tmp, floorPath,
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        // a store with no AbstractFileSystem binding: last-resort
        // delete+rename — its brief absence window is bounded by
        // design (readers fall back to the legacy pointer or the
        // derived floor, and vacuumLogBelow read-back-confirms
        // before deleting anything)
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fs.delete(floorPath, false)
          if (!fs.rename(tmp, floorPath)) fs.delete(tmp, false)
      }
    }
    readFloorFile().exists { case (gf, gb) => gf >= floor && gb >= boundary }
  } catch { case scala.util.control.NonFatal(_) => false }

  /** Replay floor derived from the SURVIVING log itself (one listing):
    * 0 when the full history is present, else the smallest surviving
    * checkpoint ([[vacuumLogBelow]] only ever deletes below one, so
    * that checkpoint plus the tail above it is exactly what replays).
    * The fallback when the recorded floor state is lost or clobbered —
    * maintenance/diagnostic path only, never the hot read. */
  private def derivedReplayFloor(): Int = {
    val entries = listLog()
    val manifests = entries.flatMap(s => versionOf(s.getPath.getName))
    val ckpts = entries.flatMap(s => s.getPath.getName match {
      case CkptName(n) => Some(n.toInt)
      case _ => None
    })
    if (ckpts.isEmpty || manifests.exists(_ <= 1)) 0 else ckpts.min
  }

  /** Lowest version still readable (0 = full history retained): the
    * user-facing boundary recorded by [[vacuum]]/[[vacuumLog]] (legacy
    * pointer-carried floors honored). Reads below it fail with a clean
    * retention error. */
  def retentionFloor: Int = {
    val legacy = readPointer().map(_._2).getOrElse(0)
    math.max(readFloorFile().map(_._2).getOrElse(0), legacy)
  }

  /** The REPLAY floor (<= [[retentionFloor]]): manifests strictly below
    * it are gone; [[vacuumLogBelow]]'s idempotence guard reads it. */
  private def replayFloorV: Int = {
    val legacy = readPointer().map(_._2).getOrElse(0)
    math.max(readFloorFile().map(_._1).getOrElse(0), legacy)
  }

  /** Newest committed version; 0 = empty table. Pointer fast path:
    * manifests are gap-free above any checkpoint (commits claim
    * sequential slots; [[vacuumLog]] only deletes BELOW one), so the
    * head is found by probing forward from the pointer's checkpoint —
    * ≤ checkpointInterval existence checks, zero listings. */
  def currentVersion: Int = readPointer() match {
    case Some((c, _)) if c > 0 && fs.exists(checkpointPath(c)) =>
      var v = c
      while (fs.exists(manifestPath(v + 1))) v += 1
      v
    case _ =>
      listLog().flatMap(s => versionOf(s.getPath.getName)).foldLeft(0)(math.max)
  }

  private def readManifest(v: Int): SnapshotTable.Manifest = {
    metaReads += 1
    Json.read(fs, manifestPath(v), classOf[SnapshotTable.Manifest])
  }

  // ---- checkpointing: replay = newest checkpoint + manifest tail ----

  private def checkpointPath(v: Int) = new Path(logDir, f"$v%08d.checkpoint.json")

  private val CkptName = "(\\d{8})\\.checkpoint\\.json".r

  /** Newest checkpoint version ≤ `v`; 0 = replay from the beginning.
    * Pointer fast path (the hot read resolves the HEAD, which is ≥ the
    * newest checkpoint, so this is zero listings in steady state);
    * time travel below the newest checkpoint falls back to one
    * listing to find an older retained checkpoint. */
  private def checkpointAtOrBelow(v: Int): Int = readPointer() match {
    case Some((c, _)) if c > 0 && c <= v && fs.exists(checkpointPath(c)) => c
    case _ =>
      listLog().flatMap(s => s.getPath.getName match {
        case CkptName(n) => Some(n.toInt)
        case _ => None
      }).filter(_ <= v).foldLeft(0)(math.max)
  }

  /** The fully replayed [[SnapshotTable.TableState]] recorded at
    * checkpoint `v` (live-file-filtered stats/bounds/bloom markers). */
  private def readCheckpoint(v: Int): SnapshotTable.TableState = {
    metaReads += 1
    Json.read(fs, checkpointPath(v), classOf[SnapshotTable.Checkpoint]).state
  }

  /** Fully replayed table state at version `v`: live files in add
    * order, their recorded stats, and every tag committed ≤ v. Seeds
    * from the newest checkpoint ≤ v, then replays the manifest tail —
    * O(checkpointInterval) metadata reads however long the log is.
    * Replay is in version order — required since [[restore]] may
    * RE-ADD a file some earlier manifest removed (add/remove/add
    * resolves by last action wins). */
  private[sources] def replayStateFull(v: Int): SnapshotTable.TableState = {
    val floor = retentionFloor
    if (v > 0 && v < floor)
      throw new IllegalArgumentException(
        s"snapshot $v of $root was vacuumed below the log-retention " +
          s"floor $floor (vacuumLog deleted its manifests); time travel " +
          s"only works at versions >= $floor")
    try {
      val state = replayStateFullUnchecked(v)
      // protocol reader gate — refuse BEFORE any caller interprets the
      // state. The check is per-version: a snapshot below a protocol
      // upgrade replays the props AS OF that snapshot, so time travel
      // into pre-upgrade history keeps working for old libraries.
      val needR = SnapshotTable.protoOf(state.props,
        SnapshotTable.MinReaderProp)
      if (needR > SnapshotTable.ReaderVersion)
        throw new SnapshotTable.ProtocolViolation(
          s"snapshot $v of $root requires reader protocol version " +
            s"$needR but this library supports " +
            s"${SnapshotTable.ReaderVersion} — upgrade the graft " +
            "library (or read a version committed before the " +
            "protocol upgrade)")
      state
    } catch {
      case e: java.io.FileNotFoundException =>
        // the recorded floor was lost/clobbered and v is really below
        // the true floor: re-derive it from the surviving log, re-record
        // it (self-heal, best-effort), and degrade to the CLEAN
        // retention error instead of a FileNotFound mid-replay. A miss
        // at or above the derived floor is genuine corruption — rethrow.
        val derived = derivedReplayFloor()
        if (v > 0 && v < derived) {
          writeFloor(derived, derived)
          throw new IllegalArgumentException(
            s"snapshot $v of $root was vacuumed below the log-retention " +
              s"floor $derived (vacuumLog deleted its manifests; the " +
              s"recorded floor was missing and has been re-derived); " +
              s"time travel only works at versions >= $derived")
        } else throw e
    }
  }

  private def replayStateFullUnchecked(v: Int): SnapshotTable.TableState = {
    val live = scala.collection.mutable.LinkedHashSet[String]()
    val stats = scala.collection.mutable.Map[(String, String), (Long, Long)]()
    val sstats = scala.collection.mutable
      .Map[(String, String), (Array[Byte], Option[Array[Byte]])]()
    val blooms = scala.collection.mutable.Set[(String, String)]()
    val tags = scala.collection.mutable.Set[String]()
    val props = scala.collection.mutable.Map[String, String]()
    val sizes = scala.collection.mutable.Map[String, Long]()
    val rowCounts = scala.collection.mutable.Map[String, Long]()
    val nulls = scala.collection.mutable.Map[(String, String), Long]()
    val dvs = scala.collection.mutable.Map[String, (String, Long)]()
    var schema: Option[String] = None
    val c = checkpointAtOrBelow(v)
    if (c > 0) {
      val ck = readCheckpoint(c)
      live ++= ck.live
      stats ++= ck.stats
      sstats ++= ck.sstats
      blooms ++= ck.blooms
      tags ++= ck.tags
      props ++= ck.props
      sizes ++= ck.sizes
      rowCounts ++= ck.rows
      nulls ++= ck.nulls
      dvs ++= ck.dvs
      schema = ck.schema
    }
    (c + 1 to v).foreach { i =>
      val m = readManifest(i)
      live ++= m.add
      // a REMOVED file's deletion vector dies with it (a compaction
      // rewrite materialized the deletes; a restore re-records the
      // target's DV state explicitly)
      m.remove.foreach(dvs -= _)
      live --= m.remove
      m.fileStats.foreach(s => stats((s.file, s.col)) = (s.lo, s.hi))
      m.strStats.foreach(s => sstats((s.file, s.col)) = (s.lo, s.hi))
      blooms ++= m.bloomPairs
      m.propChanges.foreach {
        case (k, Some(vv)) => props(k) = vv
        case (k, None) => props -= k
      }
      m.fileSizes.foreach(kv => sizes(kv._1) = kv._2)
      m.rowCounts.foreach(kv => rowCounts(kv._1) = kv._2)
      m.nullCounts.foreach(e => nulls((e._1, e._2)) = e._3)
      m.dvEntries.foreach {
        case (f, "*", _) => dvs -= f
        case (f, s, n) => dvs(f) = (s, n)
      }
      m.tag.foreach(tags += _)
      m.schema.foreach(s => schema = Some(s))
    }
    // column mapping: files written BEFORE a rename recorded their
    // stats under the then-logical (= physical) column name; alias
    // those keys to the CURRENT logical name so pruning by the new
    // name keeps working across the rename (a key already present
    // under the logical name — a post-rename file — wins untouched)
    val physToLogical: Map[String, String] = schema
      .filter(_.contains(SnapshotTable.PhysicalNameKey)) // cheap guard
      .map(parseSchema).filter(hasMapping)
      .map(_.fields.collect {
        case f if SnapshotTable.physicalName(f) != f.name =>
          SnapshotTable.physicalName(f).toLowerCase -> f.name
      }.toMap).getOrElse(Map.empty)
    def aliasKeys[V](m: scala.collection.mutable.Map[(String, String), V])
        : Map[(String, String), V] =
      if (physToLogical.isEmpty) m.toMap
      else m.toMap ++ m.collect {
        case ((f, c), v) if physToLogical.contains(c.toLowerCase) &&
            !m.contains((f, physToLogical(c.toLowerCase))) =>
          (f, physToLogical(c.toLowerCase)) -> v
      }
    SnapshotTable.TableState(live.toSeq, aliasKeys(stats), aliasKeys(sstats),
      tags.toSet, schema, blooms.toSet, props.toMap, sizes.toMap,
      dvs.toMap, rowCounts.toMap, aliasKeys(nulls))
  }

  /** The recorded schema of snapshot `version` (newest writer's frame
    * schema at or before it), if any commit recorded one. */
  def schemaAt(version: Option[Int] = None): Option[org.apache.spark.sql.types.StructType] = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    replayStateFull(v).schema.map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Schema-pinned parquet read of a concrete file list: files missing
    * a later-added column null-fill it, and planning never touches
    * footers beyond Spark's split listing — the reason the schema
    * rides the manifest instead of mergeSchema (which reads EVERY
    * footer at planning time). Falls back to footer inference for
    * pre-schema-tracking tables. */
  private[graft] def readFiles(fl: Seq[String],
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    val state = replayStateFull(v)
    applyDv(state, rawReadFiles(state, fl), fl)
  }

  /** [[readFiles]] plus a `__src_file` column carrying each row's
    * source data file — planted ON the scan (see applyDv), because
    * `input_file_name()` above the DV anti-join evaluates outside the
    * file source and returns "". The [[dml]] affected-file scan reads
    * this. */
  private[sources] def readFilesWithSource(fl: Seq[String],
      version: Option[Int]): DataFrame = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    val state = replayStateFull(v)
    applyDv(state, rawReadFiles(state, fl), fl, keepSource = true)
  }

  private def parseSchema(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Whether any field's physical (on-disk) name differs from its
    * logical name — i.e. [[renameColumn]] has run on this schema. */
  private def hasMapping(st: org.apache.spark.sql.types.StructType): Boolean =
    st.fields.exists(f => SnapshotTable.physicalName(f) != f.name)

  /** The parquet-facing shape of a mapped schema: every field under
    * its physical name (what the files store). */
  private def physicalSchema(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      st.fields.map(f => f.copy(name = SnapshotTable.physicalName(f))))

  /** Alias a physical-named scan back to logical names. A plain
    * projection: Spark 4 resolves `_metadata` through it, so the DV
    * anti-join and the rewrite scans above stay intact. */
  private def aliasToLogical(st: org.apache.spark.sql.types.StructType,
      df: DataFrame): DataFrame =
    df.toDF(st.fields.map(_.name): _*)

  /** The schema-pinned scan WITHOUT deletion-vector application — the
    * seam the tombstone step of [[dml]] needs (it must see row indexes
    * of rows a prior DV already tombstones to build the union
    * sidecar). Every other consumer goes through
    * [[readFiles]]/[[planFiles]], which apply DVs. Column-mapped tables scan under PHYSICAL names and
    * alias to logical here, so every consumer sees logical names. */
  private[sources] def rawReadFiles(state: SnapshotTable.TableState,
      fl: Seq[String]): DataFrame = state.schema.map(parseSchema) match {
    case Some(st) if hasMapping(st) =>
      aliasToLogical(st, spark.read.schema(physicalSchema(st)).parquet(fl: _*))
    case Some(st) => spark.read.schema(st).parquet(fl: _*)
    case None => spark.read.parquet(fl: _*)
  }

  /** Write the checkpoint for version `v` when it's an interval
    * multiple. Best-effort AND idempotent: the content is the
    * deterministic replay at v, published atomically like a manifest
    * (a racing writer's duplicate attempt loses the hard-link race and
    * is discarded); an IO failure only delays checkpointing to the
    * next multiple — correctness never depends on one existing. */
  private def maybeCheckpoint(v: Int): Unit =
    if (checkpointInterval > 0 && v % checkpointInterval == 0) try {
      if (!fs.exists(checkpointPath(v))) {
        val tmp = new Path(s"$root/_staging/ckpt-${java.util.UUID.randomUUID()}.json")
        Json.write(fs, tmp, SnapshotTable.Checkpoint.of(replayStateFull(v)))
        if (!publish(tmp, checkpointPath(v))) fs.delete(tmp, false)
      }
      // advance the pointer whether this writer won the publish race or
      // a concurrent one did — either way checkpoint v now exists
      writePointer(v)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Concrete data-file list of snapshot `version` (default: newest). */
  def files(version: Option[Int] = None): Seq[String] = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    replayStateFull(v).live
  }

  /** Plan a pruned file list under the state's RECORDED schema — the
    * one shared tail of every read entry point (full read and all
    * pruned variants): schema-pinned reader, empty-frame-with-schema
    * fallback for a fully pruned or empty snapshot. */
  /** Deletion-vector sidecar frame for `entries` = (dataFilePath,
    * sidecarName): columns `__dv_name` (DATA file name) and `__dv_ridx`
    * (deleted row index). Sidecars load DISTRIBUTED (`binaryFile`
    * source — a delete that tombstoned a billion rows never rides the
    * driver); the data-file name keys the join (the same name-keyed
    * convention bloom sidecars use — staging uuid-names and the
    * import-dir uniqueness guard keep names unique among live files). */
  private def dvFrame(entries: Seq[(String, String)]): DataFrame = {
    val paths = entries.map { case (_, sc) => new Path(indexDir, sc).toString }
    // RDD binaryFiles, NOT the binaryFile SQL source: the DV frame
    // joins against a parquet scan that references `_metadata`, and
    // Spark's PreReadCheck rejects file-source metadata expressions in
    // plans with more than one file source — the RDD read keeps the
    // join single-sourced while the sidecar decode stays distributed
    val rdd = spark.sparkContext.binaryFiles(paths.mkString(","))
      .flatMap { case (p, pds) =>
        val name = new Path(p).getName
        val dataName = name.substring(0, name.lastIndexOf(".dv-"))
        SnapshotTable.decodeDvBytes(pds.toArray()).map(r => (dataName, r))
      }
    val pairEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong)
    spark.createDataset(rdd)(pairEnc).toDF("__dv_name", "__dv_ridx")
  }

  /** Skip every row a deletion vector tombstones: rows of `df` (a scan
    * of exactly `fl`) whose (file name, `_metadata.row_index`) appear
    * in a live DV are anti-joined out. Zero cost when no scanned file
    * has a DV (the common case — the plan is untouched); with DVs the
    * join's right side is the sidecar frame, which AQE broadcasts when
    * small (a point-delete DV is a few hundred bytes). This is the
    * merge-on-read half of DELETE: [[compact]]/rewrites MATERIALIZE
    * the deletes (they read through this same path) and drop the DV. */
  private[sources] def applyDv(state: SnapshotTable.TableState, df: DataFrame,
      fl: Seq[String], keepSource: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    val withDv = fl.filter(state.dvs.contains)
    if (withDv.isEmpty) {
      // `__src_file` must come from the SCAN side: input_file_name()
      // above the anti-join evaluates outside the file source and
      // returns "" — the internal rewrite scans (merge/deleteWhere)
      // read the column this plants instead
      if (keepSource) df.withColumn("__src_file", col("_metadata.file_path"))
      else df
    } else {
      val dv = dvFrame(withDv.map(f => f -> state.dvs(f)._1))
      val cols = df.columns
      val joined = df
        .withColumn("__src_file", col("_metadata.file_path"))
        .withColumn("__src_name",
          element_at(split(col("__src_file"), "/"), -1))
        .withColumn("__src_ridx", col("_metadata.row_index"))
        .join(dv, col("__src_name") === col("__dv_name") &&
          col("__src_ridx") === col("__dv_ridx"), "left_anti")
        .drop("__src_name", "__src_ridx")
      if (keepSource) joined else joined.select(cols.map(col): _*)
    }
  }

  private def planFiles(state: SnapshotTable.TableState, v: Int,
      fl: Seq[String]): DataFrame = {
    if (fl.nonEmpty) applyDv(state, rawReadFiles(state, fl), fl)
    else state.schema.map(parseSchema) match {
      // empty frame in LOGICAL shape (mapping only renames fields)
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => read(Some(v)).limit(0)
    }
  }

  /** Read snapshot `version` (default newest), planned with the
    * RECORDED schema when one exists (see [[readFiles]] — add-a-column
    * appends read correctly over old files, which null-fill). Empty
    * snapshots read as an empty frame of the schema; a root with no
    * data and no schema is refused, naming the statements that make
    * its first commit. */
  def read(version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    val state = replayStateFull(v)
    val fl = state.live
    if (fl.nonEmpty) applyDv(state, rawReadFiles(state, fl), fl)
    else state.schema.map(parseSchema) match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None =>
        val any = files(None)
        require(any.nonEmpty, s"snapshot table $root has no data and no " +
          "recorded schema (no first commit yet), so there is nothing to " +
          "read and no shape to insert into. Create " +
          s"its first version with COPY INTO snapshot.`$root` FROM " +
          "'<path>' FILEFORMAT = CSV|PARQUET|JSON, with CREATE TABLE … " +
          s"USING snapshot OPTIONS (path '$root') [AS SELECT …], or with " +
          "the table API (SnapshotTable.append)")
        spark.read.parquet(any: _*).limit(0)
    }
  }

  /** The per-column stat expression both write paths (staging and
    * [[importFiles]]) aggregate: strings stay raw (bounds truncate
    * driver-side), DATE becomes days-since-epoch via `unix_date`
    * (ANSI disallows a direct date→long cast), everything else
    * long-casts. ONE definition so the paths cannot drift. */
  /** Effective stat/bloom columns for a write: the caller's explicit
    * list, else the table-property default ([[SnapshotTable
    * .StatColsProp]] / [[SnapshotTable.BloomColsProp]]) filtered to
    * the columns the frame actually carries (a defaulted column absent
    * from an old-shape writer's frame records nothing rather than
    * failing analysis — same tolerance as constraint enforcement). */
  private def effCols(props: Map[String, String], given: Seq[String],
      prop: String, frame: DataFrame): Seq[String] =
    if (given.nonEmpty) given
    else props.get(prop)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
      .filter(c => frame.schema.fieldNames.exists(_.equalsIgnoreCase(c)))

  private[sources] def effStatCols(given: Seq[String], frame: DataFrame): Seq[String] =
    effCols(properties(), given, SnapshotTable.StatColsProp, frame)

  private[sources] def effBloomCols(given: Seq[String], frame: DataFrame): Seq[String] =
    effCols(properties(), given, SnapshotTable.BloomColsProp, frame)

  /** Apply the table's PARTITION LAYOUT to a write (see
    * [[SnapshotTable.PartitionColsProp]]): range-cluster the frame on
    * the layout columns so each staged file covers a narrow slab of
    * the partition-column space — manifest min/max stats then prune a
    * partition-predicate read to the matching files. `declared` is
    * the writer's own `partitionBy(...)` (recorded as the table
    * layout when none exists; refused when it CONTRADICTS the
    * recorded one — layout is a table-level decision); empty
    * `declared` follows the recorded property, so every later plain
    * append maintains the layout. Recorded columns a frame doesn't
    * carry are skipped (old-shape writer tolerance, like [[effCols]]);
    * DECLARED columns must exist.
    *
    * The partition count is left to the planner ON PURPOSE: AQE
    * coalesces ADJACENT range partitions, so small writes come out as
    * few right-sized files whose ranges stay contiguous — clustering
    * gets coarser, never broken (an explicit count would pin tiny
    * writes to shuffle-partition-many tiny files).
    *
    * The TAGGED streaming appends ([[appendIfAbsentWithStats]]) skip
    * this deliberately: a per-micro-batch range shuffle buys little
    * (each batch is one slab of arrival time, not of the layout key)
    * and costs latency every trigger — [[compactSmall]] re-clusters
    * the accumulated tail on the recorded layout by default, which is
    * the stream-then-OPTIMIZE maintenance story.
    *
    * Returns (clustered frame, effective layout columns — unioned
    * into the write's stat columns by callers, and the property write
    * to ride the commit when the declaration is new). */
  private[sources] def applyLayout(df0: DataFrame,
      declared: Seq[String] = Nil,
      props: Map[String, String] = null,
      fillGenerated: Boolean = true)
      : (DataFrame, Seq[String], Seq[(String, Option[String])]) = {
    val propsR = Option(props).getOrElse(properties())
    val recorded = SnapshotTable.layoutColsOf(propsR)
    // generated-column fill rides the SAME choke point every write
    // verb already threads (zero extra metadata reads): a frame that
    // omits a generated column gets it computed — BEFORE the layout
    // clustering below, so a generated column can BE the layout
    // (PARTITIONED BY (dt), dt GENERATED ALWAYS AS (date(ts))). A
    // frame that CARRIES the column has its NULLs computed too
    // (Spark's v2 INSERT resolution null-fills unlisted columns, so
    // "null here" means "omitted"); non-null values stay and the
    // synthesized check validates them at staging. A frame missing
    // the expression's INPUTS stays untouched (the same evolution
    // tolerance as constraint enforcement — the check skips with it).
    // `fillGenerated = false` is for re-staging EXISTING rows
    // (replaceWhere survivors): their pre-declaration NULLs are data,
    // not omissions, and a rewrite must never mutate them.
    val df =
      if (!fillGenerated) df0
      else SnapshotTable.generatedColsOf(propsR).foldLeft(df0) {
        case (d, (c, e)) =>
          val names = d.schema.fieldNames
          val refsOk = (try Some(constraintRefs(e))
            catch { case scala.util.control.NonFatal(_) => None })
            .exists(_.forall(r => names.exists(_.equalsIgnoreCase(r))))
          if (!refsOk) d // inputs absent (or unparseable): check skips too
          else if (names.exists(_.equalsIgnoreCase(c)))
            d.withColumn(c, org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.col(s"`$c`"),
              org.apache.spark.sql.functions.expr(e)))
          else d.withColumn(c, org.apache.spark.sql.functions.expr(e))
      }
    if (declared.nonEmpty) {
      val missing = declared.filterNot(c =>
        df.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"partitionBy column(s) not in the written frame: " +
          s"${missing.mkString(", ")} (frame has " +
          s"${df.schema.fieldNames.mkString(", ")})")
      require(recorded.isEmpty ||
        recorded.map(_.toLowerCase) == declared.map(_.toLowerCase),
        s"snapshot table $root records partition layout " +
          s"(${recorded.mkString(", ")}) but this write declares " +
          s"(${declared.mkString(", ")}) — the layout is a table-level " +
          "decision; drop partitionBy to follow the recorded layout, " +
          s"or change it via ALTER TABLE ... SET TBLPROPERTIES " +
          s"('${SnapshotTable.PartitionColsProp}' = '...')")
    }
    val want = if (declared.nonEmpty) declared else recorded
    val present = want.filter(c =>
      df.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (present.isEmpty) (df, Nil, Nil)
    else {
      val cs = present.map(c => org.apache.spark.sql.functions.col(s"`$c`"))
      val prop: Seq[(String, Option[String])] =
        if (declared.nonEmpty && recorded.isEmpty)
          Seq(SnapshotTable.PartitionColsProp ->
            Some(declared.mkString(",")))
        else Nil
      (df.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*),
        present, prop)
    }
  }

  private def statAggExpr(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.functions.{col, unix_date}
    df.schema.fields.find(_.name == c).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.StringType) => col(c)
      case Some(org.apache.spark.sql.types.DateType) =>
        unix_date(col(c)).cast("long")
      case _ => col(c).cast("long")
    }
  }

  /** Per-constraint violation flags (`__viol_i`, 1 = some row is
    * FALSE; NULL passes — SQL CHECK) for the shared per-file audit
    * aggregate; empty when no constraint applies. */
  private def violationFlagAggs(
      active: Seq[(String, String)]): Seq[Column] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit,
      max, not, when}
    active.zipWithIndex.map { case ((_, e), i) =>
      max(when(not(coalesce(expr(e), lit(true))), 1).otherwise(0))
        .as(s"__viol_$i")
    }
  }

  /** Test seam: pretend to be a LEGACY writer that predates per-file
    * row-count tracking — commits record no `rows` channel, so specs
    * can pin the scan fallback paths without hand-editing manifests. */
  private[sources] var recordRowCounts: Boolean = true

  /** Row count from the parquet FOOTER alone (a few-KB tail read per
    * staged file — the same O(staged-files) driver shape as the
    * staging rename loop itself, never O(table)). The fallback when no
    * staging aggregate already carries per-file counts. */
  private def footerRowCount(p: Path): Option[Long] = try {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      fs.makeQualified(p), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try Some(r.getRecordCount) finally r.close()
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Footer row counts for a FILE LIST: up to
    * [[SnapshotTable.DriverFooterReads]] files read on the driver
    * (small commits stay job-free), beyond that one distributed pass —
    * a 100k-file adoption must not serialize 100k object-store GETs
    * through the driver. Files whose footer fails to read are simply
    * absent (callers fall back to a scan, never to a wrong count). */
  private def footerRowCounts(files: Seq[String]): Map[String, Long] =
    if (files.isEmpty) Map.empty
    else if (files.size <= SnapshotTable.DriverFooterReads)
      files.flatMap(f => footerRowCount(new Path(f)).map(f -> _)).toMap
    else {
      // conf ships as strings — the bloomSurvivors closure pattern
      val confMap: Array[(String, String)] = {
        val it = spark.sparkContext.hadoopConfiguration.iterator()
        val buf = Array.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
        buf.result()
      }
      val slices = math.min(files.size,
        spark.sparkContext.defaultParallelism * 4)
      spark.sparkContext.parallelize(files, slices).flatMap { f =>
        try {
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confMap.foreach { case (k, v) => conf.set(k, v) }
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try Iterator.single(f -> r.getRecordCount) finally r.close()
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }.collect().toMap // bounded: one (path, long) per staged file
    }

  /** Stage `df` as new immutable data files, return their paths,
    * per-file row counts and byte sizes (sizes from the staging move's
    * own FileStatus — zero extra IO; counts from each staged file's
    * parquet footer). Files are invisible until a manifest references
    * them. */
  private def stageFiles(df: DataFrame, mapToPhysical: Boolean = true)
      : (Seq[String], Map[String, Long], Seq[(String, Long)]) = {
    val r = stageFilesWithStats(df, Nil, mapToPhysical = mapToPhysical)
    (r._1, r._4, r._5)
  }

  /** Stage `df`; additionally compute per-file min/max for the columns
    * in `statCols` with ONE column-pruned job over the staged parquet
    * (grouped by `input_file_name()` — never a per-file footer read),
    * re-keyed to the final data-file names.
    *
    * Numeric/timestamp columns record a [[SnapshotTable.FileStat]]
    * long range (timestamps as epoch seconds); DATE columns record
    * days since epoch via `unix_date` (ANSI disallows a direct
    * date→long cast) — prune them with the same encoding. STRING
    * columns record a
    * [[SnapshotTable.StrStat]]: true per-file min/max strings from
    * the same aggregate, truncated driver-side to
    * [[SnapshotTable.StatTruncateBytes]] UTF-8 bytes (lower bound = a
    * prefix, upper bound = incremented prefix — the Iceberg
    * `truncate(col)` stats transform), so clustered string keys
    * (url, doc_id) get metadata-only point/prefix/range pruning from
    * a [[readWhere]] condition (`===`, `startsWith`, `<=`/`>=`, `isin`)
    * while a 100k-file checkpoint's stat payload stays a few MB. */
  private[sources] def stageFilesWithStats(df: DataFrame, statCols: Seq[String],
      countFiles: Boolean = false, mapToPhysical: Boolean = true,
      requireCond: Option[(Column, String)] = None,
      enforceConstraints: Boolean = true)
      : (Seq[String], Seq[SnapshotTable.FileStat],
        Seq[SnapshotTable.StrStat], Map[String, Long],
        Seq[(String, Long)], Seq[(String, String, Long)]) = {
    stagingRuns += 1
    val commitId = java.util.UUID.randomUUID().toString
    val tmp = new Path(s"$root/_staging/$commitId")
    // column-mapped table: stage under PHYSICAL names (the Delta
    // column-mapping writer contract) so ONE physical schema covers
    // every file ever written — the read path aliases back. Stats,
    // constraints and counts below run over a logical-aliased view of
    // the staged files, so the whole stats surface stays logical.
    val mapped =
      if (!mapToPhysical) None
      else replayStateFull(currentVersion).schema
        .filter(_.contains(SnapshotTable.PhysicalNameKey)) // cheap guard
        .map(parseSchema).filter(hasMapping)
    val toWrite = mapped match {
      case Some(ms) =>
        val physByLogical = ms.fields
          .map(f => f.name.toLowerCase -> SnapshotTable.physicalName(f)).toMap
        val physNames = df.columns.map(c =>
          physByLogical.getOrElse(c.toLowerCase, c))
        // a frame column colliding with ANOTHER column's physical name
        // would stage two same-named parquet columns — refuse with the
        // schema-contract error before writing anything
        val dup = physNames.map(_.toLowerCase).groupBy(identity)
          .collectFirst { case (n, g) if g.length > 1 => n }
        dup.foreach { n =>
          fs.delete(tmp, true)
          throw new SnapshotTable.SchemaEvolutionViolation(
            s"write to $root rejected: column '$n' is the PHYSICAL " +
              "name of a renamed column (column mapping keeps the " +
              "on-disk name reserved); pick another name or " +
              "materialize the rename by rewriting the table")
        }
        df.toDF(physNames: _*)
      case None => df
    }
    toWrite.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // CHECK constraints gate EVERY write at this single choke point
    // (append, merge rewrite, overwrite, tagged streaming batch).
    // A constraint whose referenced columns are absent from THIS frame
    // passes by construction — readers null-fill the missing column
    // and NULL passes CHECK — so it is skipped rather than failing
    // analysis (an old-shape writer stays valid across add-a-column
    // evolution). Enforcement rides the SAME staging aggregate as
    // stats/counts: per-file max-violation flags, one pass.
    val stagedCols = df.schema.fieldNames.map(_.toLowerCase).toSet
    // enforceConstraints = false is replaceTable's whole-definition
    // swap: the OLD generation's constraints are part of what the
    // replace retires, so they must not gate the replacement data
    val activeConstraints =
      if (!enforceConstraints) Nil
      else checkConstraints.toSeq.sortBy(_._1)
        .filter { case (_, e) =>
          try constraintRefs(e).forall(stagedCols.contains)
          catch { case scala.util.control.NonFatal(_) => true }
        }
    // (file, col, loAny, hiAny): longs for numeric cols, full min/max
    // strings for string cols (truncated below, after the collect —
    // the collect is nfiles · statCols values, bounded either way).
    // `countFiles` rides per-file row counts on the SAME aggregate
    // (buildBlooms sizes its filters from them — no second count job)
    var tmpCounts = Map.empty[String, Long]
    var tmpNulls: Seq[(String, String, Long)] = Nil
    val tmpStats: Seq[(String, String, Any, Any)] =
      if (statCols.isEmpty && !countFiles && activeConstraints.isEmpty &&
          requireCond.isEmpty) Nil
      else {
        import org.apache.spark.sql.functions.{count, input_file_name,
          lit, max, min}
        import org.apache.spark.sql.functions.{coalesce, not, sum, when,
          col => fcol}
        val aggs = statCols.flatMap(c => Seq(
          min(statAggExpr(df, c)).as(s"__lo_$c"),
          max(statAggExpr(df, c)).as(s"__hi_$c"),
          // null counts ride the SAME one-pass aggregate as min/max
          sum(when(fcol(c).isNull, 1L).otherwise(0L)).as(s"__nl_$c"))) ++
          (if (countFiles) Seq(count(lit(1)).as("__cnt")) else Nil) ++
          violationFlagAggs(activeConstraints) ++
          // replaceWhere's incoming-frame validation rides the SAME
          // one-pass aggregate (no separate pre-pass over the frame):
          // 1 = some staged row does NOT satisfy the replace condition
          requireCond.map { case (c, _) =>
            max(when(not(coalesce(c, lit(false))), 1).otherwise(0))
              .as("__replv")
          }.toSeq
        val statScan0 = spark.read.parquet(tmp.toString)
        val statScan = mapped match {
          case Some(ms) =>
            val logicalByPhys = ms.fields.map(f =>
              SnapshotTable.physicalName(f).toLowerCase -> f.name).toMap
            statScan0.toDF(statScan0.columns.map(pc =>
              logicalByPhys.getOrElse(pc.toLowerCase, pc)): _*)
          case None => statScan0
        }
        val rows =
          try statScan
            .groupBy(input_file_name().as("__f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect().toIndexedSeq
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              // a constraint that parses but will not analyze against
              // this frame (type mismatch, struct field, …): clean the
              // staging and surface WHICH config is at fault instead
              // of a bare AnalysisException with orphaned files
              fs.delete(tmp, true)
              throw new IllegalArgumentException(
                s"staging validation failed to analyze on $root " +
                  s"(constraints: ${activeConstraints.map(_._1).mkString(",")})" +
                  s": ${e.getMessage}", e)
          }
        val violated = activeConstraints.zipWithIndex.collect {
          case ((n, e), i) if rows.exists { r =>
            val idx = r.fieldIndex(s"__viol_$i")
            !r.isNullAt(idx) && r.getInt(idx) == 1
          } => s"'$n' ($e)"
        }
        if (violated.nonEmpty) {
          fs.delete(tmp, true)
          throw new SnapshotTable.ConstraintViolation(
            s"write to $root rejected: CHECK constraint(s) " +
              s"${violated.mkString(", ")} violated by incoming rows; " +
              "nothing was committed")
        }
        requireCond.foreach { case (_, msg) =>
          val bad = rows.exists { r =>
            val idx = r.fieldIndex("__replv")
            !r.isNullAt(idx) && r.getInt(idx) == 1
          }
          if (bad) {
            // refusal is pre-commit and pre-move: the staged tmp dir is
            // the only artifact, and it goes with the refusal
            fs.delete(tmp, true)
            throw new IllegalArgumentException(msg)
          }
        }
        if (countFiles)
          tmpCounts = rows.map(r =>
            new Path(r.getString(0)).getName -> r.getAs[Long]("__cnt")).toMap
        tmpNulls = rows.flatMap { r =>
          val name = new Path(r.getString(0)).getName
          statCols.map(c => (name, c, r.getAs[Long](s"__nl_$c")))
        }
        rows.flatMap { r =>
          val name = new Path(r.getString(0)).getName
          statCols.flatMap { c =>
            val lo = r.getAs[Any](s"__lo_$c")
            val hi = r.getAs[Any](s"__hi_$c")
            if (lo == null || hi == null) Nil
            else Seq((name, c, lo, hi))
          }
        }
      }
    fs.mkdirs(dataDir)
    val parts = fs.listStatus(tmp)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
    var stats = List.empty[SnapshotTable.FileStat]
    var sstats = List.empty[SnapshotTable.StrStat]
    var nullsRec = List.empty[(String, String, Long)]
    var counts = Map.empty[String, Long]
    var needCounts = List.empty[String]
    var sizes = List.empty[(String, Long)]
    val moved = parts.map { st =>
      val dst = new Path(dataDir, s"$commitId-${st.getPath.getName}")
      require(fs.rename(st.getPath, dst), s"stage move failed: $dst")
      // store FULLY-QUALIFIED paths: vacuum compares manifests against
      // listStatus output, which is always qualified (file:/…) — an
      // unqualified manifest path would never match and vacuum would
      // reap live files
      val fin = fs.makeQualified(dst).toString
      sizes ::= fin -> st.getLen
      tmpCounts.get(st.getPath.getName) match {
        case Some(n) => counts += fin -> n
        case None => needCounts ::= fin
      }
      tmpNulls.filter(_._1 == st.getPath.getName).foreach {
        case (_, c, n) => nullsRec ::= (fin, c, n)
      }
      tmpStats.filter(_._1 == st.getPath.getName).foreach {
        case (_, c, lo: String, hi: String) =>
          val n = SnapshotTable.StatTruncateBytes
          sstats ::= SnapshotTable.StrStat(fin, c,
            SnapshotTable.truncatedLower(SnapshotTable.utf8(lo), n),
            SnapshotTable.truncatedUpper(SnapshotTable.utf8(hi), n))
        case (_, c, lo: java.lang.Long, hi: java.lang.Long) =>
          stats ::= SnapshotTable.FileStat(fin, c, lo, hi)
        case _ => () // mixed/unexpected runtime type: no stat recorded
      }
      fin
    }
    fs.delete(tmp, true)
    counts ++= footerRowCounts(needCounts.reverse)
    // drop ZERO-ROW parts before they become live files: a rewrite
    // whose partition matched nothing (a point update's untouched
    // scan partition, a delete emptying a file) must not accrete
    // empty files the table then lists, plans and compacts forever.
    // Only provably-empty parts go (count known and 0). Staging-time
    // counts always run; the recordRowCounts seam only suppresses the
    // manifest `rows` channel (simulating a legacy writer's manifests),
    // so empty parts are dropped with the seam off too.
    val emptySet = moved.filter(f => counts.get(f).contains(0L)).toSet
    emptySet.foreach(f => fs.delete(new Path(f), false))
    (moved.toSeq.filterNot(emptySet),
      stats.reverse.filterNot(s => emptySet(s.file)),
      sstats.reverse.filterNot(s => emptySet(s.file)),
      counts -- emptySet,
      sizes.reverse.filterNot(s => emptySet(s._1)),
      nullsRec.reverse.filterNot(e => emptySet(e._1)))
  }

  private def indexDir = new Path(s"$root/_index")

  private def bloomSidecarPath(dataFile: String, colName: String): Path =
    new Path(indexDir, s"${new Path(dataFile).getName}.bloom-$colName")

  /** Build one bloom-filter sidecar per (staged file, column) under
    * `_index/` and return the (file, col) markers for the manifest.
    *
    * The Delta bloom-index shape for point lookups the table is NOT
    * clustered by: min/max bounds (numeric or string) prune only when
    * a file's value range is narrow, but a key scattered across every
    * file (url dedup probes, doc_id fetches on an append-ordered log)
    * keeps every file. A per-file bloom answers "can this file contain
    * this exact value" regardless of layout, at ~1.2 MB per million
    * rows (fpp 0.01).
    *
    * Cost shape: per-file row counts ride the staging stats aggregate
    * (no dedicated count job) and size each filter exactly; one pass
    * per bloom column builds the filters ON THE EXECUTORS
    * (`mapGroups` streams a file's values into one filter —
    * memory is one bloom, never a file's distinct set). The serialized
    * blobs return to the driver for the sidecar writes, so the
    * driver-side footprint is bounded by THIS COMMIT's staged rows
    * (~1.2 MB/M rows/column), never by table size. Sidecars are
    * written before the manifest commit; on a crashed commit they are
    * unreferenced strays [[vacuum]] sweeps with the data files. */
  private[sources] def buildBlooms(files: Seq[String], bloomCols: Seq[String],
      fpp: Double, rowCounts: Map[String, Long]): Seq[(String, String)] = {
    if (bloomCols.isEmpty || files.isEmpty) return Nil
    // the vacuum sweep parses sidecar names by their ".bloom-" suffix
    // and sidecars live flat under _index/ — a column name containing
    // either separator would mis-split the sweep or nest a directory
    bloomCols.foreach(c => require(
      !c.contains("|") && !c.contains("/") && !c.contains(".bloom-"),
      s"bloom column name unsupported: '$c' " +
        "(must not contain '|', '/', or '.bloom-')"))
    import org.apache.spark.sql.functions.{col, input_file_name}
    val byName = files.map(f => new Path(f).getName -> f).toMap
    // per-file row counts came along on the staging stats aggregate
    // (stageFilesWithStats countFiles) — no second count job
    val counts = rowCounts.map { case (f, n) => new Path(f).getName -> n }
    // column-mapped table: the staged files store PHYSICAL names; the
    // caller's bloomCols are logical — scan physical, mark logical
    val physByLogical: Map[String, String] =
      replayStateFull(currentVersion).schema
        .filter(_.contains(SnapshotTable.PhysicalNameKey)) // cheap guard
        .map(parseSchema).filter(hasMapping)
        .map(_.fields.map(f =>
          f.name.toLowerCase -> SnapshotTable.physicalName(f)).toMap)
        .getOrElse(Map.empty)
    fs.mkdirs(indexDir)
    val markers = Seq.newBuilder[(String, String)]
    bloomCols.foreach { c =>
      val tupleEnc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING)
      val pairEnc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY)
      val expected = counts // small map: this commit's files only
      val blobs = spark.read.parquet(files: _*)
        .select(input_file_name().as("__f"),
          col(physByLogical.getOrElse(c.toLowerCase, c))
            .cast("string").as("__v"))
        .na.drop()
        .as[(String, String)](tupleEnc)
        .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
        .mapGroups { (f, it) =>
          val name = new Path(f).getName
          val bloom = org.apache.spark.util.sketch.BloomFilter.create(
            math.max(1L, expected.getOrElse(name, 1L)), fpp)
          it.foreach(t => bloom.putString(t._2))
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          (name, bos.toByteArray)
        }(pairEnc)
        .collect()
      blobs.foreach { case (name, bytes) =>
        val full = byName(name)
        val out = fs.create(bloomSidecarPath(full, c), true)
        try out.write(bytes) finally out.close()
        markers += ((full, c))
      }
    }
    markers.result()
  }

  /** Adopt an EXISTING directory of parquet files as this table's
    * first snapshot WITHOUT copying a byte — the `CONVERT TO DELTA`
    * migration shape: at 100 TB, rewriting data to gain the table
    * format (time travel, snapshot isolation, stats pruning,
    * constraints) is a non-starter; one metadata commit adopts it in
    * place. The manifest records the source files by absolute path.
    *
    * Semantics and limits, explicit:
    *  - the table must be EMPTY (import is adoption, not append);
    *  - Hive-partitioned layouts (`col=value` subdirectories) are
    *    REFUSED: the partition values live in directory names, not in
    *    the files, so by-reference rows would silently lose those
    *    columns — materialize them first (one rewrite) or ingest
    *    through the normal append path;
    *  - active CHECK constraints validate the imported rows (one
    *    scan), exactly like any other write;
    *  - `statCols` records per-file min/max (numeric or string) from
    *    one column-pruned job, so pruning works from the first read;
    *  - imported files live OUTSIDE `data/`, so [[vacuum]] never
    *    deletes them (the caller keeps ownership of the source dir);
    *    a later [[compact]] rewrites their contents into `data/`,
    *    after which the originals are simply no longer referenced. */
  def importFiles(sourceDir: String, statCols: Seq[String] = Nil): Int = {
    // "empty" = no LIVE DATA, not zero commits: installing properties
    // or constraints first (the natural configure-then-adopt order)
    // commits metadata-only versions
    val base = currentVersion
    require(base == 0 || this.files(Some(base)).isEmpty,
      s"importFiles: $root already holds data — " +
        "import adopts a directory as the FIRST data snapshot")
    val src = fs.makeQualified(new Path(sourceDir))
    val qRoot = fs.makeQualified(new Path(root)).toString
    require(fs.exists(src) && fs.getFileStatus(src).isDirectory,
      s"importFiles: $sourceDir is not a directory")
    require(src.toString != qRoot && !src.toString.startsWith(qRoot + "/"),
      s"importFiles: $sourceDir is the table root $root or inside it")
    val entries = fs.listStatus(src)
    require(!entries.exists(e => e.isDirectory && e.getPath.getName.contains("=")),
      s"importFiles: $sourceDir is Hive-partitioned (col=value dirs); " +
        "partition values live in directory names and would be LOST by " +
        "a by-reference import — materialize them into the files first")
    // ANY other (non-hidden) subdirectory is refused too: listing is
    // deliberately non-recursive (one listing, flat ownership), and
    // silently adopting only the top level would be partial data loss
    val subdirs = entries.filter(e => e.isDirectory &&
      !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
    require(subdirs.isEmpty,
      s"importFiles: $sourceDir has subdirectories " +
        s"(${subdirs.map(_.getPath.getName).mkString(", ")}) — import " +
        "adopts a FLAT directory; flatten or import per leaf dir")
    val dataEntries = entries.filter { e =>
      val n = e.getPath.getName
      e.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val files = dataEntries.map(e => fs.makeQualified(e.getPath).toString)
      .sorted.toSeq
    // byte sizes ride the same listing that discovered the files —
    // adoption stays one LIST, zero per-file stats
    val sizes = dataEntries.map(e =>
      fs.makeQualified(e.getPath).toString -> e.getLen).sortBy(_._1).toSeq
    require(files.nonEmpty, s"importFiles: no data files under $sourceDir")
    val byName = files.map(f => new Path(f).getName -> f).toMap
    require(byName.size == files.size,
      s"importFiles: duplicate file names under $sourceDir")
    // mergeSchema: the adopted dir may have evolved across write
    // batches; a single sampled footer would pin a schema missing the
    // newer columns and every later read would silently drop them
    // (the reason Delta's CONVERT reads all footers). One-time cost.
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    // the staging choke point never sees imported files, so the
    // constraint gate and the stats job run here — ONE per-file
    // aggregate carries both, same as staging
    val stagedCols = df.schema.fieldNames.map(_.toLowerCase).toSet
    val active = checkConstraints.toSeq.sortBy(_._1).filter { case (_, e) =>
      try constraintRefs(e).forall(stagedCols.contains)
      catch { case scala.util.control.NonFatal(_) => true }
    }
    val ns = List.newBuilder[SnapshotTable.FileStat]
    val ss = List.newBuilder[SnapshotTable.StrStat]
    val nls = List.newBuilder[(String, String, Long)]
    // configure-then-adopt: properties installed before the import
    // (graft.statCols) make the adopted table prunable with no args
    val sc = effStatCols(statCols, df)
    if (sc.nonEmpty || active.nonEmpty) {
      import org.apache.spark.sql.functions.{col => fcol, input_file_name,
        max, min, sum, when}
      val aggs = sc.flatMap(c => Seq(
        min(statAggExpr(df, c)).as(s"__lo_$c"),
        max(statAggExpr(df, c)).as(s"__hi_$c"),
        sum(when(fcol(c).isNull, 1L).otherwise(0L)).as(s"__nl_$c"))) ++
        violationFlagAggs(active)
      val rows =
        try df.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*).collect().toIndexedSeq
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"importFiles validation failed to analyze on $root " +
                s"(constraints: ${active.map(_._1).mkString(",")}): " +
                e.getMessage, e)
        }
      val violated = active.zipWithIndex.collect {
        case ((n, e), i) if rows.exists { r =>
          val idx = r.fieldIndex(s"__viol_$i")
          !r.isNullAt(idx) && r.getInt(idx) == 1
        } => s"'$n' ($e)"
      }
      if (violated.nonEmpty) throw new SnapshotTable.ConstraintViolation(
        s"importFiles($sourceDir) rejected: rows violate CHECK " +
          s"constraint(s) ${violated.mkString(", ")}")
      rows.foreach { r =>
        // re-key by NAME (unique in a flat dir): input_file_name's
        // URI form percent-encodes, diverging from the qualified path
        byName.get(new Path(r.getString(0)).getName).foreach { full =>
          sc.foreach { c =>
            nls += ((full, c, r.getAs[Long](s"__nl_$c")))
            (r.getAs[Any](s"__lo_$c"), r.getAs[Any](s"__hi_$c")) match {
              case (lo: String, hi: String) =>
                val n = SnapshotTable.StatTruncateBytes
                ss += SnapshotTable.StrStat(full, c,
                  SnapshotTable.truncatedLower(SnapshotTable.utf8(lo), n),
                  SnapshotTable.truncatedUpper(SnapshotTable.utf8(hi), n))
              case (lo: java.lang.Long, hi: java.lang.Long) =>
                ns += SnapshotTable.FileStat(full, c, lo, hi)
              case _ => ()
            }
          }
        }
      }
    }
    // keyed commit from the emptiness-check base: a concurrent IMPORT
    // (also keyed) conflicts instead of double-adopting; a concurrent
    // blind append still commutes (both are add-only valid data —
    // Delta's default isolation for appends)
    // row counts from each adopted file's parquet footer — driver-side
    // below the threshold, ONE distributed pass beyond it (a 100k-file
    // adoption must not serialize 100k GETs through the driver)
    val rowCounts = footerRowCounts(files).toSeq.sortBy(_._1)
    try commit(files, Nil, op = "importFiles",
      stats = ns.result(), sstats = ss.result(), nulls = nls.result(),
      schema = Some(df.schema.json), base = base, keyed = true,
      sizes = sizes, rows = rowCounts)
    catch {
      case c: SnapshotTable.CommitConflict =>
        throw new IllegalArgumentException(
          s"importFiles: $root changed concurrently (${c.getMessage}) — " +
            "re-check the table is still empty and retry")
    }
  }

  /** Optimistic commit: write the manifest under `_staging`, then
    * rename it to the next log slot. If another writer took the slot,
    * retry — data files are uuid-named, so retries never collide.
    *
    * Isolation (the Delta "WriteSerializable" shape): append-only
    * commits commute and republish into the next free slot unchanged.
    * A REMOVE-bearing or `keyed` commit (compact/merge/overwrite/
    * restore; merge even on its no-files-matched branches) does NOT
    * commute with a concurrent remove-bearing commit — the interleave
    * may have rewritten rows or, via [[restore]], resurrected keys the
    * plan never saw, so replaying both would duplicate rows. Before
    * every publish attempt the manifests committed after `base` (the
    * version the plan was resolved against) are scanned; ANY with a
    * non-empty remove set OR a `keyed` marker aborts with
    * [[SnapshotTable.CommitConflict]] and the caller recomputes from
    * the new head. The keyed MARKER is what closes the append-shaped
    * hole: a merge that matched no live files commits adds only, so a
    * remove-set scan alone would let two concurrent insert-only merges
    * of the same key both land — duplicate keys with no error. Every
    * keyed commit writes the marker, and every keyed writer conflicts
    * on seeing one. Blind appends racing anything still commute, as in
    * Delta's default isolation — a merge simply does not see rows
    * committed after its snapshot. Returns the committed version. */
  /** The recorded schema of an APPEND-SHAPED commit, resolved against
    * the table's current schema — the column-rename contract:
    *
    *  - widening (new columns only): record the writer's schema, with
    *    the PRIOR column order preserved (the existing evolution
    *    contract — old files null-fill the added columns);
    *  - narrowing (an old-shape writer missing later-added columns):
    *    record the UNION, not the writer's frame — last-writer-wins
    *    would otherwise let a legacy producer silently DROP a column
    *    from every read of files that still hold it;
    *  - drop+add in one write (rename-shaped): REFUSED. A rename is
    *    indistinguishable from drop-one-add-another without column
    *    ids (the Delta column-mapping problem); recording it would
    *    silently read the renamed column as a brand-new all-null one.
    *    Set table property `schema.acceptDropAdd=true` to opt in —
    *    then the union is recorded (both columns stay readable,
    *    each null-filling where absent), which IS drop+add semantics,
    *    declared rather than inferred.
    *
    * Shared columns take the NEW field (type/metadata refresh rides).
    * Whole-table reshapes ([[overwrite]], [[restore]]) skip this gate
    * — no prior file stays live, so no ambiguity exists. */
  /** `graceAdded`: lowercase names of columns that entered the table
    * schema AFTER this commit first resolved (a concurrent widening
    * won the race) — the writer's frame cannot contain them, so their
    * absence is not a DROP by this writer; they union in untouched
    * and do not trip the drop+add gate. */
  /** Protocol writer gate (see the companion's version ledger):
    * refuses a commit to a table whose recorded `minWriter` exceeds
    * what this library implements — writing anyway could break an
    * invariant the newer feature depends on. */
  private def gateWriter(props: Map[String, String]): Unit = {
    val needW = SnapshotTable.protoOf(props, SnapshotTable.MinWriterProp)
    if (needW > SnapshotTable.WriterVersion)
      throw new SnapshotTable.ProtocolViolation(
        s"table $root requires writer protocol version $needW but " +
          s"this library supports ${SnapshotTable.WriterVersion} — " +
          "upgrade the graft library to write to this table")
  }

  /** Property deltas raising the table's protocol to at least
    * (`reader`, `writer`) — empty when already there. The
    * feature-bearing verbs (MoR DVs → 2, column mapping → 3) fold
    * these into their OWN commit, so a table starts demanding a
    * capability in the same atomic step that first uses it; never
    * lowered. */
  private[sources] def protocolBump(props: Map[String, String], reader: Int,
      writer: Int): Seq[(String, Option[String])] =
    (if (SnapshotTable.protoOf(props, SnapshotTable.MinReaderProp) < reader)
      Seq(SnapshotTable.MinReaderProp -> Some(reader.toString)) else Nil) ++
      (if (SnapshotTable.protoOf(props, SnapshotTable.MinWriterProp) < writer)
        Seq(SnapshotTable.MinWriterProp -> Some(writer.toString)) else Nil)

  private[sources] def resolveSchema(newJson: String, at: Int,
      graceAdded: Set[String] = Set.empty): String = {
    val state = replayStateFull(at)
    gateWriter(state.props)
    state.schema match {
      case None => newJson
      case Some(priorJson) if priorJson == newJson => newJson
      case Some(priorJson) =>
        import org.apache.spark.sql.types.{DataType, StructType}
        val prior = DataType.fromJson(priorJson).asInstanceOf[StructType]
        val nw = DataType.fromJson(newJson).asInstanceOf[StructType]
        val nwByName = nw.fields.map(f => f.name.toLowerCase -> f).toMap
        val priorNames = prior.fieldNames.map(_.toLowerCase).toSet
        val dropped = prior.fieldNames.filterNot(f =>
          nwByName.contains(f.toLowerCase) ||
            graceAdded.contains(f.toLowerCase))
        val added = nw.fields.filterNot(f =>
          priorNames.contains(f.name.toLowerCase))
        if (dropped.nonEmpty && added.nonEmpty &&
            !state.props.get(SnapshotTable.AcceptDropAddProp).contains("true"))
          throw new SnapshotTable.SchemaEvolutionViolation(
            s"write to $root rejected: schema drops column(s) " +
              s"${dropped.mkString(", ")} while adding " +
              s"${added.map(_.name).mkString(", ")} — a rename is " +
              "indistinguishable from drop+add and would silently read " +
              "as a new all-null column over existing files. If this IS " +
              "a rename, use renameColumn (column mapping: old files " +
              "keep their values); if it IS a drop+add, set table " +
              s"property ${SnapshotTable.AcceptDropAddProp}=true " +
              "(records the union: both columns stay readable, " +
              "null-filling where absent); nothing was committed")
        // column mapping: an added column may not take a name some
        // renamed field still stores PHYSICALLY — the staged write
        // would collide with the old files' on-disk column
        val physTaken = prior.fields.collect {
          case f if SnapshotTable.physicalName(f).toLowerCase !=
              f.name.toLowerCase =>
            SnapshotTable.physicalName(f).toLowerCase -> f.name
        }.toMap
        added.find(f => physTaken.contains(f.name.toLowerCase)).foreach { f =>
          throw new SnapshotTable.SchemaEvolutionViolation(
            s"write to $root rejected: new column ${f.name} collides " +
              s"with the PHYSICAL name of renamed column " +
              s"${physTaken(f.name.toLowerCase)} (column mapping keeps " +
              "the on-disk name reserved); pick another name or " +
              "materialize the rename by rewriting the table")
        }
        // a DROPPED column's physical name is retired the same way:
        // live files still store its old values, which a same-named
        // add would silently read back
        val retired = state.props.get(SnapshotTable.RetiredPhysicalProp)
          .map(_.split(",").toSet).getOrElse(Set.empty)
        added.find(f => retired.contains(f.name.toLowerCase)).foreach { f =>
          throw new SnapshotTable.SchemaEvolutionViolation(
            s"write to $root rejected: new column ${f.name} was " +
              "DROPPED from this table and old files still store its " +
              "values on disk — re-adding the name would leak them " +
              "back. Pick another name, or overwrite() the table to " +
              "retire the data")
        }
        // union: prior order first (shared fields take the writer's
        // field, INHERITING the prior's physical mapping so a rename
        // survives later appends), then the writer's new columns.
        // A shared field whose TYPE differs records the WIDER of the
        // two when the pair is in the parquet-supported widening
        // lattice (byte→short→int→long, float→double, integrals→
        // double, date→timestampNTZ — the Spark 4 / Delta type-
        // widening set, empirically scan-verified): old and new files
        // both read correctly under the wider type. Anything else is
        // REFUSED — recording the writer's narrower/incompatible type
        // verbatim would make every later read of the old files fail
        // with PARQUET_COLUMN_DATA_TYPE_MISMATCH: a committed write
        // that poisons the table. Nullability unions (a non-null
        // writer claim must not override files that hold nulls).
        val union = StructType(
          prior.fields.map { pf =>
            nwByName.get(pf.name.toLowerCase) match {
              case Some(nf) =>
                val merged = SnapshotTable.widenType(pf.dataType, nf.dataType)
                  .getOrElse(throw new SnapshotTable.SchemaEvolutionViolation(
                    s"write to $root rejected: column ${pf.name} would " +
                      s"change type ${pf.dataType.simpleString} -> " +
                      s"${nf.dataType.simpleString}, which the parquet " +
                      "scan cannot reconcile across existing files. " +
                      "Cast the frame to the table's type, or " +
                      "overwrite() for an intentional whole-table " +
                      "reshape; nothing was committed"))
                val base = nf.copy(dataType = merged,
                  nullable = pf.nullable || nf.nullable)
                if (pf.metadata.contains(SnapshotTable.PhysicalNameKey))
                  base.copy(metadata =
                    new org.apache.spark.sql.types.MetadataBuilder()
                      .withMetadata(base.metadata)
                      .putString(SnapshotTable.PhysicalNameKey,
                        pf.metadata.getString(SnapshotTable.PhysicalNameKey))
                      .build())
                else base
              case None => pf
            }
          } ++ added)
        union.json
    }
  }

  /** Graft the CURRENT schema's physical-name mapping onto `newJson`
    * for shared logical fields — identity when the table has no
    * column mapping or the field already carries one. */
  private def graftMapping(newJson: String, at: Int): String =
    replayStateFull(at).schema
      .filter(_.contains(SnapshotTable.PhysicalNameKey)) // cheap guard
      .map(parseSchema).filter(hasMapping) match {
      case None => newJson
      case Some(prior) =>
        import org.apache.spark.sql.types.{MetadataBuilder, StructType}
        val physByLogical = prior.fields
          .filter(_.metadata.contains(SnapshotTable.PhysicalNameKey))
          .map(f => f.name.toLowerCase ->
            f.metadata.getString(SnapshotTable.PhysicalNameKey)).toMap
        val nw = parseSchema(newJson)
        StructType(nw.fields.map { f =>
          physByLogical.get(f.name.toLowerCase) match {
            case Some(phys)
                if !f.metadata.contains(SnapshotTable.PhysicalNameKey) =>
              f.copy(metadata = new MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(SnapshotTable.PhysicalNameKey, phys).build())
            case _ => f
          }
        }).json
    }

  /** Rename a column IN PLACE — Delta's column mapping (name mode),
    * metadata-only: one keyed commit records the schema with the new
    * LOGICAL name and the old on-disk name under
    * [[SnapshotTable.PhysicalNameKey]]. No data file is touched; old
    * files keep their values under the new name (reads scan physical,
    * alias to logical), later appends stage under the physical name so
    * one physical schema covers every file forever, and pruning stats
    * recorded under the old name alias to the new one at replay.
    * Time travel below this commit still reads the OLD name — the
    * schema is versioned like everything else. The physical name stays
    * reserved: adding a new column with it is refused until a rewrite
    * materializes the rename. Returns the committed version.
    *
    * Like every schema-recording commit, the schema channel is
    * last-writer-wins against a concurrent append's union — run
    * renames quiesced or retry on a lost race (the keyed marker makes
    * concurrent keyed/remove-bearing commits conflict loudly). */
  def renameColumn(oldName: String, newName: String): Int =
    retryingOnConflict("renameColumn") {
      import org.apache.spark.sql.types.{MetadataBuilder, StructType}
      require(newName.nonEmpty && !newName.contains("|") &&
        !newName.contains("/"),
        s"bad column name '$newName' (empty, '|' or '/')")
      val base = currentVersion
      // version-parameterized so the publish loop can re-derive the
      // renamed schema on top of an interleaved widening append
      // instead of clobbering its new column (validation re-runs at
      // the version actually published over)
      def ns(at: Int): String = {
        val state = replayStateFull(at)
        val st = state.schema.map(parseSchema).getOrElse(
          throw new IllegalArgumentException(
            s"renameColumn: $root has no recorded schema yet"))
        val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(oldName))
        require(idx >= 0, s"renameColumn: no column '$oldName' in $root " +
          s"(have ${st.fieldNames.mkString(", ")})")
        require(!st.fields.exists(_.name.equalsIgnoreCase(newName)),
          s"renameColumn: column '$newName' already exists in $root")
        st.fields.zipWithIndex.foreach { case (f, i) =>
          require(i == idx ||
            !SnapshotTable.physicalName(f).equalsIgnoreCase(newName),
            s"renameColumn: '$newName' is the PHYSICAL name of column " +
              s"'${f.name}' (reserved by a prior rename)")
        }
        require(!state.props.get(SnapshotTable.RetiredPhysicalProp)
          .exists(_.split(",").contains(newName.toLowerCase)),
          s"renameColumn: '$newName' was dropped from $root and old " +
            "files still store its values — pick another name or " +
            "overwrite() to retire the data")
        val f = st.fields(idx)
        val phys = SnapshotTable.physicalName(f)
        // renaming BACK to the physical name dissolves the mapping
        val newField =
          if (phys.equalsIgnoreCase(newName))
            f.copy(name = newName, metadata = new MetadataBuilder()
              .withMetadata(f.metadata)
              .remove(SnapshotTable.PhysicalNameKey).build())
          else
            f.copy(name = newName, metadata = new MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(SnapshotTable.PhysicalNameKey, phys).build())
        StructType(st.fields.updated(idx, newField)).json
      }
      ns(base) // validate eagerly: argument errors surface pre-commit
      // a CHECK constraint written against the old name would silently
      // stop enforcing (its column vanishes from every staged frame
      // and evolution-tolerant validation skips it). Rewrite each
      // referencing constraint MECHANICALLY (identifier substitution,
      // round-trip-proven) in the SAME keyed commit, so there is no
      // version at which the constraint names a column that no longer
      // exists; an expression the rewriter cannot prove still refuses.
      val renameProps = replayStateFull(base).props
      val conRewrites: Seq[(String, Option[String])] =
        renameProps.toSeq.collect {
          case (k, e) if k.startsWith(SnapshotTable.ConstraintPrefix) &&
              (try constraintRefs(e).contains(oldName.toLowerCase)
               catch { case scala.util.control.NonFatal(_) => false }) =>
            rewriteConstraintExpr(e, oldName, newName) match {
              case Some(re) => k -> Some(re)
              case None => throw new IllegalArgumentException(
                s"renameColumn: CHECK constraint " +
                  s"${k.stripPrefix(SnapshotTable.ConstraintPrefix)} " +
                  s"($e) references '$oldName' and cannot be rewritten " +
                  "mechanically — dropConstraint, rename, then re-add " +
                  "against the new name")
            }
        }
      // the column-LIST properties (stat/bloom defaults, partition
      // layout) reference logical names too: without the rewrite a
      // renamed column silently drops out of every later write's
      // stats/clustering (the effCols/applyLayout present-filter
      // tolerance is for absent columns, not renamed ones). Same
      // commit, same reasoning as the constraint rewrite above.
      val listRewrites: Seq[(String, Option[String])] =
        Seq(SnapshotTable.StatColsProp, SnapshotTable.BloomColsProp,
          SnapshotTable.PartitionColsProp).flatMap { p =>
          renameProps.get(p).flatMap { v =>
            val cols = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            if (!cols.exists(_.equalsIgnoreCase(oldName))) None
            else Some(p -> Some(cols.map(c =>
              if (c.equalsIgnoreCase(oldName)) newName else c)
              .mkString(",")))
          }
        }
      // generated-column declarations track the rename on BOTH axes:
      // a renamed generated column moves its key (old key unset, new
      // key set — the synthesized check derives from the key, so it
      // follows); a renamed INPUT rewrites the stored expression with
      // the same round-trip-proven substitution as constraints
      val genRewrites: Seq[(String, Option[String])] =
        SnapshotTable.generatedColsOf(renameProps).flatMap { case (c, e) =>
          val exprHit =
            try constraintRefs(e).contains(oldName.toLowerCase)
            catch { case scala.util.control.NonFatal(_) => false }
          val e2 =
            if (!exprHit) e
            else rewriteConstraintExpr(e, oldName, newName).getOrElse(
              throw new IllegalArgumentException(
                s"renameColumn: generated column '$c' ($e) references " +
                  s"'$oldName' and cannot be rewritten mechanically — " +
                  "dropGeneratedColumn, rename, then re-declare"))
          if (c.equalsIgnoreCase(oldName))
            Seq(SnapshotTable.GeneratedPrefix + c ->
                (None: Option[String]),
              SnapshotTable.GeneratedPrefix + newName -> Some(e2))
          else if (exprHit)
            Seq(SnapshotTable.GeneratedPrefix + c -> Some(e2))
          else Nil
        }
      commit(Nil, Nil, base = base, keyed = true, op = "renameColumn",
        schemaGate = false, schemaTransform = Some(ns _),
        props = conRewrites ++ listRewrites ++ genRewrites ++
          protocolBump(renameProps, 3, 3))
    }

  /** Substitute `oldName` identifiers with `newName` in a CHECK
    * expression and return the regenerated SQL text — `None` when the
    * rewrite cannot be PROVEN faithful (the regenerated text must
    * parse back to exactly the substituted tree; anything `.sql`
    * cannot round-trip refuses rather than silently altering what the
    * constraint enforces). Only the head name part substitutes —
    * `old.field` struct access follows the column, a qualified
    * `other.old` does not exist in single-table CHECKs. */
  private def rewriteConstraintExpr(sqlExpr: String, oldName: String,
      newName: String): Option[String] =
    try {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      val parsed = spark.sessionState.sqlParser.parseExpression(sqlExpr)
      val rewritten = parsed.transformUp {
        case a: UnresolvedAttribute
            if a.nameParts.head.equalsIgnoreCase(oldName) =>
          UnresolvedAttribute(newName +: a.nameParts.tail)
      }
      val text = rewritten.sql
      val back = spark.sessionState.sqlParser.parseExpression(text)
      if (back == rewritten) Some(text) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Drop a column IN PLACE — metadata-only, the other half of column
    * mapping: one keyed commit records the schema WITHOUT the field.
    * No data file is touched; live files that still store the column
    * simply stop projecting it (reads scan only the recorded fields),
    * and time travel below the drop still reads it. The column's
    * physical name joins [[SnapshotTable.RetiredPhysicalProp]]: a
    * later append adding a column under that name is REFUSED — old
    * files still hold the dropped values on disk and would leak them
    * back — until a whole-table rewrite ([[overwrite]]) retires the
    * data. Returns the committed version. */
  def dropColumn(name: String): Int =
    retryingOnConflict("dropColumn") {
      import org.apache.spark.sql.types.StructType
      val base = currentVersion
      def info(at: Int): (String, String) = {
        val state = replayStateFull(at)
        val st = state.schema.map(parseSchema).getOrElse(
          throw new IllegalArgumentException(
            s"dropColumn: $root has no recorded schema yet"))
        val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(name))
        require(idx >= 0, s"dropColumn: no column '$name' in $root " +
          s"(have ${st.fieldNames.mkString(", ")})")
        require(st.fields.length > 1,
          s"dropColumn: cannot drop the only column of $root")
        state.props.toSeq.collect {
          case (k, e) if k.startsWith(SnapshotTable.ConstraintPrefix) &&
              (try constraintRefs(e).contains(name.toLowerCase)
               catch { case scala.util.control.NonFatal(_) => false }) =>
            k.stripPrefix(SnapshotTable.ConstraintPrefix)
        } match {
          case Nil => ()
          case cs => throw new IllegalArgumentException(
            s"dropColumn: CHECK constraint(s) ${cs.mkString(", ")} " +
              s"reference '$name' and would silently stop enforcing " +
              "— dropConstraint first")
        }
        // generated columns guard the same way: dropping the column
        // itself or one of its expression's inputs would silently end
        // the fill/validation pair
        SnapshotTable.generatedColsOf(state.props).collect {
          case (c, e) if c.equalsIgnoreCase(name) ||
              (try constraintRefs(e).contains(name.toLowerCase)
               catch { case scala.util.control.NonFatal(_) => false }) => c
        } match {
          case Seq() => ()
          case cs => throw new IllegalArgumentException(
            s"dropColumn: generated column(s) ${cs.mkString(", ")} " +
              s"depend on '$name' — dropGeneratedColumn first")
        }
        (StructType(st.fields.patch(idx, Nil, 1)).json,
          SnapshotTable.physicalName(st.fields(idx)).toLowerCase)
      }
      val (_, phys) = info(base) // eager validation + retired name
      val dropProps = replayStateFull(base).props
      val retired = dropProps
        .get(SnapshotTable.RetiredPhysicalProp)
        .map(_.split(",").toSeq).getOrElse(Nil)
      commit(Nil, Nil, base = base, keyed = true,
        op = "dropColumn",
        schemaGate = false, schemaTransform = Some((at: Int) => info(at)._1),
        props = Seq(SnapshotTable.RetiredPhysicalProp ->
          Some((retired :+ phys).distinct.sorted.mkString(","))) ++
          protocolBump(dropProps, 3, 3))
    }

  private[sources] def commit(add: Seq[String], remove: Seq[String],
      tag: Option[String] = None,
      stats: Seq[SnapshotTable.FileStat] = Nil, maxAttempts: Int = 20,
      base: Int = -1, keyed: Boolean = false,
      schema: Option[String] = None,
      sstats: Seq[SnapshotTable.StrStat] = Nil,
      blooms: Seq[(String, String)] = Nil,
      props: Seq[(String, Option[String])] = Nil,
      sizes: Seq[(String, Long)] = Nil,
      rows: Seq[(String, Long)] = Nil,
      schemaGate: Boolean = true,
      dvs: Seq[(String, String, Long)] = Nil,
      scope: Option[Seq[String]] = None,
      schemaTransform: Option[Int => String] = None,
      sanitizeSchema: Boolean = true,
      op: String = "",
      nulls: Seq[(String, String, Long)] = Nil,
      addGuard: Option[Column] = None): Int = {
    require((remove.isEmpty && !keyed) || base >= 0,
      "remove-bearing/keyed commits must pass the base version for conflict checks")
    // schema-evolution contract (gated OFF only for intentional
    // whole-table reshapes: overwrite, restore): an append-shaped
    // commit leaves prior files live, so the schema it records decides
    // how THEIR columns read forever after. See resolveSchema.
    // `schemaAt(v)` is the schema this commit records WHEN PUBLISHING
    // ON TOP OF version v — the publish loop below re-resolves it
    // whenever an interleaved schema-bearing commit lands, so the
    // schema channel is never last-writer-wins across the race window
    // (two concurrent widening appends union BOTH columns; an append
    // racing renameColumn/dropColumn re-unions over the new shape
    // instead of silently clobbering it).
    // writer frames are LOGICAL: strip any smuggled physical mapping
    // (restore opts out — its historical schema's mapping is this
    // table's own and must re-record verbatim)
    val schemaIn = if (sanitizeSchema)
      schema.map(SnapshotTable.stripPhysical) else schema
    def schemaAt(v: Int, grace: Set[String] = Set.empty): Option[String] =
      schemaTransform match {
      case Some(f) => Some(f(v))
      case None =>
        // add MAY be empty here (zero-row staging dropped every part):
        // the writer's frame schema must STILL resolve against the
        // prior schema — recording it verbatim would strip a rename's
        // physical mapping and silently narrow the table to the
        // empty frame's columns
        if (schemaGate && remove.isEmpty && schemaIn.isDefined)
          schemaIn.map(resolveSchema(_, v, grace))
        else if (schemaGate && remove.nonEmpty && schemaIn.isDefined)
          // partial rewrite (merge/compact/delete/replace): UNAFFECTED
          // files stay live, so a prior rename's physical mapping must
          // ride into the recorded schema even when the caller's frame
          // (a user merge source) carries no field metadata — losing it
          // would read every pre-rename file's column as all-null
          schemaIn.map(graftMapping(_, v))
        else schemaIn
    }
    // raw-schema commits (overwrite/restore/tag-only) never re-resolve
    val schemaDynamic = schemaTransform.isDefined ||
      (schemaGate && schemaIn.isDefined)
    var schemaSeen = currentVersion
    val schemaFirst = schemaSeen
    var schemaRec = schemaAt(schemaSeen)
    // protocol writer gate: append-shaped schema-resolving commits
    // just gated inside resolveSchema's existing replay (zero extra IO
    // on the hot append path); every other shape (remove-bearing
    // rewrites take the graftMapping branch, props/tag/dv-only,
    // schemaTransform, ungated overwrite/restore) pays one explicit
    // replay here.
    if (!(schemaTransform.isEmpty && schemaGate && remove.isEmpty &&
        schemaIn.isDefined))
      gateWriter(replayStateFull(schemaFirst).props)
    val checkRemoves = remove.nonEmpty || keyed
    fs.mkdirs(logDir)
    var tmp = new Path(s"$root/_staging/manifest-${java.util.UUID.randomUUID()}.json")
    def stage(): Unit = Json.write(fs, tmp, SnapshotTable.Manifest.of(add, remove,
      tag, stats, keyed = checkRemoves, schema = schemaRec, sstats = sstats,
      blooms = blooms, props = props, sizes = sizes,
      rows = if (recordRowCounts) rows else Nil, dvs = dvs,
      op = Some(op).filter(_.nonEmpty), nulls = nulls))
    stage()
    // test seam: runs once at the exact race window (staged, not yet
    // published), then self-disarms — lets specs inject a concurrent
    // commit deterministically instead of praying a thread interleaves
    val inject = raceInjector
    raceInjector = () => ()
    inject()
    var checkedUpTo = base
    // protocol re-gate across the publish race: the entry gate above
    // validated against the THEN-head, but a concurrent
    // upgradeProtocol landing before this commit publishes would
    // otherwise let a too-old writer slip a post-upgrade commit in
    // (blind appends never conflict-check, so nothing else would
    // notice). Cheap: scan only the INTERLEAVED manifests for a
    // protocol-prop marker — no replay unless one actually raised it.
    var gateCheckedUpTo = schemaFirst
    def regateThrough(head: Int): Unit = if (head > gateCheckedUpTo) {
      // props ride the wire base64-encoded, so probe for the FIELD,
      // not the key: any props-bearing interleave (rare — metadata
      // verbs only) pays the one replay that reads the actual keys
      val raised =
        try (gateCheckedUpTo + 1 to head).exists(v =>
          readManifest(v).props.nonEmpty)
        catch { case _: java.io.FileNotFoundException => true }
      if (raised) gateWriter(replayStateFull(head).props)
      gateCheckedUpTo = head
    }
    var attempt = 0
    while (attempt < maxAttempts) {
      val head = currentVersion
      regateThrough(head)
      if (checkRemoves && head > checkedUpTo) {
        // Default (scope = None): ANY interleaved remove-bearing OR
        // keyed commit conflicts — a rewrite (merge/compact/overwrite)
        // or a restore's re-add changed rows or RESURRECTED keys this
        // commit's plan never saw, and an append-shaped keyed commit
        // inserted keys it decided were absent (merge needs both).
        // Blind append-only interleaves still commute.
        //
        // FILE-LOCAL verbs (MoR delete, materialize, compactSmall,
        // CoW delete) pass their affected-file set as `scope`: only an
        // interleaved commit that REMOVED or DV-RE-POINTED one of
        // those files invalidates the plan — the Delta file-level
        // conflict rule. A concurrent insert-only merge adds rows the
        // delete's snapshot never covered (write-serializable
        // semantics), and rewrites of DISJOINT files commute, so
        // neither serializes against it: N writers deleting in N
        // partitions proceed conflict-free instead of livelocking on
        // a coarse keyed-marker check. (A restore re-adding a scoped
        // file implies an in-range remove of it — caught transitively.)
        val guardAdds = Seq.newBuilder[String]
        val clash = (checkedUpTo + 1 to head).flatMap { v =>
          val m = readManifest(v)
          val rem = m.remove
          val hit = scope match {
            case Some(sc) =>
              val scSet = sc.toSet
              rem.find(scSet.contains).map(f => s"removed $f")
                .orElse(m.dvEntries.map(_._1).find(scSet.contains)
                  .map(f => s"re-pointed DV of $f"))
            case None =>
              if (rem.nonEmpty) Some(s"removed ${rem.head}")
              else if (m.keyed) Some("keyed append")
              else None
          }
          if (hit.isEmpty && addGuard.isDefined) guardAdds ++= m.add
          hit.map(m => (v, m))
        }
        if (clash.nonEmpty) {
          fs.delete(tmp, false)
          throw new SnapshotTable.CommitConflict(
            s"concurrent keyed/remove-bearing commit(s) " +
              s"${clash.map(_._1).mkString("v", ",v", "")} landed on " +
              s"$root (first: ${clash.head._2}) — recompute from v$head")
        }
        // Predicate-scoped append guard (Delta's ConcurrentAppend rule
        // for replaceWhere: the plan decided rows matching `cond` live
        // ONLY in the files it rewrites/tombstones, so an interleaved
        // blind append whose files MAY contain a matching row
        // invalidates it). Judged from the appended files' own
        // manifest stat/bloom/null channels via the same pruning the
        // verbs plan with — sound, so a stat-less append always
        // conflicts, and a provably-disjoint append (stats excluding
        // the condition) still commutes.
        val fresh = guardAdds.result()
        addGuard.filter(_ => fresh.nonEmpty).foreach { g =>
          val stateHead = replayStateFull(head)
          val liveSet = stateHead.live.toSet
          val surv = dmlCandidates(
            stateHead.copy(live = fresh.filter(liveSet)), g)
          if (surv.nonEmpty) {
            fs.delete(tmp, false)
            throw new SnapshotTable.CommitConflict(
              s"concurrent append on $root added file(s) that may " +
                s"contain rows matching the replace condition " +
                s"(first: ${surv.head}) — recompute from v$head")
          }
        }
        checkedUpTo = head
      }
      if (schemaDynamic && head > schemaSeen) {
        // an interleaved commit recorded a schema: OUR recorded schema
        // was resolved against a stale predecessor — re-resolve on the
        // new head and re-stage the manifest before claiming a slot
        // (a recompute that now violates the evolution contract —
        // e.g. the column we carry was just dropped — throws cleanly)
        if ((schemaSeen + 1 to head).exists(v =>
            readManifest(v).schema.isDefined)) {
          // columns the interleaved commits ADDED are not drops by
          // this writer's frame — grace them through the gate
          val namesAtFirst = replayStateFull(schemaFirst).schema
            .map(parseSchema(_).fieldNames.map(_.toLowerCase).toSet)
            .getOrElse(Set.empty)
          val namesNow = replayStateFull(head).schema
            .map(parseSchema(_).fieldNames.map(_.toLowerCase).toSet)
            .getOrElse(Set.empty)
          val re = try schemaAt(head, namesNow -- namesAtFirst) catch {
            case scala.util.control.NonFatal(e) =>
              fs.delete(tmp, false); throw e
          }
          if (re != schemaRec) {
            schemaRec = re
            fs.delete(tmp, false)
            tmp = new Path(
              s"$root/_staging/manifest-${java.util.UUID.randomUUID()}.json")
            stage()
          }
        }
        schemaSeen = head
      }
      val target = new Path(logDir, f"${head + 1}%08d.json")
      if (publish(tmp, target)) {
        maybeCheckpoint(head + 1)
        return head + 1
      }
      attempt += 1
    }
    fs.delete(tmp, false)
    throw new IllegalStateException(
      s"commit lost $maxAttempts optimistic races on $root")
  }

  /** Atomically publish a FULLY-WRITTEN manifest into a log slot;
    * false = the slot was already taken (loser retries). The claim
    * must be atomic-if-absent AND expose only complete content:
    *  - local `file://`: hard link (link(2) fails EEXIST atomically;
    *    the linked content is the already-complete tmp file) — a
    *    bare rename(2) REPLACES an existing destination, which would
    *    silently destroy the race winner's committed manifest
    *  - HDFS: `rename` without overwrite is atomic and fails on an
    *    existing destination
    *  - other stores: exists+rename best effort; a store without
    *    atomic-if-absent (bare S3) needs a conditional-PUT client or
    *    an external lock, as Delta/Iceberg document for the same slot */
  private def publish(tmp: Path, target: Path): Boolean =
    if (fs.getUri.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else !fs.exists(target) && fs.rename(tmp, target)

  /** Append `df` as a new snapshot; returns the committed version. */
  def append(df: DataFrame): Int =
    // table-property stat/bloom defaults apply (appendWithStats with
    // empty cols and no defaults set is byte-identical to the bare
    // staging path)
    appendWithStats(df, Nil)

  /** Append with per-file min/max recorded in the manifest for the
    * (long-valued) `statCols` — the Iceberg-style scan-planning stats
    * that let [[readWhere]] skip files from METADATA alone: at 100k
    * files, pruning from manifests is a driver-side replay, where even
    * parquet-footer pruning is 100k reads before the first task.
    * Empty `statCols`/`bloomCols` fall back to the table-property
    * defaults ([[SnapshotTable.StatColsProp]]). */
  def appendWithStats(df0: DataFrame, statCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01,
      partitionBy: Seq[String] = Nil): Int = {
    def body(): Int = {
      // ONE metadata replay feeds layout + stat/bloom defaults (appends
      // are the hot write path — streaming batches land here per-batch)
      val base0 = currentVersion
      val props = properties(Some(base0))
      val (df, layout, layoutProp) = applyLayout(df0, partitionBy, props)
      val sc = (effCols(props, statCols, SnapshotTable.StatColsProp, df)
        ++ layout).distinct
      val bc = effCols(props, bloomCols, SnapshotTable.BloomColsProp, df)
      val (staged, stats, sstats, counts, sizes, nullsCh) =
        stageFilesWithStats(df, sc, countFiles = bc.nonEmpty)
      val blooms = buildBlooms(staged, bc, bloomFpp, counts)
      if (layoutProp.isEmpty)
        commit(staged, Nil, None, stats, schema = Some(df.schema.json),
          sstats = sstats, blooms = blooms, sizes = sizes,
          rows = counts.toSeq.sortBy(_._1), nulls = nullsCh, op = "append")
      else
        // a FIRST-TIME layout declaration rides this commit as a table
        // property — two concurrent declarers must serialize (a blind
        // race would last-replay-wins the property while the loser's
        // files sit clustered on a different column), so the declaring
        // append commits KEYED on the observed base: the loser
        // conflicts, retries through the wrapper below, re-reads the
        // winner's recorded layout and either follows it or refuses
        // the contradiction inside applyLayout. Plain appends stay
        // blind (the hot path — they commute with everything).
        commit(staged, Nil, None, stats, base = base0, keyed = true,
          schema = Some(df.schema.json),
          sstats = sstats, blooms = blooms, sizes = sizes,
          rows = counts.toSeq.sortBy(_._1), nulls = nullsCh, op = "append",
          props = layoutProp)
    }
    if (partitionBy.isEmpty) body()
    else retryingOnConflict("appendWithStats")(body())
  }

  /** Append `df` as the table's FIRST version, refusing (or, with
    * `ignoreIfExists`, no-opping) when the table already has one — the
    * `SaveMode.ErrorIfExists`/`Ignore` contract made RACE-SAFE
    * (ADVICE r14): the commit is KEYED with base 0, so two racing
    * creators serialize through the optimistic-commit conflict check —
    * the loser's keyed commit conflicts with the winner's, retries,
    * re-reads the head, and takes the exists branch instead of both
    * landing an initial version. The exists check runs BEFORE staging,
    * so the refusing path costs zero write jobs. Returns the committed
    * version, or 0 when `ignoreIfExists` swallowed an existing table. */
  def createExclusive(df0: DataFrame, statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01,
      ignoreIfExists: Boolean = false,
      partitionBy: Seq[String] = Nil,
      userProps: Seq[(String, String)] = Nil): Int =
    retryingOnConflict("createExclusive") {
      userProps.foreach { case (k, _) =>
        require(k.nonEmpty, "property key must be non-empty")
        require(!k.startsWith(SnapshotTable.ConstraintPrefix),
          s"keys under '${SnapshotTable.ConstraintPrefix}' are " +
            "reserved — use addCheckConstraint, which validates")
        require(!k.startsWith(SnapshotTable.ProtocolPrefix),
          s"keys under '${SnapshotTable.ProtocolPrefix}' are " +
            "reserved — use upgradeProtocol")
      }
      val base = currentVersion
      if (base > 0) {
        if (ignoreIfExists) 0
        else throw new IllegalStateException(
          s"snapshot table $root already exists (version $base); use " +
            "mode(\"append\") or mode(\"overwrite\")")
      } else {
        val props = properties(Some(base))
        val (df, layout, layoutProp) = applyLayout(df0, partitionBy, props)
        val sc = (effCols(props, statCols, SnapshotTable.StatColsProp, df)
          ++ layout).distinct
        val bc = effCols(props, bloomCols, SnapshotTable.BloomColsProp, df)
        val (staged, stats, sstats, counts, sizes, nullsCh) =
          stageFilesWithStats(df, sc, countFiles = bc.nonEmpty)
        val blooms = buildBlooms(staged, bc, bloomFpp, counts)
        commit(staged, Nil, None, stats, base = base, keyed = true,
          schema = Some(df.schema.json), sstats = sstats, blooms = blooms,
          sizes = sizes, rows = counts.toSeq.sortBy(_._1), nulls = nullsCh,
          op = "create",
          props = layoutProp ++
            userProps.map { case (k, v) => k -> Some(v) })
      }
    }

  /** Read with AUTOMATIC metadata pruning + the row filter applied:
    * the files [[dmlCandidates]] plans for `cond` are read, then
    * `cond` itself filters the surviving rows. Every prune tier the
    * table carries (long stats, string stats and prefixes, null
    * counts, bloom sidecars — single values and IN lists) is driven
    * by preds [[SnapshotTable.derivePreds derived]] from `cond`'s own
    * `col <op> literal` conjuncts: `readWhere($"id" === k)` on a
    * stats+bloom table plans the matching file(s), not the table.
    * Conditions derivation can't see through (disjunctions, UDFs)
    * fall back to a full (still correct) scan; derived pruning is
    * sound, so results are always identical to `read().filter(cond)`.
    * `lastDmlCandidates` records the planned file set for the
    * scan-counting specs. */
  def readWhere(cond: org.apache.spark.sql.Column,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    // ONE pinned replay supplies files, stats AND schema: a second
    // resolution could land on a concurrent writer's newer version and
    // plan these files with the wrong schema
    val state = replayStateFull(v)
    planFiles(state, v, dmlCandidates(state, cond)).filter(cond)
  }

  /** THE file planner: of `state.live`, the files that can hold a row
    * matching `cond`. It serves [[readWhere]] (SQL scans and the store
    * reads), every DML verb, both MERGE tiers and the replaceWhere
    * append guard. The metadata prune tiers (long stats, string
    * stats, null counts, bloom sidecars) are applied with the preds
    * [[SnapshotTable.derivePreds derived]] from `cond`'s own
    * `col <op> literal` conjuncts — `updateWhere($"id" === k)` scans
    * only the stat/bloom-surviving files instead of every live file.
    * Derivation is sound (only implied ranges), so pruning can never
    * lose a match; conditions derivation can't see through
    * (disjunctions, non-literal operands) simply keep the full live
    * set. `lastDmlCandidates` records the result for the
    * scan-counting specs. */
  private[sources] def dmlCandidates(state: SnapshotTable.TableState,
      cond: org.apache.spark.sql.Column): Seq[String] = {
    val (autoLong, autoStr, autoBloom, autoNulls) =
      SnapshotTable.derivePreds(cond)
    var candidates = state.live.filter { f =>
      autoLong.forall { case (c, lo, hi) =>
        state.stats.get((f, c)).forall { case (flo, fhi) =>
          fhi >= lo && flo <= hi }
      } && strStatSurvives(state.sstats, f, autoStr) &&
        autoNulls.forall {
          // IS NULL: a file with a RECORDED zero null count cannot match
          case (c, true) => state.nulls.get((f, c)).forall(_ > 0L)
          // IS NOT NULL: an all-null file (nulls == its row count,
          // both recorded) cannot match; unknown counts keep the file
          case (c, false) =>
            !state.nulls.get((f, c)).zip(state.rows.get(f))
              .exists { case (n, r) => n == r }
        }
    }
    // a file survives a probe if its sidecar admits ANY listed value
    autoBloom.foreach { case (c, vs) =>
      if (candidates.nonEmpty) {
        val keep = bloomSurvivors(state.copy(live = candidates), c, vs)
        candidates = candidates.filter(keep.contains)
      }
    }
    lastDmlCandidates = candidates
    candidates
  }

  /** Candidate set of the most recent prune on THIS handle — scan-
    * planning observability (what did the last readWhere/DML verb
    * plan?), also mirrored into the companion's per-root registry
    * ([[SnapshotTable.lastPlannedCandidates]]) so callers that never
    * see the handle (SQL statements build their own) can still read
    * the diagnostic. Not part of the concurrency-safe API surface. */
  private[sources] def lastDmlCandidates: Seq[String] = lastDmlCandidates0
  private[sources] def lastDmlCandidates_=(v: Seq[String]): Unit = {
    lastDmlCandidates0 = v
    SnapshotTable.recordPrune(root, v)
  }
  private var lastDmlCandidates0: Seq[String] = Nil

  /** Merge-candidate narrowing by the SOURCE's own key values: collect
    * up to [[SnapshotTable.InListPruneMax]] distinct non-null values of
    * the FIRST key column (bounded — `limit` short-circuits a bulk
    * source before it can flood the driver) and plan
    * `keyCol IN (values)` through [[dmlCandidates]]: the stats and
    * string envelopes plus the ANY-of-values bloom probe. Sound for
    * composite keys too: a file containing a matched composite key
    * necessarily contains its first component's value. A source past
    * the bound (or with non-integral/string keys) skips the collect
    * and scans the live set — the trickle-upsert case this exists for
    * is exactly the small-key-set one. */
  private[sources] def keyPruneCandidates(state: SnapshotTable.TableState,
      keyCol: String, source: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val supported = source.schema.fields
      .find(_.name.equalsIgnoreCase(keyCol)).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType | StringType => true
        case _ => false
      }
    if (!supported) return state.live
    val vals = source.select(col(keyCol)).na.drop().distinct()
      .limit(SnapshotTable.InListPruneMax + 1).collect().map(_.get(0))
    if (vals.isEmpty || vals.length > SnapshotTable.InListPruneMax)
      return state.live
    dmlCandidates(state, col(keyCol).isin(vals.toIndexedSeq: _*))
  }

  // ---- string-stat pruning -------------------------------------------
  //
  // The byte-bound query shape derivePreds emits for string
  // conjuncts: (col, inclusive lower bytes, inclusive upper bytes
  // or None = unbounded above). A file survives a predicate when its
  // recorded [[SnapshotTable.StrStat]] interval overlaps the query
  // interval under byte-wise unsigned comparison — exactly Spark's
  // string ordering, so pruning can never disagree with a row filter.
  // Files with no recorded stat for the column are kept: pruning is
  // never wrong, only incomplete.

  private def strStatSurvives(
      sstats: Map[(String, String), (Array[Byte], Option[Array[Byte]])],
      f: String, preds: Seq[(String, Array[Byte], Option[Array[Byte]])])
      : Boolean =
    preds.forall { case (c, loQ, hiQ) =>
      sstats.get((f, c)).forall { case (flo, fhi) =>
        fhi.forall(h => SnapshotTable.cmpBytes(h, loQ) >= 0) &&
          hiQ.forall(q => SnapshotTable.cmpBytes(flo, q) <= 0)
      }
    }

  // ---- bloom-sidecar pruning -----------------------------------------

  /** Of `state.live`, the files whose bloom sidecar (built by
    * [[appendWithStats]]/[[compact]] with `bloomCols`) admits ANY of
    * `values`, plus every file with NO bloom for the column — pruning
    * is never wrong, only incomplete; an unreadable/lost sidecar
    * likewise keeps its file. Membership is a disjunction, so one
    * sidecar read tests every value of an IN list. The point-lookup
    * prune for keys the table is NOT clustered by: min/max bounds keep
    * every file when a key is scattered across all of them; a bloom
    * answers per file regardless of layout (fpp false-positive files
    * remain — the row filter still applies downstream). ≤ 32
    * candidates test on the driver (a handful of small GETs); beyond
    * that the membership tests run as ONE distributed job over the
    * candidate file list — each task reads its sidecars directly, the
    * driver never sees a filter's bytes, so a 100k-file probe is a
    * 100k-small-read job, not a 100 GB driver download.
    *
    * MoR-delete contract (pinned by spec): bloom sidecars are built
    * from a file's PHYSICAL rows and standard blooms cannot subtract,
    * so after a MoR [[deleteWhere]] a tombstoned key still advertises —
    * the lookup scans its file and the DV anti-join returns zero rows
    * (correct, just unpruned: one extra file per deleted key, bounded
    * by the DV debt `detail()` reports). Any rewrite of the file
    * ([[materializeDeletes]], [[compact]], CoW delete) rebuilds its
    * bloom from surviving rows and restores the prune. Probe-time
    * subtraction was REJECTED: it would read the DV sidecar per
    * probed file on every lookup, charging the MoR tax to reads that
    * never touched a deleted key. */
  private def bloomSurvivors(state: SnapshotTable.TableState,
      colName: String, values: Seq[String]): Set[String] = {
    val (withBloom, without) =
      state.live.partition(f => state.blooms.contains((f, colName)))
    if (withBloom.isEmpty) return state.live.toSet
    val surviving: Seq[String] =
      if (withBloom.size <= 32)
        withBloom.filter { f =>
          try {
            val in = fs.open(bloomSidecarPath(f, colName))
            try {
              val bloom =
                org.apache.spark.util.sketch.BloomFilter.readFrom(in)
              values.exists(bloom.mightContainString)
            } finally in.close()
          } catch { case scala.util.control.NonFatal(_) => true }
        }
      else {
        // capture only plain serializable values — the task closure
        // must not drag `this` (and its SparkSession) in. The
        // SESSION's Hadoop conf ships as key/value strings
        // (Configuration isn't serializable): a bare
        // `new Configuration()` on the executor would drop
        // programmatic store config (s3a credentials, endpoints) and
        // every sidecar open would fail into the keep-everything
        // path — bloom pruning silently no-oping exactly at scale
        val idxRoot = indexDir.toString
        val cCap = colName
        val vCap = values.toArray
        val confMap: Array[(String, String)] = {
          val it = spark.sparkContext.hadoopConfiguration.iterator()
          val buf = Array.newBuilder[(String, String)]
          while (it.hasNext) {
            val e = it.next()
            buf += ((e.getKey, e.getValue))
          }
          buf.result()
        }
        spark.sparkContext.parallelize(withBloom,
          math.max(1, math.min(withBloom.size,
            spark.sparkContext.defaultParallelism * 2)))
          .mapPartitions { it =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confMap.foreach { case (k, v2) => conf.set(k, v2) }
            it.filter { f =>
              val p = new Path(
                s"$idxRoot/${new Path(f).getName}.bloom-$cCap")
              try {
                val in = p.getFileSystem(conf).open(p)
                try {
                  val bloom =
                    org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                  vCap.exists(bloom.mightContainString)
                } finally in.close()
              } catch { case scala.util.control.NonFatal(_) => true }
            }
          }.collect().toSeq
      }
    surviving.toSet ++ without
  }

  /** Restore the table to the contents of snapshot `version` as a NEW
    * commit (Delta-style RESTORE): re-adds that snapshot's files and
    * removes the current extras — metadata-only, no data rewrite, so
    * the bad deploy's rollback is one manifest whatever the table
    * size. History is preserved (the bad versions stay readable);
    * fails if `version`'s files were already vacuumed below the
    * retention floor (the read would fail the same way). */
  /** Zero-copy SHALLOW CLONE (the Delta `CLONE ... SHALLOW` shape):
    * creates `targetRoot` as a NEW independent table whose first
    * commit REFERENCES this table's live data files at `version`
    * (default head) — no data moves, so cloning a 100 TB table costs
    * one metadata commit plus a copy of the (KB-sized) bloom/DV
    * sidecars into the clone's own `_index/` (sidecar paths derive
    * from the table root, so they cannot be referenced across roots).
    * The clone carries the source's schema VERBATIM (column mapping
    * included), its per-file stats/string-stats/bloom markers/sizes/
    * row counts (pruning works immediately), its deletion vectors,
    * and ALL table properties — constraints, stat/bloom defaults, and
    * the protocol requirement travel with the data they protect.
    *
    * From the first commit on, the two tables diverge freely: the
    * clone's writes stage into its own `data/`, its vacuum only ever
    * lists its own directories (foreign referenced files are never
    * sweep candidates), and rewrites (compact/merge/DML) progressively
    * replace references with clone-owned files. The ONE shared-fate
    * caveat — identical to Delta's — is the source's `vacuum`: it
    * cannot see the clone's references, so reaping source history the
    * clone still points at breaks the clone. Clone from versions the
    * source retains, or compact the clone (making it self-contained)
    * before vacuuming the source aggressively.
    *
    * The use case at scale: a dev/test sandbox or a migration dry-run
    * against production data with zero copy cost and zero risk to the
    * source (the clone cannot touch source files — every destructive
    * verb operates on its own manifest, and physical deletion only
    * happens under the clone's own root). */
  def shallowCloneTo(targetRoot: String, version: Option[Int] = None): Int = {
    val v = version.getOrElse(currentVersion)
    require(v > 0, s"shallowCloneTo: source $root has no commits")
    require(v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    val srcQ = fs.makeQualified(new Path(root)).toString
    val tgtQ = fs.makeQualified(new Path(targetRoot)).toString
    require(srcQ != tgtQ, "shallowCloneTo: target is the source itself")
    val tgt = new SnapshotTable(spark, targetRoot, checkpointInterval)
    require(tgt.currentVersion == 0,
      s"shallowCloneTo: target $targetRoot already has commits " +
        s"(version ${tgt.currentVersion})")
    val state = replayStateFull(v)
    val liveSet = state.live.toSet
    // sidecars: blooms named <dataFileName>.bloom-<col>, DVs by their
    // recorded name — both resolve relative to a table's OWN _index/,
    // so the clone gets physical copies (bytes are small and immutable)
    val bloomNames = state.blooms.toSeq.collect {
      case (f, c) if liveSet(f) => s"${new Path(f).getName}.bloom-$c"
    }
    val dvNames = state.dvs.collect {
      case (f, (sc, _)) if liveSet(f) => sc
    }.toSeq
    if (bloomNames.nonEmpty || dvNames.nonEmpty) fs.mkdirs(tgt.indexDir)
    (bloomNames ++ dvNames).distinct.foreach { n =>
      val from = new Path(indexDir, n)
      val to = new Path(tgt.indexDir, n)
      // overwrite unconditionally: a clone retry after a crash mid-copy
      // must not adopt the truncated partial a skip-on-exists would keep
      org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false, true,
        spark.sparkContext.hadoopConfiguration)
    }
    tgt.commit(
      op = "clone",
      add = state.live,
      remove = Nil,
      stats = state.stats.toSeq.collect {
        case ((f, c), (lo, hi)) if liveSet(f) =>
          SnapshotTable.FileStat(f, c, lo, hi)
      },
      base = 0, keyed = true, // racing clones into one target serialize
      schema = state.schema,
      sstats = state.sstats.toSeq.collect {
        case ((f, c), (lo, hi)) if liveSet(f) =>
          SnapshotTable.StrStat(f, c, lo, hi)
      },
      blooms = state.blooms.toSeq.filter(b => liveSet(b._1)),
      props = state.props.toSeq.sorted.map { case (k, pv) => k -> Some(pv) },
      sizes = state.sizes.toSeq.filter(kv => liveSet(kv._1)),
      rows = state.rows.toSeq.filter(kv => liveSet(kv._1)),
      nulls = state.nulls.toSeq.collect {
        case ((f, c), n) if liveSet(f) => (f, c, n)
      },
      // verbatim like restore: the schema (with any physical mapping)
      // and the channel values are this table's own truths re-recorded
      schemaGate = false, sanitizeSchema = false,
      dvs = state.dvs.toSeq.collect {
        case (f, (sc, n)) if liveSet(f) => (f, sc, n)
      })
  }

  def restore(version: Int): Int =
    retryingOnConflict("restore") {
      val base = currentVersion
      val stTarget = replayStateFull(version)
      val stHead = replayStateFull(base)
      val target = stTarget.live.toSet
      val live = stHead.live.toSet
      target.foreach { f =>
        require(fs.exists(new Path(f)),
          s"restore($version): data file vacuumed away: $f")
      }
      val add = (target -- live).toSeq.sorted
      val remove = (live -- target).toSeq.sorted
      // deletion-vector state follows the data: replay keeps the
      // LATEST sidecar per file, so rolling back needs explicit
      // re-records — the target's sidecar where it had one, a
      // tombstone where the head grew one the target lacks. The
      // target's sidecars must still exist (vacuum sweeps superseded
      // generations — same contract as the data-file check above).
      val dvRecs = target.toSeq.sorted.flatMap { f =>
        val want = stTarget.dvs.get(f)
        val have = if (live.contains(f)) stHead.dvs.get(f) else None
        if (want == have) None
        else {
          want.foreach { case (sc, _) =>
            require(fs.exists(new Path(indexDir, sc)),
              s"restore($version): deletion-vector sidecar vacuumed: $sc")
          }
          Some(want.map { case (sc, n) => (f, sc, n) }
            .getOrElse((f, "*", 0L)))
        }
      }
      // a restore RE-ADDS files that never pass the staging choke
      // point, so it must validate them against the ACTIVE constraints
      // itself — otherwise it silently resurrects rows a constraint
      // added after their deletion forbids, voiding the whole-table
      // guarantee addCheckConstraint documents. Only the re-added
      // files are scanned (column-pruned), not the snapshot.
      val cs = checkConstraints.toSeq.sortBy(_._1)
      if (add.nonEmpty && cs.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, expr, lit,
          max => fmax, not, when}
        val restored = readFiles(add, Some(version))
        val restoredCols = restored.schema.fieldNames.map(_.toLowerCase).toSet
        val active = cs.filter { case (_, e) =>
          try constraintRefs(e).forall(restoredCols.contains)
          catch { case scala.util.control.NonFatal(_) => true }
        }
        if (active.nonEmpty) {
          val flags = active.map { case (_, e) =>
            fmax(when(not(coalesce(expr(e), lit(true))), 1).otherwise(0))
          }
          val row = restored.agg(flags.head, flags.tail: _*).collect().head
          val violated = active.zipWithIndex.collect {
            case ((n, e), i) if !row.isNullAt(i) && row.getInt(i) == 1 =>
              s"'$n' ($e)"
          }
          if (violated.nonEmpty)
            throw new SnapshotTable.ConstraintViolation(
              s"restore($version) on $root rejected: re-added rows " +
                s"violate CHECK constraint(s) ${violated.mkString(", ")}")
        }
      }
      if (add.isEmpty && remove.isEmpty && dvRecs.isEmpty) base
      else {
        // freshen the re-added files' modification times BEFORE the
        // commit: every other op that makes files live stages FRESH
        // parquet, which vacuum's mtime grace window protects while
        // the commit is in flight — a re-added file keeps its ORIGINAL
        // mtime, so a concurrent vacuum (whose keep-set predates this
        // commit) would otherwise reap it as stale-and-unreferenced,
        // corrupting the snapshot this commit is about to publish
        val now = System.currentTimeMillis()
        add.foreach(f => fs.setTimes(new Path(f), now, -1))
        // rollback re-records the TARGET version's schema verbatim —
        // the rename gate would misread a schema rollback as drop+add
        commit(add, remove, base = base, keyed = true, op = "restore",
          schema = stTarget.schema, schemaGate = false, dvs = dvRecs,
          sanitizeSchema = false)
      }
    }

  /** Tags already committed (O(#commits) driver metadata walk). */
  /** Incremental: only manifests ABOVE the last scanned version are
    * read, so a streaming sink's per-batch check is O(new commits),
    * not O(log length) — a naive full rescan per micro-batch is
    * quadratic manifest IO over the stream's lifetime. Commits from
    * OTHER writer instances are still seen (the scan keys on the
    * shared log's head, not on this instance's writes). */
  def committedTags: Set[String] = synchronized {
    val cur = currentVersion
    var (seen, tags) = tagScan
    if (seen == 0) {
      // cold instance: seed from the newest checkpoint (which records
      // every tag ≤ its version) so a restarted streaming writer's
      // first idempotence check replays the tail, not the whole log
      val c = checkpointAtOrBelow(cur)
      if (c > 0) { seen = c; tags ++= readCheckpoint(c).tags }
    }
    if (cur > seen)
      tags = tags ++ (seen + 1 to cur).flatMap(v => readManifest(v).tag)
    tagScan = (math.max(cur, seen), tags)
    tags
  }
  private var tagScan: (Int, Set[String]) = (0, Set.empty)

  /** Idempotent TAGGED append — the exactly-once building block for a
    * streaming sink: the tag (e.g. `batch-<id>` from foreachBatch) is
    * recorded in the manifest, and a replayed micro-batch whose tag is
    * already committed is skipped, so a crash between "sink wrote" and
    * "checkpoint advanced" cannot double-append. Returns the committed
    * version, or None when the tag was already present. Contract: one
    * live writer per tag stream (Spark's single-active-query
    * guarantee); concurrent DIFFERENT-tag writers still interleave
    * safely through the optimistic version race. */
  def appendIfAbsent(df: DataFrame, tag: String): Option[Int] =
    appendIfAbsentWithStats(df, tag, Nil)

  /** [[appendIfAbsent]] + [[appendWithStats]]: idempotent tagged
    * append that also records per-file min/max for `statCols` — the
    * exactly-once ingest commit for a PRUNABLE fact table. Empty
    * cols fall back to the table-property defaults. */
  def appendIfAbsentWithStats(df: DataFrame, tag: String,
      statCols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01): Option[Int] =
    if (committedTags.contains(tag)) None
    else {
      val sc = effStatCols(statCols, df)
      val bc = effBloomCols(bloomCols, df)
      val (staged, stats, sstats, counts, sizes, nullsCh) =
        stageFilesWithStats(df, sc, countFiles = bc.nonEmpty)
      val blooms = buildBlooms(staged, bc, bloomFpp, counts)
      Some(commit(staged, Nil, Some(tag), stats,
        schema = Some(df.schema.json), sstats = sstats, blooms = blooms,
        sizes = sizes, rows = counts.toSeq.sortBy(_._1), nulls = nullsCh,
        op = "appendIfAbsent"))
    }

  /** Idempotent TAGGED keyed upsert — [[appendIfAbsent]] for MERGE:
    * a replayed call whose tag is already committed is skipped
    * entirely (no scan, no staging). The exactly-once building block
    * for [[streamingMergeSink]]; same one-live-writer-per-tag-stream
    * contract as [[appendIfAbsent]]. `mor = true` upserts through
    * deletion vectors instead of rewriting files (see [[merge]]). */
  def mergeIfAbsent(source: DataFrame, keyCols: Seq[String], tag: String,
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, mor: Boolean = false): Option[Int] =
    if (committedTags.contains(tag)) None
    else Some(merge(source, keyCols, statCols, bloomCols, bloomFpp,
      tag = Some(tag), mor = mor))

  /** `foreachBatch` adapter: exactly-once micro-batch UPSERTS — the
    * CDC-consumption shape (`stream.writeStream.foreachBatch(
    * table.streamingMergeSink(Seq("id")) _)`): each micro-batch MERGEs
    * by key (matched live rows replaced, new keys appended), dedup'd
    * by the same `txn-<appId>-batch-<id>` identity tags as
    * [[streamingSink]] — a crash between "sink merged" and "checkpoint
    * advanced" replays the batch into a tag skip, never a double
    * upsert. The batch must be KEY-UNIQUE (collapse multi-event
    * batches first, e.g. [[graft.operators.KeepLatestDedup]] —
    * [[merge]] refuses a dup-keyed source). `txnAppId` as in
    * [[streamingSinkAs]]; `mor = true` routes through deletion
    * vectors for trickle upserts into large files. */
  def streamingMergeSink(keyCols: Seq[String],
      txnAppId: Option[String] = None, statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, mor: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    mergeIfAbsent(batch, keyCols, SnapshotTable.streamTxnTag(
      txnAppId, batch.sparkSession, batchId,
      where = "streamingMergeSink (pass txnAppId outside a streaming " +
        "query)"), statCols, bloomCols, mor = mor)
    ()
  }

  /** `foreachBatch` adapter: exactly-once micro-batch appends keyed by
    * QUERY IDENTITY + batch id.
    * `stream.writeStream.foreachBatch(table.streamingSink _)` (plus a
    * checkpoint) is a transactional streaming table sink. Batch ids
    * are per-checkpoint and start at 0, so the idempotence tag MUST
    * carry the query identity too — a bare batch tag would make a
    * second pipeline (or a fresh-checkpoint restart) writing into this
    * table silently skip its batches 0..N as "duplicates". The
    * identity is Spark's streaming query id (pinned in the checkpoint
    * metadata, so same checkpoint → same id across restarts); inside
    * `foreachBatch` it is always available. To dedup intentionally
    * across DIFFERENT checkpoints, use [[streamingSinkAs]]. */
  def streamingSink(batch: DataFrame, batchId: Long): Unit = {
    appendIfAbsent(batch, SnapshotTable.streamTxnTag(
      None, batch.sparkSession, batchId,
      where = "streamingSink (use streamingSinkAs(appId) outside a " +
        "streaming query)"))
    ()
  }

  /** [[streamingSink]] with an EXPLICIT transaction-app identity —
    * the Delta `txnAppId` shape: batches dedup on `(appId, batchId)`
    * regardless of checkpoint, for pipelines that intentionally resume
    * a table position under a fresh checkpoint. Two pipelines must
    * never share an `appId` unless they replay the SAME batches. */
  def streamingSinkAs(appId: String)(batch: DataFrame, batchId: Long): Unit = {
    require(appId.nonEmpty, "empty txnAppId")
    appendIfAbsent(batch, SnapshotTable.streamTxnTag(
      Some(appId), batch.sparkSession, batchId, where = "streamingSinkAs"))
    ()
  }

  /** Replace the ENTIRE live contents with `df` in one commit —
    * truncate-and-load (the state-refresh pattern: e.g.
    * [[IncrementalAgg]] snapshots each refreshed rollup state).
    * Older snapshots still read the prior contents; the optional tag
    * rides the manifest like any other (e.g. to record the base
    * version a derived state reflects). A remove-bearing commit, so
    * it participates in the same conflict detection as merge/compact. */
  def overwrite(df0: DataFrame, tag: Option[String] = None,
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, partitionBy: Seq[String] = Nil): Int =
    retryingOnConflict("overwrite") {
      val base = currentVersion
      val live = files(Some(base))
      val props0 = properties(Some(base))
      val (df, layout, layoutProp) = applyLayout(df0, partitionBy, props0)
      // keyed even when the table is empty: two concurrent FIRST
      // overwrites would otherwise both land as unchecked add-only
      // commits and the table would hold the UNION of both frames —
      // with the marker the loser conflicts, re-resolves the winner's
      // live set, and removes it, preserving replace-everything
      // replace-everything stages UNMAPPED: the commit records the
      // frame's own schema, so a prior rename's physical names must
      // not leak into files that schema will never alias
      val sc = (effCols(props0, statCols, SnapshotTable.StatColsProp, df)
        ++ layout).distinct
      val bc = effCols(props0, bloomCols, SnapshotTable.BloomColsProp, df)
      // ONE staging pass computes stats/nulls/counts alongside the
      // write — a stat-recording overwrite must never cost a second
      // whole-table rewrite (the old format-writer path re-laid via
      // compact: 2x IO and a stat-less version visible in between)
      val (staged, stats, sstats, counts, sizes, nullsCh) =
        stageFilesWithStats(df, sc, countFiles = bc.nonEmpty,
          mapToPhysical = false)
      val blooms = buildBlooms(staged, bc, bloomFpp, counts)
      // replace-everything: no prior file stays live, so a reshape is
      // unambiguous — the rename gate does not apply
      commit(staged, live, tag, base = base, keyed = true,
        op = "overwrite", stats = stats, sstats = sstats, blooms = blooms,
        schema = Some(df.schema.json), sizes = sizes, schemaGate = false,
        rows = counts.toSeq.sortBy(_._1), nulls = nullsCh,
        // replace-everything retires dropped columns' on-disk data,
        // so their names come off the reservation list
        props = layoutProp ++ Seq(SnapshotTable.RetiredPhysicalProp -> None))
    }

  /** REPLACE-the-definition overwrite — the V2 catalog's `[CREATE OR]
    * REPLACE TABLE` landing: ONE keyed commit swaps the data (like
    * [[overwrite]]), records the NEW definition's layout and user
    * properties, and UNSETS every prior-generation property — user
    * TBLPROPERTIES, CHECK constraints, stat/bloom defaults, the
    * recorded layout (REPLACE defines a new table; only the protocol
    * floor survives — it is never lowered) — so the old definition
    * can neither gate nor shape the new data: a stale CHECK must not
    * refuse a valid replace, and a stale layout must not linger on a
    * definition that declared none. Single-commit = atomic: a failing
    * replacement query leaves the previous generation byte-identical,
    * properties included, and history stays time-travelable. */
  def replaceTable(df0: DataFrame, partitionCols: Seq[String] = Nil,
      userProps: Seq[(String, String)] = Nil): Int =
    retryingOnConflict("replaceTable") {
      userProps.foreach { case (k, _) =>
        require(k.nonEmpty, "property key must be non-empty")
        require(!k.startsWith(SnapshotTable.ConstraintPrefix),
          s"keys under '${SnapshotTable.ConstraintPrefix}' are " +
            "reserved — use addCheckConstraint, which validates")
        require(!k.startsWith(SnapshotTable.ProtocolPrefix),
          s"keys under '${SnapshotTable.ProtocolPrefix}' are " +
            "reserved — use upgradeProtocol")
        require(!k.startsWith(SnapshotTable.GeneratedPrefix),
          s"keys under '${SnapshotTable.GeneratedPrefix}' are " +
            "reserved — addGeneratedColumn after the replace")
      }
      val missing = partitionCols.filterNot(c =>
        df0.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"PARTITIONED BY column(s) not in the replacement frame: " +
          s"${missing.mkString(", ")} (frame has " +
          s"${df0.schema.fieldNames.mkString(", ")})")
      val base = currentVersion
      val live = files(Some(base))
      val props0 = properties(Some(base))
      // the NEW layout clusters the frame directly: the recorded (old)
      // layout is part of the replaced definition, so applyLayout's
      // contradiction contract deliberately does not apply
      val df =
        if (partitionCols.isEmpty) df0
        else {
          val cs = partitionCols.map(c =>
            org.apache.spark.sql.functions.col(s"`$c`"))
          df0.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
        }
      val newProps = userProps.toMap
      val sc = (effCols(newProps, Nil, SnapshotTable.StatColsProp, df)
        ++ partitionCols).distinct
      val bc = effCols(newProps, Nil, SnapshotTable.BloomColsProp, df)
      val (staged, stats, sstats, counts, sizes, nullsCh) =
        stageFilesWithStats(df, sc, countFiles = bc.nonEmpty,
          mapToPhysical = false, enforceConstraints = false)
      val blooms = buildBlooms(staged, bc, 0.01, counts)
      val unsets = props0.keys
        .filterNot(_.startsWith(SnapshotTable.ProtocolPrefix))
        .map(k => k -> (None: Option[String])).toMap
      val sets = (userProps.map { case (k, v) => k -> Some(v) } ++
        (if (partitionCols.isEmpty) Nil
        else Seq(SnapshotTable.PartitionColsProp ->
          Some(partitionCols.mkString(","))))).toMap
      commit(staged, live, base = base, keyed = true, op = "replaceTable",
        stats = stats, sstats = sstats, blooms = blooms,
        schema = Some(df.schema.json), sizes = sizes, schemaGate = false,
        rows = counts.toSeq.sortBy(_._1), nulls = nullsCh,
        props = (unsets ++ sets).toSeq.sortBy(_._1))
    }

  /** Rewrite the CURRENT live file set as `coalesceTo` files in one
    * commit (add rewritten + remove originals). Readers of older
    * snapshots are untouched — the originals remain on disk until
    * [[vacuum]]. Returns the committed version, or 0 when the table
    * is empty (nothing to compact).
    *
    * `zorderCols` re-clusters the rewrite on a Morton curve
    * ([[graft.operators.ZOrderLayout]]) so min/max stats stay tight on
    * EVERY clustered dimension; `statCols` records per-file min/max in
    * the new manifest — together they make [[readWhere]]'s pruning effective
    * again after compaction (append-time stats die with the removed
    * files). This is the Delta/Iceberg `OPTIMIZE ... ZORDER BY` shape:
    * maintenance that trades one rewrite for metadata-only scan
    * planning on the read path. */
  def compact(coalesceTo: Int = 1, zorderCols: Seq[String] = Nil,
      zorderBits: Int = 6, statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01): Int =
    retryingOnConflict("compact") {
      val base = currentVersion
      val before = files(Some(base))
      if (before.isEmpty) 0
      else {
        val rows = readFiles(before, Some(base))
        val laid =
          if (zorderCols.isEmpty) rows.coalesce(coalesceTo)
          else graft.operators.ZOrderLayout.layout(
            rows, zorderCols, zorderBits, coalesceTo)
        val sc = effStatCols(statCols, laid)
        val bc = effBloomCols(bloomCols, laid)
        val (rewritten, stats, sstats, counts, sizes, nullsCh) =
          stageFilesWithStats(laid, sc, countFiles = bc.nonEmpty)
        val blooms = buildBlooms(rewritten, bc, bloomFpp, counts)
        commit(rewritten, before, stats = stats, base = base, op = "compact",
          schema = Some(laid.schema.json), sstats = sstats, blooms = blooms,
          sizes = sizes, rows = counts.toSeq.sortBy(_._1), nulls = nullsCh)
      }
    }

  /** Total live bytes of snapshot `version`, summed from the
    * manifest-recorded per-file sizes in replay state — zero data-file
    * IO for size-tracked tables; only files committed before size
    * tracking fall back to a driver `getFileStatus` (counted by
    * `fileStatCalls`; a vanished legacy/imported file counts 0). */
  def liveBytes(version: Option[Int] = None): Long = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    val state = replayStateFull(v)
    state.live.map(f => state.sizes.getOrElse(f, statLen(f))).sum
  }

  private def statLen(f: String): Long = {
    fileStatCalls += 1
    try fs.getFileStatus(new Path(f)).getLen
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Size-aware compaction — the OPTIMIZE shape that survives 100 TB:
    * rewrites ONLY the live files smaller than `targetBytes`,
    * bin-packed to ~`targetBytes` outputs, in one keyed commit; files
    * already at or above the target are untouched (whole-table
    * [[compact]] would rewrite them all — impossible maintenance at
    * scale, where OPTIMIZE must touch the small-file tail a streaming
    * sink accretes, not the petabytes already well-laid). File sizes
    * come from the manifest (replay state), so SELECTION is
    * metadata-only — no listing, no per-file stats (legacy pre-size
    * files fall back to one stat each). Idempotent: fewer than two
    * small files, or a small set already at its minimum pack count,
    * commits nothing (returns 0). `statCols`/`bloomCols` re-record
    * pruning metadata for the rewritten files, like [[compact]].
    * `zorderCols` re-clusters the rewritten tail on a Morton curve
    * ([[graft.operators.ZOrderLayout]]) so the freshly-recorded
    * min/max stats stay tight on every clustered dimension — the
    * OPTIMIZE ... ZORDER BY composition: a streaming sink's
    * interleaved small files come out both packed AND prunable. */
  def compactSmall(targetBytes: Long, statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01,
      zorderCols: Seq[String] = Nil, zorderBits: Int = 6): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    retryingOnConflict("compactSmall") {
      val base = currentVersion
      if (base == 0) 0
      else {
        val state = replayStateFull(base)
        val small = state.live
          .map(f => f -> state.sizes.getOrElse(f, statLen(f)))
          .filter(_._2 < targetBytes)
        if (small.size <= 1) 0
        else {
          val total = small.map(_._2).sum
          val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
          if (small.size <= n) 0 // already at the minimum pack count
          else {
            val affected = small.map(_._1)
            val before = readFiles(affected, Some(base))
            // a layout table's OPTIMIZE re-clusters the packed tail on
            // the recorded partition columns by default (explicit
            // ZORDER BY wins), so maintenance never decays the layout
            val zc =
              if (zorderCols.nonEmpty) zorderCols
              else SnapshotTable.layoutColsOf(state.props).filter(c =>
                before.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
            val rows =
              if (zc.isEmpty) before.coalesce(n)
              else graft.operators.ZOrderLayout.layout(
                before, zc, zorderBits, n)
            val sc = (effStatCols(statCols, rows) ++ zc).distinct
            val bc = effBloomCols(bloomCols, rows)
            val (staged, stats, sstats, counts, sizes, nullsCh) =
              stageFilesWithStats(rows, sc,
                countFiles = bc.nonEmpty)
            val blooms = buildBlooms(staged, bc, bloomFpp, counts)
            commit(staged, affected, stats = stats, base = base,
              keyed = true, op = "compactSmall",
              schema = Some(rows.schema.json),
              sstats = sstats, blooms = blooms, sizes = sizes,
              rows = counts.toSeq.sortBy(_._1), nulls = nullsCh, scope = Some(affected))
          }
        }
      }
    }
  }

  /** Recompute-and-retry loop for remove-bearing operations whose
    * optimistic commit hit a true remove-set conflict. Each retry
    * re-resolves the live set from the NEW head, so the recomputation
    * is against post-conflict reality — the "loser recomputes" half of
    * the optimistic-concurrency contract. Staged files of an aborted
    * attempt stay unreferenced and are reaped by [[vacuum]] after its
    * grace window.
    *
    * Jittered exponential backoff between rounds: under sustained
    * keyed-writer contention (every commit conflicts with every
    * concurrent one by design), lockstep retries can starve a slow
    * writer through many rounds — the stress spec exhausted a 5-round
    * no-backoff budget with just three writers. Desynchronizing the
    * losers makes each round's winner-take-one progress stick (same
    * shape as Delta's commit retry loop). */
  private[sources] def retryingOnConflict[A](op: String, maxAttempts: Int = 20)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case c: SnapshotTable.CommitConflict =>
          attempt += 1
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"$op lost $maxAttempts recompute rounds on $root: ${c.getMessage}")
          Thread.sleep(math.min(1600L, 25L << math.min(attempt, 6)) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(50))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  import SnapshotTable.{DmlCommit, DmlMatch, DmlVerb, Staged, noneStaged}

  /** Keyed MERGE (upsert) through the [[dml]] pipeline: every live row
    * whose key matches a `source` row is replaced by it; source rows
    * with new keys append. The match scan is a semi-join on the
    * source's key set, metadata-pruned by that set
    * ([[keyPruneCandidates]]), so a point upsert into a 10k-file table
    * touches one file; `mor = true` tombstones the replaced rows and
    * appends the whole source instead of rewriting. The commit is
    * keyed and UNSCOPED — it decided which keys were absent, so any
    * interleaved remove-bearing or keyed commit must conflict (even an
    * append-shaped merge: a restore could resurrect those keys) — and
    * always lands, so `tag` rides even a merge that matched nothing.
    *
    * `source` must be key-unique (enforced — a dup-keyed source makes
    * "replace" ill-defined). Empty `statCols`/`bloomCols` fall back to
    * the table-property defaults, so a merge on a stats-defaulted
    * table keeps the written files prunable. Returns the version. */
  def merge(source: DataFrame, keyCols: Seq[String],
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, tag: Option[String] = None,
      mor: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val dupKeys = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
    require(dupKeys == 0, "merge source has duplicate keys")
    val keys = source.select(keyCols.map(col): _*).distinct()
    dml("merge", mor, statCols, bloomCols, bloomFpp) { (_, _) =>
      DmlVerb(keyPruneCandidates(_, keyCols.head, source),
        DmlMatch.Keys(keys, keyCols), DmlCommit.Always,
        inserts = Some(source), tag = tag)
    }
  }

  /** General conditional MERGE: the full `WHEN MATCHED [AND cond]
    * THEN UPDATE SET …/DELETE | WHEN NOT MATCHED [AND cond] THEN
    * INSERT … | WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    * UPDATE/DELETE` clause set — the surface SQL `MERGE INTO` routes
    * to. Clause conditions and values reference `<targetAlias>.<col>`
    * and `<sourceAlias>.<col>` (defaults `target`/`source`). Semantics
    * and pruning are [[SnapshotMerge]]'s, which hands the clause set
    * to the [[dml]] pipeline as a matcher: copy-on-write rewrites only
    * the files holding a row some clause applies to, `mor = true`
    * tombstones those rows with deletion vectors and rewrites no data
    * file. The commit is keyed and unscoped. The keyed full-row upsert
    * ([[merge]]) remains the fast path when the clause set is exactly
    * "update all matched, insert the rest". Returns the committed
    * version, or 0 when no clause changed anything (no empty commit). */
  def mergeInto(source: DataFrame, condition: Column,
      matched: Seq[SnapshotMerge.Clause] = Nil,
      notMatched: Seq[SnapshotMerge.Clause] = Nil,
      notMatchedBySource: Seq[SnapshotMerge.Clause] = Nil,
      targetAlias: String = "target", sourceAlias: String = "source",
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, schemaEvolution: Boolean = false,
      declaredSchema: Option[org.apache.spark.sql.types.StructType] = None,
      mor: Boolean = false): Int = {
    SnapshotMerge.validate(source, matched, notMatched, notMatchedBySource,
      targetAlias, sourceAlias)
    dml("mergeInto", mor, statCols, bloomCols, bloomFpp)(
      SnapshotMerge.verb(this, source, condition, matched, notMatched,
        notMatchedBySource, targetAlias, sourceAlias, schemaEvolution,
        declaredSchema))
  }

  /** DELETE every live row matching `cond` through the [[dml]]
    * pipeline: copy-on-write rewrites only the files that hold a
    * match; `mor = true` tombstones the rows via deletion vectors and
    * rewrites nothing. Candidates narrow from metadata first: ranges
    * and equality probes implied by `cond`'s own `col <op> literal`
    * conjuncts are DERIVED automatically ([[SnapshotTable.derivePreds]]).
    * An equality's bloom probe is the right-to-erasure shape: deleting
    * one id from an UNCLUSTERED table, where min/max ranges prune
    * nothing, touches only the bloom-hit file(s); files without a
    * sidecar for the column stay candidates (pruning is never wrong,
    * only incomplete). `statCols`/`bloomCols` re-record pruning
    * metadata for rewritten files, exactly like [[compact]]. The commit is scoped to the touched files. Returns
    * the committed version, or 0 when no live row matched (no empty
    * commit; re-deleting tombstoned rows is such a no-op). */
  def deleteWhere(cond: Column, statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01,
      mor: Boolean = false): Int =
    dml("deleteWhere", mor, statCols, bloomCols, bloomFpp) { (_, _) =>
      DmlVerb(dmlCandidates(_, cond), DmlMatch.Where(cond), DmlCommit.Scoped)
    }

  /** Targeted atomic overwrite — the Delta `replaceWhere` contract:
    * delete every live row matching `cond` AND insert `df0`, in ONE
    * keyed commit through the [[dml]] pipeline (readers see either the
    * old state or the fully replaced one, never the gap; `mor = true`
    * tombstones instead of rewriting). The write-side idiom for
    * "recompute partition k" pipelines; with the recorded layout
    * ([[SnapshotTable.PartitionColsProp]]) the inserted slab clusters
    * on the partition columns and the result is exactly a
    * partition-overwrite, without a directory layout.
    *
    * By default every inserted row must itself satisfy `cond` —
    * refused BEFORE anything commits, with the staging cleaned and no
    * sidecar written (the guard that keeps "replace k = 3" from
    * smuggling rows into other slabs; Delta's replaceWhere constraint
    * check). `validate = false` opts out.
    *
    * The commit is keyed and UNSCOPED, plus predicate-guarded against
    * blind appends: any interleaved writer whose commit may add rows
    * matching `cond` conflicts (this plan decided such rows lived only
    * in the affected files) — keyed and remove-bearing interleaves
    * always, add-only interleaves unless their recorded file stats
    * PROVE disjointness from `cond` (the Delta ConcurrentAppendException
    * rule; a provably-disjoint slab append still commutes). A no-match
    * replace still inserts (one commit); empty `df0` with matches is a
    * delete; neither = 0, no commit. Returns the committed version. */
  def replaceWhere(df0: DataFrame, cond: Column,
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01, validate: Boolean = true,
      partitionBy: Seq[String] = Nil, mor: Boolean = false): Int =
    dml("replaceWhere", mor, statCols, bloomCols, bloomFpp) { (_, _) =>
      DmlVerb(dmlCandidates(_, cond), DmlMatch.Where(cond),
        DmlCommit.Guarded(cond), inserts = Some(df0),
        layout = Some(partitionBy), validate = validate)
    }

  /** UPDATE every live row matching `cond` with the `set` assignments
    * (`column -> new-value expression`, evaluated per row) through the
    * [[dml]] pipeline — the completion of [[deleteWhere]], with the
    * same derived candidate narrowing and the same scoped commit.
    * Copy-on-write rewrites the files that hold a match, non-matching
    * rows passing through; `mor = true`
    * tombstones the matched rows and appends their updated copies,
    * taken from the DV-applied scan (a row an earlier MoR delete
    * tombstoned cannot resurrect as an "updated" copy). Every
    * assignment casts back to the column's existing type, so the table
    * schema is invariant under UPDATE (widen with an append, not an
    * update); mapped tables address the LOGICAL name. Returns the
    * committed version, or 0 when no live row matched. */
  def updateWhere(cond: Column, set: Seq[(String, Column)],
      statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01,
      mor: Boolean = false): Int = {
    require(set.nonEmpty,
      s"updateWhere${if (mor) "MoR" else ""} needs at least one assignment")
    dml("updateWhere", mor, statCols, bloomCols, bloomFpp) { (_, _) =>
      DmlVerb(dmlCandidates(_, cond), DmlMatch.Where(cond), DmlCommit.Scoped,
        set = set)
    }
  }

  /** Keep-latest through the [[dml]] pipeline's REWRITE step: among
    * the live rows matching `cond` and the `inserts` matching it, keep
    * one row per `keys` — the one ranking first by `precedence`,
    * descending ([[graft.operators.KeepLatestDedup]]) — and carry every
    * other row of the rewritten files (and every other insert) through.
    * Only the files holding a matched row are rewritten, with
    * `statCols` recorded; with none, the commit adds just the inserts'
    * survivors. So a batch that lands through here is never visible
    * next to a row it supersedes. The commit is keyed and unscoped: an
    * interleaved rewrite or keyed commit forces a recompute from the
    * new head, while a blind append commutes (its rows wait for the
    * next keep-latest). A `tag` makes the verb idempotent: an already
    * committed tag returns 0 with nothing read, and otherwise the tag
    * rides the commit even when nothing changed. Returns the committed
    * version, or 0 when nothing matched and nothing was inserted. */
  private[graft] def keepLatestWhere(cond: Column, keys: Seq[String],
      precedence: Seq[Column], statCols: Seq[String],
      inserts: Option[DataFrame] = None, tag: Option[String] = None): Int =
    if (tag.exists(committedTags.contains)) 0
    else dml("keepLatestWhere", mor = false, statCols, Nil, 0.01) { (_, _) =>
      DmlVerb(dmlCandidates(_, cond),
        DmlMatch.KeepLatest(cond, keys, precedence, inserts),
        if (tag.isDefined) DmlCommit.Always else DmlCommit.Unscoped, tag = tag)
    }

  /** Rerun-repair swap through the [[dml]] pipeline's REWRITE step:
    * every live row matching `cond` is replaced by `df`, the other rows
    * of the rewritten files are carried through, `statCols` recorded.
    * Unlike [[replaceWhere]] the commit is keyed and unscoped with no
    * append guard: `df` is computed by the caller before the swap, so
    * a guarded retry would re-insert it over a row a blind append
    * landed meanwhile — here that row commutes and survives. Returns
    * the committed version. */
  private[graft] def swapWhere(df: DataFrame, cond: Column,
      statCols: Seq[String]): Int =
    dml("swapWhere", mor = false, statCols, Nil, 0.01) { (_, _) =>
      DmlVerb(dmlCandidates(_, cond), DmlMatch.Where(cond),
        DmlCommit.Unscoped, inserts = Some(df))
    }

  /** The one DML pipeline behind [[deleteWhere]], [[updateWhere]],
    * [[replaceWhere]], [[merge]] and [[mergeInto]] (SQL `DELETE`,
    * `UPDATE`, `INSERT … REPLACE WHERE` and `MERGE INTO`), and behind
    * the fact store's keep-latest batch commit and rerun repair
    * ([[keepLatestWhere]], [[swapWhere]]).
    * Each attempt pins ONE base version and its replayed state (a
    * second resolution could land on a concurrent writer's version)
    * and builds the verb's parts from them (`verb`: a merge's
    * candidates, cardinality check and inserts read the pinned
    * state), narrows the live files to
    * candidates from metadata, and finds the matched rows with the
    * verb's matcher. `name` is the retried and recorded op; the
    * tombstone step appends `MoR`. Then one of two write steps runs:
    *
    *  - REWRITE (copy-on-write, the default): one column-pruned scan of
    *    the candidates finds the files that actually hold a match, and
    *    only those are rewritten — their unmatched rows, the changed
    *    copies and the inserts stage with stats and blooms, the affected
    *    files are removed. A point change to a 10k-file table rewrites one
    *    file; a rewritten file that carried a deletion vector
    *    materializes it.
    *  - TOMBSTONE (merge-on-read, `mor`): matched rows are marked deleted
    *    in deletion-vector sidecars ([[buildMorTombstonesBy]]) and no
    *    data file is rewritten; only the changed copies and the inserts
    *    stage, and the commit records the sidecars, a plain remove for
    *    every file whose tombstones now cover all its rows, and the
    *    protocol bump. A trickle change to a table of 1 GB files costs
    *    one small file plus a few-hundred-byte sidecar per affected
    *    file where the rewrite costs every affected file in full. The
    *    trade is the standard MoR one: reads of DV-bearing files pay an
    *    anti-join against the sidecar rows until a rewrite
    *    ([[compact]], [[compactSmall]], [[materializeDeletes]], a
    *    copy-on-write verb) materializes them. Inserts stage BEFORE the
    *    sidecars are written (a refused insert leaves none behind);
    *    changed copies stage only once a tombstone landed (a no-op
    *    update runs no write job).
    *
    * Both steps produce the same table contents on the same inputs and
    * commit ONE keyed version under the verb's [[DmlCommit]] policy;
    * untouched files stay shared with older snapshots, which still read
    * the prior rows. A matched-file path that does not normalize back
    * into the candidate set fails the attempt rather than commit a
    * remove of a file the manifest does not hold. */
  private def dml(name: String, mor: Boolean, statCols: Seq[String],
      bloomCols: Seq[String], bloomFpp: Double)(
      verb: (Int, SnapshotTable.TableState) => DmlVerb): Int = {
    import org.apache.spark.sql.functions.col
    val op = if (mor) name + "MoR" else name
    retryingOnConflict(op) {
      val base = currentVersion
      val state = replayStateFull(base)
      val v = verb(base, state)
      val requireCond = v.matcher match {
        case DmlMatch.Where(cond) if v.validate => Some((cond,
          s"$op on $root: the incoming frame contains row(s) that do NOT " +
            "satisfy the replace condition — they would silently land " +
            "outside the replaced slab. Fix the frame or pass validate = " +
            "false to opt out (the Delta constraint check contract)"))
        case _ => None
      }
      val candidates = if (state.live.isEmpty) Nil else v.candidates(state)
      // refuse a bad assignment before either write step writes a file
      if (v.set.nonEmpty) state.schema.foreach(js =>
        checkAssignments(op, parseSchema(js).fieldNames.toSeq, v.set))
      def qualified(f: String) = fs.makeQualified(new Path(f)).toString
      // stages the slabs in order; stat/bloom columns follow the first
      // frame (the inserts' shape when there are any)
      def stage(slabs: Seq[(DataFrame, Boolean)],
          layoutCols: Seq[String] = Nil): Staged =
        slabs.headOption.fold(noneStaged) { case (first, _) =>
          val sc = (effCols(state.props, statCols, SnapshotTable.StatColsProp,
            first) ++ layoutCols).distinct
          val bc = effCols(state.props, bloomCols,
            SnapshotTable.BloomColsProp, first)
          val s = slabs.map { case (df, checked) =>
            val (f, st, ss, n, sz, nl) = stageFilesWithStats(df, sc,
              countFiles = bc.nonEmpty,
              requireCond = requireCond.filter(_ => checked))
            Staged(f, st, ss, n, sz, nl)
          }.reduce(_ ++ _)
          s.copy(blooms = buildBlooms(s.files, bc, bloomFpp, s.counts),
            schema = Some(first.schema.json))
        }
      def laidOut(df: DataFrame, fill: Boolean = true) = v.layout.fold(
        (df, Seq.empty[String], Seq.empty[(String, Option[String])]))(
        applyLayout(df, _, state.props, fillGenerated = fill))
      val (staged, remove, dvs, touched, layoutProp, shape) =
        if (!mor) {
          val affected =
            if (candidates.isEmpty) Nil
            else {
              val found = v.matcher.hit(readFilesWithSource(candidates,
                Some(base))).select(col("__src_file")).distinct().collect()
                .map(r => qualified(r.getString(0))).toSeq
              val cands = candidates.map(qualified).toSet
              require(found.forall(cands.contains),
                s"$name: matched file outside the live set (path normalization)")
              found
            }
          val rows = if (affected.isEmpty) None
            else Some(readFiles(affected, Some(base)))
          val kept = v.matcher match {
            case k: DmlMatch.KeepLatest => k.survivors(rows)
            case w: DmlMatch.Where if v.set.nonEmpty =>
              rows.map(assigned(op, _, v.set, Some(w.isTrue)))
            case m => rows.map(rows =>
              m.copies.foldLeft(m.miss(rows))((k, c) => k.unionAll(c(rows))))
          }
          val (slabs, layoutCols, layoutProp) = v.inserts match {
            case None => (kept.toSeq.map(_ -> false), Nil, Nil)
            case Some(ins) if v.layout.isEmpty =>
              (Seq(kept.fold(ins)(_.select(ins.columns.map(col): _*)
                .unionAll(ins)) -> false), Nil, Nil)
            case Some(ins) =>
              // kept rows carry the table shape: unionByName against
              // their EMPTY prefix refuses a mismatched frame with
              // Spark's own error and aligns the inserts to the table
              // order; with nothing kept, reorder by the recorded schema
              // so a column-order difference cannot pass for a schema
              // change
              val aligned = kept.map(_.limit(0).unionByName(ins)).getOrElse {
                state.schema.map(parseSchema) match {
                  case Some(ts) if ts.fieldNames.map(_.toLowerCase).sorted
                      .sameElements(ins.schema.fieldNames.map(_.toLowerCase).sorted) =>
                    ins.select(ts.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
                  case _ => ins
                }
              }
              val (laid, lc, lp) = laidOut(aligned)
              // kept rows are EXISTING data: clustered, but never
              // generated-filled (pre-declaration NULLs are data)
              (Seq(laid -> true) ++ kept.map(laidOut(_, fill = false)._1 -> false),
                lc, lp)
          }
          (stage(slabs, layoutCols), affected, Nil, affected, layoutProp, None)
        } else {
          val (ins, layoutCols, layoutProp) = v.inserts.map(laidOut(_))
            .fold((Seq.empty[DataFrame], Seq.empty[String],
              Seq.empty[(String, Option[String])])) {
              case (df, lc, lp) => (Seq(df), lc, lp) }
          val stagedIns = stage(ins.map(_ -> true), layoutCols)
          val (full, partial, changed) =
            if (candidates.isEmpty) (Nil, Nil, Nil)
            else buildMorTombstonesBy(state, candidates, v.matcher.hit)
          // changed copies from the DV-APPLIED scan: only live matches
          lazy val live = applyDv(state, rawReadFiles(state, candidates),
            candidates)
          val (updated, copies) =
            if (changed.isEmpty) (None, None)
            else if (v.set.nonEmpty)
              (Some(assigned(op, v.matcher.hit(live), v.set, None)), None)
            else (None, v.matcher.copies.map(_(live)))
          // merge-on-read leaves every untouched file live: the recorded
          // schema of what the verb adds in its own shape (inserts, clause
          // copies) unions with the prior one, append-shaped
          val shape = (v.inserts.toSeq ++ copies).reduceOption(_ unionAll _)
          (stagedIns ++ stage((updated ++ copies).toSeq.map(_ -> false)),
            full, partial, changed,
            layoutProp ++ (if (partial.nonEmpty)
              protocolBump(state.props, 2, 2) else Nil), shape)
        }
      if (touched.isEmpty && staged.files.isEmpty &&
          v.policy != DmlCommit.Always) 0
      else commit(staged.files, remove, v.tag, stats = staged.stats,
        base = base, keyed = true, op = op,
        schema = if (shape.isDefined) None else staged.schema,
        schemaTransform = shape.map { df =>
          val json = SnapshotTable.stripPhysical(df.schema.json)
          (at: Int) => resolveSchema(json, at)
        },
        sstats = staged.sstats, blooms = staged.blooms, sizes = staged.sizes,
        rows = staged.counts.toSeq.sortBy(_._1), nulls = staged.nulls,
        dvs = dvs, props = layoutProp,
        scope = if (v.policy == DmlCommit.Scoped) Some(touched) else None,
        addGuard = v.policy match {
          case DmlCommit.Guarded(c) => Some(c)
          case _ => None
        })
    }
  }

  /** `frame` with the `set` assignments (`column -> value`, names
    * matched case-insensitively) applied to every row, or only where
    * `onlyIf` holds; each value casts to its column's type, so an
    * UPDATE never changes the schema. */
  private def assigned(op: String, frame: DataFrame,
      set: Seq[(String, Column)], onlyIf: Option[Column]): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    checkAssignments(op, frame.schema.fieldNames.toSeq, set)
    val byName = set.map { case (c, e) => c.toLowerCase -> e }.toMap
    frame.select(frame.schema.fields.map { f =>
      byName.get(f.name.toLowerCase) match {
        case Some(e) =>
          val v = e.cast(f.dataType)
          onlyIf.fold(v)(when(_, v).otherwise(col(f.name))).as(f.name)
        case None => col(f.name)
      }
    }.toSeq: _*)
  }

  /** Refuses `set` when it repeats a target or names a column not in
    * `have` (names matched case-insensitively). */
  private def checkAssignments(op: String, have: Seq[String],
      set: Seq[(String, Column)]): Unit = {
    require(set.map(_._1.toLowerCase).distinct.size == set.size,
      s"$op: duplicate assignment target")
    val unknown = set.map(_._1).filterNot(c => have.exists(_.equalsIgnoreCase(c)))
    require(unknown.isEmpty, s"$op: no such column(s) " +
      s"${unknown.mkString(", ")} (have ${have.mkString(", ")})")
  }

  /** The tombstone write step of [[dml]]: union deletion-vector
    * sidecars for the rows of `candidates` that `matcher` keeps at
    * `state`, written on executors. The matcher (a condition filter, a
    * semi-join against merge keys, or MERGE's clause matcher) receives
    * the RAW candidate scan with `__name`/`__ridx` already materialized
    * from the file metadata (hidden `_metadata` columns do not survive
    * a join) and must only FILTER rows, never alter those columns.
    * Returns `(fullFileRemoves, partialDvRecords, changedFiles)` —
    * empty `changedFiles` = no live row matched (nothing to commit).
    *
    * Sidecars are immutable under `_index/` (`<file>.dv-<id>`): a second
    * tombstone on the same file writes a NEW sidecar holding the UNION
    * of tombstoned row indexes and repoints the manifest entry; replay
    * keeps the latest per file, superseded generations are
    * vacuum-swept. A mass delete's row indexes never ride the driver:
    * its traffic is one (file, sidecar, count) summary per affected
    * file. Two racing MoR writers union correctly because the keyed
    * loser retries from the winner's sidecar. */
  private[sources] def buildMorTombstonesBy(state: SnapshotTable.TableState,
      candidates: Seq[String], matcher: DataFrame => DataFrame)
      : (Seq[String], Seq[(String, String, Long)], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    // RAW scan (no DV application): the new sidecar must hold
    // the UNION of old and new tombstones, and the matcher may
    // re-match rows a prior DV already covers — union dedups them
    val matched = matcher(rawReadFiles(state, candidates)
      .select(col("*"),
        element_at(split(col("_metadata.file_path"), "/"), -1)
          .as("__name"),
        col("_metadata.row_index").as("__ridx")))
      .select(col("__name"), col("__ridx"))
    val existing = candidates.filter(state.dvs.contains)
    val all =
      if (existing.isEmpty) matched
      else matched.unionAll(
        dvFrame(existing.map(f => f -> state.dvs(f)._1))
          .select(col("__dv_name").as("__name"),
            col("__dv_ridx").as("__ridx")))
    // one immutable sidecar per affected file, written IN the
    // task (conf ships as strings — the bloomSurvivors pattern)
    val idxRoot = indexDir.toString
    val confMap: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = Array.newBuilder[(String, String)]
      while (it.hasNext) {
        val e = it.next(); buf += ((e.getKey, e.getValue))
      }
      buf.result()
    }
    fs.mkdirs(indexDir)
    val strEnc = org.apache.spark.sql.Encoders.STRING
    val outEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong)
    val pairEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong)
    val summaries = all.distinct()
      .as[(String, Long)](pairEnc)
      .groupByKey(_._1)(strEnc)
      .mapGroups { (name, it) =>
        val rows = Array.newBuilder[Long]
        it.foreach(rows += _._2)
        val arr = rows.result()
        val sidecar = s"$name.dv-${java.util.UUID.randomUUID()
          .toString.take(8)}"
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confMap.foreach { case (k, v2) => conf.set(k, v2) }
        val p = new Path(s"$idxRoot/$sidecar")
        val out = p.getFileSystem(conf).create(p, true)
        try out.write(SnapshotTable.encodeDvBytes(arr))
        finally out.close()
        (name, sidecar, arr.length.toLong)
      }(outEnc)
      .collect() // bounded: one row per AFFECTED FILE
    val byName = candidates.map(f => new Path(f).getName -> f).toMap
    require(byName.size == candidates.size,
      "MoR tombstones need unique live file names (import guard)")
    // per-file row totals: a DV that covers EVERY row of a file
    // converts to a plain manifest REMOVE — the file leaves the
    // live set instead of surviving as a 100% tombstone that
    // every read must anti-join against forever. Totals come
    // from the manifest `rows` channel (metadata-only — no
    // second data scan in the no-rewrite verb); only files
    // committed before row tracking fall back to a name-only
    // count over JUST those files
    val affectedNames = summaries.map(_._1).toSet
    val affectedFiles = affectedNames.toSeq.flatMap(byName.get)
    val tracked: Map[String, Long] = affectedFiles.flatMap(f =>
      state.rows.get(f).map(new Path(f).getName -> _)).toMap
    val untracked = affectedFiles.filter(f =>
      !tracked.contains(new Path(f).getName))
    val totals: Map[String, Long] =
      if (untracked.isEmpty) tracked
      else {
        morCountScans += 1
        import org.apache.spark.sql.functions.{count, lit}
        tracked ++ rawReadFiles(state, untracked)
          .groupBy(element_at(
            split(col("_metadata.file_path"), "/"), -1).as("__n"))
          .agg(count(lit(1)).as("__c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    // only files whose tombstone count GREW commit — a re-delete
    // of covered rows must not burn a version
    val changed = summaries.toSeq.flatMap { case (name, sc, n) =>
      byName.get(name).filter(f =>
        !state.dvs.get(f).map(_._2).contains(n))
        .map(f => (f, sc, n))
    }.sortBy(_._1)
    val (full, partial) = changed.partition { case (f, _, n) =>
      totals.get(new Path(f).getName).contains(n)
    }
    (full.map(_._1), partial, changed.map(_._1))
  }

  /** Materialize merge-on-read deletes: rewrite ONLY the live files
    * carrying a deletion vector (read through the DV-applying scan, so
    * tombstoned rows drop out) and swap them in one keyed commit — the
    * PURGE half of the MoR lifecycle. After it, reads pay no anti-join
    * and vacuum can reclaim the superseded sidecars. Files without a
    * DV are untouched at any table size; no DVs = no commit (returns
    * 0). `statCols`/`bloomCols` re-record pruning metadata for the
    * rewritten files, like every other rewrite. */
  def materializeDeletes(statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01): Int =
    retryingOnConflict("materializeDeletes") {
      val base = currentVersion
      if (base == 0) 0
      else {
        val state = replayStateFull(base)
        val affected = state.live.filter(state.dvs.contains)
        if (affected.isEmpty) 0
        else {
          val survivors = applyDv(state, rawReadFiles(state, affected),
            affected)
          val sc = effStatCols(statCols, survivors)
          val bc = effBloomCols(bloomCols, survivors)
          val (staged, stats, sstats, counts, sizes, nullsCh) =
            stageFilesWithStats(survivors, sc,
              countFiles = bc.nonEmpty)
          val blooms = buildBlooms(staged, bc, bloomFpp, counts)
          commit(staged, affected, stats = stats, base = base, keyed = true,
            op = "materializeDeletes",
            schema = Some(survivors.schema.json), sstats = sstats,
            blooms = blooms, sizes = sizes,
            rows = counts.toSeq.sortBy(_._1), nulls = nullsCh, scope = Some(affected))
        }
      }
    }

  /** Row-level change-data-capture between two snapshots, as a frame
    * with a `_change` column (`insert` / `delete`).
    *
    * Fast path: when no manifest in `(fromVersion, toVersion]` removes
    * files (append-only history), the delta is EXACTLY the rows of the
    * files added in the range — a file-pruned scan, no shuffle at all,
    * which is what makes incremental consumers (a downstream dedup
    * probe, a rollup refresh) cheap at any table size. With removals
    * in range (compaction, rewrites) file identity no longer implies
    * row identity, so it falls back to the exact two-sided
    * `exceptAll` — a compaction-only range correctly diffs to empty. */
  def diff(fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(0 <= fromVersion && fromVersion <= toVersion &&
      toVersion <= currentVersion,
      s"bad diff range [$fromVersion, $toVersion] vs current $currentVersion")
    // no from == to carve-out: the body replays toVersion either way,
    // which throws the retention error below the floor — requiring the
    // floor up front keeps the error message consistent for all shapes
    require(fromVersion >= retentionFloor,
      s"diff from $fromVersion needs manifests below the log-retention " +
        s"floor $retentionFloor of $root (deleted by vacuumLog)")
    val manifests = (fromVersion + 1 to toVersion).map(readManifest)
    // a deletion-vector commit removes ROWS with an empty remove set,
    // so the append-only fast path must also rule out dv entries in
    // the range — otherwise a MoR delete would diff to empty
    val anyDv = manifests.exists(_.dvs.nonEmpty)
    // both sides read under toVersion's RECORDED schema: a widened
    // append inside the range otherwise leaves `from` and `to` with
    // different column sets (exceptAll refuses) and lets the fast
    // path's footer sampling drop the new column from the CDC; under
    // one schema, pre-widening rows null-fill and a widened re-insert
    // of the same narrow row correctly diffs as a change
    if (!anyDv && manifests.forall(_.remove.isEmpty)) {
      val added = manifests.flatMap(_.add)
      val rows =
        if (added.nonEmpty) readFiles(added, Some(toVersion))
        else read(Some(toVersion)).limit(0)
      rows.withColumn("_change", lit("insert"))
    } else {
      // from side: toVersion's SCHEMA (both sides must align for
      // exceptAll) but fromVersion's DELETION VECTORS — applying
      // toVersion's DVs to the from side would hide rows a MoR delete
      // tombstoned inside the range, diffing them to nothing instead
      // of `delete`
      val stFrom = replayStateFull(fromVersion)
      val stTo = replayStateFull(toVersion)
      val fromFiles = stFrom.live
      val from =
        if (fromFiles.nonEmpty)
          applyDv(stFrom, rawReadFiles(stTo, fromFiles), fromFiles)
        else read(Some(toVersion)).limit(0)
      val to = read(Some(toVersion))
      to.exceptAll(from).withColumn("_change", lit("insert"))
        .unionAll(from.exceptAll(to).withColumn("_change", lit("delete")))
    }
  }

  /** [[versionAt]], except a timestamp BEFORE the earliest resolvable
    * version resolves to 0 ("since table creation") instead of
    * erroring — change-feed starting-timestamp semantics: changes
    * since an instant that predates the table means everything. When
    * history below the earliest version was vacuumed, the error stays
    * (0 would not be replayable), raised by versionAt with the
    * retention context. */
  def versionAtOrStart(timestampMillis: Long): Int = {
    val cur = currentVersion
    if (cur == 0) 0
    else {
      val earliest =
        math.max(1, math.max(retentionFloor, replayFloorV + 1))
      val predates =
        try earliest <= cur && fs.getFileStatus(
          manifestPath(earliest)).getModificationTime > timestampMillis
        catch { case _: java.io.FileNotFoundException => false }
      if (predates && earliest == 1) 0 else versionAt(timestampMillis)
    }
  }

  /** Whether any commit in `(fromVersion, toVersion]` removed files or
    * touched deletion vectors — the necessary condition for the
    * range's [[diff]] to contain `delete` rows (the same predicate the
    * diff fast path keys on). Metadata-only: O(range) manifest reads,
    * no data IO — the append-only stream source's cheap gate. */
  private[graft] def rangeHasRemovals(fromVersion: Int,
      toVersion: Int): Boolean =
    (fromVersion + 1 to toVersion).exists { v =>
      val m = readManifest(v) // inline: short-circuits on first hit
      m.remove.nonEmpty || m.dvs.nonEmpty
    }

  /** The newest version committed at or before `timestampMillis` —
    * timestamp time travel (Delta's `timestampAsOf`), resolved by
    * BINARY SEARCH over manifest modification times: O(log n) file
    * GETs, no listing, no replay. Commit wall-clocks are
    * nondecreasing in version order up to writer clock skew — same
    * caveat Delta documents for timestamp travel. Only versions whose
    * manifests retention kept (and that sit at or above the retention
    * boundary) are resolvable; asking for a time before the earliest
    * of those fails with a clear error naming it. */
  def versionAt(timestampMillis: Long): Int =
    versionAt0(timestampMillis, retry = true)

  private def versionAt0(timestampMillis: Long, retry: Boolean): Int = try {
    val cur = currentVersion
    require(cur > 0, s"snapshot table $root has no commits")
    def mtime(v: Int): Long =
      fs.getFileStatus(manifestPath(v)).getModificationTime
    // earliest version that is both readable (>= retention boundary)
    // and timestamped (its manifest survived vacuumLog)
    val earliest = math.max(1, math.max(retentionFloor, replayFloorV + 1))
    if (earliest > cur) {
      // retention truncated the log up to a checkpoint sitting exactly
      // at the head: NO timestamped manifest survives, but the head
      // itself still reads via that checkpoint. Its file's wall-clock
      // (written moments after the commit) is the only surviving
      // surrogate — resolve at-or-after it to the head, error before
      val ckptTime = fs.getFileStatus(checkpointPath(cur)).getModificationTime
      require(timestampMillis >= ckptTime,
        s"no snapshot of $root resolvable at or before $timestampMillis: " +
          s"every timestamped manifest was vacuumed; only the head " +
          s"(version $cur, checkpointed $ckptTime) remains")
      return cur
    }
    require(timestampMillis >= mtime(earliest),
      s"no snapshot of $root at or before $timestampMillis: the " +
        s"earliest resolvable version is $earliest " +
        s"(committed ${mtime(earliest)}; older history was vacuumed)")
    var lo = earliest
    var hi = cur
    while (lo < hi) { // invariant: mtime(lo) <= ts; answer in [lo, hi]
      val mid = lo + (hi - lo + 1) / 2
      if (mtime(mid) <= timestampMillis) lo = mid else hi = mid - 1
    }
    lo
  } catch {
    case e: java.io.FileNotFoundException =>
      // a concurrent vacuumLog reaped a manifest between the floor
      // read and an mtime probe (history() handles the same race by
      // skipping) — the floor has moved, so ONE re-resolution against
      // the new floor either succeeds or raises the clean error
      // above; a second miss is genuine corruption, rethrown
      if (retry) versionAt0(timestampMillis, retry = false) else throw e
  }

  /** Read the table as of a wall-clock instant — sugar for
    * `read(Some(versionAt(ts)))`. */
  def readAsOf(timestampMillis: Long): DataFrame =
    read(Some(versionAt(timestampMillis)))

  // ---- table properties + CHECK constraints ---------------------------

  /** Table properties at snapshot `version` (default newest): replayed
    * key→value metadata, latest write per key wins, unsets delete.
    * Carried through checkpoints like every other channel. */
  def properties(version: Option[Int] = None): Map[String, String] = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    replayStateFull(v).props
  }

  /** Set one table property as a metadata-only commit (no data files
    * touched); returns the committed version. Property commits
    * commute with data commits like blind appends. Keys under
    * `constraint.` are reserved: writing one here would install an
    * ENFORCED constraint while skipping [[addCheckConstraint]]'s
    * existing-data validation and syntax check. */
  /** ALTER TABLE ADD COLUMNS: record a WIDENED schema in one
    * metadata-only commit (no data files touched — the add-only
    * schema-resolution branch unions the new fields with the prior
    * schema, exactly like a widening append, and old files null-fill
    * on read). New columns are forced nullable (pre-existing rows
    * have no value to give them); duplicate names refuse. Returns the
    * committed version. */
  def addColumns(fields: Seq[org.apache.spark.sql.types.StructField]): Int = {
    require(fields.nonEmpty, "addColumns needs at least one column")
    val cur = schemaAt(None).getOrElse(
      throw new IllegalStateException(
        s"snapshot table $root has no recorded schema to widen " +
          "(write to it first)"))
    val dup = fields.map(_.name)
      .filter(n => cur.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(dup.isEmpty,
      s"addColumns: column(s) already exist: ${dup.mkString(", ")}")
    // the FULL prior schema rides along: a new-fields-only frame would
    // read to the rename gate as "drops everything while adding" (the
    // drop+add refusal); commit sanitization strips the prior fields'
    // physical mapping and resolveSchema re-derives it
    val widened = org.apache.spark.sql.types.StructType(
      cur.fields ++ fields.map(_.copy(nullable = true)))
    commit(Nil, Nil, schema = Some(widened.json), op = "addColumns")
  }

  def setProperty(key: String, value: String): Int = {
    require(!key.startsWith(SnapshotTable.ConstraintPrefix),
      s"keys under '${SnapshotTable.ConstraintPrefix}' are reserved — " +
        "use addCheckConstraint, which validates existing data")
    require(!key.startsWith(SnapshotTable.ProtocolPrefix),
      s"keys under '${SnapshotTable.ProtocolPrefix}' are reserved — " +
        "use upgradeProtocol, which only raises and serializes races")
    require(!key.startsWith(SnapshotTable.GeneratedPrefix),
      s"keys under '${SnapshotTable.GeneratedPrefix}' are reserved — " +
        "use addGeneratedColumn, which validates the expression")
    setProperty0(key, value)
  }

  private def setProperty0(key: String, value: String,
      op: String = "setProperty"): Int = {
    require(key.nonEmpty, "property key must be non-empty")
    commit(Nil, Nil, props = Seq(key -> Some(value)), op = op)
  }

  /** Record the table's partition LAYOUT (and, for a not-yet-written
    * table, its declared schema) as one metadata-only commit — the
    * `CREATE TABLE ... USING snapshot PARTITIONED BY (...)` landing:
    * the log (the read path's source of truth) learns the layout
    * before any writer runs, so the very first INSERT/CTAS write
    * range-clusters (see [[SnapshotTable.PartitionColsProp]]). */
  /** Declare a table's schema — and optionally its partition layout
    * and user properties — as its FIRST, data-less commit: the V2
    * catalog's `CREATE TABLE` landing ([[SnapshotCatalog]]). KEYED on
    * base 0 like [[createExclusive]], so two racing creators
    * serialize through the commit conflict check — the loser retries,
    * sees the winner's version and surfaces already-exists instead of
    * silently double-creating. Reads before the first INSERT return
    * zero rows of the declared shape (the recorded-schema path). */
  def createEmpty(schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String] = Nil,
      props: Seq[(String, String)] = Nil,
      generated: Seq[(String, String)] = Nil): Int =
    retryingOnConflict("createEmpty") {
      val base = currentVersion
      require(base == 0,
        s"snapshot table $root already exists (version $base)")
      partitionCols.foreach { c =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"PARTITIONED BY column '$c' not in the declared schema " +
            s"(${schema.fieldNames.mkString(", ")})")
      }
      props.foreach { case (k, _) =>
        require(k.nonEmpty, "property key must be non-empty")
        require(!k.startsWith(SnapshotTable.ConstraintPrefix),
          s"keys under '${SnapshotTable.ConstraintPrefix}' are " +
            "reserved — use addCheckConstraint, which validates")
        require(!k.startsWith(SnapshotTable.ProtocolPrefix),
          s"keys under '${SnapshotTable.ProtocolPrefix}' are " +
            "reserved — use upgradeProtocol")
        require(!k.startsWith(SnapshotTable.GeneratedPrefix),
          s"keys under '${SnapshotTable.GeneratedPrefix}' are " +
            "reserved — pass the `generated` argument, which validates")
      }
      // GENERATED ALWAYS AS declarations (the V2 catalog's CREATE
      // TABLE route): validated like addGeneratedColumn — no rows
      // exist yet, so validation is parse + analyze + no-generated-
      // inputs, against the DECLARED schema
      val genNames = generated.map(_._1.toLowerCase).toSet
      generated.foreach { case (c, e) =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"generated column '$c' not in the declared schema")
        val refs =
          try constraintRefs(e)
          catch {
            case ex: org.apache.spark.sql.catalyst.parser.ParseException =>
              throw new IllegalArgumentException(
                s"generated column '$c' expression does not parse: " +
                  ex.getMessage)
          }
        require(!refs.exists(genNames.contains),
          s"generated column '$c' references another generated column " +
            "— generation expressions may only use stored columns")
        try spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .select(org.apache.spark.sql.functions.expr(e)).schema
        catch {
          case ex: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"generated column '$c' ($e) does not analyze against " +
                s"the declared schema: ${ex.getMessage}", ex)
        }
      }
      val layoutProp =
        if (partitionCols.isEmpty) Nil
        else Seq(SnapshotTable.PartitionColsProp ->
          Some(partitionCols.mkString(",")))
      val genProps = generated.map { case (c, e) =>
        SnapshotTable.GeneratedPrefix + c -> Some(e) }
      commit(Nil, Nil, base = base, keyed = true,
        schema = Some(schema.json),
        props = layoutProp ++ genProps ++
          props.map { case (k, v) => k -> Some(v) },
        op = "create")
    }

  def recordLayout(partitionCols: Seq[String],
      declaredSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
    require(partitionCols.nonEmpty, "recordLayout needs partition columns")
    declaredSchema.foreach { s =>
      val missing = partitionCols.filterNot(c =>
        s.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty, "PARTITIONED BY column(s) not in the " +
        s"declared schema: ${missing.mkString(", ")}")
    }
    commit(Nil, Nil, schema = declaredSchema.map(_.json),
      props = Seq(SnapshotTable.PartitionColsProp ->
        Some(partitionCols.mkString(","))),
      op = "create")
  }

  /** Set and/or unset SEVERAL properties as ONE log commit — the
    * multi-key `ALTER TABLE ... SET/UNSET TBLPROPERTIES` shape. One
    * statement = one version: a mid-list failure can never leave the
    * statement half-applied (per-key [[setProperty]] loops could).
    * Every key passes the same reserved-prefix gates as the single-key
    * verbs, validated BEFORE the commit. Returns the committed version
    * (the current one when both lists are empty). */
  def alterProperties(set: Seq[(String, String)],
      unset: Seq[String] = Nil): Int = {
    (set.map(_._1) ++ unset).foreach { key =>
      require(key.nonEmpty, "property key must be non-empty")
      require(!key.startsWith(SnapshotTable.ConstraintPrefix),
        s"keys under '${SnapshotTable.ConstraintPrefix}' are reserved — " +
          "use addCheckConstraint/dropConstraint, which validate")
      require(!key.startsWith(SnapshotTable.ProtocolPrefix),
        s"keys under '${SnapshotTable.ProtocolPrefix}' are reserved — " +
          "use upgradeProtocol, which only raises and serializes races")
    }
    set.map(_._1).foreach { key =>
      require(!key.startsWith(SnapshotTable.GeneratedPrefix),
        s"keys under '${SnapshotTable.GeneratedPrefix}' are reserved — " +
          "use addGeneratedColumn, which validates the expression")
    }
    val dup = set.map(_._1).intersect(unset)
    require(dup.isEmpty,
      s"alterProperties: key(s) both set and unset: ${dup.mkString(", ")}")
    if (set.isEmpty && unset.isEmpty) currentVersion
    else commit(Nil, Nil,
      props = set.map { case (k, v) => k -> Some(v) } ++
        unset.map(_ -> (None: Option[String])),
      op = "alterProperties")
  }

  /** Top-level column names a constraint expression references —
    * unresolved-plan attribute names, lowercased (Spark resolution is
    * case-insensitive by default). Used to decide whether a staged
    * frame can evaluate the constraint at all. */
  private def constraintRefs(sqlExpr: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase
    }

  /** Remove one table property (a tombstone commit); no-op-shaped if
    * the key was never set. */
  def removeProperty(key: String): Int = {
    require(!key.startsWith(SnapshotTable.ProtocolPrefix),
      s"keys under '${SnapshotTable.ProtocolPrefix}' are reserved — " +
        "a protocol requirement is never lowered (history may hold the " +
        "feature that raised it)")
    removeProperty0(key, "removeProperty")
  }

  private def removeProperty0(key: String, op: String): Int =
    commit(Nil, Nil, props = Seq(key -> None), op = op)

  /** The table's protocol requirement `(minReader, minWriter)` at
    * `version` (head when omitted); `(1, 1)` when never raised. */
  def protocol(version: Option[Int] = None): (Int, Int) = {
    val p = properties(version)
    (SnapshotTable.protoOf(p, SnapshotTable.MinReaderProp),
      SnapshotTable.protoOf(p, SnapshotTable.MinWriterProp))
  }

  /** Raise the table's protocol requirement explicitly (the
    * feature-bearing verbs raise it implicitly — see the companion's
    * version ledger). Only upward: a downgrade cannot prove the
    * history holds no commit that needed the higher version. Values
    * ABOVE this library's own [[SnapshotTable.ReaderVersion]]/
    * [[SnapshotTable.WriterVersion]] are accepted — reserving a table
    * for a newer library is the gate's purpose — but make the table
    * unreadable/unwritable by THIS library from the committed version
    * on (older snapshots stay readable: the gate is per-version). A
    * keyed commit, so two racing upgrades serialize instead of
    * last-writer-wins lowering one of them. Returns the committed
    * version (the current one when already at or above). */
  def upgradeProtocol(minReader: Int, minWriter: Int): Int =
    retryingOnConflict("upgradeProtocol") {
      require(minReader >= 1 && minWriter >= 1,
        s"protocol versions start at 1, asked ($minReader, $minWriter)")
      val base = currentVersion
      val (r, w) = protocol(Some(base))
      require(minReader >= r && minWriter >= w,
        s"protocol can only be raised: table at ($r, $w), asked " +
          s"($minReader, $minWriter)")
      if (minReader == r && minWriter == w) base
      else commit(Nil, Nil, base = base, keyed = true,
        op = "upgradeProtocol",
        props = protocolBump(properties(Some(base)), minReader, minWriter))
    }

  /** Add a CHECK constraint: from this commit on, every write —
    * append, merge, overwrite, tagged streaming batch — validates its
    * staged rows against `sqlExpr` and REJECTS the commit (cleaning
    * its staging) if any row evaluates FALSE; NULL passes, as in SQL
    * CHECK and Delta constraints. The EXISTING table must already
    * satisfy the constraint (one column-pruned scan here — the Delta
    * `ALTER TABLE ADD CONSTRAINT` contract), so a reader can trust it
    * for the whole table, not just new rows.
    *
    * Caveat (same as the engines this mirrors): a write already
    * staged when the constraint lands may commit unvalidated —
    * enforcement reads the properties at ITS staging time. */
  def addCheckConstraint(name: String, sqlExpr: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty && !name.contains("|"),
      s"bad constraint name '$name'")
    // the expression must PARSE now — installing a malformed one
    // would brick every later write until dropConstraint
    try spark.sessionState.sqlParser.parseExpression(sqlExpr)
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"constraint '$name' does not parse: ${e.getMessage}")
    }
    val st = replayStateFull(currentVersion)
    try {
      if (st.live.nonEmpty) {
        // existing rows must satisfy the constraint (one scan)
        val bad = read(None)
          .filter(not(coalesce(expr(sqlExpr), lit(true)))).limit(1).count()
        if (bad > 0) throw new SnapshotTable.ConstraintViolation(
          s"cannot add CHECK constraint '$name' ($sqlExpr) on $root: " +
            "existing rows violate it")
      } else st.schema.foreach { sc =>
        // empty table with a recorded schema: ANALYZE the expression
        // against it (zero-row plan) so an unresolvable column fails
        // at install time, not on the first write
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.DataType.fromJson(sc)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        empty.filter(expr(sqlExpr)).count()
      }
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"constraint '$name' ($sqlExpr) does not analyze against the " +
            s"table's schema: ${e.getMessage}", e)
    }
    setProperty0(SnapshotTable.ConstraintPrefix + name, sqlExpr,
      op = "addConstraint")
  }

  /** Drop a CHECK constraint; writes stop validating it. */
  def dropConstraint(name: String): Int =
    removeProperty0(SnapshotTable.ConstraintPrefix + name, "dropConstraint")

  /** Declare `name` GENERATED ALWAYS AS (`sqlExpr`) — the Delta
    * generated-column idiom (see [[SnapshotTable.GeneratedPrefix]] for
    * the write/validate semantics). Two shapes, one commit each:
    *
    *  - `name` already in the schema: existing rows must satisfy
    *    `name <=> (sqlExpr)` (one validating scan, like
    *    [[addCheckConstraint]]) — "declare this column derived".
    *  - `name` absent: the schema WIDENS with the expression's
    *    analyzed type ([[addColumns]] semantics — pre-existing rows
    *    read NULL for it and predate enforcement; every write from
    *    this commit on computes or validates it).
    *
    * The expression may not reference itself or another generated
    * column (the fill is one pass, not a fixpoint). MERGE/UPDATE
    * clauses that assign the column inconsistently REFUSE at staging
    * via the synthesized check rather than silently recomputing —
    * assign it correctly or omit it from the frame. */
  def addGeneratedColumn(name: String, sqlExpr: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty, "generated column needs a name")
    try spark.sessionState.sqlParser.parseExpression(sqlExpr)
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"generated column '$name' expression does not parse: " +
            e.getMessage)
    }
    val st = replayStateFull(currentVersion)
    val props = st.props
    val gens = SnapshotTable.generatedColsOf(props).map(_._1.toLowerCase)
    require(!gens.contains(name.toLowerCase),
      s"column '$name' is already generated on $root")
    val refs = constraintRefs(sqlExpr)
    require(!refs.contains(name.toLowerCase),
      s"generated column '$name' cannot reference itself")
    val genRef = refs.filter(gens.contains)
    require(genRef.isEmpty,
      s"generated column '$name' references generated column(s) " +
        s"${genRef.mkString(", ")} — generation expressions may only " +
        "use stored columns (the fill is one pass, not a fixpoint)")
    val schema = schemaAt(None).getOrElse(throw new IllegalStateException(
      s"snapshot table $root has no recorded schema — write to it (or " +
        "createEmpty) before declaring generated columns"))
    val genProp = Seq(
      SnapshotTable.GeneratedPrefix + name -> Some(sqlExpr))
    if (schema.fieldNames.exists(_.equalsIgnoreCase(name))) {
      // declare an EXISTING column derived: history must already agree
      if (st.live.nonEmpty) {
        val bad = read(None).filter(not(coalesce(
          expr(s"`$name` <=> ($sqlExpr)"), lit(true)))).limit(1).count()
        if (bad > 0) throw new SnapshotTable.ConstraintViolation(
          s"cannot declare '$name' generated as ($sqlExpr) on $root: " +
            "existing rows disagree with the expression")
      }
      commit(Nil, Nil, props = genProp, op = "addGeneratedColumn")
    } else {
      // NEW column: type = the expression's analyzed type; analysis
      // against the recorded schema also surfaces unresolvable inputs
      // at declare time, not on the first write
      val dt =
        try spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .select(expr(sqlExpr)).schema.head.dataType
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"generated column '$name' ($sqlExpr) does not analyze " +
                s"against the table's schema: ${e.getMessage}", e)
        }
      val widened = org.apache.spark.sql.types.StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(name, dt, nullable = true))
      commit(Nil, Nil, schema = Some(widened.json), props = genProp,
        op = "addGeneratedColumn")
    }
  }

  /** Un-declare a generated column: the fill and its synthesized
    * check stop; the column itself stays in the schema (drop it
    * separately with [[dropColumn]] if unwanted). */
  def dropGeneratedColumn(name: String): Int =
    removeProperty0(SnapshotTable.GeneratedPrefix + name,
      "dropGeneratedColumn")

  /** Active CHECK constraints (name → expression) at the newest
    * snapshot — stored ones plus the `__gen_<col>` checks synthesized
    * from generated-column declarations (see
    * [[SnapshotTable.GeneratedPrefix]]): every enforcement consumer
    * (staging validation, drop/rename gates) sees ONE surface. */
  def checkConstraints: Map[String, String] = {
    val props = properties()
    props.collect {
      case (k, v) if k.startsWith(SnapshotTable.ConstraintPrefix) =>
        k.stripPrefix(SnapshotTable.ConstraintPrefix) -> v
    } ++ SnapshotTable.generatedChecksOf(props)
  }

  /** Diagnostic counter: per-file `getFileStatus` calls [[detail]] has
    * issued — the legacy fallback for files committed before size
    * tracking. A size-tracked table must report total bytes with ZERO
    * of these (the spec pins it): at 10⁵–10⁶ live files on an object
    * store, per-file HEADs turn DESCRIBE DETAIL into minutes of
    * driver IO. */
  private[graft] var fileStatCalls: Long = 0L

  /** Diagnostic counter: fallback data scans MoR tombstoning ran to
    * total rows of files with no manifest row count (legacy files) —
    * specs pin it to 0 on a count-tracked table. */
  private[graft] var morCountScans: Long = 0L

  /** Diagnostic counter: staging write jobs run — specs pin that a
    * no-op MoR [[updateWhere]] (cond matching only tombstoned rows)
    * runs ZERO write jobs. */
  private[graft] var stagingRuns: Long = 0L

  /** One-row operational summary — the DESCRIBE DETAIL shape:
    * version, live file count and total bytes, committed-tag count,
    * properties and constraints (sorted `k=v`), retention
    * floor/boundary, and the newest checkpoint version. Total bytes
    * sum from the manifest-recorded per-file sizes in replay state —
    * zero data-file IO; only files committed BEFORE size tracking fall
    * back to a driver `getFileStatus` (a vanished legacy/imported file
    * counts 0). */
  def detail(): DataFrame = {
    val v = currentVersion
    val state = replayStateFull(v) // v == 0 replays to the empty state
    val bytes = state.live.map(f => state.sizes.getOrElse(f, statLen(f))).sum
    val (cs, ps) = state.props.toSeq.sorted.partition(
      _._1.startsWith(SnapshotTable.ConstraintPrefix))
    spark.createDataFrame(Seq(SnapshotTable.DetailRow(
      version = v,
      num_files = state.live.size,
      size_bytes = bytes,
      num_tags = state.tags.size,
      properties = ps.map { case (k, pv) => s"$k=$pv" },
      constraints = cs.map { case (k, e) =>
        s"${k.stripPrefix(SnapshotTable.ConstraintPrefix)}=$e" },
      retention_floor = retentionFloor,
      // through checkpointAtOrBelow, not the raw pointer: the pointer
      // is a best-effort accelerator and may be absent/corrupt while
      // checkpoints exist on disk — same fallback every reader has
      checkpoint = checkpointAtOrBelow(v),
      // merge-on-read debt: files carrying a deletion vector and the
      // total tombstoned rows — the OPTIMIZE trigger an operator reads
      num_dv_files = state.live.count(state.dvs.contains),
      dv_tombstones = state.live.flatMap(state.dvs.get).map(_._2).sum,
      // LOGICAL live rows (physical minus tombstoned), metadata-only
      // from the manifest `rows` channel; None when any live file
      // predates row tracking — never a data scan in DESCRIBE DETAIL
      num_rows =
        if (state.live.forall(state.rows.contains))
          Some(state.live.map(state.rows).sum -
            state.live.flatMap(state.dvs.get).map(_._2).sum)
        else None,
      min_reader = SnapshotTable.protoOf(state.props,
        SnapshotTable.MinReaderProp),
      min_writer = SnapshotTable.protoOf(state.props,
        SnapshotTable.MinWriterProp))))
  }

  /** Per-file metadata of snapshot `version` (default head) — the
    * Iceberg `files`-metadata-table shape, METADATA-ONLY: everything
    * comes from replay state (manifest channels), zero data-file IO.
    * One row per LIVE file: path, recorded size and row count (null
    * for files predating tracking), deletion-vector tombstone count,
    * recorded long-stat ranges (`col=[lo,hi]` strings, sorted),
    * bloom-sidecar'd columns, and per-column null counts — the ops
    * surface for answering "why didn't this prune" / "which files
    * carry MoR debt" without scanning anything. */
  def snapshotFiles(version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion)
    require(v >= 0 && v <= currentVersion,
      s"snapshot $v does not exist (current ${currentVersion})")
    val state = replayStateFull(v)
    // ONE pass per channel grouping by file — a per-file filter over
    // the whole stat map would be O(files x stats), quadratic at the
    // 100k-file scale this view exists for
    val statsBy = state.stats.toSeq.groupBy(_._1._1)
    val sstatsBy = state.sstats.toSeq.groupBy(_._1._1)
    val bloomsBy = state.blooms.toSeq.groupBy(_._1)
    val nullsBy = state.nulls.toSeq.groupBy(_._1._1)
    val rows = state.live.map { f =>
      SnapshotTable.FileInfo(
        path = f,
        size_bytes = state.sizes.get(f),
        row_count = state.rows.get(f),
        dv_tombstones = state.dvs.get(f).map(_._2).getOrElse(0L),
        stats = statsBy.getOrElse(f, Nil).map {
          case ((_, c), (lo, hi)) => s"$c=[$lo,$hi]" }.sorted,
        string_stats = sstatsBy.getOrElse(f, Nil).map(_._1._2).sorted,
        bloom_cols = bloomsBy.getOrElse(f, Nil).map(_._2).sorted,
        null_counts = nullsBy.getOrElse(f, Nil).map {
          case ((_, c), n) => s"$c=$n" }.sorted)
    }
    spark.createDataFrame(rows)
  }

  /** The commit log as a frame, newest first — the DESCRIBE HISTORY
    * surface: version, commit wall-clock (the manifest file's
    * modification time), add/remove counts, the exactly-once tag if
    * any, the keyed-isolation marker, and per-commit OPERATION
    * METRICS (`num_rows_added/removed`, `bytes_added/removed` — the
    * DESCRIBE HISTORY operationMetrics shape), all from manifest
    * channels: added-side rows/bytes come straight off each commit's
    * own `rows`/`sizes` channels; REMOVED-side metrics need the
    * prior state's per-file maps, so the window is computed with ONE
    * checkpoint-seeded replay below it plus a forward walk applying
    * each manifest — `O(checkpointInterval + limit)` manifest GETs,
    * still never a cost that grows with table lifetime. A removed
    * file counts its live rows (recorded minus already-tombstoned);
    * a DV re-point counts the tombstone GROWTH. Metrics are None when
    * a file predates row/size tracking (never a data scan here).
    * Versions whose manifests retention reaped are skipped (metrics
    * after a mid-window reap degrade to None rather than lying). */
  def history(limit: Int = 20): DataFrame = {
    require(limit > 0, s"history limit must be positive, got $limit")
    val cur = currentVersion
    val lo = math.max(math.max(1, replayFloorV + 1), cur - limit + 1)
    // seed maps at lo-1 (v0 replays to the empty state). After a data
    // vacuum the retention floor may sit ABOVE the window's lower edge
    // while the manifests still exist (truncateLog=false, or the gap
    // between data and log floors): replay below the floor REFUSES, so
    // seed at the floor instead — window rows at or below it still
    // list (their own manifests carry the added-side metrics), they
    // just report removed-side metrics as null.
    val walkStart = lo - 1
    val seedV =
      if (walkStart > 0 && walkStart < retentionFloor) retentionFloor
      else walkStart
    val seed = replayStateFull(seedV)
    var rowsM: Map[String, Long] = seed.rows
    var sizesM: Map[String, Long] = seed.sizes
    var dvM: Map[String, (String, Long)] = seed.dvs
    var reliable = true // a reaped mid-window manifest breaks the walk
    def sumOver(files: Seq[String], m: Map[String, Long]): Option[Long] =
      if (files.forall(m.contains)) Some(files.map(m).sum) else None
    val rows = (lo to cur).flatMap { v =>
      try {
        val m = readManifest(v)
        val (add, remove) = (m.add, m.remove)
        val addRows = m.rowCounts.toMap
        val addSizes = m.fileSizes.toMap
        val dvNew = m.dvEntries
        // removed-side: live rows of each removed file at the PRIOR
        // state, plus tombstone growth from re-pointed DVs. Versions at
        // or below the seed have no prior-state maps — removed-side
        // metrics are null there (added-side stays exact: it reads the
        // version's own manifest channels)
        val inWalk = v > seedV
        val removedRows =
          if (!reliable || !inWalk) None
          else sumOver(remove, rowsM).map { full =>
            full - remove.flatMap(dvM.get).map(_._2).sum +
              dvNew.collect { case (f, _, n) if !remove.contains(f) =>
                n - dvM.get(f).map(_._2).getOrElse(0L)
              }.sum
          }
        val removedBytes =
          if (reliable && inWalk) sumOver(remove, sizesM) else None
        val info = SnapshotTable.CommitInfo(
          version = v,
          committed_at = new java.sql.Timestamp(
            fs.getFileStatus(manifestPath(v)).getModificationTime),
          n_add = add.size,
          n_remove = remove.size,
          tag = m.tag,
          keyed = m.keyed,
          op = m.op,
          num_rows_added = sumOver(add, addRows),
          num_rows_removed = removedRows,
          bytes_added = sumOver(add, addSizes),
          bytes_removed = removedBytes)
        // advance the walk (only above the seed — a below-floor
        // manifest must not perturb the floor-state maps)
        if (inWalk) {
          rowsM = (rowsM -- remove) ++ addRows
          sizesM = (sizesM -- remove) ++ addSizes
          dvM = (dvM -- remove) ++
            dvNew.map { case (f, sc, n) => f -> (sc, n) }
        }
        Some(info)
      } catch {
        // a racing vacuumLog may reap a manifest between the floor
        // read and the GET — retention, not corruption: skip it, and
        // stop claiming removed-side metrics for later versions
        case _: java.io.FileNotFoundException => reliable = false; None
      }
    }
    spark.createDataFrame(rows.reverse)
  }

  /** Delete data files referenced by NO snapshot at or above
    * `retainFrom` (and stranded staging). Time travel below
    * `retainFrom` stops working — that's the retention contract.
    *
    * In-flight-commit safety: `stageFiles` moves a commit's parquet
    * into `data/` BEFORE its manifest publishes, so an unreferenced
    * file under `data/` may belong to a commit that is about to become
    * visible — deleting it would let the commit succeed while its new
    * snapshot references vanished files (silent loss of committed
    * data). So, exactly like Delta/Iceberg retention, vacuum only
    * reaps unreferenced data files whose modification time is older
    * than `stagingGraceMs` — a commit either publishes within the
    * grace window or is abandoned staging.
    *
    * `retainFrom` itself is recorded as the user-facing retention
    * BOUNDARY (`_retention_floor`), so any read below it fails with
    * the clean retention error — uniformly, including versions in
    * `[checkpoint-floor, retainFrom)` whose manifests survive but
    * whose data files may not (a remove-bearing history would
    * otherwise resolve those snapshots in metadata and die with
    * FileNotFound mid-scan).
    *
    * With `truncateLog` (the default) the manifest LOG below
    * `retainFrom` is also reaped (see [[vacuumLog]]) — the only thing
    * that stops the log growing one file per commit forever.
    * `truncateLog = false` is the Delta-style split knob (data
    * retention separate from log retention): the log is kept intact,
    * and on an APPEND-ONLY history (no referenced file reaped —
    * sweeping never-committed orphans does not count) time travel
    * below `retainFrom` keeps working; if referenced data WAS reaped
    * the boundary is still recorded, because those snapshots are
    * unreadable either way and the clean error beats FileNotFound.
    * One under-recording corner: a doomed file removed BEFORE the
    * keep-walk's seed checkpoint is indistinguishable from an orphan
    * here, so reads of the pre-checkpoint versions that referenced it
    * can still fail with FileNotFound — the pre-boundary behavior,
    * only reachable with `truncateLog = false` on a remove-bearing
    * history.
    *
    * `retainFrom` is clamped to the current version: the head
    * snapshot is always retained (a beyond-head `retainFrom` must not
    * empty the keep-set and reap live data). `dryRun = true` reports
    * the doomed-file count and changes NOTHING — no deletes, no
    * boundary record, no log truncation (the ops pre-flight).
    * Returns the number of DATA files deleted (or would-be). */
  def vacuum(retainFrom: Int, stagingGraceMs: Long = 3600000L,
      truncateLog: Boolean = true, dryRun: Boolean = false): Int = {
    val cutoff = System.currentTimeMillis() - stagingGraceMs
    // keep-set in ONE log walk: maintain the running live set, union
    // it into keep at every version >= retainFrom. The former
    // files(v)-per-retained-version loop replayed manifests 1..v for
    // EACH v — Σv ≈ n²/2 manifest reads; this is O(tail) reads seeded
    // from the newest checkpoint <= retainFrom, same keep-set.
    val cur = currentVersion
    // versions below the retention boundary are no longer readable
    // (vacuumLog deleted their manifests and/or a prior vacuum reaped
    // their data), so retaining them is meaningless AND the keep-walk
    // below could not read them anyway; clamp to the head so a
    // beyond-head retainFrom cannot empty the keep-set
    var rf = math.min(math.max(retainFrom, retentionFloor), math.max(cur, 1))
    val keep = scala.collection.mutable.Set[String]()
    val live = scala.collection.mutable.LinkedHashSet[String]()
    var c0 = checkpointAtOrBelow(math.max(0, math.min(rf, cur)))
    if (c0 == 0 && cur > 0 && !fs.exists(manifestPath(1))) {
      // the recorded floor state was lost: manifest 1 is gone, so a
      // from-zero keep-walk would die on FileNotFound. Re-derive the
      // true replay floor from the surviving log and walk from there.
      rf = math.min(math.max(rf, derivedReplayFloor()), math.max(cur, 1))
      c0 = checkpointAtOrBelow(math.max(0, math.min(rf, cur)))
    }
    // `seen` = every file some SURVIVING log entry references — the
    // discriminator between reaping history (must record the retention
    // boundary) and sweeping never-committed orphans (no snapshot ever
    // referenced them, so no boundary is owed). Files removed before
    // the seed checkpoint are not in it — reaping those under
    // truncateLog=false under-records the boundary, the corner the
    // scaladoc documents.
    val seen = scala.collection.mutable.Set[String]()
    // deletion-vector keep-set: sidecar names some retained version's
    // state points at (walked alongside live — the running dv map
    // tracks the CURRENT sidecar per file, superseded generations
    // drop out and become sweepable)
    val dvNow = scala.collection.mutable.Map[String, String]()
    val keepDv = scala.collection.mutable.Set[String]()
    if (c0 > 0) {
      val ck = readCheckpoint(c0)
      live ++= ck.live
      seen ++= live
      dvNow ++= ck.dvs.map { case (f, (sc, _)) => f -> sc }
      if (c0 >= rf) { keep ++= live; keepDv ++= dvNow.values }
    }
    (c0 + 1 to cur).foreach { v =>
      val m = readManifest(v)
      live ++= m.add
      seen ++= m.add
      m.remove.foreach(dvNow -= _)
      live --= m.remove
      m.dvEntries.foreach {
        case (f, "*", _) => dvNow -= f
        case (f, sc, _) => dvNow(f) = sc
      }
      if (v >= rf) { keep ++= live; keepDv ++= dvNow.values }
    }
    val have =
      if (!fs.exists(dataDir)) Seq.empty
      else fs.listStatus(dataDir)
        .filter(_.getModificationTime < cutoff)
        .map(s => fs.makeQualified(s.getPath).toString).toSeq
    val doomed = have.filterNot(keep.contains)
    // dryRun: report what a real pass would reap — nothing deleted,
    // no boundary recorded, no log truncation (the ops pre-flight)
    if (dryRun) return doomed.size
    // record the user-facing boundary BEFORE deleting anything: a
    // crash mid-sweep then reads below retainFrom as the clean
    // retention error, never a FileNotFound mid-scan. If the record
    // cannot be persisted, refuse to delete (ADVICE r10: the floor
    // write is the only thing standing between a reaped file and a
    // raw FileNotFound for every later reader). Orphan-only sweeps
    // (doomed files NO surviving snapshot references) owe no boundary
    // — an append-only history stays fully time-travelable through a
    // vacuum that merely cleans crashed-commit strays.
    val mustRecord = rf > 1 &&
      (truncateLog || doomed.exists(seen.contains))
    if (mustRecord && !writeFloor(0, rf)) return 0
    doomed.foreach(f => fs.delete(new Path(f), false))
    // bloom sidecars follow their data file: after the data sweep,
    // reap every sidecar (older than the grace window — a concurrent
    // commit writes its sidecars BEFORE its manifest, so young ones
    // may belong to an in-flight commit) whose data file no longer
    // exists — covers both this sweep's doomed files and strays whose
    // data was reaped by an earlier pass
    if (fs.exists(indexDir)) {
      val dataNames: Set[String] =
        if (!fs.exists(dataDir)) Set.empty
        else fs.listStatus(dataDir).map(_.getPath.getName).toSet
      // a retained file may live OUTSIDE data/ (importFiles adoption,
      // shallowCloneTo references into the source table) — its bloom
      // sidecar must survive exactly like a DV sidecar does, so the
      // sweep also honors the keep-walk (names suffice: staged names
      // are UUID-unique, and the sidecar path is derived from the name)
      val keepNames: Set[String] = keep.map(p => new Path(p).getName).toSet
      fs.listStatus(indexDir)
        .filter(_.getModificationTime < cutoff)
        .foreach { st =>
          val n = st.getPath.getName
          val sep = n.lastIndexOf(".bloom-")
          val dvSep = n.lastIndexOf(".dv-")
          if (sep > 0 && !dataNames.contains(n.substring(0, sep)) &&
              !keepNames.contains(n.substring(0, sep)))
            fs.delete(st.getPath, false)
          // a dv sidecar lives exactly as long as some retained
          // version points at it — membership in keepDv ALONE decides
          // (a data-dir existence check would wrongly reap the live
          // sidecar of an importFiles-adopted file, which lives
          // OUTSIDE data/); superseded generations and sidecars of
          // reaped files both fall out of keepDv naturally
          else if (dvSep > 0 && !keepDv.contains(n))
            fs.delete(st.getPath, false)
        }
    }
    // staging entries younger than the grace window may belong to an
    // IN-FLIGHT commit on another writer — deleting them would strand
    // that commit mid-publish; only provably-stale staging is reaped
    val staging = new Path(s"$root/_staging")
    if (fs.exists(staging)) {
      fs.listStatus(staging).filter(_.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    }
    // data below retainFrom is (partially) gone, so the log entries
    // that only serve sub-retainFrom time travel serve nothing — reap
    // them too, or the log grows one file per commit forever and every
    // LISTING-path metadata op degrades with stream lifetime
    // (suppressed by truncateLog = false: the Delta-style opt-out for
    // callers who want data retention without destroying history
    // metadata — see the method scaladoc for what stays readable)
    if (truncateLog) vacuumLogBelow(rf)
    doomed.size
  }

  /** Truncate the manifest log so only the last `retainVersions`
    * snapshots stay time-travelable: deletes every manifest at or
    * below the newest checkpoint ≤ the horizon (its state is fully in
    * the checkpoint) and every older checkpoint, having FIRST recorded
    * that floor in `_retention_floor` (deletion is refused if the
    * record does not land). Reads at or above the floor replay
    * exactly as before; below it they fail with a clear retention
    * error — the same contract [[vacuum]] applies to data files.
    * Returns the number of log files deleted. */
  def vacuumLog(retainVersions: Int): Int = {
    require(retainVersions >= 1, s"retainVersions must be >= 1")
    vacuumLogBelow(currentVersion - retainVersions + 1)
  }

  /** Log truncation below version `horizon` (exclusive of the floor
    * checkpoint that keeps `horizon` and everything above replayable).
    * One listing — this is maintenance, never the read path. */
  private def vacuumLogBelow(horizon: Int): Int = {
    val h = math.min(horizon, currentVersion)
    if (h <= 1) 0
    else {
      val entries = listLog()
      val ckpts = entries.flatMap(s => s.getPath.getName match {
        case CkptName(n) => Some(n.toInt)
        case _ => None
      })
      // the floor must be a checkpoint ≤ h: replay of any v >= floor is
      // checkpoint(floor) + manifests floor+1..v, none of which we touch
      val floor = ckpts.filter(_ <= h).foldLeft(0)(math.max)
      if (floor <= 0 || floor <= replayFloorV) 0
      // record the floor BEFORE deleting, and ONLY delete if the
      // record landed (read-back confirmed): a crash mid-delete then
      // reads below the floor as a clean retention error, never as a
      // confusing FileNotFound mid-replay — and a failed record never
      // leaves deleted manifests with no floor on file at all
      else if (!writeFloor(floor, floor)) 0
      else {
        writePointer(ckpts.foldLeft(0)(math.max))
        val doomed = entries.filter { s =>
          s.getPath.getName match {
            case CkptName(n) => n.toInt < floor
            case name => versionOf(name).exists(_ <= floor)
          }
        }
        doomed.foreach(s => fs.delete(s.getPath, false))
        doomed.length
      }
    }
  }
}

object SnapshotTable {
  /** Prune predicates DERIVED from a condition's own top-level
    * `col <op> literal` conjuncts — `(longRanges, stringRanges,
    * bloomProbes, nullChecks)`, the input of
    * [[SnapshotTable.dmlCandidates]]. At 100 TB the difference
    * between "the caller passed prune hints" and "the engine derives
    * them from the condition" is whether `updateWhere($"id" === k)`
    * scans one bloom-surviving file or every live file — the whole
    * point of the stats channel. Sound by construction: only conjuncts that MUST
    * hold for the condition to be true contribute, each mapped to a
    * range the matching rows' stat values provably fall in (stat
    * casts are monotone, so integral-literal bounds survive them);
    * disjunctions, non-literal operands and exotic literal types
    * derive NOTHING — those conditions simply fall back to the full
    * candidate set. */
  private[graft] def derivePreds(cond: org.apache.spark.sql.Column)
      : (Seq[(String, Long, Long)],
         Seq[(String, Array[Byte], Option[Array[Byte]])],
         Seq[(String, Seq[String])],
         Seq[(String, Boolean)]) = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    // Column-built predicates arrive UNRESOLVED (the ColumnNode
    // converter emits UnresolvedFunction('=', …), not EqualTo) —
    // normalize both shapes to (opName, lhs, rhs)
    object Cmp {
      def unapply(e: Expression): Option[(String, Expression, Expression)] =
        e match {
          case f: UnresolvedFunction if f.arguments.size == 2 =>
            Some((f.nameParts.last.toLowerCase, f.arguments(0),
              f.arguments(1)))
          case EqualTo(a, b) => Some(("=", a, b))
          case EqualNullSafe(a, b) => Some(("<=>", a, b))
          case GreaterThan(a, b) => Some((">", a, b))
          case GreaterThanOrEqual(a, b) => Some((">=", a, b))
          case LessThan(a, b) => Some(("<", a, b))
          case LessThanOrEqual(a, b) => Some(("<=", a, b))
          case StartsWith(a, b) => Some(("startswith", a, b))
          case _ => None
        }
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("and") &&
            f.arguments.size == 2 =>
        conjuncts(f.arguments(0)) ++ conjuncts(f.arguments(1))
      case other => Seq(other)
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // exact=TRUE: the literal IS the stat-space value (integral/date),
    // so strict bounds tighten by 1; exact=FALSE (timestamps: the stat
    // cast floors micros to seconds) keeps the floored value on both
    // strict and non-strict sides — wider, still sound
    def longOf(l: Literal): Option[(Long, Boolean)] =
      if (l.value == null) None
      else l.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some((l.value.asInstanceOf[Number].longValue, true))
        case DateType => Some((l.value.asInstanceOf[Int].toLong, true))
        case TimestampType | TimestampNTZType =>
          Some((Math.floorDiv(l.value.asInstanceOf[Long], 1000000L), false))
        case _ => None
      }
    // bloom sidecars hash the column CAST TO STRING: only literal
    // types whose string form provably matches that cast participate
    def bloomOf(l: Literal): Option[String] =
      if (l.value == null) None
      else l.dataType match {
        case StringType => Some(l.value.toString)
        case ByteType | ShortType | IntegerType | LongType =>
          Some(l.value.asInstanceOf[Number].longValue.toString)
        case _ => None
      }
    def strOf(l: Literal): Option[Array[Byte]] =
      if (l.value == null) None
      else l.dataType match {
        case StringType => Some(utf8(l.value.toString))
        case _ => None
      }
    val longs = Seq.newBuilder[(String, Long, Long)]
    val strs = Seq.newBuilder[(String, Array[Byte], Option[Array[Byte]])]
    // bloom probes: a file survives if its sidecar admits ANY value
    val blooms = Seq.newBuilder[(String, Seq[String])]
    // (col, wantNull): IS NULL / IS NOT NULL conjuncts — pruned against
    // the per-file null-count channel (see nullsJsonField)
    val nullPs = Seq.newBuilder[(String, Boolean)]
    // an IN list implies (a) the [min,max] envelope on the long or
    // string stats channel and (b) an ANY-of-values bloom probe (one
    // sidecar read tests every value) — bounded so a pathological
    // 1M-key IN does not balloon the probe array shipped to every task
    def inList(n: String, lits: Seq[Literal]): Unit = {
      val vs = lits.flatMap(longOf).map(_._1)
      if (vs.size == lits.size) longs += ((n, vs.min, vs.max))
      val ss = lits.flatMap(strOf)
      if (ss.size == lits.size)
        strs += ((n, ss.min(byteOrdering), Some(ss.max(byteOrdering))))
      val bs = lits.flatMap(bloomOf)
      if (bs.size == lits.size && bs.size <= InListPruneMax)
        blooms += ((n, bs))
    }
    def range(n: String, l: Literal, lo: Boolean, strict: Boolean): Unit =
      longOf(l).foreach { case (v, exact) =>
        val b = if (strict && exact) {
          // strict bound on an exact literal: tighten by 1 (overflow
          // at the extremes would wrap — derive nothing there)
          if (lo) { if (v == Long.MaxValue) return else v + 1 }
          else { if (v == Long.MinValue) return else v - 1 }
        } else v
        longs += (if (lo) (n, b, Long.MaxValue) else (n, Long.MinValue, b))
      }
    def strRange(n: String, l: Literal, lo: Boolean): Unit =
      // strict vs non-strict collapse in byte-space (a strict string
      // bound still admits the endpoint's file — sound, just wider)
      strOf(l).foreach(b =>
        strs += (if (lo) (n, b, None) else (n, Array.emptyByteArray, Some(b))))
    def eq(n: String, l: Literal): Unit = {
      longOf(l).foreach { case (v, _) => longs += ((n, v, v)) }
      strOf(l).foreach(b => strs += ((n, b, Some(b))))
      bloomOf(l).foreach(v => blooms += ((n, Seq(v))))
    }
    // flip: `lit <op> col` reads as `col <flipped-op> lit`
    def flip(op: String): String = op match {
      case ">" => "<"
      case ">=" => "<="
      case "<" => ">"
      case "<=" => ">="
      // `lit startsWith col` bounds nothing about col
      case "startswith" => ""
      case other => other // =, <=> are symmetric
    }
    def handle(op: String, n: String, l: Literal): Unit = op match {
      // a one-value IN arrives as a two-argument function: an equality
      case "=" | "<=>" | "==" | "in" => eq(n, l)
      case ">" =>
        range(n, l, lo = true, strict = true); strRange(n, l, lo = true)
      case ">=" =>
        range(n, l, lo = true, strict = false); strRange(n, l, lo = true)
      case "<" =>
        range(n, l, lo = false, strict = true); strRange(n, l, lo = false)
      case "<=" =>
        range(n, l, lo = false, strict = false); strRange(n, l, lo = false)
      // every match lies in [p, the smallest string above all p-prefixed]
      case "startswith" => strOf(l).foreach(p => strs += ((n, p, prefixUpper(p))))
      case _ => ()
    }
    val condExpr =
      org.apache.spark.sql.graftbridge.ColumnBridge.toExpression(cond)
    conjuncts(condExpr).foreach {
      case Cmp(op, a, l: Literal) if nameOf(a).isDefined =>
        handle(op, nameOf(a).get, l)
      case Cmp(op, l: Literal, a) if nameOf(a).isDefined =>
        handle(flip(op), nameOf(a).get, l)
      case In(a, list) if nameOf(a).isDefined && list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        inList(nameOf(a).get, list.map(_.asInstanceOf[Literal]))
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("in") &&
            f.arguments.nonEmpty && nameOf(f.arguments.head).isDefined &&
            f.arguments.tail.nonEmpty &&
            f.arguments.tail.forall(_.isInstanceOf[Literal]) =>
        inList(nameOf(f.arguments.head).get,
          f.arguments.tail.map(_.asInstanceOf[Literal]))
      case IsNull(a) if nameOf(a).isDefined =>
        nullPs += ((nameOf(a).get, true))
      case IsNotNull(a) if nameOf(a).isDefined =>
        nullPs += ((nameOf(a).get, false))
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("isnull") &&
            f.arguments.size == 1 && nameOf(f.arguments.head).isDefined =>
        nullPs += ((nameOf(f.arguments.head).get, true))
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("isnotnull") &&
            f.arguments.size == 1 && nameOf(f.arguments.head).isDefined =>
        nullPs += ((nameOf(f.arguments.head).get, false))
      case _ => () // not a col-vs-literal conjunct: derives nothing
    }
    (longs.result(), strs.result(), blooms.result(), nullPs.result())
  }

  /** The merged type for a shared column whose writer/table types
    * differ — `Some(wider)` when BOTH types' files read correctly
    * under the wider one via the parquet scan's supported upcasts
    * (the Spark 4 / Delta type-widening lattice), `None` when the
    * change is unreconcilable (narrowing, long→double precision loss,
    * string/complex changes) and the write must refuse. */
  private[sources] def widenType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def rank(d: DataType): Int = d match {
      case ByteType => 0
      case ShortType => 1
      case IntegerType => 2
      case LongType => 3
      case _ => -1
    }
    if (a == b) Some(a)
    else if (rank(a) >= 0 && rank(b) >= 0)
      Some(if (rank(a) >= rank(b)) a else b)
    else (a, b) match {
      // fp + (fp | byte/short/int) widen to double; long does NOT
      // (a 64-bit integer loses precision in a double's 53-bit
      // mantissa — that is a value change, not a representation one)
      case (x, y)
          if Seq(x, y).forall(t =>
            t == FloatType || t == DoubleType ||
              (rank(t) >= 0 && rank(t) <= 2)) &&
            Seq(x, y).exists(t => t == FloatType || t == DoubleType) =>
        Some(DoubleType)
      case (DateType, TimestampNTZType) | (TimestampNTZType, DateType) =>
        Some(TimestampNTZType)
      case _ => None
    }
  }

  /** Table property: comma-separated columns every write records
    * per-file min/max stats for when the caller passes none — the
    * table-level pruning contract. Without it, every rewrite (merge,
    * compact, DML) whose caller forgot `statCols` silently DROPS the
    * rewritten files' stats and the table decays to unprunable — at
    * 100k files that is the difference between metadata-only scan
    * planning and reading everything. Explicit per-call args override. */
  val StatColsProp = "graft.statCols"

  /** Table property: comma-separated columns every write builds bloom
    * sidecars for when the caller passes none (see [[StatColsProp]]). */
  val BloomColsProp = "graft.bloomCols"

  /** Table property: the recorded PARTITION LAYOUT — how this format
    * honors `df.write.partitionBy(...)` / `CREATE TABLE ... PARTITIONED
    * BY`. Not a hive directory layout: every write RANGE-CLUSTERS its
    * rows on these columns (each data file covers a narrow slab of the
    * partition-column space) and records their per-file min/max stats,
    * so the manifest prunes a partition-predicate scan to the matching
    * files from metadata alone — the same file-skipping a directory
    * layout buys, without millions of tiny per-partition files at
    * 100 TB (the reference's time-partitioned query pattern,
    * `/root/reference/scripts/get_obs_timeseries_station_data.sql:24`,
    * is exactly a range predicate on such a column). Writers that
    * declare a DIFFERENT partitioning than the recorded one refuse
    * loudly; change the layout via ALTER TABLE SET TBLPROPERTIES. */
  val PartitionColsProp = "graft.layout.partitionCols"

  /** Parse [[PartitionColsProp]] out of a property map. */
  private[sources] def layoutColsOf(props: Map[String, String]): Seq[String] =
    props.get(PartitionColsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Per-column generation expressions (`graft.generated.<col>` =
    * SQL expr) — the Delta GENERATED ALWAYS AS idiom: a write that
    * omits the column gets it COMPUTED (inside [[applyLayout]], so a
    * generated column can also be the partition layout — the
    * date-bucketing shape); a write that supplies it is VALIDATED
    * against the expression by a synthesized CHECK (`col <=> (expr)`,
    * null-safe so a smuggled NULL fails too). The props are the ONLY
    * source of truth: the check is derived at enforcement time, never
    * stored, so rename/clone/replay cannot desynchronize the pair.
    * Reserved like [[ConstraintPrefix]] — written only by
    * [[SnapshotTable.addGeneratedColumn]] / the V2 catalog's CREATE
    * TABLE (both validate), never by raw property writes. */
  val GeneratedPrefix = "graft.generated."

  /** `(column, expression)` pairs recorded in a property map. */
  private[sources] def generatedColsOf(
      props: Map[String, String]): Seq[(String, String)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith(GeneratedPrefix) =>
        k.stripPrefix(GeneratedPrefix) -> v
    }.sortBy(_._1)

  /** The synthesized validation checks for [[generatedColsOf]] —
    * joins [[checkConstraints]]/staging enforcement under reserved
    * `__gen_<col>` names. NULL is legal: rows written BEFORE the
    * declaration read NULL for the column (addColumns semantics) and
    * must keep compacting/rewriting forever; writer-supplied NULLs
    * are computed away by the [[applyLayout]] fill instead, so a
    * surviving NULL always means "predates the declaration" (or an
    * explicit NULL through a fill-less path like a MERGE insert
    * clause — tolerated, never a wrong VALUE). A non-null value must
    * equal the expression exactly. */
  private[sources] def generatedChecksOf(
      props: Map[String, String]): Seq[(String, String)] =
    generatedColsOf(props).map { case (c, e) =>
      s"__gen_$c" -> s"(`$c` IS NULL) OR (`$c` <=> ($e))"
    }

  // ---- scan-planning diagnostics --------------------------------------
  //
  // The most recent metadata-prune outcome PER TABLE ROOT, recorded by
  // every prune entry point across ALL handles (each SQL statement and
  // relation builds its own). Observability for "what did that scan
  // plan?", and the specs' pinning hook — replacing the r14/r15
  // last-relation global on the provider (one mutable global pointing
  // at a whole table handle; this is a bounded registry of file lists
  // keyed by root). LRU-bounded so a long-lived session touching many
  // roots cannot grow it without bound.

  private val pruneDiag: java.util.Map[String, Seq[String]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[String]](16, 0.75f, true) {
        override protected def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[String]]): Boolean =
          size() > 256
      })

  private def diagKey(root: String): String =
    new org.apache.hadoop.fs.Path(root).toUri.getPath

  private[sources] def recordPrune(root: String, files: Seq[String]): Unit =
    pruneDiag.put(diagKey(root), files)

  /** The candidate files the most recent metadata prune planned for
    * the table at `root`, across every handle in this JVM (None when
    * no prune ran since start / eviction). */
  def lastPlannedCandidates(root: String): Option[Seq[String]] =
    Option(pruneDiag.get(diagKey(root)))

  // ---- protocol versioning ------------------------------------------
  //
  // The forward-compatibility contract every multi-writer table format
  // needs (the Delta/Iceberg protocol-version shape): a table records
  // the MINIMUM reader/writer capability its current features require,
  // and a library that is too old REFUSES — loudly, naming the gap —
  // instead of silently misreading. Without the gate, a pre-column-
  // mapping reader of a renamed table would return the renamed column
  // as all-null from every old file, and a pre-DV reader would
  // RESURRECT MoR-deleted rows: both silent wrong answers. The
  // protocol rides the replayed property channel (reserved
  // `graft.protocol.*` keys), so it time-travels with the table —
  // snapshots BELOW a protocol upgrade stay readable by old libraries,
  // exactly the versions whose features they predate.
  //
  // Version ledger (this library reads/writes everything ≤ these):
  //   1 = base manifest log (appends, stats, blooms, tags, props)
  //   2 = deletion vectors (merge-on-read delete/update/merge)
  //   3 = column mapping (renameColumn/dropColumn physical names)
  val ProtocolPrefix = "graft.protocol."
  val MinReaderProp = "graft.protocol.minReader"
  val MinWriterProp = "graft.protocol.minWriter"
  val ReaderVersion = 3
  val WriterVersion = 3

  /** One timestamp-argument parser for every option surface: epoch
    * millis, ISO-8601 instant, ISO local datetime (read as UTC), or
    * `yyyy-MM-dd HH:mm:ss` (space form, read as UTC). */
  /** Epoch-millis floor for all-digit timestamp strings: 2000-01-01
    * UTC. An epoch-SECONDS value (the classic user slip) for any date
    * this library could have written lands far below it, and on
    * since-semantics surfaces (`fromTimestamp`, `table_changes` from,
    * `startAtTimestamp`) a ~1970 instant silently means "everything
    * since table creation" — refusing with a hint beats that
    * (ADVICE r14). A genuine pre-2000 instant is still expressible as
    * an ISO string. */
  private val MinPlausibleEpochMillis = 946684800000L

  private[graft] def parseTsMillis(s: String): Long = {
    val t = s.trim
    t.toLongOption match {
      case Some(n) =>
        if (n < MinPlausibleEpochMillis) throw new IllegalArgumentException(
          s"timestamp '$t' parses as epoch MILLIS before 2000-01-01 " +
            s"($n ms = ${java.time.Instant.ofEpochMilli(n)}); if this " +
            "is epoch seconds, multiply by 1000 — or pass an ISO " +
            "instant / 'yyyy-MM-dd' / local datetime string")
        n
      case None =>
        try java.time.Instant.parse(t).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDateTime.parse(t)
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                // date-only reads as that day's UTC midnight
                try java.time.LocalDate.parse(t).atStartOfDay()
                  .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
                catch {
                  case _: java.time.format.DateTimeParseException =>
                    java.time.LocalDateTime.parse(t.replace(" ", "T"))
                      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
                }
            }
        }
    }
  }

  private[sources] def protoOf(props: Map[String, String],
      key: String): Int =
    props.get(key).flatMap(s =>
      scala.util.Try(s.trim.toInt).toOption).getOrElse(1)

  /** The table's protocol requirement exceeds what this library
    * implements; reading (or writing) could silently corrupt or
    * misread, so the operation refused. Nothing was committed. */
  final class ProtocolViolation(msg: String)
    extends IllegalStateException(msg)

  /** The SparkContext local property under which StreamExecution pins
    * the running streaming query's id (stable across restarts of the
    * SAME checkpoint — it lives in the checkpoint metadata). */
  private[graft] val QueryIdKey = "sql.streaming.queryId"

  /** Idempotence tag for a streaming micro-batch write:
    * `txn-<appId>-batch-<batchId>`. The identity half is the explicit
    * `txnAppId` when given, else the streaming query id from the
    * session's local properties; with NEITHER available the write is
    * REFUSED — a bare batch tag dedups across unrelated pipelines
    * (batch ids all start at 0 per checkpoint) and silently drops
    * their data. `where` names the caller surface for the error. */
  private[graft] def streamTxnTag(txnAppId: Option[String],
      spark: org.apache.spark.sql.SparkSession, batchId: Long,
      where: String): String = {
    val appId = txnAppId
      .orElse(Option(spark.sparkContext.getLocalProperty(QueryIdKey)))
      .getOrElse(throw new IllegalStateException(
        s"$where: no txnAppId given and no streaming query id in " +
          "scope — refusing to write with a bare batch tag, which " +
          "would collide across pipelines (batch ids restart at 0 " +
          "per checkpoint) and silently skip their batches as " +
          "duplicates"))
    s"txn-$appId-batch-$batchId"
  }

  /** Per-file column range recorded in a manifest (long-castable
    * columns — ints, longs, dates, timestamps). */
  final case class FileStat(file: String, col: String, lo: Long, hi: Long)

  /** Per-file STRING column bounds recorded in a manifest, as UTF-8
    * BYTES (Spark's default string ordering is byte-wise unsigned, so
    * byte comparison is exactly the engine's comparison). `lo` is a
    * truncated lower bound (a prefix of the true min — truncation
    * only ever lowers it); `hi` is a truncated-and-incremented upper
    * bound per [[truncatedUpper]], `None` when no short upper bound
    * exists (all-0xFF prefix — the file then never prunes on this
    * column's upper side). Truncation ([[StatTruncateBytes]] bytes,
    * the Delta/Iceberg `truncate(col)` stats shape) keeps manifests
    * and checkpoints O(live files · 32B), not O(live files · longest
    * url). */
  final case class StrStat(file: String, col: String,
      lo: Array[Byte], hi: Option[Array[Byte]])

  /** Stat truncation width for string bounds — 32 bytes discriminates
    * urls past their shared scheme/host prefixes while keeping a
    * 100k-file checkpoint's stat payload a few MB. */
  val StatTruncateBytes: Int = 32

  private[sources] def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Most values an IN list may carry and still get a bloom probe,
    * and most distinct source keys a merge collects to prune its
    * match scan (a trickle upsert's keys prune from metadata; a source
    * past this many keys scans the live set — its matches plausibly
    * touch every file anyway). */
  val InListPruneMax: Int = 1024

  private[sources] val byteOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => cmpBytes(a, b)

  /** Byte-wise unsigned comparison — the UTF8String ordering. */
  private[sources] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Truncated LOWER bound: the first `n` bytes. A prefix compares
    * `<=` the original under byte ordering, so it stays a valid lower
    * bound — just a looser one. */
  private[sources] def truncatedLower(b: Array[Byte], n: Int): Array[Byte] =
    if (b.length <= n) b else java.util.Arrays.copyOf(b, n)

  /** Truncated UPPER bound: the first `n` bytes, with the last
    * non-0xFF byte incremented and the tail dropped when truncation
    * actually cut something — a plain prefix of the max would compare
    * LESS than the max and stop being an upper bound. `None` when the
    * prefix is all 0xFF (no short upper bound exists). The Iceberg
    * `UnicodeUtil.truncateStringMax` shape, on raw bytes. */
  private[sources] def truncatedUpper(b: Array[Byte], n: Int): Option[Array[Byte]] =
    if (b.length <= n) Some(b)
    else prefixUpper(java.util.Arrays.copyOf(b, n))

  /** Smallest byte string GREATER than every string starting with
    * `prefix` (increment the last non-0xFF byte); `None` when no such
    * bound exists. The inclusive upper bound a derived
    * `col.startsWith(p)` prunes with. */
  private[sources] def prefixUpper(prefix: Array[Byte]): Option[Array[Byte]] = {
    var i = prefix.length - 1
    while (i >= 0 && (prefix(i) & 0xff) == 0xff) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(prefix, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** One [[SnapshotTable.history]] row (DESCRIBE HISTORY shape, incl.
    * operationMetrics; None = a file in the commit predates
    * row/size tracking, or the walk crossed a reaped manifest). */
  final case class CommitInfo(version: Int, committed_at: java.sql.Timestamp,
      n_add: Int, n_remove: Int, tag: Option[String], keyed: Boolean,
      op: Option[String],
      num_rows_added: Option[Long], num_rows_removed: Option[Long],
      bytes_added: Option[Long], bytes_removed: Option[Long])

  /** One [[SnapshotTable.snapshotFiles]] row (the Iceberg
    * files-metadata-table shape, metadata-only). */
  final case class FileInfo(path: String, size_bytes: Option[Long],
      row_count: Option[Long], dv_tombstones: Long, stats: Seq[String],
      string_stats: Seq[String], bloom_cols: Seq[String],
      null_counts: Seq[String])

  /** The [[SnapshotTable.detail]] row (DESCRIBE DETAIL shape). */
  final case class DetailRow(version: Int, num_files: Int,
      size_bytes: Long, num_tags: Int, properties: Seq[String],
      constraints: Seq[String], retention_floor: Int, checkpoint: Int,
      num_dv_files: Int, dv_tombstones: Long,
      num_rows: Option[Long], min_reader: Int, min_writer: Int)

  /** A DML verb's row matcher. */
  private[sources] trait DmlMatch {
    /** Only the matched rows of `df` — a pure filter: every column of
      * `df` passes through unchanged. */
    def hit(df: DataFrame): DataFrame
    /** Only the unmatched rows of `df`. */
    def miss(df: DataFrame): DataFrame
    /** The changed copies of a frame's matched rows, when the matcher
      * itself decides them ([[SnapshotMerge]]'s clauses); `None` drops
      * the matched rows (or leaves them to the verb's `set`). */
    def copies: Option[DataFrame => DataFrame] = None
  }
  private[sources] object DmlMatch {
    /** Rows where `cond` is TRUE; a NULL condition does not match. */
    final case class Where(cond: Column) extends DmlMatch {
      val isTrue: Column =
        org.apache.spark.sql.functions.coalesce(cond,
          org.apache.spark.sql.functions.lit(false))
      def hit(df: DataFrame): DataFrame = df.filter(cond)
      def miss(df: DataFrame): DataFrame = df.filter(!isTrue)
    }
    /** Rows whose `keyCols` appear in `keys` — key membership is a
      * semi-join, not a literal predicate. */
    final case class Keys(keys: DataFrame, keyCols: Seq[String])
        extends DmlMatch {
      def hit(df: DataFrame): DataFrame = df.join(keys, keyCols, "left_semi")
      def miss(df: DataFrame): DataFrame = df.join(keys, keyCols, "left_anti")
    }
    /** Rows where `cond` is TRUE, folded with the verb's `inserts`
      * into their keep-latest survivors: one row per `keys`, the first
      * by `precedence`. */
    final case class KeepLatest(cond: Column, keys: Seq[String],
        precedence: Seq[Column], inserts: Option[DataFrame])
        extends DmlMatch {
      private val where = Where(cond)
      def hit(df: DataFrame): DataFrame = where.hit(df)
      def miss(df: DataFrame): DataFrame = where.miss(df)
      /** What a rewrite stages for the affected files' `rows` (None: no
        * file affected) and the inserts: the unmatched rows as they
        * are, and the survivors of the matched ones. */
      def survivors(rows: Option[DataFrame]): Option[DataFrame] =
        (rows ++ inserts).reduceOption(_ unionByName _).map(all =>
          miss(all).unionAll(
            graft.operators.KeepLatestDedup(hit(all), keys, precedence)))
    }
  }

  /** How a DML commit holds up against interleaved writers, on top of
    * being keyed (any interleaved rewrite or keyed commit conflicts). */
  private[sources] sealed trait DmlCommit
  private[sources] object DmlCommit {
    /** Scoped to the touched files; nothing touched = no commit. */
    case object Scoped extends DmlCommit
    /** Unscoped, and conflicts with any interleaved append that may add
      * rows matching `cond`; nothing touched or staged = no commit. */
    final case class Guarded(cond: Column) extends DmlCommit
    /** Unscoped; nothing touched or staged = no commit. */
    case object Unscoped extends DmlCommit
    /** Unscoped, and always commits (a `tag` rides even a no-op). */
    case object Always extends DmlCommit
  }

  /** The parts a DML verb plugs into [[SnapshotTable.dml]]: candidate
    * narrowing over the pinned state, the row matcher and the commit
    * policy. Matched rows are dropped, replaced by the matcher's own
    * copies, or, with a non-empty `set` (a `Where` matcher), replaced
    * by a copy carrying the assignments. `inserts` are the rows the
    * verb adds: with `layout` (replaceWhere's `partitionBy`) they stage
    * as their own slab, clustered by `applyLayout` and — with
    * `validate` — refused unless every row satisfies the matcher's
    * condition; without it (the merges) they stage in one frame with
    * the kept rows. */
  private[sources] final case class DmlVerb(
      candidates: TableState => Seq[String],
      matcher: DmlMatch, policy: DmlCommit,
      set: Seq[(String, Column)] = Nil, inserts: Option[DataFrame] = None,
      layout: Option[Seq[String]] = None, validate: Boolean = false,
      tag: Option[String] = None)

  /** Files staged by one DML attempt, with their manifest channels. */
  private[sources] final case class Staged(files: Seq[String],
      stats: Seq[FileStat], sstats: Seq[StrStat],
      counts: Map[String, Long], sizes: Seq[(String, Long)],
      nulls: Seq[(String, String, Long)],
      blooms: Seq[(String, String)] = Nil, schema: Option[String] = None) {
    def ++(o: Staged): Staged = Staged(files ++ o.files, stats ++ o.stats,
      sstats ++ o.sstats, counts ++ o.counts, sizes ++ o.sizes,
      nulls ++ o.nulls, blooms ++ o.blooms, schema.orElse(o.schema))
  }
  private[sources] val noneStaged = Staged(Nil, Nil, Nil, Map.empty, Nil, Nil)

  /** Fully replayed table state at one version: live files in add
    * order, per-(file, col) long stats and string bounds, every
    * committed tag, the newest recorded schema, and the (file, col)
    * pairs that have a bloom sidecar under `_index/`. */
  private[sources] final case class TableState(
      live: Seq[String],
      stats: Map[(String, String), (Long, Long)],
      sstats: Map[(String, String), (Array[Byte], Option[Array[Byte]])],
      tags: Set[String],
      schema: Option[String],
      blooms: Set[(String, String)],
      props: Map[String, String],
      sizes: Map[String, Long] = Map.empty,
      dvs: Map[String, (String, Long)] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      nulls: Map[(String, String), Long] = Map.empty)

  /** `_log/_last_checkpoint`: the newest checkpoint version, plus the
    * retention floor tables recorded here before `_retention_floor`
    * existed (preserved, never raised). */
  private[sources] final case class Pointer(version: Int, floor: Int)

  /** `_log/_retention_floor`: the replay floor and the user-facing
    * retention boundary (see the class's `_retention_floor` notes). */
  private[sources] final case class RetentionRecord(floor: Int, boundary: Int)

  /** The per-file channels manifests and checkpoints share. On the wire
    * each channel is a JSON array of `|`-joined strings; the typed
    * views below skip malformed entries. The encoders in the companion
    * refuse a path or column containing `|` (uuid-part names never
    * contain one; the guard catches hand-constructed stats). */
  private[sources] sealed trait Channels {
    def stats: Seq[String]
    def sstats: Seq[String]
    def blooms: Seq[String]
    def props: Seq[String]
    def sizes: Seq[String]
    def rows: Seq[String]
    def nulls: Seq[String]
    def dvs: Seq[String]

    def fileStats: Seq[FileStat] = stats.flatMap { s =>
      s.split('|') match {
        case Array(f, c, lo, hi) => Some(FileStat(f, c, lo.toLong, hi.toLong))
        case _ => None
      }
    }

    def strStats: Seq[StrStat] = {
      val b64 = java.util.Base64.getDecoder
      // limit -1: an empty-string bound ("" = empty byte lower bound)
      // must survive the split — the default drops trailing empties
      sstats.flatMap { s =>
        s.split("\\|", -1) match {
          case Array(f, c, lo, hi) =>
            Some(StrStat(f, c, b64.decode(lo),
              if (hi == "*") None else Some(b64.decode(hi))))
          case _ => None
        }
      }
    }

    def bloomPairs: Set[(String, String)] = blooms.flatMap { s =>
      s.split('|') match {
        case Array(f, c) => Some((f, c))
        case _ => None
      }
    }.toSet

    def propChanges: Seq[(String, Option[String])] = {
      val b64 = java.util.Base64.getDecoder
      def dec(s: String) = new String(b64.decode(s),
        java.nio.charset.StandardCharsets.UTF_8)
      props.flatMap { s =>
        s.split("\\|", -1) match {
          case Array(k, v) => Some((dec(k), if (v == "*") None else Some(dec(v))))
          case _ => None
        }
      }
    }

    def fileSizes: Seq[(String, Long)] = Channels.fileCounts(sizes)

    def rowCounts: Seq[(String, Long)] = Channels.fileCounts(rows)

    def nullCounts: Seq[(String, String, Long)] = Channels.triples(nulls)

    def dvEntries: Seq[(String, String, Long)] = Channels.triples(dvs)
  }

  private[sources] object Channels {
    private def noPipe(what: String, parts: String*): Unit =
      require(!parts.exists(_.contains("|")),
        s"$what must not contain '|': ${parts.mkString("|")}")

    private def fileCounts(xs: Seq[String]): Seq[(String, Long)] =
      xs.flatMap { s =>
        s.split('|') match {
          case Array(f, n) => scala.util.Try(n.toLong).toOption.map(f -> _)
          case _ => None
        }
      }

    private def triples(xs: Seq[String]): Seq[(String, String, Long)] =
      xs.flatMap { s =>
        s.split('|') match {
          case Array(f, c, n) => scala.util.Try(n.toLong).toOption.map((f, c, _))
          case _ => None
        }
      }

    /** `"stats"`: `file|col|lo|hi` long min/max per (file, stat col). */
    def stats(xs: Seq[FileStat]): Seq[String] = xs.map { s =>
      noPipe("stat path/col", s.file, s.col)
      s"${s.file}|${s.col}|${s.lo}|${s.hi}"
    }

    /** `"sstats"`: `file|col|lo|hi` string bounds. Bounds are base64
      * raw UTF-8 bytes (base64 never contains '|' or '"'); an absent
      * upper bound (all-0xFF truncation overflow) encodes as "*",
      * outside the base64 alphabet. */
    def sstats(xs: Seq[StrStat]): Seq[String] = {
      val b64 = java.util.Base64.getEncoder
      xs.map { s =>
        noPipe("stat path/col", s.file, s.col)
        s"${s.file}|${s.col}|${b64.encodeToString(s.lo)}|" +
          s.hi.map(b64.encodeToString).getOrElse("*")
      }
    }

    /** `"blooms"`: `file|col` markers recording which (file, column)
      * pairs have a bloom sidecar under `_index/` — replay learns
      * sidecar existence from metadata, never from listing or probing
      * the index dir. */
    def blooms(xs: Seq[(String, String)]): Seq[String] = xs.map { case (f, c) =>
      noPipe("bloom path/col", f, c)
      s"$f|$c"
    }

    /** `"props"`: table-property sets/unsets as `b64(key)|b64(value)`
      * (unset = `b64(key)|*`) — base64 both sides because keys AND
      * values are user strings that may contain the separator. Replay
      * applies entries in version order, latest wins. */
    def props(xs: Seq[(String, Option[String])]): Seq[String] = {
      val b64 = java.util.Base64.getEncoder
      def enc(s: String) =
        b64.encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      xs.map { case (k, v) => s"${enc(k)}|${v.map(enc).getOrElse("*")}" }
    }

    /** `"sizes"`: `file|bytes` per ADDED file — the Delta `add.size`
      * idea. Recorded at commit time from the staging move's own
      * `FileStatus` (zero extra IO), carried through checkpoints for
      * live files only, so `detail` sums total bytes from replay state
      * instead of statting every live file on the driver — the op that
      * turns DESCRIBE DETAIL into minutes of HEAD requests at 10⁵–10⁶
      * files on an object store. */
    def sizes(xs: Seq[(String, Long)]): Seq[String] = xs.map { case (f, n) =>
      noPipe("size path", f)
      s"$f|$n"
    }

    /** `"rows"`: `file|rowCount` per ADDED file — the Delta
      * `add.stats.numRecords` idea. Captured at commit time from the
      * staging aggregate when one already runs (bloom builds,
      * stat/constraint passes) or from the staged file's own parquet
      * FOOTER otherwise (a few-KB tail read per staged file, same
      * O(staged) driver shape as the staging move itself — never
      * O(table)). Makes MoR tombstoning's full-file check
      * and `detail`'s `num_rows` metadata-only; files committed before
      * row tracking simply have no entry and fall back to a scan. */
    def rows(xs: Seq[(String, Long)]): Seq[String] = xs.map { case (f, n) =>
      noPipe("rows path", f)
      s"$f|$n"
    }

    /** `"nulls"`: `file|col|nullCount` per staged (file, stat column)
      * — recorded by the SAME staging aggregate as min/max, so every
      * write path that records stats records null counts (rewrites
      * never decay it). Lets `IS NULL` skip files with zero nulls and
      * `IS NOT NULL` skip all-null files from METADATA alone — at 100k
      * files the difference between a pruned scan and a full one for
      * the ubiquitous `WHERE deleted_at IS NULL` shape. Unlike min/max
      * (which ignore nulls), recorded for a stat column even when every
      * row is null. */
    def nulls(xs: Seq[(String, String, Long)]): Seq[String] = xs.map {
      case (f, c, n) =>
        noPipe("nulls path/col", f, c)
        s"$f|$c|$n"
    }

    /** `"dvs"`: `dataFilePath|sidecarName|deletedCount` per file whose
      * DELETION VECTOR this commit (re)points — the merge-on-read
      * DELETE channel (Delta's deletion vectors): the data file stays
      * live and untouched; a sidecar under `_index/` lists the row
      * indexes every read must skip. Sidecars are immutable — a new
      * delete on the same file writes a NEW sidecar holding the union
      * and repoints here (replay keeps the latest per file; the
      * superseded generation becomes vacuum-sweepable). `file|*|0` is
      * the tombstone (no DV — `restore` re-records target-version DV
      * state with it). */
    def dvs(xs: Seq[(String, String, Long)]): Seq[String] = xs.map {
      case (f, s, n) =>
        noPipe("dv path", f, s)
        s"$f|$s|$n"
    }
  }

  /** One commit's manifest, `_log/NNNNNNNN.json`. Fields serialize in
    * declaration order; all but `add`/`remove` are omitted when empty,
    * absent or false. */
  @JsonInclude(JsonInclude.Include.NON_EMPTY)
  private[sources] final case class Manifest(
      @JsonInclude(JsonInclude.Include.ALWAYS) add: Seq[String],
      @JsonInclude(JsonInclude.Include.ALWAYS) remove: Seq[String],
      @JsonInclude(JsonInclude.Include.NON_ABSENT) tag: Option[String] = None,
      // the VERB that produced this commit (DESCRIBE HISTORY's
      // operation column) — observability only, replay ignores it
      @JsonInclude(JsonInclude.Include.NON_ABSENT) op: Option[String] = None,
      stats: Seq[String] = Nil,
      sstats: Seq[String] = Nil,
      blooms: Seq[String] = Nil,
      props: Seq[String] = Nil,
      sizes: Seq[String] = Nil,
      rows: Seq[String] = Nil,
      nulls: Seq[String] = Nil,
      dvs: Seq[String] = Nil,
      // keyed marker: this commit's PLAN depended on the live row/key
      // set (merge/overwrite/restore/compact) — recorded so a
      // concurrent keyed writer can detect it even when this commit
      // removed nothing (an append-shaped merge); see `commit`'s
      // isolation scaladoc
      @JsonInclude(JsonInclude.Include.NON_DEFAULT) keyed: Boolean = false,
      // latest-writer schema (Spark StructType JSON): lets readers plan
      // with ONE recorded schema instead of footer-merging 100k files,
      // and makes add-a-column appends readable across old files
      // (missing columns null-fill). Recorded by every commit that
      // stages a frame; replay keeps the newest.
      @JsonInclude(JsonInclude.Include.NON_ABSENT) schema: Option[String] = None)
    extends Channels

  private[sources] object Manifest {
    def of(add: Seq[String], remove: Seq[String], tag: Option[String],
        stats: Seq[FileStat], keyed: Boolean, schema: Option[String],
        sstats: Seq[StrStat], blooms: Seq[(String, String)],
        props: Seq[(String, Option[String])], sizes: Seq[(String, Long)],
        rows: Seq[(String, Long)], dvs: Seq[(String, String, Long)],
        op: Option[String], nulls: Seq[(String, String, Long)]): Manifest =
      Manifest(add, remove, tag, op, Channels.stats(stats),
        Channels.sstats(sstats), Channels.blooms(blooms), Channels.props(props),
        Channels.sizes(sizes), Channels.rows(rows), Channels.nulls(nulls),
        Channels.dvs(dvs), keyed, schema)
  }

  /** The fully replayed state at one version,
    * `_log/NNNNNNNN.checkpoint.json`. `live`, `stats` and `tags` are
    * always written; the other channels only when non-empty. */
  @JsonInclude(JsonInclude.Include.NON_EMPTY)
  private[sources] final case class Checkpoint(
      @JsonInclude(JsonInclude.Include.ALWAYS) live: Seq[String],
      @JsonInclude(JsonInclude.Include.ALWAYS) stats: Seq[String],
      sstats: Seq[String] = Nil,
      blooms: Seq[String] = Nil,
      props: Seq[String] = Nil,
      sizes: Seq[String] = Nil,
      rows: Seq[String] = Nil,
      nulls: Seq[String] = Nil,
      dvs: Seq[String] = Nil,
      @JsonInclude(JsonInclude.Include.ALWAYS) tags: Seq[String],
      @JsonInclude(JsonInclude.Include.NON_ABSENT) schema: Option[String] = None)
    extends Channels {

    def state: TableState = TableState(
      live = live,
      stats = fileStats.map(s => (s.file, s.col) -> (s.lo, s.hi)).toMap,
      sstats = strStats.map(s => (s.file, s.col) -> (s.lo, s.hi)).toMap,
      tags = tags.toSet,
      schema = schema,
      blooms = bloomPairs,
      props = propChanges.collect { case (k, Some(v)) => k -> v }.toMap,
      sizes = fileSizes.toMap,
      dvs = dvEntries.collect { case (f, s, n) if s != "*" => f -> (s, n) }.toMap,
      rows = rowCounts.toMap,
      nulls = nullCounts.map(e => (e._1, e._2) -> e._3).toMap)
  }

  private[sources] object Checkpoint {
    /** Only LIVE files' channels ride forward: a removed file's ranges
      * can never prune anything again, and dropping them keeps the
      * checkpoint O(live files), not O(files ever added). */
    def of(state: TableState): Checkpoint = {
      val liveSet = state.live.toSet
      Checkpoint(
        live = state.live,
        stats = Channels.stats(state.stats.collect {
          case ((f, c), (lo, hi)) if liveSet.contains(f) => FileStat(f, c, lo, hi)
        }.toSeq.sortBy(s => (s.file, s.col))),
        sstats = Channels.sstats(state.sstats.collect {
          case ((f, c), (lo, hi)) if liveSet.contains(f) => StrStat(f, c, lo, hi)
        }.toSeq.sortBy(s => (s.file, s.col))),
        blooms = Channels.blooms(
          state.blooms.toSeq.filter(b => liveSet.contains(b._1)).sorted),
        props = Channels.props(
          state.props.toSeq.sorted.map { case (k, v) => k -> Some(v) }),
        sizes = Channels.sizes(
          state.sizes.toSeq.filter(s => liveSet.contains(s._1)).sortBy(_._1)),
        rows = Channels.rows(
          state.rows.toSeq.filter(s => liveSet.contains(s._1)).sortBy(_._1)),
        nulls = Channels.nulls(state.nulls.toSeq.collect {
          case ((f, c), n) if liveSet.contains(f) => (f, c, n)
        }.sortBy(e => (e._1, e._2))),
        dvs = Channels.dvs(state.dvs.toSeq.filter(d => liveSet.contains(d._1))
          .sortBy(_._1).map { case (f, (s, n)) => (f, s, n) }),
        tags = state.tags.toSeq.sorted,
        schema = state.schema)
    }
  }

  /** Deletion-vector sidecar codec: `"GDV1"` magic, int32 count, then
    * count big-endian int64 row indexes (sorted ascending). Dependency-
    * free like the manifest codec; a corrupt sidecar decodes to empty
    * (the read then SKIPS NOTHING — fail-open would resurrect deleted
    * rows, so decode throws instead). */
  private[sources] def encodeDvBytes(rows: Array[Long]): Array[Byte] = {
    java.util.Arrays.sort(rows)
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * rows.length)
    bb.put("GDV1".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.putInt(rows.length)
    rows.foreach(bb.putLong)
    bb.array()
  }

  private[sources] def decodeDvBytes(bytes: Array[Byte]): Seq[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(new String(magic,
      java.nio.charset.StandardCharsets.US_ASCII) == "GDV1",
      "corrupt deletion-vector sidecar (bad magic)")
    val n = bb.getInt
    require(n >= 0 && bytes.length == 8 + 8L * n,
      s"corrupt deletion-vector sidecar (count $n vs ${bytes.length} bytes)")
    (0 until n).map(_ => bb.getLong)
  }

  /** Key prefix under which [[SnapshotTable.addCheckConstraint]]
    * stores its expression in the table properties. */
  val ConstraintPrefix: String = "constraint."

  /** A write was rejected because a CHECK constraint evaluated FALSE
    * for at least one incoming row (NULL passes, as in SQL CHECK /
    * Delta constraints). Nothing was committed. */
  final class ConstraintViolation(msg: String)
    extends IllegalArgumentException(msg)

  /** Table property opting in to drop+add (rename-shaped) schema
    * changes on append-shaped writes; see `resolveSchema`. */
  val AcceptDropAddProp: String = "schema.acceptDropAdd"

  /** Table property holding the comma-joined, lowercase PHYSICAL
    * names of DROPPED columns (see `dropColumn`): live files may still
    * store those columns on disk, so re-adding a column under such a
    * name would silently read the dropped column's old values back —
    * refused until a rewrite retires the data (Delta's name-mode
    * column mapping has the same reservation; id mode is what lifts
    * it). */
  val RetiredPhysicalProp: String = "schema.retiredPhysical"

  /** StructField metadata key carrying a column's PHYSICAL name — the
    * name data files actually store — when it differs from the
    * LOGICAL name readers see (Delta's column mapping, name mode).
    * `renameColumn` changes only the logical name and records the
    * physical one here; reads scan under physical names and alias to
    * logical, so files written before the rename keep their values. */
  val PhysicalNameKey: String = "graft.physical"

  /** Max parquet-footer reads the driver performs itself when
    * resolving per-file row counts; larger file lists go through one
    * distributed pass (see `footerRowCounts`). */
  private[sources] val DriverFooterReads = 64

  /** Strip [[PhysicalNameKey]] from every field: a WRITER's frame is
    * logical by definition — the key is only ever GRANTED by this
    * table's own prior schema (resolveSchema/graftMapping re-inherit
    * it). Without this, a frame read from a DIFFERENT mapped table
    * (read()/diff()/a CDF stream) would smuggle that table's physical
    * names into this one's recorded schema, and reads here would
    * resolve a physical column its own files never stored — all-null.
    * Cheap contains-guard: unmapped schemas return verbatim. */
  private[graft] def stripPhysical(json: String): String =
    if (!json.contains(PhysicalNameKey)) json
    else {
      import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructType}
      val st = DataType.fromJson(json).asInstanceOf[StructType]
      StructType(st.fields.map { f =>
        if (f.metadata.contains(PhysicalNameKey))
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .remove(PhysicalNameKey).build())
        else f
      }).json
    }

  /** The name `f`'s values are stored under in data files. */
  private[sources] def physicalName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey)
    else f.name

  /** An append-shaped write was rejected because its schema drops an
    * existing column while adding a new one — rename-ambiguous without
    * column mapping. Nothing was committed. */
  final class SchemaEvolutionViolation(msg: String)
    extends IllegalArgumentException(msg)

  /** A remove-bearing commit (compact/merge) raced a concurrent commit
    * that removed one of the same files; the operation recomputes from
    * the new head (see `commit`'s isolation scaladoc). */
  final class CommitConflict(msg: String) extends RuntimeException(msg)
}
