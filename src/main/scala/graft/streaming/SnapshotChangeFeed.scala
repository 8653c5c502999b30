package graft.streaming

import graft.sources.SnapshotTable
import graft.streaming.SnapshotChangeFeed.{Bootstrap, Cursor, Intent}
import graft.util.Json
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental change-data-feed over a [[SnapshotTable]]: each
  * micro-batch is one MANIFEST RANGE `(from, to]`, materialized with
  * [[SnapshotTable.diff]] (append-only ranges are a file-pruned scan of
  * ONLY the added files — no re-scan of the table, whatever its size;
  * ranges containing rewrites fall back to the exact two-sided diff).
  * The shape Delta's Change Data Feed exposes, built on the manifest
  * log this table already has.
  *
  * Exactly-once without a coordinator, via two files under
  * `checkpointDir` (both published atomically, the manifest-commit
  * pattern):
  *
  *  - `intent` — the WRITE-AHEAD range: [[next]] persists `(from, to]`
  *    BEFORE handing the frame out, so a consumer that crashed
  *    mid-range replays EXACTLY the same range on restart — the head
  *    may have advanced, but the replayed batch (and therefore its
  *    [[batchTag]]) is identical, which is what lets an idempotent
  *    sink ([[SnapshotTable.appendIfAbsent]] keyed by the tag)
  *    deduplicate the redelivery;
  *  - `cursor` — the committed position: [[commit]] advances it and
  *    retires the intent. Crash between sink-write and commit ⇒
  *    redelivery of a tag the sink already holds ⇒ skipped. Crash
  *    before sink-write ⇒ plain replay. Either way the downstream
  *    converges byte-identically.
  *  - `bootstrap` — a one-time marker written before the first intent.
  *    All three are replaced window-free
  *    (`FileContext.rename(OVERWRITE)` off-posix), and the marker
  *    turns a cursor that VANISHES anyway (external deletion, a store
  *    with no atomic replace) into a hard error naming the
  *    re-bootstrap path — never a silent replay from `startAt`, whose
  *    fresh range tags a tag-deduping sink could not skip.
  *
  * Retention: a feed that fell behind [[SnapshotTable.vacuumLog]]
  * (cursor below the retention floor) fails with a clean error naming
  * the re-bootstrap path instead of a FileNotFound mid-replay — the
  * same contract the table's own time travel has. A FRESH feed on an
  * existing table starts at version 0: its first range is the full
  * current snapshot as `insert` rows (Delta CDF's initial-snapshot
  * semantics) — pass `startAt = table.currentVersion` to tail new
  * changes only.
  *
  * Scale shape: per batch the driver reads O(range) small manifests
  * plus two tiny cursor files; data IO is the added files only. No
  * listing, no O(table) work anywhere.
  */
final class SnapshotChangeFeed(spark: SparkSession, table: SnapshotTable,
    checkpointDir: String, startAt: Int = 0) {

  private def fs: FileSystem = FileSystem.get(
    new Path(checkpointDir).toUri, spark.sparkContext.hadoopConfiguration)
  private def cursorPath = new Path(s"$checkpointDir/cursor")
  private def intentPath = new Path(s"$checkpointDir/intent")
  private def bootstrapPath = new Path(s"$checkpointDir/bootstrap")

  /** The checkpoint file at `p`; None on absence or any parse/IO
    * problem. */
  private def read[T](p: Path, cls: Class[T]): Option[T] = try {
    if (!fs.exists(p)) None else Some(Json.read(fs, p, cls))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Test seam: route checkpoint writes through the FileContext branch
    * even on `file:` (the spec drives the non-posix code path without
    * an HDFS cluster). */
  private[streaming] var forceFileContext: Boolean = false

  private def writeAtomic(p: Path, body: AnyRef): Unit = {
    fs.mkdirs(new Path(checkpointDir))
    val tmp = new Path(s"$checkpointDir/.tmp-${java.util.UUID.randomUUID()}")
    Json.write(fs, tmp, body)
    if (fs.getUri.getScheme == "file" && !forceFileContext) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else try {
      // write-new-then-rename-over: FileContext.rename(OVERWRITE) is
      // the atomic replace HDFS exposes — no instant in which the
      // cursor/intent file is absent (the window the old
      // delete-then-rename had, through which a crash lost the cursor)
      org.apache.hadoop.fs.FileContext.getFileContext(
        fs.makeQualified(p).toUri,
        spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      // a store with no AbstractFileSystem binding: last-resort
      // delete+rename — the bootstrap marker turns a loss in its
      // brief window into a hard error, never a silent startAt replay
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(p, false)
        if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    }
  }

  /** Committed position: every change at or below it has been handed
    * to a consumer AND committed. A MISSING cursor on a bootstrapped
    * checkpoint is a hard error, not a silent fall-back to [[startAt]]
    * — replaying `(startAt, head]` would carry a tag no prior range
    * ever had, so a tag-deduping sink would double-apply history. The
    * one legitimate cursor-less bootstrapped state is a first batch
    * that crashed before its first commit: the write-ahead intent for
    * `(startAt, _]` is still on disk and pins the verbatim replay. */
  def cursor: Int = read(cursorPath, classOf[Cursor]) match {
    case Some(c) => c.version
    case None if !fs.exists(bootstrapPath) => startAt
    case None if pendingIntent.exists(_.from == startAt) => startAt
    case None => throw new IllegalStateException(
      s"change-feed checkpoint $checkpointDir is bootstrapped but its " +
        "cursor file is missing: committed position lost. Replaying " +
        s"from startAt=$startAt would re-deliver history under fresh " +
        "range tags that a tag-deduping sink cannot skip. Re-bootstrap: " +
        "reconcile the sink against the full current snapshot, then " +
        "restart the feed with startAt = that version under a FRESH " +
        "checkpointDir")
  }

  /** The write-ahead range [[next]] persisted and [[commit]] has not
    * yet retired. */
  private[graft] def pendingIntent: Option[Intent] =
    read(intentPath, classOf[Intent])

  /** The deterministic idempotence key of range `(from, to]` — feed it
    * to [[SnapshotTable.appendIfAbsent]] (or any tag-deduping sink) so
    * a crash-redelivered batch is skipped, not double-applied. */
  def batchTag(from: Int, to: Int): String = s"cdf-$from-$to"

  /** The next micro-batch, or None when the feed is caught up:
    * `(changes frame with _change insert|delete, fromVersion,
    * toVersion)`. Persists the range intent BEFORE returning, so the
    * same range redelivers identically after a crash until [[commit]]
    * retires it. `maxVersions` bounds how many commits one batch
    * spans (backpressure for a feed that fell far behind). */
  def next(maxVersions: Int = Int.MaxValue): Option[(DataFrame, Int, Int)] = {
    require(maxVersions > 0, "maxVersions must be positive")
    val from = cursor
    val floor = table.retentionFloor
    if (from < floor)
      throw new IllegalStateException(
        s"change feed at version $from fell behind the retention floor " +
          s"$floor of ${table.root}: the manifests it needs were " +
          "vacuumed. Re-bootstrap: read the full current snapshot, " +
          "then restart the feed with startAt = that version (a fresh " +
          "checkpointDir)")
    // an unretired intent replays VERBATIM — the head may have moved,
    // but the crashed consumer's range (and tag) must not
    val (f, t) = pendingIntent match {
      case Some(Intent(fi, ti)) if fi == from => (fi, ti)
      case _ =>
        val head = table.currentVersion
        // Long arithmetic: from + Int.MaxValue overflows Int
        val to = math.min(head.toLong, from.toLong + maxVersions).toInt
        if (to <= from) return None
        writeAtomic(intentPath, Intent(from, to))
        // one-time bootstrap marker, durable AFTER the first intent —
        // ordering matters: a crash between the two writes must leave
        // bootstrap MISSING (cursor falls back to startAt and the
        // surviving intent pins the verbatim replay — no batch was
        // ever handed out, so the replay is safe). Marker-first had a
        // window where bootstrap existed with neither cursor nor
        // intent, permanently bricking a checkpoint that never
        // delivered anything. Once the marker exists, an intent or
        // cursor existed when it was written and the intent is only
        // retired after the cursor is durable — so marker-present with
        // NEITHER file really is a detected loss (see [[cursor]]),
        // never a recoverable crash state
        if (!fs.exists(bootstrapPath))
          writeAtomic(bootstrapPath, Bootstrap(startAt))
        (from, to)
    }
    Some((table.diff(f, t), f, t))
  }

  /** Retire the intent and advance the cursor to `toVersion` — call
    * AFTER the consumer's own write succeeded (its tag is durable). */
  def commit(toVersion: Int): Unit = {
    require(toVersion >= cursor, s"cursor cannot move backward to $toVersion")
    writeAtomic(cursorPath, Cursor(toVersion))
    fs.delete(intentPath, false)
  }

  /** Drain every available change: `consumer(frame, tag)` per range,
    * committed after each successful call (AvailableNow semantics).
    * Returns the number of ranges processed. */
  def drainAvailableNow(consumer: (DataFrame, String) => Unit,
      maxVersions: Int = Int.MaxValue): Int = {
    var n = 0
    var more = true
    while (more) next(maxVersions) match {
      case Some((df, f, t)) =>
        consumer(df, batchTag(f, t))
        commit(t)
        n += 1
      case None => more = false
    }
    n
  }
}

private[graft] object SnapshotChangeFeed {
  /** `cursor`: the committed position. */
  final case class Cursor(version: Int)
  /** `intent`: the write-ahead range `(from, to]`. */
  final case class Intent(from: Int, to: Int)
  /** `bootstrap`: the one-time marker. */
  final case class Bootstrap(startAt: Int)
}
