package graft.domain

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** The [[GaugeStore]] implementation: its FACT tables (`gauge_data`,
  * `model_data`) are manifest-log [[SnapshotTable]]s. The log needs
  * only create-if-absent on one small file per commit (no atomic
  * DIRECTORY rename), so it runs on object stores, and it buys on any
  * filesystem: snapshot-isolated readers during rewrites, time travel,
  * CDC ([[SnapshotTable.diff]]), and metadata-only scan pruning from
  * per-file `obs_day`/`run_day` stats (the reference pipeline's read
  * scopes, get_obs_timeseries_station_data.sql:24, become BETWEEN on
  * the day number).
  *
  * Dimension tables stay plain parquet in the base class: they are
  * O(#stations)-sized, rewritten through the driver, and gain nothing
  * from a manifest log. The ledgers are manifest-log tables of the base
  * class too; [[tableStats]] and [[binPackCompact]] serve them with
  * the facts.
  *
  * An [[atomicCommit]]'s fact batch is written once, as ONE manifest
  * commit tagged by the commit id (the tag is the exactly-once key,
  * like a streaming sink's batch id). An obs batch commits through the
  * keep-latest verb itself ([[SnapshotTable.keepLatestWhere]] with the
  * batch as its inserts), so no version holds a row next to the one
  * that supersedes it; a model batch commits through the same verb,
  * scoped to its runs' timemarks, so a rerun replaces the run's older
  * generation inside its own commit.
  *
  * Keep-latest and the explicit run-day swap
  * ([[swapModelRunDatePartitions]]) are copy-on-write verbs of the
  * table's DML pipeline ([[SnapshotTable.keepLatestWhere]],
  * [[SnapshotTable.swapWhere]]). Each commits keyed and unscoped, and
  * the pipeline's conflict retry is their only retry: an interleaved
  * rewrite or keyed commit forces a recompute from the new head, a
  * blind append commutes.
  *
  * Daily rollup maintenance is CDC-DRIVEN: [[rollupDaily]] diffs the
  * fact table since the version the rollup last reflected and
  * rebuilds exactly the (source, date) groups the CDC touched — on
  * append-only ranges the diff reads only the NEW files, so a day's
  * ingest costs a day's scan at any table size. OHLC
  * open/close/high/low are rebuilt per group, not incrementally folded
  * — deletes can invalidate extrema without a rescan, so group-scoped
  * recompute is the correct maintenance algebra for them
  * (COUNT/SUM-only states can use [[graft.sources.IncrementalAgg]]
  * instead).
  */
class SnapshotGaugeStore(spark2: SparkSession, root2: String)
    extends GaugeStore(spark2, root2) {

  /** The manifest-log fact tables. Public: callers get time travel /
    * diff / history on the facts through the standard snapshot API. */
  lazy val gaugeTable = new SnapshotTable(spark, path("gauge_data"))
  lazy val modelTable = new SnapshotTable(spark, path("model_data"))

  private def dayOf(date: String): Long =
    java.time.LocalDate.parse(date.take(10)).toEpochDay

  /** Fact rows + the derived columns the gauge fact carries:
    * `data_source_part`/`obs_date` (rollup grouping and scoped
    * repairs) plus `obs_day` (epoch day, LONG) — the manifest-stat
    * pruning key. */
  private def withGaugeParts(df: DataFrame, dataSource: String): DataFrame =
    df.withColumn("data_source_part", lit(dataSource))
      .withColumn("obs_date", to_date(col("time")))
      .withColumn("obs_day", unix_date(to_date(col("time"))).cast("long"))

  private def withModelParts(df: DataFrame): DataFrame =
    df.withColumn("run_date", to_date(col("timemark")))
      .withColumn("run_day", unix_date(to_date(col("timemark"))).cast("long"))

  override def appendGaugeData(df: DataFrame, dataSource: String): Unit = {
    // data_source_part is a per-append literal, so every staged file
    // records lo == hi string bounds — a later source-scoped
    // maintenance op prunes other sources' files from METADATA alone
    // (11-source store, one-source dedup: 1/11th of the candidate IO)
    gaugeTable.appendWithStats(withGaugeParts(df, dataSource),
      Seq("obs_day", "data_source_part"))
    ()
  }

  override def gaugeData: DataFrame =
    gaugeTable.read().drop("data_source_part", "obs_date", "obs_day")

  /** File-pruned fact scan: `readWhere` plans the day window from the
    * manifest `obs_day` stats, so IO is bounded to the files of the
    * window — without this, a [start,end] query over 100 TB scans
    * every file — and applies the same predicate to the rows. */
  override def gaugeDataForRange(startDate: String, endDate: String): DataFrame =
    gaugeTable.readWhere(col("obs_day").between(dayOf(startDate), dayOf(endDate)))
      .drop("data_source_part", "obs_date", "obs_day")

  override def hasGaugeData: Boolean = gaugeTable.currentVersion > 0

  /** One [[SnapshotTable.keepLatestWhere]] commit: the rows in scope
    * (and `inserts`) keep their latest `timemark` per
    * `(source_id, time)`. Only the files holding an in-scope row are
    * rewritten — the day and source stats prune the candidates from
    * metadata, one scan finds the hits — and their out-of-scope rows
    * are carried through; everything else stays shared with older
    * snapshots. */
  private def keepLatest(inScope: Column,
      inserts: Option[DataFrame] = None, tag: Option[String] = None): Unit = {
    gaugeTable.keepLatestWhere(inScope, Seq("source_id", "time"),
      Seq(col("timemark")), Seq("obs_day", "data_source_part"), inserts, tag)
    ()
  }

  /** The batch's commit is keep-latest over its rows and the live rows
    * of its scope: its `obs_day` window and `data_source_part`. A batch
    * with no dated row commits nothing. */
  override def stageGaugeData(df: DataFrame, dataSource: String,
      tag: String): Unit =
    stageFact(tag) {
      // one read of the batch serves its day bounds and both sides of
      // the fold (its unmatched and its matched rows)
      val rows = withGaugeParts(df, dataSource).cache()
      try {
        val days = rows.agg(min("obs_day"), max("obs_day")).collect()(0)
        if (!days.isNullAt(0))
          keepLatest(col("obs_day").between(days.getLong(0), days.getLong(1)) &&
            col("data_source_part") === dataSource, Some(rows), Some(tag))
      } finally rows.unpersist()
    }

  /** The batch's commit is keep-latest over its rows and the live rows
    * of its runs (the reference's rerun repair, ingestModelTasks.py:
    * 102-114): per `(source_id, time)` within a run's `run_day` and
    * `timemark`, the latest `proc_ts` survives. A first run matches no
    * stored row and commits its rows; a rerun rewrites only the files
    * holding its timemark's rows, in the same commit. Laid out one file
    * set per run day so the `run_day` stats prune to a run's own files.
    * The run list is O(runs per batch) — one driver collect. */
  override def stageModelData(df: DataFrame, tag: String): Unit =
    stageFact(tag) {
      // one read of the batch serves its run list and the fold
      val rows = withModelParts(df).repartition(col("run_day")).cache()
      try {
        val runs = rows.select("run_day", "timemark").distinct().collect()
          .filterNot(_.isNullAt(0))
        val inScope = runs.map(r => col("run_day") === r.getLong(0) &&
          col("timemark") === lit(r.get(1))).reduceOption(_ || _).getOrElse(lit(false))
        modelTable.keepLatestWhere(inScope, Seq("source_id", "time", "timemark"),
          Seq(col("proc_ts")), Seq("run_day"), Some(rows), Some(tag))
      } finally rows.unpersist()
      ()
    }

  override def compactGaugeData(
      scope: Option[(String, String)],
      dataSource: Option[String]): Unit =
    if (hasGaugeData) keepLatest(Seq(
      scope.map { case (lo, hi) => col("obs_day").between(dayOf(lo), dayOf(hi)) },
      dataSource.map(ds => col("data_source_part") === ds)
    ).flatten.reduceOption(_ && _).getOrElse(lit(true)))

  override def appendModelData(df: DataFrame): Unit = {
    modelTable.appendWithStats(withModelParts(df), Seq("run_day"))
    ()
  }

  override def modelData: DataFrame =
    modelTable.read().drop("run_date", "run_day")

  override def modelDataForTimemark(timemark: String): DataFrame =
    modelTable.readWhere(col("run_day") === dayOf(timemark) &&
        col("run_date") === to_date(lit(timemark)))
      .drop("run_date", "run_day")

  /** Pruned model scan for a TIME-range query (the nowcast serving
    * path): a nowcast row's run timemark sits within `horizonDays` of
    * the row's `time` by construction (each run contributes the
    * nowcast segment at its own clock), so only run days inside the
    * widened [start, end] window can hold qualifying rows. Without
    * this, years of model runs mean every nowcast request reads every
    * file; with it, request IO is window-bounded like
    * [[gaugeDataForRange]]. The widening is symmetric so the bound is
    * safe whichever side of `time` a deployment's run clock lands on.
    *
    * CONTRACT: `horizonDays` must bound the deployment's real
    * |time − timemark| for the rows being served — a run outside it
    * is pruned SILENTLY. The default (35 days) is generous even for
    * monthly run cadences; a deployment with longer hindcasts must
    * pass its own. */
  override def modelDataForRange(startDate: String, endDate: String,
      horizonDays: Int): DataFrame =
    modelTable.readWhere(col("run_day").between(
        dayOf(startDate) - horizonDays, dayOf(endDate) + horizonDays))
      .drop("run_date", "run_day")

  override def hasModelData: Boolean = modelTable.currentVersion > 0

  /** Run-day swap, one [[SnapshotTable.swapWhere]] commit: every row
    * of the swapped run days is replaced by `df`, other runs' rows
    * sharing the rewritten files (a NULL `run_day` too) are carried
    * through. The `run_day` stats prune the candidates, so a swap
    * costs one run's data, not the table size. The swapped-day list
    * is O(few) — one driver collect. No ingest path calls it: a rerun
    * is repaired inside its batch commit ([[stageModelData]]). */
  override def swapModelRunDatePartitions(df: DataFrame): Unit = {
    val repaired = withModelParts(df)
    val days = repaired.select(col("run_day")).distinct().collect()
    // a repair is per-run: null-timemark rows have no run to replace
    require(!days.exists(_.isNullAt(0)),
      "swapModelRunDatePartitions: repair rows must carry a timemark")
    if (days.isEmpty) return
    modelTable.swapWhere(repaired,
      col("run_day").isin(days.map(_.getLong(0)).toSeq: _*), Seq("run_day"))
    ()
  }

  // ---- CDC-driven rollup maintenance ------------------------------

  private def rollupVersionPath = new org.apache.hadoop.fs.Path(
    path("gauge_rollup_daily_version"))

  /** A missing/corrupt marker degrades to 0 — a FULL rebuild of every
    * live (source, date) group, which is slow but idempotent and
    * self-healing; throwing here would wedge rollup maintenance until
    * an operator deleted the file by hand. */
  private def rollupVersion: Int = {
    val fs = fsys
    if (!fs.exists(rollupVersionPath)) 0
    else {
      val in = fs.open(rollupVersionPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      scala.util.Try(txt.toInt).getOrElse {
        System.err.println(
          s"[rollup] corrupt version marker '$txt' at $rollupVersionPath — full rebuild")
        0
      }
    }
  }

  /** tmp + rename so a crash mid-write can't leave a half-written
    * marker as the live one (the read side tolerates it anyway). */
  private def writeRollupVersion(v: Int): Unit = {
    val fs = fsys
    val tmp = new org.apache.hadoop.fs.Path(
      rollupVersionPath.toString + s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(rollupVersionPath, false)
    require(fs.rename(tmp, rollupVersionPath), s"marker swap failed: $rollupVersionPath")
  }

  /** CDC-driven incremental rollup: diff the fact since the version
    * the rollup last reflected, rebuild ONLY the (source, date) groups
    * the CDC touched (insert or delete — late arrivals, scoped dedup
    * repairs, and merges all surface in the diff), dynamic-partition-
    * overwrite exactly those rollup dirs, then record the reflected
    * version. Append-only ranges read only the NEW files; a
    * compaction-only range diffs to empty and costs nothing. A crash
    * between the overwrite and the version write re-rebuilds the same
    * groups — idempotent. Returns the rebuilt (source, date) keys. */
  override def rollupDaily(): Seq[(String, String)] = {
    if (!hasGaugeData) return Seq.empty
    val cur = gaugeTable.currentVersion
    val prevV = rollupVersion
    if (cur == prevV) return Seq.empty
    val cdc = gaugeTable.diff(prevV, cur)
    val stale = cdc.select(col("data_source_part"), col("obs_date").cast("string"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq
    if (stale.isEmpty) { writeRollupVersion(cur); return Seq.empty }
    // group-scoped rebuild from the LIVE snapshot: file IO bounded by
    // the touched days' files (manifest obs_day pruning), rows by the
    // pair disjunction
    val days = stale.map(_._2).map(dayOf)
    val pred = stale.map { case (ds, d) =>
      col("data_source_part") === ds && col("obs_date") === to_date(lit(d))
    }.reduce(_ || _)
    val fact = gaugeTable.readWhere(
      col("obs_day").between(days.min, days.max) && pred)
    val present = Schemas.obsMeasures.filter(fact.columns.contains)
    val value =
      if (present.isEmpty) lit(null).cast("double")
      else coalesce(present.map(col): _*)
    val scoped = fact.select(col("data_source_part"), col("obs_date"),
      col("source_id"), col("time"), col("timemark"), value.as("__v"))
    val rolled = graft.operators.Timeseries.ohlc(
      scoped, Seq("data_source_part", "obs_date", "source_id"),
      "time", "timemark", "__v", trunc = "day", withMean = true)
      .drop("bucket")
    val rollPath = path("gauge_rollup_daily")
    // groups the CDC touched but that now hold ZERO fact rows produce
    // no partition in `rolled`, and dynamic overwrite only replaces
    // partitions PRESENT in the write — their stale rollup dirs must
    // be deleted explicitly or a fully-deleted day serves forever
    val survivingGroups = scoped.select(col("data_source_part"),
      col("obs_date").cast("string")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val emptied = stale.filterNot(survivingGroups.contains)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      if (survivingGroups.nonEmpty)
        rolled.write.mode(SaveMode.Overwrite)
          .partitionBy("data_source_part", "obs_date").parquet(rollPath)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    if (emptied.nonEmpty) {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
      val fs = fsys
      emptied.foreach { case (ds, d) =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$rollPath/data_source_part=${escapePathName(ds)}/obs_date=${escapePathName(d)}"),
          true)
      }
    }
    writeRollupVersion(cur)
    stale
  }

  /** The manifest table behind a fact or ledger table name, with the
    * columns its rewrites record stats for; None for every other
    * table. */
  private def manifestTable(table: String): Option[(SnapshotTable, Seq[String])] =
    table match {
      case "gauge_data" => Some((gaugeTable, Seq("data_source_part", "obs_day")))
      case "model_data" => Some((modelTable, Seq("run_day")))
      case "ledger_model" | "apsviz_station_file_meta" =>
        Some((ledgers(table), Seq("model_run_id")))
      case _ => ledgers.get(table).map((_, Nil))
    }

  /** Manifest tables report their LIVE snapshot from the manifest —
    * files and bytes the current version references. A directory walk
    * would count `_log` manifests and files already removed but not yet
    * vacuumed. */
  override def tableStats(table: String): Option[Map[String, Any]] =
    manifestTable(table) match {
      case Some((t, _)) =>
        if (!tableExists(table)) None
        else Some(Map("table" -> table, "files" -> t.files().size,
          "bytes" -> t.liveBytes()))
      case None => super.tableStats(table)
    }

  /** Small-file maintenance for the manifest tables: a manifest-commit
    * rewrite via [[SnapshotTable.compact]] (older snapshots keep
    * reading the originals until [[SnapshotTable.vacuum]]), sized to
    * `targetBytes`, re-recording the table's stat columns. Idempotent:
    * an already-packed table (and no z-order request) is left alone.
    * Other tables go through the base class's leaf bin-pack. */
  override def binPackCompact(
      table: String, targetBytes: Long,
      parallelism: Int,
      zorderCols: Seq[String], zorderBits: Int): Seq[String] = {
    manifestTable(table) match {
      case None => super.binPackCompact(table, targetBytes, parallelism,
        zorderCols, zorderBits)
      case Some((t, _)) if t.currentVersion == 0 => Seq.empty
      case Some((t, stats)) =>
        // the rewrite re-records the stats the table's reads prune on
        // (day, source, run), which it would otherwise lose
        val statCols = (zorderCols ++ stats).distinct
        if (zorderCols.nonEmpty) {
          // a re-clustering request rewrites the live set (layout
          // change is whole-table by definition)
          val bytes = t.liveBytes() // manifest sizes: no per-file stats
          val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          val v = t.compact(n, zorderCols, zorderBits, statCols = statCols)
          Seq(s"compacted $table to $n file(s) (snapshot v$v)")
        } else {
          // plain maintenance touches ONLY the small-file tail
          // (manifest-size selection — metadata-only at any scale)
          val v = t.compactSmall(targetBytes, statCols = statCols)
          if (v == 0) Seq.empty
          else Seq(s"compacted $table small files (snapshot v$v)")
        }
    }
  }
}
