package graft.domain

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage for the engine's star schema — the Spark restatement of the
  * reference's Postgres tables (SURVEY §1.1).
  *
  * Layout under `root`:
  *   stations/, gauge_source/, model_source/ — dims (small)
  *   ledger_obs/, ledger_model/              — harvest-file ledgers
  *   gauge_data/, model_data/                — the facts: manifest-log
  *                                             [[graft.sources.SnapshotTable]]s
  *   _staging/, _commits/                    — [[atomicCommit]] protocol dirs
  *
  * This class owns everything but the facts. Dims and ledgers are
  * O(#stations)/O(#files) rows: they are rewritten through the driver
  * and park-and-swapped into place, and [[vacuum]] recovers a swap a
  * crash cut short. The fact surface is declared here and implemented
  * once, by [[SnapshotGaugeStore]], over a manifest log that needs only
  * create-if-absent on one small file per commit — atomic on object
  * stores as well as HDFS/POSIX.
  */
abstract class GaugeStore(val spark: SparkSession, val root: String) {

  protected def path(t: String) = s"$root/$t"

  protected def fsys = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** Backup-dir suffix: wall-clock millis (meaningful ACROSS process
    * restarts, unlike System.nanoTime whose origin is per-JVM — vacuum
    * orders backups by this number to restore the newest) plus a
    * sub-millisecond disambiguator. */
  private def bakSuffix(): Long =
    System.currentTimeMillis() * 1000L + (System.nanoTime() / 1000L) % 1000L

  /** Crash-safe whole-table swap: PARK the live dir as a backup, rename
    * the tmp into place, then drop the backup. At no point is the only
    * copy deleted — a crash can strand a `<table>_bak_*` dir (recovered
    * by [[vacuum]]) but never loses data, unlike delete-then-rename
    * which has a window where the live path is gone and the data sits
    * only in tmp. */
  private def swapInto(table: String, tmp: String): Unit = {
    val fs = fsys
    val live = new org.apache.hadoop.fs.Path(path(table))
    val backup = new org.apache.hadoop.fs.Path(path(
      table + "_bak_" + bakSuffix()))
    val hadLive = fs.exists(live)
    if (hadLive) require(fs.rename(live, backup), s"park failed: $live")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), live), s"swap failed: $live")
    if (hadLive) fs.delete(backup, true)
  }

  /** Rewrite a SMALL table (ledger/dim — O(#files or #stations) rows)
    * through tmp + [[swapInto]]. The frame is materialized to the
    * driver first because its plan typically READS the path being
    * replaced. */
  private def rewriteSmall(table: String, df: DataFrame): Unit = {
    val local = df.collect().toIndexedSeq
    val fresh = spark.createDataFrame(
      spark.sparkContext.parallelize(local, 1), df.schema)
    val tmp = path(table + "_tmp")
    fresh.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapInto(table, tmp)
  }

  // ---- atomic multi-table commit (manifest-dir protocol) -----------

  /** Unique commit id, ordered across process restarts. */
  def newCommitId(prefix: String): String = s"${prefix}_${bakSuffix()}"

  /** All-or-nothing publish of parquet staged for SEVERAL tables at
    * once (a fact batch plus its ledger rows). The caller writes each
    * table under `<staging>/<table>/…` in the live table's relative
    * layout; the COMMIT POINT is ONE atomic rename of the staging dir
    * into `_commits/`. [[publishCommit]] then lands every staged table
    * and drops the commit dir — idempotent and crash-resumable
    * ([[vacuum]] re-publishes any stranded commit). Readers only ever
    * see live tables, so the pair of mutations is atomic: a crash
    * before the rename leaves invisible staging garbage (swept by
    * vacuum), after it the commit completes exactly once on the next
    * publish. A `stage` that throws leaves nothing behind: its
    * uncommitted staging dir is deleted before the error propagates.
    *
    * This is the reference's BEGIN / COPY / UPDATE ingested / COMMIT
    * transaction (ingestObsTasks.py:145-149, :405-409) restated on
    * immutable storage. */
  def atomicCommit(commitId: String)(stage: String => Unit): Unit = {
    val fs = fsys
    val staging = new org.apache.hadoop.fs.Path(path(s"_staging/$commitId"))
    fs.delete(staging, true)
    fs.mkdirs(staging)
    try stage(staging.toString)
    catch {
      case scala.util.control.NonFatal(e) =>
        fs.delete(staging, true)
        throw e
    }
    val commitsRoot = new org.apache.hadoop.fs.Path(path("_commits"))
    fs.mkdirs(commitsRoot)
    val committed = new org.apache.hadoop.fs.Path(commitsRoot, commitId)
    require(fs.rename(staging, committed), s"commit rename failed: $commitId")
    publishCommit(committed)
  }

  /** Publish one committed-but-unpublished commit dir into the live
    * tables — the step [[atomicCommit]] runs right after its commit
    * rename and [[vacuum]] re-runs for commits stranded by a crash.
    * MUST be idempotent under re-runs. Non-fact tables publish through
    * [[finalizeCommit]]. */
  protected def publishCommit(committed: org.apache.hadoop.fs.Path): Unit

  /** Move every staged data file into its table at the same relative
    * path, then drop the commit dir. Spark metadata files (`_SUCCESS`)
    * are skipped — each live table keeps its own; part-file names are
    * job-unique so a resumed move cannot collide. */
  protected final def finalizeCommit(committed: org.apache.hadoop.fs.Path): Unit = {
    val fs = fsys
    val rootPath = new org.apache.hadoop.fs.Path(root)
    def walk(dir: org.apache.hadoop.fs.Path, rel: List[String]): Unit =
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath, rel :+ st.getPath.getName)
        else if (!st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) {
          val destDir = rel.foldLeft(rootPath)(
            (p, seg) => new org.apache.hadoop.fs.Path(p, seg))
          fs.mkdirs(destDir)
          require(fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(destDir, st.getPath.getName)),
            s"finalize move failed: ${st.getPath}")
        }
      }
    walk(committed, Nil)
    fs.delete(committed, true)
  }

  /** Existence via the root's OWN filesystem: java.io.File is always
    * false for hdfs://-s3a:// roots, which silently turns readOrEmpty
    * into "missing", has* into false, and dim upserts into blind
    * overwrites on exactly the object-store deployments the manifest
    * log targets. */
  def tableExists(table: String): Boolean =
    fsys.exists(new org.apache.hadoop.fs.Path(path(table)))

  private def emptyFrame(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readOrEmpty(table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (tableExists(table)) spark.read.parquet(path(table))
    else emptyFrame(schema)

  def writeStations(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path("stations"))

  /** Stations dim; stores seeded before the apsviz_station column was
    * added are defaulted on read (false). */
  def stations: DataFrame = {
    val df = spark.read.parquet(path("stations"))
    if (df.columns.contains("apsviz_station")) df
    else df.withColumn("apsviz_station", lit(false))
  }

  /** Flip apsviz_station=true for the named stations (the reference
    * view's g.apsviz_station flag; dim is tiny → tmp+park-swap rewrite). */
  def markApsVizStations(stationNames: Seq[String]): Unit =
    rewriteSmall("stations", stations.withColumn("apsviz_station",
      when(col("station_name").isin(stationNames: _*), lit(true))
        .otherwise(col("apsviz_station"))))

  def writeGaugeSource(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path("gauge_source"))

  def gaugeSource: DataFrame = spark.read.parquet(path("gauge_source"))

  /** Stage writers for an [[atomicCommit]]: each table lands under the
    * staging dir; the facts carry their day partitions, which surface
    * as columns when [[publishCommit]] reads them back. */
  def stageGaugeData(df: DataFrame, dataSource: String, stagingDir: String): Unit =
    df.withColumn("data_source_part", lit(dataSource))
      .withColumn("obs_date", to_date(col("time")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("data_source_part", "obs_date")
      .parquet(s"$stagingDir/gauge_data")

  def stageLedger(df: DataFrame, stagingDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$stagingDir/ledger_obs")

  def stageModelData(df: DataFrame, stagingDir: String): Unit =
    df.withColumn("run_date", to_date(col("timemark")))
      .write.mode(SaveMode.Overwrite).partitionBy("run_date")
      .parquet(s"$stagingDir/model_data")

  def stageModelLedger(df: DataFrame, stagingDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy("model_run_id")
      .parquet(s"$stagingDir/ledger_model")

  // ---- fact tables (implemented by SnapshotGaugeStore) -------------

  /** Append a batch of obs fact rows of one data source; the caller
    * has already deduplicated within the batch. */
  def appendGaugeData(df: DataFrame, dataSource: String): Unit

  def gaugeData: DataFrame

  /** Obs facts whose day lies in [startDate, endDate], with file IO
    * bounded to that window. */
  def gaugeDataForRange(startDate: String, endDate: String): DataFrame

  def hasGaugeData: Boolean

  /** Cross-batch keep-latest repair (J8 across appends). `scope` =
    * (loDate, hiDate) in session-timezone `yyyy-MM-dd` — the ingested
    * batch's bounds, the reference's per-file dedup scope
    * (ingestObsTasks.py:392-399); `dataSource` narrows it to one
    * source. No scope → the whole fact. */
  def compactGaugeData(
      scope: Option[(String, String)] = None,
      dataSource: Option[String] = None): Unit

  def appendModelData(df: DataFrame): Unit

  def modelData: DataFrame

  /** Model facts of one run timemark's day (forecast/nowcast queries
    * pin `timemark`). */
  def modelDataForTimemark(timemark: String): DataFrame

  /** Model facts for a TIME-range query; see the `horizonDays`
    * contract on [[SnapshotGaugeStore.modelDataForRange]]. */
  def modelDataForRange(startDate: String, endDate: String,
      horizonDays: Int = 35): DataFrame

  def hasModelData: Boolean

  /** Rerun repair: `df` holds the REPAIRED rows of one (or few) run
    * timemarks and replaces every row of those run days. */
  def swapModelRunDatePartitions(df: DataFrame): Unit

  /** Incremental daily OHLC rollup of the obs fact; returns the
    * rebuilt (data_source_part, obs_date) groups. */
  def rollupDaily(): Seq[(String, String)]

  /** Leaf data dirs of a non-fact table: (relative path segments,
    * bytes, file count) for every DEEPEST dir holding data files —
    * partition dirs, or the table root itself for unpartitioned
    * tables. The single definition of "leaf" shared by compaction and
    * [[tableStats]], so the stats signal always points at partitions
    * the compactor will actually touch. */
  private def dataLeaves(table: String): Seq[(List[String], Long, Int)] = {
    val fs = fsys
    val rootP = new org.apache.hadoop.fs.Path(path(table))
    if (!fs.exists(rootP)) return Seq.empty
    def isData(f: org.apache.hadoop.fs.FileStatus) =
      f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".")
    def walk(dir: org.apache.hadoop.fs.Path, rel: List[String])
        : Seq[(List[String], Long, Int)] = {
      val st = fs.listStatus(dir)
      val sub = st.filter(_.isDirectory)
        .flatMap(d => walk(d.getPath, rel :+ d.getPath.getName)).toSeq
      val own = st.filter(isData)
      if (own.nonEmpty) sub :+ ((rel, own.map(_.getLen).sum, own.length))
      else sub
    }
    walk(rootP, Nil)
  }

  /** Maintenance bin-packing compaction of a directory-laid table
    * (ledgers, dims, a BuildAnnIndex `lists` layout) — the antidote to
    * small-file accretion: cron-cadence appends lay down one file set
    * per batch per partition, which nothing else ever rewrites. For
    * every leaf partition dir whose file count exceeds
    * ⌈bytes/targetBytes⌉, rewrites the leaf to exactly that many files
    * (a narrow `coalesce` — no shuffle, rows untouched) and
    * park-and-swaps it into place.
    *
    * Crash-safe: displaced leaves sit in a `_pbak_` dir until every
    * rename lands and [[vacuum]] restores any leaf stranded mid-swap.
    * Idempotent: a second run finds every leaf already at target and
    * does nothing. Leaf discovery and the swap loop are driver-side
    * but O(#partition dirs) — control plane, not data plane; the
    * rewrites themselves run as `parallelism` concurrent Spark jobs so
    * one giant leaf doesn't serialize the sweep. */
  def binPackCompact(
      table: String, targetBytes: Long = 128L << 20,
      parallelism: Int = 8,
      zorderCols: Seq[String] = Nil, zorderBits: Int = 4): Seq[String] = {
    require(targetBytes > 0)
    val fs = fsys
    val tableRoot = new org.apache.hadoop.fs.Path(path(table))
    if (!fs.exists(tableRoot)) return Seq.empty
    def targetFiles(bytes: Long) =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val allLeaves = dataLeaves(table)
    // Z-order columns must exist in the LEAF FILE schema: leaves are
    // read as bare dirs, so partition-encoded columns (dir names like
    // `centroid_id=3`) are absent — validating up front turns what
    // would be a mid-sweep ExecutionException from the rewrite pool
    // into a clear error before any leaf is touched. NOTE: a z-order
    // sweep rewrites EVERY leaf every run (re-laying rows out is the
    // point) — unlike the plain path it is not idempotent.
    if (zorderCols.nonEmpty && allLeaves.nonEmpty) {
      val leafSchema = spark.read.parquet(
        (path(table) +: allLeaves.head._1).mkString("/")).schema
      val missing = zorderCols.filterNot(leafSchema.fieldNames.contains)
      require(missing.isEmpty,
        s"z-order column(s) ${missing.mkString(", ")} not in leaf file schema " +
          s"(${leafSchema.fieldNames.mkString(", ")}); partition-encoded " +
          "columns live in directory names, not data files, and cannot be " +
          "z-order keys")
    }
    // with z-order clustering requested, EVERY leaf is rewritten (the
    // point is re-laying rows out, not just merging files); otherwise
    // only over-count leaves — that is what keeps plain compaction
    // idempotent
    val wanted = allLeaves.collect {
      case (rel, bytes, nFiles)
          if nFiles > targetFiles(bytes) || zorderCols.nonEmpty =>
        (rel, targetFiles(bytes))
    }
    // A root-level leaf (data files directly in the table root) is only
    // compactable via the whole-table swap, and that swap is safe ONLY
    // when the root is the table's sole leaf: in a mixed layout (stray
    // root files next to partition dirs) tmp holds just the rewritten
    // leaves, so swapping the whole table would silently delete every
    // partition that wasn't being compacted. No writer here produces
    // such a layout, but a maintenance job must not destroy one.
    val mixedRoot = wanted.exists(_._1.isEmpty) && allLeaves.size > 1
    val todo = if (mixedRoot) wanted.filterNot(_._1.isEmpty) else wanted
    val skipped =
      if (mixedRoot)
        Seq(s"skipped $table root-level files: mixed root+partition " +
          "layout; compact them by rewriting the table")
      else Seq.empty
    if (todo.isEmpty) return skipped
    val tmp = path(table + "_tmp")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, todo.size)))
    try {
      todo.map { case (rel, n) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val src = spark.read.parquet((path(table) +: rel).mkString("/"))
            // coalesce = pure file merge (no shuffle); z-order = one
            // range exchange per leaf that buys multi-dimension file
            // skipping on every future scan of the leaf
            val packed =
              if (zorderCols.isEmpty) src.coalesce(n)
              else graft.operators.ZOrderLayout.layout(
                src, zorderCols, zorderBits, n)
            packed.write.mode(SaveMode.Overwrite)
              .parquet((tmp +: rel).mkString("/"))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    if (todo.exists(_._1.isEmpty)) {
      // unpartitioned table (root is the SOLE leaf, guaranteed by the
      // mixedRoot guard above): whole-table crash-safe swap instead of
      // a partition park
      swapInto(table, tmp)
    } else {
      val backup = new org.apache.hadoop.fs.Path(path(
        table + "_pbak_" + bakSuffix()))
      fs.mkdirs(backup)
      todo.foreach { case (rel, _) =>
        val dest = rel.foldLeft(tableRoot)(
          (p, seg) => new org.apache.hadoop.fs.Path(p, seg))
        val src = rel.foldLeft(new org.apache.hadoop.fs.Path(tmp))(
          (p, seg) => new org.apache.hadoop.fs.Path(p, seg))
        val parked = new org.apache.hadoop.fs.Path(backup, rel.mkString("__"))
        require(fs.rename(dest, parked), s"park failed: $dest")
        require(fs.rename(src, dest), s"swap failed: $dest")
      }
      fs.delete(backup, true)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    todo.map { case (rel, n) =>
      s"compacted ${(table +: rel).mkString("/")} to $n file(s)" } ++ skipped
  }

  def writeModelSource(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path("model_source"))

  def modelSource: DataFrame = spark.read.parquet(path("model_source"))

  /** Idempotent per-run append: replaces any existing snapshot rows of
    * the same model_run_id (the reference's apsviz_station_file_meta
    * `ingested` guard, ingestModelTasks.py:295). */
  def appendApsVizStations(df: DataFrame): Unit = {
    val p = path("apsviz_station")
    if (tableExists("apsviz_station")) {
      val runIds = df.select("model_run_id").distinct()
        .collect().map(_.getString(0)).toSeq
      val kept = spark.read.parquet(p)
        .filter(!col("model_run_id").isin(runIds: _*))
        .unionByName(df)
      val local = kept.cache(); local.count()
      val tmp = path("apsviz_station_tmp")
      local.write.mode(SaveMode.Overwrite).parquet(tmp)
      local.unpersist()
      swapInto("apsviz_station", tmp)
    } else df.write.mode(SaveMode.Append).parquet(p)
  }

  def apsVizStations: DataFrame = spark.read.parquet(path("apsviz_station"))

  def appendRetainObsStations(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path("retain_obs_station"))

  def hasRetainObsStations: Boolean =
    tableExists("retain_obs_station")

  def retainObsStations: DataFrame = spark.read.parquet(path("retain_obs_station"))

  /** Obs harvest-file ledger. Rows are only ever written by an
    * [[atomicCommit]] that stages them already `ingested=true`
    * together with the fact batch they describe. */
  def ledger: DataFrame = readOrEmpty("ledger_obs", Schemas.harvestObsFileMeta)

  // ---- model harvest-file ledger (drf_harvest_model_file_meta,
  // ingestModelTasks.py:251; one row per ingested run file) ----------

  /** Partitioned by model_run_id: the ledger grows with run history,
    * so the per-run filters in the rerun gate touch one run's
    * directory, not the whole ledger. The explicit read schema keeps
    * the partition column a plain string (no partition-value type
    * inference) and pins column order. */
  def modelLedger: DataFrame =
    if (tableExists("ledger_model"))
      spark.read.schema(Schemas.harvestModelFileMeta).parquet(path("ledger_model"))
    else emptyFrame(Schemas.harvestModelFileMeta)

  // ---- apsviz / retain-obs station meta-file ledgers
  // (drf_apsviz_station_file_meta, ingestModelTasks.py:295;
  //  drf_retain_obs_station_file_meta, ingestObsTasks.py:322) ---------

  def apsVizStationFileMeta: DataFrame =
    readOrEmpty("apsviz_station_file_meta", Schemas.apsVizStationFileMeta)

  /** Rows carry their own `ingested` commit marker: these ledgers are
    * only appended AFTER the data they describe committed, so no
    * false→true rewrite pass exists (unlike the harvest ledgers, whose
    * two-phase flag makes mid-ingest crashes detectable). */
  def appendApsVizStationFileMeta(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path("apsviz_station_file_meta"))

  def retainObsStationFileMeta: DataFrame =
    readOrEmpty("retain_obs_station_file_meta", Schemas.retainObsStationFileMeta)

  def appendRetainObsStationFileMeta(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path("retain_obs_station_file_meta"))

  /** Operational table statistics — the observability side of the
    * small-file story [[binPackCompact]] acts on: per table, total
    * data files/bytes, leaf partition count, and the worst leaf by
    * file count (the compaction trigger signal). Pure FS metadata
    * walk, O(#files) on the driver — control plane, no Spark jobs,
    * safe to run on any cron cadence. */
  def tableStats(table: String): Option[Map[String, Any]] = {
    if (!fsys.exists(new org.apache.hadoop.fs.Path(path(table)))) return None
    val leaves = dataLeaves(table)
    if (leaves.isEmpty)
      return Some(Map("table" -> table, "files" -> 0, "bytes" -> 0L,
        "leaves" -> 0))
    val (worstRel, _, worstN) = leaves.maxBy(_._3)
    Some(Map(
      "table" -> table,
      "files" -> leaves.map(_._3).sum,
      "bytes" -> leaves.map(_._2).sum,
      "leaves" -> leaves.size,
      "max_files_per_leaf" -> worstN,
      "worst_leaf" -> (if (worstRel.isEmpty) "<root>"
        else worstRel.mkString("/"))))
  }

  /** Crash recovery + janitor, safe to run any time (e.g. at process
    * start). Commits stranded after their commit rename are
    * re-published and uncommitted staging is swept; then two swap
    * crash shapes are repaired, then strays are swept:
    *
    *  1. whole-table swap ([[swapInto]]) interrupted between park and
    *     swap: the live table dir is missing, the original sits in
    *     `<table>_bak_<millis>` — the NEWEST backup is renamed back;
    *  2. PARTITION swap ([[binPackCompact]] over a partitioned table)
    *     interrupted mid-loop: the table dir exists but individual
    *     partition dirs were parked into a `<table>_pbak_<millis>` dir
    *     and not yet replaced — every parked partition whose live
    *     counterpart is missing is renamed back (nested partitions are
    *     parked under flattened `a__b` names).
    *
    * The two suffixes are deliberately distinct: partition restore
    * mines ONLY `_pbak_` dirs. A whole-table `_bak_` stranded after
    * swapInto's swap-but-before-delete holds a superseded full copy —
    * mining IT for "missing" partition dirs would resurrect partitions
    * a rewrite legitimately dropped.
    *
    * Only after both repairs are `*_tmp` and remaining backup dirs
    * deleted (tmp holds re-derivable repair output, backups at that
    * point hold only superseded copies). Returns a human-readable
    * action log for operators and specs. */
  def vacuum(): Seq[String] = {
    val fs = fsys
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return Seq.empty
    val entries = fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
    val bak = "^(.*)_bak_([0-9]+)$".r   // does NOT match `_pbak_` names
    val pbak = "^(.*)_pbak_([0-9]+)$".r
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    // phase 0: publish committed-but-unfinalized atomic commits (crash
    // after the commit rename), then sweep uncommitted staging (crash
    // before it — invisible, safe to drop: its files re-derive on the
    // next ingest of the same inputs)
    val commitsRoot = new org.apache.hadoop.fs.Path(rootPath, "_commits")
    if (fs.exists(commitsRoot))
      fs.listStatus(commitsRoot).filter(_.isDirectory)
        .sortBy(_.getPath.getName).foreach { c =>
          publishCommit(c.getPath)
          actions += s"finalized commit ${c.getPath.getName}"
        }
    val stagingRoot = new org.apache.hadoop.fs.Path(rootPath, "_staging")
    if (fs.exists(stagingRoot) && fs.listStatus(stagingRoot).nonEmpty) {
      fs.delete(stagingRoot, true)
      actions += "swept uncommitted staging"
    }
    val byBase = entries.flatMap(p => p.getName match {
      case pbak(_, _) => None
      case bak(base, ts) => Some((base, ts.toLong, p))
      case _ => None
    }).groupBy(_._1)
    // phase 1: whole-table restore (live dir missing entirely)
    byBase.foreach { case (base, baks) =>
      val live = new org.apache.hadoop.fs.Path(rootPath, base)
      if (!fs.exists(live)) {
        val newest = baks.maxBy(_._2)._3
        require(fs.rename(newest, live), s"restore failed: $newest")
        actions += s"restored $base from ${newest.getName}"
      }
    }
    // phase 2: partition restore, from partition-scoped parks ONLY
    // (live table exists; parked partition dirs whose live counterpart
    // is missing go back, newest park first)
    entries.flatMap(p => p.getName match {
      case pbak(base, ts) => Some((base, ts.toLong, p))
      case _ => None
    }).groupBy(_._1).foreach { case (base, parks) =>
      val live = new org.apache.hadoop.fs.Path(rootPath, base)
      // no liveness guard: a parked partition was live moments before
      // the crash, so it is restored even if the table dir itself is
      // gone (mkdirs recreates it) — otherwise the janitor below would
      // delete the only copy
      parks.sortBy(-_._2).foreach { case (_, _, parkDir) =>
        if (fs.exists(parkDir))
          fs.listStatus(parkDir).filter(_.isDirectory).foreach { part =>
            val dest = part.getPath.getName.split("__")
              .foldLeft(live)((p, seg) => new org.apache.hadoop.fs.Path(p, seg))
            if (!fs.exists(dest)) {
              fs.mkdirs(dest.getParent)
              require(fs.rename(part.getPath, dest), s"restore failed: $dest")
              actions += s"restored $base/${part.getPath.getName} from ${parkDir.getName}"
            }
          }
      }
    }
    // janitor phase: drop leftover tmp + superseded backups
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath).foreach { p =>
      val stray = p.getName.endsWith("_tmp") ||
        bak.findFirstIn(p.getName).isDefined ||
        pbak.findFirstIn(p.getName).isDefined
      if (stray) { fs.delete(p, true); actions += s"deleted ${p.getName}" }
    }
    actions.toSeq
  }

  /** The daily rollup table (empty frame if never built). NOTE: the
    * rollup gained a `mean` column in round 11 — a rollup tier built
    * before that has partitions without it; since this is a derived
    * tier, rebuild it once (delete the table dir + version marker and
    * re-run rollupDaily) rather than serving a mixed schema. */
  def rollupDailyTable: DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path("gauge_rollup_daily"))
    require(fsys.exists(p), s"no rollup at $p — run rollupDaily() first")
    spark.read.parquet(path("gauge_rollup_daily"))
  }
}

object GaugeStore {
  /** Open the store at `root`; a missing root is a new, empty store.
    *
    * ADR (round 11): the facts live in manifest-log
    * [[graft.sources.SnapshotTable]]s — atomic commits without atomic
    * rename, O(1)-listing planning under per-micro-batch commit rates,
    * time travel, CDC-maintained rollups, and manifest-stat file
    * pruning. The rename-based fact layout (Hive partition dirs
    * `gauge_data/data_source_part=…`, `model_data/run_date=…`) is no
    * longer supported; a root still holding one is refused rather than
    * read as a manifest table. Opening writes nothing, so this also opens a
    * BuildAnnIndex dir for `Compact --index`. */
  def open(spark: SparkSession, root: String): GaugeStore = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq("gauge_data" -> "data_source_part=", "model_data" -> "run_date=")
      .foreach { case (table, part) =>
        val dir = new org.apache.hadoop.fs.Path(s"$root/$table")
        require(!fs.exists(dir) || !fs.listStatus(dir).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith(part)),
          s"store at $root holds a plain-layout $table ($part… partition " +
            "dirs) from the removed park-and-swap fact backend; only " +
            "manifest-log stores open")
      }
    new SnapshotGaugeStore(spark, root)
  }
}
