package graft.domain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Obs ingest pipeline — Spark-first restatement of the reference's
  * runObsIngest.py / ingestObsTasks.py / createIngestObsData.py chain
  * (SURVEY §3.1). The reference moves one CSV at a time through
  * subprocesses and staging files; here each stage is a lazy
  * DataFrame→DataFrame transform and a whole source's file set is one
  * distributed job.
  *
  * Scale design: harvest files become input splits of a single
  * `spark.read.csv` (not a driver loop); per-file metadata is recovered
  * with `input_file_name()` + one aggregation; dimension joins
  * broadcast; the fact dedup shuffles once, inside the batch's commit,
  * scoped to the batch's source and days.
  */
object ObsIngest {

  /** Reference regex for the file-name timemark
    * (createIngestObsData.py:182-185, createHarvestObsFileMeta.py:150-152).
    * Hadoop-compatible filesystems (HDFS, S3A paths) reject ':' in path
    * components, so harvest files staged for Spark use '_' in the time
    * part; the regex accepts both and [[timemarkFromFileName]]
    * canonicalizes before parsing.
    */
  val timemarkRegex = "([0-9]+-[0-9]+-[0-9]+T[0-9]+[:_][0-9]+[:_][0-9]+)"

  /** Parse the timemark out of a file-name column (S3/F4). */
  def timemarkFromFileName(fileName: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_timestamp(
      translate(regexp_extract(fileName, timemarkRegex, 1), "_", ":"),
      "yyyy-MM-dd'T'HH:mm:ss")

  /** Read a source's harvest CSVs as ONE distributed scan, tagging each
    * row with its file (S1+S2+S3). `paths` may be a glob
    * (`dir/prefix*.csv`) — Spark's file listing replaces the
    * reference's `glob.glob`.
    */
  def readHarvest(spark: SparkSession, meta: SourceMeta, paths: String*): DataFrame =
    spark.read
      .schema(Schemas.harvestCsv(meta.source_variable))
      .option("header", "true")
      // per-file fail-fast WITHIN a source (SURVEY §7 error semantics):
      // a structurally broken file throws at the first action instead of
      // silently parsing to null rows; sequenceIngest catches per source
      // and continues with the rest of the catalog
      .option("mode", "FAILFAST")
      .csv(paths: _*)
      .withColumn("file_name", element_at(split(input_file_name(), "/"), -1))

  /** Per-file ledger rows: min/max TIME bounds (A1), timemark parsed
    * from the file name (S3/F4), null-bounds guard (P9: a file whose
    * TIME bounds are both null is pre-marked ingested and never
    * loaded, createHarvestObsFileMeta.py:159-164).
    *
    * One groupBy("file_name") — at 100 TB this is a map-side-combined
    * agg over however many files the glob matched.
    */
  def harvestFileMeta(
      harvest: DataFrame,
      meta: SourceMeta,
      dirPath: String,
      processingDatetime: Column,
      allFiles: Seq[String] = Nil): DataFrame = {
    val bounded = harvest
      .groupBy("file_name")
      .agg(min(col("TIME")).as("data_begin_time"), max(col("TIME")).as("data_end_time"))
    // a HEADER-ONLY file contributes no rows, hence no group: without
    // a ledger row it is re-scanned on every run forever and
    // --deleteProcessed never removes it. When the caller knows the
    // discovered file list, zero-row files get the same null-bounds
    // shape as all-null-TIME files (P9: pre-marked ingested).
    val withEmpties =
      if (allFiles.isEmpty) bounded
      else {
        val spark = harvest.sparkSession
        import spark.implicits._
        bounded.unionByName(
          allFiles.toDF("file_name")
            .join(bounded.select("file_name"), Seq("file_name"), "left_anti")
            .select(col("file_name"),
              lit(null).cast("timestamp").as("data_begin_time"),
              lit(null).cast("timestamp").as("data_end_time")))
      }
    withEmpties
      .select(
        lit(dirPath).as("dir_path"),
        col("file_name"),
        processingDatetime.cast("timestamp").as("processing_datetime"),
        timemarkFromFileName(col("file_name")).as("data_date_time"),
        col("data_begin_time"),
        col("data_end_time"),
        lit(meta.data_source).as("data_source"),
        lit(meta.source_name).as("source_name"),
        lit(meta.source_archive).as("source_archive"),
        lit(meta.source_variable).as("source_variable"),
        lit(meta.location_type).as("location_type"),
        timemarkFromFileName(col("file_name")).as("timemark"),
        (col("data_begin_time").isNull && col("data_end_time").isNull).as("ingested"),
        lit(false).as("overlap_past_file_date_time"))
  }

  /** Ledger anti-join (J4): keep only files not already present in the
    * ledger, looking back `lookbackDays` (31 in the reference,
    * createHarvestObsFileMeta.py:177-185). The ledger side is filtered
    * BEFORE the join so only the lookback window is broadcast.
    */
  def newFilesOnly(
      candidates: DataFrame,
      ledger: DataFrame,
      now: Column,
      lookbackDays: Int = 31): DataFrame =
    candidates.join(
      broadcast(
        ledger
          .filter(col("processing_datetime") > now - expr(s"INTERVAL $lookbackDays DAYS"))
          .select("file_name")),
      Seq("file_name"), "left_anti")

  /** Normalize one source's harvest rows (P1/P2): lowercase column
    * names, STATION→station_name, attach timemark parsed from the file
    * name. Output: (station_name, time, timemark, <variable>).
    */
  def normalize(harvest: DataFrame, meta: SourceMeta): DataFrame = {
    val lowered = harvest.columns.foldLeft(harvest) { (df, c) =>
      df.withColumnRenamed(c, c.toLowerCase)
    }
    lowered
      .withColumnRenamed("station", "station_name")
      .withColumn("timemark", timemarkFromFileName(col("file_name")))
      .drop("file_name")
  }

  /** Build the gauge_source dimension for a catalog source (J1 shape):
    * stations of the source's location type × the source's keys, with
    * a deterministic surrogate `source_id`.
    *
    * The reference's `source_id` is a Postgres serial; a distributed
    * engine can't mint a sequence without a global bottleneck, so the
    * id is `xxhash64` of the natural key — stable across runs and
    * executors, collision odds ~2^-64 per pair (SURVEY §7 hard parts).
    */
  def buildGaugeSource(stations: DataFrame, meta: SourceMeta): DataFrame =
    stations
      .filter(col("location_type") === meta.location_type)
      .select(
        xxhash64(col("station_id"), lit(meta.data_source), lit(meta.source_name),
          lit(meta.source_archive)).as("source_id"),
        col("station_id"),
        lit(meta.data_source).as("data_source"),
        lit(meta.source_name).as("source_name"),
        lit(meta.source_archive).as("source_archive"),
        lit(meta.units).as("units"))

  /** Attach source_id to normalized harvest rows (J2). The reference
    * does a per-row pandas loop; here it is a broadcast left join —
    * rows without a registered station keep a NULL source_id (the
    * reference leaves '' and they die at the Postgres FK; we filter
    * them explicitly downstream).
    */
  def attachSourceId(data: DataFrame, gaugeSource: DataFrame, stations: DataFrame): DataFrame =
    data.join(
      broadcast(
        gaugeSource.join(stations.select("station_id", "station_name"), "station_id")
          .select("station_name", "source_id")),
      Seq("station_name"), "left")

  /** Route the single measurement column into the sparse wide fact
    * schema (dynamic COPY column, ingestObsTasks.py:385-386): the
    * catalog's variable lands in its named column, all other measures
    * NULL.
    */
  def routeMeasure(data: DataFrame, variable: String): DataFrame = {
    // case-normalize AND validate: a case-mismatched or typo'd catalog
    // variable would match NO measure, so the fold would overwrite the
    // populated column with NULL and the source would ingest with every
    // measurement silently lost
    val v = variable.toLowerCase
    require(Schemas.obsMeasures.contains(v),
      s"unknown source_variable '$variable' — not one of " +
        Schemas.obsMeasures.mkString(", "))
    val withMeasures = Schemas.obsMeasures.foldLeft(data) { (df, m) =>
      if (m == v) df else df.withColumn(m, lit(null).cast("double"))
    }
    withMeasures.select(
      col("source_id") +: col("timemark") +: col("time") +:
        Schemas.obsMeasures.map(col): _*)
  }

  /** Full create-and-enrich for one catalog source's harvest rows
    * ([[readHarvest]]): normalize → attach source_id → route measure.
    * Equivalent of createIngestObsData.py processData for all the
    * source's files at once.
    */
  def ingestSource(harvest: DataFrame, meta: SourceMeta,
      stations: DataFrame): DataFrame = {
    val gaugeSource = buildGaugeSource(stations, meta)
    routeMeasure(attachSourceId(normalize(harvest, meta), gaugeSource, stations),
      meta.source_variable)
      .filter(col("source_id").isNotNull)
  }

  /** Meta-file name for a harvest data file: `stationdata` →
    * `stationdata_meta` (runObsIngest.py:125). */
  def metaFileNameFor(dataFileName: String): String =
    dataFileName.replace("stationdata", "stationdata_meta")

  /** Retain-obs-station snapshot (createIngestRetainObsStationData.py,
    * SURVEY §3.1 runRetainObsStationCreateIngest): stations named in a
    * harvest meta file (J7 semi), enriched with the harvest window
    * [begin_date, end_date] (from the sibling data file's TIME bounds,
    * createRetainObsStationFileMeta.py:124-128) and the source keys.
    */
  def retainObsStations(
      stations: DataFrame,
      stationNames: DataFrame,       // one station_name column (from meta file)
      meta: SourceMeta,
      timemark: Column,
      beginDate: Column,
      endDate: Column): DataFrame =
    stations
      .join(broadcast(stationNames), Seq("station_name"), "left_semi")
      .select(
        col("station_name"), col("lat"), col("lon"), col("location_name"),
        col("tz"), col("gauge_owner"), col("country"), col("state"),
        col("county"), col("geom"),
        timemark.cast("timestamp").as("timemark"),
        beginDate.cast("timestamp").as("begin_date"),
        endDate.cast("timestamp").as("end_date"),
        lit(meta.data_source).as("data_source"),
        lit(meta.source_name).as("source_name"),
        lit(meta.source_archive).as("source_archive"),
        lit(meta.location_type).as("location_type"))

  /** Station dimension seed (S8): read headerless geom CSVs, assign
    * deterministic station_ids. Dense ids via a global sort are fine
    * here — the station dim is O(10^3) rows (BASELINE.md); data-plane
    * tables never do this.
    */
  def seedStations(spark: SparkSession, paths: String*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.schema(Schemas.stationSeedCsv).option("header", "false").csv(paths: _*)
      .withColumn("station_id",
        row_number().over(Window.orderBy("station_name")).cast("long"))
      .withColumn("apsviz_station", lit(false))   // flipped by snapshot builds
      .select(Schemas.gaugeStation.fieldNames.toIndexedSeq.map(col): _*)
  }
}
