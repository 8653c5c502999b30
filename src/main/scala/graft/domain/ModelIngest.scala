package graft.domain

import graft.operators.FixedPivot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model (ADCIRC) ingest pipeline — Spark restatement of
  * runModelIngest.py / ingestModelTasks.py (SURVEY §3.2): run-property
  * EAV pivot, data_source naming rules, model fact ingest, and the
  * per-run ApsViz station snapshot. The rerun repair (J8/J9 model
  * variant) is the keep-latest fold of the batch commit
  * ([[GaugeStore.stageModelData]]).
  */
object ModelIngest {

  /** A6: EAV crosstab of the dashboard DB's config_item rows for one
    * model run (scripts/get_adcirc_run_property_variables.sql:7-50):
    * filter `instance_id || '-' || uid = run prefix` rows, pivot the 13
    * fixed property keys into one wide row.
    */
  def runProperties(configItems: DataFrame, instanceId: Long, uid: String): DataFrame =
    FixedPivot(
      configItems
        .filter(col("instance_id") === instanceId && col("uid") === uid &&
          col("key").isin(Schemas.runPropertyKeys: _*)),
      Seq("instance_id", "uid"), "key", Schemas.runPropertyKeys,
      first(col("value")))

  /** uid → instance_id resolution (S9 second hop;
    * scripts/mvHistADCIRCFiles.py:11-47: SELECT DISTINCT instance_id
    * FROM config items WHERE uid = ?). Returns None for an unknown uid.
    */
  def instanceIdForUid(configItems: DataFrame, uid: String): Option[Long] =
    configItems.filter(col("uid") === uid)
      .select("instance_id").distinct()
      .collect().headOption.map(_.getLong(0))

  /** Run-property lookup from a bare uid: resolve the instance id first
    * (getInstanceID), then pivot that run's properties — the chain a
    * model-run id "instanceId-uid" encodes (getDashboardMeta.py:29-50).
    */
  def runPropertiesForUid(configItems: DataFrame, uid: String): DataFrame = {
    val iid = instanceIdForUid(configItems, uid)
      .getOrElse(sys.error(s"no instance_id for uid $uid"))
    runProperties(configItems, iid, uid)
  }

  /** data_source naming (runModelIngest.py:201-212): synoptic runs →
    * ENSEMBLE_GRID; tropical (storm set) → STORM_ENSEMBLE_GRID; all
    * uppercased (F2).
    */
  def dataSourceName(ensemble: String, grid: String, storm: Option[String]): String =
    storm match {
      // "none"/"None" are the dashboard DB's no-storm literals (Python
      // str(None)); guarding HERE — not at call sites — keeps a
      // NONE_-prefixed data_source from splitting a synoptic run off
      // from its siblings
      case Some(s) if s.nonEmpty && s.toLowerCase != "none" =>
        s"${s}_${ensemble}_$grid".toUpperCase
      case _ => s"${ensemble}_$grid".toUpperCase
    }

  /** Station-type switch (runModelIngest.py:215-240): harvest file
    * STATIONTYPE → (source_variable, location_type, units). */
  val stationTypeMeta: Map[String, (String, String, String)] = Map(
    "NOAASTATIONS"     -> (("water_level", "tidal",   "m")),
    "CONTRAILSCOASTAL" -> (("water_level", "coastal", "m")),
    "CONTRAILSRIVERS"  -> (("water_level", "river",   "m")),
    "NDBCBUOYS"        -> (("wave_height", "ocean",   "m")))

  /** Model-source dimension row set for a run (J1 model variant with
    * source_instance + forcing_metclass keys, createIngestModelData.py:42-51).
    */
  def buildModelSource(
      stations: DataFrame, meta: SourceMeta,
      sourceInstance: String, forcingMetclass: String): DataFrame =
    stations
      .filter(col("location_type") === meta.location_type)
      .select(
        xxhash64(col("station_id"), lit(meta.data_source), lit(meta.source_name),
          lit(meta.source_archive), lit(sourceInstance), lit(forcingMetclass)).as("source_id"),
        col("station_id"),
        lit(meta.data_source).as("data_source"),
        lit(meta.source_name).as("source_name"),
        lit(meta.source_archive).as("source_archive"),
        lit(meta.units).as("units"),
        lit(sourceInstance).as("source_instance"),
        lit(forcingMetclass).as("forcing_metclass"))

  /** Model fact rows for one run's harvest files: normalize, attach
    * source_id, fixed timemark (from run properties, not the file
    * name — runModelIngest.py:186-188), wide (water_level, wave_height)
    * schema with the station-type's variable routed in.
    */
  def ingestRun(
      spark: SparkSession,
      meta: SourceMeta,
      modelSource: DataFrame,
      stations: DataFrame,
      timemark: Column,
      paths: String*): DataFrame = {
    val harvest = spark.read
      .schema(Schemas.harvestCsv(meta.source_variable))
      .option("header", "true")
      // FAILFAST like the obs path (ObsIngest.readHarvest) and the
      // reference's pandas read_csv: a structurally corrupt run file
      // throws at the FIRST action — which in modelRunIngest is the
      // ledger-bounds aggregate, i.e. BEFORE the run's atomic commit —
      // instead of silently null-parsing rows into the fact
      .option("mode", "FAILFAST")
      .csv(paths: _*)
    val lowered = harvest.columns.foldLeft(harvest) { (df, c) =>
      df.withColumnRenamed(c, c.toLowerCase)
    }
    val data = lowered
      .withColumnRenamed("station", "station_name")
      .withColumn("timemark", timemark.cast("timestamp"))
    val withId = data.join(
      broadcast(
        modelSource.join(stations.select("station_id", "station_name"), "station_id")
          .select("station_name", "source_id")),
      Seq("station_name"), "left")
      .filter(col("source_id").isNotNull)
    val vars = Seq("water_level", "wave_height")
    val routed = vars.foldLeft(withId) { (df, m) =>
      if (m == meta.source_variable) df else df.withColumn(m, lit(null).cast("double"))
    }
    routed.select("source_id", "timemark", "time", "water_level", "wave_height")
  }

  /** One drf_harvest_model_file_meta ledger row for a run harvest file
    * (createHarvestModelFileMeta.py:47-78): data_begin/end_time from
    * the file's TIME bounds (A1), data_date_time = the run timemark,
    * ingested=false until the fact load commits. Column order matches
    * [[Schemas.harvestModelFileMeta]]. */
  def modelHarvestFileMeta(
      spark: SparkSession, meta: SourceMeta,
      dirPath: String, fileName: String, modelRunId: String,
      sourceInstance: String, forcingMetclass: String, advisory: String,
      timemark: Column, processingDatetime: Column): DataFrame =
    spark.read.schema(Schemas.harvestCsv(meta.source_variable))
      .option("header", "true").option("mode", "FAILFAST")
      .csv(s"$dirPath/$fileName")
      .agg(min(col("TIME")).as("data_begin_time"),
        max(col("TIME")).as("data_end_time"))
      .select(
        lit(dirPath).as("dir_path"),
        lit(fileName).as("file_name"),
        lit(modelRunId).as("model_run_id"),
        processingDatetime.cast("timestamp").as("processing_datetime"),
        timemark.cast("timestamp").as("data_date_time"),
        col("data_begin_time"),
        col("data_end_time"),
        lit(meta.data_source).as("data_source"),
        lit(meta.source_name).as("source_name"),
        lit(meta.source_archive).as("source_archive"),
        lit(sourceInstance).as("source_instance"),
        lit(forcingMetclass).as("forcing_metclass"),
        lit(advisory).as("advisory"),
        timemark.cast("timestamp").as("timemark"),
        lit(false).as("ingested"),
        lit(false).as("overlap_past_file_date_time"))

  /** ApsViz station snapshot for a run
    * (createIngestApsVizStationData.py, SURVEY §3.2 step
    * runApsVizStationCreateIngest):
    * ADCIRC stations (those named in the run's meta files, J7 semi) ∪
    * obs stations active in [timemark − 1.5 days, timemark] (P8
    * overlap) minus blacklisted sources (P6) minus stations already in
    * the ADCIRC set (J5 anti), re-enriched from the station dim (J6),
    * with a per-row csvurl (F1).
    */
  def apsVizStations(
      stations: DataFrame,
      adcircStationNames: DataFrame,     // one station_name column
      retainObsStations: DataFrame,      // station snapshot + begin_date/end_date + source keys
      timemark: Column,
      modelRunId: String,
      uiDataUrl: String,
      gridName: String,
      blacklist: Seq[String] = Seq("tidal_predictions", "wind_anemometer", "air_barometer")): DataFrame = {

    val windowLo = timemark.cast("timestamp") - expr("INTERVAL 36 HOURS")
    val windowHi = timemark.cast("timestamp")

    val adcirc = stations
      .join(broadcast(adcircStationNames), Seq("station_name"), "left_semi")
      .withColumn("origin", lit("adcirc"))

    val obsActive = retainObsStations
      .filter(!col("data_source").isin(blacklist: _*))           // P6
      .filter(col("begin_date") < windowHi && col("end_date") > windowLo) // P8
      .dropDuplicates("station_name")                            // A5
      .join(broadcast(adcircStationNames), Seq("station_name"), "left_anti") // J5
      .select("station_name")
      .join(stations, Seq("station_name"))                       // J6
      .withColumn("origin", lit("obs"))

    adcirc.unionByName(obsActive)                                // U1
      .withColumn("timemark", timemark.cast("timestamp"))
      .withColumn("model_run_id", lit(modelRunId))
      .withColumn("grid_name", lit(gridName))
      .withColumn("csvurl",                                      // F1
        concat(lit(uiDataUrl), lit("/get_station_data?station_name="),
          col("station_name"), lit("&time_mark="),
          date_format(col("timemark"), "yyyy-MM-dd'T'HH:mm:ss"),
          lit("&data_source="), upper(col("origin"))))
  }
}
