package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end obs pipeline over FIXTURES.md-shaped synthetic harvest
  * CSVs: discovery → ledger → normalize → join → dedup → pivot → JSON.
  * Exercises the dedup scenario fixtures of FIXTURES.md §9.
  */
class ObsPipelineSpec extends SparkSuite {

  /** Store factory — [[SnapshotObsPipelineSpec]] overrides it to run
    * the identical pipeline on a directly constructed store. */
  protected def mkStore(root: String): GaugeStore = GaugeStore.open(spark, root)

  private lazy val dir = Files.createTempDirectory("graft-obs").toString

  private val meta = SourceMeta(
    data_source = "tidal_gauge", source_name = "noaa",
    source_archive = "noaa", source_variable = "water_level",
    filename_prefix = "noaaweb_stationdata_water_level",
    location_type = "tidal", units = "m")

  private def write(name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), String.join("\n", lines: _*).getBytes)

  private lazy val fixtures: Unit = {
    // stations seed (headerless, 11 cols; FIXTURES.md §4)
    write("geom_noaa.csv", Seq(
      "8410140,44.904598,-66.982903,gmt,NOAA/NOS,Eastport,tidal,us,me,Washington,0101000020E61A",
      "8418150,43.658100,-70.244200,gmt,NOAA/NOS,Portland,tidal,us,me,Cumberland,0101000020E61B",
      "44007,43.525000,-70.141000,gmt,NDBC,Buoy44007,ocean,us,me,,0101000020E61C"))
    // two overlapping harvest files, later timemark rewrites 12:00 (§9)
    write("noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv", Seq(
      "TIME,STATION,WATER_LEVEL",
      "2023-04-23T10:00:00,8410140,1.10",
      "2023-04-23T11:00:00,8410140,1.20",
      "2023-04-23T12:00:00,8410140,1.30",
      "2023-04-23T10:00:00,8418150,2.10"))
    write("noaaweb_stationdata_water_level_2023-04-23T18_00_00.csv", Seq(
      "TIME,STATION,WATER_LEVEL",
      "2023-04-23T12:00:00,8410140,9.99",   // rewrites 12:00
      "2023-04-23T13:00:00,8410140,1.40",
      "2023-04-23T13:00:00,UNKNOWN,7.77")) // unregistered station -> dropped
    // all-null TIME file (P9 guard, §9)
    write("noaaweb_stationdata_water_level_2023-04-24T00_00_00.csv", Seq(
      "TIME,STATION,WATER_LEVEL", ",8410140,", ",8418150,"))
  }

  private lazy val stations = { fixtures; ObsIngest.seedStations(spark, s"$dir/geom_noaa.csv") }

  test("seedStations assigns deterministic ids and carries geom opaque") {
    val rows = stations.orderBy("station_id").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("station_name")).toSeq == Seq("44007", "8410140", "8418150"))
    assert(rows.map(_.getAs[Long]("station_id")).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).getAs[String]("geom") == "0101000020E61A")
  }

  test("harvestFileMeta: bounds, timemark from filename, P9 null guard") {
    fixtures
    val harvest = ObsIngest.readHarvest(spark, meta, s"$dir/noaaweb_stationdata_water_level_*.csv")
    val ledger = ObsIngest.harvestFileMeta(harvest, meta, dir,
      lit("2023-04-24 01:00:00")).orderBy("file_name").collect()
    assert(ledger.length == 3)
    val nullFile = ledger.find(_.getAs[String]("file_name").contains("2023-04-24")).get
    assert(nullFile.getAs[Boolean]("ingested"))  // P9: skip pre-marked
    val f1 = ledger.find(_.getAs[String]("file_name").contains("T12_00_00")).get
    assert(!f1.getAs[Boolean]("ingested"))
    assert(f1.getAs[java.sql.Timestamp]("data_begin_time").toString == "2023-04-23 10:00:00.0")
    assert(f1.getAs[java.sql.Timestamp]("data_end_time").toString == "2023-04-23 12:00:00.0")
    assert(f1.getAs[java.sql.Timestamp]("timemark").toString == "2023-04-23 12:00:00.0")
  }

  test("newFilesOnly: ledger anti-join with 31-day lookback (J4)") {
    fixtures
    val harvest = ObsIngest.readHarvest(spark, meta, s"$dir/noaaweb_stationdata_water_level_*.csv")
    val candidates = ObsIngest.harvestFileMeta(harvest, meta, dir, lit("2023-04-24 01:00:00"))
    val ledger = candidates.filter(col("file_name").contains("T12_00_00"))
    val now = lit("2023-04-24 01:00:00").cast("timestamp")
    val fresh = ObsIngest.newFilesOnly(candidates, ledger, now)
    assert(fresh.count() == 2)
    // a ledger row older than the lookback no longer blocks re-ingest
    val staleLedger = ledger.withColumn("processing_datetime",
      lit("2023-01-01 00:00:00").cast("timestamp"))
    assert(ObsIngest.newFilesOnly(candidates, staleLedger, now).count() == 3)
  }

  test("ingestSource end-to-end: normalize, source_id join, measure routing") {
    fixtures
    val fact = ObsIngest.ingestSource(spark, meta, stations,
      s"$dir/noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv",
      s"$dir/noaaweb_stationdata_water_level_2023-04-23T18_00_00.csv")
    assert(fact.columns.toSeq ==
      Seq("source_id", "timemark", "time") ++ Schemas.obsMeasures)
    assert(fact.count() == 6)                       // UNKNOWN station dropped
    assert(fact.filter(col("wave_height").isNotNull).count() == 0)
    assert(fact.filter(col("water_level").isNotNull).count() == 6)
  }

  test("dedupFact: keep-latest wins inside batch window, passthrough outside (J8)") {
    fixtures
    val fact = ObsIngest.ingestSource(spark, meta, stations,
      s"$dir/noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv",
      s"$dir/noaaweb_stationdata_water_level_2023-04-23T18_00_00.csv")
    val deduped = ObsIngest.dedupFact(fact,
      lit("2023-04-23 12:00:00").cast("timestamp"),
      lit("2023-04-23 13:00:00").cast("timestamp"))
    assert(deduped.count() == 5)                    // one (source,time) collision resolved
    val t12 = deduped.filter(col("time") === lit("2023-04-23 12:00:00").cast("timestamp"))
      .collect()
    assert(t12.length == 1 && t12(0).getAs[Double]("water_level") == 9.99) // later timemark won
    // idempotence: dedup twice == once (SURVEY §5 property)
    assert(ObsIngest.dedupFact(deduped,
      lit("2023-04-23 12:00:00").cast("timestamp"),
      lit("2023-04-23 13:00:00").cast("timestamp")).count() == 5)
  }

  test("obsTimeseriesStationData: fixed-category pivot + JSON_AGG contract (A7/A8)") {
    fixtures
    val fact = ObsIngest.dedupFact(
      ObsIngest.ingestSource(spark, meta, stations,
        s"$dir/noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv",
        s"$dir/noaaweb_stationdata_water_level_2023-04-23T18_00_00.csv"),
      lit("2023-04-23 10:00:00").cast("timestamp"),
      lit("2023-04-23 13:00:00").cast("timestamp"))
    val source = ObsIngest.buildGaugeSource(stations, meta)
    val out = QueryApi.obsTimeseriesStationData(fact, source, stations,
      "8410140", "2023-04-23 10:00:00", "2023-04-23 13:00:00")
    // every declared category column exists even though only tidal_gauge has data
    assert(out.columns.toSeq == "time_stamp" +: QueryApi.obsPivotColumns.map(_._2))
    val rows = out.collect()
    assert(rows.length == 4)
    assert(rows.forall(_.isNullAt(out.columns.indexOf("ocean_buoy_wave_height"))))
    val js = QueryApi.obsTimeseriesStationDataJson(fact, source, stations,
      "8410140", "2023-04-23 10:00:00", "2023-04-23 13:00:00")
    assert(js.startsWith("""[{"time_stamp":"2023-04-23 10:00:00","ocean_buoy_wave_height":null,"tidal_gauge_water_level":1.1,"""))
    assert(js.contains(""""time_stamp":"2023-04-23 12:00:00","ocean_buoy_wave_height":null,"tidal_gauge_water_level":9.99"""))
    // empty result -> SQL NULL like JSON_AGG of zero rows
    assert(QueryApi.obsTimeseriesStationDataJson(fact, source, stations,
      "nosuch", "2023-04-23 10:00:00", "2023-04-23 13:00:00") == "null")
  }

  test("allparms variant: 9 categories incl. dynamic nowcast column (F9)") {
    fixtures
    val fact = ObsIngest.ingestSource(spark, meta, stations,
      s"$dir/noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv")
    val source = ObsIngest.buildGaugeSource(stations, meta)
    val out = QueryApi.obsTimeseriesStationDataAllParms(fact, source, stations,
      "8410140", "2023-04-23 10:00:00", "2023-04-23 13:00:00", "adcirc.nowcast")
    assert(out.columns.toSeq == Seq("time_stamp", "air_barometer", "adcircnowcast",
      "ocean_buoy_wave_height", "tidal_gauge_water_level", "tidal_predictions",
      "coastal_gauge_water_level", "river_gauge_water_level",
      "stream_gauge_stream_elevation", "wind_anemometer"))
    val rows = out.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.isNullAt(out.columns.indexOf("adcircnowcast"))))
  }

  test("projected view reproduces the reference column list (ingestObsTasks.py:494-521)") {
    fixtures
    val fact = ObsIngest.ingestSource(spark, meta, stations,
      s"$dir/noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv")
    val source = ObsIngest.buildGaugeSource(stations, meta)
    val v = QueryApi.gaugeStationSourceDataProjected(fact, source, stations)
    assert(v.columns.toSeq == Seq(
      "source_id", "station_id", "station_name", "timemark", "time",
      "water_level", "wave_height", "wind_speed", "air_pressure",
      "stream_elevation", "flow_volume", "tz", "gauge_owner",
      "data_source", "source_name", "source_archive", "units",
      "location_name", "apsviz_station", "location_type",
      "country", "state", "county", "geom"))
    assert(v.count() == 4)   // 3 readings for 8410140 + 1 for 8418150
  }

  test("registerViews: SQL-visible serving views (SURVEY 3.3)") {
    fixtures
    val fact = ObsIngest.ingestSource(spark, meta, stations,
      s"$dir/noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv")
    val source = ObsIngest.buildGaugeSource(stations, meta)
    QueryApi.registerViews(fact, source, fact, source, stations)
    val n = spark.sql(
      "SELECT count(*) FROM gauge_station_source_data WHERE station_name = '8410140'")
      .collect()(0).getLong(0)
    assert(n == 3)
    assert(spark.sql("SELECT * FROM model_station_source_data").columns
      .contains("water_level"))
  }

  test("retainObsStations: semi-join snapshot with window literals") {
    fixtures
    import spark.implicits._
    val names = Seq("8410140").toDF("station_name")
    val out = ObsIngest.retainObsStations(stations, names, meta,
      lit("2023-04-23 12:00:00"), lit("2023-04-23 10:00:00"), lit("2023-04-23 12:00:00"))
    val rows = out.collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("station_name") == "8410140")
    assert(r.getAs[String]("data_source") == "tidal_gauge")
    assert(r.getAs[java.sql.Timestamp]("begin_date").toString == "2023-04-23 10:00:00.0")
    assert(out.columns.toSeq == Seq("station_name", "lat", "lon", "location_name",
      "tz", "gauge_owner", "country", "state", "county", "geom", "timemark",
      "begin_date", "end_date", "data_source", "source_name", "source_archive",
      "location_type"))
  }

  test("sequenceIngest commits the retain-obs meta-file ledger (drf_retain_obs_station_file_meta)") {
    val root = Files.createTempDirectory("graft-retain").toString
    val harvest = s"$root/harvest"; Files.createDirectories(Paths.get(harvest))
    Files.write(Paths.get(harvest, "noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv"),
      ("TIME,STATION,WATER_LEVEL\n" +
       "2023-04-23T10:00:00,8410140,1.10\n" +
       "2023-04-23T11:00:00,8418150,2.20").getBytes)
    // sibling meta file: station list for the retain snapshot
    Files.write(Paths.get(harvest, "noaaweb_stationdata_meta_water_level_2023-04-23T12_00_00.csv"),
      "STATION\n8410140\n8418150".getBytes)
    val store = mkStore(s"$root/store")
    store.writeStations(stations)
    val n = graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00"))
    assert(n == 1)
    assert(store.retainObsStations.count() == 2)
    val fm = store.retainObsStationFileMeta.collect()
    assert(fm.length == 1)
    val row = fm(0)
    assert(row.getAs[String]("file_name") ==
      "noaaweb_stationdata_meta_water_level_2023-04-23T12_00_00.csv")
    assert(row.getAs[String]("data_source") == "tidal_gauge")
    assert(row.getAs[Boolean]("ingested"))            // commit marker flipped
    assert(row.getAs[java.sql.Timestamp]("begin_date") != null)

    // CRASH RECOVERY: the retain snapshots derive from the DATA ledger
    // minus the retain META ledger — wipe the retain side (the on-disk
    // state a crash between the atomic commit and the retain append
    // leaves) and a re-run with NO new data files must rebuild it
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/store/retain_obs_station"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/store/retain_obs_station_file_meta"), true)
    val n2 = graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00"))
    assert(n2 == 0, "no new data files — only the retain side recovers")
    assert(store.retainObsStations.count() == 2,
      "retain snapshots lost after a post-commit crash were not re-seeded")
    assert(store.retainObsStationFileMeta.count() == 1)
    // and a further clean re-run reprocesses nothing
    graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00"))
    assert(store.retainObsStations.count() == 2)
  }

  test("header-only harvest files are ledgered once, not re-scanned forever") {
    val root = Files.createTempDirectory("graft-empty").toString
    val harvest = s"$root/harvest"; Files.createDirectories(Paths.get(harvest))
    val emptyFile = Paths.get(harvest,
      "noaaweb_stationdata_water_level_2023-04-25T00_00_00.csv")
    Files.write(emptyFile, "TIME,STATION,WATER_LEVEL".getBytes)
    val store = mkStore(s"$root/store")
    store.writeStations(stations)
    graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-26 00:00:00"), deleteProcessed = true)
    // the zero-row file gets the P9 null-bounds ledger shape
    // (pre-marked ingested) and deleteProcessed may remove it
    val row = store.ledger.collect()
    assert(row.length == 1 && row(0).getAs[Boolean]("ingested"),
      s"header-only file must be ledgered ingested=true: ${row.mkString}")
    assert(row(0).getAs[java.sql.Timestamp]("data_begin_time") == null)
    assert(!Files.exists(emptyFile), "ledgered empty file must be deletable")
    // re-run: nothing to do
    assert(graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-26 00:00:00")) == 0)
  }

  test("routeMeasure: case-insensitive variable; unknown variable fails loud") {
    import spark.implicits._
    val data = Seq((1L, "2023-04-23 10:00:00", "2023-04-23 12:00:00", 1.5))
      .toDF("source_id", "t", "tm", "water_level")
      .select(col("source_id"), col("tm").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"))
    // a case-mismatched catalog variable must keep the data (it used
    // to NULL-overwrite the populated column — silent total loss)
    val routed = ObsIngest.routeMeasure(data, "WATER_LEVEL")
    assert(routed.select("water_level").collect().head.getDouble(0) == 1.5)
    intercept[IllegalArgumentException] {
      ObsIngest.routeMeasure(data, "watter_level")
    }
  }

  test("deleteProcessed removes harvest + meta files after the ledger commits (S7)") {
    val root = Files.createTempDirectory("graft-s7").toString
    val harvest = s"$root/harvest"; Files.createDirectories(Paths.get(harvest))
    val dataFile = Paths.get(harvest, "noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv")
    val metaFile = Paths.get(harvest, "noaaweb_stationdata_meta_water_level_2023-04-23T12_00_00.csv")
    Files.write(dataFile, "TIME,STATION,WATER_LEVEL\n2023-04-23T10:00:00,8410140,1.10".getBytes)
    Files.write(metaFile, "STATION\n8410140".getBytes)
    val store = mkStore(s"$root/store")
    store.writeStations(stations)
    val n = graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00"), deleteProcessed = true)
    assert(n == 1)
    assert(store.gaugeData.count() == 1)               // data landed first
    assert(!Files.exists(dataFile) && !Files.exists(metaFile)) // then files removed
    assert(store.ledger.filter(col("ingested")).count() == 1)  // ledger is the record
  }
}

/** The same end-to-end obs pipeline on a `new SnapshotGaugeStore` —
  * the constructor the benchmark harness subclasses, which bypasses
  * `GaugeStore.open`'s layout guard: every staged fact batch still
  * becomes one tagged manifest commit. */
class SnapshotObsPipelineSpec extends ObsPipelineSpec {
  override protected def mkStore(root: String): GaugeStore =
    new SnapshotGaugeStore(spark, root)
}
