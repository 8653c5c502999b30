package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class ModelPipelineSpec extends SparkSuite {

  private lazy val dir = Files.createTempDirectory("graft-model").toString

  private def write(name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), String.join("\n", lines: _*).getBytes)

  import spark.implicits._

  private val meta = SourceMeta(
    data_source = "GFSFORECAST_EC95D", source_name = "adcirc",
    source_archive = "renci", source_variable = "water_level",
    filename_prefix = "FORECAST", location_type = "tidal", units = "m")

  private lazy val stations = {
    write("geom.csv", Seq(
      "8410140,44.9,-66.9,gmt,NOAA/NOS,Eastport,tidal,us,me,Washington,01A",
      "8418150,43.6,-70.2,gmt,NOAA/NOS,Portland,tidal,us,me,Cumberland,01B"))
    ObsIngest.seedStations(spark, s"$dir/geom.csv")
  }

  test("runProperties: EAV crosstab pivots the 13 fixed keys (A6)") {
    val eav = Seq(
      (4358L, "uid1", "suite.model", "adcirc"),
      (4358L, "uid1", "ADCIRCgrid", "ec95d"),
      (4358L, "uid1", "forcing.ensemblename", "gfsforecast"),
      (4358L, "uid1", "storm", "none"),
      (4358L, "uid1", "not.a.key", "dropme"),
      (9999L, "uid2", "suite.model", "other"))
      .toDF("instance_id", "uid", "key", "value")
    val props = ModelIngest.runProperties(eav, 4358L, "uid1")
    assert(props.count() == 1)
    val row = props.collect()(0)
    assert(row.getAs[String]("suite.model") == "adcirc")
    assert(row.getAs[String]("ADCIRCgrid") == "ec95d")
    assert(row.getAs[String]("stormname") == null)      // absent key -> NULL col present
    assert(!props.columns.contains("not.a.key"))        // non-declared key dropped
  }

  test("dataSourceName: synoptic vs tropical naming (runModelIngest.py:201-212)") {
    assert(ModelIngest.dataSourceName("gfsforecast", "ec95d", None) == "GFSFORECAST_EC95D")
    assert(ModelIngest.dataSourceName("gfsforecast", "ec95d", Some("none")) == "GFSFORECAST_EC95D")
    assert(ModelIngest.dataSourceName("nhcOfcl", "hsofs", Some("ian")) == "IAN_NHCOFCL_HSOFS")
  }

  test("ingestRun + rerun-gated dedup (J8/J9 model variant)") {
    write("FORECAST_NOAASTATIONS.csv", Seq(
      "TIME,STATION,WATER_LEVEL",
      "2023-04-23T13:00:00,8410140,0.50",
      "2023-04-23T14:00:00,8410140,0.60",
      "2023-04-23T13:00:00,8418150,0.70"))
    val src = ModelIngest.buildModelSource(stations, meta, "inst1", "synoptic")
    val timemark = lit("2023-04-23 12:00:00")
    val run1 = ModelIngest.ingestRun(spark, meta, src, stations, timemark,
      s"$dir/FORECAST_NOAASTATIONS.csv")
      .withColumn("processing_seq", lit(1))
    assert(run1.count() == 3)
    assert(run1.filter(col("wave_height").isNotNull).count() == 0)

    // rerun: same file re-ingested later -> duplicates until gate fires
    val run2 = run1.withColumn("processing_seq", lit(2))
      .withColumn("water_level", col("water_level") + 1.0)
    val combined = run1.unionByName(run2)

    val ledger = Seq(
      ("FORECAST_NOAASTATIONS.csv", "2023-04-23 12:00:00", "2023-04-23 20:00:00"),
      ("FORECAST_NOAASTATIONS.csv", "2023-04-23 12:00:00", "2023-04-23 22:00:00"))
      .toDF("file_name", "tm", "pd")
      .select(col("file_name"), col("tm").cast("timestamp").as("timemark"),
        col("pd").cast("timestamp").as("processing_datetime"))
    assert(ModelIngest.rerunDetected(ledger, "FORECAST_NOAASTATIONS.csv",
      lit("2023-04-23 12:00:00").cast("timestamp")))

    val deduped = ModelIngest.dedupRun(combined,
      timemark.cast("timestamp"), col("processing_seq"))
    assert(deduped.count() == 3)
    // later processing wins
    assert(deduped.filter(col("water_level") >= 1.4).count() == 3)
  }

  test("apsVizStations: union of ADCIRC + active obs stations (P6/P8/J5/J6/U1/F1)") {
    val adcircNames = Seq("8410140").toDF("station_name")
    val retainObs = Seq(
      // active obs station in window, not in ADCIRC set -> kept
      ("8418150", "2023-04-22 00:00:00", "2023-04-23 06:00:00", "coastal_gauge"),
      // blacklisted source -> dropped
      ("8418150", "2023-04-22 00:00:00", "2023-04-23 06:00:00", "tidal_predictions"),
      // outside 1.5-day window -> dropped
      ("8410140", "2023-04-10 00:00:00", "2023-04-11 00:00:00", "coastal_gauge"))
      .toDF("station_name", "b", "e", "data_source")
      .select(col("station_name"), col("b").cast("timestamp").as("begin_date"),
        col("e").cast("timestamp").as("end_date"), col("data_source"))
    val out = ModelIngest.apsVizStations(stations, adcircNames, retainObs,
      lit("2023-04-23 12:00:00"), "4358-2023042312-gfsforecast",
      "https://ui.example", "ec95d")
    val rows = out.orderBy("station_name").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("station_name")).toSeq == Seq("8410140", "8418150"))
    assert(rows.map(_.getAs[String]("origin")).toSeq == Seq("adcirc", "obs"))
    val url = rows(0).getAs[String]("csvurl")
    assert(url == "https://ui.example/get_station_data?station_name=8410140" +
      "&time_mark=2023-04-23T12:00:00&data_source=ADCIRC")
  }

  test("uid -> instance_id resolution feeds the run-property pivot (getInstanceID)") {
    val eav = Seq(
      (4358L, "uid1", "suite.model", "adcirc"),
      (4358L, "uid1", "ADCIRCgrid", "ec95d"),
      (9999L, "uid2", "suite.model", "other"))
      .toDF("instance_id", "uid", "key", "value")
    assert(ModelIngest.instanceIdForUid(eav, "uid1").contains(4358L))
    assert(ModelIngest.instanceIdForUid(eav, "nope").isEmpty)
    val props = ModelIngest.runPropertiesForUid(eav, "uid1").collect()(0)
    assert(props.getAs[Long]("instance_id") == 4358L)
    assert(props.getAs[String]("ADCIRCgrid") == "ec95d")
  }

  test("modelRunIngest: file ledger commits, re-ingest is idempotent, rerun repairs from ledger") {
    val root = Files.createTempDirectory("graft-mrun").toString
    val runId = "4358-2023042312-gfsforecast"
    val runDir = s"$root/$runId"; Files.createDirectories(Paths.get(runDir))
    def writeRun(level: Double): Unit =
      Files.write(Paths.get(runDir, "FORECAST_NOAASTATIONS.csv"),
        (s"TIME,STATION,WATER_LEVEL\n" +
         s"2023-04-23T13:00:00,8410140,$level\n" +
         s"2023-04-23T14:00:00,8410140,${level + 0.1}\n" +
         s"2023-04-23T13:00:00,8418150,${level + 0.2}").getBytes)
    writeRun(0.5)
    Files.write(Paths.get(runDir, "meta_FORECAST_NOAASTATIONS.csv"),
      "STATION\n8410140".getBytes)
    val store = GaugeStore.open(spark, s"$root/store")
    store.writeStations(stations)

    def ingest(now: String) = graft.IngestCli.modelRunIngest(spark, store,
      runDir, runId, "2023-04-23T12:00:00", "gfsforecast", "ec95d", None,
      "inst1", "synoptic", "https://ui.example", processingDatetime = Some(now))

    // (a) first ingest: ledger row with run id / advisory, marked ingested
    assert(ingest("2023-04-23T13:30:00") == 1)
    val led1 = store.modelLedger.collect()
    assert(led1.length == 1)
    assert(led1(0).getAs[String]("model_run_id") == runId)
    assert(led1(0).getAs[String]("source_instance") == "inst1")
    assert(led1(0).getAs[String]("advisory").nonEmpty)
    assert(led1(0).getAs[Boolean]("ingested"))
    assert(store.modelData.count() == 3)

    // (b) same dir + same processing stamp again: 0 new files, no dup rows
    assert(ingest("2023-04-23T13:30:00") == 0)
    assert(store.modelLedger.count() == 1)
    assert(store.modelData.count() == 3)

    // (c) genuine rerun (new harvest drop, new stamp): gate fires from
    // the ledger's processing_datetime history and the repair keeps the
    // latest-processed values only
    writeRun(1.5)
    assert(ingest("2023-04-23T15:00:00") == 1)
    assert(store.modelLedger.count() == 2)
    assert(store.modelLedger.select("processing_datetime").distinct().count() == 2)
    val repaired = store.modelData
    assert(repaired.count() == 3)                      // dups removed
    assert(repaired.filter(col("water_level") >= 1.4).count() == 3) // latest wins

    // apsviz meta-file ledger row committed once, ingested=true
    val avm = store.apsVizStationFileMeta.collect()
    assert(avm.length == 1)
    assert(avm(0).getAs[String]("file_name") == "meta_FORECAST_NOAASTATIONS.csv")
    assert(avm(0).getAs[String]("grid_name") == "ec95d")
    assert(avm(0).getAs[Boolean]("ingested"))
  }

  test("forecast/nowcast query functions: dynamic column naming (F9)") {
    write("FORECAST_NOAASTATIONS2.csv", Seq(
      "TIME,STATION,WATER_LEVEL",
      "2023-04-23T13:00:00,8410140,0.50",
      "2023-04-23T14:00:00,8410140,0.60"))
    val src = ModelIngest.buildModelSource(stations,
      meta.copy(data_source = "GFSFORECAST_EC95D.V2"), "inst1", "synoptic")
    val fact = ModelIngest.ingestRun(spark, meta.copy(data_source = "GFSFORECAST_EC95D.V2"),
      src, stations, lit("2023-04-23 12:00:00"), s"$dir/FORECAST_NOAASTATIONS2.csv")
    val out = QueryApi.forecastTimeseriesStationData(fact, src, stations,
      "8410140", "2023-04-23 12:00:00", "2023-04-23 23:00:00",
      "GFSFORECAST_EC95D.V2", "inst1")
    assert(out.columns.toSeq == Seq("time_stamp", "GFSFORECAST_EC95DV2")) // '.' stripped
    assert(out.count() == 2)
    val nc = QueryApi.nowcastTimeseriesStationData(fact, src, stations,
      "8410140", "2023-04-23 13:00:00", "2023-04-23 13:30:00",
      "GFSFORECAST_EC95D.V2", "inst1")
    assert(nc.count() == 1)
  }
}
