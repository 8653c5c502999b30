package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** mvHistADCIRCFiles.py parity: decode historical long-form file names,
  * cross-check against registered run properties, archive into the
  * per-run layout, and prove the archived dir is directly ingestible by
  * modelRunIngest.
  */
class HistoricalArchiveSpec extends SparkSuite {
  import spark.implicits._

  private val fname = "adcirc_gfs_RENCI_GFSFORECAST_EC95D_FORECAST_NOAASTATIONS_" +
    "2023-04-23T06:00:00_2023-04-23T12:00:00_2023-04-23T13:00:00.csv"
  private val wrongGrid = fname.replace("_EC95D_", "_EC95X_")

  private def eav = Seq(
    (4358L, "2023042306-gfsforecast", "suite.model", "adcirc"),
    (4358L, "2023042306-gfsforecast", "ADCIRCgrid", "ec95d"),
    (4358L, "2023042306-gfsforecast", "physical_location", "RENCI"),
    (4358L, "2023042306-gfsforecast", "storm", "none"),
    (4358L, "2023042306-gfsforecast", "forcing.ensemblename", "gfsforecast"),
    (4358L, "2023042306-gfsforecast", "forcing.metclass", "synoptic"),
    (4358L, "2023042306-gfsforecast", "instancename", "inst1"),
    (4358L, "2023042306-gfsforecast", "advisory", "2023042306"))
    .toDF("instance_id", "uid", "key", "value")

  test("file-name decode recovers run metadata (mvHistADCIRCFiles.py:106-131)") {
    val d = HistoricalArchive.decodeFileNames(Seq(fname).toDF("file_name")).collect()(0)
    assert(d.getAs[String]("suite_model") == "adcirc")
    assert(d.getAs[String]("storm") == "gfs")
    assert(d.getAs[String]("physical_location") == "RENCI")
    assert(d.getAs[String]("forcing_ensemblename") == "gfsforecast")
    assert(d.getAs[String]("station_type") == "NOAASTATIONS")
    assert(d.getAs[String]("advisory") == "2023042306")
    assert(d.getAs[String]("time_currentdate") == "20230423")
    assert(d.getAs[String]("time_currentcycle") == "12")
    assert(d.getAs[String]("adcirc_grid") == "EC95D")
    assert(d.getAs[String]("uid") == "2023042306-gfsforecast")
  }

  test("decode handles the two-segment coamps storm and the nowcast grid rule") {
    // coamps storms occupy TWO name segments, shifting location/ensemble
    // right by one (mvHistADCIRCFiles.py:118-124)
    val coamps = "adcirc_coamps_al08_RENCI_OFCL_EC95D_FORECAST_NOAASTATIONS_" +
      "2023-04-23T06:00:00_2023-04-23T12:00:00_2023-04-23T13:00:00.csv"
    val c = HistoricalArchive.decodeFileNames(Seq(coamps).toDF("file_name")).collect()(0)
    assert(c.getAs[String]("storm") == "coamps_al08")
    assert(c.getAs[String]("physical_location") == "RENCI")
    assert(c.getAs[String]("forcing_ensemblename") == "ofcl")
    assert(c.getAs[String]("adcirc_grid") == "EC95D")
    assert(c.getAs[String]("uid") == "2023042306-ofcl")

    // nowcast files: the segment after the FIRST _NOWCAST_ is the grid
    // (mvHistADCIRCFiles.py:128-131 — python split('_NOWCAST_')[1] and
    // Spark's split both take the same middle segment)
    val nowcast = "adcirc_gfs_RENCI_NOWCAST_EC95D_NOWCAST_NOAASTATIONS_" +
      "2023-04-23T06:00:00_2023-04-23T12:00:00_2023-04-23T13:00:00.csv"
    val n = HistoricalArchive.decodeFileNames(Seq(nowcast).toDF("file_name")).collect()(0)
    assert(n.getAs[String]("forcing_ensemblename") == "nowcast")
    assert(n.getAs[String]("adcirc_grid") == "EC95D")
  }

  test("manifest cross-checks decoded metadata against registered runs, archive lays out an ingestible run dir") {
    val root = Files.createTempDirectory("graft-hist").toString
    def writeFile(name: String, content: String): Unit =
      Files.write(Paths.get(root, name), content.getBytes)
    writeFile(fname,
      "TIME,STATION,WATER_LEVEL\n" +
      "2023-04-23T13:00:00,8410140,0.50\n" +
      "2023-04-23T14:00:00,8410140,0.60")
    // sibling meta file: 'meta' inserted after the first name segment
    writeFile("adcirc_meta" + fname.stripPrefix("adcirc"), "STATION\n8410140")
    writeFile(wrongGrid, "TIME,STATION,WATER_LEVEL\n2023-04-23T13:00:00,8410140,9.9")

    val decoded = HistoricalArchive.decodeFileNames(
      Seq(fname, wrongGrid).toDF("file_name"))
    val man = HistoricalArchive.manifest(decoded, eav, root)
    val rows = man.collect()
    // the EC95X file fails the grid cross-check and is excluded
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("run_id") == "4358-2023042306-gfsforecast")
    assert(rows(0).getAs[String]("file_name") == fname)
    assert(rows(0).getAs[String]("ADCIRCgrid_db") == "ec95d")
    assert(rows(0).getAs[String]("forcing") == "synoptic")

    // a manifest row whose source file vanished must NOT be reported
    // as archived (an empty run dir would chain --ingest into a silent
    // 0-file no-op and mark the run handled)
    val ghost = man.withColumn("file_name", lit("vanished_nonexistent.csv"))
    assert(HistoricalArchive.archive(ghost).isEmpty,
      "vanished source file must exclude the run from the archive result")

    val runDirs = HistoricalArchive.archive(man)
    assert(runDirs.length == 1)
    val runDir = s"$root/4358-2023042306-gfsforecast"
    assert(Files.exists(Paths.get(runDir, "FORECAST_NOAASTATIONS.csv")))
    assert(Files.exists(Paths.get(runDir, "meta_FORECAST_NOAASTATIONS.csv")))

    // the archived layout is exactly what modelRunIngest consumes
    Files.write(Paths.get(root, "geom.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    val store = GaugeStore.open(spark, s"$root/store")
    store.writeStations(ObsIngest.seedStations(spark, s"$root/geom.csv"))
    val n = graft.IngestCli.modelRunIngest(spark, store, runDir,
      "4358-2023042306-gfsforecast", "2023-04-23T12:00:00", "gfsforecast",
      "ec95d", None, "inst1", "synoptic", "https://ui.example",
      processingDatetime = Some("2023-04-23T15:00:00"))
    assert(n == 1)
    assert(store.modelData.count() == 2)
  }

  test("ArchiveHistorical CLI task: messy dir -> archived layout -> chained ingest") {
    val root = Files.createTempDirectory("graft-hist-cli").toString
    def writeFile(name: String, content: String): Unit =
      Files.write(Paths.get(root, name), content.getBytes)
    writeFile(fname,
      "TIME,STATION,WATER_LEVEL\n" +
      "2023-04-23T13:00:00,8410140,0.50\n" +
      "2023-04-23T14:00:00,8410140,0.60")
    writeFile("adcirc_meta" + fname.stripPrefix("adcirc"), "STATION\n8410140")
    writeFile(wrongGrid, // fails the grid cross-check, must not archive
      "TIME,STATION,WATER_LEVEL\n2023-04-23T13:00:00,8410140,9.9")
    eav.write.parquet(s"$root/config_item")
    Files.write(Paths.get(root, "geom.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)

    graft.IngestCli.runTask(spark, "SeedStations", Map(
      "stations" -> s"$root/geom.csv", "store" -> s"$root/store"))
    graft.IngestCli.runTask(spark, "ArchiveHistorical", Map(
      "histDir" -> root, "configItems" -> s"$root/config_item",
      "ingest" -> "true", "store" -> s"$root/store",
      "now" -> "2023-04-23T15:00:00"))

    val runDir = s"$root/4358-2023042306-gfsforecast"
    assert(Files.exists(Paths.get(runDir, "FORECAST_NOAASTATIONS.csv")))
    assert(Files.exists(Paths.get(runDir, "meta_FORECAST_NOAASTATIONS.csv")))
    // the CLI created the store — read it back through the factory
    val store = GaugeStore.open(spark, s"$root/store")
    assert(store.modelData.count() == 2)            // the good file's rows
    assert(store.modelLedger.filter(col("ingested")).count() == 1)
    // same-stamp re-run (crash-retry shape): archive is idempotent and
    // the ledger gates re-ingest to 0 new files. (A re-run with a NEW
    // stamp is a genuine rerun — it re-ingests and its batch commit
    // keeps the latest-processed rows, per ingestModelTasks.py:375-387.)
    graft.IngestCli.runTask(spark, "ArchiveHistorical", Map(
      "histDir" -> root, "configItems" -> s"$root/config_item",
      "ingest" -> "true", "store" -> s"$root/store",
      "now" -> "2023-04-23T15:00:00"))
    assert(store.modelData.count() == 2)
    assert(store.modelLedger.count() == 1)
  }
}
