package graft.streaming

import graft.SparkSuite
import graft.domain.{GaugeStore, ObsIngest, QueryApi, SourceMeta}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class StreamingIngestSpec extends SparkSuite {

  private val meta = SourceMeta(
    data_source = "tidal_gauge", source_name = "noaa",
    source_archive = "noaa", source_variable = "water_level",
    filename_prefix = "noaaweb_stationdata_water_level",
    location_type = "tidal", units = "m")

  test("streaming ingest: exactly-once files, keep-latest across batches") {
    val root = Files.createTempDirectory("graft-stream").toString
    val harvest = s"$root/harvest"; val ckpt = s"$root/ckpt"; val storeDir = s"$root/store"
    Files.createDirectories(Paths.get(harvest))
    Files.write(Paths.get(root, "geom.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)

    val store = GaugeStore.open(spark, storeDir)
    store.writeStations(ObsIngest.seedStations(spark, s"$root/geom.csv"))

    def writeFile(tm: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(harvest, s"noaaweb_stationdata_water_level_$tm.csv"),
        ("TIME,STATION,WATER_LEVEL\n" + rows.mkString("\n")).getBytes)

    // batch 1
    writeFile("2023-04-23T12_00_00", Seq(
      "2023-04-23T10:00:00,8410140,1.10",
      "2023-04-23T12:00:00,8410140,1.30"))
    StreamingIngest.runOnce(spark, meta, store, harvest, ckpt)
    assert(store.gaugeData.count() == 2)

    // batch 2: overlapping correction file arrives later
    writeFile("2023-04-23T18_00_00", Seq(
      "2023-04-23T12:00:00,8410140,9.99",
      "2023-04-23T13:00:00,8410140,1.40"))
    StreamingIngest.runOnce(spark, meta, store, harvest, ckpt)

    val rows = store.gaugeData.orderBy("time").collect()
    assert(rows.length == 3)                       // keep-latest collapsed 12:00
    val at12 = rows.find(_.getAs[java.sql.Timestamp]("time").toString
      .startsWith("2023-04-23 12")).get
    assert(at12.getAs[Double]("water_level") == 9.99)

    // rerun with no new files: checkpoint guarantees nothing re-ingests
    StreamingIngest.runOnce(spark, meta, store, harvest, ckpt)
    assert(store.gaugeData.count() == 3)

    // read path over the streamed store: the micro-batch registered
    // its source in the dim
    val js = QueryApi.obsTimeseriesStationDataJson(
      store.gaugeData, store.gaugeSource, store.stations,
      "8410140", "2023-04-23 00:00:00", "2023-04-24 00:00:00")
    assert(js.contains(""""tidal_gauge_water_level":9.99"""))
  }
}
