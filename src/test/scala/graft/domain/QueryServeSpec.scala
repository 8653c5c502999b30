package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** [[QueryServe]] — the stdin/stdout serving loop over the §3.3 read
  * path: two request ops end-to-end against an ingested store, plus
  * the protocol edges (bad JSON, unknown op, quit). */
class QueryServeSpec extends SparkSuite {

  private lazy val dir = Files.createTempDirectory("graft-serve").toString
  private lazy val storeDir = s"$dir/store"

  private val meta = SourceMeta(
    data_source = "tidal_gauge", source_name = "noaa",
    source_archive = "noaa", source_variable = "water_level",
    filename_prefix = "noaaweb_stationdata_water_level",
    location_type = "tidal", units = "m")

  private lazy val store: GaugeStore = {
    Files.write(Paths.get(dir, "geom_noaa.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    Files.write(
      Paths.get(dir, "noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv"),
      ("TIME,STATION,WATER_LEVEL\n" +
        "2023-04-23T10:00:00,8410140,1.10\n" +
        "2023-04-23T11:00:00,8410140,1.25").getBytes)
    val s = GaugeStore.open(spark, storeDir)
    s.writeStations(ObsIngest.seedStations(spark, s"$dir/geom_noaa.csv"))
    graft.IngestCli.sequenceIngest(spark, s, Seq(meta), dir,
      lit("2023-04-24 00:00:00").cast("timestamp"), deleteProcessed = false)
    s
  }

  test("serve answers obs + allparms requests end-to-end and survives bad input") {
    val requests = Iterator(
      """{"op":"get_obs_timeseries_station_data","station":"8410140",""" +
        """"start":"2023-04-23T00:00:00","end":"2023-04-24T00:00:00"}""",
      """not json at all""",
      """{"op":"no_such_op","x":"y"}""",
      """{"op":"get_obs_timeseries_station_data_allparms","station":"8410140",""" +
        """"start":"2023-04-23T00:00:00","end":"2023-04-24T00:00:00",""" +
        """"nowcastSource":"adcirc.ncsc123"}""",
      "quit",
      """{"op":"get_obs_timeseries_station_data","station":"x","start":"y","end":"z"}""")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    QueryServe.serve(store, requests, out += _)

    assert(out.length == 4, s"quit must end the loop before request 5: $out")
    // req 1: the reference's JSON_AGG array, both fact rows, 5 pivot cols
    assert(out(0).startsWith("[") && out(0).contains(
      "\"time_stamp\":\"2023-04-23 10:00:00\"") &&
      out(0).contains("\"tidal_gauge_water_level\":1.1") &&
      out(0).contains("\"ocean_buoy_wave_height\":null"), out(0))
    assert(out(0).contains("\"time_stamp\":\"2023-04-23 11:00:00\""), out(0))
    // req 2/3: errors, not crashes
    assert(out(1).startsWith("{\"error\":"), out(1))
    assert(out(2).contains("no_such_op"), out(2))
    // req 4: allparms pivot carries the sanitized nowcast column
    assert(out(3).contains("\"adcircncsc123\":") &&
      out(3).contains("\"tidal_gauge_water_level\":1.25"), out(3))
  }

  test("serve answers a nowcast request from the run_date-pruned scan") {
    // model fixture in the SAME store: one run at timemark 2023-04-23
    // 12:00 with two nowcast-side rows
    val mmeta = meta.copy(data_source = "GFSFORECAST_EC95D",
      source_name = "adcirc", source_archive = "renci",
      filename_prefix = "FORECAST")
    Files.write(Paths.get(dir, "FORECAST_NOAASTATIONS.csv"),
      ("TIME,STATION,WATER_LEVEL\n" +
        "2023-04-23T10:30:00,8410140,0.81\n" +
        "2023-04-23T11:30:00,8410140,0.92").getBytes)
    val src = ModelIngest.buildModelSource(store.stations, mmeta, "inst1", "synoptic")
    val fact = ModelIngest.ingestRun(spark, mmeta, src, store.stations,
      lit("2023-04-23 12:00:00"), s"$dir/FORECAST_NOAASTATIONS.csv")
    store.writeModelSource(src)
    store.appendModelData(fact.drop("model_run_id"))
    val out = scala.collection.mutable.ArrayBuffer[String]()
    QueryServe.serve(store, Iterator(
      """{"op":"get_nowcast_timeseries_station_data","station":"8410140",""" +
        """"start":"2023-04-23T00:00:00","end":"2023-04-24T00:00:00",""" +
        """"dataSource":"GFSFORECAST_EC95D","instance":"inst1"}"""),
      out += _)
    assert(out.length == 1)
    assert(out(0).startsWith("[") &&
      out(0).contains("\"time_stamp\":\"2023-04-23 10:30:00\"") &&
      out(0).contains("\"GFSFORECAST_EC95D\":0.81") &&
      out(0).contains("\"time_stamp\":\"2023-04-23 11:30:00\""), out(0))
    // the serve path reads the PRUNED scan: a run far outside the
    // widened window never reaches the frame the op is built over
    store.appendModelData(fact.drop("model_run_id")
      .withColumn("timemark", lit("2023-09-30 12:00:00").cast("timestamp")))
    val pruned = store.modelDataForRange(
      "2023-04-23 00:00:00", "2023-04-24 00:00:00", 35).inputFiles.toSet
    assert(pruned.nonEmpty && pruned ==
      store.modelDataForTimemark("2023-04-23 12:00:00").inputFiles.toSet)
    assert(store.modelData.inputFiles.length > pruned.size)
  }

  test("parse handles escaped quotes and ignores non-string noise") {
    val m = QueryServe.parse("""{"op":"q","name":"a \"quoted\" st\\ation","n":"2"}""")
    assert(m("op") == "q")
    assert(m("name") == "a \"quoted\" st\\ation")
    assert(m("n") == "2")
  }

  test("parse rejects unconsumed residue instead of silently dropping keys") {
    // a numeric value would previously drop the key and serve a
    // wrong-but-plausible answer; now it is a loud rejection
    intercept[IllegalArgumentException] {
      QueryServe.parse("""{"op":"q","horizon":5}""")
    }
    intercept[IllegalArgumentException] {
      QueryServe.parse("""{"op":"q","nested":{"a":"b"}}""")
    }
    intercept[IllegalArgumentException] {
      QueryServe.parse("""{"op":"q"} trailing junk""")
    }
    // the happy path is unaffected
    assert(QueryServe.parse("""{"op":"q"}""") == Map("op" -> "q"))
  }

  test("jsonAgg serializes NaN/Infinity as null — responses stay legal JSON") {
    import spark.implicits._
    val df = Seq((1L, Some(Double.NaN)), (2L, Some(1.5)),
      (3L, Some(Double.PositiveInfinity)), (4L, None))
      .toDF("k", "v").selectExpr("CAST(k AS STRING) AS k", "v")
    val out = QueryApi.jsonAgg(df, "k", Seq("v"))
    assert(!out.contains("NaN") && !out.contains("Infinity"),
      s"non-finite doubles leaked into JSON: $out")
    assert(out.contains("\"v\":null") && out.contains("\"v\":1.5"))
  }

  test("parse rejects duplicate keys instead of silently keeping the last") {
    val ex = intercept[IllegalArgumentException] {
      QueryServe.parse("""{"op":"q","station":"A","station":"B"}""")
    }
    assert(ex.getMessage.contains("duplicate"))
    // non-duplicated requests are untouched
    assert(QueryServe.parse("""{"op":"q","station":"A"}""")("station") == "A")
  }

  test("serve answers a parse rejection with an error line, loop survives") {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    QueryServe.serve(store, Iterator(
      """{"op":"get_obs_timeseries_station_data","limit":10}""",
      """{"op":"get_obs_timeseries_station_data","station":"8410140",""" +
        """"start":"2023-04-23T00:00:00","end":"2023-04-24T00:00:00"}"""),
      out += _)
    assert(out.length == 2)
    assert(out(0).startsWith("{\"error\":") && out(0).contains("unparseable"), out(0))
    assert(out(1).startsWith("["), out(1))
  }
}
