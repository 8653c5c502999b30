package graft.domain

import graft.{IngestCli, SparkSuite}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Reference error semantics (SURVEY §4 "Error handling"): a failing
  * source logs and continues; other sources in the catalog still
  * ingest. A malformed file within a source must not poison the rest
  * of the catalog.
  */
class ErrorIsolationSpec extends SparkSuite {

  test("sequenceIngest: bad source skipped, good source ingests") {
    val root = Files.createTempDirectory("graft-err").toString
    val harvest = s"$root/harvest"; Files.createDirectories(Paths.get(harvest))
    Files.write(Paths.get(root, "geom.csv"),
      ("8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A\n" +
       "44007,43.5,-70.1,gmt,NDBC,Buoy,ocean,us,me,,01C").getBytes)
    val store = GaugeStore.open(spark, s"$root/store")
    store.writeStations(ObsIngest.seedStations(spark, s"$root/geom.csv"))

    // good source file
    Files.write(Paths.get(harvest, "noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv"),
      "TIME,STATION,WATER_LEVEL\n2023-04-23T10:00:00,8410140,1.10".getBytes)
    // bad source: a data row that cannot parse under the declared
    // schema (garbage TIME timestamp + non-numeric measure).
    // readHarvest runs FAILFAST, so this deterministically throws at
    // the source's first action — the catch in sequenceIngest must
    // swallow it and move on (a 64-NUL-byte file would NOT exercise
    // the branch: it parses as a header line with zero data rows)
    Files.write(Paths.get(harvest, "ndbc_stationdata_wave_height_2023-04-23T12_00_00.csv"),
      "TIME,STATION,WAVE_HEIGHT\nnot-a-time,44007,not-a-number".getBytes)

    val badMeta = SourceMeta("ocean_buoy", "ndbc", "ndbc", "wave_height",
      "ndbc_stationdata_wave_height", "ocean", "m")
    val catalog = Seq(
      badMeta,
      SourceMeta("tidal_gauge", "noaa", "noaa", "water_level",
        "noaaweb_stationdata_water_level", "tidal", "m"))

    // the bad file really does fail on its own (the catch branch is
    // exercised, not bypassed by permissive null-row parsing). NB: a
    // bare count() skips column parsing and would NOT trip FAILFAST —
    // materialize a column, as the pipeline's bounds aggregation does
    intercept[Exception] {
      ObsIngest.readHarvest(spark, badMeta,
        s"$harvest/ndbc_stationdata_wave_height_2023-04-23T12_00_00.csv")
        .select("TIME").collect()
    }

    val n = IngestCli.sequenceIngest(spark, store, catalog, harvest,
      lit("2023-04-24 00:00:00"))
    // exactly the good source landed; the bad source produced NO rows
    assert(n == 1)
    assert(store.gaugeData.filter(col("water_level") === 1.10).count() == 1)
    assert(store.gaugeData.filter(col("wave_height").isNotNull).count() == 0)
    // and no ledger rows were committed for the failed source
    assert(store.ledger.filter(col("data_source") === "ocean_buoy").count() == 0)
  }

  test("one bad file degrades its source to per-file ingest; good files still land") {
    val root = Files.createTempDirectory("graft-err2").toString
    val harvest = s"$root/harvest"; Files.createDirectories(Paths.get(harvest))
    Files.write(Paths.get(root, "geom.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    val store = GaugeStore.open(spark, s"$root/store")
    store.writeStations(ObsIngest.seedStations(spark, s"$root/geom.csv"))

    // same source: one good file and broken ones — the batch scan
    // FAILFASTs, then the per-file retry isolates the damage
    Files.write(Paths.get(harvest, "noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv"),
      "TIME,STATION,WATER_LEVEL\n2023-04-23T10:00:00,8410140,1.10".getBytes)
    Files.write(Paths.get(harvest, "noaaweb_stationdata_water_level_2023-04-23T18_00_00.csv"),
      "TIME,STATION,WATER_LEVEL\nnot-a-time,8410140,not-a-number".getBytes)
    // a file whose TIME parses but whose measure does not gets past
    // the ledger bounds scan and fails inside the commit's stage step
    Files.write(Paths.get(harvest, "noaaweb_stationdata_water_level_2023-04-23T19_00_00.csv"),
      "TIME,STATION,WATER_LEVEL\n2023-04-23T19:00:00,8410140,not-a-number".getBytes)

    val meta = SourceMeta("tidal_gauge", "noaa", "noaa", "water_level",
      "noaaweb_stationdata_water_level", "tidal", "m")
    val n = IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00"))
    assert(n == 1)                                           // good file committed
    assert(store.gaugeData.count() == 1)
    val ledgered = store.ledger.select("file_name").collect().map(_.getString(0))
    assert(ledgered.toSeq ==
      Seq("noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv"))
    // each bad file stays unledgered → it is retried (and re-skipped)
    // on the next run without blocking anything
    val n2 = IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 01:00:00"))
    assert(n2 == 0)
    assert(store.gaugeData.count() == 1)
    // every attempt that failed inside its commit dropped its
    // uncommitted staging dir instead of leaving it behind
    val staging = new java.io.File(s"$root/store/_staging")
    assert(!staging.exists() || staging.list().isEmpty,
      s"staging residue: ${staging.list().mkString(", ")}")
  }
}
