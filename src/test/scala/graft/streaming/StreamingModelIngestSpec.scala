package graft.streaming

import graft.SparkSuite
import graft.domain.{GaugeStore, ObsIngest}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Streaming model-run ingest ([[StreamingModelIngest]]): manifest
  * files announce completed runs; consumption is exactly-once across
  * restarts (file-source checkpoint + explicit processing stamps), the
  * results are identical to the batch [[graft.IngestCli.modelRunIngest]]
  * path, and a re-announced run with a new stamp is repaired inside
  * its batch commit. */
class StreamingModelIngestSpec extends SparkSuite {

  private def writeRun(runDir: String, level: Double): Unit = {
    Files.createDirectories(Paths.get(runDir))
    Files.write(Paths.get(runDir, "FORECAST_NOAASTATIONS.csv"),
      (s"TIME,STATION,WATER_LEVEL\n" +
        s"2023-04-23T13:00:00,8410140,$level\n" +
        s"2023-04-23T14:00:00,8410140,${level + 0.1}\n" +
        s"2023-04-23T13:00:00,8418150,${level + 0.2}").getBytes)
    Files.write(Paths.get(runDir, "meta_FORECAST_NOAASTATIONS.csv"),
      "STATION\n8410140".getBytes)
  }

  private def writeManifest(watchDir: String, name: String, runId: String,
      runDir: String, procTs: String): Unit = {
    Files.createDirectories(Paths.get(watchDir))
    Files.write(Paths.get(watchDir, name),
      ("model_run_id,run_dir,timemark,ensemble,grid,storm,instance,metclass,advisory,processing_datetime\n" +
        s"$runId,$runDir,2023-04-23T12:00:00,gfsforecast,ec95d,none,inst1,synoptic,,$procTs").getBytes)
  }

  private def mkStore(root: String): GaugeStore = {
    Files.write(Paths.get(root, "geom.csv"),
      ("8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A\n" +
        "8418150,43.6,-70.2,gmt,NOAA,Portland,tidal,us,me,Cumb,01B").getBytes)
    val store = GaugeStore.open(spark, s"$root/store")
    store.writeStations(ObsIngest.seedStations(spark, s"$root/geom.csv"))
    store
  }

  test("manifest stream matches the batch path, exactly-once across restart, rerun repairs") {
    val root = Files.createTempDirectory("graft-smodel").toString
    val watch = s"$root/watch"; val ckpt = s"$root/ckpt"
    val runId = "4358-2023042312-gfsforecast"
    val runDir = s"$root/$runId"
    writeRun(runDir, 0.5)
    val store = mkStore(root)

    // batch-path reference result on an identical second store
    val rootB = Files.createTempDirectory("graft-smodel-batch").toString
    val runDirB = s"$rootB/$runId"; writeRun(runDirB, 0.5)
    val storeB = mkStore(rootB)
    graft.IngestCli.modelRunIngest(spark, storeB, runDirB, runId,
      "2023-04-23T12:00:00", "gfsforecast", "ec95d", None, "inst1",
      "synoptic", "https://ui.example",
      processingDatetime = Some("2023-04-23T13:30:00"))

    // (a) stream consumes the manifest; store state == batch state
    writeManifest(watch, "run1.csv", runId, runDir, "2023-04-23T13:30:00")
    StreamingModelIngest.runOnce(spark, store, watch, ckpt)
    val cols = Seq("source_id", "timemark", "time", "water_level")
    assert(store.modelData.select(cols.map(col): _*).orderBy("source_id", "time")
      .collect().toSeq ==
      storeB.modelData.select(cols.map(col): _*).orderBy("source_id", "time")
        .collect().toSeq)
    assert(store.modelLedger.count() == 1)
    assert(store.modelLedger.filter(col("ingested")).count() == 1)

    // (b) restart with the same checkpoint: the manifest is NOT
    // re-consumed (file-source exactly-once)
    StreamingModelIngest.runOnce(spark, store, watch, ckpt)
    assert(store.modelLedger.count() == 1)
    assert(store.modelData.count() == 3)

    // (c) a REPLAYED manifest (fresh checkpoint, same stamp — the
    // crash-replay shape) is absorbed by the run ledger: 0 new rows
    StreamingModelIngest.runOnce(spark, store, watch, s"$root/ckpt2")
    assert(store.modelLedger.count() == 1)
    assert(store.modelData.count() == 3)

    // (d) genuine rerun: new harvest drop + new manifest with a new
    // stamp -> ledger grows, repair keeps only latest-processed values
    writeRun(runDir, 1.5)
    writeManifest(watch, "run1_redrop.csv", runId, runDir, "2023-04-23T15:00:00")
    StreamingModelIngest.runOnce(spark, store, watch, ckpt)
    assert(store.modelLedger.count() == 2)
    assert(store.modelLedger.select("processing_datetime").distinct().count() == 2)
    assert(store.modelData.count() == 3)
    assert(store.modelData.filter(col("water_level") >= 1.4).count() == 3)
  }

  test("a malformed manifest is skipped (logged with file name); good runs still ingest") {
    val root = Files.createTempDirectory("graft-smodel-bad").toString
    val watch = s"$root/watch"; val ckpt = s"$root/ckpt"
    val runId = "4360-2023042312-gfsforecast"
    val runDir = s"$root/$runId"
    writeRun(runDir, 0.5)
    val store = mkStore(root)

    // truncated manifest: only 2 of the 10 columns — PERMISSIVE csv
    // parse null-fills the rest, which previously NPE'd inside
    // modelRunIngest and killed the whole streaming query
    Files.createDirectories(Paths.get(watch))
    Files.write(Paths.get(watch, "truncated.csv"),
      "model_run_id,run_dir\nbadrun,/nowhere\n".getBytes)
    writeManifest(watch, "good.csv", runId, runDir, "2023-04-23T13:30:00")

    // must not throw; the good run lands, the bad one is skipped
    StreamingModelIngest.runOnce(spark, store, watch, ckpt)
    assert(store.modelLedger.count() == 1)
    assert(store.modelData.count() == 3)
    assert(store.modelLedger.filter(col("model_run_id") === runId).count() == 1)
  }

  test("a run dir that throws is dead-lettered; the stream and later manifests survive") {
    val root = Files.createTempDirectory("graft-smodel-poison").toString
    val watch = s"$root/watch"; val ckpt = s"$root/ckpt"
    val goodId = "4360-2023042312-gfsforecast"
    val goodDir = s"$root/$goodId"
    writeRun(goodDir, 0.5)
    val store = mkStore(root)

    // a FULLY-POPULATED manifest whose run dir holds a CORRUPT data
    // file: field validation passes, modelRunIngest THROWS (FAILFAST
    // parse) — previously this killed the query before the checkpoint
    // committed and the batch crash-looped forever, stalling every
    // manifest behind it
    val poisonDir = s"$root/poisonrun"
    Files.createDirectories(Paths.get(poisonDir))
    Files.write(Paths.get(poisonDir, "FORECAST_NOAASTATIONS.csv"),
      "TIME,STATION,WATER_LEVEL\nnot-a-time,8410140,abc".getBytes)
    writeManifest(watch, "poison.csv", "poisonrun", poisonDir,
      "2023-04-23T13:00:00")
    writeManifest(watch, "good.csv", goodId, goodDir, "2023-04-23T13:30:00")

    StreamingModelIngest.runOnce(spark, store, watch, ckpt)
    // the good run landed in FULL despite the poison one (liveness is
    // the contract here; the poison run threw before its batch commit,
    // and a re-drive from the dead-letter list commits the run's rows
    // with keep-latest like any rerun)
    assert(store.modelLedger.filter(col("model_run_id") === goodId).count() == 1)
    assert(store.modelData.filter(
      col("timemark") === lit("2023-04-23 12:00:00").cast("timestamp")).count() >= 3)
    // the failure is durably recorded for operator re-drive
    val dead = StreamingModelIngest.deadLetters(spark, store).collect()
    assert(dead.length == 1 && dead(0).getString(0) == "poisonrun",
      s"dead letters: ${dead.mkString}")
    // drained checkpoint: a re-run re-ingests nothing and re-fails nothing
    StreamingModelIngest.runOnce(spark, store, watch, ckpt)
    assert(StreamingModelIngest.deadLetters(spark, store).count() == 1)
  }
}
