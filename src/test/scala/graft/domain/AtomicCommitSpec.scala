package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Crash coverage at the two sides of the atomic batch commit's
  * commit point. [[GaugeStore.atomicCommit]] writes the fact batch as
  * ONE manifest commit tagged `commit-<id>` and only then moves the
  * staged ledger rows in, so the ledger is never ahead of the facts:
  * a crash before the tagged commit leaves staging that vacuum sweeps,
  * a crash after it leaves ledger rows that vacuum moves in — zero
  * duplicate and zero lost rows either way, with no rerun-gate
  * involvement. [[CrashPointSpec]] sweeps every mutating call.
  */
class AtomicCommitSpec extends SparkSuite {
  import spark.implicits._

  private def ledgerRow(name: String) =
    Seq((name, true)).toDF("file_name", "ingested")
      .withColumn("processing_datetime",
        lit("2023-04-23 12:00:00").cast("timestamp"))

  private def factRows(ts: String*) =
    ts.map(t => (7L, t, 1.0)).toDF("source_id", "t", "water_level")
      .select(col("source_id"), col("t").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"))

  test("crash AFTER the commit point: vacuum finalizes, zero dup, zero lost") {
    val root = Files.createTempDirectory("graft-ac1").toString
    val store = GaugeStore.open(spark, root)
    // pre-existing committed state
    store.atomicCommit("c0") { staging =>
      store.stageGaugeData(factRows("2023-04-23 10:00:00"), "tidal_gauge", staging)
      store.stageLedger(ledgerRow("a.csv"), staging)
    }
    assert(store.gaugeData.count() == 1 && store.ledger.count() == 1)

    // simulate a crash immediately after the commit point: commit a
    // second batch's fact under tag commit-c1, then stage its ledger
    // rows by hand with no finalize — exactly the on-disk state a kill
    // there leaves
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    store.atomicCommit("c1")(
      store.stageGaugeData(factRows("2023-04-24 10:00:00"), "tidal_gauge", _))
    store.stageLedger(ledgerRow("b.csv"), s"$root/_staging/c1")
    // the fact landed; its ledger rows are not yet visible
    assert(store.gaugeData.count() == 2 && store.ledger.count() == 1)

    val actions = store.vacuum()
    assert(actions.exists(_.contains("finalized commit c1")), actions.toString)
    assert(store.gaugeData.count() == 2)                       // fact committed once
    assert(store.ledger.count() == 2)
    assert(store.ledger.filter(col("ingested")).count() == 2)  // marked atomically
    assert(!fs.exists(p("_staging/c1")))
    assert(store.vacuum().isEmpty)                             // idempotent
  }

  test("crash BEFORE the commit point: staging is swept, nothing published") {
    val root = Files.createTempDirectory("graft-ac2").toString
    val store = GaugeStore.open(spark, root)
    store.atomicCommit("c0") { staging =>
      store.stageLedger(ledgerRow("a.csv"), staging)
    }
    store.stageGaugeData(factRows("2023-04-24 10:00:00"), "tidal_gauge",
      s"$root/_staging/c1")
    store.stageLedger(ledgerRow("b.csv"), s"$root/_staging/c1")

    val actions = store.vacuum()
    assert(actions.contains("swept uncommitted staging"))
    assert(store.ledger.count() == 1)          // b.csv never became visible
    assert(!store.hasGaugeData)                // nor did its fact
    assert(!new java.io.File(s"$root/_staging").exists() ||
      new java.io.File(s"$root/_staging").list().isEmpty)
    // ...so the next ingest of b.csv re-processes it from scratch: the
    // ledger (not half-published state) is the idempotence record
  }

  test("end-to-end obs ingest commits atomically and leaves no protocol residue") {
    val root = Files.createTempDirectory("graft-ac3").toString
    val harvest = s"$root/harvest"; Files.createDirectories(Paths.get(harvest))
    Files.write(Paths.get(harvest, "noaaweb_stationdata_water_level_2023-04-23T12_00_00.csv"),
      "TIME,STATION,WATER_LEVEL\n2023-04-23T10:00:00,8410140,1.10".getBytes)
    Files.write(Paths.get(root, "geom.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    val store = GaugeStore.open(spark, s"$root/store")
    store.writeStations(ObsIngest.seedStations(spark, s"$root/geom.csv"))
    val meta = SourceMeta("tidal_gauge", "noaa", "noaa", "water_level",
      "noaaweb_stationdata_water_level", "tidal", "m")

    val n = graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00"))
    assert(n == 1)
    assert(store.gaugeData.count() == 1)
    assert(store.ledger.filter(col("ingested")).count() == 1)
    // the commit protocol cleans up after itself
    def residue(d: String) = {
      val f = new java.io.File(s"$root/store/$d")
      f.exists() && f.list().nonEmpty
    }
    assert(!residue("_staging"))
    // and a re-run is gated to zero by the ledger alone
    assert(graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00")) == 0)
  }
}
