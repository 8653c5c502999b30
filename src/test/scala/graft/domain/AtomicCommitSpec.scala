package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Crash coverage at the two sides of the atomic batch commit.
  * [[GaugeStore.atomicCommit]] commits the fact batch as ONE manifest
  * commit tagged `commit-<id>` and only then the ledger rows, as one
  * file under the same tag, so the ledger is never ahead of the facts:
  * a crash inside the fact commit publishes nothing, a crash between
  * the two commits leaves facts without their ledger mark, which the
  * rerun of the batch folds to the same rows — zero duplicate and zero
  * lost rows either way. [[CrashPointSpec]] sweeps every mutating call.
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

  /** `df` with a column whose evaluation throws: the commit that
    * writes it dies in its write job, as a crash there would. */
  private def crashing(df: org.apache.spark.sql.DataFrame, c: String) =
    df.withColumn(c, when(lit(true), raise_error(lit("crash"))).otherwise(col(c)))

  private def tags(root: String, table: String) =
    new graft.sources.SnapshotTable(spark, s"$root/$table").committedTags

  test("crash between the fact and ledger commits: the rerun repairs, zero dup, zero lost") {
    val root = Files.createTempDirectory("graft-ac1").toString
    val store = GaugeStore.open(spark, root)
    // pre-existing committed state
    store.atomicCommit("c0") { tag =>
      store.stageGaugeData(factRows("2023-04-23 10:00:00"), "tidal_gauge", tag)
      store.stageLedger(ledgerRow("a.csv"), tag)
    }
    assert(store.gaugeData.count() == 1 && store.ledger.count() == 1)

    // a crash right after the commit point: the second batch's fact
    // commits under commit-c1, its ledger commit dies
    intercept[Exception](store.atomicCommit("c1") { tag =>
      store.stageGaugeData(factRows("2023-04-24 10:00:00"), "tidal_gauge", tag)
      store.stageLedger(crashing(ledgerRow("b.csv"), "file_name"), tag)
    })
    // the fact landed; its ledger mark did not, so b.csv is not ledgered
    assert(store.gaugeData.count() == 2 && store.ledger.count() == 1)
    assert(tags(root, "ledger_obs") == Set("commit-c0"))

    // the next run ingests b.csv again under a new id: keep-latest
    // folds its rows onto the committed ones
    store.atomicCommit("c2") { tag =>
      store.stageGaugeData(factRows("2023-04-24 10:00:00"), "tidal_gauge", tag)
      store.stageLedger(ledgerRow("b.csv"), tag)
    }
    assert(store.gaugeData.count() == 2)                       // fact committed once
    assert(store.ledger.count() == 2)
    assert(store.ledger.filter(col("ingested")).count() == 2)
    assert(tags(root, "ledger_obs").subsetOf(tags(root, "gauge_data")))
    assert(!new java.io.File(s"$root/_staging").exists())
  }

  test("crash inside the fact commit: nothing published, the rerun ingests the batch") {
    val root = Files.createTempDirectory("graft-ac2").toString
    val store = GaugeStore.open(spark, root)
    store.atomicCommit("c0")(store.stageLedger(ledgerRow("a.csv"), _))
    intercept[Exception](store.atomicCommit("c1") { tag =>
      store.stageGaugeData(crashing(factRows("2023-04-24 10:00:00"), "water_level"),
        "tidal_gauge", tag)
      store.stageLedger(ledgerRow("b.csv"), tag)
    })
    assert(store.ledger.count() == 1)          // b.csv never became visible
    assert(!store.hasGaugeData)                // nor did its fact
    assert(!new java.io.File(s"$root/_staging").exists())
    // ...so the next ingest of b.csv re-processes it from scratch: the
    // ledger (not half-published state) is the idempotence record
    store.atomicCommit("c2") { tag =>
      store.stageGaugeData(factRows("2023-04-24 10:00:00"), "tidal_gauge", tag)
      store.stageLedger(ledgerRow("b.csv"), tag)
    }
    assert(store.gaugeData.count() == 1 && store.ledger.count() == 2)
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
