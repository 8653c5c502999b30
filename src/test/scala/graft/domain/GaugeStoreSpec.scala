package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

class GaugeStoreSpec extends SparkSuite {
  import spark.implicits._

  private def mkFact(rows: Seq[(Long, String, String, Double)]) =
    rows.toDF("source_id", "tm", "t", "water_level")
      .select(col("source_id"), col("tm").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"),
        lit(null).cast("double").as("wave_height"),
        lit(null).cast("double").as("wind_speed"),
        lit(null).cast("double").as("air_pressure"),
        lit(null).cast("double").as("stream_elevation"),
        lit(null).cast("double").as("flow_volume"))
      .select("source_id", "timemark", "time", "water_level", "wave_height",
        "wind_speed", "air_pressure", "stream_elevation", "flow_volume")

  test("modelDataForRange prunes run_date partitions to the widened window") {
    val root = Files.createTempDirectory("graft-store-mdr").toString
    val store = GaugeStore.open(spark, root)
    // one file per run, so file pruning is observable per run day
    Seq(
      ("2023-01-01 12:00:00", "2023-01-01 13:00:00", 1.0),
      ("2023-04-23 12:00:00", "2023-04-23 13:00:00", 2.0),
      ("2023-09-30 12:00:00", "2023-09-30 13:00:00", 3.0)).foreach { r =>
      store.appendModelData(Seq(r).toDF("tm", "t", "water_level")
        .select(lit(7L).as("source_id"), col("tm").cast("timestamp").as("timemark"),
          col("t").cast("timestamp").as("time"), col("water_level")).coalesce(1))
    }
    val pruned = store.modelDataForRange(
      "2023-04-20 00:00:00", "2023-04-25 00:00:00", horizonDays = 7)
    // only the April run survives the window
    assert(pruned.collect().map(_.getAs[Double]("water_level")).toSeq == Seq(2.0))
    // and the January and September runs' files are never planned
    assert(pruned.inputFiles.length == 1,
      s"read ${pruned.inputFiles.length} of 3 run files — manifest pruning lost")
  }

  /** One ledgered file per run, committed the way ingest commits. */
  private def seedModelLedger(store: GaugeStore, runs: String*): Unit =
    store.atomicCommit(store.newCommitId("model"))(store.stageModelLedger(
      runs.map(r => (s"$r.csv", r, true)).toDF("file_name", "model_run_id", "ingested"), _))

  test("cross-batch compaction keeps latest timemark per (source,time)") {
    val root = Files.createTempDirectory("graft-store2").toString
    val store = GaugeStore.open(spark, root)
    store.appendGaugeData(mkFact(Seq(
      (1L, "2023-04-23 12:00:00", "2023-04-23 10:00:00", 1.0))), "tidal_gauge")
    store.appendGaugeData(mkFact(Seq(
      (1L, "2023-04-23 18:00:00", "2023-04-23 10:00:00", 9.0))), "tidal_gauge")
    assert(store.gaugeData.count() == 2)
    store.compactGaugeData()
    val rows = store.gaugeData.collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("water_level") == 9.0)
  }

  test("scoped compaction repairs only partitions inside the date range") {
    val root = Files.createTempDirectory("graft-store4").toString
    val store = GaugeStore.open(spark, root)
    // duplicates on two different dates
    store.appendGaugeData(mkFact(Seq(
      (1L, "2023-04-23 12:00:00", "2023-04-22 10:00:00", 1.0),
      (1L, "2023-04-23 12:00:00", "2023-04-23 10:00:00", 2.0))), "tidal_gauge")
    store.appendGaugeData(mkFact(Seq(
      (1L, "2023-04-23 18:00:00", "2023-04-22 10:00:00", 8.0),
      (1L, "2023-04-23 18:00:00", "2023-04-23 10:00:00", 9.0))), "tidal_gauge")
    assert(store.gaugeData.count() == 4)

    // scope = only the 23rd: its duplicate resolves, the 22nd keeps both
    store.compactGaugeData(Some(("2023-04-23", "2023-04-23")))
    val after = store.gaugeData.orderBy("time", "timemark").collect()
    assert(after.length == 3)
    val on23 = after.filter(_.getAs[java.sql.Timestamp]("time").toString.startsWith("2023-04-23"))
    assert(on23.length == 1 && on23(0).getAs[Double]("water_level") == 9.0)
    val on22 = after.filter(_.getAs[java.sql.Timestamp]("time").toString.startsWith("2023-04-22"))
    assert(on22.length == 2)

    // full compaction then repairs the rest
    store.compactGaugeData()
    assert(store.gaugeData.count() == 2)
    assert(store.gaugeData.filter(col("water_level") === 8.0).count() == 1)
  }

  test("vacuum restores a parked backup after a simulated swap crash and sweeps strays") {
    val root = Files.createTempDirectory("graft-store4").toString
    val store = GaugeStore.open(spark, root)
    store.atomicCommit("c0")(store.stageLedger(Seq(("a.csv", true))
      .toDF("file_name", "ingested")
      .withColumn("processing_datetime", lit("2023-04-23 12:00:00").cast("timestamp")), _))
    // simulate the swapInto crash window: live parked as backup, tmp
    // written but never swapped in
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    assert(fs.rename(p("ledger_obs"), p("ledger_obs_bak_42")))
    fs.mkdirs(p("ledger_obs_tmp"))
    assert(!fs.exists(p("ledger_obs")))

    val actions = store.vacuum()
    assert(actions.exists(_.startsWith("restored ledger_obs")))
    assert(fs.exists(p("ledger_obs")))
    assert(!fs.exists(p("ledger_obs_tmp")) && !fs.exists(p("ledger_obs_bak_42")))
    assert(store.ledger.count() == 1)              // contents intact
    // idempotent: nothing left to do
    assert(store.vacuum().isEmpty)
  }

  test("vacuum restores parked PARTITION dirs when the table itself survived") {
    val root = Files.createTempDirectory("graft-store5").toString
    val store = GaugeStore.open(spark, root)
    seedModelLedger(store, "r1", "r2")
    assert(store.modelLedger.count() == 2)
    // simulate a partition swap crash: one run's partition parked into
    // the backup, never replaced — the table dir itself still exists
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    fs.mkdirs(p("ledger_model_pbak_99"))
    assert(fs.rename(p("ledger_model/model_run_id=r1"),
      p("ledger_model_pbak_99/model_run_id=r1")))
    assert(store.modelLedger.count() == 1)         // partition gone
    val actions = store.vacuum()
    assert(actions.exists(_.contains("restored ledger_model/model_run_id=r1")), actions.toString)
    assert(store.modelLedger.count() == 2)         // partition back
    assert(!fs.exists(p("ledger_model_pbak_99")))
  }

  test("vacuum does NOT mine a whole-table backup for partitions the rewrite dropped") {
    // swapInto crash window AFTER the swap, before backup delete: the
    // new table is live (legitimately missing a partition the rewrite
    // dropped), the superseded full copy sits in _bak_. Restoring that
    // partition would resurrect deleted data.
    val root = Files.createTempDirectory("graft-store6").toString
    val store = GaugeStore.open(spark, root)
    seedModelLedger(store, "r1", "r2")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    // park the FULL old table (as swapInto does), make the live table a
    // rewrite that dropped the r1 partition
    assert(fs.rename(p("ledger_model"), p("ledger_model_bak_77")))
    fs.mkdirs(p("ledger_model"))
    assert(fs.rename(p("ledger_model_bak_77/model_run_id=r2"),
      p("ledger_model/model_run_id=r2")))
    val actions = store.vacuum()
    assert(!actions.exists(_.contains("restored ledger_model/")),
      s"whole-table backup was mined for partitions: $actions")
    assert(store.modelLedger.count() == 1)         // dropped stays dropped
    assert(!fs.exists(p("ledger_model_bak_77")))   // superseded copy swept
  }
}
