package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** [[SnapshotGaugeStore]] behavior beyond the pipeline/rollup
  * scenarios (ObsPipelineSpec / RollupSpec): manifest-stat file
  * pruning, copy-on-write scoped repairs with time travel, idempotent
  * crash re-publication of the multi-table commit, and the factory. */
class SnapshotGaugeStoreSpec extends SparkSuite {
  import spark.implicits._

  private def mkStore(): SnapshotGaugeStore =
    new SnapshotGaugeStore(spark,
      Files.createTempDirectory("snapstore").toString)

  private def fact(rows: (Long, String, String, Double)*) =
    rows.toDF("source_id", "tm", "t", "water_level")
      .select(col("source_id"), col("tm").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"))

  private def model(rows: (Long, String, String, Double)*) =
    rows.toDF("source_id", "tm", "t", "water_level")
      .select(col("source_id"), col("tm").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"))

  test("gaugeDataForRange prunes files from manifest day stats") {
    val store = mkStore()
    store.appendGaugeData(fact((1L, "2023-04-01 00:00:00", "2023-04-01 01:00:00", 1.0)).coalesce(1), "tidal_gauge")
    store.appendGaugeData(fact((1L, "2023-05-01 00:00:00", "2023-05-01 01:00:00", 2.0)).coalesce(1), "tidal_gauge")
    store.appendGaugeData(fact((1L, "2023-06-01 00:00:00", "2023-06-01 01:00:00", 3.0)).coalesce(1), "tidal_gauge")
    assert(store.gaugeTable.files().size == 3)
    val may = store.gaugeDataForRange("2023-05-01", "2023-05-02")
    assert(may.count() == 1)
    assert(may.inputFiles.length == 1,
      s"day-range scan read ${may.inputFiles.length} of 3 files — manifest pruning lost")
    assert(store.gaugeData.count() == 3)
  }

  test("scoped compactGaugeData dedups in-scope, preserves co-located out-of-scope rows, keeps history") {
    val store = mkStore()
    // one file holding BOTH an in-scope dup and an out-of-scope row
    store.appendGaugeData(fact(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, "2023-04-23 00:00:00", "2023-05-05 01:00:00", 7.0)).coalesce(1), "tidal_gauge")
    // later timemark rewrites the 04-23 01:00 observation
    store.appendGaugeData(fact(
      (1L, "2023-04-23 12:00:00", "2023-04-23 01:00:00", 9.9)).coalesce(1), "tidal_gauge")
    val preVersion = store.gaugeTable.currentVersion
    store.compactGaugeData(scope = Some(("2023-04-23", "2023-04-23")))
    val rows = store.gaugeData.select("time", "water_level").collect()
      .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
    assert(rows == Map(
      "2023-04-23 01:00:00.0" -> 9.9,   // keep-latest won
      "2023-05-05 01:00:00.0" -> 7.0))  // out-of-scope row carried through
    // pre-repair snapshot still shows the duplicate (snapshot isolation)
    val old = spark.read.parquet(store.gaugeTable.files(Some(preVersion)): _*)
    assert(old.count() == 3)
  }

  test("swapModelRunDatePartitions replaces one run's rows, other runs intact") {
    val store = mkStore()
    store.appendModelData(model(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, "2023-04-24 00:00:00", "2023-04-24 01:00:00", 2.0)).coalesce(1))
    // repair run 2023-04-23 with corrected values
    store.swapModelRunDatePartitions(model(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 5.5)))
    val got = store.modelData.select("water_level").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(2.0, 5.5), s"got $got")
    // a repair of a run date with no prior rows appends
    store.swapModelRunDatePartitions(model(
      (1L, "2023-04-25 00:00:00", "2023-04-25 01:00:00", 3.0)))
    assert(store.modelData.count() == 3)
  }

  test("swapModelRunDatePartitions refuses a null-timemark repair and carries a NULL run_day row through") {
    val store = mkStore()
    // one file: a row of the repaired run and a row with no timemark
    store.appendModelData(model(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, null, "2023-04-23 02:00:00", 3.0)).coalesce(1))
    val v0 = store.modelTable.currentVersion
    val err = intercept[IllegalArgumentException](
      store.swapModelRunDatePartitions(model(
        (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 5.5),
        (1L, null, "2023-04-23 02:00:00", 4.0))))
    assert(err.getMessage.contains("must carry a timemark"), err.getMessage)
    assert(store.modelTable.currentVersion == v0,
      "a refused repair must not commit")
    val filesBefore = store.modelTable.files().toSet
    store.swapModelRunDatePartitions(model(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 5.5)))
    assert(store.modelTable.files().toSet.intersect(filesBefore).isEmpty,
      "the shared file must be rewritten")
    val got = store.modelData.select("water_level").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(3.0, 5.5), s"the NULL run_day row must survive: $got")
  }

  test("crash-stranded commit publishes the fact exactly once across re-runs") {
    val store = mkStore()
    def ledgerRow = Seq(("a.csv", true)).toDF("file_name", "ingested")
    // a kill right after the commit point: the fact's tagged commit
    // landed, its ledger commit died in its write job
    intercept[Exception](store.atomicCommit("c1") { tag =>
      store.stageGaugeData(
        fact((7L, "2023-04-23 00:00:00", "2023-04-23 10:00:00", 1.0)), "tidal_gauge", tag)
      store.stageLedger(ledgerRow.withColumn("file_name",
        when(lit(true), raise_error(lit("crash"))).otherwise(col("file_name"))), tag)
    })
    assert(store.gaugeData.count() == 1 && store.ledger.count() == 0)
    // a replay of the same commit id skips the fact by its tag and
    // commits its ledger rows; a second replay adds no ledger row
    (1 to 2).foreach { _ =>
      store.atomicCommit("c1") { tag =>
        store.stageGaugeData(
          fact((7L, "2023-04-23 00:00:00", "2023-04-23 10:00:00", 2.0)), "tidal_gauge", tag)
        store.stageLedger(ledgerRow, tag)
      }
      assert(store.gaugeData.select("water_level").collect().map(_.getDouble(0)).toSeq ==
        Seq(1.0), "re-published commit rewrote the fact despite its tag")
      assert(store.ledger.count() == 1)
    }
    assert(store.gaugeTable.committedTags.contains("commit-c1"))
    assert(new graft.sources.SnapshotTable(spark, s"${store.root}/ledger_obs")
      .committedTags == Set("commit-c1"))
  }

  test("binPackCompact routes facts through a snapshot compact and is idempotent") {
    val store = mkStore()
    (1 to 4).foreach(i => store.appendGaugeData(
      fact((1L, "2023-04-23 00:00:00", f"2023-04-23 0$i:00:00", i.toDouble)).coalesce(1),
      "tidal_gauge"))
    assert(store.gaugeTable.files().size == 4)
    val actions = store.binPackCompact("gauge_data")
    assert(actions.exists(_.startsWith("compacted gauge_data")), actions.toString)
    assert(store.gaugeTable.files().size == 1)
    assert(store.gaugeData.count() == 4)
    assert(store.binPackCompact("gauge_data").isEmpty, "second run must be a no-op")
    // pruning still works after compaction (stats refreshed on rewrite)
    val day = store.gaugeDataForRange("2023-04-23", "2023-04-23")
    assert(day.count() == 4 && day.inputFiles.length == 1)
  }

  test("rollupDaily clears the rollup partition of a fully-deleted day") {
    val store = mkStore()
    store.appendGaugeData(fact(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, "2023-04-23 00:00:00", "2023-04-24 01:00:00", 2.0)), "tidal_gauge")
    assert(store.rollupDaily().size == 2)
    assert(store.rollupDailyTable.count() == 2)
    // GDPR-style purge of day 23 via the snapshot DELETE
    val day = java.time.LocalDate.parse("2023-04-23").toEpochDay
    assert(store.gaugeTable.deleteWhere(col("obs_day") === day,
      statCols = Seq("obs_day")) > 0)
    val rebuilt = store.rollupDaily()
    assert(rebuilt.map(_._2) == Seq("2023-04-23"))
    // the emptied day's rollup partition must be GONE, not stale —
    // dynamic overwrite alone cannot remove a partition with no rows
    val left = store.rollupDailyTable.select(col("obs_date").cast("string"))
      .collect().map(_.getString(0)).toSeq
    assert(left == Seq("2023-04-24"), s"stale rollup rows survived: $left")
    assert(store.rollupDaily().isEmpty)
  }

  test("a merge-on-read purge drives the same CDC rollup rebuild as a rewrite") {
    val store = mkStore()
    store.appendGaugeData(fact(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, "2023-04-23 00:00:00", "2023-04-24 01:00:00", 2.0)), "tidal_gauge")
    assert(store.rollupDaily().size == 2)
    val filesBefore = store.gaugeTable.files()
    // GDPR purge WITHOUT a rewrite: deletion vector on the fact table
    val day = java.time.LocalDate.parse("2023-04-23").toEpochDay
    assert(store.gaugeTable.deleteWhere(col("obs_day") === day,
      mor = true) > 0)
    assert(store.gaugeData.count() == 1)
    // the CDC-driven refresh sees the MoR delete (diff surfaces DV
    // tombstones) and clears exactly the purged day's partition
    val rebuilt = store.rollupDaily()
    assert(rebuilt.map(_._2) == Seq("2023-04-23"), rebuilt.toString)
    val left = store.rollupDailyTable.select(col("obs_date").cast("string"))
      .collect().map(_.getString(0)).toSeq
    assert(left == Seq("2023-04-24"), s"stale rollup rows survived: $left")
    assert(store.rollupDaily().isEmpty)
    // note: a full-day purge may convert whole-file DVs to removes;
    // either way no file was REWRITTEN (no new data files appeared)
    assert(store.gaugeTable.files().forall(filesBefore.contains))
  }

  test("dataSource-scoped compactGaugeData rewrites only that source's files") {
    val store = mkStore()
    store.appendGaugeData(fact(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, "2023-04-23 12:00:00", "2023-04-23 01:00:00", 9.0)).coalesce(1), "tidal_gauge")
    store.appendGaugeData(fact(
      (2L, "2023-04-23 00:00:00", "2023-04-23 02:00:00", 5.0)).coalesce(1), "river_gauge")
    val before = store.gaugeTable.files().toSet
    store.compactGaugeData(dataSource = Some("tidal_gauge"))
    val after = store.gaugeTable.files().toSet
    // only the tidal file was rewritten; river's file is untouched
    assert((before -- after).size == 1,
      s"source-scoped repair rewrote ${(before -- after).size} of ${before.size} files")
    val rows = store.gaugeData.select("source_id", "water_level").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSet
    assert(rows == Set(1L -> 9.0, 2L -> 5.0), s"got $rows")
  }

  test("both repairs plan from day and source stats and record their dml verb") {
    val store = mkStore()
    store.appendGaugeData(fact(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0)).coalesce(1), "tidal_gauge")
    store.appendGaugeData(fact(
      (1L, "2023-04-23 12:00:00", "2023-04-23 01:00:00", 9.0)).coalesce(1), "tidal_gauge")
    store.appendGaugeData(fact(
      (2L, "2023-04-23 00:00:00", "2023-04-23 02:00:00", 5.0)).coalesce(1), "river_gauge")
    store.appendGaugeData(fact(
      (1L, "2023-05-01 00:00:00", "2023-05-01 01:00:00", 2.0)).coalesce(1), "tidal_gauge")
    store.compactGaugeData(Some(("2023-04-23", "2023-04-23")), Some("tidal_gauge"))
    // the other source's file and the other day's file never plan
    assert(graft.sources.SnapshotTable.lastPlannedCandidates(
      store.gaugeTable.root).map(_.size).contains(2))
    def lastOp(t: graft.sources.SnapshotTable) =
      t.history(1).select("op").head().getString(0)
    assert(lastOp(store.gaugeTable) == "keepLatestWhere")
    assert(store.gaugeData.count() == 3)
    store.appendModelData(model(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0)).coalesce(1))
    store.appendModelData(model(
      (1L, "2023-04-24 00:00:00", "2023-04-24 01:00:00", 2.0)).coalesce(1))
    store.swapModelRunDatePartitions(model(
      (1L, "2023-04-24 00:00:00", "2023-04-24 01:00:00", 4.0)))
    // a one-day repair is a one-value IN: it prunes like an equality
    assert(graft.sources.SnapshotTable.lastPlannedCandidates(
      store.modelTable.root).map(_.size).contains(1))
    assert(lastOp(store.modelTable) == "swapWhere")
  }

  test("GaugeStore.open refuses a plain-layout root and writes nothing into an --index dir") {
    val root = Files.createTempDirectory("snapopen").toString
    val created = GaugeStore.open(spark, root)
    assert(created.isInstanceOf[SnapshotGaugeStore])
    created.appendGaugeData(fact((1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0)), "tidal_gauge")
    assert(GaugeStore.open(spark, root).gaugeData.count() == 1)
    // a root laid out by the removed park-and-swap fact backend (Hive
    // partition dirs under either fact table) is refused, not read as
    // a manifest table
    val plainGauge = Files.createTempDirectory("plaingauge").toString
    fact((1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0))
      .withColumn("data_source_part", lit("tidal_gauge"))
      .write.partitionBy("data_source_part").parquet(s"$plainGauge/gauge_data")
    val plainModel = Files.createTempDirectory("plainmodel").toString
    model((1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0))
      .withColumn("run_date", to_date(col("timemark")))
      .write.partitionBy("run_date").parquet(s"$plainModel/model_data")
    // and so is a plain-parquet ledger dir (part files, or run
    // partition dirs) beside no manifest log
    val plainLedger = Files.createTempDirectory("plainledger").toString
    Seq(("a.csv", true)).toDF("file_name", "ingested")
      .write.parquet(s"$plainLedger/ledger_obs")
    val plainRuns = Files.createTempDirectory("plainruns").toString
    Seq(("a.csv", "r1", true)).toDF("file_name", "model_run_id", "ingested")
      .write.partitionBy("model_run_id").parquet(s"$plainRuns/ledger_model")
    def tree(r: String): Set[String] = {
      val s = Files.walk(Paths.get(r))
      try s.toArray.map(_.toString).toSet finally s.close()
    }
    Seq(plainGauge -> "gauge_data", plainModel -> "model_data",
      plainLedger -> "ledger_obs", plainRuns -> "ledger_model").foreach {
      case (r, table) =>
        val before = tree(r)
        val err = intercept[IllegalArgumentException](GaugeStore.open(spark, r))
        assert(err.getMessage.contains(s"plain-layout $table"), err.getMessage)
        assert(tree(r) == before)
    }
    // opening writes nothing: neither into a fresh root nor into a
    // BuildAnnIndex layout that `Compact --index` opens as a store
    val freshRoot = Files.createTempDirectory("freshopen").toString
    GaugeStore.open(spark, freshRoot)
    assert(tree(freshRoot) == Set(freshRoot))
    val index = Files.createTempDirectory("indexopen").toString
    model((1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0))
      .withColumn("centroid_id", lit(0))
      .write.partitionBy("centroid_id").parquet(s"$index/lists")
    val before = tree(index)
    GaugeStore.open(spark, index).vacuum()
    assert(tree(index) == before)
  }
}
