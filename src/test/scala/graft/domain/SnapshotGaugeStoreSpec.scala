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

  test("crash-stranded commit publishes the fact exactly once across re-runs") {
    val store = mkStore()
    val root = store.root
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    // on-disk state of a kill right after the commit rename
    store.stageGaugeData(fact((7L, "2023-04-23 00:00:00", "2023-04-23 10:00:00", 1.0)),
      "tidal_gauge", s"$root/_staging/c1")
    fs.mkdirs(p("_commits"))
    assert(fs.rename(p("_staging/c1"), p("_commits/c1")))
    assert(!store.hasGaugeData) // committed-but-unpublished: invisible
    val actions = store.vacuum()
    assert(actions.exists(_.contains("finalized commit c1")), actions.toString)
    assert(store.gaugeData.count() == 1)
    // crash WINDOW inside publish: fact's tagged manifest landed but
    // the commit dir survived (kill before the staged-subdir delete) —
    // the re-run must skip the fact via its tag, not append it again
    store.stageGaugeData(fact((7L, "2023-04-23 00:00:00", "2023-04-23 10:00:00", 1.0)),
      "tidal_gauge", s"$root/_staging/c1")
    assert(fs.rename(p("_staging/c1"), p("_commits/c1")))
    store.vacuum()
    assert(store.gaugeData.count() == 1,
      "re-published commit duplicated the fact despite its tag")
    assert(store.gaugeTable.committedTags.contains("commit-c1"))
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
      prunePreds = Seq(("obs_day", day, day)), statCols = Seq("obs_day")) > 0)
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
    assert(store.gaugeTable.deleteWhereMoR(col("obs_day") === day,
      prunePreds = Seq(("obs_day", day, day))) > 0)
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
    Seq(plainGauge -> "gauge_data", plainModel -> "model_data").foreach {
      case (r, table) =>
        val err = intercept[IllegalArgumentException](GaugeStore.open(spark, r))
        assert(err.getMessage.contains(s"plain-layout $table"), err.getMessage)
    }
    // opening writes nothing: neither into a fresh root nor into a
    // BuildAnnIndex layout that `Compact --index` opens as a store
    def tree(r: String): Set[String] = {
      val s = Files.walk(Paths.get(r))
      try s.toArray.map(_.toString).toSet finally s.close()
    }
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
