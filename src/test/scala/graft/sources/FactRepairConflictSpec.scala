package graft.sources

import graft.SparkSuite
import graft.domain.SnapshotGaugeStore
import org.apache.spark.sql.functions._

/** The conflict rule of the two fact repairs of a [[SnapshotGaugeStore]]
  * — the keep-latest repair (`compactGaugeData`) and the rerun repair
  * (`swapModelRunDatePartitions`): each commits keyed and UNSCOPED, so
  * a blind append that lands while a repair is in flight commutes (its
  * row survives, the repair stages once), while an interleaved
  * remove-bearing commit on an affected file forces the repair to
  * recompute from the new head. The interleaved commit is injected at
  * the repair's commit window through the table's race seam. */
class FactRepairConflictSpec extends SparkSuite {
  import spark.implicits._

  private def mkStore(): SnapshotGaugeStore =
    new SnapshotGaugeStore(spark,
      java.nio.file.Files.createTempDirectory("repairrace").toString)

  /** A second store over the same root: its own table handles, so its
    * commits interleave like another process's. */
  private def other(store: SnapshotGaugeStore) =
    new SnapshotGaugeStore(spark, store.root)

  private def rows(rs: (Long, String, String, Double)*) =
    rs.toDF("source_id", "tm", "t", "water_level")
      .select(col("source_id"), col("tm").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"))
      .coalesce(1)

  private def obs(store: SnapshotGaugeStore) =
    store.gaugeData.select("source_id", "time", "water_level").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getDouble(2)))
      .toSet

  private def modelValues(store: SnapshotGaugeStore) =
    store.modelData.select("water_level").collect().map(_.getDouble(0)).toSet

  private val day = Some(("2023-04-23", "2023-04-23"))

  test("keep-latest repair: a blind append landing mid-repair on an affected day commutes") {
    val store = mkStore()
    store.appendGaugeData(rows(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0)), "tidal_gauge")
    store.appendGaugeData(rows(
      (1L, "2023-04-23 12:00:00", "2023-04-23 01:00:00", 9.9)), "tidal_gauge")
    store.gaugeTable.raceInjector = () => other(store).appendGaugeData(rows(
      (3L, "2023-04-23 12:00:00", "2023-04-23 03:00:00", 3.0)), "tidal_gauge")
    store.gaugeTable.stagingRuns = 0
    store.compactGaugeData(day, Some("tidal_gauge"))
    assert(store.gaugeTable.stagingRuns == 1,
      s"a blind append must commute, the repair staged " +
        s"${store.gaugeTable.stagingRuns} times")
    assert(obs(store) == Set(
      (1L, "2023-04-23 01:00:00.0", 9.9),
      (3L, "2023-04-23 03:00:00.0", 3.0)), obs(store).toString)
  }

  test("keep-latest repair: an interleaved delete on an affected file forces a recompute") {
    val store = mkStore()
    store.appendGaugeData(rows(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0)), "tidal_gauge")
    // one file holds the later duplicate AND the row the race deletes
    store.appendGaugeData(rows(
      (1L, "2023-04-23 12:00:00", "2023-04-23 01:00:00", 9.9),
      (2L, "2023-04-23 00:00:00", "2023-04-23 02:00:00", 5.0)), "tidal_gauge")
    store.gaugeTable.raceInjector = () => {
      assert(other(store).gaugeTable.deleteWhere(col("source_id") === 2L) > 0)
      ()
    }
    store.gaugeTable.stagingRuns = 0
    store.compactGaugeData(day, Some("tidal_gauge"))
    assert(store.gaugeTable.stagingRuns >= 2,
      s"a remove-bearing interleave must force a recompute, the repair " +
        s"staged ${store.gaugeTable.stagingRuns} time(s)")
    assert(obs(store) == Set((1L, "2023-04-23 01:00:00.0", 9.9)),
      obs(store).toString)
  }

  test("rerun repair: a blind append of a same-day row landing mid-repair commutes") {
    val store = mkStore()
    store.appendModelData(rows(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, "2023-04-24 00:00:00", "2023-04-24 01:00:00", 2.0)))
    store.modelTable.raceInjector = () => other(store).appendModelData(rows(
      (1L, "2023-04-23 06:00:00", "2023-04-23 07:00:00", 7.0)))
    store.modelTable.stagingRuns = 0
    store.swapModelRunDatePartitions(rows(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 5.5)))
    assert(store.modelTable.stagingRuns == 1,
      s"a blind append must commute, the repair staged " +
        s"${store.modelTable.stagingRuns} times")
    assert(modelValues(store) == Set(2.0, 5.5, 7.0),
      modelValues(store).toString)
  }

  test("rerun repair: an interleaved delete on an affected file forces a recompute") {
    val store = mkStore()
    store.appendModelData(rows(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (2L, "2023-04-24 00:00:00", "2023-04-24 01:00:00", 2.0)))
    store.modelTable.raceInjector = () => {
      assert(other(store).modelTable.deleteWhere(col("source_id") === 2L) > 0)
      ()
    }
    store.modelTable.stagingRuns = 0
    store.swapModelRunDatePartitions(rows(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 5.5)))
    assert(store.modelTable.stagingRuns >= 2,
      s"a remove-bearing interleave must force a recompute, the repair " +
        s"staged ${store.modelTable.stagingRuns} time(s)")
    assert(modelValues(store) == Set(5.5), modelValues(store).toString)
  }
}
