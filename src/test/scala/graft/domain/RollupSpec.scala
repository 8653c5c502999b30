package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental daily OHLC rollup ([[GaugeStore.rollupDaily]]): the
  * CDC-driven refresh rebuilds exactly the (source, date) partitions
  * the fact changed in — new dates AND late rows into already-rolled
  * dates — and a clean re-run rebuilds nothing.
  */
class RollupSpec extends SparkSuite {
  import spark.implicits._

  /** Store factory — [[SnapshotRollupSpec]] overrides it to run the
    * identical scenarios on a directly constructed store. */
  protected def mkStore(root: String): GaugeStore = GaugeStore.open(spark, root)

  private def mkFact(rows: Seq[(Long, String, String, Double)]) =
    rows.toDF("source_id", "tm", "t", "water_level")
      .select(col("source_id"), col("tm").cast("timestamp").as("timemark"),
        col("t").cast("timestamp").as("time"), col("water_level"))

  test("rollup builds, is idempotent, and repairs late-arriving partitions") {
    val root = Files.createTempDirectory("graft-rollup").toString
    val store = mkStore(root)
    store.appendGaugeData(mkFact(Seq(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0),
      (1L, "2023-04-23 00:00:00", "2023-04-23 02:00:00", 5.0),
      (1L, "2023-04-23 00:00:00", "2023-04-23 03:00:00", 2.0),
      (1L, "2023-04-23 00:00:00", "2023-04-24 01:00:00", 9.0))), "tidal_gauge")

    // first build: both date partitions
    val built = store.rollupDaily()
    assert(built.map(_._2).sorted == Seq("2023-04-23", "2023-04-24"))
    val r1 = store.rollupDailyTable
      .filter(col("obs_date") === to_date(lit("2023-04-23")))
      .collect().head
    assert(r1.getAs[Double]("open") == 1.0 && r1.getAs[Double]("close") == 2.0)
    assert(r1.getAs[Double]("high") == 5.0 && r1.getAs[Double]("low") == 1.0)
    assert(r1.getAs[Long]("n") == 3L)
    // averaged-measure shape (the reference's serving views): exact
    // on these binary-representable values
    assert(r1.getAs[Double]("mean") == (1.0 + 5.0 + 2.0) / 3)

    // clean re-run: nothing rebuilt
    assert(store.rollupDaily().isEmpty)

    // late row lands in the already-rolled 04-23 partition
    store.appendGaugeData(mkFact(Seq(
      (1L, "2023-04-23 12:00:00", "2023-04-23 04:00:00", 0.5))), "tidal_gauge")
    val repaired = store.rollupDaily()
    assert(repaired.map(_._2) == Seq("2023-04-23"))
    val r2 = store.rollupDailyTable
      .filter(col("obs_date") === to_date(lit("2023-04-23")))
      .collect().head
    assert(r2.getAs[Double]("close") == 0.5 && r2.getAs[Double]("low") == 0.5)
    assert(r2.getAs[Long]("n") == 4L)
    assert(r2.getAs[Double]("mean") == (1.0 + 5.0 + 2.0 + 0.5) / 4)
    // the untouched 04-24 partition was not rewritten
    val r3 = store.rollupDailyTable
      .filter(col("obs_date") === to_date(lit("2023-04-24")))
      .collect().head
    assert(r3.getAs[Double]("open") == 9.0 && r3.getAs[Long]("n") == 1L)
    assert(store.rollupDaily().isEmpty)
  }

  test("rollup spans sources and keeps per-source rows separate") {
    val root = Files.createTempDirectory("graft-rollup2").toString
    val store = mkStore(root)
    store.appendGaugeData(mkFact(Seq(
      (1L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 1.0))), "tidal_gauge")
    store.appendGaugeData(mkFact(Seq(
      (2L, "2023-04-23 00:00:00", "2023-04-23 01:00:00", 3.0))), "river_gauge")
    assert(store.rollupDaily().size == 2)
    val rows = store.rollupDailyTable.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("data_source_part")).toSet ==
      Set("tidal_gauge", "river_gauge"))
  }
}

/** Identical rollup scenarios on a `new SnapshotGaugeStore` (the
  * constructor the benchmark harness subclasses, bypassing
  * `GaugeStore.open`): the CDC-driven refresh builds, stays idempotent
  * and repairs late arrivals the same way. */
class SnapshotRollupSpec extends RollupSpec {
  override protected def mkStore(root: String): GaugeStore =
    new SnapshotGaugeStore(spark, root)
}
