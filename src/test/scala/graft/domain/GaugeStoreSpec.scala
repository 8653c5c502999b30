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

  /** A `centroid_id=`-partitioned `lists` dir (the `Compact --index`
    * shape), one partition per id. */
  private def seedLists(root: String, ids: Int*): Unit =
    ids.map(i => (i.toLong, i)).toDF("vec_id", "centroid_id")
      .write.mode("append").partitionBy("centroid_id").parquet(s"$root/lists")

  private def lists(root: String) = spark.read.parquet(s"$root/lists")

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
    seedLists(root, 1)
    // simulate the swapInto crash window: live parked as backup, tmp
    // written but never swapped in
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    assert(fs.rename(p("lists"), p("lists_bak_42")))
    fs.mkdirs(p("lists_tmp"))
    assert(!fs.exists(p("lists")))

    val actions = store.vacuum()
    assert(actions.exists(_.startsWith("restored lists")))
    assert(fs.exists(p("lists")))
    assert(!fs.exists(p("lists_tmp")) && !fs.exists(p("lists_bak_42")))
    assert(lists(root).count() == 1)               // contents intact
    // idempotent: nothing left to do
    assert(store.vacuum().isEmpty)
  }

  test("vacuum restores parked PARTITION dirs when the table itself survived") {
    val root = Files.createTempDirectory("graft-store5").toString
    val store = GaugeStore.open(spark, root)
    seedLists(root, 1, 2)
    assert(lists(root).count() == 2)
    // simulate a partition swap crash: one list's partition parked into
    // the backup, never replaced — the table dir itself still exists
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    fs.mkdirs(p("lists_pbak_99"))
    assert(fs.rename(p("lists/centroid_id=1"), p("lists_pbak_99/centroid_id=1")))
    assert(lists(root).count() == 1)               // partition gone
    val actions = store.vacuum()
    assert(actions.exists(_.contains("restored lists/centroid_id=1")), actions.toString)
    assert(lists(root).count() == 2)               // partition back
    assert(!fs.exists(p("lists_pbak_99")))
  }

  test("vacuum does NOT mine a whole-table backup for partitions the rewrite dropped") {
    // swapInto crash window AFTER the swap, before backup delete: the
    // new table is live (legitimately missing a partition the rewrite
    // dropped), the superseded full copy sits in _bak_. Restoring that
    // partition would resurrect deleted data.
    val root = Files.createTempDirectory("graft-store6").toString
    val store = GaugeStore.open(spark, root)
    seedLists(root, 1, 2)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    // park the FULL old table (as swapInto does), make the live table a
    // rewrite that dropped the centroid_id=1 partition
    assert(fs.rename(p("lists"), p("lists_bak_77")))
    fs.mkdirs(p("lists"))
    assert(fs.rename(p("lists_bak_77/centroid_id=2"), p("lists/centroid_id=2")))
    val actions = store.vacuum()
    assert(!actions.exists(_.contains("restored lists/")),
      s"whole-table backup was mined for partitions: $actions")
    assert(lists(root).count() == 1)               // dropped stays dropped
    assert(!fs.exists(p("lists_bak_77")))          // superseded copy swept
  }

  test("dims are read once per on-disk version, keep the parquet read's partitioning and the apsviz_station default") {
    val root = Files.createTempDirectory("graft-store-dim").toString
    val store = GaugeStore.open(spark, root)
    // a pre-apsviz_station stations dim laid down as two data files
    store.writeStations(Seq((1L, "A"), (2L, "B"), (3L, "C"))
      .toDF("station_id", "station_name").repartition(2))
    store.writeGaugeSource(Seq((10L, 1L, "tidal_gauge")).toDF(
      "source_id", "station_id", "data_source").coalesce(1))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/stations"))
      .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    assert(dataFiles == 2)

    // jobs launched by `body`: counted under a job group, then a
    // sentinel job in its own group flushes the (asynchronous) bus
    def jobsDuring(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val flushed = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
            case "dim-probe" => jobs.incrementAndGet()
            case "dim-sentinel" => flushed.countDown()
            case _ =>
          }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("dim-probe", "dim reads")
        body
        sc.setJobGroup("dim-sentinel", "bus flush")
        sc.parallelize(Seq(1), 1).count()
        assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
      jobs.get
    }

    var first: Array[org.apache.spark.sql.Row] = null
    assert(jobsDuring { first = store.stations.collect(); store.gaugeSource } > 0)
    // unchanged dirs: the cached frames come back without a Spark job
    assert(jobsDuring { store.stations; store.gaugeSource } == 0)
    val cached = store.stations
    assert(cached.rdd.getNumPartitions == dataFiles)
    assert(cached.rdd.getNumPartitions ==
      spark.read.parquet(s"$root/stations").rdd.getNumPartitions)
    // the column default rides through the cache
    assert(cached.columns.contains("apsviz_station"))
    assert(cached.filter(col("apsviz_station")).count() == 0)
    assert(cached.collect().map(_.toSeq).toSet == first.map(_.toSeq).toSet)
    assert(first.length == 3)

    // a rewrite changes the listing: the next call re-reads
    store.markApsVizStations(Seq("B"))
    assert(jobsDuring(store.stations) > 0)
    assert(store.stations.filter(col("apsviz_station"))
      .select("station_name").as[String].collect().toSeq == Seq("B"))
  }

  test("a source-dim write whose frame fails mid-job leaves the previous dim readable") {
    val root = Files.createTempDirectory("graft-store-dimfail").toString
    val store = GaugeStore.open(spark, root)
    store.writeGaugeSource(Seq((10L, 1L, "tidal_gauge")).toDF(
      "source_id", "station_id", "data_source").coalesce(1))
    store.writeModelSource(Seq((20L, 1L, "adcirc")).toDF(
      "source_id", "station_id", "data_source").coalesce(1))
    // the replacement frame raises on its second row: the write job
    // fails after the writer has committed to replacing the dim
    def failing(n: Long) = spark.range(1, 3).select(
      when(col("id") === 2L, raise_error(lit("boom")))
        .otherwise(col("id") + n).cast("long").as("source_id"),
      lit(1L).as("station_id"), lit("x").as("data_source"))
    intercept[Exception](store.writeGaugeSource(failing(10L)))
    intercept[Exception](store.writeModelSource(failing(20L)))
    val fresh = GaugeStore.open(spark, root)
    assert(fresh.gaugeSource.select("source_id").as[Long].collect().toSeq == Seq(10L))
    assert(fresh.modelSource.select("source_id").as[Long].collect().toSeq == Seq(20L))
    // a frame that reads the dim it replaces still lands whole
    store.writeGaugeSource(store.gaugeSource.unionByName(Seq((11L, 2L, "tidal_gauge"))
      .toDF("source_id", "station_id", "data_source")))
    assert(GaugeStore.open(spark, root).gaugeSource.select("source_id").as[Long]
      .collect().toSet == Set(10L, 11L))
  }
}
