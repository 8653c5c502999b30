package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The local filesystem recording how often each harvest CSV is
  * opened; installed like [[CrashFs]], as the `file` scheme with the
  * filesystem cache off. */
class OpenCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.endsWith(".csv"))
      OpenCountingFs.opens.merge(f.getName, 1, (a: Int, b: Int) => a + b)
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Int]()
}

/** A batch commit is keep-latest itself: the batch's rows are written
  * once, in ONE tagged commit that also drops every stored row they
  * supersede — in the batch's source and days for obs, in the run's
  * timemark for a model rerun. So no snapshot version shows a row next
  * to the one that supersedes it, and no crash can leave such a pair
  * behind. The batch's source dim is written before that commit, so a
  * committed fact always has its source registered.
  */
class BatchCommitSpec extends SparkSuite {

  private val meta = SourceMeta("tidal_gauge", "noaa", "noaa", "water_level",
    "noaaweb_stationdata_water_level", "tidal", "m")

  /** A store with one station and an empty harvest dir. */
  private def fixture(name: String): (String, String) = {
    val root = Files.createTempDirectory(name).toString
    val harvest = s"$root/harvest"; Files.createDirectories(Paths.get(harvest))
    Files.write(Paths.get(root, "geom.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    GaugeStore.open(spark, s"$root/store")
      .writeStations(ObsIngest.seedStations(spark, s"$root/geom.csv"))
    (s"$root/store", harvest)
  }

  private def drop(harvest: String, tm: String, rows: String*): Unit =
    Files.write(Paths.get(harvest, s"noaaweb_stationdata_water_level_$tm.csv"),
      ("TIME,STATION,WATER_LEVEL\n" + rows.mkString("\n")).getBytes)

  private def ingest(store: GaugeStore, harvest: String): Long =
    graft.IngestCli.sequenceIngest(spark, store, Seq(meta), harvest,
      lit("2023-04-24 00:00:00"))

  private val batch1 = Seq("2023-04-23T10:00:00,8410140,1.10",
    "2023-04-23T11:00:00,8410140,1.20", "2023-04-23T12:00:00,8410140,1.30")
  // the later harvest rewrites 12:00
  private val batch2 = Seq("2023-04-23T12:00:00,8410140,9.99",
    "2023-04-23T13:00:00,8410140,1.40")
  private val oracle = Seq("10:00:00" -> 1.10, "11:00:00" -> 1.20,
    "12:00:00" -> 9.99, "13:00:00" -> 1.40)

  private def served(store: GaugeStore): Seq[(String, Double)] =
    store.gaugeData.select(date_format(col("time"), "HH:mm:ss"), col("water_level"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq.sorted

  test("no gauge_data log version holds two live rows for one (source_id, time) across overlapping batches") {
    val (root, harvest) = fixture("graft-versions")
    val store = GaugeStore.open(spark, root)
    drop(harvest, "2023-04-23T12_00_00", batch1: _*)
    assert(ingest(store, harvest) == 1)
    drop(harvest, "2023-04-23T18_00_00", batch2: _*)
    assert(ingest(store, harvest) == 1)
    val table = new graft.sources.SnapshotTable(spark, s"$root/gauge_data")
    val versions = 1 to table.currentVersion
    assert(versions.nonEmpty)
    versions.foreach { v =>
      val dup = table.read(Some(v)).groupBy("source_id", "time").count()
        .filter(col("count") > 1).count()
      assert(dup == 0, s"version $v holds $dup (source_id, time) key(s) twice")
    }
    assert(served(store) == oracle)
  }

  test("an obs batch stopped after its fact append and before keep-latest converges to the keep-latest oracle") {
    val (root, harvest) = fixture("graft-stopped")
    drop(harvest, "2023-04-23T12_00_00", batch1: _*)
    assert(ingest(GaugeStore.open(spark, root), harvest) == 1)
    drop(harvest, "2023-04-23T18_00_00", batch2: _*)
    // the process stops at the first keep-latest repair after the batch
    // is in: whatever the batch commit wrote stays as it is on disk
    val stopping = new SnapshotGaugeStore(spark, root) {
      override def compactGaugeData(scope: Option[(String, String)],
          dataSource: Option[String]): Unit =
        throw new IllegalStateException("stopped before keep-latest")
    }
    try ingest(stopping, harvest)
    catch { case _: IllegalStateException => }
    val fresh = GaugeStore.open(spark, root)
    fresh.vacuum()
    ingest(fresh, harvest)
    assert(served(fresh) == oracle)
  }

  test("one obs batch with no overlap writes each of its fact rows into gauge_data once") {
    val (root, harvest) = fixture("graft-writes")
    val store = GaugeStore.open(spark, root)
    drop(harvest, "2023-04-23T12_00_00", batch1: _*)
    // rows written by the tasks of each SQL execution, and the output
    // path each execution's write command names; a sentinel job in its
    // own group flushes the (asynchronous) bus
    val written = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val outputs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stageExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    // a write command's node lists its output path first among its
    // arguments in the formatted plan text
    val insert = "(?s)InsertIntoHadoopFsRelationCommand.*?Arguments: (file:/[^,\\s\\]]+)".r
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            insert.findFirstMatchIn(s.physicalPlanDescription)
              .foreach(m => outputs.put(s.executionId, m.group(1)))
          case _ =>
        }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.map(_.getProperty("spark.jobGroup.id")).contains("write-sentinel"))
          flushed.countDown()
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => e.stageIds.foreach(stageExec.put(_, id.toLong)))
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stageExec.containsKey(e.stageId))
          written.merge(stageExec.get(e.stageId),
            e.taskMetrics.outputMetrics.recordsWritten, (a, b) => a + b)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      assert(ingest(store, harvest) == 1)
      sc.setJobGroup("write-sentinel", "bus flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    import scala.jdk.CollectionConverters._
    val factWrites = outputs.asScala.toSeq.filter(_._2.contains("/gauge_data"))
    assert(factWrites.nonEmpty, outputs.toString)
    val rows = factWrites.map { case (id, _) => written.getOrDefault(id, 0L) }.sum
    assert(store.gaugeData.count() == batch1.size)
    assert(rows == batch1.size,
      s"$rows fact rows written for a batch of ${batch1.size}: $factWrites")
  }
  test("no model_data log version holds two live rows for one (source_id, time, timemark) across a rerun") {
    val (root, _) = fixture("graft-model-versions")
    val store = GaugeStore.open(spark, root)
    val runId = "4358-2023042312-gfsforecast"
    val runDir = Paths.get(root).getParent.resolve(runId)
    Files.createDirectories(runDir)
    def writeRun(level: Double): Unit =
      Files.write(runDir.resolve("FORECAST_NOAASTATIONS.csv"),
        ("TIME,STATION,WATER_LEVEL\n" +
          s"2023-04-23T13:00:00,8410140,$level\n" +
          s"2023-04-23T14:00:00,8410140,${level + 0.1}").getBytes)
    def run(stamp: String): Long = graft.IngestCli.modelRunIngest(spark, store,
      runDir.toString, runId, "2023-04-23T12:00:00", "gfsforecast", "ec95d",
      None, "inst1", "synoptic", "https://ui.example",
      processingDatetime = Some(stamp))
    writeRun(0.5)
    assert(run("2023-04-23T13:30:00") == 1)
    // the rerun: the same run dir, rewritten, under a new stamp
    writeRun(1.5)
    assert(run("2023-04-23T15:00:00") == 1)
    val table = new graft.sources.SnapshotTable(spark, s"$root/model_data")
    val versions = 1 to table.currentVersion
    assert(versions.nonEmpty)
    versions.foreach { v =>
      val dup = table.read(Some(v)).groupBy("source_id", "time", "timemark").count()
        .filter(col("count") > 1).count()
      assert(dup == 0, s"version $v holds $dup (source_id, time, timemark) key(s) twice")
    }
    assert(store.modelData.select("water_level").collect().map(_.getDouble(0))
      .toSeq.sorted == Seq(1.5, 1.6))
  }

  test("an obs batch whose source-dim write fails serves its row after vacuum and a rerun") {
    val (root, harvest) = fixture("graft-dim-order")
    drop(harvest, "2023-04-23T12_00_00", batch1: _*)
    var failed = false
    val failing = new SnapshotGaugeStore(spark, root) {
      override def writeGaugeSource(df: org.apache.spark.sql.DataFrame): Unit =
        if (!failed) { failed = true; throw new IllegalStateException("dim write failed") }
        else super.writeGaugeSource(df)
    }
    try ingest(failing, harvest)
    catch { case _: IllegalStateException => }
    assert(failed)
    val fresh = GaugeStore.open(spark, root)
    fresh.vacuum()
    ingest(fresh, harvest)
    val js = QueryServe.handle(fresh, Map("op" -> "get_obs_timeseries_station_data",
      "station" -> "8410140", "start" -> "2023-04-23T00:00:00",
      "end" -> "2023-04-24T00:00:00"))
    assert(js.contains(""""tidal_gauge_water_level":1.3"""), js)
  }

  test("a source whose dim write fails fails its batch once, ledgers nothing, and ingests every file next run") {
    val (root, harvest) = fixture("graft-store-failure")
    Seq("10", "11", "12").foreach(h =>
      drop(harvest, s"2023-04-23T${h}_00_00", s"2023-04-23T$h:00:00,8410140,1.$h"))
    var calls = 0
    val failing = new SnapshotGaugeStore(spark, root) {
      override def writeGaugeSource(df: org.apache.spark.sql.DataFrame): Unit = {
        calls += 1
        if (calls == 1) throw new IllegalStateException("dim write failed")
        super.writeGaugeSource(df)
      }
    }
    // a store-side failure is not retried file by file
    assert(ingest(failing, harvest) == 0)
    assert(calls == 1, s"the dim was written $calls times for one batch")
    assert(failing.ledger.count() == 0 && !failing.hasGaugeData)
    assert(ingest(GaugeStore.open(spark, root), harvest) == 3)
    assert(served(GaugeStore.open(spark, root)).size == 3)
  }

  test("each ledger commit writes one data file and carries its batch's tag") {
    val (root, harvest) = fixture("graft-ledger-commits")
    val store = GaugeStore.open(spark, root)
    // a multi-file obs batch, then a later one
    drop(harvest, "2023-04-23T12_00_00", batch1: _*)
    drop(harvest, "2023-04-23T13_00_00", "2023-04-23T13:00:00,8410140,1.40")
    assert(ingest(store, harvest) == 2)
    drop(harvest, "2023-04-23T18_00_00", batch2: _*)
    assert(ingest(store, harvest) == 1)
    // a two-file model run with a meta file
    val runId = "4358-2023042312-gfsforecast"
    val runDir = Paths.get(root).getParent.resolve(runId)
    Files.createDirectories(runDir)
    Seq("FORECAST", "NOWCAST").foreach { phase =>
      Files.write(runDir.resolve(s"${phase}_NOAASTATIONS.csv"),
        s"TIME,STATION,WATER_LEVEL\n2023-04-23T1${if (phase == "FORECAST") 3 else 1}:00:00,8410140,0.5".getBytes)
    }
    Files.write(runDir.resolve("meta_FORECAST_NOAASTATIONS.csv"), "STATION\n8410140".getBytes)
    assert(graft.IngestCli.modelRunIngest(spark, store, runDir.toString, runId,
      "2023-04-23T12:00:00", "gfsforecast", "ec95d", None, "inst1", "synoptic",
      "https://ui.example", processingDatetime = Some("2023-04-23T13:30:00")) == 2)
    def table(t: String) = new graft.sources.SnapshotTable(spark, s"$root/$t")
    Seq("ledger_obs" -> "gauge_data", "ledger_model" -> "model_data").foreach {
      case (ledger, fact) =>
        val t = table(ledger)
        (1 to t.currentVersion).foreach { v =>
          val added = t.files(Some(v)).toSet -- (if (v == 1) Set.empty[String]
            else t.files(Some(v - 1)).toSet)
          assert(added.size == 1, s"$ledger v$v added ${added.size} files")
        }
        assert(t.committedTags.size == t.currentVersion, s"$ledger has an untagged commit")
        assert(t.committedTags.subsetOf(table(fact).committedTags),
          s"$ledger tags ${t.committedTags} not in $fact")
    }
    assert(table("ledger_obs").currentVersion == 2 && store.ledger.count() == 3)
    assert(table("ledger_model").currentVersion == 1 && store.modelLedger.count() == 2)
    val meta = table("apsviz_station_file_meta")
    assert(meta.currentVersion == 1 && meta.files().size == 1)
  }

  test("the model-side J4 ledger read plans one run's files from model_run_id stats") {
    val (root, _) = fixture("graft-ledger-prune")
    val store = GaugeStore.open(spark, root)
    val runs = Seq("2023042300", "2023042306", "2023042312")
    runs.foreach { tm =>
      val runId = s"4358-$tm-gfsforecast"
      val runDir = Paths.get(root).getParent.resolve(runId)
      Files.createDirectories(runDir)
      Files.write(runDir.resolve("FORECAST_NOAASTATIONS.csv"),
        s"TIME,STATION,WATER_LEVEL\n2023-04-23T13:00:00,8410140,0.5".getBytes)
      val timemark = s"2023-04-23T${tm.takeRight(2)}:00:00"
      graft.IngestCli.modelRunIngest(spark, store, runDir.toString, runId,
        timemark, "gfsforecast", "ec95d", None, "inst1", "synoptic",
        "https://ui.example", processingDatetime = Some("2023-04-23T13:30:00"))
    }
    val ledgerRoot = s"$root/ledger_model"
    assert(new graft.sources.SnapshotTable(spark, ledgerRoot).files().size == 3)
    val got = store.modelLedger.filter(col("model_run_id") === "4358-2023042306-gfsforecast")
      .select("file_name").collect()
    assert(got.length == 1)
    assert(graft.sources.SnapshotTable.lastPlannedCandidates(ledgerRoot).map(_.size)
      .contains(1), graft.sources.SnapshotTable.lastPlannedCandidates(ledgerRoot).toString)
  }

  test("sequenceIngest opens each new harvest file once and no ledgered file") {
    val (root, harvest) = fixture("graft-read-once")
    drop(harvest, "2023-04-23T12_00_00", batch1: _*)
    assert(ingest(GaugeStore.open(spark, root), harvest) == 1)
    drop(harvest, "2023-04-23T18_00_00", batch2: _*)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[OpenCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    OpenCountingFs.opens.clear()
    try assert(ingest(GaugeStore.open(spark, root), harvest) == 1)
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    import scala.jdk.CollectionConverters._
    assert(OpenCountingFs.opens.asScala.toMap == Map(
      "noaaweb_stationdata_water_level_2023-04-23T18_00_00.csv" -> 1))
    assert(served(GaugeStore.open(spark, root)) == oracle)
  }
}
