package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The local filesystem (a checksummed `FilterFileSystem` over the raw
  * one) counting the mutating calls (create, rename, delete, mkdirs)
  * under [[CrashFs.root]] and throwing at the [[CrashFs.crashAt]]-th
  * and every later one, as a process killed there would never make
  * them. Installed as the `file` scheme's implementation with the
  * filesystem cache off, so every `FileSystem.get` — the store's, the
  * tables', Spark's writers' — returns a counting instance; extending
  * `LocalFileSystem` keeps `FileSystem.getLocal` callers working. */
class CrashFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  private def mutate(p: HPath): Unit = {
    val r = CrashFs.root
    if (r != null && makeQualified(p).toUri.getPath.startsWith(r)) {
      val k = CrashFs.calls.incrementAndGet()
      if (k >= CrashFs.crashAt)
        throw new java.io.IOException(s"injected crash at mutating call $k ($p)")
    }
  }

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    mutate(src); super.rename(src, dst)
  }
  override def delete(f: HPath, recursive: Boolean): Boolean = {
    mutate(f); super.delete(f, recursive)
  }
  override def mkdirs(f: HPath, permission: FsPermission): Boolean = {
    mutate(f); super.mkdirs(f, permission)
  }
}

object CrashFs {
  /** Absolute local path whose subtree is counted; null = count nothing. */
  @volatile var root: String = null
  @volatile var crashAt: Int = Int.MaxValue
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}

/** Crash-point sweep over the three batch commits — one obs batch that
  * overlaps the stored rows, one model run, and a rerun of that model
  * run under a new processing stamp — and over a daily rollup rebuild.
  * For a crash at every mutating call k (a seeded sample in the default
  * run; all of them with `-Dcrash.points=all`, or N sampled with
  * `-Dcrash.points=N`), a fresh store over the crashed root runs
  * vacuum, and then, for a batch:
  *  - the facts are exactly the pre-batch or the post-batch rows;
  *  - the ledger is the pre-batch or the post-batch one, and never
  *    marks the batch's files while the facts lack them;
  *  - every ledger table's tags are tags of a fact commit;
  *  - the batch source's dim keys are the pre-batch or the post-batch
  *    ones, and never lag facts that hold the batch;
  *  - a rerun of the same ingest converges on the post-batch state, and
  *    a replay of any committed id adds no ledger row;
  * and for the rollup, a rerun rebuilds the rollup a fresh store builds
  * from the same facts.
  */
class CrashPointSpec extends SparkSuite {

  private val points = sys.props.getOrElse("crash.points", "4")

  private val obsMeta = SourceMeta("tidal_gauge", "noaa", "noaa", "water_level",
    "noaaweb_stationdata_water_level", "tidal", "m")

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  /** Runs `body` with the counting filesystem installed, and Spark's
    * logs of the injected task failures silenced. */
  private def withCrashFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CrashFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    spark.sparkContext.setLogLevel("OFF")
    try body
    finally {
      spark.sparkContext.setLogLevel("WARN")
      before.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  /** Runs `batch` over `store`, counting the mutating calls under it
    * and crashing at call `k`; returns the count. */
  private def armed(store: String, k: Int)(batch: => Unit): Int = {
    CrashFs.calls.set(0)
    CrashFs.crashAt = k
    CrashFs.root = store
    try batch
    catch { case scala.util.control.NonFatal(_) => }
    finally {
      // tasks of a failed job may still be winding down
      val tracker = spark.sparkContext.statusTracker
      while (tracker.getActiveStageIds.nonEmpty) Thread.sleep(20)
      CrashFs.root = null
      CrashFs.crashAt = Int.MaxValue
    }
    CrashFs.calls.get
  }

  /** A store state as the facts' rows, the ledger's file names and the
    * source dim's keys. */
  private type State = (Seq[String], Seq[String], Seq[String])

  private def tags(work: Path, table: String): Set[String] =
    new graft.sources.SnapshotTable(spark, work.resolve(table).toString).committedTags

  /** A ledger table holding a tag that no fact commit has. */
  private def ledgerAhead(work: Path): Option[String] = {
    val facts = tags(work, "gauge_data") ++ tags(work, "model_data")
    GaugeStore.LedgerTables.map(t => t -> (tags(work, t) -- facts))
      .collectFirst { case (t, extra) if extra.nonEmpty => s"$t tags $extra have no fact commit" }
  }

  /** Replays every committed id of the harvest ledgers with their own
    * rows; the tag must skip each replay. */
  private def replayAddsRows(work: Path, state: GaugeStore => State): Option[String] = {
    val store = GaugeStore.open(spark, work.toString)
    val before = state(store)
    tags(work, "ledger_obs").foreach(t => store.atomicCommit(t.stripPrefix("commit-"))(
      store.stageLedger(store.ledger, _)))
    tags(work, "ledger_model").foreach(t => store.atomicCommit(t.stripPrefix("commit-"))(
      store.stageModelLedger(store.modelLedger, _)))
    val after = state(GaugeStore.open(spark, work.toString))
    if (after != before) Some(s"a replayed commit id changed the store: $after") else None
  }

  /** Sweeps a crash over every sampled mutating call of `batch` on a
    * store restored from `template` (a copy of the pre-batch store at
    * `work`). Returns the k whose recovery failed, with the reason. */
  private def sweep(work: Path, template: Path, state: GaugeStore => State)(
      batch: GaugeStore => Unit): (Int, Seq[Int], Seq[(Int, String)]) = withCrashFs {
    val pre = state(GaugeStore.open(spark, work.toString))
    val n = armed(work.toString, Int.MaxValue)(batch(GaugeStore.open(spark, work.toString)))
    val post = state(GaugeStore.open(spark, work.toString))
    assert(n > 0 && pre != post)
    val ks =
      if (points == "all") (1 to n).toList
      else new scala.util.Random(11).shuffle((1 to n).toList).take(points.toInt).sorted
    val failed = ks.flatMap { k =>
      deleteTree(work); copyTree(template, work)
      armed(work.toString, k)(batch(GaugeStore.open(spark, work.toString)))
      val store = GaugeStore.open(spark, work.toString)
      store.vacuum()
      val got = state(store)
      val problem =
        if (got._1 != pre._1 && got._1 != post._1) Some(s"facts are neither pre nor post: ${got._1}")
        else if (got._2 != pre._2 && got._2 != post._2) Some(s"ledger is neither pre nor post: ${got._2}")
        else if (got._3 != pre._3 && got._3 != post._3) Some(s"source dim is neither pre nor post: ${got._3}")
        else if (got._2 == post._2 && got._1 != post._1) Some("ledger ahead of the facts")
        else if (got._1 == post._1 && got._3 != post._3) Some("source dim behind the facts")
        else ledgerAhead(work).orElse {
          batch(GaugeStore.open(spark, work.toString))
          val again = state(GaugeStore.open(spark, work.toString))
          if (again != post) Some(s"rerun did not converge: $again")
          else ledgerAhead(work).orElse(replayAddsRows(work, state))
        }
      problem.map(k -> _)
    }
    (n, ks, failed)
  }

  test("a crash at any mutating call of an overlapping obs batch recovers to the pre- or post-batch state") {
    val base = Files.createTempDirectory("graft-crash-obs")
    val harvest = base.resolve("harvest"); Files.createDirectories(harvest)
    val work = base.resolve("store")
    val eastport = "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A"
    Files.write(base.resolve("geom.csv"), eastport.getBytes)
    def drop(tm: String, rows: String*): Unit =
      Files.write(harvest.resolve(s"noaaweb_stationdata_water_level_$tm.csv"),
        ("TIME,STATION,WATER_LEVEL\n" + rows.mkString("\n")).getBytes)
    def ingest(store: GaugeStore): Unit =
      graft.IngestCli.sequenceIngest(spark, store, Seq(obsMeta), harvest.toString,
        lit("2023-04-24 00:00:00"))
    val seeded = GaugeStore.open(spark, work.toString)
    seeded.writeStations(ObsIngest.seedStations(spark, base.resolve("geom.csv").toString))
    drop("2023-04-23T12_00_00", "2023-04-23T10:00:00,8410140,1.10",
      "2023-04-23T12:00:00,8410140,1.30")
    ingest(seeded)
    // a station registered after the first batch: the batch's source dim
    // gains its key
    Files.write(base.resolve("geom.csv"),
      (eastport + "\n8418150,43.6,-70.2,gmt,NOAA,Portland,tidal,us,me,Cumb,01B").getBytes)
    seeded.writeStations(ObsIngest.seedStations(spark, base.resolve("geom.csv").toString))
    val template = base.resolve("template")
    copyTree(work, template)
    // the batch: a later harvest that rewrites 12:00 and adds 13:00
    drop("2023-04-23T18_00_00", "2023-04-23T12:00:00,8410140,9.99",
      "2023-04-23T13:00:00,8410140,1.40", "2023-04-23T13:00:00,8418150,2.10")
    val (n, ks, failed) = sweep(work, template, s => (
      s.gaugeData.select("source_id", "time", "timemark", "water_level")
        .collect().map(_.toString).toSeq.sorted,
      s.ledger.select("file_name").collect().map(_.getString(0)).toSeq.sorted,
      if (!s.tableExists("gauge_source")) Nil
      else s.gaugeSource.select("source_id").collect().map(_.getLong(0).toString).toSeq.sorted))(ingest)
    info(s"obs batch: $n mutating calls, crashed at k = ${ks.mkString(",")}")
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  /** A store over `base` with two stations and one model run dir; the
    * run's ingest under a processing stamp, and the store's state. */
  private class ModelFixture(base: Path) {
    val runId = "4358-2023042312-gfsforecast"
    val runDir = base.resolve(runId); Files.createDirectories(runDir)
    val work = base.resolve("store")
    Files.write(base.resolve("geom.csv"), ("8410140,44.9,-66.9,gmt,NOAA/NOS,Eastport,tidal,us,me,Washington,01A\n" +
      "8418150,43.6,-70.2,gmt,NOAA/NOS,Portland,tidal,us,me,Cumberland,01B").getBytes)
    GaugeStore.open(spark, work.toString)
      .writeStations(ObsIngest.seedStations(spark, base.resolve("geom.csv").toString))
    def writeRun(level: Double): Unit =
      Files.write(runDir.resolve("FORECAST_NOAASTATIONS.csv"),
        (s"TIME,STATION,WATER_LEVEL\n2023-04-23T13:00:00,8410140,$level\n" +
          s"2023-04-23T14:00:00,8410140,${level + 0.1}\n2023-04-23T13:00:00,8418150,${level + 0.2}").getBytes)
    def ingest(stamp: String)(s: GaugeStore): Unit = {
      graft.IngestCli.modelRunIngest(spark, s, runDir.toString, runId,
        "2023-04-23T12:00:00", "gfsforecast", "ec95d", None, "inst1", "synoptic",
        "https://ui.example", processingDatetime = Some(stamp))
      ()
    }
    def state(s: GaugeStore): State = (
      if (!s.hasModelData) Nil else s.modelData.select("source_id", "time", "timemark", "water_level")
        .collect().map(_.toString).toSeq.sorted,
      s.modelLedger.select("file_name").collect().map(_.getString(0)).toSeq.sorted,
      if (!s.tableExists("model_source")) Nil
      else s.modelSource.select("source_id").collect().map(_.getLong(0).toString).toSeq.sorted)
  }

  test("a crash at any mutating call of a model run recovers to the pre- or post-batch state") {
    val base = Files.createTempDirectory("graft-crash-model")
    val f = new ModelFixture(base)
    f.writeRun(0.5)
    val template = base.resolve("template")
    copyTree(f.work, template)
    val (n, ks, failed) = sweep(f.work, template, f.state)(f.ingest("2023-04-23T13:30:00"))
    info(s"model run: $n mutating calls, crashed at k = ${ks.mkString(",")}")
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("a crash at any mutating call of a model rerun under a new stamp recovers to the pre- or post-rerun state") {
    val base = Files.createTempDirectory("graft-crash-rerun")
    val f = new ModelFixture(base)
    f.writeRun(0.5)
    f.ingest("2023-04-23T13:30:00")(GaugeStore.open(spark, f.work.toString))
    val template = base.resolve("template")
    copyTree(f.work, template)
    // the rerun: the same run dir, rewritten, under a new stamp
    f.writeRun(1.5)
    val (n, ks, failed) = sweep(f.work, template, f.state)(f.ingest("2023-04-23T15:00:00"))
    info(s"model rerun: $n mutating calls, crashed at k = ${ks.mkString(",")}")
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("a crash at any mutating call of a rollup rebuild recovers, after vacuum and a rerun, to a fresh store's rollup") {
    val base = Files.createTempDirectory("graft-crash-rollup")
    val harvest = base.resolve("harvest"); Files.createDirectories(harvest)
    val work = base.resolve("store")
    Files.write(base.resolve("geom.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    def drop(tm: String, rows: String*): Unit =
      Files.write(harvest.resolve(s"noaaweb_stationdata_water_level_$tm.csv"),
        ("TIME,STATION,WATER_LEVEL\n" + rows.mkString("\n")).getBytes)
    def ingest(store: GaugeStore): Unit =
      graft.IngestCli.sequenceIngest(spark, store, Seq(obsMeta), harvest.toString,
        lit("2023-04-25 00:00:00"))
    val seeded = GaugeStore.open(spark, work.toString)
    seeded.writeStations(ObsIngest.seedStations(spark, base.resolve("geom.csv").toString))
    drop("2023-04-23T12_00_00", "2023-04-22T23:00:00,8410140,1.10",
      "2023-04-23T10:00:00,8410140,1.20")
    ingest(seeded)
    seeded.rollupDaily()
    // a later batch rewrites one rolled-up day and adds another: the
    // rebuild replaces one partition, writes a new one and swaps the
    // version marker
    drop("2023-04-24T12_00_00", "2023-04-23T10:00:00,8410140,9.99",
      "2023-04-24T10:00:00,8410140,1.40")
    ingest(seeded)
    val template = base.resolve("template")
    copyTree(work, template)
    def rows(s: GaugeStore): Seq[String] =
      s.rollupDailyTable.collect().map(_.toString).toSeq.sorted
    // the oracle: the same facts, rolled up by a store with no rollup yet
    val fresh = base.resolve("fresh")
    copyTree(template, fresh)
    deleteTree(fresh.resolve("gauge_rollup_daily"))
    Files.delete(fresh.resolve("gauge_rollup_daily_version"))
    val freshStore = GaugeStore.open(spark, fresh.toString)
    freshStore.rollupDaily()
    val oracle = rows(freshStore)
    val (n, ks, failed) = withCrashFs {
      val n = armed(work.toString, Int.MaxValue)(GaugeStore.open(spark, work.toString).rollupDaily())
      assert(n > 0 && rows(GaugeStore.open(spark, work.toString)) == oracle)
      val ks =
        if (points == "all") (1 to n).toList
        else new scala.util.Random(11).shuffle((1 to n).toList).take(points.toInt).sorted
      val failed = ks.flatMap { k =>
        deleteTree(work); copyTree(template, work)
        armed(work.toString, k)(GaugeStore.open(spark, work.toString).rollupDaily())
        val store = GaugeStore.open(spark, work.toString)
        store.vacuum()
        store.rollupDaily()
        val got = rows(GaugeStore.open(spark, work.toString))
        if (got != oracle) Some(k -> s"rollup after the rerun differs: $got") else None
      }
      (n, ks, failed)
    }
    info(s"rollup: $n mutating calls, crashed at k = ${ks.mkString(",")}")
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
