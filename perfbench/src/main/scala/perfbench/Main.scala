package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, date_format, lit, sum, unix_timestamp}

import graft.IngestCli
import graft.domain.{GaugeStore, QueryServe, SnapshotGaugeStore, SourceMeta}
import graft.sources.SnapshotTable

import Harvest._

/** Ingest→serve benchmark harness: one JVM, one local Spark session,
  * one client. Drives the engine through its public functions
  * (`IngestCli.sequenceIngest`, `IngestCli.modelRunIngest`,
  * `GaugeStore.rollupDaily`, `QueryServe.handle`) over a seeded harvest
  * set, checks every output against the [[Oracle]], and prints one JSON
  * line of metrics.
  *
  * Usage: `Main --workload backfill|cron|serve|prepare --seed N
  *   --seconds S --trace 0|1 --work DIR --base DIR --cores N`
  *
  * `prepare` builds the base store cron and serve start from (a
  * backfill-shaped harvest ingested through the backfill path, content
  * seed [[BaseSeed]]) in `work`; the caller keeps a copy in `base`.
  * Each cron or serve run restores that copy into `work` — the same
  * absolute path, which the snapshot logs record — and goes on from
  * there with content from its own seed.
  */
object Main {

  /** Sizes of one harvest set: stations per location type, obs files
    * per source, model runs, and whether the first run is rerun. */
  final case class Sizes(stations: Int, obsFiles: Int, runs: Int, rerun: Boolean)

  /** The backfill workload's harvest: two days of files per source,
    * three model runs and a rerun. */
  val backfillSizes = Sizes(stations = 100, obsFiles = 8, runs = 3, rerun = true)
  /** The base store of cron and serve: one day per source, two runs
    * and a rerun. */
  val baseSizes = Sizes(stations = 100, obsFiles = 4, runs = 2, rerun = true)
  val BaseSeed = 0L
  /** Minimum ops per run, whatever the time budget. */
  val minCronCycles = 1
  val minServeRequests = 40
  val backfillReads = 40
  /** Stations read (obs and allparms) after each cron cycle. */
  val cronReadStations = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Set("backfill", "cron", "serve", "prepare")(workload), s"unknown workload $workload")
    val b = new Bench(workload, opts.getOrElse("seed", "0").toLong,
      opts.getOrElse("seconds", "0").toDouble, opts.get("trace").contains("1"),
      Paths.get(opt("work")), opts.get("base").map(Paths.get(_)), opt("cores").toInt)
    val ok = try b.run() finally b.close()
    println(b.rawWallJson)
    println(b.resultJson)
    sys.exit(if (ok) 0 else 1)
  }
}

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, base: Option[Path], cores: Int,
    backfillSizes: Main.Sizes = Main.backfillSizes, baseSizes: Main.Sizes = Main.baseSizes) {
  import Main.{BaseSeed, Sizes, backfillReads, cronReadStations, minCronCycles, minServeRequests}

  private def now(): Long = System.nanoTime()
  private def secsSince(t0: Long): Double = (now() - t0) / 1e9
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ---- session ------------------------------------------------------

  /** Steal over the whole run, reported as `host.steal_share`. */
  private val runSteal = new StealMeter
  val (spark: SparkSession, session: Timed) = Timed.of(SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolveSibling("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolveSibling("warehouse").toString)
    .getOrCreate())
  spark.sparkContext.setLogLevel("ERROR")

  val tracer = new Tracer(spark.sparkContext)
  val listener = new SpanListener
  if (trace) spark.sparkContext.addSparkListener(listener)

  def close(): Unit = spark.stop()

  // ---- accounting -----------------------------------------------------

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** Raw wall figures of the timing metrics, printed beside them. */
  val rawWall = mutable.LinkedHashMap[String, Double]()

  def check(what: => String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
      log(s"CHECK FAILED: $what")
    }
  }

  /** One op (backfill pass, cron cycle or serve request): the root
    * span its layers' spans hang under in traced runs. */
  def op[T](name: String)(body: => T): T = {
    tracer.enabled = trace
    try tracer.span(name)(body) finally tracer.enabled = false
  }

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** A timing metric: reported net of host steal, with the same figure
    * computed from raw wall times kept beside it. */
  def timing(name: String, net: Double, wall: Double, unit: String): Unit = {
    metric(name, net, unit)
    rawWall(name) = wall
  }

  // ---- engine drivers ---------------------------------------------------

  def openStore(root: Path): GaugeStore = {
    val s = GaugeStore.open(spark, root.toString)
    require(s.isInstanceOf[SnapshotGaugeStore], s"default backend is ${s.getClass}")
    if (trace) new TracedStore(spark, root.toString, tracer) else s
  }

  def seedStations(store: GaugeStore, h: HarvestSet): Unit =
    store.writeStations(graft.domain.ObsIngest.seedStations(spark, h.stationsFile.toString))

  /** Runs the CLI's ingest over everything pending: obs SequenceIngest,
    * then each pending model run. Returns (ingest seconds, data rows). */
  def ingestPending(store: GaugeStore, h: HarvestSet, catalog: Seq[SourceMeta],
      nowHour: Long): (Double, Long) = {
    val rows = h.pendingObsRows + h.pendingModelRows
    val wantObs = h.pendingObs.size.toLong
    val t0 = now()
    val n = tracer.span("ingest.sequence") {
      tracer.note("new_obs_bytes", h.pendingObsBytes.toDouble)
      tracer.note("new_obs_rows", h.pendingObsRows.toDouble)
      IngestCli.sequenceIngest(spark, store, catalog, h.harvestDir.toString,
        lit(spaced(nowHour)).cast("timestamp"), deleteProcessed = false)
    }
    check(s"sequenceIngest ledgered $n files, expected $wantObs")(n == wantObs)
    log(f"sequenceIngest $n files ${secsSince(t0)}%.2f s")
    h.pendingRuns.foreach { r =>
      val files = tracer.span("ingest.model") {
        tracer.note("new_model_bytes", h.runBytes(r).toDouble)
        IngestCli.modelRunIngest(spark, store, h.runDir(r).toString, r.runId,
          iso(r.tm), Ensemble, Grid, None, Instance, Metclass,
          "https://ui.example", Some(r.procStamp))
      }
      check(s"modelRunIngest ${r.runId} gen ${r.gen} ingested $files files")(files == 8)
      log(f"modelRunIngest ${r.runId} gen ${r.gen} at ${secsSince(t0)}%.2f s")
    }
    val s = secsSince(t0)
    h.ingested()
    (s, rows)
  }

  def rollup(store: GaugeStore): Double = {
    val t0 = now()
    store.rollupDaily()
    log(f"rollupDaily ${secsSince(t0)}%.2f s")
    secsSince(t0)
  }

  /** A served request with its oracle answer. */
  final case class Req(op: String, params: Map[String, String], expected: () => String)

  /** One request; returns the answer and its latency. */
  def handle(store: GaugeStore, r: Req): (String, Timed) =
    Timed.of(tracer.span("serve.handle", r.op) {
      val o = QueryServe.handle(store, r.params)
      if (tracer.enabled) tracer.note("rows_returned",
        scala.util.Try(Oracle.rowsReturned(o)).getOrElse(0).toDouble)
      o
    })

  def verify(r: Req, out: String): Unit = {
    val want = r.expected()
    val same = scala.util.Try(Oracle.canonical(out) == Oracle.canonical(want)).getOrElse(false)
    check(s"served ${r.op} ${r.params} answered ${out.take(300)} expected ${want.take(300)}")(same)
  }

  // ---- requests --------------------------------------------------------

  /** Seeded request mix: the four ops in equal shares, Zipf-popular
    * stations, 1–3 day windows biased to recent dates. No request log
    * exists to fit these to: the equal shares, the Zipf exponent (1)
    * and the recency bias (the squared uniform below) are assumptions. */
  final class RequestGen(h: HarvestSet, salt: Long) {
    private val rnd = new java.util.SplittableRandom(hash(seed, 77, salt))
    /** Zipf ranks interleave the location types, so every seed serves
      * the same share of each type; the seed orders stations within one. */
    private val stations = {
      val byType = locTypes.map(lt => (0 until h.stations).map(stationName(lt, _))
        .sortBy(s => hash(seed, 78, s.hashCode.toLong)))
      (0 until h.stations).flatMap(i => byType.map(_(i)))
    }
    private val cdf = {
      val w = stations.indices.map(i => 1.0 / (i + 1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def station(): String = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      stations(math.min(stations.size - 1, if (i >= 0) i else -i - 1))
    }
    private var windows = 0
    /** Window lengths rotate through 1, 2 and 3 days; the seed places
      * the window, biased to recent hours. */
    private def window(lo: Long, hi: Long): (Long, Long) = {
      val len = 24L * (1 + windows % 3)
      windows += 1
      val slack = math.max(0L, hi - lo - len)
      val u = rnd.nextDouble()
      val end = hi - (u * u * slack).toLong
      (math.max(lo, end - len), end)
    }
    private lazy val obsSpan = {
      val hs = h.obsFact.keysIterator.map(_._3).toSeq
      (hs.min, hs.max)
    }
    private lazy val modelSpan = (h.runs.keys.min - NowcastHours, h.runs.keys.max + ForecastHours - 1)

    /** The op mix is a fixed rotation, so every seed serves the same
      * proportions; stations and windows are the seeded part. */
    private val rotation = IndexedSeq("obs", "allparms", "forecast", "nowcast")
    private var turn = 0

    def next(): Req = {
      val opName = rotation(turn % rotation.size)
      turn += 1
      val st = station()
      if (opName == "obs") {
        val (lo, hi) = window(obsSpan._1, obsSpan._2)
        obs(st, lo, hi)
      } else if (opName == "allparms") {
        val (lo, hi) = window(obsSpan._1, obsSpan._2)
        allParms(st, lo, hi)
      } else if (opName == "forecast") {
        val tms = h.runs.keys.toIndexedSeq.sorted
        val v = rnd.nextDouble()
        forecast(st, tms(tms.size - 1 - (v * v * tms.size).toInt))
      } else {
        val (lo, hi) = window(modelSpan._1, modelSpan._2)
        nowcast(st, lo, hi)
      }
    }

    def nowcast(st: String, lo: Long, hi: Long): Req =
      Req("nowcast", Map("op" -> "get_nowcast_timeseries_station_data",
        "station" -> st, "start" -> iso(lo), "end" -> iso(hi),
        "dataSource" -> ModelDataSource, "instance" -> Instance),
        () => Oracle.nowcast(h, st, lo, hi))

    def allParms(st: String, lo: Long, hi: Long): Req =
      Req("allparms", Map("op" -> "get_obs_timeseries_station_data_allparms",
        "station" -> st, "start" -> iso(lo), "end" -> iso(hi),
        "nowcastSource" -> "adcirc.nowcast"),
        () => Oracle.allParms(h, st, lo, hi, "adcirc.nowcast"))

    def obs(st: String, lo: Long, hi: Long): Req =
      Req("obs", Map("op" -> "get_obs_timeseries_station_data",
        "station" -> st, "start" -> iso(lo), "end" -> iso(hi)),
        () => Oracle.obs(h, st, lo, hi))

    def forecast(st: String, tm: Long): Req = {
      val maxEnd = tm + ForecastHours - 1
      Req("forecast", Map("op" -> "get_forecast_timeseries_station_data",
        "station" -> st, "timemark" -> iso(tm), "maxEnd" -> iso(maxEnd),
        "dataSource" -> ModelDataSource, "instance" -> Instance),
        () => Oracle.forecast(h, st, tm, maxEnd))
    }
  }

  // ---- correctness gate --------------------------------------------------

  /** Store contents against the oracle: obs facts after keep-latest,
    * both ledgers, model facts after reruns, rollup coverage. */
  def gate(store: GaugeStore, h: HarvestSet): Unit = {
    val wasOn = tracer.enabled
    tracer.enabled = false
    try {
      val baseHour = Base.toEpochSecond(java.time.ZoneOffset.UTC) / 3600
      val srcIdx = sources.map(_.dataSource).zipWithIndex.toMap
      val hourOf = (c: String) => (unix_timestamp(col(c)) / 3600).cast("long") - baseHour
      val obs = store.gaugeData
        .join(store.gaugeSource.select("source_id", "station_id", "data_source"), "source_id")
        .join(store.stations.select("station_id", "station_name"), "station_id")
        .select(col("data_source"), col("station_name"), hourOf("time"), hourOf("timemark"),
          coalesce(graft.domain.Schemas.obsMeasures.map(col): _*))
        .collect()
      check(s"obs fact holds ${obs.length} rows, oracle ${h.obsFact.size}")(obs.length == h.obsFact.size)
      val obsBad = obs.count { r =>
        h.obsFact.get((srcIdx(r.getString(0)), r.getString(1), r.getLong(2)))
          .forall { case (tm, v) => tm != r.getLong(3) || r.isNullAt(4) || r.getDouble(4) != v }
      }
      check(s"$obsBad obs fact rows disagree with keep-latest")(obsBad == 0)

      val ledger = store.ledger.select(col("file_name"),
        coalesce(date_format(col("data_begin_time"), "yyyy-MM-dd HH:mm:ss"), lit("null")),
        coalesce(date_format(col("data_end_time"), "yyyy-MM-dd HH:mm:ss"), lit("null")),
        col("ingested")).collect()
      val got = ledger.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      check(s"obs ledger has ${ledger.length} rows, oracle ${h.ledgered.size} (dupes or gaps)")(
        ledger.length == h.ledgered.size)
      check(s"obs ledger differs: missing ${h.expectedObsLedger.diff(got).take(3)} extra ${got.diff(h.expectedObsLedger).take(3)}")(
        got == h.expectedObsLedger)
      check("obs ledger rows not all ingested=true")(ledger.forall(_.getBoolean(3)))
      val malformed = h.placed.values.filter(_.kind == "malformed").map(_.name).toSet
      check(s"malformed file ledgered")(malformed.nonEmpty && !got.exists(g => malformed(g._1)))

      val mledger = store.modelLedger.select(col("model_run_id"), col("file_name"),
        date_format(col("processing_datetime"), "yyyy-MM-dd HH:mm:ss")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      check(s"model ledger has ${mledger.length} rows, oracle ${h.modelLedger.size}")(
        mledger.length == h.modelLedger.size && mledger.toSet == h.modelLedger.toSet)

      val model = store.modelData
        .join(store.modelSource.select("source_id", "station_id", "data_source", "source_instance"), "source_id")
        .join(store.stations.select("station_id", "station_name", "location_type"), "station_id")
        .select(col("location_type"), col("station_name"), hourOf("timemark"), hourOf("time"),
          coalesce(col("water_level"), col("wave_height")), col("data_source"), col("source_instance"))
        .collect()
      check(s"model fact holds ${model.length} rows, oracle ${h.modelFact.size}")(model.length == h.modelFact.size)
      val modelBad = model.count { r =>
        r.getString(5) != ModelDataSource || r.getString(6) != Instance ||
          h.modelFact.get((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
            .forall { case (_, v) => r.isNullAt(4) || r.getDouble(4) != v }
      }
      check(s"$modelBad model fact rows disagree with the rerun oracle")(modelBad == 0)

      val rolled = store.rollupDailyTable.agg(sum(col("n"))).collect()(0)
      check(s"rollup covers ${rolled.get(0)} rows, fact ${obs.length}")(
        !rolled.isNullAt(0) && rolled.getLong(0) == obs.length)
    } catch {
      case scala.util.control.NonFatal(e) => check(s"gate threw $e")(ok = false)
    } finally tracer.enabled = wasOn
  }

  // ---- store figures ------------------------------------------------------

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Live store bytes: fact files the current snapshots reference plus
    * the fact logs and every other table of the store. */
  def liveStoreBytes(root: Path): Long = {
    val facts = Seq("gauge_data", "model_data")
    val live = facts.map { t =>
      val tab = new SnapshotTable(spark, root.resolve(t).toString)
      (if (tab.currentVersion > 0) tab.files().map(f =>
        Files.size(Paths.get(new java.net.URI(f)))).sum else 0L) +
        dirBytes(root.resolve(t).resolve("_log"))
    }.sum
    val others = Files.list(root).toArray.map(_.asInstanceOf[Path])
      .filterNot(p => facts.contains(p.getFileName.toString)).map(dirBytes).sum
    live + others
  }

  def snapshotFigures(root: Path): Map[String, Double] = {
    val path = root.resolve("gauge_data").toString
    val t0 = now()
    val files = new SnapshotTable(spark, path).files()
    val cold = secsSince(t0)
    Map("snapshot.log_versions" -> new SnapshotTable(spark, path).currentVersion.toDouble,
      "snapshot.live_files" -> files.size.toDouble,
      "snapshot.cold_replay_s" -> cold)
  }

  // ---- workloads ----------------------------------------------------------

  val storeRoot: Path = work.resolve("store")
  var harvest: HarvestSet = _

  private def newHarvest(stations: Int): HarvestSet = {
    val h = new HarvestSet(work.resolve("harvest-root"), stations)
    h.init()
    h
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Lands the backfill harvest into a fresh directory and runs the
    * ingest CLI over a cold store: SequenceIngest, each model run, the
    * rollup. Returns (ingest time, data rows, cycle time). */
  private def backfillPass(z: Sizes, contentSeed: Long, asOp: Boolean): (Timed, Long, Timed) = {
    deleteTree(work)
    harvest = newHarvest(z.stations)
    harvest.landBackfill(z.obsFiles, z.runs, z.rerun, contentSeed)
    val store = openStore(storeRoot)
    seedStations(store, harvest)
    val catalog = IngestCli.loadCatalog(spark, harvest.catalogFile.toString)
    val nowHour = harvest.ledgered.values.map(_.tm).max + 1
    def pass() = {
      val steal = new StealMeter
      val (s, rows) = ingestPending(store, harvest, catalog, nowHour)
      val cycleS = s + rollup(store)
      val share = steal.share()
      (Timed(s, share), rows, Timed(cycleS, share))
    }
    if (asOp) op("op.backfill")(pass()) else pass()
  }

  /** Restores the prepared base store into `work` and rebuilds its
    * oracle state; returns the store and catalog. */
  private def restoreBase(): (GaugeStore, Seq[SourceMeta]) = {
    val b = base.getOrElse(sys.error("--base is required"))
    require(Files.isDirectory(b.resolve("store")), s"no prepared base store in $b")
    deleteTree(work)
    copyTree(b, work)
    harvest = new HarvestSet(work.resolve("harvest-root"), baseSizes.stations)
    harvest.landBackfill(baseSizes.obsFiles, baseSizes.runs, baseSizes.rerun, BaseSeed, land = false)
    harvest.ingested()
    (openStore(storeRoot), IngestCli.loadCatalog(spark, harvest.catalogFile.toString))
  }

  /** Setup seconds, net of steal and raw wall: session start plus the
    * median of three restores (cheap, so repeated). */
  private def restoreSetup(): (GaugeStore, Seq[SourceMeta], Double, Double) = {
    val timed = (0 until 3).map(_ => Timed.of(restoreBase()))
    val (store, catalog) = timed.last._1
    (store, catalog, session.net + Stats.median(timed.map(_._2.net)),
      session.wall + Stats.median(timed.map(_._2.wall)))
  }

  /** One cycle: lands one new file for each of `srcs` (plus, on
    * `redrop`, a re-dropped already ledgered file name) and, on `run`,
    * one model run and a rerun, with a new processing stamp, of the
    * run one cycle earlier; then SequenceIngest, modelRunIngest (the
    * rerun goes through the rerun repair) and rollupDaily. Returns
    * (ingest time, rows, cycle time). */
  private def cycle(store: GaugeStore, catalog: Seq[SourceMeta], tm: Long,
      srcs: Seq[Int], redrop: Boolean, run: Boolean): (Timed, Long, Timed) = {
    val h = harvest
    srcs.foreach(src => h.dropObs(ObsFile(src, tm, "data", seed)))
    if (redrop) {
      val old = h.ledgered.values.filter(f => f.kind == "data" && f.tm < tm).toIndexedSeq
      val f = old((hash(seed, 90, tm) & Int.MaxValue).toInt % old.size)
      h.dropObs(f.copy(gen = f.gen + 1))
    }
    if (run) {
      h.dropRun(ModelRun(tm, 0, seed))
      val prev = h.runs(tm - FileEvery)
      h.dropRun(ModelRun(prev.tm, prev.gen + 1, seed))
    }
    val steal = new StealMeter
    val (s, rows) = ingestPending(store, h, catalog, tm + 1)
    val cycleS = s + rollup(store)
    val share = steal.share()
    (Timed(s, share), rows, Timed(cycleS, share))
  }

  /** Reads by one client in a closed loop, with their latencies. */
  final class Reads {
    val done = mutable.ArrayBuffer[(Req, String, Timed)]()
    def serve(store: GaugeStore, r: Req): String = {
      val (out, t) = handle(store, r)
      done += ((r, out, t))
      out
    }
    def ms: Seq[Double] = done.map(_._3.net * 1e3).toSeq
    def wallMs: Seq[Double] = done.map(_._3.wall * 1e3).toSeq
    def report(): Unit = {
      timing("cycle_serve_p50_ms", Stats.median(ms), Stats.median(wallMs), "ms")
      timing("serve_p50_ms", Stats.median(ms), Stats.median(wallMs), "ms")
      // closed loop, one client: back-to-back requests, so the rate is
      // the count over the summed latencies
      timing("serve_rps", done.size / (ms.sum / 1e3), done.size / (wallMs.sum / 1e3), "req/s")
    }
  }

  def run(): Boolean = {
    workload match {
      case "prepare" => prepare()
      case "backfill" => backfill()
      case "cron" => cron()
      case "serve" => serve()
    }
    val steal = runSteal.share()
    log(f"host CPU steal over the run: ${steal * 100}%.1f%%")
    rawWall("host.steal_share") = steal
    if (workload != "prepare") metric("store_bytes_per_input_byte",
      liveStoreBytes(storeRoot).toDouble / harvest.ingestedBytes, "ratio")
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val layer = Layers.compute(tracer, listener, traced.toMap,
        snapshotFigures(storeRoot) + ("host.steal_share" -> steal))
      metrics.clear()
      Layers.metrics.foreach { case (k, u) => metric(k, layer(k), u) }
      val out = work.getParent.resolveSibling("traces")
      Files.createDirectories(out)
      Files.write(out.resolve(s"$workload-$seed.jsonl"),
        Layers.spansJsonl(tracer, listener).getBytes("UTF-8"))
    }
    failed == 0
  }

  /** End-to-end figures measured under tracing, reported beside the
    * per-layer metrics so the overhead reads against an untraced run. */
  private val traced = mutable.LinkedHashMap[String, Double]()

  /** The base store cron and serve restore: the backfill path over a
    * backfill-shaped harvest of content seed [[BaseSeed]], checked. */
  def prepare(): Unit = {
    backfillPass(baseSizes, BaseSeed, asOp = false)
    gate(openStore(storeRoot), harvest)
  }

  /** Cold store, one SequenceIngest over the whole backfill harvest,
    * the model runs and their rerun, the rollup; then a seeded sample
    * of reads over the fresh store. */
  def backfill(): Unit = {
    val (ingestS, rows, cycleS) = backfillPass(backfillSizes, seed, asOp = true)
    // setup: session start plus the median of three harvest landings
    val gens = (0 until 3).map { i =>
      Timed.of {
        val h = new HarvestSet(work.resolve(s"landing-$i"), backfillSizes.stations)
        h.init()
        h.landBackfill(backfillSizes.obsFiles, backfillSizes.runs, backfillSizes.rerun, seed)
      }._2
    }
    (0 until 3).foreach(i => deleteTree(work.resolve(s"landing-$i")))
    val store = openStore(storeRoot)
    val reads = new Reads
    val gen = new RequestGen(harvest, 1)
    (0 until backfillReads).foreach(_ => reads.serve(store, gen.next()))
    reads.done.foreach { case (r, out, _) => verify(r, out) }
    gate(store, harvest)
    timing("setup_s", session.net + Stats.median(gens.map(_.net)),
      session.wall + Stats.median(gens.map(_.wall)), "s")
    timing("ingest_rows_per_s", rows / ingestS.net, rows / ingestS.wall, "rows/s")
    timing("cycle_p50_s", cycleS.net, cycleS.wall, "s")
    reads.report()
    traced("trace.cycle_p50_s") = cycleS.net
    traced("trace.serve_p50_ms") = Stats.median(reads.ms)
  }

  private val obsSources = sources.indices.filter(_ != Quarantine)

  /** Setup restores the base store (built through the backfill path,
    * rerun included). Each cycle lands one new file per source, re-drops
    * an already ledgered file name, lands one model run and reruns the
    * previous one; runs SequenceIngest, modelRunIngest and rollupDaily;
    * then reads the window just ingested — obs and allparms for four
    * stations that reported in the new file, the new run's forecast for
    * one and the rerun's for another — and checks the new rows are
    * served. Processed files stay in the
    * harvest directory. A run's first cycle pays a cold JIT, as each
    * cron invocation of the CLI's fresh JVM does. */
  def cron(): Unit = {
    val (store, catalog, setupS, setupWall) = restoreSetup()
    val h = harvest
    val gen = new RequestGen(h, 1)
    val cycles = mutable.ArrayBuffer[(Timed, Long, Timed)]()
    val reads = new Reads
    var tm = h.ledgered.values.filter(_.kind == "data").map(_.tm).max
    val t0 = now()
    var c = 0
    while (c < minCronCycles || secsSince(t0) < seconds) {
      tm += FileEvery
      op("op.cycle") {
        cycles += cycle(store, catalog, tm, obsSources, redrop = true, run = true)
        val src = obsSources(c % obsSources.size)
        val fresh = (0 until h.stations).map(stationName(sources(src).locType, _))
          .filter(st => h.obsFact.get((src, st, tm)).exists(_._1 == tm))
        val lo = tm - FileHours + 1
        val picked = (0 until cronReadStations).map(i =>
          fresh((hash(seed, 92, c, i) & Int.MaxValue).toInt % fresh.size))
        val rs = picked.flatMap(st => Seq(gen.obs(st, lo, tm), gen.allParms(st, lo, tm))) ++
          Seq(gen.forecast(picked(0), tm), gen.forecast(picked(1), tm - FileEvery))
        rs.foreach { r =>
          val out = reads.serve(store, r)
          verify(r, out)
          if (r.op == "obs" || r.op == "allparms")
            check(s"cron ${r.op} read of ${r.params("station")} missed the new rows at ${spaced(tm)}")(
              out.contains("\"time_stamp\":\"" + spaced(tm) + "\""))
        }
      }
      c += 1
    }
    gate(store, h)
    val (ingestS, rows, cycleS) = cycles.sortBy(_._3.net).apply((cycles.size + 1) / 2 - 1)
    timing("setup_s", setupS, setupWall, "s")
    timing("ingest_rows_per_s", rows / ingestS.net, rows / ingestS.wall, "rows/s")
    timing("cycle_p50_s", cycleS.net, cycleS.wall, "s")
    reads.report()
    traced("trace.cycle_p50_s") = cycleS.net
    traced("trace.serve_p50_ms") = Stats.median(reads.ms)
  }

  /** Setup restores the base store and runs one light cycle on it with
    * this seed's content (one new tidal file, no model run); then one
    * client sends the seeded request mix in a closed loop until the
    * time budget and [[Main.minServeRequests]] are both spent. */
  def serve(): Unit = {
    val (store, catalog, restoreS, restoreWall) = restoreSetup()
    val tm = harvest.ledgered.values.filter(_.kind == "data").map(_.tm).max + FileEvery
    val (ingestS, rows, cycleS) = cycle(store, catalog, tm, Seq(0), redrop = false, run = false)
    val h = harvest
    val gen = new RequestGen(h, 3)
    val reads = new Reads
    val t0 = now()
    while (reads.done.size < minServeRequests || secsSince(t0) < seconds) {
      val r = gen.next()
      op("op.request")(reads.serve(store, r))
    }
    reads.done.foreach { case (r, out, _) => verify(r, out) }
    gate(store, h)
    timing("setup_s", restoreS + cycleS.net, restoreWall + cycleS.wall, "s")
    timing("ingest_rows_per_s", rows / ingestS.net, rows / ingestS.wall, "rows/s")
    timing("cycle_p50_s", cycleS.net, cycleS.wall, "s")
    reads.report()
    traced("trace.cycle_p50_s") = cycleS.net
    traced("trace.serve_p50_ms") = Stats.median(reads.ms)
  }

  private def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** The timing metrics computed from raw wall times, and the host
    * steal share they are net of: the line printed before the result. */
  def rawWallJson: String =
    rawWall.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("""{"raw_wall":{""", ",", "}}")

  def resultJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val fails = failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("\\p{Cntrl}", " ") + "\"").mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":[$fails],"metrics":{$ms}}"""
  }
}
