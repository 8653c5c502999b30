package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Seeded harvest-set generator and its exact oracle.
  *
  * The generator writes what the ingest CLI consumes and nothing else:
  * headerless station seeds (FIXTURES §4), the source catalog (§5), obs
  * harvest data files and their station meta siblings (§1/§2), and
  * ADCIRC model run directories (§3). Every byte is a pure function of
  * the seed and the file's coordinates, so the same seed yields
  * byte-identical files.
  *
  * The oracle is the same functions read the other way: it knows which
  * value every (source, station, time) must hold after keep-latest, which
  * ledger rows each file must produce, which model rows survive a rerun,
  * and therefore what every served JSON array must be.
  */
object Harvest {

  val Base: LocalDateTime = LocalDateTime.of(2024, 3, 1, 0, 0)
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val nameFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH_mm_ss")
  private val spaceFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Hours since [[Base]] → ISO / file-name / served renderings. */
  def iso(h: Long): String = Base.plusHours(h).format(isoFmt)
  def nameTs(h: Long): String = Base.plusHours(h).format(nameFmt)
  def spaced(h: Long): String = Base.plusHours(h).format(spaceFmt)

  final case class Source(dataSource: String, sourceName: String,
      archive: String, variable: String, prefix: String,
      locType: String, units: String)

  /** The catalog: a tidal and an ocean source (the tidal one with
    * station meta siblings), plus a source that only ever receives the
    * malformed file — its batch fails and falls back to per-file ingest
    * on every run, as a stuck bad file does in production. Model runs
    * cover all four location types. */
  val sources: IndexedSeq[Source] = IndexedSeq(
    Source("tidal_gauge", "noaa", "noaa", "water_level",
      "noaa_stationdata_water_level", "tidal", "m"),
    Source("ocean_buoy", "ndbc", "ndbc", "wave_height",
      "ndbc_stationdata_wave_height", "ocean", "m"),
    Source("air_barometer", "ndbc", "ndbc", "air_pressure",
      "ndbc_stationdata_air_pressure", "ocean", "mb"))
  /** Index of the source that only holds the malformed file. */
  val Quarantine: Int = 2
  /** Sources whose data files get a station meta sibling (§2). */
  val WithMeta: Set[Int] = Set(0)

  val locTypes: IndexedSeq[String] = IndexedSeq("tidal", "coastal", "river", "ocean")
  /** ADCIRC station type of each location type (runModelIngest.py switch). */
  val stationType: Map[String, String] = Map(
    "tidal" -> "NOAASTATIONS", "coastal" -> "CONTRAILSCOASTAL",
    "river" -> "CONTRAILSRIVERS", "ocean" -> "NDBCBUOYS")

  def stationName(locType: String, i: Int): String = locType match {
    case "tidal" => (8700000 + 7 * i).toString
    case "coastal" => f"COAST$i%04d"
    case "river" => f"RIVER$i%04d"
    case _ => (41000 + i).toString
  }

  /** Model run constants (one synoptic ensemble on one grid). */
  val Ensemble = "gfsforecast"
  val Grid = "ec95d"
  val Instance = "ec95d_gfs"
  val Metclass = "synoptic"
  val ModelDataSource: String = s"${Ensemble}_$Grid".toUpperCase
  val FileHours = 12      // hours covered by one obs file
  val FileEvery = 6       // hours between obs files
  val ForecastHours = 12  // forecast segment [T, T+11]
  val NowcastHours = 6    // nowcast segment [T-6, T-1]

  // ---- deterministic randomness ------------------------------------

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))
  /** Uniform in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
  /** A two-decimal value in [0.10, 9.99]: exact as CSV text and as a
    * parsed double, so served JSON compares exactly. */
  def value2(h: Long): Double = (10 + java.lang.Math.floorMod(h, 990L)) / 100.0

  // ---- obs ---------------------------------------------------------

  /** One obs data file: its source, timemark hour, kind, the seed of
    * its content and a content generation (a re-dropped name carries
    * the next generation). */
  final case class ObsFile(src: Int, tm: Long, kind: String, seed: Long, gen: Int = 0) {
    def name: String = s"${sources(src).prefix}_${nameTs(tm)}.csv"
    def metaName: String = name.replace("stationdata", "stationdata_meta")
  }

  /** Rows of a normal file: per station (about 5% seeded dropouts per
    * file) the [[FileHours]] hours ending at the timemark. */
  def obsRows(f: ObsFile, stations: Int): Seq[(String, Long, Double)] = {
    val s = sources(f.src)
    val seed = f.seed
    for {
      i <- 0 until stations
      if unit(hash(seed, 1, f.src, i, f.tm)) >= 0.05
      h <- (f.tm - FileHours + 1) to f.tm
    } yield (stationName(s.locType, i), h,
      value2(hash(seed, 2, f.src, i, h, f.tm, f.gen)))
  }

  def obsCsv(f: ObsFile, stations: Int): String = {
    val s = sources(f.src)
    val sb = new StringBuilder(s"TIME,STATION,${s.variable.toUpperCase}\n")
    f.kind match {
      case "header_only" => ()
      case "null_time" =>
        obsRows(f, stations).foreach { case (st, _, v) => sb.append(s",$st,$v\n") }
      case "malformed" =>
        obsRows(f, stations).take(20).foreach { case (st, h, _) =>
          sb.append(s"${iso(h)},$st,not_a_number\n") }
      case _ =>
        obsRows(f, stations).foreach { case (st, h, v) =>
          sb.append(s"${iso(h)},$st,$v\n") }
    }
    sb.toString
  }

  // ---- model -------------------------------------------------------

  /** One model run: run timemark hour, processing generation (a rerun
    * re-drops the same run directory with the next generation) and the
    * seed of its content. */
  final case class ModelRun(tm: Long, gen: Int, seed: Long) {
    def runId: String =
      s"4358-${Base.plusHours(tm).format(DateTimeFormatter.ofPattern("yyyyMMddHH"))}-$Ensemble"
    /** Processing stamp: strictly later for each generation. */
    def procStamp: String = iso(tm + 2 + gen)
  }

  def modelVariable(locType: String): String =
    if (locType == "ocean") "wave_height" else "water_level"

  /** (phase, station, time hour, value) of one run file. */
  def modelRows(r: ModelRun, locType: String, phase: String,
      stations: Int): Seq[(String, Long, Double)] = {
    val lt = locTypes.indexOf(locType)
    val seed = r.seed
    val hours =
      if (phase == "FORECAST") r.tm until r.tm + ForecastHours
      else (r.tm - NowcastHours) until r.tm
    for {
      i <- 0 until stations
      if unit(hash(seed, 3, lt, i, r.tm)) >= 0.2
      h <- hours
    } yield (stationName(locType, i), h,
      value2(hash(seed, 4, lt, i, h, r.tm, r.gen)))
  }

  // ---- writing -----------------------------------------------------

  def write(p: Path, text: String): Long = {
    Files.createDirectories(p.getParent)
    val b = text.getBytes(StandardCharsets.UTF_8)
    Files.write(p, b)
    b.length.toLong
  }

  def stationsCsv(stations: Int): String = {
    val sb = new StringBuilder
    for (lt <- locTypes; i <- 0 until stations) {
      val n = stationName(lt, i)
      sb.append(s"$n,${30 + i * 0.01},${-80 + i * 0.01},gmt,owner_$lt,Loc $n,$lt,us,nc,County$i,01$i\n")
    }
    sb.toString
  }

  def catalogCsv: String =
    "data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units\n" +
      sources.map(s => Seq(s.dataSource, s.sourceName, s.archive, s.variable,
        s.prefix, s.locType, s.units).mkString(",")).mkString("\n") + "\n"
}

/** One generated harvest directory plus the oracle state for exactly
  * the files placed in it so far. Files are placed by [[dropObs]] /
  * [[dropRun]]; [[ingested]] tells the oracle the program has consumed
  * everything placed. */
final class HarvestSet(val root: Path, val stations: Int) {
  import Harvest._

  val harvestDir: Path = root.resolve("harvest")
  val stationsFile: Path = root.resolve("stations/geom_all.csv")
  val catalogFile: Path = root.resolve("catalog.csv")

  /** Bytes and data rows placed but not yet consumed by an ingest. */
  var pendingObsBytes = 0L
  var pendingObsRows = 0L
  var pendingModelBytes = 0L
  var pendingModelRows = 0L
  /** Harvest bytes the program has consumed over the store's life. */
  var ingestedBytes = 0L
  /** Obs files placed since the last ingest that the ledger must gain. */
  val pendingObs = mutable.ArrayBuffer[ObsFile]()
  /** Model runs placed since the last ingest, in placement order. */
  val pendingRuns = mutable.ArrayBuffer[ModelRun]()
  /** Every obs file ever placed, by name (the last placement wins). */
  val placed = mutable.LinkedHashMap[String, ObsFile]()
  /** Names the oracle expects in the obs ledger (first placement). */
  val ledgered = mutable.LinkedHashMap[String, ObsFile]()
  /** Keep-latest oracle: (source, station, hour) → (timemark, value). */
  val obsFact = mutable.HashMap[(Int, String, Long), (Long, Double)]()
  /** Model oracle: (locType, station, run tm, hour) → (gen, value). */
  val modelFact = mutable.HashMap[(String, String, Long, Long), (Int, Double)]()
  /** Model ledger oracle: (runId, file, procStamp). */
  val modelLedger = mutable.LinkedHashSet[(String, String, String)]()
  /** Latest generation of each run, by run timemark. */
  val runs = mutable.LinkedHashMap[Long, ModelRun]()

  def init(): Unit = {
    write(stationsFile, stationsCsv(stations))
    write(catalogFile, catalogCsv)
    Files.createDirectories(harvestDir)
  }

  /** Places a file; with `land` off only the oracle learns of it (the
    * file is already on disk, restored with a prebuilt store). */
  def dropObs(f: ObsFile, land: Boolean = true): Unit = {
    val text = obsCsv(f, stations)
    val bytes = if (land) write(harvestDir.resolve(f.name), text)
      else text.getBytes(StandardCharsets.UTF_8).length.toLong
    val fresh = !ledgered.contains(f.name) && f.kind != "malformed"
    placed(f.name) = f
    if (fresh) {
      pendingObs += f
      ledgered(f.name) = f
      pendingObsBytes += bytes
      if (f.kind == "data") pendingObsRows += obsRows(f, stations).size
    }
    if (land && WithMeta(f.src) && f.kind == "data") {
      val s = sources(f.src)
      val names = (0 until stations).map(stationName(s.locType, _))
      write(harvestDir.resolve(f.metaName), ("STATION" +: names).mkString("\n") + "\n")
    }
  }

  def runDir(r: ModelRun): Path = harvestDir.resolve(r.runId)

  /** Bytes of a run's data files (the meta station lists excluded). */
  def runBytes(r: ModelRun): Long =
    locTypes.flatMap(lt => Seq("FORECAST", "NOWCAST").map(ph =>
      Files.size(runDir(r).resolve(s"${ph}_${stationType(lt)}.csv")))).sum

  def dropRun(r: ModelRun, land: Boolean = true): Unit = {
    for (lt <- locTypes; phase <- Seq("FORECAST", "NOWCAST")) {
      val st = stationType(lt)
      val rows = modelRows(r, lt, phase, stations)
      val text = (s"TIME,STATION,${modelVariable(lt).toUpperCase}" +:
        rows.map { case (s, h, v) => s"${iso(h)},$s,$v" }).mkString("\n") + "\n"
      pendingModelBytes +=
        (if (land) write(runDir(r).resolve(s"${phase}_$st.csv"), text)
        else text.getBytes(StandardCharsets.UTF_8).length.toLong)
      pendingModelRows += rows.size
      if (land) write(runDir(r).resolve(s"meta_${phase}_$st.csv"),
        ("STATION" +: rows.map(_._1).distinct).mkString("\n") + "\n")
    }
    pendingRuns += r
  }

  /** The program consumed every pending file: fold them into the
    * oracle. Obs values keep the latest timemark (header-only,
    * all-null-TIME and malformed files contribute no rows); a rerun's
    * model rows replace the earlier generation's. */
  def ingested(): Unit = {
    pendingObs.filter(_.kind == "data").foreach { f =>
      obsRows(f, stations).foreach { case (st, h, v) =>
        val k = (f.src, st, h)
        if (obsFact.get(k).forall(_._1 < f.tm)) obsFact(k) = (f.tm, v)
      }
    }
    pendingRuns.foreach { r =>
      for (lt <- locTypes; phase <- Seq("FORECAST", "NOWCAST")) {
        modelRows(r, lt, phase, stations).foreach { case (s, h, v) =>
          val k = (lt, s, r.tm, h)
          if (modelFact.get(k).forall(_._1 <= r.gen)) modelFact(k) = (r.gen, v)
        }
        modelLedger += ((r.runId, s"${phase}_${stationType(lt)}.csv", spacedIso(r.procStamp)))
      }
      runs(r.tm) = r
    }
    ingestedBytes += pendingObsBytes + pendingModelBytes
    pendingObs.clear(); pendingRuns.clear()
    pendingObsBytes = 0L; pendingObsRows = 0L
    pendingModelBytes = 0L; pendingModelRows = 0L
  }

  /** Lands a backfill-shaped set: `obsFiles` 12-hour files every 6 h
    * per source (so every hour sits in two files), the header-only,
    * all-null-TIME and malformed files, `runs` model runs 12 h apart
    * and, if asked, a rerun of the first with a new processing stamp.
    * With `land` off only the oracle learns of the files. */
  def landBackfill(obsFiles: Int, runs: Int, rerun: Boolean, contentSeed: Long,
      land: Boolean = true): Unit = {
    for (src <- sources.indices if src != Quarantine; k <- 0 until obsFiles)
      dropObs(ObsFile(src, FileHours + FileEvery * k, "data", contentSeed), land)
    dropObs(ObsFile(Quarantine, FileHours, "malformed", contentSeed), land)
    dropObs(ObsFile(0, FileHours + 3, "header_only", contentSeed), land)
    dropObs(ObsFile(1, FileHours + 3, "null_time", contentSeed), land)
    (0 until runs).foreach(r =>
      dropRun(ModelRun(FileHours + FileEvery * (2 * r + 1), 0, contentSeed), land))
    if (rerun) dropRun(ModelRun(FileHours + FileEvery, 1, contentSeed), land)
  }

  private def spacedIso(s: String): String = s.replace('T', ' ')

  /** Obs ledger oracle: (file, begin, end) with null bounds rendered
    * as "null" — header-only and all-null-TIME files are pre-marked. */
  def expectedObsLedger: Set[(String, String, String)] =
    ledgered.values.map { f =>
      if (f.kind != "data") (f.name, "null", "null")
      else {
        val hs = obsRows(f, stations).map(_._2)
        (f.name, spaced(hs.min), spaced(hs.max))
      }
    }.toSet
}
