package graft.domain

/** Long-running serving loop for the §3.3 read path — the engine-side
  * equivalent of the reference's Django-REST endpoints over the serving
  * views and crosstab functions (`/root/reference/README.md:151-166`,
  * `scripts/get_obs_timeseries_station_data.sql`): one JSON request per
  * stdin line, one JSON response per stdout line. Deliberately NOT a
  * web framework (out of engine scope — any sidecar can adapt lines to
  * HTTP); the value is a warm SparkSession serving repeated reads
  * without per-query JVM/session startup.
  *
  * Request: a flat JSON object, `op` plus the op's parameters, e.g.
  * `{"op":"get_obs_timeseries_station_data","station":"Eastport",
  * "start":"2023-04-23T00:00:00","end":"2023-04-24T00:00:00"}`.
  * Response: the same JSON array the reference API returns (the
  * JSON_AGG contract), or `{"error":"..."}`; the loop never dies on a
  * bad request. Blank line or `quit` ends the session.
  *
  * Scale: dims stay broadcast; each request reads ONLY the fact
  * files its time range prunes to (`gaugeDataForRange` /
  * `modelDataForTimemark`), so request cost is window-bounded no matter
  * how large the store grows.
  */
object QueryServe {

  /** Minimal flat-object JSON parse (string values only — the request
    * contract above). No JSON library on the zero-egress classpath;
    * escaped quotes/backslashes in values are unescaped.
    *
    * Strict about what it does NOT understand: any residue beyond the
    * `"k":"v"` pairs and object punctuation (nested objects, numeric
    * or bare values, trailing junk) REJECTS the request instead of
    * silently dropping keys — a dropped parameter would serve a
    * wrong-but-plausible answer, which violates the "never lies" half
    * of the serving contract. */
  private val PairRe = """"((?:[^"\\]|\\.)+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r

  private[domain] def parse(line: String): Map[String, String] = {
    val pairs = PairRe.findAllMatchIn(line).map { m =>
      def un(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
      un(m.group(1)) -> un(m.group(2))
    }.toList
    val residue = PairRe.replaceAllIn(line,
      java.util.regex.Matcher.quoteReplacement(""))
      .replaceAll("[\\s{},]", "")
    require(residue.isEmpty,
      s"unparseable request content (flat string-valued JSON only): '$residue'")
    // duplicate keys would silently resolve last-wins through toMap —
    // {"station":"A","station":"B"} answering with B's data is exactly
    // the wrong-but-plausible response the strict parse exists to stop
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate request key(s): ${dups.mkString(", ")}")
    pairs.toMap
  }

  private def jsonError(msg: String): String =
    "{\"error\":\"" + msg.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("\\p{Cntrl}", " ") + "\"}"

  /** One request → one JSON line. Never throws on request-level
    * errors; fatal JVM errors (OOM, linkage) propagate — serving from
    * a possibly-corrupt session would be the "lies" failure mode. */
  def handle(store: GaugeStore, req: Map[String, String]): String =
    try {
      def p(k: String) = req.getOrElse(k, sys.error(s"missing '$k'"))
      req.getOrElse("op", sys.error("missing 'op'")) match {
        case "get_obs_timeseries_station_data" =>
          QueryApi.obsTimeseriesStationDataJson(
            store.gaugeDataForRange(p("start"), p("end")),
            store.gaugeSource, store.stations,
            p("station"), p("start"), p("end"))
        case "get_obs_timeseries_station_data_allparms" =>
          QueryApi.obsTimeseriesStationDataAllParmsJson(
            store.gaugeDataForRange(p("start"), p("end")),
            store.gaugeSource, store.stations,
            p("station"), p("start"), p("end"), p("nowcastSource"))
        case "get_forecast_timeseries_station_data" =>
          val df = QueryApi.forecastTimeseriesStationData(
            store.modelDataForTimemark(p("timemark").replace("T", " ")),
            store.modelSource, store.stations,
            p("station"), p("timemark"), p("maxEnd"),
            p("dataSource"), p("instance"))
          QueryApi.jsonAgg(df, "time_stamp",
            df.columns.filterNot(_ == "time_stamp").toSeq)
        case "get_nowcast_timeseries_station_data" =>
          // run-day-pruned scan: a nowcast row's run timemark sits
          // within the horizon of its `time` (nowcast segments are
          // emitted at their own run's clock), so only files near
          // [start, end] can contribute — never the whole run history.
          // The silent-pruning CONTRACT and the 35-day default live on
          // SnapshotGaugeStore.modelDataForRange; requests override per call.
          val df = QueryApi.nowcastTimeseriesStationData(
            store.modelDataForRange(p("start"), p("end"),
              req.getOrElse("horizonDays", "35").toInt),
            store.modelSource, store.stations,
            p("station"), p("start"), p("end"),
            p("dataSource"), p("instance"))
          QueryApi.jsonAgg(df, "time_stamp",
            df.columns.filterNot(_ == "time_stamp").toSeq)
        case other => sys.error(s"unknown op '$other'")
      }
    } catch { case scala.util.control.NonFatal(e) =>
      jsonError(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }

  /** The serve loop, I/O-abstracted so specs drive it directly. A
    * parse rejection answers `{"error":...}` like any other bad
    * request — the loop never dies. */
  def serve(store: GaugeStore, in: Iterator[String],
      out: String => Unit): Unit =
    in.map(_.trim).takeWhile(l => l.nonEmpty && l != "quit")
      .foreach { line =>
        out(try handle(store, parse(line))
        catch { case scala.util.control.NonFatal(e) =>
          jsonError(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
        })
      }
}
