package graft.domain

import graft.util.Json
import scala.jdk.CollectionConverters._

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
  * Scale: each request reads ONLY the fact files its time range prunes
  * to (`gaugeDataForRange` / `modelDataForTimemark`), so request cost
  * is window-bounded no matter how large the store grows. The station
  * and source dims are broadcast into that scan but read from disk once
  * per on-disk version: the store keys them on their dir's sorted
  * (name, length, mtime) data-file listing — one metadata call per
  * request — and every dim writer lays down new uniquely named part
  * files, so a rewrite by another process (a cron ingest) is seen on
  * the next request without any invalidation hook.
  */
object QueryServe {

  /** Flat-object request parse: string values only (the request
    * contract above), standard JSON escapes decoded.
    *
    * Strict about what it does NOT understand: nested objects, numeric
    * or bare values, trailing junk and duplicate keys REJECT the
    * request instead of silently dropping or overriding keys — a
    * dropped parameter would serve a wrong-but-plausible answer, which
    * violates the "never lies" half of the serving contract. */
  private[domain] def parse(line: String): Map[String, String] = {
    def reject(why: String) = throw new IllegalArgumentException(
      s"unparseable request content (flat string-valued JSON only): $why")
    val node =
      try Json.mapper.readTree(line)
      catch { case e: com.fasterxml.jackson.core.JsonProcessingException =>
        reject(e.getOriginalMessage) }
    if (!node.isObject) reject(s"not a JSON object: '$line'")
    node.properties.asScala.map { e =>
      if (!e.getValue.isTextual) reject(s"'${e.getKey}' is not a string")
      e.getKey -> e.getValue.textValue
    }.toMap
  }

  private def jsonError(msg: String): String =
    Json.mapper.writeValueAsString(Map("error" -> msg))

  /** One request → one JSON line; throws on a bad request. The CLI's
    * one-shot query tasks call this directly. */
  def answer(store: GaugeStore, req: Map[String, String]): String = {
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
        // A negative horizon would empty the window and answer a
        // plausible-looking `null`, so it is rejected like a non-integer.
        val horizonDays = req.get("horizonDays").fold(35) { h =>
          h.toIntOption.filter(_ >= 0).getOrElse(sys.error(
            s"'horizonDays' must be a non-negative integer, got '$h'"))
        }
        val df = QueryApi.nowcastTimeseriesStationData(
          store.modelDataForRange(p("start"), p("end"), horizonDays),
          store.modelSource, store.stations,
          p("station"), p("start"), p("end"),
          p("dataSource"), p("instance"))
        QueryApi.jsonAgg(df, "time_stamp",
          df.columns.filterNot(_ == "time_stamp").toSeq)
      case other => sys.error(s"unknown op '$other'")
    }
  }

  /** [[answer]] that never throws on request-level errors: they answer
    * `{"error":...}`. Fatal JVM errors (OOM, linkage) propagate —
    * serving from a possibly-corrupt session would be the "lies"
    * failure mode. */
  def handle(store: GaugeStore, req: Map[String, String]): String =
    try answer(store, req)
    catch { case scala.util.control.NonFatal(e) =>
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
