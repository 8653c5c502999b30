package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import Harvest._

/** Expected served JSON for every [[graft.domain.QueryServe]] op,
  * computed from a [[HarvestSet]]'s oracle state. The renderings follow
  * the serving contract: one object per time stamp, keys in pivot
  * column order, explicit nulls, arrays ordered by time stamp then by
  * the rendered object, `null` for an empty answer. */
object Oracle {

  private val mapper = new ObjectMapper()

  /** Canonical form for comparison: parsed and re-rendered, so number
    * spelling cannot cause a mismatch while key order still counts. */
  def canonical(json: String): String =
    mapper.writeValueAsString(mapper.readTree(json))

  def rowsReturned(json: String): Int = {
    val t = mapper.readTree(json)
    if (t.isArray) t.size else 0
  }

  val obsColumns: Seq[(String, String)] = Seq(
    "ocean_buoy" -> "ocean_buoy_wave_height",
    "tidal_gauge" -> "tidal_gauge_water_level",
    "tidal_predictions" -> "tidal_predictions",
    "coastal_gauge" -> "coastal_gauge_water_level",
    "river_gauge" -> "river_gauge_water_level")

  private val fixedAllParms = Set("air_barometer", "ocean_buoy", "tidal_gauge",
    "tidal_predictions", "coastal_gauge", "river_gauge", "stream_gauge",
    "wind_anemometer")

  def allParmsColumns(nowcastSource: String): Seq[(String, String)] =
    Seq("air_barometer" -> "air_barometer") ++
      (if (fixedAllParms(nowcastSource)) Nil
      else Seq(nowcastSource -> sanitize(nowcastSource))) ++ Seq(
      "ocean_buoy" -> "ocean_buoy_wave_height",
      "tidal_gauge" -> "tidal_gauge_water_level",
      "tidal_predictions" -> "tidal_predictions",
      "coastal_gauge" -> "coastal_gauge_water_level",
      "river_gauge" -> "river_gauge_water_level",
      "stream_gauge" -> "stream_gauge_stream_elevation",
      "wind_anemometer" -> "wind_anemometer")

  def sanitize(s: String): String = s.split('.').mkString

  def locTypeOf(station: String): String =
    if (station.startsWith("COAST")) "coastal"
    else if (station.startsWith("RIVER")) "river"
    else if (station.startsWith("87")) "tidal"
    else "ocean"

  private def num(v: Option[Double]): String = v.map(_.toString).getOrElse("null")

  private def array(objs: Seq[(String, String)]): String =
    if (objs.isEmpty) "null" else objs.sorted.map(_._2).mkString("[", ",", "]")

  private def obj(h: Long, cols: Seq[(String, Option[Double])]): (String, String) = {
    val ts = spaced(h)
    ts -> (s"""{"time_stamp":"$ts"""" +
      cols.map { case (c, v) => s""","$c":${num(v)}""" }.mkString + "}")
  }

  /** get_obs_timeseries_station_data / _allparms: every hour any source
    * of the station's location type holds in the window, pivoted. */
  private def pivot(h: HarvestSet, station: String, lo: Long, hi: Long,
      cols: Seq[(String, String)], measure: Int => Boolean): String = {
    val lt = locTypeOf(station)
    val srcs = sources.indices.filter(i => sources(i).locType == lt)
    val hours = (lo to hi).filter(t => srcs.exists(s => h.obsFact.contains((s, station, t))))
    array(hours.map { t =>
      obj(t, cols.map { case (cat, out) =>
        val v = srcs.find(s => sources(s).dataSource == cat && measure(s))
          .flatMap(s => h.obsFact.get((s, station, t)).map(_._2))
        out -> v
      })
    })
  }

  def obs(h: HarvestSet, station: String, lo: Long, hi: Long): String =
    pivot(h, station, lo, hi, obsColumns,
      s => Set("water_level", "wave_height")(sources(s).variable))

  def allParms(h: HarvestSet, station: String, lo: Long, hi: Long,
      nowcastSource: String): String =
    pivot(h, station, lo, hi, allParmsColumns(nowcastSource), _ => true)

  /** Model rows of one station: (run tm, hour) → value, water level only
    * (the forecast/nowcast ops serve `water_level`). */
  private def modelRows(h: HarvestSet, station: String): Seq[(Long, Long, Option[Double])] = {
    val lt = locTypeOf(station)
    h.modelFact.iterator.collect {
      case ((l, s, tm, t), (_, v)) if l == lt && s == station =>
        (tm, t, if (lt == "ocean") None else Some(v))
    }.toSeq
  }

  def forecast(h: HarvestSet, station: String, tm: Long, maxEnd: Long): String =
    array(modelRows(h, station).collect {
      case (rt, t, v) if rt == tm && t >= tm && t <= maxEnd =>
        obj(t, Seq(sanitize(ModelDataSource) -> v))
    })

  def nowcast(h: HarvestSet, station: String, lo: Long, hi: Long): String =
    array(modelRows(h, station).collect {
      case (_, t, v) if t >= lo && t <= hi => obj(t, Seq(sanitize(ModelDataSource) -> v))
    })
}
