package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Self-contained HTML heatmap writer — replaces the reference's folium sink
  * (scripts/functions.py:290-328: map + bbox outline + heat layer + legend)
  * with zero dependencies: rows render as absolutely-positioned cells on a
  * plain lat/lon canvas, colored by intensity, with the dB legend.
  *
  * This is a driver-side SINK (like any single-file writer): the DataFrame
  * is aggregated upstream; the final heatmap rows (bounded by the grid size,
  * not the input data) are collected for templating. For cluster-scale
  * output use `df.write.parquet/json/csv` instead (Noise.heatmapRows is
  * already sink-agnostic).
  */
object HeatmapHtml {

  /** Write heatmap rows (g_lat, g_lon, db, intensity) to `path`, one cell per
    * row. The rows are collected by one result job that reads every
    * partition in parallel; `spark.driver.maxResultSize` bounds what the
    * driver takes.
    */
  def write(heatRows: DataFrame, path: String): Unit = {
    val rows = heatRows.select("g_lat", "g_lon", "db", "intensity").collect()
    if (rows.isEmpty) {
      Files.writeString(Paths.get(path), "<html><body>no data</body></html>")
      return
    }
    val lats = rows.map(_.getDouble(0))
    val lons = rows.map(_.getDouble(1))
    val (laMin, laMax) = (lats.min, lats.max)
    val (loMin, loMax) = (lons.min, lons.max)
    val w = 900.0
    val h = 700.0
    def x(lon: Double) = (lon - loMin) / math.max(loMax - loMin, 1e-9) * (w - 10)
    def y(lat: Double) = (1.0 - (lat - laMin) / math.max(laMax - laMin, 1e-9)) * (h - 10)
    val cells = rows.map { r =>
      val inten = math.min(math.max(r.getDouble(3), 0.0), 1.0)
      val hue = (240 * (1 - inten)).toInt // blue → red
      f"<div class=c style='left:${x(r.getDouble(1))}%.1fpx;top:${y(r.getDouble(0))}%.1fpx;" +
        f"background:hsla($hue%d,90%%,50%%,0.55)' title='${r.getDouble(2)}%.2f dB'></div>"
    }.mkString("\n")
    val html =
      s"""<!doctype html><html><head><meta charset="utf-8"><style>
         |#map{position:relative;width:${w.toInt}px;height:${h.toInt}px;background:#111;border:1px solid #888}
         |.c{position:absolute;width:8px;height:8px;border-radius:2px}
         |#legend{font:12px sans-serif;margin-top:8px}
         |.sw{display:inline-block;width:14px;height:14px;vertical-align:middle;margin:0 4px}
         |</style></head><body>
         |<div id=map>$cells</div>
         |<div id=legend>ground noise dB (intensity = dB/130):
         |<span class=sw style="background:hsl(240,90%,50%)"></span>low
         |<span class=sw style="background:hsl(120,90%,50%)"></span>mid
         |<span class=sw style="background:hsl(0,90%,50%)"></span>high
         |&nbsp; bbox: [$laMin, $loMin] – [$laMax, $loMax]</div>
         |</body></html>""".stripMargin
    Files.writeString(Paths.get(path), html)
  }
}
