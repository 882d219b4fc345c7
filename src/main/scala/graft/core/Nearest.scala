package graft.core

/** One grid cell's points as parallel columns — the unit both reverse
  * geocode serving routes scan with [[Nearest.argmin]]. */
final class GeoCell(val ids: Array[Long], val lats: Array[Double],
                    val lons: Array[Double]) extends Serializable

/** The nearest-point kernel shared by the in-process reverse fast path
  * and the reverse batch job. Its answer equals ranking every candidate
  * by haversine distance ROUNDED half-up to 6 decimals, ties to the
  * lowest id — the (`round(dist, 6)`, osm_id) order of
  * [[graft.query.ReverseGeocode.nearest]] — while rounding only the few
  * candidates that can reach the minimum. */
object Nearest {

  /** The winner: row `row` of `cells(cell)`, at the rounded `distKm`. */
  final case class Found(cell: Int, row: Int, distKm: Double)

  /** The grid cell of one coordinate — the column plan's `floor(x / c)`. */
  def cell(deg: Double, cellDeg: Double): Long = math.floor(deg / cellDeg).toLong

  /** The (cell_lat, cell_lon) keys of the 3×3 neighbourhood of a point. */
  def neighbourhood(lat: Double, lon: Double, cellDeg: Double): IndexedSeq[(Long, Long)] = {
    val kx = cell(lat, cellDeg)
    val ky = cell(lon, cellDeg)
    for { dx <- -1L to 1L; dy <- -1L to 1L } yield (kx + dx, ky + dy)
  }

  /** Spark's `round(d, 6)` on a double: HALF_UP of its shortest decimal. */
  def round6(d: Double): Double = java.math.BigDecimal.valueOf(d)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  // Rounding is monotone, and all doubles that round to one value lie
  // within one 1e-6 interval (give or take an ulp of decimal
  // conversion, ~4e-12 at the antipode). A candidate more than Slack
  // above the raw minimum therefore rounds strictly above the
  // minimum's rounding: it can neither win nor tie.
  private val Slack = 2e-6

  /** The nearest candidate of `cells` to (lat, lon), or None when they
    * hold no point at a finite distance. */
  def argmin(lat: Double, lon: Double, cells: Array[GeoCell]): Option[Found] = {
    var min = Double.PositiveInfinity
    // the candidates within Slack of the running minimum
    var n = 0
    var cs = new Array[Int](4)
    var rs = new Array[Int](4)
    var ds = new Array[Double](4)
    var c = 0
    while (c < cells.length) {
      val g = cells(c)
      var r = 0
      while (r < g.ids.length) {
        val d = Geo.haversineKm(lat, lon, g.lats(r), g.lons(r))
        if (d <= min + Slack) { // false for NaN
          if (d < min) {
            min = d
            var k = 0
            for (j <- 0 until n if ds(j) <= min + Slack) {
              cs(k) = cs(j); rs(k) = rs(j); ds(k) = ds(j); k += 1
            }
            n = k
          }
          if (n == ds.length) {
            cs = java.util.Arrays.copyOf(cs, 2 * n)
            rs = java.util.Arrays.copyOf(rs, 2 * n)
            ds = java.util.Arrays.copyOf(ds, 2 * n)
          }
          cs(n) = c; rs(n) = r; ds(n) = d; n += 1
        }
        r += 1
      }
      c += 1
    }
    if (n == 0) return None
    var best = 0
    var bestD = round6(ds(0))
    for (j <- 1 until n) {
      val d = round6(ds(j))
      if (d < bestD || (d == bestD &&
          cells(cs(j)).ids(rs(j)) < cells(cs(best)).ids(rs(best)))) {
        best = j; bestD = d
      }
    }
    Some(Found(cs(best), rs(best), bestD))
  }
}
