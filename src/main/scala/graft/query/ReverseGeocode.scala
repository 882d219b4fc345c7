package graft.query

import graft.core.Geo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bulk REVERSE geocode — nearest POI per coordinate, the inverse of
  * the forward path and the other half of the geocoding surface a
  * pipeline needs (attach a place to every event/photo location). The
  * reference is forward-only; this is a declared extension
  * (SURVEY §2.8).
  *
  * Scale shape: NO cross join. POIs land in `cellDeg`-degree grid
  * cells; each query point probes its 3×3 neighborhood, so the join is
  * an EQUALITY join on (cell_lat, cell_lon) and per-query work is
  * bounded by the POI density of nine cells, independent of corpus
  * size. The search is therefore bounded-radius by construction: a
  * query whose 3×3 neighborhood is empty yields NO row (the contract —
  * callers widen `cellDeg` or fall back for the sparse tail), and a
  * returned hit is the true nearest only when the nearest POI lies
  * within one cell width; at one degree (~111 km) that covers any
  * urban-density corpus.
  *
  * Determinism: ranking compares the distance ROUNDED to 6 decimals
  * (half-away-from-zero on both engines) with an osm_id tiebreak, so a
  * last-ulp trig difference between engines can never flip the argmin.
  *
  * Antimeridian caveat: cells do not wrap at ±180° — a production
  * deployment duplicates POIs within `cellDeg` of the seam into
  * wrapped cells (one extra narrow projection); fixture longitudes
  * stay clear of it.
  */
object ReverseGeocode {

  /** `points`: (qid, lat, lon). `pois`: (osm_id, lat, lon, ...).
    * Returns (qid, osm_id, dist_km) — the nearest POI within the 3×3
    * cell neighborhood, one row per query that has one. */
  def nearest(points: DataFrame, pois: DataFrame,
              cellDeg: Double = 1.0): DataFrame = {
    require(cellDeg > 0, s"cellDeg must be positive, got $cellDeg")
    val pcell = pois.select(
      col("osm_id"), col("lat").as("p_lat"), col("lon").as("p_lon"),
      floor(col("lat") / cellDeg).cast("long").as("cell_lat"),
      floor(col("lon") / cellDeg).cast("long").as("cell_lon"))
    val offsets = array((-1 to 1).map(lit): _*)
    val probes = points
      .select(col("qid"), col("lat").as("q_lat"), col("lon").as("q_lon"))
      .withColumn("dx", explode(offsets))
      .withColumn("dy", explode(offsets))
      .select(col("qid"), col("q_lat"), col("q_lon"),
        (floor(col("q_lat") / cellDeg).cast("long") + col("dx")).as("cell_lat"),
        (floor(col("q_lon") / cellDeg).cast("long") + col("dy")).as("cell_lon"))
    // NOTE on width: the haversine + ranking run at the PROBE side's
    // partitioning (the join broadcasts or co-shuffles; the partial
    // WindowGroupLimit prunes below the window exchange). A caller
    // whose points relation is narrow relative to its cluster — e.g. a
    // bounded query window on a one-row-group fixture file, as in
    // g12/g13, the only callers — should hash-partition `points` by qid
    // first: the explode and broadcast join preserve that distribution,
    // so the ranking window reuses it (no extra exchange) and the
    // CPU-bound trig runs wide. Done in the caller, NOT here: at corpus
    // scale the scan is already wide, and an unconditional repartition
    // above the join would either be discarded by a co-shuffled join or
    // move candidate rows a second time (measured as the round-19
    // rejected variant). Serving does not come through here: it
    // ranks with the scalar twin of this plan ([[graft.core.Nearest]])
    // over a persisted cell index ([[ScoutEngine.reverse]]).
    probes.join(pcell, Seq("cell_lat", "cell_lon"))
      .withColumn("dist_km",
        round(Geo.haversineKm(col("q_lat"), col("q_lon"),
          col("p_lat"), col("p_lon")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("dist_km").asc, col("osm_id").asc)))
      .filter(col("rk") === 1)
      .select(col("qid"), col("osm_id"), col("dist_km"))
  }

  /** Density-derived cell size: a pinned `cellDeg` tuned for a sparse
    * world map degrades on a dense-city POI cloud — every query in the
    * city joins every POI in it (per-cell all-pairs), and per-query
    * work grows with the corpus instead of staying flat. Here the cell
    * edge is computed FROM the POI distribution so expected occupancy
    * stays ~`targetPerCell` however dense the corpus:
    * `cellDeg = sqrt(bbox_area * target / n)`, clamped to
    * [minCellDeg, maxCellDeg].
    *
    * One tiny aggregate (count + lat/lon min/max — partial-agg, no
    * shuffle of the corpus) feeds a driver-side scalar; min/max/count
    * are exact and order-free, so the derived cell size — and therefore
    * the result set — is deterministic for a given corpus. The
    * bounded-radius contract now scales with density: hits are nearest
    * within one DERIVED cell width, misses mean "nothing within ~a cell
    * of typical POI spacing". A uniform-ish corpus derives one cell
    * size; pathological skew (half the world sparse, one city dense)
    * still bounds per-query work by the dense cells' occupancy — the
    * bbox shrinks no further than the full spread, so extreme mixes
    * deserve a per-region partition before this call (documented, not
    * solved here). SCALE.md's round-7 reverse-geocode density probe
    * records both shapes. */
  def nearestAuto(points: DataFrame, pois: DataFrame,
                  targetPerCell: Long = 64,
                  minCellDeg: Double = 0.01,
                  maxCellDeg: Double = 10.0): DataFrame =
    nearest(points, pois,
      deriveCellDeg(pois, targetPerCell, minCellDeg, maxCellDeg))

  /** The density-derived cell size alone — factored out of
    * [[nearestAuto]] so the serving routes ([[ScoutEngine.reverse]])
    * derive the SAME cell from the same aggregate, once per snapshot.
    * Deterministic per corpus: count/min/max are exact and order-free. */
  def deriveCellDeg(pois: DataFrame,
                    targetPerCell: Long = 64,
                    minCellDeg: Double = 0.01,
                    maxCellDeg: Double = 10.0): Double = {
    require(targetPerCell > 0 && minCellDeg > 0 && maxCellDeg >= minCellDeg,
      s"bad auto-cell bounds: target=$targetPerCell, [$minCellDeg, $maxCellDeg]")
    // gazetteer POI tables carry null lat/lon rows (nearest() tolerates
    // them — null cells never join); counting them here while min/max
    // skips them would overestimate density and undersize the cell, and
    // an all-null corpus would crash the getDouble reads below
    val located = pois.filter(col("lat").isNotNull && col("lon").isNotNull)
    val st = located.agg(
      count(lit(1)).as("n"),
      min(col("lat").cast("double")).as("lat0"),
      max(col("lat").cast("double")).as("lat1"),
      min(col("lon").cast("double")).as("lon0"),
      max(col("lon").cast("double")).as("lon1")).head()
    val n = st.getLong(0)
    if (n == 0) maxCellDeg // no POIs: any cell size yields zero rows
    else {
      val area = (st.getDouble(2) - st.getDouble(1)) *
        (st.getDouble(4) - st.getDouble(3))
      // zero-area corpus (single point / a line): fall to minCellDeg —
      // co-located POIs share a cell at ANY size, no knob helps
      if (area <= 0) minCellDeg
      else math.min(maxCellDeg,
        math.max(minCellDeg, math.sqrt(area * targetPerCell / n)))
    }
  }
}
