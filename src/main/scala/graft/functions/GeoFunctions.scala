package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial column functions replacing the reference's PostGIS surface.
  *
  * The reference uses PostGIS only narrowly: geodesic distance between a
  * station point and a postal-polygon centroid, a 50 km radius predicate,
  * and KNN ordering (reference `src/transformation/aggregation.py:92-110`,
  * `sql/schema.sql:357-385`). Centroids are precomputed at load; distance
  * is haversine on the WGS84 mean radius — pure `functions._` expression
  * trees, so the whole thing stays inside whole-stage codegen (no UDF).
  */
object GeoFunctions {

  /** WGS84 mean earth radius in km (IUGG R1). */
  val EarthRadiusKm = 6371.0088

  /** Great-circle distance in km between (lat1,lon1) and (lat2,lon2),
    * degrees in, haversine formula. Replaces
    * `ST_Distance(a::geography, b::geography)/1000`
    * (reference `aggregation.py:92-96`); differs from PostGIS geodesic by
    * <0.5% which only feeds IDW weights and a 50 km cutoff (SURVEY §4.3).
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Geohash-style integer grid cell at `cellDeg` resolution; equi-join key
    * for the scale path of the spatial join (SURVEY §4.2): join on cell ±
    * neighbor cells, then exact-distance post-filter. Avoids the broadcast
    * nested-loop once the postal side is no longer broadcastable.
    */
  def gridCell(lat: Column, lon: Column, cellDeg: Double): Column =
    (floor(lat / cellDeg).cast("long") * 100000L) + floor(lon / cellDeg).cast("long")

  /** Circular (vector) mean of a direction in degrees, optionally weighted —
    * `DEGREES(ATAN2(SUM(SIN(RADIANS(d))*w), SUM(COS(RADIANS(d))*w)))`
    * (reference `aggregation.py:132-135`). Aggregate expression; caller
    * applies [[normalizeDeg]] for the [0,360) wrap.
    */
  def circularMeanDeg(dirDeg: Column, weight: Column): Column =
    degrees(atan2(
      sum(sin(radians(dirDeg)) * weight),
      sum(cos(radians(dirDeg)) * weight)))

  /** Wind-direction wrap to [0,360): one conditional pass, exactly the
    * reference's CASE (reference `aggregation.py:176-183`) — atan2 output
    * is in (−180,180] so a single wrap suffices.
    */
  def normalizeDeg(d: Column): Column =
    when(d < 0, d + 360).when(d >= 360, d - 360).otherwise(d)
}
