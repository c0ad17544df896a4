package graft.weather

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GeoFunctions

/** The reference's transformation pipeline, bronze → silver → gold, as pure
  * `DataFrame => DataFrame` stages (reference
  * `src/transformation/{cleaning,aggregation}.py`, lifecycle SURVEY §3.1).
  *
  * Determinism: every stage takes an explicit `asOf` timestamp instead of
  * the reference's 13 `NOW()` call sites (SURVEY §7 risk 1).
  *
  * Scale notes (100 TB posture):
  *  - stations and postal centroids are small dimensions → broadcast joins,
  *    no shuffle on the big fact side until the single hourly groupBy;
  *  - the spatial join is a broadcast-nested-loop with an
  *    arithmetic-only radius predicate; at larger dimension cardinality
  *    switch to the grid-cell equi-join in [[GeoFunctions.gridCell]]
  *    (SURVEY §4.2) — semantics identical, shuffle stays on the fact key;
  *  - all aggregates are partial-aggregatable (HashAggregate partial→final),
  *    including the IDW weighted sums and the circular mean's sin/cos pair.
  */
object WeatherPipeline {

  val AsOf = "2024-01-31 00:00:00"
  val LookbackHours = 168

  /** Cross-engine-safe TWO-STAGE rounding: snap to the 1e-8 grid first,
    * then round to `digits`. Aggregated doubles differ between engines at
    * ~1e-13 (summation order; 1-ulp trig) and the data puts true values
    * EXACTLY on round boundaries (equal-weight station pairs average
    * integer metrics to x.5) — the grid snap collapses both engines to the
    * same double before the visible round, and both engines round the
    * resulting exact .5 away from zero. Single-stage fractional rounding
    * is also unsafe per se (Spark BigDecimal HALF_UP vs DuckDB binary:
    * 2.675 → 2.68 vs 2.67); both stages here round at scale 0 where the
    * engines agree. `+ 0.0` folds DuckDB's IEEE -0.0.
    */
  def roundSafe(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    round(round(c * 1e8, 0) / math.pow(10, 8 - digits), 0) / p + 0.0
  }

  private def roundInt(c: Column): Column =
    round(round(c * 1e8, 0) / 1e8, 0).cast("int")

  private def asOfTs: Column = lit(AsOf).cast("timestamp")

  // ----------------------------------------------------------------------
  // Silver: cleaning + quality scoring
  // ----------------------------------------------------------------------

  /** Observation cleaning ladder (reference `cleaning.py:63-166`):
    * time-window filter (F1), completeness filter (F2, >1 of 3 critical
    * fields missing ⇒ drop), validated-only (F3), outlier flags and the
    * 1.0/0.6/0.3/0.5 quality-score CASE ladder (A11) whose branch ORDER is
    * semantic (SURVEY §8 Q13: NULL-temp + out-of-range wind scores 0.6;
    * precip-only outlier falls to ELSE 0.5). Upsert-on-key staging (S8,
    * DO UPDATE) becomes keyed dedup with the HIGHEST raw id winning —
    * the same rule the cross-batch merge applies, so incremental
    * slices converge to the single-shot result (IncrementalSpec).
    * (Postgres would error on within-statement duplicate conflicts; we
    * define the order.)
    */
  def cleanObservations(raw: DataFrame): DataFrame = {
    val t = col("temperature"); val w = col("wind_speed"); val p = col("precipitation")
    val missing = t.isNull.cast("int") + w.isNull.cast("int") + p.isNull.cast("int")
    val tOut = !t.between(-40, 50)
    val wOut = !w.between(0, 200)
    val pOut = !p.between(0, 200)
    val hOut = col("humidity").isNotNull && !col("humidity").between(0, 100)
    val cOut = col("cloud_cover").isNotNull && !col("cloud_cover").between(0, 100)
    val win = Window.partitionBy(col("station_id"), col("timestamp"))
      .orderBy(col("raw_id").desc)
    raw
      .filter(col("timestamp") >= asOfTs - expr(s"INTERVAL $LookbackHours HOURS"))
      .filter(missing <= 1)
      .filter(col("validated"))
      .withColumn("has_missing_values", missing > 1) // vacuously false post-filter — reference parity
      .withColumn("has_outliers",
        coalesce(tOut, lit(false)) || coalesce(wOut, lit(false)) ||
        coalesce(pOut, lit(false)) || hOut || cOut)
      .withColumn("data_quality_score",
        when(t.isNotNull && w.isNotNull && p.isNotNull &&
             t.between(-40, 50) && w.between(0, 200) && p.between(0, 200), 1.0)
          .when(t.isNull || w.isNull || p.isNull, 0.6)
          .when(tOut || wOut, 0.3)
          .otherwise(0.5))
      .withColumn("quality_notes",
        when(tOut, concat(lit("Temperature outlier: "),
          coalesce(t.cast("decimal(9,2)").cast("string"), lit("NULL"))))
          .when(wOut, concat(lit("Wind speed outlier: "),
            coalesce(w.cast("decimal(9,2)").cast("string"), lit("NULL"))))
          .when(pOut, concat(lit("Precipitation outlier: "),
            coalesce(p.cast("decimal(9,2)").cast("string"), lit("NULL"))))
          .when(t.isNull || w.isNull, lit("Missing critical fields"))
          .otherwise(lit(null).cast("string")))
      .withColumn("processed_at", asOfTs)
      .withColumn("rn", row_number().over(win)).filter(col("rn") === 1).drop("rn")
  }

  /** Forecast cleaning (reference `cleaning.py:201-330`): same ladder but
    * the outlier check intentionally omits the humidity/cloud-cover clauses
    * (SURVEY §8 Q8 — preserved asymmetry). Keyed on the bitemporal triple,
    * first raw id wins (S6 first-write semantics).
    */
  def cleanForecasts(raw: DataFrame): DataFrame = {
    val t = col("temperature"); val w = col("wind_speed"); val p = col("precipitation")
    val missing = t.isNull.cast("int") + w.isNull.cast("int") + p.isNull.cast("int")
    val tOut = !t.between(-40, 50)
    val wOut = !w.between(0, 200)
    val pOut = !p.between(0, 200)
    val win = Window
      .partitionBy(col("station_id"), col("forecast_timestamp"), col("target_timestamp"))
      .orderBy(col("raw_id"))
    raw
      .filter(col("forecast_timestamp") >= asOfTs - expr(s"INTERVAL $LookbackHours HOURS"))
      .filter(missing <= 1)
      .withColumn("has_missing_values", missing > 1)
      .withColumn("has_outliers",
        coalesce(tOut, lit(false)) || coalesce(wOut, lit(false)) || coalesce(pOut, lit(false)))
      .withColumn("data_quality_score",
        when(t.isNotNull && w.isNotNull && p.isNotNull &&
             t.between(-40, 50) && w.between(0, 200) && p.between(0, 200), 1.0)
          .when(t.isNull || w.isNull || p.isNull, 0.6)
          .when(tOut || wOut, 0.3)
          .otherwise(0.5))
      .withColumn("processed_at", asOfTs)
      .withColumn("rn", row_number().over(win)).filter(col("rn") === 1).drop("rn")
  }

  /** W1 temporal-consistency check (reference `cleaning.py:332-375`):
    * count of >20° jumps between consecutive readings ≤1h apart, per
    * station. Log-only in the reference — returns counts, never mutates
    * scores (SURVEY §8 Q7).
    */
  def temporalConsistency(stg: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("station_id")).orderBy(col("timestamp"))
    stg
      .withColumn("prev_temp", lag(col("temperature"), 1).over(w))
      .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
      .filter(col("prev_temp").isNotNull &&
        abs(col("temperature") - col("prev_temp")) > 20 &&
        (unix_timestamp(col("timestamp")) - unix_timestamp(col("prev_ts"))) <= 3600)
      .groupBy(col("station_id"))
      .agg(count(lit(1)).as("n_issues"))
  }

  // ----------------------------------------------------------------------
  // Gold: spatial IDW aggregation
  // ----------------------------------------------------------------------

  /** Silver → gold: J1 station join, J2 radius join to postal centroids,
    * IDW-weighted hourly rollup A1–A6 + combined quality score A10 and the
    * reference's projection rounding (reference `aggregation.py:46-223`).
    *
    * Distance: planar-squared prefilter in degrees, `sqrt * 111 km/deg`
    * (arithmetic + IEEE sqrt only — cross-engine exact); the true
    * [[GeoFunctions.haversineKm]] geodesic variant is the library surface
    * for real coordinates (ScalaTest-covered; <0.5% apart, SURVEY §4.3).
    *
    * IDW parity trap preserved (SURVEY §8 Q5): each metric's numerator
    * skips NULL-metric rows but the shared denominator `SUM(w)` includes
    * them — exactly Postgres' SUM semantics.
    */
  def aggregateToPostal(
      stg: DataFrame, stations: DataFrame, postal: DataFrame,
      dataType: String): DataFrame = {
    val timeField = if (dataType == "forecast") "target_timestamp" else "timestamp"

    // J1/J2 carry NO broadcast() hints (r11 verdict #6): the dimension
    // sides arrive as catalog tables with injected synopsis statistics
    // ([[WeatherStats.dims]]), and Spark's own threshold planning makes
    // the broadcast decision from the injected sizeInBytes/rowCount —
    // the flagship consuming the statistics catalog it ships.
    // WeatherStatsSpec pins the decision in both directions.
    val withLoc = stg
      .filter(col("data_quality_score") >= 0.5)
      .join(stations.select("station_id", "latitude", "longitude"), "station_id")

    val dLat = col("latitude") - col("centroid_lat")
    val dLon = col("longitude") - col("centroid_lon")
    val distKm = sqrt(dLat * dLat + dLon * dLon) * 111.0
    val mapped = withLoc
      .crossJoin(postal.select("postal_code", "centroid_lat", "centroid_lon"))
      .withColumn("distance_km", distKm)
      .filter(col("distance_km") <= 50.0)
      .withColumn("idw_weight",
        lit(1.0) / nullif(col("distance_km") * col("distance_km"), lit(0.0)))

    def idw(c: String): Column =
      sum(col(c) * col("idw_weight")) / nullif(sum(col("idw_weight")), lit(0.0))

    val grouped = mapped
      .groupBy(col("postal_code"), date_trunc("hour", col(timeField)).as("hour"),
        (if (dataType == "forecast") col("forecast_timestamp")
         else lit(null).cast("timestamp")).as("forecast_timestamp"))
      .agg(
        idw("temperature").as("temperature_avg_raw"),
        min(col("temperature")).as("temperature_min_raw"),
        max(col("temperature")).as("temperature_max_raw"),
        idw("precipitation").as("precipitation_sum_raw"), // IDW avg — reference misnomer kept (SURVEY §8 Q4)
        idw("wind_speed").as("wind_speed_avg_raw"),
        max(col("wind_speed")).as("wind_speed_max_raw"),
        GeoFunctions.circularMeanDeg(col("wind_direction"), col("idw_weight"))
          .as("wind_direction_avg_raw"),
        idw("cloud_cover").as("cloud_cover_avg_raw"),
        idw("pressure").as("pressure_msl_avg_raw"),
        idw("sunshine").as("sunshine_sum_raw"),
        idw("visibility").as("visibility_avg_raw"),
        idw("dew_point").as("dew_point_avg_raw"),
        idw("humidity").as("relative_humidity_avg_raw"),
        countDistinct(col("station_id")).cast("int").as("num_stations"),
        (sum(col("data_quality_score").cast("decimal(3,1)")).cast("double") / count(lit(1)))
          .as("avg_quality_raw"),
        max(col("distance_km")).as("max_distance_km_raw"),
        (sum(col("distance_km")) / count(lit(1))).as("avg_distance_km_raw"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_rows") >= 1) // HAVING COUNT(*) >= 1 (aggregation.py:153)

    grouped.select(
      col("postal_code"),
      col("hour").as("timestamp"),
      lit(dataType).as("data_type"),
      col("forecast_timestamp"),
      roundSafe(col("temperature_avg_raw"), 2).as("temperature_avg"),
      roundSafe(col("temperature_min_raw"), 2).as("temperature_min"),
      roundSafe(col("temperature_max_raw"), 2).as("temperature_max"),
      roundSafe(col("precipitation_sum_raw"), 2).as("precipitation_sum"),
      roundSafe(col("wind_speed_avg_raw"), 2).as("wind_speed_avg"),
      roundSafe(col("wind_speed_max_raw"), 2).as("wind_speed_max"),
      roundInt(GeoFunctions.normalizeDeg(col("wind_direction_avg_raw")))
        .as("wind_direction_avg"),
      roundInt(col("cloud_cover_avg_raw")).as("cloud_cover_avg"),
      roundSafe(col("pressure_msl_avg_raw"), 2).as("pressure_msl_avg"),
      roundInt(col("sunshine_sum_raw")).as("sunshine_sum"),
      roundInt(col("visibility_avg_raw")).as("visibility_avg"),
      roundSafe(col("dew_point_avg_raw"), 2).as("dew_point_avg"),
      roundInt(col("relative_humidity_avg_raw")).as("relative_humidity_avg"),
      col("num_stations"),
      roundSafe(
        col("avg_quality_raw") * 0.6 +
          least(col("num_stations").cast("double") / 3.0, lit(1.0)) * 0.2 +
          (lit(1.0) - least(col("avg_distance_km_raw") / 50.0, lit(1.0))) * 0.2,
        2).as("avg_quality_score"),
      roundSafe(col("max_distance_km_raw"), 2).as("max_distance_km"))
  }

  // ----------------------------------------------------------------------
  // Gold: forecast accuracy (J3 + A9)
  // ----------------------------------------------------------------------

  /** Forecast-vs-observation accuracy (reference `sql/schema.sql:388-437`):
    * self equi join on (postal_code, timestamp) split by data_type with the
    * 1-hour as-of tolerance; per-metric absolute errors; MAE over the three
    * metrics with COALESCE(precip,0) only (temp/wind NULLs propagate —
    * parity); lead_time_hours from the epoch difference. `rmse` is never
    * computed in the reference (SURVEY §8 Q6) — left absent.
    */
  def forecastAccuracy(gold: DataFrame): DataFrame = {
    val f = gold.filter(col("data_type") === "forecast").alias("f")
    val o = gold.filter(col("data_type") === "observation").alias("o")
    f.join(o,
        col("f.postal_code") === col("o.postal_code") &&
        col("f.timestamp") === col("o.timestamp") &&
        col("f.timestamp") <= col("o.timestamp") + expr("INTERVAL 1 HOUR"))
      .select(
        col("f.postal_code").as("postal_code"),
        col("f.forecast_timestamp").as("forecast_issue_time"),
        col("f.timestamp").as("forecast_target_time"),
        col("o.timestamp").as("observed_time"),
        abs(col("f.temperature_avg") - col("o.temperature_avg")).as("temperature_error"),
        abs(col("f.precipitation_sum") - col("o.precipitation_sum")).as("precipitation_error"),
        abs(col("f.wind_speed_avg") - col("o.wind_speed_avg")).as("wind_speed_error"),
        ((abs(col("f.temperature_avg") - col("o.temperature_avg")) +
          abs(coalesce(col("f.precipitation_sum"), lit(0.0)) -
              coalesce(col("o.precipitation_sum"), lit(0.0))) +
          abs(col("f.wind_speed_avg") - col("o.wind_speed_avg"))) / 3.0).as("mae"),
        ((unix_timestamp(col("f.timestamp")) -
          unix_timestamp(col("f.forecast_timestamp"))) / 3600).cast("int")
          .as("lead_time_hours"))
  }

  // ----------------------------------------------------------------------
  // Serving layer (reference src/api/endpoints/weather.py + views)
  // ----------------------------------------------------------------------

  /** v_latest_observations (reference `sql/schema.sql:312-328`): rows at
    * the single global max timestamp — the view's literal semantics, not
    * per-key latest.
    */
  def latestObservations(gold: DataFrame): DataFrame = {
    val obs = gold.filter(col("data_type") === "observation")
    val maxTs = obs.agg(max(col("timestamp")).as("max_ts"))
    obs.crossJoin(broadcast(maxTs))
      .filter(col("timestamp") === col("max_ts"))
      .select(col("postal_code"), col("timestamp"), col("temperature_avg"),
        col("precipitation_sum"), col("wind_speed_avg"), col("cloud_cover_avg"),
        col("num_stations"), col("avg_quality_score"))
  }

  /** v_latest_forecasts (reference `sql/schema.sql:331-350`): latest issue
    * snapshot via scalar-max cross join (J4).
    */
  def latestForecasts(gold: DataFrame): DataFrame = {
    val fc = gold.filter(col("data_type") === "forecast")
    val maxIssue = fc.agg(max(col("forecast_timestamp")).as("max_issue"))
    fc.crossJoin(broadcast(maxIssue))
      .filter(col("forecast_timestamp") === col("max_issue"))
      .select(col("postal_code"), col("forecast_timestamp"),
        col("timestamp").as("target_time"), col("temperature_avg"),
        col("precipitation_sum"), col("wind_speed_avg"), col("cloud_cover_avg"),
        col("num_stations"))
  }

  /** History endpoint (reference `weather.py:28-51`) with window and limit
    * as separate typed params (fixes the double-duty `hours`, SURVEY §8 Q12).
    */
  def history(gold: DataFrame, postalCode: String, windowHours: Int, limit: Int): DataFrame =
    gold.filter(col("data_type") === "observation" &&
        col("postal_code") === postalCode &&
        col("timestamp") >= asOfTs - expr(s"INTERVAL $windowHours HOURS"))
      .orderBy(col("timestamp").desc)
      .limit(limit)

  /** Forecast-horizon endpoint (reference `weather.py:114-137`, O2): future
    * targets for a postal code from the latest issue, ascending — with the
    * INTERVAL parameter typed instead of string-interpolated (SURVEY §8 Q12).
    *
    * The result is bounded (one postal code × the horizon's hours × the
    * issues covering them), so it is sorted inside ONE partition: the
    * plan has no range exchange, and over the zone-mapped serve relation
    * a call is a single Spark job. Trade-off: `coalesce(1)` is narrow,
    * so everything after the input's last shuffle (here the filtered
    * scan) runs as one task. Over the z-laid-out gold that scan is
    * pruned to a few files; over an unpruned gold it reads the whole
    * table in that one task.
    */
  def forecastHorizon(gold: DataFrame, postalCode: String,
      from: Column, horizonHours: Int): DataFrame =
    gold.filter(col("data_type") === "forecast" &&
        col("postal_code") === postalCode &&
        col("timestamp") > from &&
        col("timestamp") <= from + expr(s"INTERVAL $horizonHours HOURS"))
      .coalesce(1)
      .orderBy(col("timestamp"), col("forecast_timestamp"))

  /** F8 bounding-box station filter (reference `stations.py:26-37`,
    * generic form `:173-180`).
    */
  def stationsInBBox(stations: DataFrame,
      latMin: Double, latMax: Double, lonMin: Double, lonMax: Double): DataFrame =
    stations.filter(col("latitude").between(latMin, latMax) &&
      col("longitude").between(lonMin, lonMax))

  /** get_nearest_stations (reference `sql/schema.sql:357-385`): k nearest
    * stations per postal code; honors max-distance (fixing the ignored
    * p_max_distance_km arg, SURVEY §8 Q9). Per-key top-k via row_number —
    * no global sort.
    */
  def nearestStations(stations: DataFrame, postal: DataFrame,
      k: Int = 3, maxDistanceKm: Double = 50.0): DataFrame = {
    val dLat = col("latitude") - col("centroid_lat")
    val dLon = col("longitude") - col("centroid_lon")
    val w = Window.partitionBy(col("postal_code"))
      .orderBy(col("distance_km"), col("station_id"))
    postal.crossJoin(broadcast(stations))
      .withColumn("distance_km", sqrt(dLat * dLat + dLon * dLon) * 111.0)
      .filter(col("distance_km") <= maxDistanceKm)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("postal_code"), col("station_id"), col("station_name"),
        roundSafe(col("distance_km"), 2).as("distance_km"), col("rn").as("rank"))
  }

  /** J2's 100×-scale path (SURVEY §4.2; reference `aggregation.py:105-110`):
    * the radius join as a pure EQUI-join on [[GeoFunctions.gridCell]]
    * instead of a nested loop. The probe (postal) side explodes each
    * centroid into its 3×3 neighborhood of 0.5° cells; the build (station)
    * side computes its single cell; the join is then hash/sort-merge on the
    * cell key, and the exact `distance <= r` post-filter removes corner
    * false positives. Correct because r/111 km-per-deg = 0.4505° < cellDeg,
    * so every point within r of a centroid lies in the centroid's cell ±1 —
    * and each station owns exactly ONE cell, so no pair can match twice.
    * At cluster scale neither side needs to be broadcastable: the big fact
    * side keeps its partitioning and the shuffle is an equi-shuffle on
    * `cell`; here the 225-row probe is broadcast → BroadcastHashJoin.
    * GridJoinSpec proves row-for-row equality with the nested-loop radius
    * join and asserts the plan has no BNLJ/cartesian.
    */
  def spatialJoinGrid(stations: DataFrame, postal: DataFrame,
      radiusKm: Double = 50.0, cellDeg: Double = 0.5): DataFrame = {
    require(radiusKm / 111.0 < cellDeg, "±1-cell cover requires r < cellDeg*111km")
    // neighbor cell = own cell + dy*stride + dx (identical packing to
    // GeoFunctions.gridCell — GridJoinSpec asserts the implementations
    // agree, so the equi-key can never silently diverge)
    val probe = postal
      .select(col("postal_code"), col("centroid_lat"), col("centroid_lon"))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .select(col("postal_code"), col("centroid_lat"), col("centroid_lon"),
        (GeoFunctions.gridCell(col("centroid_lat"), col("centroid_lon"), cellDeg)
          + col("dy") * 100000L + col("dx")).as("cell"))
    val dLat = col("latitude") - col("centroid_lat")
    val dLon = col("longitude") - col("centroid_lon")
    stations
      .withColumn("cell", GeoFunctions.gridCell(col("latitude"), col("longitude"), cellDeg))
      // no broadcast hint: the join is equi on `cell`, so when the probe
      // side outgrows the threshold the optimizer falls back to a plain
      // shuffle on `cell` (SMJ/SHJ) — never a nested loop. The hint that
      // made the 225-row case explicit would instead force the broadcast
      // at ANY probe size; RegimeSpec pins the no-broadcast plan shape.
      .join(probe, "cell")
      .withColumn("distance_km", sqrt(dLat * dLat + dLon * dLon) * 111.0)
      .filter(col("distance_km") <= radiusKm)
      .select(col("postal_code"), col("station_id"),
        roundSafe(col("distance_km"), 2).as("distance_km"))
  }
}
