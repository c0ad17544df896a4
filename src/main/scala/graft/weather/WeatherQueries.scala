package graft.weather

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Bronze
import WeatherZServe.{Generation, generation}

/** Driver-contract wiring for the weather pipeline: each stage of
  * SURVEY §3.1's lifecycle as an oracled query over the synth weather
  * tables. Names/columns match [[WeatherOracle]] exactly.
  */
object WeatherQueries {

  // The weather queries all hang off the same silver/gold frames, held
  // — cached — by the corpus's current generation
  // ([[WeatherZServe.generation]]: one per (session, dir), replaced
  // when the corpus's source stamp moves), so Verify/Bench build each
  // stage once instead of once per query, and a corpus regenerated in
  // place rebuilds instead of serving — and landing under the new stamp
  // — the old generation's frames. An endpoint resolves the generation
  // once and reads every frame it needs from it.

  /** Unpersist and drop every held frame and serve relation — harness
    * teardown (Verify/Bench call this before `spark.stop()`) and the
    * library contract for long-lived services: without it the cache
    * pins executor memory for the life of the session. The bronze and
    * gold landings stay on disk and stay valid: the next generation
    * finds them committed and reads them, never re-landing files
    * another session's already-analyzed frame still references. */
  def clear(): Unit = WeatherZServe.clearGenerations()

  /** The 168h-window bronze read both cleaning stages start from: the
    * event_date bound prunes day directories, and the window's ts lower
    * bound (stated at the read — see [[Bronze.eventsWindowed]]) reaches
    * the µs-native reader as a row-group filter even for the forecast
    * stage, whose own `date_trunc('day', ts)` predicate is not pushable.
    */
  private[graft] def bronzeEventsWindowed(s: SparkSession, d: String): DataFrame =
    bronzeEventsWindowed(generation(s, d))

  private def bronzeEventsWindowed(g: Generation): DataFrame =
    Bronze.eventsWindowed(g.s, g.landBronze(),
      lit(WeatherPipeline.AsOf).cast("timestamp") -
        expr(s"INTERVAL ${WeatherPipeline.LookbackHours} HOURS"))

  private def stgObs(g: Generation): DataFrame = g.frame("stgObs") {
    WeatherPipeline.cleanObservations(
      WeatherSynth.rawObservationsFrom(bronzeEventsWindowed(g)))
  }

  private[graft] def stgObs(s: SparkSession, d: String): DataFrame =
    stgObs(generation(s, d))

  private def stgFc(g: Generation): DataFrame = g.frame("stgFc") {
    WeatherPipeline.cleanForecasts(
      WeatherSynth.rawForecastsFrom(bronzeEventsWindowed(g)))
  }

  // The gold frames SERVE FROM the durable landed gold when the
  // generation's landing is already committed (optimization r17, guide
  // §1.2 "don't compute things you throw away"): the landing IS
  // goldUnified written whole (same rows by construction — the serve
  // queries q24/q25/q27 oracle against it every round), so on a warm
  // store the clean→IDW→rollup pipeline is a parquet read filtered on
  // data_type, not a recompute. On a cold root the probe finds no
  // marker and the pipeline runs — including inside the landing
  // itself, which never waits on its own frames. Dims are served from
  // the statistics catalog (same rows as the WeatherSynth frames —
  // materialized + stat-injected), so the hint-free J1/J2 broadcast
  // decisions are Spark's own.
  private def gold(g: Generation, which: String,
      stg: Generation => DataFrame): DataFrame = g.frame(which) {
    g.committedGold.map(p =>
      g.s.read.parquet(p).filter(col("data_type") === which)).getOrElse {
      val (st, pc) = WeatherStats.dims(g.s, g.d)
      WeatherPipeline.aggregateToPostal(stg(g), st, pc, which)
    }
  }

  private def goldObs(g: Generation): DataFrame =
    gold(g, "observation", stgObs)

  private def goldFc(g: Generation): DataFrame = gold(g, "forecast", stgFc)

  /** The reference's single `weather_data_gold` table (observations +
    * forecasts, discriminated by data_type) — the frame
    * [[WeatherZServe]] lands for the gold layout. */
  private[weather] def goldUnified(g: Generation): DataFrame =
    goldObs(g).unionByName(goldFc(g))

  private[graft] def goldUnified(s: SparkSession, d: String): DataFrame =
    goldUnified(generation(s, d))

  def cleanObs(s: SparkSession, d: String): DataFrame =
    stgObs(s, d).select(
      col("station_id"), date_trunc("second", col("timestamp")).as("ts_sec"),
      col("temperature"), col("humidity"), col("pressure"), col("wind_speed"),
      col("wind_direction"), col("precipitation"), col("cloud_cover"),
      col("visibility"), col("sunshine"), col("dew_point"),
      col("has_missing_values"), col("has_outliers"), col("data_quality_score"),
      col("quality_notes"), col("raw_id"))
      .orderBy(col("station_id"), col("ts_sec"), col("raw_id"))

  def goldObservations(s: SparkSession, d: String): DataFrame =
    goldObs(generation(s, d)).orderBy(col("postal_code"), col("timestamp"))

  def goldForecasts(s: SparkSession, d: String): DataFrame =
    goldFc(generation(s, d)).orderBy(col("postal_code"), col("timestamp"),
      col("forecast_timestamp"))

  def accuracy(s: SparkSession, d: String): DataFrame =
    WeatherPipeline.forecastAccuracy(goldUnified(s, d))
      .orderBy(col("postal_code"), col("forecast_issue_time"), col("forecast_target_time"))

  // The API serve queries (latest snapshots + history + region) read
  // gold through the zone-mapped FileIndex relation (WeatherZServe):
  // the scan is the reference's B-tree serve path re-expressed as
  // zone-map skipping — the latest snapshots additionally take their
  // global max FROM the zone map and push it as a literal, so the
  // two-pass agg+rescan becomes one pruned read. RESULTS are pinned
  // unchanged (same oracles, and WeatherZServeSpec asserts parity with
  // the in-memory frames).

  /** Latest-observation snapshot, sorted inside ONE partition: the
    * result is one hour's rows (at most one per postal code) read from
    * the few files the max-timestamp literal admits, so a global sort's
    * range-sampling job and shuffle would cost more than the sort. The
    * plan has no range exchange: one Spark job per call. Trade-off: the
    * pruned scan runs as a single task, and on the stats-less fallback
    * (the two-pass view) that task reads every observation file. */
  def latestObs(s: SparkSession, d: String): DataFrame =
    WeatherZServe.latestObsServed(s, d)._1
      .coalesce(1).orderBy(col("postal_code"))

  /** Latest-issue forecast snapshot, sorted inside one partition for the
    * same reason and with the same trade-off as [[latestObs]]. */
  def latestFc(s: SparkSession, d: String): DataFrame =
    WeatherZServe.latestFcServed(s, d)._1
      .coalesce(1).orderBy(col("postal_code"), col("target_time"))

  def nearest(s: SparkSession, d: String): DataFrame =
    WeatherPipeline.nearestStations(WeatherSynth.stations(s, d), WeatherSynth.postalCodes(s, d))
      .orderBy(col("postal_code"), col("rank"))

  def history(s: SparkSession, d: String): DataFrame =
    WeatherPipeline.history(WeatherZServe.zGold(s, d), "10003", 72, 24)
      .orderBy(col("timestamp"))

  /** q177 — the region endpoint the reference CANNOT index-serve: a
    * postal-PREFIX rollup ("all of district 1001x, last 72h"). Its
    * B-tree on (postal_code, timestamp) serves prefix predicates only
    * via an index range scan the planner rarely picks for LIKE; here
    * the prefix pushes as StartsWith and the zone map's string bounds
    * refute whole files ([[graft.plans.ZoneMapFileIndex]]'s prefix
    * rule), composing with the hour range on the SAME z-layout.
    * Exact aggregates only (count / min / max value selection /
    * integer sum) — cross-engine deterministic by construction. */
  def regionHistory(s: SparkSession, d: String): DataFrame =
    WeatherZServe.zGold(s, d)
      .filter(col("data_type") === "observation" &&
        col("postal_code").startsWith("1001") &&
        col("timestamp") >= lit(WeatherPipeline.AsOf).cast("timestamp") -
          expr("INTERVAL 72 HOURS"))
      .groupBy(col("postal_code"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("temperature_max")).as("max_temp"),
        min(col("temperature_min")).as("min_temp"),
        sum(col("num_stations").cast("long")).as("sum_stations"))
      .orderBy(col("postal_code"))

  def temporal(s: SparkSession, d: String): DataFrame =
    WeatherPipeline.temporalConsistency(stgObs(s, d)).orderBy(col("station_id"))

  def validation(s: SparkSession, d: String): DataFrame =
    Pipeline.validate(goldUnified(s, d)).orderBy(col("data_type"))

  def horizon(s: SparkSession, d: String): DataFrame =
    WeatherPipeline.forecastHorizon(goldFc(generation(s, d)), "10003",
      lit("2024-01-28 00:00:00").cast("timestamp"), 48)

  def bbox(s: SparkSession, d: String): DataFrame =
    WeatherPipeline.stationsInBBox(WeatherSynth.stations(s, d), 52.2, 53.2, 13.0, 15.0)
      .select(col("station_id"), col("latitude"), col("longitude"))
      .orderBy(col("station_id"))

  /** True-geodesic KNN: per-postal 3 nearest stations by HAVERSINE (the
    * real [[graft.functions.GeoFunctions.haversineKm]] path rather than the
    * planar prefilter). Safe to oracle: ranking only (no radius predicate on
    * trig output — grid-derived distances are ≥1e-7 apart, far above 1-ulp
    * noise, and exact ties break on station_id), values two-stage rounded.
    */
  def haversineKnn(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GeoFunctions
    val w = Window.partitionBy(col("postal_code"))
      .orderBy(col("distance_km"), col("station_id"))
    WeatherSynth.postalCodes(s, d)
      .crossJoin(org.apache.spark.sql.functions.broadcast(WeatherSynth.stations(s, d)))
      .withColumn("distance_km", GeoFunctions.haversineKm(
        col("latitude"), col("longitude"), col("centroid_lat"), col("centroid_lon")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("postal_code"), col("station_id"),
        WeatherPipeline.roundSafe(col("distance_km"), 2).as("distance_km"),
        col("rn").cast("int").as("rank"))
      .orderBy(col("postal_code"), col("rank"))
  }

  /** q63: per-postal accuracy summary with the `rmse` the reference
    * declares but never fills (`sql/schema.sql:258`, SURVEY §8 Q6 — row
    * level stays parity-absent in q23; the summary closes the gap as an
    * extension). Determinism: errors are 2-decimal by construction, so
    * sums run in DECIMAL (exact, order-independent — err² is 4-decimal
    * exact); the only doubles are the final division + IEEE sqrt, then
    * two-stage rounding.
    */
  def accuracyRmse(s: SparkSession, d: String): DataFrame = {
    val acc = WeatherPipeline.forecastAccuracy(goldUnified(s, d))
    val te = col("temperature_error").cast("decimal(18,2)")
    val we = col("wind_speed_error").cast("decimal(18,2)")
    def mae(e: Column, src: Column) =
      WeatherPipeline.roundSafe(sum(e).cast("double") / count(src), 2)
    def rmse(e: Column, src: Column) =
      WeatherPipeline.roundSafe(sqrt(sum(e * e).cast("double") / count(src)), 2)
    acc.groupBy(col("postal_code")).agg(
      count(col("temperature_error")).as("n_temp"),
      mae(te, col("temperature_error")).as("mae_temperature"),
      rmse(te, col("temperature_error")).as("rmse_temperature"),
      count(col("wind_speed_error")).as("n_wind"),
      mae(we, col("wind_speed_error")).as("mae_wind_speed"),
      rmse(we, col("wind_speed_error")).as("rmse_wind_speed"))
      .orderBy(col("postal_code"))
  }

  /** q62: the grid-cell equi-join spatial mapping (J2's declared 100×
    * path) — oracled against a plain cross-join+radius in DuckDB, which
    * proves the cell construction loses/duplicates no pairs.
    */
  def gridSpatialJoin(s: SparkSession, d: String): DataFrame =
    WeatherPipeline.spatialJoinGrid(WeatherSynth.stations(s, d), WeatherSynth.postalCodes(s, d))
      .orderBy(col("postal_code"), col("station_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_weather_clean_obs"  -> (cleanObs _),
    "q21_weather_gold_obs"   -> (goldObservations _),
    "q22_weather_gold_fc"    -> (goldForecasts _),
    "q23_weather_accuracy"   -> (accuracy _),
    "q24_weather_latest_obs" -> (latestObs _),
    "q25_weather_latest_fc"  -> (latestFc _),
    "q26_weather_knn"        -> (nearest _),
    "q27_weather_history"    -> (history _),
    "q28_weather_temporal"   -> (temporal _),
    "q29_weather_validation" -> (validation _),
    "q31_weather_horizon"    -> (horizon _),
    "q32_weather_bbox"       -> (bbox _),
    "q59_haversine_knn"      -> (haversineKnn _),
    "q62_grid_spatial_join"  -> (gridSpatialJoin _),
    "q63_accuracy_rmse"      -> (accuracyRmse _),
    "q177_weather_region_history" -> (regionHistory _),
    "q179_weather_gold_stats" -> (WeatherZServe.q179GoldStats _),
    "q182_weather_gold_heartbeat" -> (WeatherZServe.q182GoldHeartbeat _),
    "q183_weather_gold_freshness" -> (WeatherZServe.q183GoldFreshness _),
    "q187_weather_gold_daily" -> (WeatherZServe.q187GoldDailyRollup _),
    "q188_weather_gold_days" -> (WeatherZServe.q188GoldDayInventory _),
  )

  val oracleSql: Map[String, String] = Map(
    "q20_weather_clean_obs"  -> WeatherOracle.cleanObsSql,
    "q21_weather_gold_obs"   -> WeatherOracle.goldObsSql,
    "q22_weather_gold_fc"    -> WeatherOracle.goldFcSql,
    "q23_weather_accuracy"   -> WeatherOracle.accuracySql,
    "q24_weather_latest_obs" -> WeatherOracle.latestObsSql,
    "q25_weather_latest_fc"  -> WeatherOracle.latestFcSql,
    "q26_weather_knn"        -> WeatherOracle.nearestStationsSql,
    "q27_weather_history"    -> WeatherOracle.historySql,
    "q28_weather_temporal"   -> WeatherOracle.temporalSql,
    "q29_weather_validation" -> WeatherOracle.validationSql,
    "q31_weather_horizon"    -> WeatherOracle.horizonSql,
    "q32_weather_bbox"       -> WeatherOracle.bboxSql,
    "q59_haversine_knn"      -> WeatherOracle.haversineKnnSql,
    "q62_grid_spatial_join"  -> WeatherOracle.gridSpatialJoinSql,
    "q63_accuracy_rmse"      -> WeatherOracle.accuracyRmseSql,
    "q177_weather_region_history" -> WeatherOracle.regionHistorySql,
    "q179_weather_gold_stats" -> WeatherOracle.goldStatsSql,
    "q182_weather_gold_heartbeat" -> WeatherOracle.goldHeartbeatSql,
    "q183_weather_gold_freshness" -> WeatherOracle.goldFreshnessSql,
    "q187_weather_gold_daily" -> WeatherOracle.goldDailySql,
    "q188_weather_gold_days" -> WeatherOracle.goldDayInventorySql,
  )
}
