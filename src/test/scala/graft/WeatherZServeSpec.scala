package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.weather.{WeatherPipeline, WeatherQueries, WeatherZServe}
import graft.plans.ZoneMapFileIndex

/** The weather serve path over the z-clustered gold layouts (one per
  * data_type). Pins:
  * (1) q27's (postal, time-window) predicate opens files_opened ≪
  *     files_total through the FileIndex — the reference's composite
  *     B-tree serve path (`sql/schema.sql:278-305`) as zone skipping —
  *     and the forecast layout is refuted ENTIRELY off its constant
  *     data_type zone;
  * (2) q177's postal PREFIX pushes as StartsWith and prunes;
  * (3) the INDEX-SERVED latest snapshots (q24/q25: global max taken
  *     from the timestamp zones and pushed as a literal — the
  *     reference's ORDER-BY-DESC-LIMIT-via-index, O1) open at most a
  *     couple of files and return EXACTLY the in-memory frames' rows;
  * (4) every serve query equals its in-memory pipeline computation —
  *     the layout moves the scan, never the answer (the driver's
  *     unchanged oracles pin the same thing against DuckDB);
  * (5) a warm API request (history, forecast horizon, latest
  *     observations, latest forecasts) launches exactly ONE Spark job,
  *     its query: no per-call schema inference, no range-sort jobs. */
class WeatherZServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def zoneScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      zoneScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      zoneScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(zoneScans)
  }

  test("q27 history rides the zone-mapped relation: postal + window " +
      "prune most files and the forecast layout is refuted entirely; " +
      "rows identical to the in-memory gold") {
    val (zdf, idxes) = WeatherZServe.zGoldWithIndexes(spark, dir)
    val served = WeatherPipeline.history(zdf, "10011", 72, 24)
      .orderBy(col("timestamp"))
    val zRows = served.collect().toSeq
    val Seq(obsIdx, fcIdx) = idxes
    assert(zRows.nonEmpty, "the fixture postal must have history rows")
    val memRows = WeatherPipeline.history(
        WeatherQueries.goldUnified(spark, dir), "10011", 72, 24)
      .orderBy(col("timestamp")).collect().toSeq
    assert(zRows === memRows,
      "the z-served history must equal the pipeline-served history")
    assert(obsIdx.lastKept.get() < obsIdx.lastTotal.get() / 2,
      s"one postal × 72h must prune most of the obs layout " +
        s"(opened ${obsIdx.lastKept.get()} of ${obsIdx.lastTotal.get()})")
    assert(fcIdx.lastKept.get() === 0L,
      "an observation-only query must refute every forecast file " +
        "off the constant data_type zone")
    val scans = zoneScans(served.queryExecution.executedPlan)
    assert(scans.exists(_.relation.location.isInstanceOf[ZoneMapFileIndex]),
      "the serve scan must run over the zone-mapped FileIndex")
  }

  test("q177 region rollup: the postal PREFIX pushes as StartsWith, " +
      "prunes files, and equals the in-memory computation") {
    val (zdf, idxes) = WeatherZServe.zGoldWithIndexes(spark, dir)
    def rollup(df: org.apache.spark.sql.DataFrame) = df
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
    val zRows = rollup(zdf).collect().toSeq
    val obsIdx = idxes.head
    assert(zRows.nonEmpty)
    assert(zRows === rollup(WeatherQueries.goldUnified(spark, dir))
      .collect().toSeq)
    assert(obsIdx.lastKept.get() < obsIdx.lastTotal.get(),
      s"the 1001x prefix + 72h window must refute at least some files " +
        s"(opened ${obsIdx.lastKept.get()} of ${obsIdx.lastTotal.get()})")
  }

  test("q179 gold stats heartbeat is metadata-served: no file scan, " +
      "answers equal the in-memory aggregate incl. the null-aware " +
      "COUNT over derived NULL temperatures") {
    val df = WeatherZServe.q179GoldStats(spark, dir)
    val rows = df.collect().toSeq
    assert(zoneScans(df.queryExecution.executedPlan).isEmpty,
      "the stats heartbeat must fold to the zone map — no scan")
    val truth = WeatherQueries.goldUnified(spark, dir)
      .filter(col("data_type") === "observation")
      .agg(count(lit(1)).as("n_rows"),
        min(col("postal_code")).as("min_postal"),
        max(col("postal_code")).as("max_postal"),
        count(col("temperature_avg")).as("n_temp"),
        min(col("num_stations")).as("min_stations"),
        max(col("num_stations")).as("max_stations"))
      .collect().toSeq
    assert(rows === truth)
    assert(rows.head.getAs[Long]("n_temp") <
      rows.head.getAs[Long]("n_rows"),
      "the fixture's derived NULL temperatures must make COUNT(col) " +
        "strictly smaller — the null-aware path is exercised on real " +
        "pipeline output")
  }

  test("q24/q25 index-served latest snapshots: the zone-derived max " +
      "pushes as a literal, opens a strict minority of files, and " +
      "returns exactly the in-memory frames' rows") {
    val gold = WeatherQueries.goldUnified(spark, dir)

    val (obsDf, obsIdx) = WeatherZServe.latestObsServed(spark, dir)
    val zObs = obsDf.orderBy(col("postal_code")).collect().toSeq
    val mObs = WeatherPipeline.latestObservations(gold)
      .orderBy(col("postal_code")).collect().toSeq
    assert(zObs.nonEmpty && zObs === mObs,
      "the index-served latest observations must equal the two-pass view")
    assert(obsIdx.lastKept.get() < obsIdx.lastTotal.get() / 2,
      s"the max-timestamp literal must open a strict minority of " +
        s"files (${obsIdx.lastKept.get()} of ${obsIdx.lastTotal.get()})")

    val (fcDf, fcIdx) = WeatherZServe.latestFcServed(spark, dir)
    val zFc = fcDf.orderBy(col("postal_code"), col("target_time"))
      .collect().toSeq
    val mFc = WeatherPipeline.latestForecasts(gold)
      .orderBy(col("postal_code"), col("target_time")).collect().toSeq
    assert(zFc.nonEmpty && zFc === mFc,
      "the index-served latest forecasts must equal the two-pass view")
    assert(fcIdx.lastKept.get() < fcIdx.lastTotal.get(),
      s"the fc layout clusters on the ISSUE axis, so the max-issue " +
        s"literal must refute at least some files " +
        s"(${fcIdx.lastKept.get()} of ${fcIdx.lastTotal.get()})")
  }

  test("a warm API request launches exactly one Spark job and returns " +
      "the endpoint's rows over plain gold") {
    val plain = WeatherQueries.goldUnified(spark, dir)
    val from = lit("2024-01-28 00:00:00").cast("timestamp")
    // (endpoint, a fresh request over the z-laid-out gold, the same
    // endpoint over plain gold)
    val endpoints: Seq[(String, () => DataFrame, DataFrame)] = Seq(
      ("history", () => WeatherPipeline.history(
          WeatherZServe.zGold(spark, dir), "10011", 72, 24),
        WeatherPipeline.history(plain, "10011", 72, 24)),
      ("horizon", () => WeatherPipeline.forecastHorizon(
          WeatherZServe.zGold(spark, dir), "10011", from, 48),
        WeatherPipeline.forecastHorizon(plain, "10011", from, 48)),
      ("latestObs", () => WeatherQueries.latestObs(spark, dir),
        WeatherPipeline.latestObservations(plain)
          .orderBy(col("postal_code"))),
      ("latestFc", () => WeatherQueries.latestFc(spark, dir),
        WeatherPipeline.latestForecasts(plain)
          .orderBy(col("postal_code"), col("target_time"))))
    endpoints.foreach { case (name, served, truth) =>
      served().collect() // warm: lands gold, builds the layouts
      val (rows, jobs) = countJobs(served().collect().toSeq)
      assert(jobs === 1,
        s"$name: a warm request must launch exactly one Spark job")
      assert(rows.nonEmpty && rows === truth.collect().toSeq,
        s"$name: the served rows must equal the endpoint over plain gold")
    }
  }
}
