package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.operators.{Layout, ZCatalog, ZTable}
import graft.plans.ZoneAggServe
import graft.weather.{WeatherQueries, WeatherZServe}

/** q182 — the GROUPED metadata serve (r14 verdict #5): `GROUP BY
  * data_type` over the unified gold z-table folds entirely from the
  * zone map because every file's data_type zone is single-valued (the
  * layout clusters each type into its own files). Pins:
  * (1) the served plan contains NO file scan and equals the in-memory
  *     gold computation — counts, hour bounds, null-aware COUNT(col),
  *     per group;
  * (2) the bail path: grouping by a NON-constant zone (postal_code)
  *     keeps the ordinary plan and the unchanged answer;
  * (3) the NULL group: files all-null on the group key form their own
  *     exact group (COUNT(key) = 0 there). */
class GoldHeartbeatSpec extends SparkSpec {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = fileScans(p)

  test("q182: GROUP BY data_type over the unified gold layout is " +
      "metadata-served — no scan, exact per-type counts and bounds") {
    val n0 = ZoneAggServe.servedCount.get()
    val df = WeatherZServe.q182GoldHeartbeat(spark, Sf)
    val rows = df.collect().toSeq
    assert(rows.size === 2, s"one row per data_type, got ${rows.size}")
    assert(scans(df.queryExecution.executedPlan).isEmpty,
      "the grouped heartbeat must contain NO file scan")
    assert(ZoneAggServe.servedCount.get() > n0,
      "the grouped metadata-serve rewrite must have fired")
    val truth = WeatherQueries.goldUnified(spark, Sf)
      .groupBy(col("data_type"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("timestamp")).as("min_hour"),
        max(col("timestamp")).as("max_hour"),
        count(col("temperature_avg")).as("n_temp"),
        min(col("postal_code")).as("min_postal"),
        max(col("postal_code")).as("max_postal"))
      .orderBy(col("data_type")).collect().toSeq
    assert(rows === truth)
  }

  test("bail path: grouping by a non-constant zone (postal_code) " +
      "keeps the ordinary plan and the unchanged answer") {
    // re-use q182's registration (idempotent), then address the table
    WeatherZServe.q182GoldHeartbeat(spark, Sf).collect()
    val real = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_z_weather_gold_all"))
      .headOption.getOrElse(fail("unified gold table not registered"))
    val df = spark.sql(s"SELECT postal_code, COUNT(*) AS n FROM $real " +
      s"GROUP BY postal_code ORDER BY postal_code")
    val rows = df.collect().toSeq
    assert(scans(df.queryExecution.executedPlan).nonEmpty,
      "a non-constant group key must NOT be metadata-served")
    val truth = WeatherQueries.goldUnified(spark, Sf)
      .groupBy(col("postal_code")).agg(count(lit(1)).as("n"))
      .orderBy(col("postal_code")).collect().toSeq
    assert(rows === truth)
  }

  test("q183: a WHERE over a single-valued zone column admits files " +
      "whole — metadata-served; a predicate on a non-constant column " +
      "bails to the scan with the unchanged answer") {
    val n0 = ZoneAggServe.servedCount.get()
    val df = WeatherZServe.q183GoldFreshness(spark, Sf)
    val rows = df.collect().toSeq
    assert(scans(df.queryExecution.executedPlan).isEmpty,
      "the filtered freshness probe must contain NO file scan")
    assert(ZoneAggServe.servedCount.get() > n0,
      "the filtered metadata-serve must have fired")
    val truth = WeatherQueries.goldUnified(spark, Sf)
      .filter(col("data_type") === "observation")
      .agg(count(lit(1)).as("n_rows"),
        min(col("timestamp")).as("min_hour"),
        max(col("timestamp")).as("max_hour"),
        count(col("temperature_avg")).as("n_temp"),
        min(col("postal_code")).as("min_postal"),
        max(col("postal_code")).as("max_postal"))
      .collect().toSeq
    assert(rows === truth)
    // bail: a predicate over postal_code (non-constant zones) must
    // keep the ordinary plan — and the pruned scan's answer is the same
    val real = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_z_weather_gold_all"))
      .headOption.getOrElse(fail("unified gold table not registered"))
    val bail = spark.sql(s"SELECT COUNT(*) AS n FROM $real " +
      s"WHERE postal_code = '10003'")
    val n = bail.collect()(0).getLong(0)
    assert(scans(bail.queryExecution.executedPlan).nonEmpty,
      "a non-single-valued filter column must NOT be metadata-served")
    assert(n === WeatherQueries.goldUnified(spark, Sf)
      .filter(col("postal_code") === "10003").count())
    // composition: WHERE + GROUP BY on the same single-valued column
    // serve together (one admitted group)
    val combo = spark.sql(s"SELECT data_type, COUNT(*) AS n FROM $real " +
      s"WHERE data_type = 'forecast' GROUP BY data_type")
    val comboRows = combo.collect().toSeq
    assert(scans(combo.queryExecution.executedPlan).isEmpty,
      "filtered + grouped must compose metadata-only")
    assert(comboRows.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("forecast", WeatherQueries.goldUnified(spark, Sf)
        .filter(col("data_type") === "forecast").count())))
  }

  test("q187: GROUP BY data_type, day over the (type, day)-pure daily " +
      "layout is metadata-served — multi-key groups, no scan") {
    val n0 = ZoneAggServe.servedCount.get()
    val df = WeatherZServe.q187GoldDailyRollup(spark, Sf)
    val rows = df.collect().toSeq
    assert(rows.size > 2, s"expected per-(type, day) rows, got ${rows.size}")
    assert(scans(df.queryExecution.executedPlan).isEmpty,
      "the multi-key grouped rollup must contain NO file scan")
    assert(ZoneAggServe.servedCount.get() > n0,
      "the multi-key grouped metadata-serve must have fired")
    val truth = WeatherQueries.goldUnified(spark, Sf)
      .withColumn("day", to_date(col("timestamp")))
      .groupBy(col("data_type"), col("day"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("timestamp")).as("min_hour"),
        max(col("timestamp")).as("max_hour"),
        count(col("temperature_avg")).as("n_temp"),
        min(col("postal_code")).as("min_postal"),
        max(col("postal_code")).as("max_postal"))
      .orderBy(col("data_type"), col("day")).collect().toSeq
    assert(rows === truth)
  }

  test("q188: COUNT(DISTINCT day) over the day-pure layout is " +
      "metadata-served; DISTINCT over a non-constant column bails") {
    val n0 = ZoneAggServe.servedCount.get()
    val df = WeatherZServe.q188GoldDayInventory(spark, Sf)
    val rows = df.collect().toSeq
    assert(rows.size === 2)
    assert(scans(df.queryExecution.executedPlan).isEmpty,
      "the day inventory must contain NO file scan")
    assert(ZoneAggServe.servedCount.get() > n0,
      "the COUNT(DISTINCT) metadata-serve must have fired")
    val truth = WeatherQueries.goldUnified(spark, Sf)
      .withColumn("day", to_date(col("timestamp")))
      .groupBy(col("data_type"))
      .agg(countDistinct(col("day")).as("n_days"),
        count(lit(1)).as("n_rows"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .orderBy(col("data_type")).collect().toSeq
    assert(rows === truth)
    // DISTINCT over a column that is NOT single-valued per file must
    // bail to the scan — with the unchanged answer
    val real = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_z_weather_gold_all"))
      .headOption.getOrElse(fail("unified gold table not registered"))
    val bail = spark.sql(s"SELECT data_type, COUNT(DISTINCT postal_code) " +
      s"AS n FROM $real GROUP BY data_type ORDER BY data_type")
    val bailRows = bail.collect().toSeq
    assert(scans(bail.queryExecution.executedPlan).nonEmpty,
      "a non-single-valued DISTINCT column must NOT be metadata-served")
    assert(bailRows === WeatherQueries.goldUnified(spark, Sf)
      .groupBy(col("data_type"))
      .agg(countDistinct(col("postal_code")).as("n"))
      .orderBy(col("data_type")).collect().toSeq)
  }

  test("multi-key bail: one key non-constant in any file keeps the " +
      "ordinary plan and the unchanged answer") {
    WeatherZServe.q187GoldDailyRollup(spark, Sf).collect()
    // the layout's files are pure on data_type but each holds a RANGE
    // of postal codes: a composite GROUP BY over both must bail to the
    // scan
    val real = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_z_weather_gold_all"))
      .headOption.getOrElse(fail("unified gold table not registered"))
    val df = spark.sql(s"SELECT data_type, postal_code, COUNT(*) AS n " +
      s"FROM $real GROUP BY data_type, postal_code " +
      s"ORDER BY data_type, postal_code")
    val rows = df.collect().toSeq
    assert(scans(df.queryExecution.executedPlan).nonEmpty,
      "a postal-impure layout must NOT serve the (type, postal) group")
    val truth = WeatherQueries.goldUnified(spark, Sf)
      .groupBy(col("data_type"), col("postal_code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("data_type"), col("postal_code")).collect().toSeq
    assert(rows === truth)
  }

  test("the NULL group: files all-null on the key form their own " +
      "exact group with COUNT(key) = 0") {
    import spark.implicits._
    val dir = TempDirs.create("graft_hb_mini")
    (0 until 4000).map { i =>
      (i.toLong, (i.toLong * 7919) % 5000,
        if (i % 3 == 0) None else Some("x"))
    }.toDF("k", "v", "g").write.mode("overwrite")
      .parquet(s"$dir/mini.parquet")
    val t = ZTable("hb_mini",
      d => s"$d/mini.parquet",
      (s, d) => s.read.parquet(s"$d/mini.parquet"),
      "k", "v", 4,
      clusterWith = Some((df, _) =>
        Layout.clusterByZ(df.filter(col("g").isNull), "k", "v", 2)
          .unionByName(
            Layout.clusterByZ(df.filter(col("g").isNotNull), "k", "v", 2))),
      rootOverride = Some(TempDirs.create("graft_hb_mini_root") + "/z"))
    val tbl = ZCatalog.ensureRegistered(spark, dir, t)
    try {
      val df = spark.sql(s"SELECT g, COUNT(*) AS n_rows, COUNT(g) AS n_g, " +
        s"MIN(k) AS min_k, MAX(v) AS max_v FROM $tbl GROUP BY g ORDER BY g")
      val rows = df.collect().toSeq
      assert(scans(df.queryExecution.executedPlan).isEmpty,
        "the null-partitioned group key must be metadata-served")
      val truth = spark.read.parquet(s"$dir/mini.parquet")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_rows"), count(col("g")).as("n_g"),
          min(col("k")).as("min_k"), max(col("v")).as("max_v"))
        .orderBy(col("g")).collect().toSeq
      assert(rows === truth)
      val nullRow = rows.find(_.isNullAt(0)).getOrElse(
        fail("expected a NULL group"))
      assert(nullRow.getAs[Long]("n_g") === 0L)
      assert(nullRow.getAs[Long]("n_rows") > 0L)
    } finally { spark.sql(s"DROP TABLE IF EXISTS $tbl"); () }
  }
}
