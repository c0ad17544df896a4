package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.weather.{WeatherPipeline, WeatherQueries, WeatherZServe}
import graft.plans.{LocalServe, LocalServeExec, LongZone, StringZone,
  ZoneMapFileIndex}

/** The weather serve path over the gold layout ((type, day)-pure per
  * file, range-split on postal_code: every file's data_type zone is
  * single-valued). Pins:
  * (1) q27's (postal, time-window) predicate opens files_opened ≪
  *     observation files through the FileIndex — the reference's
  *     composite B-tree serve path (`sql/schema.sql:278-305`) as zone
  *     skipping — and every forecast file is refuted: the scan keeps
  *     only observation files;
  * (2) q177's postal PREFIX pushes as StartsWith and prunes;
  * (3) the INDEX-SERVED latest snapshots (q24/q25: global max taken
  *     from the timestamp zones and pushed as a literal — the
  *     reference's ORDER-BY-DESC-LIMIT-via-index, O1) open at most a
  *     couple of files and return EXACTLY the in-memory frames' rows;
  * (4) every serve query equals its in-memory pipeline computation —
  *     the layout moves the scan, never the answer (the driver's
  *     unchanged oracles pin the same thing against DuckDB);
  * (5) in a session with [[GraftExtensions]], a warm API request
  *     (history, forecast horizon, latest observations, latest
  *     forecasts) under [[LocalServe.MaxRows]] launches NO Spark job —
  *     it is answered on the calling thread ([[LocalServeExec]]) — and
  *     a request whose kept files hold more rows launches exactly one,
  *     its query: no per-call schema inference, no range-sort jobs;
  * (6) a warm request reuses the held relation (one source stamp, no
  *     rebuild), and every endpoint plans ONE zone read over the gold
  *     layout whose kept files are all of its own data_type;
  * (7) a corpus changed in place is served from its new landing's
  *     generation, and each session gets its own relation;
  * (8) the prewarm builds exactly one gold layout, every file of it
  *     single-valued on both data_type and day, and sweeps the sibling
  *     layout roots older builds left.
  * Files opened are read from each query's own executed plan (the
  * `numFiles` metric of its scan or of its local node, [[reads]]),
  * not from the shared indexes' last-listing counters, which every
  * request over the held relation overwrites. */
class WeatherZServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** One session with the extensions for the whole suite, so its serve
    * generation is built once. */
  private lazy val ext: SparkSession = withExtSession(identity)

  /** The file reads of an already-collected frame — each
    * `FileSourceScanExec` and each [[LocalServeExec]] — as (index, the
    * files it kept, its `numFiles` metric). A scan's kept files are its
    * index re-listed with the scan's own pushed data filters. */
  private def reads(df: DataFrame): Seq[(FileIndex, Seq[Path], Long)] = {
    val p = df.queryExecution.executedPlan
    val scans = fileScans(p).map { s =>
      val i = s.relation.location
      (i, i.listFiles(Nil, s.dataFilters).flatMap(_.files).map(_.getPath),
        s.metrics("numFiles").value)
    }
    val locals = p.collect { case l: LocalServeExec =>
      val i = l.plan.collectFirst { case r: LogicalRelation =>
        r.relation.asInstanceOf[HadoopFsRelation].location }.get
      (i, l.files.map(_.getPath), l.metrics("numFiles").value)
    }
    scans ++ locals
  }

  /** Files the query opened through `idx`. */
  private def opened(df: DataFrame, idx: ZoneMapFileIndex): Long =
    reads(df).collect { case (i, _, n) if i eq idx => n }.sum

  private def typeZone(which: String) = Some(StringZone(which, which, 0))

  /** Files of the layout behind `idx` whose data_type is `which`. */
  private def typeFiles(idx: ZoneMapFileIndex, which: String): Int =
    idx.currentEntries.count(_.cols.get("data_type") == typeZone(which))

  /** True when `df`'s plan reads only through zone-mapped indexes and
    * every file each read keeps is of data_type `which`, each kept file
    * looked up in the index's zone map by path. */
  private def keepsOnly(df: DataFrame, which: String): Boolean = {
    val rs = reads(df)
    rs.nonEmpty && rs.forall {
      case (idx: ZoneMapFileIndex, kept, _) =>
        val zones = idx.currentEntries
          .map(e => e.status.getPath -> e.cols.get("data_type")).toMap
        kept.nonEmpty && kept.forall(f => zones(f) == typeZone(which))
      case _ => false
    }
  }

  test("q27 history rides the zone-mapped relation: postal + window " +
      "prune most files and the forecast layout is refuted entirely; " +
      "rows identical to the in-memory gold") {
    val (zdf, idx) = WeatherZServe.zGoldWithIndex(ext, dir)
    val served = WeatherPipeline.history(zdf, "10011", 72, 24)
      .orderBy(col("timestamp"))
    val zRows = served.collect().toSeq
    assert(zRows.nonEmpty, "the fixture postal must have history rows")
    val memRows = WeatherPipeline.history(
        WeatherQueries.goldUnified(spark, dir), "10011", 72, 24)
      .orderBy(col("timestamp")).collect().toSeq
    assert(zRows === memRows,
      "the z-served history must equal the pipeline-served history")
    val total = typeFiles(idx, "observation")
    assert(opened(served, idx) < total / 2,
      s"one postal × 72h must prune most of the observation files " +
        s"(opened ${opened(served, idx)} of $total)")
    assert(keepsOnly(served, "observation"),
      "an observation-only query must keep no forecast file")
  }

  test("q177 region rollup: the postal PREFIX pushes as StartsWith, " +
      "prunes files, and equals the in-memory computation") {
    val (zdf, idx) = WeatherZServe.zGoldWithIndex(ext, dir)
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
    val zq = rollup(zdf)
    val zRows = zq.collect().toSeq
    assert(zRows.nonEmpty)
    assert(zRows === rollup(WeatherQueries.goldUnified(spark, dir))
      .collect().toSeq)
    val total = typeFiles(idx, "observation")
    assert(opened(zq, idx) < total,
      s"the 1001x prefix + 72h window must refute at least some " +
        s"observation files (opened ${opened(zq, idx)} of $total)")
  }

  test("q179 gold stats heartbeat is metadata-served: no file scan, " +
      "answers equal the in-memory aggregate incl. the null-aware " +
      "COUNT over derived NULL temperatures") {
    val df = WeatherZServe.q179GoldStats(spark, dir)
    val rows = df.collect().toSeq
    assert(fileScans(df.queryExecution.executedPlan).isEmpty,
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

    val (obsDf, obsIdx) = WeatherZServe.latestObsServed(ext, dir)
    val obsQ = obsDf.orderBy(col("postal_code"))
    val zObs = obsQ.collect().toSeq
    val mObs = WeatherPipeline.latestObservations(gold)
      .orderBy(col("postal_code")).collect().toSeq
    assert(zObs.nonEmpty && zObs === mObs,
      "the index-served latest observations must equal the two-pass view")
    val obsTotal = typeFiles(obsIdx, "observation")
    assert(opened(obsQ, obsIdx) < obsTotal / 2,
      s"the max-timestamp literal must open a strict minority of " +
        s"files (${opened(obsQ, obsIdx)} of $obsTotal)")

    val (fcDf, fcIdx) = WeatherZServe.latestFcServed(ext, dir)
    val fcQ = fcDf.orderBy(col("postal_code"), col("target_time"))
    val zFc = fcQ.collect().toSeq
    val mFc = WeatherPipeline.latestForecasts(gold)
      .orderBy(col("postal_code"), col("target_time")).collect().toSeq
    assert(zFc.nonEmpty && zFc === mFc,
      "the index-served latest forecasts must equal the two-pass view")
    val fcTotal = typeFiles(fcIdx, "forecast")
    assert(opened(fcQ, fcIdx) < fcTotal,
      s"the forecast files cluster on the ISSUE axis, so the max-issue " +
        s"literal must refute at least some of them " +
        s"(${opened(fcQ, fcIdx)} of $fcTotal)")
  }

  /** The four API endpoints as (name, a fresh request over the
    * z-laid-out gold of session `s`, the same endpoint over plain gold,
    * the data_type whose files alone its read may keep). */
  private def endpoints(s: SparkSession = spark): Seq[(String,
      () => DataFrame, DataFrame, String)] = {
    val plain = WeatherQueries.goldUnified(spark, dir)
    val from = lit("2024-01-28 00:00:00").cast("timestamp")
    Seq(
      ("history", () => WeatherPipeline.history(
          WeatherZServe.zGold(s, dir), "10011", 72, 24),
        WeatherPipeline.history(plain, "10011", 72, 24),
        "observation"),
      ("horizon", () => WeatherPipeline.forecastHorizon(
          WeatherZServe.zGold(s, dir), "10011", from, 48),
        WeatherPipeline.forecastHorizon(plain, "10011", from, 48),
        "forecast"),
      ("latestObs", () => WeatherQueries.latestObs(s, dir),
        WeatherPipeline.latestObservations(plain)
          .orderBy(col("postal_code")), "observation"),
      ("latestFc", () => WeatherQueries.latestFc(s, dir),
        WeatherPipeline.latestForecasts(plain)
          .orderBy(col("postal_code"), col("target_time")), "forecast"))
  }

  test("with the extensions, a warm API request under the row cap " +
      "launches no Spark job, reads only its own type's files on the " +
      "calling thread and returns the endpoint's rows over plain gold") {
    endpoints(ext).foreach { case (name, served, truth, which) =>
      served().collect() // warm: lands gold, builds the layout
      val df = served()
      val (rows, jobs) = countJobs(df.collect().toSeq)
      assert(jobs === 0,
        s"$name: a warm request under the cap must launch no Spark job")
      assert(rows.nonEmpty && rows === truth.collect().toSeq,
        s"$name: the served rows must equal the endpoint over plain gold")
      assert(df.queryExecution.executedPlan.isInstanceOf[LocalServeExec],
        s"$name: the plan must be the local node " +
          s"(got ${df.queryExecution.executedPlan})")
      assert(keepsOnly(df, which),
        s"$name: the local read must keep only $which files")
    }
  }

  test("with the extensions, a request whose kept files hold more rows " +
      "than the cap launches exactly one Spark job, its scan, and " +
      "returns the same rows") {
    // the held layout's own files behind an index whose zone map counts
    // one row more than the cap in every file: every kept set is over it
    val idx0 = WeatherZServe.zGoldWithIndex(ext, dir)._2
    val big = new ZoneMapFileIndex(idx0.rootPaths.head, () =>
      idx0.currentEntries.map(_.copy(rows = LocalServe.MaxRows + 1)))
    LocalServe.serve(big)
    try {
      val rel = HadoopFsRelation(big, new org.apache.spark.sql.types.StructType(),
        WeatherZServe.zGold(ext, dir).schema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(
        ext.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      val gold = ext.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(rel)
      def history() = WeatherPipeline.history(gold, "10011", 72, 24)
      history().collect() // warm
      val df = history()
      val (rows, jobs) = countJobs(df.collect().toSeq)
      assert(jobs === 1,
        "a request above the cap must launch exactly one Spark job")
      assert(fileScans(df.queryExecution.executedPlan).size === 1 &&
        df.queryExecution.executedPlan.collect { case l: LocalServeExec => l }
          .isEmpty, "a request above the cap must plan the ordinary scan")
      assert(rows.nonEmpty && rows === WeatherPipeline.history(
          WeatherQueries.goldUnified(spark, dir), "10011", 72, 24)
        .collect().toSeq,
        "the scanned rows must equal the endpoint over plain gold")
    } finally LocalServe.release(big)
  }

  test("a warm API request launches exactly one Spark job and returns " +
      "the endpoint's rows over plain gold") {
    // a session without the extensions plans every request as a scan
    endpoints().foreach { case (name, served, truth, _) =>
      served().collect() // warm: lands gold, builds the layouts
      val (rows, jobs) = countJobs(served().collect().toSeq)
      assert(jobs === 1,
        s"$name: a warm request must launch exactly one Spark job")
      assert(rows.nonEmpty && rows === truth.collect().toSeq,
        s"$name: the served rows must equal the endpoint over plain gold")
    }
  }

  test("a warm request reuses the held relation: one source stamp, no " +
      "rebuild; history and horizon plan one scan, over their own " +
      "type's layout") {
    endpoints().foreach { case (name, served, truth, which) =>
      served().collect() // warm
      val want = truth.collect().toSeq
      val idx = WeatherZServe.zGoldWithIndex(spark, dir)._2
      val (p0, b0) = (WeatherZServe.stampProbes.get(),
        WeatherZServe.servedBuilds.get())
      val df = served()
      val rows = df.collect().toSeq
      assert(WeatherZServe.stampProbes.get() - p0 === 1,
        s"$name: a warm request must compute the source stamp once")
      assert(WeatherZServe.servedBuilds.get() === b0,
        s"$name: a warm request must not build a new relation")
      assert(rows.nonEmpty && rows === want,
        s"$name: the served rows must equal the endpoint over plain gold")
      val scans = fileScans(df.queryExecution.executedPlan)
      assert(scans.size === 1 && (scans.head.relation.location eq idx),
        s"$name: the plan must hold exactly one scan, over the gold " +
          s"layout (got ${scans.map(_.relation.location)})")
      assert(keepsOnly(df, which),
        s"$name: the scan must keep only $which files")
    }
  }

  test("a corpus changed in place is served from its new landing's " +
      "generation; each session gets its own relation") {
    val corpus = TempDirs.create("wx_serve_fresh_")
    val goldDir = TempDirs.create("wx_serve_fresh_gold_")
    Seq("events", "customer", "nation").foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$t.parquet"),
      java.nio.file.Paths.get(s"$corpus/$t.parquet")))
    def history(gold: DataFrame) =
      WeatherPipeline.history(gold, "10011", 168, 100)
    def latestObsPlain() = WeatherPipeline.latestObservations(
        WeatherQueries.goldUnified(spark, corpus))
      .orderBy(col("postal_code")).collect().toSeq
    TempDirs.zConfLock.synchronized {
      spark.conf.set("spark.graft.weather.goldDir", goldDir)
      try {
        val before = WeatherQueries.latestObs(spark, corpus).collect().toSeq
        assert(before.nonEmpty && before === latestObsPlain())
        val Some((_, gen0)) = WeatherZServe.servedGenerations(spark, corpus)

        // a different feed: the corpus minus its last day, written by
        // Spark over the copy's events.parquet
        val ev = graft.sources.Tables.events(spark, corpus)
        val lastDay = ev.agg(max(date_trunc("day", col("ts")))).head()
          .getTimestamp(0)
        val sub = TempDirs.create("wx_serve_fresh_sub_")
        ev.filter(col("ts") < lit(lastDay)).coalesce(1)
          .write.mode("overwrite").parquet(sub)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(sub))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        java.nio.file.Files.copy(part,
          java.nio.file.Paths.get(s"$corpus/events.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)

        val after = WeatherQueries.latestObs(spark, corpus).collect().toSeq
        val Some((_, gen1)) = WeatherZServe.servedGenerations(spark, corpus)
        assert(gen1 > gen0,
          "the changed corpus must be served from a new layout generation")
        assert(after.nonEmpty && after != before,
          "dropping the last day must move the latest observations")
        assert(after === latestObsPlain(),
          "latestObs must equal the endpoint over the new plain gold")
        val zRows = history(WeatherZServe.zGold(spark, corpus)).collect()
          .toSeq
        assert(zRows.nonEmpty && zRows === history(
          WeatherQueries.goldUnified(spark, corpus)).collect().toSeq,
          "zGold must serve the new landing's rows")

        withExtSession { ext =>
          ext.conf.set("spark.graft.weather.goldDir", goldDir)
          val z = WeatherZServe.zGold(ext, corpus)
          assert((z.sparkSession eq ext) && (z.sparkSession ne spark),
            "zGold must return a frame of the calling session")
          assert(history(z).collect().toSeq === zRows)
        }
      } finally spark.conf.unset("spark.graft.weather.goldDir")
    }
  }

  test("the prewarm over a fresh gold dir builds exactly two layouts: " +
      "the type-pure serve layout and the daily rollup's") {
    val goldDir = TempDirs.create("wx_serve_prewarm_gold_")
    def names(p: java.nio.file.Path): Seq[String] = {
      val ls = java.nio.file.Files.list(p)
      try ls.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]
        .getFileName.toString).sorted
      finally ls.close()
    }
    // a session of its own carries the gold dir, so no other suite's
    // weather call lands under it
    withExtSession { ext =>
      ext.conf.set("spark.graft.weather.goldDir", goldDir)
      WeatherZServe.prewarm(ext, dir)
      val Seq(corpusGold) = names(java.nio.file.Paths.get(goldDir))
      assert(names(java.nio.file.Paths.get(goldDir, corpusGold))
        .filter(_.startsWith("z_")) === Seq("z_day"),
        "the prewarm must leave exactly one layout root")
      val idx = WeatherZServe.zGoldWithIndex(ext, dir)._2
      val impure = idx.currentEntries.filterNot(e =>
        Seq("data_type", "day").forall(c => e.cols.get(c).exists {
          case StringZone(lo, hi, 0) => lo == hi
          case LongZone(lo, hi, 0) => lo == hi
          case _ => false
        }))
      assert(impure.isEmpty,
        s"every layout file must hold one data_type and one day " +
          s"(got ${impure.map(_.cols)})")
      val perType = idx.currentEntries.groupBy(_.cols.get("data_type"))
        .map { case (z, es) => z -> es.size }
      assert(perType.keySet === Set(typeZone("observation"),
        typeZone("forecast")) && perType.values.forall(_ <= 16),
        s"both types must be laid out, at most 16 files per type " +
          s"(got $perType)")
    }
  }

  test("the next layout build sweeps the z_* roots older builds left " +
      "beside z_day and keeps the landing") {
    val goldDir = TempDirs.create("wx_serve_sweep_gold_")
    def names(p: java.nio.file.Path): Seq[String] = {
      val ls = java.nio.file.Files.list(p)
      try ls.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]
        .getFileName.toString).sorted
      finally ls.close()
    }
    withExtSession { s =>
      s.conf.set("spark.graft.weather.goldDir", goldDir)
      WeatherZServe.prewarm(s, dir)
      val Seq(corpusGold) = names(java.nio.file.Paths.get(goldDir))
      val root = java.nio.file.Paths.get(goldDir, corpusGold)
      val before = names(root)
      // what an older build leaves: a committed generation of a
      // superseded layout root
      Seq("z_gold", "z_daily").foreach { z =>
        val gen = java.nio.file.Files.createDirectories(root.resolve(s"$z/gen-0"))
        java.nio.file.Files.createFile(gen.resolve("_COMMITTED"))
      }
      assert(names(root) === (before ++ Seq("z_daily", "z_gold")).sorted)
      WeatherZServe.prewarm(s, dir)
      assert(names(root) === before && before.contains("z_day") &&
        before.exists(!_.startsWith("z_")),
        "the build must delete every superseded z_* root and keep the " +
          s"layout and the gold landing (got ${names(root)})")
    }
  }
}
