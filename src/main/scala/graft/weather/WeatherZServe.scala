package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KmvTable, Layout, ZIndex, ZTable}
import graft.plans.ZoneMapFileIndex

/** The weather SERVE path riding the z-skipping layer: gold — the
  * table every API read hits — landed once per corpus as a durable
  * z-clustered layout by (postal_code, hour), and the serve queries
  * (q27 history, q24/q25 latest snapshots) reading it through a
  * [[graft.plans.ZoneMapFileIndex]] relation.
  *
  * This replaces the reference's OWN index surface on its OWN query
  * surface: `sql/schema.sql:278-305` B-tree-indexes gold on
  * (postal_code, timestamp) precisely so the history endpoint
  * (`weather.py:28-51`) can serve a (postal, time-window) predicate
  * without a table scan. Here the same predicate reaches
  * `ZoneMapFileIndex.listFiles` as pushed filters — equality on the
  * postal STRING zone, a range on the hour's timestamp zone — and
  * opens only the files whose exact footer bounds admit the pair
  * (WeatherZServeSpec pins files_opened ≪ files_total AND result
  * parity with the in-memory pipeline frames; the driver oracles
  * q24/q25/q27 against unchanged SQL — the results do not move, only
  * the scan does).
  *
  * The layout rides the full [[ZIndex]] maintenance contract
  * (generations, `_COMMITTED`, mutation → rebuild) over a
  * STAMP-ADDRESSED landing of gold ([[WeatherStats.dims]]'
  * discipline): a corpus regenerated in place lands fresh gold to a
  * new dir, and the layout's consumed-identity diff sees the swap as
  * a mutation and reclusters. At 100 TB gold is years × country of
  * hourly rows; the serve path opening ~1/nFiles of it per postal
  * query is the difference between an API and a batch job. */
object WeatherZServe {

  /** The gold landing + layout root — DURABLE (r15 verdict #4): a
    * fixed conf-rooted location (`spark.graft.weather.goldDir`,
    * default a stable path under the system tmpdir), not a per-JVM
    * temp dir, so the TBLPROPERTIES record a weather z-table carries
    * survives the JVM: a fresh session whose corpus stamp matches
    * re-arms q182/q183/q187 from the committed layouts on disk —
    * no gold re-land, no recluster (WeatherGoldDurableSpec pins the
    * zero-build re-resolve). Landings are stamp-addressed (corpus
    * regeneration lands to a new subdir) and committed by the parquet
    * `_SUCCESS` marker; the z-layouts above them ride ZIndex's own
    * `_COMMITTED` generation contract. */
  private def goldRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.weather.goldDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_wx_gold")

  // the gold layout contracts are resolvable BY NAME for
  // TBLPROPERTIES-driven re-arming (ZoneMapScanSwap.arm): a session
  // that sees the q179 catalog table but never called the registration
  // rebuilds the contract from (its own session, the recorded dir)
  graft.plans.ZoneMapScanSwap.registerContract("weather_gold_obs",
    (s, d) => goldZTable(s, d, "observation"))
  graft.plans.ZoneMapScanSwap.registerContract("weather_gold_for",
    (s, d) => goldZTable(s, d, "forecast"))
  graft.plans.ZoneMapScanSwap.registerContract("weather_gold_all",
    (s, d) => goldAllZTable(s, d))
  graft.plans.ZoneMapScanSwap.registerContract("weather_gold_daily",
    (s, d) => goldDailyZTable(s, d))

  /** Stamp-addressed land dirs already probed-or-written in this JVM
    * (a memo over the durable `_SUCCESS` probe, not the truth). */
  private val landed = scala.collection.mutable.Set.empty[String]
  /** Spec observables: gold landings actually WRITTEN in this JVM,
    * source stamps computed and serve relations built, and the
    * fresh-JVM simulation hook (it drops the serve memo too, so a
    * re-resolve after it really goes back to disk). */
  private[graft] val landWrites =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val stampProbes =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val servedBuilds =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] def clearLanded(): Unit = {
    landed.synchronized { landed.clear() }
    clearServed()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Gold's full upstream identity: the weather feed plus both dim
    * sources (stations ← customer, postal ← nation). */
  private[weather] def sourceStamp(s: SparkSession, d: String): String = {
    stampProbes.incrementAndGet()
    Seq("events.parquet", "customer.parquet", "nation.parquet")
      .map(t => KmvTable.stampOfPath(s, s"$d/$t"))
      .mkString("\n--\n")
  }

  /** The stamp-addressed landing path for this corpus. The source
    * stamp (three file-status probes) is computed by the caller's own
    * thread, outside [[landed]]'s lock: a serve request computes it
    * once ([[served]]), and concurrent requests must not queue behind
    * each other's file-system probes. */
  private def goldPath(s: SparkSession, d: String): String = {
    val stamp = sourceStamp(s, d)
    s"${goldRoot(s)}/${md5hex(d).take(8)}/${md5hex(stamp).take(8)}" +
      "/gold.parquet"
  }

  private def committedMarker(s: SparkSession, path: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
    marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** The committed landing for this corpus stamp, if one already exists
    * on the durable root — a marker PROBE only, never a build (so
    * [[WeatherQueries]]' gold builders can serve from it without the
    * circularity of triggering the landing that computes them). Returns
    * None on a cold root; the probe costs the three source-stamp
    * file-status calls plus one FS exists, KB-scale driver metadata. */
  private[weather] def committedGoldPath(
      s: SparkSession, d: String): Option[String] = {
    val path = goldPath(s, d)
    if (landed.synchronized(landed(path))) Some(path)
    else if (committedMarker(s, path)) {
      landed.synchronized { landed += path }
      Some(path)
    } else None
  }

  /** Land the unified gold (observations + forecasts — the reference's
    * single `weather_data_gold` table) once per (JVM, corpus stamp);
    * returns the landed parquet path. The write is one pass over the
    * already-memoized gold frames. The lock covers only the set lookup
    * and, on a miss, the landing itself. */
  private def landedGold(s: SparkSession, d: String): String = {
    val path = goldPath(s, d)
    landed.synchronized {
      if (!landed(path)) {
        // the root is durable: a COMPLETE landing from a prior JVM
        // (parquet's own `_SUCCESS` commit marker) is reused as-is; a
        // crash leftover (no marker) is overwritten whole
        if (!committedMarker(s, path)) {
          landWrites.incrementAndGet()
          WeatherQueries.goldUnified(s, d)
            .write.mode("overwrite").parquet(path)
        }
        landed += path
      }
    }
    path
  }

  /** Gold's layout contract, ONE LAYOUT PER data_type (the
    * reference's gold is one table with a discriminator; splitting the
    * physical layout by it makes every per-type zone — in particular
    * the timestamp maxima the latest-snapshot serves ride — exact for
    * that type): cluster by the DERIVED pair (numeric postal sort key,
    * hour epoch) — the composite the reference B-trees — while the
    * zone map records the real postal_code / timestamp /
    * forecast_timestamp / data_type columns for refutation. */
  private def goldZTable(s: SparkSession, d: String,
      which: String): ZTable = {
    // each layout clusters on the time axis ITS serve predicates hit:
    // obs → target hour (q27's window, q24's max-hour literal), fc →
    // issue timestamp (q25's max-issue literal) — the zone map still
    // records BOTH time columns either way
    val tsCol = if (which == "forecast") "forecast_timestamp"
      else "timestamp"
    // feed/load resolve the landing LAZILY (a source-stamp probe per
    // feedOf/load call): a registry-held instance (the q179 catalog
    // face) must follow a regenerated corpus to its fresh
    // stamp-addressed landing instead of pinning the path captured at
    // registration. Serve requests do not pay it per call: they reuse
    // [[served]]'s relations, built through here once per landing.
    ZTable(s"weather_gold_${which.take(3)}",
      _ => landedGold(s, d),
      (s2, _) => s2.read.parquet(landedGold(s2, d)),
      "postal_code", tsCol, // informational; clusterWith overrides
      nFiles = 16,
      clusterWith = Some((df, n) => Layout.clusterByZ(
        df.withColumn("__zx", col("postal_code").cast("long"))
          .withColumn("__zy", unix_timestamp(col(tsCol))),
        "__zx", "__zy", n).drop("__zx", "__zy")),
      prep = Some(_.filter(col("data_type") === which)),
      // the weather layouts live under the JVM's own gold root,
      // INDEPENDENT of spark.graft.zindex.dir (r14 ADVICE: a layout
      // landed while a parallel z-suite steered that conf used to
      // resolve into — and rebuild across — the other suite's temp
      // root); stable per (corpus dir, data_type) within the JVM
      rootOverride = Some(
        s"${goldRoot(s)}/${md5hex(d).take(8)}/z_${which.take(3)}"))
  }

  /** The UNIFIED gold layout — the reference's single
    * `weather_data_gold` table as ONE catalog object, physically
    * type-pure per file: each data_type z-clusters on (postal, its own
    * serve time axis) into its half of the files, and the union's
    * partitions concatenate, so every written file carries exactly one
    * data_type. That makes the data_type zone SINGLE-VALUED
    * (lo == hi, nulls == 0) in every file — the precondition for
    * [[graft.plans.ZoneAggServe]]'s grouped metadata serve (q182) —
    * while postal/time predicates still prune within each type's
    * stripe. */
  private def goldAllZTable(s: SparkSession, d: String): ZTable = {
    def half(df: DataFrame, which: String, tsCol: String, n: Int) =
      Layout.clusterByZ(
        df.filter(col("data_type") === which)
          .withColumn("__zx", col("postal_code").cast("long"))
          .withColumn("__zy", unix_timestamp(col(tsCol))),
        "__zx", "__zy", n).drop("__zx", "__zy")
    ZTable("weather_gold_all",
      _ => landedGold(s, d),
      (s2, _) => s2.read.parquet(landedGold(s2, d)),
      "postal_code", "timestamp", // informational; clusterWith overrides
      nFiles = 16,
      clusterWith = Some((df, n) =>
        half(df, "observation", "timestamp", math.max(1, n / 2))
          .unionByName(half(df, "forecast", "forecast_timestamp",
            math.max(1, n - n / 2)))),
      rootOverride = Some(s"${goldRoot(s)}/${md5hex(d).take(8)}/z_all"))
  }

  /** The DAILY-ROLLUP layout (r15 verdict #3's consumer): unified gold
    * with a derived `day` column (prep — recorded in the zone map like
    * any other column), physically partitioned so every file is pure
    * on BOTH (data_type, day) — [[Layout.partitionPureBy]]'s exact
    * partitioner, the property hash/range repartitioning cannot
    * guarantee. That makes the composite group key single-valued per
    * file, so the daily per-type rollup (q187) folds entirely from
    * footer statistics. One file per (type, day) here; production
    * sets `subSplits` by group volume (purity is preserved). */
  private def goldDailyZTable(s: SparkSession, d: String): ZTable =
    ZTable("weather_gold_daily",
      _ => landedGold(s, d),
      (s2, _) => s2.read.parquet(landedGold(s2, d)),
      "postal_code", "timestamp", // informational; clusterWith overrides
      nFiles = 16, // informational; one file per (type, day)
      clusterWith = Some((df, _) =>
        graft.operators.Layout.partitionPureBy(
          df, Seq("data_type", "day"))),
      prep = Some(df => df.withColumn("day", to_date(col("timestamp")))),
      rootOverride = Some(s"${goldRoot(s)}/${md5hex(d).take(8)}/z_daily"))

  /** q187 — the MULTI-KEY grouped metadata serve (r15 verdict #3): the
    * daily layer report — `GROUP BY data_type, day` — over the
    * (type, day)-pure layout. Every file is single-valued on BOTH
    * keys, so the files partition exactly by the composite group and
    * each (type, day)'s COUNT/MIN/MAX folds from its own footers —
    * zero tasks for the monitoring rollup a time-partitioned gold
    * table gets hit with daily (GoldHeartbeatSpec pins the scan-free
    * plan and the bail when any key is non-constant in any file; the
    * driver oracles it at three scales). */
  def q187GoldDailyRollup(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldDailyZTable(s, d))
    s.sql(
      s"""SELECT data_type, day, COUNT(*) AS n_rows,
         |  MIN(timestamp) AS min_hour, MAX(timestamp) AS max_hour,
         |  COUNT(temperature_avg) AS n_temp,
         |  MIN(postal_code) AS min_postal, MAX(postal_code) AS max_postal
         |FROM $tbl
         |GROUP BY data_type, day
         |ORDER BY data_type, day""".stripMargin)
  }

  /** q188 — the day INVENTORY, metadata-served including
    * COUNT(DISTINCT): over the (type, day)-pure daily layout, every
    * file's `day` zone is a constant, so the per-type distinct-day
    * count is the number of distinct file constants — with the
    * first/last-day bounds and the row count, the "which days do we
    * actually have" completeness probe costs zero tasks. A DISTINCT
    * over any non-constant column (postal_code) bails to the scan
    * with the same answer (GoldHeartbeatSpec pins both). */
  def q188GoldDayInventory(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldDailyZTable(s, d))
    s.sql(
      s"""SELECT data_type, COUNT(DISTINCT day) AS n_days,
         |  COUNT(*) AS n_rows,
         |  MIN(day) AS first_day, MAX(day) AS last_day
         |FROM $tbl
         |GROUP BY data_type
         |ORDER BY data_type""".stripMargin)
  }

  /** q182 — the per-type heartbeat the reference's layer report runs
    * (`README.md:144-153`: row counts and freshness per gold layer/
    * type), METADATA-SERVED as a GROUPED aggregate: `GROUP BY
    * data_type` over the unified gold table, where every file's
    * data_type zone is a constant — the files partition exactly by
    * group and each group's COUNT/MIN/MAX folds from its own footer
    * statistics. Zero tasks for the monitoring query a multi-type
    * table gets hit with most (GoldHeartbeatSpec pins the scan-free
    * plan, the bail path on the mixed-type layout, and result
    * equality; the driver oracles it at three scales). */
  def q182GoldHeartbeat(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldAllZTable(s, d))
    s.sql(
      s"""SELECT data_type, COUNT(*) AS n_rows,
         |  MIN(timestamp) AS min_hour, MAX(timestamp) AS max_hour,
         |  COUNT(temperature_avg) AS n_temp,
         |  MIN(postal_code) AS min_postal, MAX(postal_code) AS max_postal
         |FROM $tbl
         |GROUP BY data_type
         |ORDER BY data_type""".stripMargin)
  }

  /** q183 — the FILTERED freshness probe, metadata-served: the same
    * unified gold table, `WHERE data_type = 'observation'` — the
    * question an operator actually asks ("how fresh are the
    * observations?") over the multi-type table. Every file's
    * data_type zone is single-valued, so the predicate admits or
    * excludes whole files exactly and the aggregates fold over the
    * admitted half ([[graft.plans.ZoneAggServe]]'s filtered serve) —
    * zero tasks; a predicate touching any non-single-valued column
    * bails to the ordinary pruned scan, same answer (GoldHeartbeatSpec
    * pins both). Oracle: the same aggregates over the gold_obs CTE. */
  def q183GoldFreshness(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldAllZTable(s, d))
    s.sql(
      s"""SELECT COUNT(*) AS n_rows,
         |  MIN(timestamp) AS min_hour, MAX(timestamp) AS max_hour,
         |  COUNT(temperature_avg) AS n_temp,
         |  MIN(postal_code) AS min_postal, MAX(postal_code) AS max_postal
         |FROM $tbl
         |WHERE data_type = 'observation'""".stripMargin)
  }

  /** One gold layout as a held serve relation: the unfiltered
    * [[ZIndex.zFrame]] relation and its index, the committed
    * generation it resolved, and that generation's table-wide max of
    * the layout's serve time axis from the zone map. */
  private final case class Held(df: DataFrame, idx: ZoneMapFileIndex,
      root: String, gen: Long, latest: Option[Long]) {
    /** The probe [[ZIndex.ensure]] keeps for an externally wiped
      * layout: the generation's `_COMMITTED` marker still exists. */
    def committed(s: SparkSession): Boolean = {
      val m = new org.apache.hadoop.fs.Path(s"$root/gen-$gen/_COMMITTED")
      m.getFileSystem(s.sparkContext.hadoopConfiguration).exists(m)
    }
  }

  /** The serve relations of one (session, corpus) for one gold landing.
    * `gold` is the TYPE-PURE union: each branch filters to the data_type
    * its layout's `prep` already guarantees, so the answers cannot
    * change, and Catalyst's optimizer drops the branch a data_type
    * predicate contradicts — a history or horizon request plans one
    * scan, over its own type's layout. */
  private final case class Served(landing: String, obs: Held, fc: Held) {
    val gold: DataFrame =
      obs.df.filter(col("data_type") === "observation")
        .unionByName(fc.df.filter(col("data_type") === "forecast"))
  }

  /** (session, corpus dir) → the serve relations of the landing they
    * were built over. A hit costs one source stamp and two marker
    * probes; a changed stamp or a missing marker rebuilds through the
    * ordinary [[ZIndex.zFrame]] / [[ZIndex.ensure]] path, once, under
    * the key's lock. */
  private val servedMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Served]()
  private val servedLocks = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Object]()

  private[graft] def clearServed(): Unit = servedMemo.clear()

  private def held(s: SparkSession, d: String, which: String,
      tsCol: String): Held = {
    val t = goldZTable(s, d, which)
    val (df, idx) = ZIndex.zFrame(s, d, t)
    // a memo hit: the generation the index just resolved
    val (root, gen) = ZIndex.ensure(s, d, t)
    Held(df, idx, root, gen, zoneMax(idx.currentEntries, tsCol))
  }

  private def served(s: SparkSession, d: String): Served = {
    val landing = goldPath(s, d)
    val key = (s, d)
    def fresh(e: Served): Boolean = e != null && e.landing == landing &&
      e.obs.committed(s) && e.fc.committed(s)
    val hit = servedMemo.get(key)
    if (fresh(hit)) hit
    else servedLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = servedMemo.get(key)
      if (fresh(again)) again // built while this thread waited
      else {
        servedBuilds.incrementAndGet()
        val e = Served(landing,
          held(s, d, "observation", "timestamp"),
          held(s, d, "forecast", "forecast_timestamp"))
        servedMemo.put(key, e)
        e
      }
    }
  }

  /** The serve relation: unified gold (obs ∪ fc layouts) behind
    * zone-mapped FileIndexes, reused across requests while the landing
    * and both generations stand ([[served]]). Every predicate the serve
    * queries push — postal equality/prefix, time-window range — gets
    * per-file refutation from the planner; a data_type-specific query
    * never plans the OTHER type's layout. */
  private[graft] def zGoldWithIndexes(s: SparkSession, d: String)
      : (DataFrame, Seq[ZoneMapFileIndex]) = {
    val e = served(s, d)
    (e.gold, Seq(e.obs.idx, e.fc.idx))
  }

  def zGold(s: SparkSession, d: String): DataFrame = served(s, d).gold

  /** Exact table-wide max of a long-zoned column from the zone map
    * alone (max ignores nulls, so all-null files drop out); None —
    * fall back to an aggregate scan — if any file's footer carried no
    * stats, or no file holds a non-null value. */
  private def zoneMax(entries: Seq[graft.plans.ZoneFile], c: String)
      : Option[Long] = {
    val zs = entries.map(_.cols.get(c.toLowerCase))
    if (zs.exists(z => z.isEmpty ||
        z.contains(graft.plans.KeepAllZone))) None
    else zs.flatten.collect {
      case graft.plans.LongZone(_, hi, _) => hi
    } match {
      case Seq() => None
      case hs => Some(hs.max)
    }
  }

  /** q24 served FROM THE INDEX: the view's "rows at the single global
    * max timestamp" (`sql/schema.sql:312-328`) with the max taken from
    * the obs layout's timestamp zones — exact footer statistics, KB on
    * the driver, read once per generation — and pushed as a LITERAL
    * equality, so the scan opens only the file(s) whose bounds admit
    * it. This is the reference's ORDER-BY-DESC-LIMIT-via-B-tree serve
    * (O1) re-expressed: the runtime two-pass (agg + re-scan) becomes
    * one consult + one pruned read. Stats-less files → the sound
    * fallback IS the two-pass. */
  private[graft] def latestObsServed(s: SparkSession, d: String)
      : (DataFrame, ZoneMapFileIndex) = {
    val h = served(s, d).obs
    val out = h.latest match {
      case Some(m) => h.df
        .filter(col("timestamp") === timestamp_micros(lit(m)))
        .select(col("postal_code"), col("timestamp"),
          col("temperature_avg"), col("precipitation_sum"),
          col("wind_speed_avg"), col("cloud_cover_avg"),
          col("num_stations"), col("avg_quality_score"))
      case None => WeatherPipeline.latestObservations(h.df)
    }
    (out, h.idx)
  }

  /** q25's analogue over the forecast layout: latest ISSUE snapshot,
    * max_issue from the forecast_timestamp zones. */
  private[graft] def latestFcServed(s: SparkSession, d: String)
      : (DataFrame, ZoneMapFileIndex) = {
    val h = served(s, d).fc
    val out = h.latest match {
      case Some(m) => h.df
        .filter(col("forecast_timestamp") === timestamp_micros(lit(m)))
        .select(col("postal_code"), col("forecast_timestamp"),
          col("timestamp").as("target_time"), col("temperature_avg"),
          col("precipitation_sum"), col("wind_speed_avg"),
          col("cloud_cover_avg"), col("num_stations"))
      case None => WeatherPipeline.latestForecasts(h.df)
    }
    (out, h.idx)
  }

  /** The committed (root, generation) of each layout the memoized serve
    * relations read, obs then fc — None before the first request. */
  private[graft] def servedGenerations(s: SparkSession, d: String)
      : Option[((String, Long), (String, Long))] =
    Option(servedMemo.get((s, d))).map(e =>
      ((e.obs.root, e.obs.gen), (e.fc.root, e.fc.gen)))

  /** q179 — the DERIVED table's stats heartbeat, metadata-served: the
    * gold-observations layout registered through the same catalog face
    * as lineitem ([[graft.operators.ZCatalog]]), and an un-grouped
    * COUNT/MIN/MAX answered by [[graft.plans.ZoneAggServe]] from its
    * zone map — zero tasks over a table the engine itself maintains.
    * COUNT(temperature_avg) exercises the null-aware path on REAL
    * derived nulls (the IDW shared-denominator trap's NULLs survive
    * into gold); if any footer ever lacked stats the rule falls back
    * to the ordinary scan, same answer. Oracle: the same aggregates
    * over the oracle's own gold_obs CTE. */
  def q179GoldStats(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldZTable(s, d, "observation"))
    s.sql(
      s"""SELECT COUNT(*) AS n_rows,
         |  MIN(postal_code) AS min_postal, MAX(postal_code) AS max_postal,
         |  COUNT(temperature_avg) AS n_temp,
         |  MIN(num_stations) AS min_stations,
         |  MAX(num_stations) AS max_stations
         |FROM $tbl""".stripMargin)
  }

  /** Spec accessor for the unified layout contract (the durability
    * spec resolves generations through it). */
  private[graft] def goldAllTable(s: SparkSession, d: String): ZTable =
    goldAllZTable(s, d)

  /** Bench prewarm: land gold + build both layouts outside the serve
    * queries' timings (the priced-prewarm convention). */
  def prewarm(s: SparkSession, d: String): Unit = {
    // per-stage stderr attribution (the [bench]/[lshpairs] convention):
    // the cold landing + four layout builds are a driver-visible
    // prewarm key, so the cost split must read from the log
    var t0 = System.nanoTime()
    def stamp(which: String): Unit = {
      System.err.println(f"[wxzserve] $which ${(System.nanoTime() - t0) / 1e9}%.3f")
      t0 = System.nanoTime()
    }
    landedGold(s, d)
    stamp("land_gold")
    // the four layouts are independent builds over the one landed gold
    // parquet — fan them under one pinned conf window (guide §2.6;
    // serial they cost ~1.5 s each, the window then costs their max)
    ZIndex.ensureAll(s, d, Seq(
      goldZTable(s, d, "observation"), goldZTable(s, d, "forecast"),
      goldAllZTable(s, d), goldDailyZTable(s, d)))
    stamp("z_layouts")
  }
}
