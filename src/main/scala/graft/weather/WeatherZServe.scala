package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Layout, ZIndex, ZTable}
import WeatherStats.id8
import graft.plans.ZoneMapFileIndex
import graft.util.Generations

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
  * The layout rides [[ZIndex]] maintenance ([[graft.util.Generations]]:
  * committed generations, mutation → rebuild) over a
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
    * `_SUCCESS` marker ([[Generations.landOnce]]); the z-layouts above
    * them commit through [[Generations]]. */
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

  /** Spec observables: gold landings actually WRITTEN in this JVM,
    * source stamps computed and serve relations built. */
  private[graft] val landWrites =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val stampProbes =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val servedBuilds =
    new java.util.concurrent.atomic.AtomicLong

  // Per-JVM unique bronze landing root: a fixed shared path + Overwrite
  // would let a concurrent JVM (bench and verify on the same corpus)
  // delete files a lazy scan in this JVM still references →
  // FileNotFound / silently short scans. Deleted at JVM exit.
  private lazy val bronzeRoot: String =
    WeatherStats.jvmTempRoot("graft_bronze_weather_")

  /** One generation of one (session, corpus dir): the gold root and
    * source stamp it was built for (events + both dim sources, one
    * entry per table), the stamp-addressed bronze and gold landings
    * they name, the cached pipeline frames ([[WeatherQueries]] builds
    * them through [[frame]]) and the serve relations ([[served]]).
    * [[generation]] replaces a stale entry and unpersists its frames.
    *
    * LOCK ORDER. A thread holding one of these locks takes only later
    * ones, so no cycle can form:
    *   1. the entry's `serveLock` — building its serve relations;
    *   2. a ZIndex root lock — the layout builds behind them;
    *   3. the gold landing's path lock ([[Generations.landOnce]]);
    *   4. the entry's monitor — building one of its frames (builders
    *      nest: goldObs builds stgObs), or retiring it;
    *   5. the bronze landing's path lock, or WeatherStats.dims' lock.
    * Hits take none of them: the generation map, the frames and the
    * serve relations are read lock-free, and a gold frame finds a
    * committed landing by a marker probe, not under the landing lock. */
  private[weather] final class Generation(val s: SparkSession,
      val d: String, val root: String, val stamps: Seq[String]) {

    // the bronze landing is keyed by the events feed alone — not by
    // session (every session reads the same files) and not by the dims
    // (a dims change re-derives gold, not the raw feed). The corpus dir
    // is sanitized for readability; its md5 keeps /data/x and /data_x
    // apart
    private val bronzePath =
      s"$bronzeRoot/${d.replaceAll("[^A-Za-z0-9._-]", "_")}_${id8(d)}" +
        s"/${id8(stamps.head)}/events"
    private val goldPath = s"$root/${id8(d)}/" +
      s"${id8(stamps.mkString("\n--\n"))}/gold.parquet"

    private val frames =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    private var retired = false // guarded by this

    /** The frame `key` of this generation, built and cached once. */
    def frame(key: String)(build: => DataFrame): DataFrame =
      Option(frames.get(key)).getOrElse(synchronized {
        Option(frames.get(key)).getOrElse {
          // a frame built for a retired entry serves its caller uncached
          val df = if (retired) build else build.cache()
          frames.put(key, df)
          df
        }
      })

    private[WeatherZServe] def retire(): Unit = synchronized {
      retired = true
      frames.values.forEach(_.unpersist(blocking = false))
    }

    /** The landed bronze events feed: the raw corpus ships ts as INT64
      * TIMESTAMP(NANOS), whose ns→µs conversion keeps the cleaning
      * ladder's 168h time filter out of `PushedFilters`. Landing it
      * once through sources/Bronze (native µs ts + event_date
      * partitioning — the reference's BRIN-index analogue,
      * sql/schema.sql:278-292) makes that filter prune at the reader
      * (WeatherBronzeSpec). Rows are identical to the raw feed. */
    def landBronze(): String =
      Generations.landOnce(s, bronzePath)(
        graft.sources.Bronze.landEvents(s, d, bronzePath))

    /** The committed gold landing, if any: one marker probe, no lock. */
    def committedGold: Option[String] =
      Some(goldPath).filter(Generations.landed(s, _))

    /** Land the unified gold (observations + forecasts — the
      * reference's single `weather_data_gold` table) once per stamp;
      * returns the landed parquet path. The write is one pass over
      * this generation's gold frames. */
    def landGold(): String = Generations.landOnce(s, goldPath) {
      landWrites.incrementAndGet()
      WeatherQueries.goldUnified(this)
        .write.mode("overwrite").parquet(goldPath)
    }

    @volatile private[WeatherZServe] var served: Served = _
    private[WeatherZServe] val serveLock = new Object
  }

  /** The corpus tables gold derives from: the weather feed plus both
    * dim sources (stations ← customer, postal ← nation). */
  private val GoldSources =
    Seq("events.parquet", "customer.parquet", "nation.parquet")

  private val generations = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Generation]()

  /** The current generation of (session, corpus dir). The source stamp
    * (three file-status probes) is computed once, on the caller's
    * thread and outside any lock; a hit takes no lock. A moved stamp or
    * gold root replaces the entry. */
  private[weather] def generation(s: SparkSession, d: String): Generation = {
    stampProbes.incrementAndGet()
    val stamps = WeatherStats.sourceStamp(s, d, GoldSources)
    val root = goldRoot(s)
    def current(g: Generation) =
      g != null && g.root == root && g.stamps == stamps
    val hit = generations.get((s, d))
    if (current(hit)) hit
    else {
      var stale: Option[Generation] = None
      val g = generations.compute((s, d), (_, cur) =>
        if (current(cur)) cur
        else { stale = Option(cur); new Generation(s, d, root, stamps) })
      stale.foreach(_.retire())
      g
    }
  }

  /** Drop every generation, unpersisting its frames and releasing its
    * serve relations ([[WeatherQueries.clear]]). Landings stay on disk
    * and stay valid: the next generation finds them committed. */
  private[weather] def clearGenerations(): Unit =
    generations.forEach((k, g) => if (generations.remove(k, g)) g.retire())

  private def landedGold(s: SparkSession, d: String): String =
    generation(s, d).landGold()

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
    // [[served]]'s relations, built through here once per generation.
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
        s"${goldRoot(s)}/${id8(d)}/z_${which.take(3)}"))
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
      rootOverride = Some(s"${goldRoot(s)}/${id8(d)}/z_all"))
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
      rootOverride = Some(s"${goldRoot(s)}/${id8(d)}/z_daily"))

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
      * layout: the generation is still committed. */
    def committed(s: SparkSession): Boolean =
      Generations.isCommitted(Generations.fsOf(s, root), root, gen)
  }

  /** The serve relations of one generation. `gold` is the TYPE-PURE
    * union: each branch filters to the data_type its layout's `prep`
    * already guarantees, so the answers cannot change, and Catalyst's
    * optimizer drops the branch a data_type predicate contradicts — a
    * history or horizon request plans one scan, over its own type's
    * layout. */
  private final case class Served(obs: Held, fc: Held) {
    val gold: DataFrame =
      obs.df.filter(col("data_type") === "observation")
        .unionByName(fc.df.filter(col("data_type") === "forecast"))
  }

  private def held(s: SparkSession, d: String, which: String,
      tsCol: String): Held = {
    val t = goldZTable(s, d, which)
    val (df, idx) = ZIndex.zFrame(s, d, t)
    // a memo hit: the generation the index just resolved
    val (root, gen) = ZIndex.ensure(s, d, t)
    Held(df, idx, root, gen, zoneMax(idx.currentEntries, tsCol))
  }

  /** The current generation's serve relations. A hit costs the source
    * stamp and the two commit-marker probes; a new generation or a
    * missing marker rebuilds through the ordinary [[ZIndex.zFrame]] /
    * [[ZIndex.ensure]] path, once, under the generation's serve lock. */
  private def served(s: SparkSession, d: String): Served = {
    val g = generation(s, d)
    def fresh(e: Served): Boolean =
      e != null && e.obs.committed(s) && e.fc.committed(s)
    val hit = g.served
    if (fresh(hit)) hit
    else g.serveLock.synchronized {
      if (!fresh(g.served)) { // else built while this thread waited
        servedBuilds.incrementAndGet()
        g.served = Served(held(s, d, "observation", "timestamp"),
          held(s, d, "forecast", "forecast_timestamp"))
      }
      g.served
    }
  }

  /** The serve relation: unified gold (obs ∪ fc layouts) behind
    * zone-mapped FileIndexes, reused across requests while the corpus
    * generation and both layout generations stand ([[served]]). Every
    * predicate the serve queries push — postal equality/prefix,
    * time-window range — gets per-file refutation from the planner; a
    * data_type-specific query never plans the OTHER type's layout. */
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
    Option(generations.get((s, d))).flatMap(g => Option(g.served)).map(e =>
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
    // parquet — fan them out, one thread each (guide §2.6; serial they
    // cost ~1.5 s each, the fan-out then costs their max)
    ZIndex.ensureAll(s, d, Seq(
      goldZTable(s, d, "observation"), goldZTable(s, d, "forecast"),
      goldAllZTable(s, d), goldDailyZTable(s, d)))
    stamp("z_layouts")
  }
}
