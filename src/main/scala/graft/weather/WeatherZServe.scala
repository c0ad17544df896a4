package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Layout, ZIndex, ZTable}
import WeatherStats.id8
import graft.plans.{LocalServe, ZoneMapFileIndex}
import graft.util.Generations

/** The weather SERVE path riding the z-skipping layer: gold — the
  * table every API read hits — landed once per corpus as ONE durable
  * layout, pure per file on (data_type, day) and range-split on
  * postal_code inside each group, and every gold reader (q27 history,
  * the forecast horizon, q24/q25 latest snapshots, q177, and the
  * metadata-served q179/q182/q183/q187/q188) reading it through one
  * [[graft.plans.ZoneMapFileIndex]] relation or its catalog face: a
  * request's data_type predicate refutes the other type's files, its
  * time and postal predicates the other days' and postal ranges'.
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
  * the scan does). A request whose kept files are few is read on the
  * calling thread with no Spark job ([[graft.plans.LocalServe]], in a
  * session with the extensions).
  *
  * The layout rides [[ZIndex]] maintenance ([[graft.util.Generations]]:
  * committed generations, mutation → rebuild) over a
  * STAMP-ADDRESSED landing of gold ([[WeatherStats.dims]]'
  * discipline): a corpus regenerated in place lands fresh gold to a
  * new dir, and the layout's consumed-identity diff sees the swap as
  * a mutation and reclusters. At 100 TB gold is years × country of
  * hourly rows; the serve path opening a few (day, postal range)
  * files per query is the difference between an API and a batch job. */
object WeatherZServe {

  /** The gold landing + layout root — DURABLE (r15 verdict #4): a
    * fixed conf-rooted location (`spark.graft.weather.goldDir`,
    * default a stable path under the system tmpdir), not a per-JVM
    * temp dir, so the TBLPROPERTIES record a weather z-table carries
    * survives the JVM: a fresh session whose corpus stamp matches
    * re-arms q182/q183/q187 from the committed layout on disk —
    * no gold re-land, no recluster (WeatherGoldDurableSpec pins the
    * zero-build re-resolve). Landings are stamp-addressed (corpus
    * regeneration lands to a new subdir) and committed by the parquet
    * `_SUCCESS` marker ([[Generations.landOnce]]); the layout above
    * them commits through [[Generations]]. */
  private def goldRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.weather.goldDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_wx_gold")

  // the gold layout contract is resolvable BY NAME for
  // TBLPROPERTIES-driven re-arming (ZoneMapScanSwap.arm): a session
  // that sees the q179 catalog table but never called the registration
  // rebuilds the contract from (its own session, the recorded dir)
  graft.plans.ZoneMapScanSwap.registerContract("weather_gold_all",
    (s, d) => goldAllZTable(s, d))

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
    * them through [[frame]]) and the serve relation ([[served]]).
    * [[generation]] replaces a stale entry and unpersists its frames.
    *
    * LOCK ORDER. A thread holding one of these locks takes only later
    * ones, so no cycle can form:
    *   1. the entry's `serveLock` — building its serve relation;
    *   2. a ZIndex root lock — the layout build behind it;
    *   3. the gold landing's path lock ([[Generations.landOnce]]);
    *   4. the entry's monitor — building one of its frames (builders
    *      nest: goldObs builds stgObs), holding a new serve relation,
    *      or retiring it;
    *   5. the bronze landing's path lock, or WeatherStats.dims' lock
    *      (then its dim landings' path locks).
    * Hits take none of them: the generation map, the frames and the
    * serve relation are read lock-free, and a gold frame finds a
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
      Option(served).foreach(e => LocalServe.release(e.idx))
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

    /** Serve `e` from now on, releasing the relation it replaces; its
      * bounded reads run on the calling thread ([[LocalServe]]) until
      * it is replaced or this generation retires. A retired generation
      * serves `e` through the ordinary scan. */
    private[WeatherZServe] def hold(e: Served): Unit = synchronized {
      Option(served).foreach(o => LocalServe.release(o.idx))
      if (!retired) LocalServe.serve(e.idx)
      served = e
    }
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

  /** The gold layout — the reference's single `weather_data_gold`
    * table (one discriminated table, B-tree-indexed on (postal_code,
    * timestamp)) as ONE catalog object that every gold reader shares.
    * `prep` derives `day` (the target hour's date, recorded in the zone
    * map like any other column), and [[Layout.partitionPureBy]] writes
    * every file pure on BOTH (data_type, day), each (type, day) group
    * split into nFiles / groups contiguous postal_code ranges (7 days →
    * 14 groups → 2 ranges, 28 files). So:
    *   - a request's type predicate refutes the other type's files, its
    *     time window the other days' and its postal predicate the other
    *     ranges';
    *   - the latest-snapshot maxima are read per type ([[zoneMax]]);
    *   - [[graft.plans.ZoneAggServe]] serves the grouped and filtered
    *     aggregates (q179/q182/q183/q187/q188) from footers, because
    *     every file is single-valued on the group keys. */
  private def goldAllZTable(s: SparkSession, d: String): ZTable =
    // feed/load resolve the landing LAZILY (a source-stamp probe per
    // feedOf/load call): a registry-held instance (the catalog face)
    // must follow a regenerated corpus to its fresh stamp-addressed
    // landing instead of pinning the path captured at registration.
    // Serve requests do not pay it per call: they reuse [[served]]'s
    // relation, built through here once per generation.
    ZTable("weather_gold_all",
      _ => landedGold(s, d),
      (s2, _) => s2.read.parquet(landedGold(s2, d)),
      "postal_code", "timestamp", // informational; clusterWith overrides
      nFiles = 32,
      clusterWith = Some((df, n) => Layout.partitionPureBy(
        df, Seq("data_type", "day"), "postal_code", n)),
      prep = Some(df => df.withColumn("day", to_date(col("timestamp")))),
      // the weather layout lives under the JVM's own gold root,
      // INDEPENDENT of spark.graft.zindex.dir (a layout landed while a
      // parallel z-suite steered that conf used to resolve into — and
      // rebuild across — the other suite's temp root). `z_day`, not the
      // z-ordered `z_gold` of older builds: ZIndex keys a generation on
      // its feed, not on the clustering, so a durable `z_gold` would be
      // reused as is
      rootOverride = Some(s"${goldRoot(s)}/${id8(d)}/$LayoutRoot"))

  /** The gold layout's root name under `<gold root>/<corpus id8>/`. */
  private val LayoutRoot = "z_day"

  /** Delete the sibling `z_*` roots older builds left beside
    * [[LayoutRoot]] (`z_obs`, `z_for`, `z_all`, `z_gold`, `z_daily`):
    * each holds a full copy of gold that nothing reads. Runs before
    * every layout resolve of [[served]] and [[prewarm]]; a driver-side
    * listing, no Spark job. */
  private def sweepStaleLayouts(s: SparkSession, d: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"${goldRoot(s)}/${id8(d)}")
    val fs = Generations.fsOf(s, dir.toString)
    if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("z_") && p.getName != LayoutRoot)
      .foreach(fs.delete(_, true))
  }

  /** q187 — the MULTI-KEY grouped metadata serve (r15 verdict #3): the
    * daily layer report — `GROUP BY data_type, day` — over the
    * (type, day)-pure gold layout. Every file is single-valued on BOTH
    * keys, so the files partition exactly by the composite group and
    * each (type, day)'s COUNT/MIN/MAX folds from its own footers —
    * zero tasks for the monitoring rollup a time-partitioned gold
    * table gets hit with daily (GoldHeartbeatSpec pins the scan-free
    * plan and the bail when any key is non-constant in any file; the
    * driver oracles it at three scales). */
  def q187GoldDailyRollup(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldAllZTable(s, d))
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
    * COUNT(DISTINCT): over the (type, day)-pure gold layout, every
    * file's `day` zone is a constant, so the per-type distinct-day
    * count is the number of distinct file constants — with the
    * first/last-day bounds and the row count, the "which days do we
    * actually have" completeness probe costs zero tasks. A DISTINCT
    * over any non-constant column (postal_code) bails to the scan
    * with the same answer (GoldHeartbeatSpec pins both). */
  def q188GoldDayInventory(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldAllZTable(s, d))
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
    * admitted files ([[graft.plans.ZoneAggServe]]'s filtered serve) —
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

  /** The serve relation of one generation: the unfiltered
    * [[ZIndex.zFrame]] relation over the gold layout and its index, the
    * committed generation it resolved, and that generation's
    * latest-snapshot maxima from the zone map (observation target hour,
    * forecast issue timestamp). There is no per-type relation: a
    * request's data_type predicate refutes the other type's files. */
  private final case class Served(gold: DataFrame, idx: ZoneMapFileIndex,
      root: String, gen: Long, latestObs: Option[Long],
      latestFc: Option[Long]) {
    /** The probe [[ZIndex.ensure]] keeps for an externally wiped
      * layout: the generation is still committed. */
    def committed(s: SparkSession): Boolean =
      Generations.isCommitted(Generations.fsOf(s, root), root, gen)
  }

  /** The current generation's serve relation. A hit costs the source
    * stamp and one commit-marker probe; a new generation or a missing
    * marker rebuilds through the ordinary [[ZIndex.zFrame]] /
    * [[ZIndex.ensure]] path, once, under the generation's serve lock. */
  private def served(s: SparkSession, d: String): Served = {
    val g = generation(s, d)
    def fresh(e: Served): Boolean = e != null && e.committed(s)
    val hit = g.served
    if (fresh(hit)) hit
    else g.serveLock.synchronized {
      if (!fresh(g.served)) { // else built while this thread waited
        servedBuilds.incrementAndGet()
        sweepStaleLayouts(s, d)
        val t = goldAllZTable(s, d)
        val (df, idx) = ZIndex.zFrame(s, d, t)
        // a memo hit: the generation the index just resolved
        val (root, gen) = ZIndex.ensure(s, d, t)
        val es = idx.currentEntries
        g.hold(Served(df, idx, root, gen,
          zoneMax(es, "observation", "timestamp"),
          zoneMax(es, "forecast", "forecast_timestamp")))
      }
      g.served
    }
  }

  /** The serve relation: unified gold behind one zone-mapped FileIndex,
    * reused across requests while the corpus generation and the layout
    * generation stand ([[served]]). Every predicate the serve queries
    * push — data_type, postal equality/prefix, time-window range — gets
    * per-file refutation from the planner; a data_type-specific query
    * keeps only files of its own type. */
  private[graft] def zGoldWithIndex(s: SparkSession, d: String)
      : (DataFrame, ZoneMapFileIndex) = {
    val e = served(s, d)
    (e.gold, e.idx)
  }

  def zGold(s: SparkSession, d: String): DataFrame = served(s, d).gold

  /** Exact max of a long-zoned column over the files of ONE data_type,
    * from the zone map alone (max ignores nulls, so all-null files drop
    * out). A file counts for a type only by a single-valued data_type
    * zone. None — fall back to the two-pass view — if any file's
    * data_type zone is not single-valued (its time zones would mix the
    * types: forecast target hours would leak into the observation max),
    * if any of the type's files carried no stats for `c`, or if none
    * holds a non-null value. */
  private def zoneMax(entries: Seq[graft.plans.ZoneFile], which: String,
      c: String): Option[Long] = {
    import graft.plans.{KeepAllZone, LongZone, StringZone}
    val types = entries.map(_.cols.get("data_type"))
    if (!types.forall {
        case Some(StringZone(lo, hi, 0)) => lo == hi
        case _ => false
      }) None
    else {
      val zs = entries.filter(_.cols.get("data_type")
        .contains(StringZone(which, which, 0))).map(_.cols.get(c))
      if (zs.exists(z => z.isEmpty || z.contains(KeepAllZone))) None
      else zs.flatten.collect { case LongZone(_, hi, _) => hi }.maxOption
    }
  }

  /** q24 served FROM THE INDEX: the view's "rows at the single global
    * max timestamp" (`sql/schema.sql:312-328`) with the max taken from
    * the observation files' timestamp zones — exact footer statistics, KB on
    * the driver, read once per generation — and pushed as a LITERAL
    * equality, so the scan opens only the file(s) whose bounds admit
    * it. This is the reference's ORDER-BY-DESC-LIMIT-via-B-tree serve
    * (O1) re-expressed: the runtime two-pass (agg + re-scan) becomes
    * one consult + one pruned read. Stats-less files → the sound
    * fallback IS the two-pass. The literal is ANDed with the type: a
    * forecast row can target the observation max hour. */
  private[graft] def latestObsServed(s: SparkSession, d: String)
      : (DataFrame, ZoneMapFileIndex) = {
    val e = served(s, d)
    val out = e.latestObs match {
      case Some(m) => e.gold
        .filter(col("data_type") === "observation" &&
          col("timestamp") === timestamp_micros(lit(m)))
        .select(col("postal_code"), col("timestamp"),
          col("temperature_avg"), col("precipitation_sum"),
          col("wind_speed_avg"), col("cloud_cover_avg"),
          col("num_stations"), col("avg_quality_score"))
      case None => WeatherPipeline.latestObservations(e.gold)
    }
    (out, e.idx)
  }

  /** q25's analogue over the forecast files: latest ISSUE snapshot,
    * max_issue from their forecast_timestamp zones, ANDed with the type
    * the same way. */
  private[graft] def latestFcServed(s: SparkSession, d: String)
      : (DataFrame, ZoneMapFileIndex) = {
    val e = served(s, d)
    val out = e.latestFc match {
      case Some(m) => e.gold
        .filter(col("data_type") === "forecast" &&
          col("forecast_timestamp") === timestamp_micros(lit(m)))
        .select(col("postal_code"), col("forecast_timestamp"),
          col("timestamp").as("target_time"), col("temperature_avg"),
          col("precipitation_sum"), col("wind_speed_avg"),
          col("cloud_cover_avg"), col("num_stations"))
      case None => WeatherPipeline.latestForecasts(e.gold)
    }
    (out, e.idx)
  }

  /** The committed (root, generation) of the layout the memoized serve
    * relation reads — None before the first request. */
  private[graft] def servedGenerations(s: SparkSession, d: String)
      : Option[(String, Long)] =
    Option(generations.get((s, d))).flatMap(g => Option(g.served)).map(e =>
      (e.root, e.gen))

  /** q179 — the DERIVED table's stats heartbeat, metadata-served: the
    * gold layout registered through the same catalog face as lineitem
    * ([[graft.operators.ZCatalog]]), `WHERE data_type = 'observation'`
    * the way q183 filters, and an un-grouped COUNT/MIN/MAX answered by
    * [[graft.plans.ZoneAggServe]] from the admitted files' zones —
    * zero tasks over a table the engine itself maintains.
    * COUNT(temperature_avg) exercises the null-aware path on REAL
    * derived nulls (the IDW shared-denominator trap's NULLs survive
    * into gold); if any footer ever lacked stats the rule falls back
    * to the ordinary scan, same answer. Oracle: the same aggregates
    * over the oracle's own gold_obs CTE. */
  def q179GoldStats(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.operators.ZCatalog.ensureRegistered(
      s, d, goldAllZTable(s, d))
    s.sql(
      s"""SELECT COUNT(*) AS n_rows,
         |  MIN(postal_code) AS min_postal, MAX(postal_code) AS max_postal,
         |  COUNT(temperature_avg) AS n_temp,
         |  MIN(num_stations) AS min_stations,
         |  MAX(num_stations) AS max_stations
         |FROM $tbl
         |WHERE data_type = 'observation'""".stripMargin)
  }

  /** Spec accessor for the unified layout contract (the durability
    * spec resolves generations through it). */
  private[graft] def goldAllTable(s: SparkSession, d: String): ZTable =
    goldAllZTable(s, d)

  /** Bench prewarm: land gold + build its one layout outside the serve
    * queries' timings (the priced-prewarm convention). */
  def prewarm(s: SparkSession, d: String): Unit = {
    // per-stage stderr attribution (the [bench]/[lshpairs] convention):
    // the cold landing + the layout build are a driver-visible prewarm
    // key, so the cost split must read from the log
    var t0 = System.nanoTime()
    def stamp(which: String): Unit = {
      System.err.println(f"[wxzserve] $which ${(System.nanoTime() - t0) / 1e9}%.3f")
      t0 = System.nanoTime()
    }
    landedGold(s, d)
    stamp("land_gold")
    sweepStaleLayouts(s, d)
    ZIndex.ensure(s, d, goldAllZTable(s, d))
    stamp("z_layout")
  }
}
