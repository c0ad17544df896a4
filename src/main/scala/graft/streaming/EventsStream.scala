package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming face of the engine. The reference "streams" via
  * cron micro-batches (6h ingest / hourly transform,
  * `dags/ingest_observations_dag.py:30`, `dags/transform_weather_dag.py:39`)
  * with late data upserted rather than dropped (SURVEY §2.10) — mapped
  * here to:
  *
  *  - file-source `readStream` over the events parquet (explicit schema,
  *    nanos-as-long + µs conversion identical to the batch loader);
  *  - event-time tumbling-window aggregation with a 168h watermark (the
  *    reference's re-processing window) — long enough that its late-data
  *    acceptance semantics are preserved;
  *  - `Trigger.AvailableNow` for the cron-batch execution model;
  *  - `mapGroupsWithState` sessionization as the custom-state example.
  */
object EventsStream {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) read as long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over the events table. Handles both corpus layouts:
    * the driver's single `events.parquet` file (glob-filtered out of the
    * table directory) and a directory-shaped `events.parquet/part-*.parquet`
    * (e.g. the ScaleUp sf1 replica) — the glob filter would match zero part
    * FILES in the latter and silently stream nothing.
    */
  /** Directory check through the path's OWN FileSystem (Hadoop conf), not
    * java.io.File — a java.io check is always false for HDFS/S3 paths and
    * would silently fall into the glob branch, streaming zero rows for a
    * directory-shaped table.
    */
  private def isDirectory(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && fs.getFileStatus(path).isDirectory
  }

  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a file-source readStream needs the schema DECLARED, and corpus
    // generations differ on ts's physical type (INT64 ns vs native µs —
    // see Tables.events): peek the footer through a batch read of the
    // same path and declare what is actually on disk, then normalize to
    // the canonical µs TimestampType. Feed dirs landed by the harnesses
    // ([[landFeedFile]]) are always raw-ns longs and take the first arm.
    val onDiskTs = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = onDiskTs) else f))
    val reader = spark.readStream.schema(schema)
    val src =
      if (isDirectory(spark, s"$dir/events.parquet"))
        reader.parquet(s"$dir/events.parquet")
      else
        reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    onDiskTs match {
      case LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // exact: see Tables.events
      case _ =>
        src.withColumn("ts", col("ts").cast("timestamp_ltz")) // UTC session: micros verbatim
    }
  }

  /** Hourly tumbling-window per-type aggregation (the streaming face of
    * the gold rollup A6). Late rows inside the 168h watermark update their
    * window — reference upsert-late-data semantics.
    */
  def hourlyWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "168 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming KMV distinct sketch per (hourly window, event_type): the
    * cardinality question q51 CANNOT answer — streaming aggregation
    * forbids COUNT(DISTINCT …) because exact distinct state grows with
    * the key's user cardinality — answered with BOUNDED state instead:
    * [[graft.functions.KmvSketch]] runs unchanged as the streaming
    * aggregate, so each group's state row carries one serialized O(k)
    * sketch (k = 64 hashes ≈ 2 KB) no matter how many distinct users the
    * window sees, and late rows inside the watermark UPDATE their
    * window's sketch exactly (cap-insert is idempotent + order-free, so
    * micro-batch boundaries are invisible in the result —
    * StreamingKmvSpec pins streamed ≡ batch at forced multi-batch
    * ingestion). This is the streaming face of q139, and the state-scale
    * companion to the q64 plateau measurement: state rows == live
    * groups, state bytes == groups × O(k).
    */
  def kmvWindowAgg(spark: SparkSession, events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "168 hours")
      .filter(col("user_id").isNotNull)
      .withColumn("h", md5(col("user_id").cast("string")))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.KmvSketchAgg.kmv(spark, col("h"), 64).as("s"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("s.n_kept").cast("long").as("n_kept"), col("s.hk").as("hk"))

  def runKmvWindowOnce(spark: SparkSession, dir: String, name: String = "stream_kmv"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(kmvWindowAgg(spark, readEvents(spark, dir)), OutputMode.Complete, name)
    }

  /** Streaming FREQUENCY-KMV per (hourly window, event_type) —
    * [[graft.functions.KmvFreqSketch]] as a streaming aggregate: one
    * O(k) state row per group carrying the bottom-k user hashes WITH
    * their exact running counts (ADD on duplicate is order-free and
    * micro-batch-invariant by the same downward-closure law as the
    * batch/table tiers), so a live join synopsis — the q157/q158
    * planner input — is maintainable from the stream with bounded
    * state. This is the streaming face of q166, completing the
    * aggregate's batch / durable-table / streaming / SQL symmetry
    * (the contract the KMV and quantile members already carry). */
  def kmvFreqWindowAgg(spark: SparkSession, events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "168 hours")
      .filter(col("user_id").isNotNull)
      .withColumn("h", md5(col("user_id").cast("string")))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.KmvFreqAgg.kmvFreq(spark, col("h"), lit(1L), 64).as("ksf"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("ksf"))

  def runKmvFreqWindowOnce(spark: SparkSession, dir: String,
      name: String = "stream_kmvfreq"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(kmvFreqWindowAgg(spark, readEvents(spark, dir)),
        OutputMode.Complete, name)
    }

  /** Streaming QUANTILE SKETCH per (hourly window, event_type):
    * [[graft.functions.QuantileSketch]] running unchanged as a
    * streaming aggregate — one O(k) state row per group holding a
    * uniform bottom-k-by-md5(event_id) value sample, from which any
    * quantile is answerable at any time (q160 post-processes the final
    * samples exactly like the batch q159). The question is otherwise
    * unanswerable in a stream: exact quantiles need the full value
    * multiset in state. k = 64 — deliberately smaller than q159's
    * batch 256 so the estimator (not just saturation) is exercised at
    * gate scales.
    */
  def quantileWindowAgg(spark: SparkSession, events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "168 hours")
      // event_id is the sample's row identity: a NULL id has no hash,
      // the sketch aggregate would skip it, and a (window, type) group
      // with ONLY such rows would emit an empty sample — the same
      // population rule as batch q159 (and q160's exact side), applied
      // at the source so no empty-smp group can reach the rank pick
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .withColumn("h", md5(col("event_id").cast("string")))
      .withColumn("v",
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.QuantileSketchAgg.qsketch(
        spark, col("h"), col("v"), 64).as("smp"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("smp"))

  def runQuantileWindowOnce(spark: SparkSession, dir: String,
      name: String = "stream_qsketch"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(quantileWindowAgg(spark, readEvents(spark, dir)),
        OutputMode.Complete, name)
    }

  /** Streaming PRIORITY SAMPLE per event_type: a running weighted
    * top-k sample of the stream (weight = exact value cents) held as
    * ONE O(k) state row per type — [[graft.functions.PrioritySample]]
    * running unchanged as a streaming aggregate, the q150 pattern
    * applied to q149's operator. A pipeline gets a continuously-fresh
    * weighted sample (and, via τ, an any-time unbiased subset-sum
    * estimate) of an unbounded stream with state that never grows.
    * Priorities are the rational w·2^48/(h48+1) form, so the final
    * sample is byte-deterministic and batch-verifiable (q153's oracle).
    */
  def prioritySampleAgg(spark: SparkSession, events: DataFrame, k: Int): DataFrame =
    events
      .withColumn("w",
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")) // exact cents
      .withColumn("h48",
        expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("p",
        col("w").cast("double") * lit(281474976710656.0) // 2^48, exact product
          / (col("h48") + lit(1L)).cast("double"))
      .groupBy(col("event_type"))
      .agg(graft.functions.PrioritySampleAgg.prioritySample(spark,
        col("event_id").cast("string"), col("w"), col("p"), k + 1).as("top"))

  def runPrioritySampleOnce(spark: SparkSession, dir: String, k: Int,
      name: String = "stream_psample"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(prioritySampleAgg(spark, readEvents(spark, dir), k),
        OutputMode.Complete, name)
    }

  /** SLIDING-window per-type aggregation (2h windows every 1h): each event
    * lands in exactly two overlapping windows — the semantics tumbling
    * can't express (a reading contributes to both "22:00–24:00" and
    * "23:00–01:00" summaries). Same watermark/update machinery as
    * [[hourlyWindowAgg]]; the batch oracle doubles each event into its two
    * window starts.
    */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "168 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Native SESSION windows (30min inactivity gap) per user — the third
    * window kind (tumbling q51, sliding q84): window extent is data-driven
    * state, not clock arithmetic (`SessionWindowStateStore` merges windows
    * as events arrive; an event starting exactly at the current session
    * end MERGES — Spark splits only on start > end). Append mode +
    * watermark; the flush source closes every real session so the finite
    * run emits them all. Oracled against a batch gaps-and-islands
    * construction in exact µs arithmetic.
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "168 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  def runSessionWindowOnce(spark: SparkSession, dir: String, name: String = "stream_session_win"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      val events = readEvents(spark, dir)
        .unionByName(readEvents(spark, flushPath(spark)))
      runToMemory(sessionWindowAgg(events), OutputMode.Append, name)
        .filter(col("user_id") >= 0)
    }

  /** Run a (finite-source) streaming frame to completion into a memory
    * sink and return the sink table — the shared scaffold for every
    * run*Once entry (AvailableNow processes all available data, including
    * the no-data state-cleanup batch outer joins need).
    */
  private def runToMemory(df: DataFrame, mode: OutputMode, name: String): DataFrame =
    runToMemoryQ(df, mode, name)._1

  /** [[runToMemory]] plus the (terminated) query handle — for callers
    * that capture the last micro-batch's plan (q173's pins). */
  private def runToMemoryQ(df: DataFrame, mode: OutputMode, name: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (df.sparkSession.table(name), q)
  }

  def runSlidingWindowOnce(spark: SparkSession, dir: String, name: String = "stream_sliding"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(slidingWindowAgg(readEvents(spark, dir)), OutputMode.Complete, name)
    }

  /** Stream-STATIC enrichment: the events stream joined to a batch
    * dimension (user → market segment), then window-aggregated per
    * segment — the most common production streaming shape (enrich every
    * event against a slowly-changing dim before aggregating). The join is
    * stateless: each micro-batch broadcast-hash-joins against the dim as
    * of that batch (re-resolved per batch — a dim update is picked up at
    * the next trigger), so unlike stream-stream joins it holds no join
    * state at all; only the downstream windowed agg keeps state.
    */
  def enrichedWindowAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "168 hours")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))

  def runStreamEnrichOnce(spark: SparkSession, dir: String, name: String = "stream_enrich"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      val dim = graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      runToMemory(enrichedWindowAgg(readEvents(spark, dir), dim),
        OutputMode.Complete, name)
    }

  // ---- q173: the statistics catalog planning a STREAMING join ---------

  /** Catalog table name for the customer dim of a corpus (spec surface). */
  private[graft] def custDimTable(dir: String): String = {
    val id8 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"graft_cust_dim_$id8"
  }

  /** (shared catalog, corpus) → customer source stamp at last honest
    * injection — the [[graft.weather.WeatherStats]] memo discipline. A
    * spec that perturbs the dim's statistics must NOT clear before
    * re-running if it wants the perturbation to stand (the memo hit
    * skips re-injection); clearing restores honesty on the next call. */
  private val dimMemo = new java.util.concurrent.ConcurrentHashMap[
    (AnyRef, String), String]()
  def clearDimMemo(): Unit = dimMemo.clear()

  /** The customer dim as a catalog table with injected synopsis
    * statistics — registered straight over the corpus parquet (no
    * landing: unlike the derived weather dims, the source IS already a
    * parquet table; the catalog entry only attaches statistics to it).
    * The table carries the ENRICH PROJECTION's schema (parquet is
    * schema-on-read: a 2-column table over the 8-column file reads
    * exactly those columns), so its injected sizeInBytes honestly
    * describes what the join ships — rows × ~32 B — not the wide
    * master row the enrich never touches. One KB-scale scan at
    * registration is its ANALYZE; memoized on the source files'
    * identity. */
  def statsCustDim(spark: SparkSession, dir: String): DataFrame = {
    val tbl = custDimTable(dir)
    val stamp =
      graft.util.Generations.stampOf(spark, s"$dir/customer.parquet")
    val key = (spark.sharedState: AnyRef, dir)
    if (Option(dimMemo.get(key)).contains(stamp) &&
        spark.catalog.tableExists(tbl))
      return spark.table(tbl)
    // the location is the read-only corpus itself — the catalog entry
    // is pure metadata (explicit 2-column schema = the enrich
    // projection; see the scaladoc)
    spark.sql(s"CREATE TABLE IF NOT EXISTS $tbl " +
      s"(c_custkey BIGINT, c_mktsegment STRING) USING parquet " +
      s"LOCATION '$dir/customer.parquet'")
    // the memo key carries the shared state but the table NAME only the
    // corpus hash: within one catalog that is a bijection, and this
    // require keeps it one — a hash-colliding second corpus (or an
    // externally created table squatting on the name) fails loudly
    // instead of silently serving another table's statistics
    require(new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
        .toUri.getPath.stripSuffix("/")
        == new org.apache.hadoop.fs.Path(s"$dir/customer.parquet")
        .toUri.getPath.stripSuffix("/"),
      s"catalog table $tbl exists with a different location than $dir")
    // refresh BEFORE the synopsis build: on the stamp-miss path
    // (corpus regenerated in place) the cached relation still serves
    // the OLD file listing — the build would scan deleted files or
    // inject the pre-mutation statistics
    spark.catalog.refreshTable(tbl)
    val syn = graft.plans.JoinSynopsis.build(
      tbl, spark.table(tbl), col("c_custkey"))
    graft.plans.SynopsisStats.inject(spark, tbl, syn.rows,
      Map("c_custkey" -> syn), avgRowBytes = 32)
    spark.catalog.refreshTable(tbl)
    dimMemo.put(key, stamp)
    spark.table(tbl)
  }

  /** Last q173 micro-batch physical plan (spec observable — the
    * streaming analogue of the executed-plan pins on batch queries). */
  private[graft] val lastEnrichPlan =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** q173: [[enrichedWindowAgg]]'s production shape with the broadcast
    * decision moved from the q92 HINT to the statistics catalog — the
    * streaming consumer of the same injected synopsis statistics the
    * batch planners ride (r12 removed the weather gold's hints; this
    * removes the streaming lane's). Each micro-batch plans the
    * stream-static join with plain JoinSelection: the dim's injected
    * sizeInBytes (rows × avgRowBytes, honest KB-scale) sits far under
    * the broadcast threshold, so the per-batch plan is a
    * BroadcastHashJoin with no hint anywhere; inflate the statistics
    * and the SAME code degrades to a per-batch shuffle join
    * (StreamStatsEnrichSpec pins both directions and result equality).
    * At 100 TB the dim stays a dim — exactly the regime where honest
    * dimension statistics keep every micro-batch shuffle-free no
    * matter how large the stream side's files look. */
  def runStreamStatsEnrichOnce(spark: SparkSession, dir: String,
      name: String = "stream_stats_enrich"): DataFrame = {
    val dim = statsCustDim(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val df = readEvents(spark, dir)
      .withWatermark("ts", "168 hours")
      .join(dim, col("user_id") === col("c_custkey")) // NO hint
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))
    val (result, q) = StreamTune.withStatePartitions(
      spark, Seq(s"$dir/events.parquet")) {
      runToMemoryQ(df, OutputMode.Complete, name)
    }
    // capture the last micro-batch's executed plan for the spec pins
    // (StreamingQuery.explain prints — there is no accessor API);
    // best-effort: a capture failure must not fail the QUERY, only the
    // spec that reads an empty plan
    try {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        q.explain(extended = false)
      }
      lastEnrichPlan.set(buf.toString("UTF-8"))
    } catch { case e: Throwable => lastEnrichPlan.set(s"<unavailable: $e>") }
    result
  }

  /** Run the windowed agg to completion over the (finite) file source and
    * return the result as a batch DataFrame — complete mode so final
    * windows are emitted (append would hold back the watermark tail).
    */
  def runWindowAggOnce(spark: SparkSession, dir: String, name: String = "stream_agg"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(hourlyWindowAgg(readEvents(spark, dir)), OutputMode.Complete, name)
    }

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  /** lastTs in epoch MICROseconds — Timestamp.getTime is millis and would
    * silently truncate the source's µs precision. */
  case class SessionState(nEvents: Long, lastTs: Long)
  case class UserSession(user_id: Long, n_events: Long, last_seen: java.sql.Timestamp)

  private def toMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Per-user running session state via mapGroupsWithState — the
    * engine-level replacement for the reference's driver-side watermark
    * bookkeeping (`observations.py:144-157`).
    */
  def sessionize(events: Dataset[Ev]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSession](GroupStateTimeout.NoTimeout) {
        (uid, rows, state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          var n = prev.nEvents
          var last = prev.lastTs
          rows.foreach { e =>
            n += 1
            last = math.max(last, toMicros(e.ts))
          }
          state.update(SessionState(n, last))
          UserSession(uid, n, fromMicros(last))
      }
  }

  /** Streaming → gold with foreachBatch MERGE (SURVEY §2.10: the
    * reference's idempotent ON CONFLICT upserts of late/updated data map to
    * checkpointed micro-batches + an idempotent keyed merge). Update mode
    * emits re-aggregated windows as late rows arrive; LastWins on the
    * monotone count makes replays and updates converge to the batch result.
    */
  def streamingUpsertGold(spark: SparkSession, dir: String, outPath: String): Unit = {
    val q = hourlyWindowAgg(readEvents(spark, dir))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Upsert.mergeIntoParquet(batch, outPath,
          keys = Seq("window_start", "event_type"), versionCol = "n",
          mode = graft.sources.Upsert.Mode.LastWins)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ------------------------------------------------------------------
  // Checkpoint-restart recovery. The reference's core operational
  // semantic is idempotent re-run: task retries + ON CONFLICT upserts
  // (`dags/ingest_observations_dag.py:22-23` retries=2; `README.md:269`
  // "All inserts use ON CONFLICT for safe re-runs"). The engine analogue
  // is a CHECKPOINTED streaming query: the file-source log skips
  // already-processed files across restarts, the state store resumes
  // window counts, and the idempotent keyed merge absorbs any replayed
  // sink batch — exactly-once results over at-least-once machinery.
  // ------------------------------------------------------------------

  /** Land `df` as a single parquet FILE named `<name>.parquet` inside
    * `feedDir` — the append-only landing-zone shape a file stream watches.
    * Hadoop FS throughout (staging write + rename) so the same code works
    * on HDFS-like stores, not just local disk.
    */
  def landFeedFile(df: DataFrame, feedDir: String, name: String): Unit = {
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    val staging = new org.apache.hadoop.fs.Path(s"$feedDir/.staging_$name")
    val fs = staging.getFileSystem(hconf)
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(staging, "part-*.parquet"))
    require(parts.length == 1, s"expected one part file, got ${parts.length}")
    val target = new org.apache.hadoop.fs.Path(s"$feedDir/$name.parquet")
    require(fs.rename(parts.head.getPath, target), s"rename to $target failed")
    fs.delete(staging, true)
  }

  /** Streaming source over an append-only feed directory (the landing
    * zone shape [[landFeedFile]] fills) — same schema + µs conversion as
    * [[readEvents]].
    */
  private def readFeed(spark: SparkSession, feedDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.readStream.schema(eventsSchema).parquet(feedDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** One checkpointed tranche of the streaming gold upsert: process the
    * feed files this checkpoint has NOT yet seen (AvailableNow drains and
    * stops), merge the updated windows into `outPath`, terminate. Calling
    * it again with the same checkpoint after more files land IS the
    * restart path — the run boundary must be invisible in the result,
    * which StreamingRecoverySpec and q93 prove against the batch oracle.
    */
  def streamingUpsertGoldTranche(spark: SparkSession, feedDir: String,
      checkpointDir: String, outPath: String): Unit = {
    val q = hourlyWindowAgg(readFeed(spark, feedDir))
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Upsert.mergeIntoParquet(batch, outPath,
          keys = Seq("window_start", "event_type"), versionCol = "n",
          mode = graft.sources.Upsert.Mode.LastWins)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Split the raw (nanos-long ts) feed into two ingest tranches the way
    * a real landing zone fills: tranche 1 is the first half of the time
    * range, tranche 2 the second half PLUS held-back late stragglers —
    * every 7th row from the 144h before the cut. On restart the restored
    * watermark sits ≈168h before the cut (tranche 1's max event time −
    * the 168h horizon), so the stragglers are genuinely LATE data that is
    * still inside the watermark and must merge into already-written
    * windows; rows older than the horizon would be correctly dropped,
    * which is why the split is time-ordered rather than round-robin.
    */
  def recoverySplit(raw: DataFrame): (DataFrame, DataFrame) = {
    val mm = raw.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val cutNs = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val lateNs = cutNs - 144L * 3600L * 1000000000L
    val straggler = col("ts") >= lateNs && col("ts") < cutNs && col("event_id") % 7 === 0
    val inT1 = col("ts") < cutNs && !straggler
    (raw.filter(inT1), raw.filter(!inT1))
  }

  /** Recovery harness (q93): the events corpus is split in two tranches
    * landed across SEPARATE checkpointed runs — run, stop (the simulated
    * failure/redeploy), land more data, restart — plus a third run with no
    * new data (the reference's retry of an already-complete task). The
    * final gold must equal the single-shot batch rollup: that equality is
    * only possible if the restart neither re-reads tranche 1 (counts would
    * double) nor loses the state store (cross-tranche windows would
    * undercount) nor drops the in-watermark late stragglers carried by
    * tranche 2 (their windows would undercount).
    */
  def runStreamRecoveryOnce(spark: SparkSession, dir: String): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runStreamRecoveryBody(spark, dir)
    }

  private def runStreamRecoveryBody(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_").toString
    val (feedDir, ckpt, gold) = (s"$base/feed", s"$base/checkpoint", s"$base/gold")
    val raw = graft.sources.Tables.eventsRawNanos(spark, dir)
    val (t1, t2) = recoverySplit(raw)
    landFeedFile(t1, feedDir, "tranche1")
    streamingUpsertGoldTranche(spark, feedDir, ckpt, gold)   // run 1
    landFeedFile(t2, feedDir, "tranche2")
    streamingUpsertGoldTranche(spark, feedDir, ckpt, gold)   // restart
    streamingUpsertGoldTranche(spark, feedDir, ckpt, gold)   // no-op retry
    val out = spark.read.parquet(gold)
      .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
    detachAndClean(out, base)
  }

  /** Materialize a harness result off its temp files (eager checkpoint),
    * then delete the whole temp tree — each q93/q94 invocation otherwise
    * leaves a corpus copy + checkpoint + sink under /tmp (repeated
    * bench/verify rounds would fill the disk).
    */
  private def detachAndClean(df: DataFrame, baseDir: String): DataFrame = {
    val out = graft.util.Checkpoints.track(df.localCheckpoint(true))
    val p = new org.apache.hadoop.fs.Path(baseDir)
    p.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).delete(p, true)
    out
  }

  /** One checkpointed tranche of the PRODUCTION ingest shape: a stream
    * over the landing zone whose every micro-batch lands into the
    * incremental bronze table ([[graft.sources.Bronze.landEventsIncremental]]
    * — dynamic-partition merge, incoming wins). This composes the two
    * halves the reference runs as one cron path (6h schedule + retries +
    * ON CONFLICT, `dags/ingest_observations_dag.py:30`, `README.md:269`):
    * the checkpoint's source log makes a restart process only unseen feed
    * files, and the keyed day-merge makes a REPLAYED batch (foreachBatch
    * is at-least-once) converge instead of duplicating.
    *
    * Returns the number of feed rows THIS run processed (0 on a no-op
    * retry) — the restart proof needs it, because content equality alone
    * cannot distinguish "skipped tranche 1" from "re-read tranche 1 and
    * the idempotent merge absorbed it". StreamingBronzeIngestSpec asserts
    * both, plus untouched-day byte-identity; q98 oracles the end state.
    */
  def streamingBronzeIngestTranche(spark: SparkSession, feedDir: String,
      checkpointDir: String, bronzePath: String): Long = {
    val seen = new java.util.concurrent.atomic.AtomicLong(0) // foreachBatch runs on the driver
    val q = readFeed(spark, feedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // two actions on the batch (count + landing) — pin it once
        val b = batch.persist()
        seen.addAndGet(b.count())
        graft.sources.Bronze.landEventsIncremental(b.sparkSession, b, bronzePath)
        b.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    seen.get()
  }

  /** Recovery harness (q98): the composed streaming→bronze ingest driven
    * through the same kill/restart/retry schedule as q93 — tranche 1,
    * stop, tranche 2 (whose stragglers re-touch up to six EARLIER days,
    * so the restart must MERGE into existing day partitions, not replace
    * them), then a retry with nothing new. The final bronze table must
    * hold exactly the raw feed's rows — no loss (a replacing write would
    * drop tranche-1 rows of re-touched days), no duplication (a
    * non-keyed append would double replayed rows).
    */
  def runStreamBronzeIngestOnce(spark: SparkSession, dir: String): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runStreamBronzeIngestBody(spark, dir)
    }

  private def runStreamBronzeIngestBody(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_bronze_ingest_").toString
    val (feedDir, ckpt, bronze) = (s"$base/feed", s"$base/checkpoint", s"$base/bronze")
    val raw = graft.sources.Tables.eventsRawNanos(spark, dir)
    val (t1, t2) = recoverySplit(raw)
    landFeedFile(t1, feedDir, "tranche1")
    streamingBronzeIngestTranche(spark, feedDir, ckpt, bronze)   // run 1
    landFeedFile(t2, feedDir, "tranche2")
    streamingBronzeIngestTranche(spark, feedDir, ckpt, bronze)   // restart
    streamingBronzeIngestTranche(spark, feedDir, ckpt, bronze)   // no-op retry
    val out = spark.read.parquet(bronze)
      .select(col("event_id"), date_trunc("second", col("ts")).as("ts_sec"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    detachAndClean(out, base)
  }

  /** One checkpointed tranche of the click→purchase INNER join, appended
    * to a parquet sink (whose `_spark_metadata` commit log is the sink
    * half of exactly-once: a replayed batch's files are superseded, never
    * double-read). Join STATE lives in the checkpoint: a click whose
    * purchase arrives in a later tranche must still pair after restart.
    */
  /** The q64 click→purchase join as a METERED query: the feed drains one
    * file per micro-batch (`maxFilesPerTrigger`), so a time-ordered
    * tranche layout yields one progress sample per tranche — the
    * state-size/batch-duration curve the 100 TB posture is judged on
    * (PLANS §sf10 streaming). Returns the started query; callers await
    * termination and scrape `recentProgress`. Same plan as
    * [[streamJoinTranche]] — only the source pacing differs.
    */
  def meteredJoinQuery(spark: SparkSession, feedDir: String,
      checkpointDir: String, outPath: String,
      maxFilesPerTrigger: Int): org.apache.spark.sql.streaming.StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val feed = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(feedDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    cpJoin(feed, "inner")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000").as("lag_s"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def streamJoinTranche(spark: SparkSession, feedDir: String,
      checkpointDir: String, outPath: String): Unit = {
    val q = cpJoin(readFeed(spark, feedDir), "inner")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000").as("lag_s"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The cut for the JOIN recovery harness: halfway (in event time)
    * between the click and purchase of the largest-lag matched pair, so
    * the restart is FORCED to resume join state — the click lands in
    * tranche 1, its purchase in tranche 2, and only a checkpoint-restored
    * state store can pair them (a time-midpoint cut was measured to
    * produce zero cross-tranche pairs on this corpus). Deterministic:
    * max lag, then smallest click/purchase event_id.
    */
  def joinRecoveryCutNs(raw: DataFrame): Long = {
    val windowNs = 3600L * 1000000000L
    val c = raw.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("u"), col("ts").as("cts"))
    val p = raw.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("u"), col("ts").as("pts"))
    val best = c.join(p, Seq("u"))
      .filter(col("pts") >= col("cts") && col("pts") <= col("cts") + windowNs)
      .orderBy((col("pts") - col("cts")).desc, col("cid"), col("pid"))
      .select(col("cts"), col("pts")).head()
    val (cts, pts) = (best.getLong(0), best.getLong(1))
    require(pts > cts + 1, s"largest-lag pair too tight to cut: $cts..$pts")
    cts + (pts - cts) / 2
  }

  /** Recovery harness for JOIN state (q94): the feed split at
    * [[joinRecoveryCutNs]] and streamed through [[streamJoinTranche]] as
    * run → stop → land rest → restart → no-op retry. The final sink must
    * equal the batch self-join (q64's oracle): equality is only possible
    * if the source log skipped tranche 1 (re-reads would duplicate
    * within-tranche pairs in the append sink), the join state store
    * resumed (the forced cross-tranche pair would be lost), and the sink
    * log kept replays idempotent.
    */
  def runStreamJoinRecoveryOnce(spark: SparkSession, dir: String): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runStreamJoinRecoveryBody(spark, dir)
    }

  private def runStreamJoinRecoveryBody(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_join_recovery_").toString
    val (feedDir, ckpt, out) = (s"$base/feed", s"$base/checkpoint", s"$base/out")
    val raw = graft.sources.Tables.eventsRawNanos(spark, dir)
    val cutNs = joinRecoveryCutNs(raw)
    landFeedFile(raw.filter(col("ts") < cutNs), feedDir, "tranche1")
    streamJoinTranche(spark, feedDir, ckpt, out)   // run 1
    landFeedFile(raw.filter(col("ts") >= cutNs), feedDir, "tranche2")
    streamJoinTranche(spark, feedDir, ckpt, out)   // restart
    streamJoinTranche(spark, feedDir, ckpt, out)   // no-op retry
    detachAndClean(spark.read.parquet(out)
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("lag_s")), base)
  }

  /** Click→purchase conversion join over an events frame — shared by the
    * inner (q64) and left-outer (q82) variants. Watermarks on both sides
    * bound the join state: each side keeps only rows younger than the
    * 2h horizon + the 60min join window, so state is O(rate × horizon)
    * regardless of total stream length.
    */
  private def cpJoin(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 60 MINUTES"), joinType)
  }

  /** Stream-stream inner join with event-time range condition — the
    * attribution shape (purchases within 60 min after a click by the same
    * user). Both sides carry watermarks so the state store can evict
    * clicks older than watermark − 60 min; the time-range bound makes the
    * join's state finite at unbounded input (the property that matters at
    * 100 TB/day: state is O(users × window), not O(stream)).
    */
  def clickPurchaseJoin(spark: SparkSession, dir: String): DataFrame =
    cpJoin(readEvents(spark, dir), "inner")

  /** One far-future (year 2100) click + purchase for user −1, landed once
    * per JVM as a single-file streaming source. Unioned with the real feed
    * it advances BOTH sides' watermarks past every real event, so the
    * left-outer join can evict and emit its unmatched-click null rows —
    * outer stream-stream joins emit those only on watermark advance, never
    * merely because the query stops (the late-data-vs-completeness
    * trade-off made explicit; SURVEY §2.10).
    */
  private val flushLanded = new java.util.concurrent.atomic.AtomicReference[String]()
  private def flushPath(spark: SparkSession): String = synchronized {
    if (flushLanded.get == null) {
      val dir = java.nio.file.Files.createTempDirectory("graft_flush_events_").toString
      val tsNs = 4102444800L * 1000000000L // 2100-01-01T00:00:00Z in ns
      val rows = java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, tsNs, -1L, "click", 0.0, "{}"),
        org.apache.spark.sql.Row(-2L, tsNs, -1L, "purchase", 0.0, "{}"))
      // the landing MUST produce exactly "events.parquet": readEvents'
      // pathGlobFilter only matches that name, and a missing flush file
      // would silently hold the watermark back — the outer joins would
      // drop every unmatched row with no local error (only a remote hash
      // mismatch). landFeedFile's staging+rename enforces it.
      landFeedFile(spark.createDataFrame(rows, eventsSchema), dir, "events")
      flushLanded.set(dir)
    }
    flushLanded.get
  }

  /** Left-outer stream-stream join run to completion: matched pairs plus a
    * null-purchase row for every click with no purchase inside its 60min
    * window. The flush source (see [[flushPath]]) pushes the watermark past
    * the corpus so those null rows actually emit; the sentinel user −1 is
    * filtered back out.
    */
  def runStreamLeftJoinOnce(spark: SparkSession, dir: String, name: String = "stream_left_join"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      val events = readEvents(spark, dir)
        .unionByName(readEvents(spark, flushPath(spark)))
      runToMemory(cpJoin(events, "left_outer"), OutputMode.Append, name)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000").as("lag_s"))
    }

  /** Full-outer variant: unmatched clicks AND unmatched purchases each
    * emit a null-padded row once the opposite side's watermark passes
    * their window. `user_id` must coalesce across sides — it is null on
    * the click side of a purchase-only row.
    */
  def runStreamFullJoinOnce(spark: SparkSession, dir: String, name: String = "stream_full_join"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      val events = readEvents(spark, dir)
        .unionByName(readEvents(spark, flushPath(spark)))
      runToMemory(cpJoin(events, "full_outer"), OutputMode.Append, name)
        .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
          col("click_id"), col("purchase_id"),
          expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000").as("lag_s"))
        .filter(col("user_id") >= 0)
    }

  /** Run the stream-stream join over the finite source (append mode —
    * inner join emits exactly the matched pairs; single-file source ⇒ one
    * micro-batch, so no cross-batch eviction on this corpus).
    */
  def runStreamJoinOnce(spark: SparkSession, dir: String, name: String = "stream_join"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(clickPurchaseJoin(spark, dir), OutputMode.Append, name)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000").as("lag_s"))
    }

  /** Streaming dedup: two copies of the events stream unioned (simulating
    * an at-least-once source replaying the feed), then
    * `dropDuplicates(event_id)` — keyed state, the streaming face of the
    * exact-dedup family (q43). With a watermark the state would evict ids
    * older than the horizon; over this finite corpus the dedup must
    * reproduce the batch distinct exactly, which is what the q73 oracle
    * asserts.
    */
  def runStreamDedupOnce(spark: SparkSession, dir: String, name: String = "stream_dedup"): DataFrame =
    StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      val doubled = readEvents(spark, dir).unionByName(readEvents(spark, dir))
        .dropDuplicates("event_id")
      runToMemory(doubled
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")),
        OutputMode.Complete, name)
    }

  /** Run sessionization over the finite source, return final per-user rows. */
  def runSessionizeOnce(spark: SparkSession, dir: String, name: String = "stream_sessions"): DataFrame = {
    import spark.implicits._
    val evs = readEvents(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    // update mode may emit a row per batch per key; keep the final state
    val df = StreamTune.withStatePartitions(spark, Seq(s"$dir/events.parquet")) {
      runToMemory(sessionize(evs).toDF(), OutputMode.Update, name)
    }
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
