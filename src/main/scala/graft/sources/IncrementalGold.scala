package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental gold refresh — the TRANSFORM-side completion of the
  * incremental story. [[Bronze.landEventsIncremental]] makes landing cost
  * O(batch days); this makes the downstream daily aggregate cost the same:
  * when a batch re-lands a handful of day partitions, only those days'
  * gold rows are recomputed (partition-pruned bronze read) and only those
  * gold partitions rewritten (`partitionOverwriteMode=dynamic`). The
  * reference recomputes its aggregate tables wholesale on every transform
  * run (`src/transformation/aggregation.py`, driven by `dags/
  * transform_weather_dag.py`) — affordable at 10⁴ rows, impossible at
  * 100 TB, where refresh cost must track the dirty-day set, not the table.
  *
  * The day is the refresh unit because the aggregate's grain is the day:
  * a day's gold row depends only on that day's bronze rows, so re-landed
  * days map 1:1 to stale gold partitions — no cross-day invalidation.
  * (An aggregate whose windows straddle days — q21's 168 h window — needs
  * the window's halo of days refreshed too; same mechanism, wider set.)
  *
  * IncrementalGoldSpec proves slice-wise refresh == full rebuild with
  * untouched gold partitions byte-identical; q105 oracles the end state
  * against the plain SQL aggregate over the raw feed.
  */
object IncrementalGold {

  /** The daily gold shape: per (event_date, event_type) row count, exact
    * decimal value sum, distinct actors. */
  def dailyAgg(events: DataFrame): DataFrame =
    events.groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  // one task per day (hash on the partition key) + a deterministic sort,
  // so a day's file bytes are a pure function of that day's rows — the
  // property that makes refreshed-vs-rebuilt partitions comparable
  private def writer(df: DataFrame): DataFrameWriter[Row] =
    df.repartition(col("event_date"))
      .sortWithinPartitions(col("event_date"), col("event_type"))
      .write.mode(SaveMode.Overwrite).partitionBy("event_date")

  /** Full rebuild (bootstrap / backfill): static overwrite of the table. */
  def rebuild(spark: SparkSession, bronzePath: String, goldPath: String): Unit =
    writer(dailyAgg(Bronze.events(spark, bronzePath))).parquet(goldPath)

  /** Refresh ONLY `days`: the bronze read prunes to those day directories
    * (partition filter on `event_date`) and the write overwrites only the
    * matching gold partitions — cost is O(|days|), independent of table
    * size. */
  def refreshDays(spark: SparkSession, bronzePath: String, goldPath: String,
      days: Seq[java.sql.Date]): Unit = {
    val slice = Bronze.events(spark, bronzePath)
      .filter(col("event_date").isInCollection(days))
    // dynamic mode as a writer option, never on the caller's session
    writer(dailyAgg(slice)).option("partitionOverwriteMode", "dynamic")
      .parquet(goldPath)
  }

  /** The days a raw batch touches — what an ingest pipeline passes from
    * [[Bronze.landEventsIncremental]] to [[refreshDays]]. */
  def touchedDays(batch: DataFrame): Seq[java.sql.Date] =
    batch.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0)).toSeq

  /** q105 harness: drive the composed incremental path end to end — land
    * the feed in two mid-day-straddling slices (each: incremental bronze
    * merge, then gold refresh of exactly the touched days) and return the
    * final gold table. The oracle is the plain daily aggregate over the
    * raw feed: slice-wise refresh must equal the wholesale computation. */
  def runIncrementalGoldOnce(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_incr_gold_").toString
    val (bronze, gold) = (s"$base/bronze", s"$base/gold")
    val raw = Tables.events(spark, dir)
    // mid-day cut (the IncrementalBronzeSpec shape): the cut day has rows
    // in both slices, so slice 2 must merge bronze AND re-aggregate a day
    // slice 1 already refreshed — the incremental correctness case
    val mm = raw.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val midMs = (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2
    val cutLocal = java.time.Instant.ofEpochMilli(midMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    val cut = new java.sql.Timestamp(
      cutLocal.atTime(12, 0).toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    for (slice <- Seq(raw.filter(col("ts") < lit(cut)), raw.filter(col("ts") >= lit(cut)))) {
      Bronze.landEventsIncremental(spark, slice, bronze)
      refreshDays(spark, bronze, gold, touchedDays(slice))
    }
    val out = graft.util.Checkpoints.track(
      spark.read.parquet(gold)
        .select(col("event_date"), col("event_type"), col("n_events"),
          col("sum_value"), col("n_users"))
        .localCheckpoint(true))
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    out
  }
}
