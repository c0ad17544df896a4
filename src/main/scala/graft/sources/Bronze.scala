package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze landing for the events feed.
  *
  * The corpus ships `ts` as INT64 TIMESTAMP(NANOS), which Spark can only
  * read as a raw long — so every query goes through a
  * `timestamp_micros(ns/1000)` conversion that is opaque to the Parquet
  * reader: time predicates never reach `PushedFilters` and a 100 TB scan
  * reads every row group regardless of the window queried (the scan
  * caveat documented in README "q21 at scale").
  *
  * Landing the feed ONCE as a bronze table fixes that structurally:
  *  - `ts` is rewritten as native TIMESTAMP(MICROS) → min/max row-group
  *    stats apply and `ts >= …` prunes at the reader;
  *  - rows are partitioned by `event_date` → day-window queries touch
  *    only matching directories (partition pruning, no file listing of
  *    the rest) — the Parquet analogue of the reference's BRIN index on
  *    the timestamp column (`sql/schema.sql:269-305`).
  * BronzeSpec asserts both properties on the live plan.
  */
object Bronze {

  /** One-time full landing: µs timestamps + date partitioning. Idempotent
    * overwrite per run; the incremental 6h-cadence path is
    * [[landEventsIncremental]].
    */
  def landEvents(spark: SparkSession, dir: String, path: String): Unit =
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** Incremental landing of one ingest batch (the reference ingests every
    * 6h — `dags/ingest_observations_dag.py:30` — so a batch usually
    * carries a few hours of one day, sometimes straddling two). Only the
    * batch's own `event_date` partitions are rewritten
    * (`partitionOverwriteMode=dynamic`); untouched days keep their files
    * byte-for-byte, so landing cost is O(batch days), not O(table) — at
    * 100 TB the difference between a 6h cadence and an impossible one.
    *
    * A touched day is MERGED, not replaced: existing rows of those days
    * (a broadcast semi-join on the tiny day list, i.e. partition-pruned
    * reads) union the batch, keyed-deduped on `event_id` with the incoming
    * row winning (ON CONFLICT DO UPDATE) — so re-landing a failed batch is
    * a no-op and a CORRECTED re-land deterministically takes the new row
    * (the reference's retries + ON CONFLICT, `README.md:269`), and a 6h
    * slice never erases the day's earlier slices. `localCheckpoint` materializes the existing slice before the
    * write because Spark refuses to overwrite a path its own plan reads.
    *
    * `batch` has the raw feed's shape (µs `ts` timestamp, as from
    * `Tables.events`). IncrementalBronzeSpec proves two-batch == one-shot
    * and the untouched-partition guarantee.
    *
    * CONTRACT — an event's `event_date` is immutable. The merge reads
    * only the batch's own day partitions, so a correction that moves an
    * event ACROSS days would leave the stale copy alive in the old day
    * (finding it would take an O(table) id probe — the price of having no
    * PK index on a partitioned lake; the reference pays a B-tree for it,
    * `sql/schema.sql:295`). Corrections may change any payload column and
    * move `ts` WITHIN the day. Cross-day moves are a rebuild/compaction
    * operation (`landEvents`, or [[Compact]] per affected partition pair),
    * not an incremental land — the same contract every date-partitioned
    * lakehouse MERGE carries.
    */
  def landEventsIncremental(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val dated = batch.withColumn("event_date", to_date(col("ts")))
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    // a killed FIRST landing can leave the directory existing but holding
    // no data (job abort removes _temporary, not the dir) — a bare
    // fs.exists would then route the RETRY into spark.read.parquet on an
    // empty dir, which throws instead of converging. "Has data" = any
    // entry that isn't a _metadata/.hidden artifact.
    val hasData = fs.exists(target) && fs.listStatus(target).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val existing =
      if (!hasData) None
      else {
        val touched = dated.select(col("event_date")).distinct()
        Some(events(spark, path)
          .join(broadcast(touched), Seq("event_date"), "left_semi")
          .localCheckpoint())
      }
    // conflict resolution is the reference's ON CONFLICT DO UPDATE: the
    // INCOMING row wins deterministically (bare dropDuplicates would keep
    // an arbitrary copy, so a corrected re-land could silently keep the
    // stale row). Exact replays still converge — the kept incoming copy is
    // byte-identical to the existing one. Within-batch duplicate event_ids
    // tie-break on latest ts, then on the full payload tuple: the
    // byte-identity guarantees (IncrementalBronzeSpec,
    // StreamingBronzeIngestSpec) need the winner to be a pure function of
    // the input even for a malformed batch carrying two same-id same-ts
    // rows with different payloads.
    val toWrite = existing match {
      case None => dated
      case Some(ex) =>
        val tagged = ex.withColumn("__src", lit(0))
          .unionByName(dated.withColumn("__src", lit(1)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_id"))
          .orderBy(col("__src").desc, col("ts").desc,
            col("value").desc, col("event_type").desc, col("props").desc,
            col("user_id").desc)
        tagged.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "__src")
    }
    try overwriteDays(toWrite, path)
    finally {
      // the checkpointed existing-slice's only consumer is the write just
      // completed — release its blocks now instead of leaking them for the
      // session's life (one leak per 6h batch adds up in a long service)
      existing.foreach(graft.util.Checkpoints.release)
    }
  }

  /** Right-to-be-forgotten over the bronze landing: remove every row
    * belonging to `users` (a one-column `user_id` opt-out table) by
    * rewriting ONLY the day partitions that actually contain those users
    * — the takedown/opt-out machinery a training-data lake must run
    * without rebuilding the table. Three-step partition surgery:
    *   1. a key-only probe finds the affected `event_date`s (the scan
    *      reads two columns; at 100 TB a per-day user bloom or the
    *      z-order layout narrows it further);
    *   2. ONLY those partitions are re-read (broadcast semi-join on the
    *      tiny day list → partition-pruned scan) and anti-joined against
    *      the opt-out list (broadcast — an opt-out list is human-scale);
    *   3. dynamic partition overwrite rewrites the touched days;
    *      untouched days keep their files byte-for-byte (RedactionSpec).
    * Rows with NULL user_id are never deletable — they survive the
    * anti-join by definition. Returns the number of rows removed.
    * Idempotent: a second run finds no affected days and writes nothing.
    */
  def redactUsers(spark: SparkSession, path: String, users: DataFrame): Long = {
    val optOut = broadcast(users.select(col("user_id")).distinct())
    val affectedDays = events(spark, path)
      .join(optOut, Seq("user_id"), "left_semi")
      .select(col("event_date")).distinct()
      .localCheckpoint()
    if (affectedDays.isEmpty) 0L
    else {
      val touched = events(spark, path)
        .join(broadcast(affectedDays), Seq("event_date"), "left_semi")
      val kept = touched.join(optOut, Seq("user_id"), "left_anti")
        .localCheckpoint() // materialize before overwriting what we read
      val removed = touched.count() - kept.count()
      try {
        overwriteDays(kept, path)
        // dynamic overwrite only replaces partitions PRESENT in the written
        // data — a day whose rows were ALL opted out produces no output and
        // would silently keep its stale files. Drop those directories
        // explicitly (both day lists are human-scale: driver-side is fine).
        val keptDays = kept.select(col("event_date")).distinct()
          .collect().map(_.get(0).toString).toSet
        val emptied = affectedDays.collect().map(_.get(0).toString)
          .filterNot(keptDays)
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sessionState.newHadoopConf())
        emptied.foreach { d =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/event_date=$d"), true)
        }
      } finally {
        graft.util.Checkpoints.release(kept)
        graft.util.Checkpoints.release(affectedDays)
      }
      removed
    }
  }

  /** Rewrite only the `event_date` partitions present in `df`. The
    * dynamic mode rides on the writer, not the session: a concurrent
    * static `Overwrite` + `partitionBy` on the same session (e.g.
    * [[landEvents]]) keeps its own mode. */
  private def overwriteDays(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date").parquet(path)

  def events(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Time-window read over a bronze landing. Two bounds, both implied by
    * the window's `ts >= lowerTs` so neither drops a qualifying row:
    *
    *  - `event_date >= to_date(lowerTs)` (event_date = to_date(ts)) →
    *    directory-level partition pruning;
    *  - `ts >= lowerTs` itself → row-group pruning via `PushedFilters`,
    *    because `ts` is native TIMESTAMP(MICROS) here. Stating it at the
    *    read matters for callers whose own window predicate is NOT
    *    pushable — e.g. the forecast stage filters on
    *    `date_trunc('day', ts) >= lower`, which implies `ts >= lower`
    *    (date_trunc(ts) <= ts) but never reaches the reader itself.
    *
    * `event_date` is dropped again so downstream projections see exactly
    * the raw feed's schema. WeatherBronzeSpec asserts both pruning
    * properties on the live silver plan.
    */
  def eventsWindowed(spark: SparkSession, path: String, lowerTs: Column): DataFrame =
    events(spark, path)
      .filter(col("event_date") >= to_date(lowerTs))
      .filter(col("ts") >= lowerTs)
      .drop("event_date")
}
