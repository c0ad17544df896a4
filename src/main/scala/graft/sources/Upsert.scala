package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge writer — the Parquet-world replacement for the reference's
  * `INSERT … ON CONFLICT` sinks (SURVEY §2.1 S5–S9):
  *
  *  - observations / staging / analytics: DO UPDATE ⇒ [[Mode.LastWins]]
  *    (reference `observations.py:258-283`, `cleaning.py:153-166`,
  *    `aggregation.py:205-223`)
  *  - forecasts: DO NOTHING ⇒ [[Mode.FirstWins]] (reference
  *    `forecasts.py:233-243`)
  *  - stations: DO UPDATE with GREATEST merge ⇒ [[Mode.MaxMerge]]
  *    (reference `observations.py:119-128`)
  *
  * Semantics: union(existing, incoming) → row_number over the key ordered
  * by the version column → keep rank 1 → atomic overwrite via staged tmp
  * dir + rename. Re-running the same batch is a no-op (idempotent), which
  * is the property the reference gets from ON CONFLICT (`README.md:269`).
  *
  * Scale: the dedup is one shuffle on the upsert key — the same key the
  * table should be bucketed/partitioned by, so at cluster scale this
  * becomes a per-partition merge with no extra exchange; pair with
  * partition-pruned overwrite (`partitionOverwriteMode=dynamic`) to touch
  * only affected partitions.
  */
object Upsert {

  sealed trait Mode
  object Mode {
    /** Highest version wins; ties go to the incoming row (ON CONFLICT DO
      * UPDATE — replays converge, later batches replace). */
    case object LastWins extends Mode
    /** Lowest version wins; ties go to the existing row (ON CONFLICT DO
      * NOTHING with the version column as arrival order — incremental
      * slices converge to the single-shot result regardless of batch
      * boundaries). */
    case object FirstWins extends Mode
  }

  /** Merge `incoming` into the keyed dataset `existing` (which may be
    * empty/absent). `versionCol` orders claimants for the same key —
    * e.g. `updated_at` or a batch sequence number.
    */
  def merge(existing: Option[DataFrame], incoming: DataFrame,
      keys: Seq[String], versionCol: String, mode: Mode): DataFrame = {
    val tagged = existing match {
      case Some(e) => e.withColumn("__src", lit(0)).unionByName(incoming.withColumn("__src", lit(1)))
      case None => incoming.withColumn("__src", lit(1))
    }
    val order = mode match {
      case Mode.LastWins  => Seq(col(versionCol).desc, col("__src").desc)
      case Mode.FirstWins => Seq(col(versionCol).asc, col("__src").asc)
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Read-merge-overwrite a Parquet table in place. The read is fully
    * materialized before the overwrite (write to `<path>.staging`, then
    * swap) so the source files are never deleted under an in-flight scan.
    *
    * All IO goes through the Hadoop [[org.apache.hadoop.fs.FileSystem]]
    * resolved from the path's own scheme + the session's Hadoop conf — so
    * the existence check, recursive delete, and staging rename behave
    * identically on local `file:`, HDFS, and any `FileSystem`-backed
    * object store (never `java.io.File`, which silently no-ops off the
    * local machine). Note the swap is atomic only where `rename` is
    * (HDFS/local); on S3-like stores pair with a manifest/table format.
    *
    * Crash-safe: the swap deletes the target before renaming the staged
    * copy in, so a crash between the two leaves no target but a complete
    * `.staging` (its `_SUCCESS` marker written). The next call rolls that
    * copy forward into place before it reads, instead of merging into
    * nothing and overwriting the only full copy of the table.
    */
  def mergeIntoParquet(df: DataFrame, path: String,
      keys: Seq[String], versionCol: String, mode: Mode,
      partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    def swapIn(): Unit =
      if (!fs.rename(staging, target))
        throw new java.io.IOException(s"rename $staging -> $target failed")
    if (!fs.exists(target) &&
        fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) swapIn()
    val existing = if (fs.exists(target)) Some(spark.read.parquet(path)) else None
    val merged = merge(existing, df, keys, versionCol, mode)
    val writer = merged.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(staging.toString)
    if (fs.exists(target)) fs.delete(target, true)
    swapIn()
  }
}
