package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction for Parquet table directories.
  *
  * Micro-batch upserts (the reference's 6-hourly cron ingest) and
  * streaming `foreachBatch` sinks accrete files; at cluster scale a
  * 100k-file table turns every scan's planning + open() phase into the
  * bottleneck and starves the row-group pruner (stats are per-file).
  * Compaction rewrites the directory into `ceil(bytes / targetFileSize)`
  * evenly-sized files:
  *
  *  - `repartition(n)` (round-robin shuffle), not `coalesce` — coalesce
  *    merges unevenly and can leave one executor writing most of the data;
  *  - staged write + rename-aside Hadoop-FS swap: the old copy stays
  *    at `.old` until the new one is in place (recovery by hand — unlike
  *    [[Upsert.mergeIntoParquet]], whose next call rolls a complete
  *    staged copy forward);
  *  - date-partitioned tables compact per partition directory (call this
  *    on each day's path) so only hot partitions are rewritten.
  */
object Compact {

  final case class Stats(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Rewrite `path` into ~`targetFileBytes` files. Returns before/after
    * file counts. No-op (returns unchanged stats) if the directory is
    * already at or below the target count.
    */
  def compactParquet(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Stats = {
    val hconf = spark.sessionState.newHadoopConf()
    val target = new Path(path)
    val fs = target.getFileSystem(hconf)
    val dataFiles = fs.listStatus(target)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (dataFiles.length <= nOut)
      return Stats(dataFiles.length, dataFiles.length, bytes)

    val staging = new Path(path + ".compacting")
    spark.read.parquet(path)
      .repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // rename-aside swap: the old data survives in `.old` until the new
    // directory is in place, so a crash mid-swap never destroys the only
    // copy (recover by renaming `.old` or `.compacting` back). The brief
    // missing-target window between the two renames is inherent to
    // directory swaps on HDFS-like stores; a table format (manifest
    // pointer flip) is the fully atomic upgrade.
    val old = new Path(path + ".old")
    fs.delete(old, true)
    if (!fs.rename(target, old))
      throw new java.io.IOException(s"rename $target -> $old failed")
    if (!fs.rename(staging, target))
      throw new java.io.IOException(
        s"rename $staging -> $target failed; previous data intact at $old")
    fs.delete(old, true)
    val after = fs.listStatus(target)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    Stats(dataFiles.length, after, bytes)
  }
}
