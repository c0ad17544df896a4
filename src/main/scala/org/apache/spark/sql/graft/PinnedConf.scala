package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, classic}

/** A frame re-bound into a clone of its session with `confs` set: the
  * one way this library runs a write or a query under a conf Spark only
  * reads from the session (e.g. `spark.sql.parquet.outputTimestampType`,
  * or a rule flag read at optimization time). The caller's session is
  * never written, so a concurrent caller of the same session never sees
  * the pinned value and no lock is needed. `cloneSession` (not
  * `newSession`) keeps the caller's runtime confs, temp views, injected
  * rules and cache manager, so the re-bound plan reads the same relations
  * and reuses the caller's persisted blocks. A clone copies session
  * state, not data, so every operation takes its own: a held clone would
  * miss later changes to the caller's confs. Where the writer honours an
  * option (`partitionOverwriteMode`), pass the option instead.
  */
object PinnedConf {
  def apply(df: DataFrame, confs: (String, String)*): DataFrame = {
    val clone = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    classic.Dataset.ofRows(clone, df.queryExecution.logical)
  }
}
