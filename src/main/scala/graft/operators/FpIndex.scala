package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** q190 — the EXACT-dedup modality's durable index and its streaming
  * gate, completing the set q184/q189 built for MinHash: q86's scaladoc
  * claimed "at 100 TB the corpus side is the persisted fingerprint
  * INDEX" — this makes that index real (one md5 per standing doc,
  * fp-range-clustered as a [[ZIndex]] layout committed through
  * [[graft.util.Generations]]: O(delta) appends, mutation → rebuild)
  * and runs the reference's ON-CONFLICT-DO-NOTHING admission
  * (`sql/schema.sql` DO NOTHING upserts / S6) as a CONTINUOUS gate:
  * a stream of incoming documents fingerprints per row (stateless md5
  * — Append mode, no watermark, no state at all) and anti-joins
  * stream-static against the standing index; only NOVEL documents
  * pass.
  *
  * Deliberate contract: the gate filters on STANDING membership only.
  * Within-batch duplicates both pass — collapsing them (q86's
  * min-doc_id-per-fp) belongs to the admission step that also appends
  * the index, and a streaming collapse would key on nondeterministic
  * micro-batch arrival order. The oracle replays exactly this
  * semantics.
  *
  * At 100 TB: the index is 16 bytes per standing doc, fp-clustered so
  * a batch probe prunes by fingerprint range; appends hash only new
  * feed files; the per-batch cost is one hash projection plus the
  * anti-join probe — the corpus text is never re-read. */
object FpIndex {

  /** The standing fingerprint index layout: fp-range-clustered (the
    * probe side's prune axis), DISTINCT within each maintenance unit
    * (cross-generation duplicate fps are harmless for membership). */
  private[graft] val Fps = ZTable("doc_fp_index",
    d => s"$d/documents.parquet",
    (s, d) => Tables.documents(s, d),
    "doc_id", "doc_id", 16, // informational; clusterWith overrides
    clusterWith = Some((df, n) =>
      ZIndex.rangeClusterOnce(df, n, col("fp"))),
    prep = Some(df => df.filter(col("doc_id") % 10 =!= 0)
      .select(md5(col("text")).as("fp")).distinct()),
    prepFan = 32)

  private[graft] def standingFps(spark: SparkSession, dir: String)
      : DataFrame = {
    val entries = ZIndex.resolveEntries(spark, dir, Fps)
    spark.read.parquet(entries.map(_.status.getPath.toString): _*)
  }

  /** q190 — see object doc. Output: the batch docs (doc_id % 10 == 0,
    * the q86 split) whose fingerprint is NOT in the standing index.
    *
    * foreachBatch, deliberately (the q191 shape): the standing index
    * is corpus-scale, so the stream-static anti-join would re-shuffle
    * it EVERY micro-batch — flipped, the batch's fingerprints
    * broadcast onto one standing scan to find the PRESENT set (≤ batch
    * rows), and the anti-join against that set is a second broadcast.
    * Per-batch moved bytes are O(batch), never O(corpus); the
    * membership-only contract (within-batch duplicates both pass) is
    * untouched. */
  def q190StreamNoveltyGate(spark: SparkSession, dir: String): DataFrame =
    // input-derived shuffle partitioning for the gate's per-batch plans
    // and sink writes (see graft.streaming.StreamTune)
    graft.streaming.StreamTune.withStatePartitions(
      spark, Seq(s"$dir/documents.parquet")) {
      q190Body(spark, dir)
    }

  private def q190Body(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files
      .createTempDirectory("graft_fp_stream_").toString
    val (feedDir, ckpt, outPath) = (s"$base/feed", s"$base/ckpt", s"$base/out")
    val docs = Tables.documents(spark, dir)
    // spread the feed so each micro-batch hashes in parallel
    docs.filter(col("doc_id") % 10 === 0).repartition(32)
      .write.mode("overwrite").parquet(feedDir)
    val standing = standingFps(spark, dir)
    // production batch-size governor — see VecGate.q191StreamVecGate
    val reader = spark.readStream.schema(docs.schema)
    spark.conf.getOption("spark.graft.gate.maxFilesPerTrigger")
      .foreach(v => reader.option("maxFilesPerTrigger", v))
    val q = reader.parquet(feedDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val probes = batch.select(col("doc_id"), md5(col("text")).as("fp"))
        val present = standing
          .join(broadcast(probes.select(col("fp"))), Seq("fp"))
          .select(col("fp")).distinct()
        probes.join(broadcast(present), Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp"))
          .write.mode("append").parquet(outPath)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(outPath)
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    graft.util.Checkpoints.track(out)
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    out
  }

  /** DuckDB oracle: the same standing-membership filter off the raw
    * table (see object doc for the deliberate within-batch contract). */
  val q190Sql: String =
    """WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |corpus AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 <> 0)
      |SELECT doc_id, fp FROM d b
      |WHERE doc_id % 10 = 0
      |  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
      |ORDER BY doc_id""".stripMargin
}
