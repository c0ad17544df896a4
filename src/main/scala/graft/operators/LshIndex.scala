package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** q184 — the near-dup family's PRODUCTION shape: a DURABLE,
  * INCREMENTALLY-maintained MinHash signature index, so a new batch of
  * documents finds its near-duplicates against the standing corpus
  * WITHOUT recomputing the corpus (the nightly-dedup question q135
  * answers for ANN and q86 for exact fingerprints, closed here for
  * MinHash/LSH — the last of the three dedup modalities whose index
  * was a per-JVM memo, reference dedup family at
  * `transform/cleaning.py` / SURVEY §9).
  *
  * The index is a plain parquet table of per-document signatures
  * (doc_id, h0..h15 — 16 md5-permutation min-hashes), persisted and
  * maintained as a [[ZIndex]] layout (committed through
  * [[graft.util.Generations]]; mutation → rebuild): an APPEND to the documents feed shingles and signs ONLY
  * the new files — O(delta), LshIndexSpec pins the append counters —
  * because the signature is deliberately DOC-LOCAL: raw distinct
  * 3-gram shingles, no corpus-wide df-cap (the cap is a property of
  * the pair-verification family q44/q45; a signature that depended on
  * global document frequencies could not be incrementally
  * maintained). Band hashes are DERIVED from the stored signature
  * (md5 over each 4-hash slice), so the index stores one row per doc
  * and serves both sides of the candidate join.
  *
  * The declared query plays q86's split (doc_id % 10 == 0 is the
  * incoming batch, the rest the standing corpus): batch docs sign in
  * flight, candidates come from band equality against the STORED
  * standing signatures, and verification is the signature-agreement
  * estimate (agree/16 ≥ 0.5) — bounded per-pair work with no corpus
  * re-read, the at-scale trade the exact-Jaccard verify (q45) cannot
  * make. Everything is md5 arithmetic, so the DuckDB oracle replays
  * it exactly.
  *
  * At 100 TB: the index is KB per thousand docs × O(corpus/1000),
  * appends touch only new files, the candidate join shuffles band
  * hashes (4 rows/doc), and the verify is a projection of the two
  * signature rows — no shingle sets move after signing. */
object LshIndex {

  private val NumHashes = 16
  private val BandSize = 4
  private val NumBands = NumHashes / BandSize
  /** agree/16 ≥ 0.5 — the q45 threshold re-expressed on the
    * signature-agreement estimator. */
  private val MinAgree = 8

  /** Doc-local signatures: raw distinct 3-gram shingles (NO df-cap —
    * see object doc), 16 md5-permutation min-hashes. Documents too
    * short to shingle (< 3 tokens) carry no signature and never
    * match. */
  private[graft] def docSigs(df: DataFrame): DataFrame = {
    val sh = df
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      // the short-doc guard must be a FILTER, not the greatest(...)
      // clamp alone: sequence(1, 0) is [1, 0] (Spark defaults the step
      // to -1 when start > stop) and slice(toks, 0, 3) THROWS — a
      // 1-2-token document would crash the index build (review r15)
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', slice(toks, i, 3)))")))
      .select(col("doc_id"), col("sh")).distinct()
    val sigCols = (0 until NumHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** The standing corpus's signature index as a [[ZIndex]] layout
    * contract: the transform lives in `prep` (applied to the full
    * build AND to each append delta), so maintenance signs exactly
    * the files it consumes. */
  private[graft] val Sigs = ZTable("doc_lsh_sigs",
    d => s"$d/documents.parquet",
    (s, d) => Tables.documents(s, d),
    "doc_id", "doc_id", 16,
    // rangeClusterOnce + prepFan: the md5 minhash signing must run
    // once (not twice via the range sampler) and in parallel (not at
    // the feed's split count — a one-row-group sf10 feed built this
    // index on one core for 240 s; fanned + once-evaluated: ~30 s)
    clusterWith = Some((df, n) =>
      ZIndex.rangeClusterOnce(df, n, col("doc_id"))),
    prep = Some(df => docSigs(df.filter(col("doc_id") % 10 =!= 0))),
    prepFan = 32)

  /** Band rows derived from a signature frame: (id, band_id,
    * band_hash) — md5 over each 4-hash slice, the q45 construction. */
  private def bandsOf(df: DataFrame, idAs: String): DataFrame =
    df.select(col("doc_id").as(idAs), explode(array(
      (0 until NumBands).map { b =>
        struct(lit(b).as("band_id"),
          md5(concat_ws("|",
            (0 until BandSize).map(r => col(s"h${b * BandSize + r}")): _*))
            .as("band_hash"))
      }: _*)).as("band"))
      .select(col(idAs), col("band.band_id"), col("band.band_hash"))

  /** The standing index's rows (resolving maintains the layout —
    * per-query freshness, the ZIndex contract). */
  private[graft] def standingSigs(spark: SparkSession, dir: String)
      : DataFrame = {
    val entries = ZIndex.resolveEntries(spark, dir, Sigs)
    spark.read.parquet(entries.map(_.status.getPath.toString): _*)
  }

  /** q184 — see object doc. Output: one row per (batch doc, standing
    * near-dup) with the agreement count and the estimated Jaccard. */
  def q184LshIncremental(spark: SparkSession, dir: String): DataFrame = {
    val standing = standingSigs(spark, dir)
    val batch = docSigs(
      Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0))
    val cand = bandsOf(batch, "doc_id")
      .join(bandsOf(standing, "match_id"), Seq("band_id", "band_hash"))
      .select(col("doc_id"), col("match_id")).distinct()
    val agree: Column = (0 until NumHashes).map(i =>
      when(col(s"b.h$i") === col(s"s.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(batch.as("b"), "doc_id")
      .join(standing.as("s").withColumnRenamed("doc_id", "match_id"),
        "match_id")
      .withColumn("n_agree", agree)
      .filter(col("n_agree") >= MinAgree)
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / NumHashes)
      .select(col("doc_id"), col("match_id"), col("n_agree"),
        col("est_jaccard"))
      .orderBy(col("doc_id"), col("match_id"))
  }

  /** Band rows that CARRY the full signature (prefixed columns) — the
    * streaming gate's join shape: verification needs both sides'
    * signatures on the joined row, and a stream cannot re-join itself
    * to fetch them (that would be a stream-stream join). 4 rows/doc ×
    * 16 hex columns — wider than [[bandsOf]], still KB-per-doc. */
  private def bandsWithSigs(df: DataFrame, idAs: String,
      pfx: String): DataFrame =
    df.select(col("doc_id") +: explode(array(
      (0 until NumBands).map { b =>
        struct(lit(b).as("band_id"),
          md5(concat_ws("|",
            (0 until BandSize).map(r => col(s"h${b * BandSize + r}")): _*))
            .as("band_hash"))
      }: _*)).as("band") +:
      (0 until NumHashes).map(i => col(s"h$i")): _*)
      .select(col("doc_id").as(idAs) +: col("band.band_id") +:
        col("band.band_hash") +:
        (0 until NumHashes).map(i => col(s"h$i").as(s"$pfx$i")): _*)

  /** q189 — the near-dup gate as a STREAM: q184's question ("which
    * standing documents does this incoming batch near-duplicate?") run
    * continuously — the production crawl-dedup gate, where documents
    * arrive as files and each micro-batch must be checked against the
    * standing corpus WITHOUT re-reading it.
    *
    * The whole gate is STATELESS per row except the final pair dedup:
    * the MinHash signature needs no aggregation — `array_min` over the
    * in-row shingle array IS the per-doc min (duplicates cannot change
    * a min, so the batch path's DISTINCT is unnecessary here) — so the
    * stream stays in Append mode with no watermark; bands explode per
    * row; candidates come from a stream-STATIC equi-join against the
    * durable index's band rows (the static side is the q184 layout —
    * KB-per-thousand-docs, resolved once per run); verification is
    * the signature-agreement estimate computed on the joined row
    * (the standing signatures ride the band rows — [[bandsWithSigs]] —
    * and the batch's broadcast once per batch); `dropDuplicates`
    * collapses multi-band matches within the batch (no streaming
    * state — see the foreachBatch paragraph below).
    *
    * The bounded feed (the q184 split's batch half) drains under
    * `Trigger.AvailableNow`, so the gate's output equals the batch
    * query exactly — the oracle is [[q184Sql]] verbatim, and
    * LshIndexSpec pins row equality against [[q184LshIncremental]].
    *
    * foreachBatch, deliberately (the q191 shape): the standing band
    * table is corpus-scale, so the stream-static equi-join would
    * re-shuffle it EVERY micro-batch — inside foreachBatch the
    * micro-batch is a plain DataFrame, and the flipped plan broadcasts
    * the batch's SLIM band rows (4/doc, no signatures) onto one
    * standing scan, then broadcasts the batch signatures (one row/doc)
    * for the agreement verify. Per-batch moved bytes are O(batch),
    * never O(corpus); per-batch pair dedup equals the global dedup
    * because a file-sourced feed delivers each doc in exactly one
    * batch. At 100 TB: per-batch cost is one index scan plus O(batch
    * docs × 4 band rows) broadcast — no corpus re-read, nothing
    * corpus-scale moved, at any stream volume. */
  def q189StreamNearDup(spark: SparkSession, dir: String): DataFrame =
    // input-derived shuffle partitioning for the gate's per-batch plans
    // and sink writes (see graft.streaming.StreamTune)
    graft.streaming.StreamTune.withStatePartitions(
      spark, Seq(s"$dir/documents.parquet")) {
      q189Body(spark, dir)
    }

  private def q189Body(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files
      .createTempDirectory("graft_lsh_stream_").toString
    val (feedDir, ckpt, outPath) = (s"$base/feed", s"$base/ckpt", s"$base/out")
    val docs = Tables.documents(spark, dir)
    // spread the feed: a near-single-file feed serializes the signing
    // tasks of every micro-batch (the md5 minhash is the gate's only
    // CPU-dense step — it must parallelize)
    docs.filter(col("doc_id") % 10 === 0).repartition(32)
      .write.mode("overwrite").parquet(feedDir)
    val standingBands = bandsWithSigs(standingSigs(spark, dir),
      "match_id", "s")
    val agree: Column = (0 until NumHashes).map(i =>
      when(col(s"b$i") === col(s"s$i"), 1L).otherwise(0L)).reduce(_ + _)
    // production batch-size governor — see VecGate.q191StreamVecGate
    val reader = spark.readStream.schema(docs.schema)
    spark.conf.getOption("spark.graft.gate.maxFilesPerTrigger")
      .foreach(v => reader.option("maxFilesPerTrigger", v))
    val q = reader.parquet(feedDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-row signing (array_min over the in-row shingle array —
        // duplicates cannot change a min, so no DISTINCT is needed)
        val sigCols = (0 until NumHashes).map(i =>
          expr(s"array_min(transform(__sh, s -> md5(concat('$i|', s))))")
            .as(s"h$i"))
        val signed = batch
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          // the r15 short-doc trap again: the filter, not a clamp
          .filter(size(col("toks")) >= 3)
          .withColumn("__sh", expr(
            "transform(sequence(1, size(toks) - 2), " +
              "i -> concat_ws(' ', slice(toks, i, 3)))"))
          .select(col("doc_id") +: sigCols: _*)
          // both broadcasts derive from the signatures — materialize
          // them ONCE per batch (the md5 minhash is the expensive
          // step; without this each broadcast re-signs the batch)
          .localCheckpoint(true)
        graft.util.Checkpoints.track(signed)
        val slimBands = bandsOf(signed, "doc_id")
        val batchSigs = signed.select(col("doc_id") +:
          (0 until NumHashes).map(i => col(s"h$i").as(s"b$i")): _*)
        standingBands
          .join(broadcast(slimBands), Seq("band_id", "band_hash"))
          .join(broadcast(batchSigs), Seq("doc_id"))
          .withColumn("n_agree", agree)
          .filter(col("n_agree") >= MinAgree)
          .withColumn("est_jaccard",
            col("n_agree").cast("double") / NumHashes)
          .select(col("doc_id"), col("match_id"), col("n_agree"),
            col("est_jaccard"))
          .dropDuplicates("doc_id", "match_id")
          .write.mode("append").parquet(outPath)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(outPath)
      .orderBy(col("doc_id"), col("match_id"))
      .localCheckpoint(true)
    graft.util.Checkpoints.track(out)
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    out
  }

  /** DuckDB oracle: the identical md5 signature/band arithmetic, with
    * the standing side recomputed from the raw table (the layout is a
    * projection of it). */
  val q184Sql: String = {
    val sigCols = (0 until NumHashes)
      .map(i => s"MIN(md5('$i|' || sh)) AS h$i").mkString(",\n      |    ")
    def bandRows(src: String, idAs: String) =
      (0 until NumBands).map { b =>
        val cols = (0 until BandSize).map(r => s"h${b * BandSize + r}")
          .mkString(" || '|' || ")
        s"SELECT doc_id AS $idAs, $b AS band_id, md5($cols) AS band_hash FROM $src"
      }.mkString("\n      |  UNION ALL ")
    val agree = (0 until NumHashes)
      .map(i => s"(CASE WHEN b.h$i = s.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH shingled AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |        i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |          FROM documents))),
      |sig AS (
      |  SELECT doc_id,
      |    $sigCols
      |  FROM shingled GROUP BY doc_id),
      |standing AS (SELECT * FROM sig WHERE doc_id % 10 <> 0),
      |batch AS (SELECT * FROM sig WHERE doc_id % 10 = 0),
      |sb AS (
      |  ${bandRows("standing", "match_id")}),
      |bb AS (
      |  ${bandRows("batch", "doc_id")}),
      |cand AS (
      |  SELECT DISTINCT bb.doc_id, sb.match_id
      |  FROM bb JOIN sb ON bb.band_id = sb.band_id
      |    AND bb.band_hash = sb.band_hash)
      |SELECT c.doc_id AS doc_id, c.match_id AS match_id,
      |  CAST($agree AS BIGINT) AS n_agree,
      |  CAST($agree AS DOUBLE) / $NumHashes AS est_jaccard
      |FROM cand c JOIN batch b ON c.doc_id = b.doc_id
      |  JOIN standing s ON c.match_id = s.doc_id
      |WHERE $agree >= $MinAgree
      |ORDER BY c.doc_id, c.match_id""".stripMargin
  }
}
