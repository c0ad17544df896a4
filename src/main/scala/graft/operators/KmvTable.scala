package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.util.Generations

/** Durable, INCREMENTALLY-maintained daily sketch table — the profiler
  * shape the q139/q146/q148/q161 family's 100 TB posture keeps
  * promising: the raw feed is an append-only pile of part files; per
  * (event_type, day) the table stores BOTH bounded kept-sets the house
  * aggregates produce from one scan —
  *
  *   - `ksf` (array<struct<h,c>>): the KMV kept set over md5(user_id)
  *     WITH exact per-hash occurrence counts (`KmvFreqSketch` storage
  *     form, format-3) — [[kmvView]] projects the hashes for the
  *     distinct-count algebra (q146/q148/q151), [[keyStatsView]] serves
  *     the full join synopsis ([[graft.plans.JoinSynopsis.fromTable]],
  *     q166);
  *   - `smp` (array<struct<h,v>>): the bottom-k-by-md5(event_id) value
  *     sample (`QuantileSketch` storage form — rolling quantiles, q161);
  *   - the STATISTICS BUNDLES (r11): value tier `kv`/`n`/`vmin`/`vmax`
  *     (column NDV, population, bounds — [[graft.plans.ValueSynopsis
  *     .fromTable]], q165, [[statsView]]) and key tier `nu`/`umin`/
  *     `umax` (key population and domain bounds — q166) — everything a
  *     planner statistic needs, standing in for ANALYZE.
  *
  * Both key on the same (event_type, d) partitions, so ONE maintenance
  * scan of a new part file feeds both families (r10 verdict #7) — a
  * 100 TB feed pays one scan per file EVER, and every downstream
  * question (daily distinct, rolling windows via q146's algebra,
  * pairwise overlap via q148's, rolling quantiles via q161's) runs off
  * the KB-sized table.
  *
  * Consistency contract:
  *   - file identity = (name, length, mtime). A consumed file that is
  *     no longer listed with the same identity means the corpus was
  *     MUTATED, not appended — the table is stale by construction and
  *     maintenance falls back to a full rebuild (the IVF corpus-stamp
  *     rule, `VectorOps.corpusStamp`, applied per-file so appends stay
  *     incremental).
  *   - every maintenance writes and commits a NEW generation through
  *     [[graft.util.Generations]] (atomic commit marker, crash-leftover
  *     sweep, consumed-identity diff).
  *   - MANIFEST generations (r10 verdict #2): a generation holds ONLY
  *     the partitions its maintenance actually rewrote, plus a
  *     `manifest` mapping every live (event_type, d) partition to the
  *     generation that OWNS its files. An append therefore WRITES only
  *     the touched partitions — the untouched table is carried forward
  *     by reference, not by the per-generation byte-copy that made
  *     append cost O(table width) driver IO (r10 measured the copy at
  *     no-op 0.5→1.7 s / append 2.1→7.0 s; this reverses it).
  *     Partition data files carry `event_type`/`d` as ORDINARY columns
  *     (the physical layout uses shadow partition columns `pet`/`pd`),
  *     so a reader lists the manifest and reads the owned dirs directly
  *     — no partition inference across generation roots.
  *   - generation COMPACTION (r11): when the prospective manifest would
  *     reference more than `spark.graft.kmv.maxGenerations` (16)
  *     distinct generations, the maintenance rewrites every live
  *     partition into the new generation — O(table) sketch rows, zero
  *     feed IO — so append-only workloads keep a bounded directory
  *     fan-out instead of one generation per run forever.
  *   - generations are swept by REFERENCE: a gen dir is deleted only
  *     when neither the latest committed manifest nor the prior
  *     committed one references it (the prior manifest keeps in-flight
  *     lazy readers of the previous table alive — the one-prior
  *     retention rule, refcount form).
  *   - re-running after a crash re-merges the same files — KMV /
  *     bottom-k union-resketch is IDEMPOTENT (re-adding hashes already
  *     in a kept set changes nothing), so at-least-once maintenance is
  *     exactly-once in effect. No transaction log.
  *   - consumed-file membership is a driver-side set diff of the feed
  *     listing against `consumed`: the listing is on the driver anyway,
  *     and `consumed` holds the same identities, one line per file.
  *   - a PRE-MANIFEST layout (r10's per-generation full copies, or the
  *     r9 flat `sketches/`+`consumed/` root) is detected by the missing
  *     manifest and migrated by one full rebuild; the stale dirs are
  *     deleted rather than lingering (r10 ADVICE).
  *
  * The table lives under `spark.graft.kmv.tableDir` (default: a
  * per-corpus tmp path). [[filesScanned]] / [[fullRebuilds]] are the
  * spec observables (KmvMaintainSpec): a no-op maintenance must scan
  * zero files; an append must scan only the appended files and WRITE
  * only the appended days' partitions; a mutation must rebuild.
  */
object KmvTable {

  private[graft] val K = 64

  /** Generation format marker file. Bumped when the table schema gains
    * columns: a committed generation WITHOUT the current marker is
    * treated as a legacy layout (one migrating rebuild, stale dirs
    * deleted) — reading an old generation through the new schema would
    * silently null-fill the missing statistics columns instead.
    * format-2 added the value-tier bundle (kv/n/vmin/vmax); format-3
    * turned `ks` into the frequency-carrying `ksf` and added the
    * key-tier bundle (nu/umin/umax); format-4 added `kss`, the SALTED
    * frequency-KMV (r11 verdict #2 — q162's independent per-type
    * draws, see the schema comment); format-5 added `nuv`, the
    * user∧value non-null population (r12 ADVICE — the exact
    * null-complement for a key-framed value column, so injected value
    * nullCounts stop being a bound); format-6 records `consumed` as
    * identity lines ([[graft.util.Generations]]) instead of parquet. */
  private[graft] val FormatMarker = "format-6"

  /** Part files scanned by maintenance in this JVM (spec observable). */
  private[graft] val filesScanned = new AtomicLong
  /** Full rebuilds forced by corpus mutation or by a legacy layout /
    * format-marker migration (spec observable). */
  private[graft] val fullRebuilds = new AtomicLong

  /** Table schema as returned by [[maintain]] (and used for the empty
    * frame when a corpus has no rows yet — r10 ADVICE: an empty first
    * maintenance must not die on parquet schema inference). */
  private val tableSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("d", DateType),
    // the KMV kept set over md5(user_id) WITH per-hash exact daily
    // occurrence counts (format-3: [[graft.functions.KmvFreqSketch]]) —
    // hash-only consumers ([[kmvView]]) project `h` back out; the
    // counts make the per-type merge a full join synopsis
    // ([[graft.plans.KeySynopsis]]): counts ADD across partials by
    // downward-closure, so the merged bottom-k carries exact corpus
    // frequencies
    StructField("ksf", ArrayType(StructType(Seq(
      StructField("h", StringType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)),
    // the SALTED sibling of ksf (format-4): the same frequency-carrying
    // KMV kept set, but over md5(event_type ‖ ':' ‖ user_id) — each
    // type draws its bottom-k from an INDEPENDENT hash assignment of
    // the shared user universe. The unsalted ksf must stay as-is:
    // q157/q158's matched-key join estimator NEEDS coordinated
    // sampling (cross-type kept-set intersections are the signal);
    // q162's per-type F₂ has no cross-type term and needs the
    // decorrelated draws (r10 verdict #6) — so the table carries both,
    // off the same single scan.
    StructField("kss", ArrayType(StructType(Seq(
      StructField("h", StringType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)),
    StructField("smp", ArrayType(StructType(Seq(
      StructField("h", StringType, nullable = false),
      StructField("v", LongType, nullable = false))), containsNull = false)),
    // the per-partition STATISTICS BUNDLE (r11): everything a planner
    // statistic needs, off the SAME single scan — `kv` the value-KMV
    // kept set (column NDV algebra, as `ks` is for users), `n` the
    // population row count (value AND event_id non-null — the sample's
    // population, so sample fractions scale to rows), `vmin`/`vmax`
    // the exact value bounds (histogram endpoints; Catalyst requires
    // colStat [min, max] coverage). n adds across disjoint daily row
    // sets; kv union-resketches; bounds take min/max — all mergeable,
    // so appends stay O(touched).
    StructField("kv", ArrayType(StringType, containsNull = false)),
    StructField("n", LongType),
    StructField("vmin", LongType),
    StructField("vmax", LongType),
    // the KEY-tier bundle (format-3): `nu` rows with a non-null
    // user_id (the key population — Σ over days = KeySynopsis.rows)
    // and the exact key-domain bounds Catalyst requires before a join
    // estimate can fire (absent min/max ⇒ NullValueInterval ⇒ every
    // estimate zero). Mergeable like the value tier: counts add,
    // bounds min/max.
    StructField("nu", LongType),
    StructField("umin", LongType),
    StructField("umax", LongType),
    // format-5: rows with user_id AND value both non-null — the exact
    // complement for the null count of a value column framed over the
    // key population (the typed layout's `v`: its population is the
    // user-non-null frame, but `n` counts the value∧event_id frame, so
    // n could only bound the nullCount). Adds like nu.
    StructField("nuv", LongType)))

  private[graft] def tableRoot(spark: SparkSession, dir: String): String =
    spark.conf.getOption("spark.graft.kmv.tableDir").getOrElse {
      val id = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      sys.props("java.io.tmpdir") + s"/graft_kmv_table/$id"
    }

  private def listParts(spark: SparkSession, dir: String)
      : Seq[Generations.PartFile] =
    Generations.parts(spark, s"$dir/events.parquet")

  /** Partition-dir rel path in Spark's own escaping — the manifest key
    * and the physical layout must agree, and partition DIRECTORY names
    * are Spark-escaped (space, '=', ':' … become %XX): an unescaped
    * manifest key for an escapable event_type would orphan the written
    * partition (the r10 self-review lesson, manifest form). */
  private def relPath(eventType: String, day: String): String = {
    def esc(v: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
    s"pet=${esc(eventType)}/pd=${esc(day)}"
  }

  /** The manifest: one line per live partition, `gen<TAB>relPath`.
    * Tiny (days × types lines) and written once per maintenance —
    * driver-side text IO at planner-metadata scale. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      genDir: String): Option[Map[String, Long]] =
    Generations.readLines(fs, s"$genDir/manifest").map(_.map { line =>
      val i = line.indexOf('\t')
      line.substring(i + 1) -> line.substring(0, i).toLong
    }.toMap)

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      genDir: String, manifest: Map[String, Long]): Unit =
    Generations.writeLines(fs, s"$genDir/manifest", manifest.toSeq.sortBy(_._1)
      .map { case (rel, g) => s"$g\t$rel" })

  /** Read the live table a committed manifest describes. The data files
    * carry event_type/d as ordinary columns, so a list of owned dirs
    * reads directly — no cross-generation partition discovery. */
  private def readTable(
      spark: SparkSession, root: String,
      manifest: Map[String, Long]): DataFrame =
    if (manifest.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    else {
      val dirs = manifest.toSeq.sortBy(_._1)
        .map { case (rel, g) => s"$root/gen-$g/parts/$rel" }
      spark.read.schema(tableSchema).parquet(dirs: _*)
        .select(col("event_type"), col("d"), col("ksf"), col("kss"), col("smp"),
          col("kv"), col("n"), col("vmin"), col("vmax"),
          col("nu"), col("umin"), col("umax"), col("nuv"))
    }

  /** Partitions this JVM's last maintenance REWROTE (spec observable
    * for the touched-days posture; manifest-escaped rel paths). */
  private[graft] val lastRewrittenPartitions =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)

  /** Bring the sketch table up to date with `dir`'s events feed and
    * return it — the full format-4 row: (event_type, d, ksf, kss, smp,
    * kv, n, vmin, vmax, nu, umin, umax); use the family views
    * ([[kmvView]]/[[quantileView]]/[[statsView]]/[[keyStatsView]]) for
    * pruned projections. Scans only unconsumed part
    * files, WRITES only touched (type, day) partitions into a fresh
    * committed generation (untouched partitions ride forward by
    * manifest reference); serialized per JVM (the table write is not
    * concurrent-safe, and callers are the gate/bench harnesses). */
  def maintain(spark: SparkSession, dir: String): DataFrame = synchronized {
    val root = tableRoot(spark, dir)
    val fs = Generations.fsOf(spark, root)
    val parts = listParts(spark, dir)
    import spark.implicits._
    // legacy layouts (r9 flat dirs, r10 manifest-less full-copy gens,
    // older format markers) cannot be carried forward: their files lack
    // columns this layout reads. One-shot migrate: drop everything and
    // rebuild fresh (r10 ADVICE — no stale dirs left lingering).
    val opened = Generations.open(fs, root)
    val priorManifest = opened.latest.flatMap(g => readManifest(fs, opened.dir(g)))
    val legacy = opened.latest.isDefined && (priorManifest.isEmpty ||
      !fs.exists(new org.apache.hadoop.fs.Path(
        s"${opened.dir(opened.latest.get)}/$FormatMarker")))
    if (legacy) {
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      ()
    }
    Seq("sketches", "consumed").foreach { d => // r9 flat layout
      val p = new org.apache.hadoop.fs.Path(s"$root/$d")
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
    val gens = if (legacy) Generations.open(fs, root) else opened
    val delta = gens.diff(parts)
    val stale = delta == Generations.Mutated
    if (stale || legacy) fullRebuilds.incrementAndGet()
    val baseManifest: Map[String, Long] =
      if (gens.latest.isDefined && !stale) priorManifest.get else Map.empty
    val base: Option[DataFrame] =
      if (gens.latest.isDefined && !stale) Some(readTable(spark, root, baseManifest))
      else None
    val newParts = delta match {
      case Generations.Unchanged => return base.get
      case Generations.Appended(fresh) => fresh
      case Generations.Mutated => parts
    }
    filesScanned.addAndGet(newParts.size)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ONE scan of the new files feeds BOTH kept-set families: the KMV
    // distinct sketch over md5(user_id) and the quantile value sample
    // over md5(event_id) (both aggregates skip null inputs, so the
    // per-family filters ride in as null-guards). Cached: the
    // touched-keys collect and the generation write both consume this
    // aggregate. KB-scale kept sets; released after the write.
    val raw = Tables.normalizeEventsTs(
        spark.read.parquet(newParts.map(_.path): _*))
    val newDaily = raw
      .select(col("event_type"), to_date(col("ts")).as("d"),
        when(col("user_id").isNotNull,
          md5(col("user_id").cast("string"))).as("hu"),
        // the SALTED key hash (format-4): per-type independent draws —
        // same salt convention as q162 (md5(type ‖ ':' ‖ user))
        when(col("user_id").isNotNull,
          md5(concat(col("event_type"), lit(":"),
            col("user_id").cast("string")))).as("hs"),
        when(col("value").isNotNull,
          md5(col("event_id").cast("string"))).as("he"),
        when(col("value").isNotNull,
          (col("value").cast("decimal(18,2)") * lit(100)).cast("long")).as("v"),
        col("user_id").as("u"))
      .groupBy(col("event_type"), col("d"))
      .agg(graft.functions.KmvFreqAgg.kmvFreq(
          spark, col("hu"), lit(1L), K).as("ksf"),
        graft.functions.KmvFreqAgg.kmvFreq(
          spark, col("hs"), lit(1L), K).as("kss"),
        graft.functions.QuantileSketchAgg.qsketch(
          spark, col("he"), col("v"), K).as("smp"),
        // the statistics bundle, same scan: population = he non-null
        // (value AND event_id both present — the sample's population)
        graft.functions.KmvSketchAgg.kmvFull(spark,
          when(col("he").isNotNull, md5(col("v").cast("string"))), K).as("kv"),
        count(col("he")).as("n"),
        min(when(col("he").isNotNull, col("v"))).as("vmin"),
        max(when(col("he").isNotNull, col("v"))).as("vmax"),
        // key-tier bundle: the user population and key-domain bounds
        count(col("u")).as("nu"),
        // format-5: the user∧value non-null population (v is non-null
        // exactly where value was) — exact nullCount complement for
        // key-framed value columns
        count(when(col("u").isNotNull && col("v").isNotNull, lit(1)))
          .as("nuv"),
        min(col("u")).as("umin"),
        max(col("u")).as("umax"))
      .cache()
    // touched (type, day) keys of THIS append — bounded by the append
    // size (days × types), not the table; drives the merge scope, the
    // partition write, and the manifest delta
    val touched: Set[(String, String)] = newDaily
      .select(col("event_type"), col("d").cast("string")).distinct()
      .as[(String, String)].collect().toSet
    val touchedRel = touched.map { case (t, d) => relPath(t, d) }
    val merged = base match {
      case None => newDaily
      case Some(_) =>
        // union-and-resketch over TOUCHED days only (KB-sized kept
        // sets): the prior table's touched partitions are resolved
        // STRAIGHT FROM THE MANIFEST, so the merge lists O(touched)
        // dirs — the read-side analogue of the touched-only write (the
        // earlier shape semi-joined against the full table, listing
        // every partition of every generation to discard all but the
        // appended days). ks and smp merge through their own
        // aggregates (explode/inline → re-sketch: the
        // bottom-k-of-union law holds for both), re-joined on the
        // touched key frame because a partition may have rows in one
        // family only — or neither.
        val touchedOwned = touchedRel.filter(baseManifest.contains).toSeq.sorted
        val bTouched =
          if (touchedOwned.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
          else spark.read.schema(tableSchema).parquet(touchedOwned.map(rel =>
              s"$root/gen-${baseManifest(rel)}/parts/$rel"): _*)
            .select(col("event_type"), col("d"), col("ksf"), col("kss"), col("smp"),
              col("kv"), col("n"), col("vmin"), col("vmax"),
              col("nu"), col("umin"), col("umax"), col("nuv"))
        val pre = bTouched.unionByName(newDaily)
        // frequency-KMV partials merge through the SAME aggregate with
        // the stored count as the weight: counts ADD per hash, and a
        // merged-bottom-k hash was kept by every partial it occurred in
        // (downward-closure), so the merged counts stay exact
        val mergedKsf = pre
          .select(col("event_type"), col("d"), expr("inline(ksf)"))
          .groupBy(col("event_type"), col("d"))
          .agg(graft.functions.KmvFreqAgg.kmvFreq(
            spark, col("h"), col("c"), K).as("ksf"))
        // the salted partials merge through the identical rule — the
        // downward-closure count exactness is hash-blind
        val mergedKss = pre
          .select(col("event_type"), col("d"), expr("inline(kss)"))
          .groupBy(col("event_type"), col("d"))
          .agg(graft.functions.KmvFreqAgg.kmvFreq(
            spark, col("h"), col("c"), K).as("kss"))
        val mergedSmp = pre
          .select(col("event_type"), col("d"), expr("inline(smp)"))
          .groupBy(col("event_type"), col("d"))
          .agg(graft.functions.QuantileSketchAgg.qsketch(
            spark, col("h"), col("v"), K).as("smp"))
        // value-KMV merges like ks (the same hash can recur across
        // files — kmvFull dedups); counts ADD (daily row sets are
        // disjoint), bounds take min/max. The scalar aggregate never
        // explodes, so it keeps every touched group and needs no
        // empty-group repair.
        val mergedKv = pre
          .select(col("event_type"), col("d"), explode(col("kv")).as("hv"))
          .groupBy(col("event_type"), col("d"))
          .agg(graft.functions.KmvSketchAgg.kmvFull(spark, col("hv"), K).as("kv"))
        val mergedStat = pre
          .groupBy(col("event_type"), col("d"))
          .agg(sum(col("n")).as("n"),
            min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
            sum(col("nu")).as("nu"), sum(col("nuv")).as("nuv"),
            min(col("umin")).as("umin"), max(col("umax")).as("umax"))
        // anchor the merge on the full TOUCHED key set, not on the
        // aggregates: explode/inline ELIMINATE a group whose arrays are
        // both empty (a day whose only events carry null user AND null
        // value), but that partition is already promised to this
        // generation by the manifest — dropping the row here would
        // commit a manifest entry pointing at a dir that was never
        // written, wedging every later read (self-review r11)
        pre.select(col("event_type"), col("d")).distinct()
          .join(mergedKsf, Seq("event_type", "d"), "left")
          .join(mergedKss, Seq("event_type", "d"), "left")
          .join(mergedSmp, Seq("event_type", "d"), "left")
          .join(mergedKv, Seq("event_type", "d"), "left")
          .join(mergedStat, Seq("event_type", "d"), "left")
          .select(col("event_type"), col("d"),
            coalesce(col("ksf"),
              array().cast("array<struct<h:string,c:bigint>>")).as("ksf"),
            coalesce(col("kss"),
              array().cast("array<struct<h:string,c:bigint>>")).as("kss"),
            coalesce(col("smp"),
              array().cast("array<struct<h:string,v:bigint>>")).as("smp"),
            coalesce(col("kv"), array().cast("array<string>")).as("kv"),
            coalesce(col("n"), lit(0L)).as("n"),
            col("vmin"), col("vmax"),
            coalesce(col("nu"), lit(0L)).as("nu"),
            coalesce(col("nuv"), lit(0L)).as("nuv"),
            col("umin"), col("umax"))
    }
    // land the new generation: ONLY touched partitions written (shadow
    // partition columns pet/pd keep event_type/d as data columns in the
    // files)
    val nextN = gens.next
    // GENERATION COMPACTION: append-only workloads otherwise accumulate
    // one generation per maintenance run FOREVER (each keeps owning the
    // day it appended), so reads list O(runs) directories and the
    // reference sweep can never reclaim them. When the prospective
    // manifest would reference more than spark.graft.kmv.maxGenerations
    // distinct generations, this run rewrites EVERY live partition into
    // the new generation instead — cost O(table) = KB-scale sketch
    // rows, NOT the corpus (the feed is untouched: filesScanned still
    // counts only the new files), same crash-atomic commit, and the
    // orphaned old generations fall to the ordinary reference sweep.
    val untouchedOwned = baseManifest -- touchedRel
    // house conf-parsing convention (r11 ADVICE): a malformed or
    // nonsensical (< 1) value falls back to the default instead of
    // throwing mid-maintenance after the uncommitted-gen sweep
    val maxGens = spark.conf.getOption("spark.graft.kmv.maxGenerations")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(16)
    val compact = (untouchedOwned.values.toSet + nextN).size > maxGens
    val writeSet =
      if (!compact || untouchedOwned.isEmpty) merged
      else merged.unionByName(
        spark.read.schema(tableSchema).parquet(untouchedOwned.keys.toSeq.sorted
            .map(rel => s"$root/gen-${baseManifest(rel)}/parts/$rel"): _*)
          .select(col("event_type"), col("d"), col("ksf"), col("kss"), col("smp"),
            col("kv"), col("n"), col("vmin"), col("vmax"),
            col("nu"), col("umin"), col("umax"), col("nuv")))
    val writtenRel =
      if (compact) touchedRel ++ untouchedOwned.keySet else touchedRel
    lastRewrittenPartitions.set(writtenRel)
    if (writtenRel.nonEmpty)
      writeSet
        .withColumn("pet", col("event_type"))
        .withColumn("pd", col("d").cast("string"))
        .write.mode("overwrite").partitionBy("pet", "pd")
        .parquet(s"${gens.nextDir}/parts")
    newDaily.unpersist()
    // the new manifest: untouched partitions keep their owning
    // generation (ALL partitions land here on a compaction run);
    // touched ones are owned here. (A full rebuild has an empty
    // baseManifest, so the manifest is exactly the touched set.)
    val manifest =
      if (compact) writtenRel.iterator.map(_ -> nextN).toMap
      else untouchedOwned ++ touchedRel.iterator.map(_ -> nextN)
    writeManifest(fs, gens.nextDir, manifest)
    // schema-format stamp, then the COMMIT. Kept: generations owning
    // live partitions in the new manifest or the PRIOR COMMITTED one (in-
    // flight lazy readers of the previous table). priorManifest, not
    // baseManifest: on a stale rebuild baseManifest is forced empty, but
    // the last committed manifest's references are exactly what an
    // in-flight reader still needs (self-review r11).
    fs.create(new org.apache.hadoop.fs.Path(
      s"${gens.nextDir}/$FormatMarker"), false).close()
    gens.commit(parts,
      manifest.values.toSet ++ priorManifest.fold(Set.empty[Long])(_.values.toSet))
    // catalog-statistics refresh (r11 verdict #3): every commit that
    // WROTE re-fires the registered stat injections for this corpus —
    // fired here, after the commit and sweep, so callbacks that read
    // the table back (fromTable) land on the fresh generation through
    // maintain's no-op path (no recursion, same thread-reentrant lock)
    graft.plans.SynopsisStats.refreshAfterMaintain(spark, dir)
    readTable(spark, root, manifest)
  }

  /** The distinct-count view of the table — exactly the pre-r11
    * contract (event_type, d, ks), restricted to partitions with at
    * least one kept hash: the combined scan keeps a (type, day) row
    * whenever ANY event lands there, but the q146/q148/q151 algebra is
    * defined over days that have ≥1 non-null user (their oracles build
    * the daily table from a user_id IS NOT NULL frame). Since format-3
    * the physical column is the frequency-carrying `ksf`; this view
    * projects the hashes back out, so every hash-algebra consumer
    * (q146/q148/q151) is untouched by the format change. */
  def kmvView(spark: SparkSession, dir: String): DataFrame =
    maintain(spark, dir).filter(size(col("ksf")) > 0)
      .select(col("event_type"), col("d"),
        expr("transform(ksf, x -> x.h)").as("ks"))

  /** The quantile-sample view (event_type, d, smp) — the durable form
    * of q161's daily sample table (r10 verdict #7), same restriction
    * for days with ≥1 non-null value. */
  def quantileView(spark: SparkSession, dir: String): DataFrame =
    maintain(spark, dir).filter(size(col("smp")) > 0)
      .select(col("event_type"), col("d"), col("smp"))

  /** The per-partition statistics view (event_type, d, n, vmin, vmax,
    * kv): population row count, exact value bounds, and the value-KMV
    * kept set — the planner-statistics tier of the table (r11).
    * [[graft.plans.ValueSynopsis.fromTable]] merges it per type into a
    * feed-free column synopsis (rows, NDV, min/max, histogram) — an
    * ANALYZE whose corpus scan already happened, shared with the
    * sketch maintenance. Restricted to partitions with population > 0
    * (all-null days carry no value statistics). */
  def statsView(spark: SparkSession, dir: String): DataFrame =
    maintain(spark, dir).filter(col("n") > 0)
      .select(col("event_type"), col("d"), col("n"),
        col("vmin"), col("vmax"), col("kv"))

  /** The KEY-tier statistics view (event_type, d, nu, umin, umax, ksf):
    * key population, exact key-domain bounds, and the frequency-
    * carrying kept set — everything [[graft.plans.JoinSynopsis
    * .fromTable]] needs to merge a per-type [[graft.plans.KeySynopsis]]
    * (the q157 join-size estimator's input, and [[graft.plans
    * .SynopsisStats]]'s) with no feed scan. Restricted to partitions
    * with ≥1 non-null user (all-null days carry no key statistics). */
  def keyStatsView(spark: SparkSession, dir: String): DataFrame =
    keyStatsViewOf(maintain(spark, dir))

  /** [[keyStatsView]] over an already-maintained table frame — for
    * consumers that read several views of one maintenance result
    * (e.g. [[graft.plans.SynopsisStats]] injections building key AND
    * value synopses): each `maintain` call, even the no-op fast path,
    * costs the feed and generation listings plus a `consumed` read, so
    * a multi-view consumer should pay it once. */
  private[graft] def keyStatsViewOf(table: DataFrame): DataFrame =
    table.filter(col("nu") > 0)
      .select(col("event_type"), col("d"), col("nu"),
        col("umin"), col("umax"), col("ksf"))

  /** Per-type user∧value non-null population (Σ `nuv`) off an
    * already-maintained frame — the exact complement for a key-framed
    * value column's nullCount ([[graft.operators.StatsJoin]] injects
    * `rows − uv` where the pre-format-5 shape could only bound it from
    * the value∧event_id population). KB-scale aggregate over the
    * sketch table. */
  private[graft] def uvPopulations(table: DataFrame): Map[String, Long] =
    table.groupBy(col("event_type"))
      .agg(coalesce(sum(col("nuv")), lit(0L)).as("uv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** q151 — the maintained table as an oracled query: per (type, day)
    * sketch columns + estimate, with exact anchors from the raw feed
    * (the corpus-scale pass the maintained table exists to avoid — the
    * gate's exactness hook, as in q139/q146/q148). The estimator and
    * saturation rule are q139's.
    */
  def q151KmvMaintain(spark: SparkSession, dir: String): DataFrame = {
    val t = kmvView(spark, dir)
      .select(col("event_type"), col("d"),
        size(col("ks")).cast("long").as("n_kept"),
        element_at(col("ks"), size(col("ks"))).as("hk"))
    if (!graft.operators.Layout.anchorsOn(spark)) {
      // production shape: the maintained table IS the answer — no
      // exact-anchor rescan of the feed (SketchAnchorsSpec pins that
      // this plan never touches events.parquet when the table is fresh)
      return t.withColumn("kmv_estimate",
          Layout.kmvEstimate(col("n_kept"), col("hk"), K, col("n_kept").cast("double")))
        .select(col("event_type"), col("d"), col("n_kept"), col("hk"),
          col("kmv_estimate"))
        .orderBy(col("event_type"), col("d"))
    }
    val exact = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count_distinct(col("user_id")).as("n_distinct"))
    t.join(exact, Seq("event_type", "d"))
      .withColumn("kmv_estimate",
        Layout.kmvEstimate(col("n_kept"), col("hk"), K, col("n_distinct").cast("double")))
      .select(col("event_type"), col("d"), col("n_kept"), col("hk"),
        col("n_distinct"), col("kmv_estimate"),
        ((col("kmv_estimate") - col("n_distinct").cast("double"))
          / col("n_distinct").cast("double")).as("rel_err"))
      .orderBy(col("event_type"), col("d"))
  }

  val q151Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, user_id,
      |    md5(CAST(user_id AS VARCHAR)) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |dh AS (SELECT DISTINCT event_type, d, h FROM e),
      |r AS (
      |  SELECT event_type, d, h, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, d ORDER BY h) AS rn
      |  FROM dh),
      |sk AS (
      |  SELECT event_type, d, COUNT(*) AS n_kept, MAX(h) AS hk
      |  FROM r WHERE rn <= 64 GROUP BY 1, 2),
      |x AS (
      |  SELECT event_type, d, COUNT(DISTINCT user_id) AS n_distinct
      |  FROM e GROUP BY 1, 2),
      |j AS (
      |  SELECT sk.event_type, sk.d, CAST(sk.n_kept AS BIGINT) AS n_kept,
      |    sk.hk, CAST(x.n_distinct AS BIGINT) AS n_distinct,
      |    CASE WHEN sk.n_kept < 64 THEN CAST(x.n_distinct AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS kmv_estimate
      |  FROM sk JOIN x ON sk.event_type = x.event_type AND sk.d = x.d)
      |SELECT event_type, d, n_kept, hk, n_distinct, kmv_estimate,
      |  (kmv_estimate - CAST(n_distinct AS DOUBLE))
      |    / CAST(n_distinct AS DOUBLE) AS rel_err
      |FROM j ORDER BY event_type, d""".stripMargin

  /** q165 — PER-TYPE COLUMN STATISTICS from the table's bundle: the
    * ANALYZE surface (rows, min/max, NDV estimate) as an oracled query.
    * Everything left of the anchors comes from [[statsView]] — counts
    * SUM across the disjoint daily row sets, bounds take min/max, the
    * per-day value-KMV kept sets union-resketch to the corpus bottom-64
    * (any corpus bottom-64 hash is in its day's bottom-64, so the union
    * contains it — the KMV union law). rows/vmin/vmax are EXACT by
    * construction; only the NDV is an estimate (q139's estimator over
    * md5(value)). Anchored, the feed-exact columns ride along
    * (x_rows/x_min/x_max/n_distinct_v), so the gate hash proves the
    * merged table equals the feed — DuckDB computes BOTH sides from the
    * feed, Spark computes the left side from the table. Anchors-off the
    * whole answer is KB of table reads (SketchAnchorsSpec pins the plan
    * feed-free): the 100 TB ANALYZE that never rescans the corpus. */
  def q165TableStats(spark: SparkSession, dir: String): DataFrame = {
    val sv = statsView(spark, dir)
    val agg = sv.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_pop"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
    val kvm = sv.select(col("event_type"), explode(col("kv")).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvSketchAgg.kmvFull(spark, col("h"), K).as("kv"))
      .select(col("event_type"), size(col("kv")).cast("long").as("n_kept_v"),
        element_at(col("kv"), size(col("kv"))).as("hk_v"))
    val t = agg.join(kvm, Seq("event_type"))
    if (!Layout.anchorsOn(spark)) {
      // production shape: the statistics ARE the table — no feed scan
      return t.withColumn("ndv_est", Layout.kmvEstimate(
          col("n_kept_v"), col("hk_v"), K, col("n_kept_v").cast("double")))
        .select(col("event_type"), col("n_pop"), col("vmin"), col("vmax"),
          col("n_kept_v"), col("hk_v"), col("ndv_est"))
        .orderBy(col("event_type"))
    }
    val exact = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("x_rows"), min(col("v")).as("x_min"),
        max(col("v")).as("x_max"), count_distinct(col("v")).as("n_distinct_v"))
    t.join(exact, Seq("event_type"))
      .withColumn("ndv_est", Layout.kmvEstimate(
        col("n_kept_v"), col("hk_v"), K, col("n_distinct_v").cast("double")))
      .withColumn("rel_err", (col("ndv_est") - col("n_distinct_v").cast("double"))
        / col("n_distinct_v").cast("double"))
      .select(col("event_type"), col("n_pop"), col("vmin"), col("vmax"),
        col("n_kept_v"), col("hk_v"), col("ndv_est"), col("x_rows"),
        col("x_min"), col("x_max"), col("n_distinct_v"), col("rel_err"))
      .orderBy(col("event_type"))
  }

  val q165Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      |t AS (
      |  SELECT event_type, COUNT(*) AS n_pop, MIN(v) AS vmin, MAX(v) AS vmax,
      |    COUNT(DISTINCT v) AS n_distinct_v
      |  FROM e GROUP BY 1),
      |dh AS (SELECT DISTINCT event_type, md5(CAST(v AS VARCHAR)) AS h FROM e),
      |r AS (
      |  SELECT event_type, h, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY h) AS rn FROM dh),
      |sk AS (
      |  SELECT event_type, COUNT(*) AS n_kept_v, MAX(h) AS hk_v
      |  FROM r WHERE rn <= 64 GROUP BY 1),
      |j AS (
      |  SELECT t.event_type AS event_type,
      |    CAST(t.n_pop AS BIGINT) AS n_pop, t.vmin, t.vmax,
      |    CAST(sk.n_kept_v AS BIGINT) AS n_kept_v, sk.hk_v,
      |    CASE WHEN sk.n_kept_v < 64 THEN CAST(t.n_distinct_v AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk_v, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS ndv_est,
      |    CAST(t.n_pop AS BIGINT) AS x_rows, t.vmin AS x_min, t.vmax AS x_max,
      |    CAST(t.n_distinct_v AS BIGINT) AS n_distinct_v
      |  FROM t JOIN sk ON t.event_type = sk.event_type)
      |SELECT event_type, n_pop, vmin, vmax, n_kept_v, hk_v, ndv_est,
      |  x_rows, x_min, x_max, n_distinct_v,
      |  (ndv_est - CAST(n_distinct_v AS DOUBLE))
      |    / CAST(n_distinct_v AS DOUBLE) AS rel_err
      |FROM j ORDER BY event_type""".stripMargin

  /** Per-type merged frequency-KMV off [[keyStatsView]]: daily ksf
    * partials merged through the count-weighted aggregate at the
    * table's OWN k (the merge k and the stored-partial k must agree, or
    * corpus-bottom-k hashes outside some day's bottom-k lose that day's
    * count — the downward-closure law only covers k ≤ the partials').
    * Shared by q166 and q157/q158's anchors-off path — the merge rule
    * lives exactly once. Returns (event_type, ksf). */
  def mergedKeyFreq(spark: SparkSession, dir: String): DataFrame =
    keyStatsView(spark, dir)
      .select(col("event_type"), expr("inline(ksf)"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvFreqAgg.kmvFreq(
        spark, col("h"), col("c"), K).as("ksf"))

  /** The SALTED kept-set view (event_type, d, kss) — q162's tier of the
    * table (format-4): per-type INDEPENDENT bottom-k draws over
    * md5(type ‖ ':' ‖ user), where ksf's shared unsalted hash would make
    * every type's distinct-estimate error one correlated draw (the r10
    * verdict #6 decorrelation, now durable). Same restriction as
    * [[keyStatsView]]: days with ≥1 non-null user. */
  def saltedKeyView(spark: SparkSession, dir: String): DataFrame =
    maintain(spark, dir).filter(size(col("kss")) > 0)
      .select(col("event_type"), col("d"), col("kss"))

  /** Per-type merged SALTED frequency-KMV off [[saltedKeyView]] — the
    * same downward-closure merge as [[mergedKeyFreq]], over the salted
    * hash: q162's F₂ estimator reads its per-type kept frequencies from
    * here with no feed scan. Returns (event_type, kss). */
  def mergedSaltedFreq(spark: SparkSession, dir: String): DataFrame =
    saltedKeyView(spark, dir)
      .select(col("event_type"), expr("inline(kss)"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvFreqAgg.kmvFreq(
        spark, col("h"), col("c"), K).as("kss"))

  /** q166 — PER-TYPE KEY STATISTICS from the table's key-tier bundle:
    * the join-synopsis surface ([[graft.plans.KeySynopsis]]) as an
    * oracled query. The per-day frequency-KMV kept sets merge to the
    * corpus bottom-64 WITH EXACT summed frequencies (the
    * [[graft.functions.KmvFreqSketch]] downward-closure law), so the
    * row carries the key population (Σ nu, exact), the key-domain
    * bounds (exact — what Catalyst requires before any join estimate
    * fires), the kept-set shape (n_kept_u, hk_u), the summed kept
    * frequencies (f_kept_sum — integer-exact; the Σ f_A·f_B join-size
    * numerator this collapses to when the OTHER side's key is unique,
    * every f_B = 1 — the classic fact-to-dimension estimate), and the
    * KMV NDV estimate. Anchored, the feed-exact columns ride along so the
    * gate hash proves table == feed; anchors-off the whole ANALYZE is
    * KB of table reads (SketchAnchorsSpec). */
  def q166KeyStats(spark: SparkSession, dir: String): DataFrame = {
    val sv = keyStatsView(spark, dir)
    val agg = sv.groupBy(col("event_type"))
      .agg(sum(col("nu")).as("n_keys"),
        min(col("umin")).as("umin"), max(col("umax")).as("umax"))
    val merged = mergedKeyFreq(spark, dir)
      .select(col("event_type"),
        size(col("ksf")).cast("long").as("n_kept_u"),
        element_at(col("ksf"), size(col("ksf"))).getField("h").as("hk_u"),
        expr("aggregate(ksf, 0L, (a, x) -> a + x.c)").as("f_kept_sum"))
    val t = agg.join(merged, Seq("event_type"))
    if (!Layout.anchorsOn(spark)) {
      // production shape: the key statistics ARE the table
      return t.withColumn("ndv_est", Layout.kmvEstimate(
          col("n_kept_u"), col("hk_u"), K, col("n_kept_u").cast("double")))
        .select(col("event_type"), col("n_keys"), col("umin"), col("umax"),
          col("n_kept_u"), col("hk_u"), col("f_kept_sum"), col("ndv_est"))
        .orderBy(col("event_type"))
    }
    val exact = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("x_keys"), min(col("user_id")).as("x_umin"),
        max(col("user_id")).as("x_umax"),
        count_distinct(col("user_id")).as("n_distinct_u"))
    t.join(exact, Seq("event_type"))
      .withColumn("ndv_est", Layout.kmvEstimate(
        col("n_kept_u"), col("hk_u"), K, col("n_distinct_u").cast("double")))
      .withColumn("rel_err", (col("ndv_est") - col("n_distinct_u").cast("double"))
        / col("n_distinct_u").cast("double"))
      .select(col("event_type"), col("n_keys"), col("umin"), col("umax"),
        col("n_kept_u"), col("hk_u"), col("f_kept_sum"), col("ndv_est"),
        col("x_keys"), col("x_umin"), col("x_umax"), col("n_distinct_u"),
        col("rel_err"))
      .orderBy(col("event_type"))
  }

  val q166Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |t AS (
      |  SELECT event_type, COUNT(*) AS n_keys, MIN(user_id) AS umin,
      |    MAX(user_id) AS umax, COUNT(DISTINCT user_id) AS n_distinct_u
      |  FROM e GROUP BY 1),
      |f AS (SELECT event_type, h, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, h, c, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY h) AS rn FROM f),
      |sk AS (
      |  SELECT event_type, COUNT(*) AS n_kept_u, MAX(h) AS hk_u,
      |    CAST(SUM(c) AS BIGINT) AS f_kept_sum
      |  FROM r WHERE rn <= 64 GROUP BY 1),
      |j AS (
      |  SELECT t.event_type AS event_type,
      |    CAST(t.n_keys AS BIGINT) AS n_keys, t.umin, t.umax,
      |    CAST(sk.n_kept_u AS BIGINT) AS n_kept_u, sk.hk_u, sk.f_kept_sum,
      |    CASE WHEN sk.n_kept_u < 64 THEN CAST(t.n_distinct_u AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk_u, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS ndv_est,
      |    CAST(t.n_keys AS BIGINT) AS x_keys, t.umin AS x_umin,
      |    t.umax AS x_umax, CAST(t.n_distinct_u AS BIGINT) AS n_distinct_u
      |  FROM t JOIN sk ON t.event_type = sk.event_type)
      |SELECT event_type, n_keys, umin, umax, n_kept_u, hk_u, f_kept_sum,
      |  ndv_est, x_keys, x_umin, x_umax, n_distinct_u,
      |  (ndv_est - CAST(n_distinct_u AS DOUBLE))
      |    / CAST(n_distinct_u AS DOUBLE) AS rel_err
      |FROM j ORDER BY event_type""".stripMargin
}
