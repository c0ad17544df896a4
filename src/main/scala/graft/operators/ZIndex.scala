package graft.operators

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.{AllNullZone, ColZone, DecimalZone, DoubleZone, KeepAllZone,
  LongZone, StringZone, ZoneFile, ZoneMapFileIndex}
import graft.sources.Tables

/** A table's z-layout contract: where its feed lives, how to load the
  * corpus, which two dimensions drive the Morton clustering, and how
  * many files a full cluster writes. The ZONE MAP is not part of the
  * contract — it records exact footer statistics for EVERY supported
  * column of the table's schema (integral/date/timestamp, floating,
  * string), so any predicate over any recorded column can skip files,
  * not just the two clustered dimensions. */
case class ZTable(name: String,
    feedOf: String => String,
    load: (SparkSession, String) => DataFrame,
    xCol: String, yCol: String,
    nFiles: Int,
    /** Override when the cluster key is DERIVED (e.g. a string postal
      * code cast to its numeric sort key): physically arranges the
      * rows into `n` files in place of the default
      * [[Layout.clusterByZ]] on (xCol, yCol). The zone map is
      * unaffected — it records the REAL columns' footer stats, so
      * predicates on them prune however the locality was produced. */
    clusterWith: Option[(DataFrame, Int) => DataFrame] = None,
    /** Row-level selection the layout applies to the feed (e.g. one
      * data_type of a discriminated table). Applied on BOTH the full
      * build and the append delta, so the layout's content contract
      * holds however maintenance lands rows. */
    prep: Option[DataFrame => DataFrame] = None,
    /** Pin the layout root to a fixed location instead of deriving it
      * from the session conf: the durable-catalog posture (a table's
      * TBLPROPERTIES record the root, and re-arming in a fresh session
      * must resolve the SAME layout regardless of that session's
      * confs — r14 verdict #1), and the fix for the weather layouts
      * landing in whichever temp root a parallel suite had steered the
      * conf to (r14 ADVICE). */
    rootOverride: Option[String] = None,
    /** When > 0, repartition the loaded feed (build AND append delta)
      * to this many partitions BEFORE `prep` runs. For an EXPENSIVE
      * prep (md5 minhash signing, LSH sign projections) the prep's
      * parallelism is otherwise bounded by the feed's split count — a
      * single-row-group feed file runs the whole signing on ONE core
      * (measured: the sf10 MinHash index built in 240 s wall at 240
      * core-s). The raw-feed shuffle this costs is tiny next to the
      * prep it parallelizes; leave 0 for cheap preps. */
    prepFan: Int = 0)

/** q172/q174/q175 — zone-map data skipping over a DURABLE z-clustered
  * layout: the scan-pruning consumer that closes the loop on q99's
  * clustering the way q169 closed it for the statistics catalog.
  *
  * q99 proved the layout property (tight per-bucket extents on BOTH
  * dimensions of the Morton code — the lake-side replacement for the
  * reference's composite B-tree indexes, `sql/schema.sql:295-305`);
  * this engine makes the skipping OPERATIONAL and GENERIC: [[ensure]]
  * lands any [[ZTable]] physically clustered by z(xCol, yCol)
  * ([[Layout.clusterByZ]] — range-partition + sort) and records an
  * exact per-FILE zone map read from the written files' parquet
  * FOOTERS — for every supported column of the schema, typed by the
  * schema ([[zoneKind]]), KB of metadata per thousand files. Three
  * consumers share ONE memoized entry resolution ([[resolveEntries]]):
  * the driver-side consult (q172 2-D cell, q174 1-D strip) and Spark's
  * own scan planning ([[graft.plans.ZoneMapFileIndex]], q175 + the
  * catalog face). Pruning is sound by construction — per-file bounds
  * are exact over the non-null population, files without usable
  * statistics are always kept — regardless of how well clustered the
  * files are; clustering quality only decides HOW MANY files survive
  * (ZIndexSpec pins ~1/16 of the corpus for a 1%-of-z-space box).
  *
  * Maintenance follows the KmvTable contract: consumed-file identity,
  * generation dirs with atomic `_COMMITTED`, crash-leftover sweep,
  * one-prior retention for in-flight readers, mutation → full rebuild.
  * An APPEND clusters only the new feed files — among themselves, into
  * proportionally many files — and unions their zone-map rows with the
  * standing ones (the appended files carry their own exact bounds, so
  * skipping stays sound while clustering quality degrades gracefully).
  * When live generations exceed `spark.graft.zindex.maxGenerations`
  * (8), the append instead RECLUSTERS the full feed: a global sort
  * order cannot be compacted per-partition (the very property that
  * makes both dimensions' extents tight is global), so the periodic
  * rewrite is the production norm for clustered tables (Delta/Iceberg
  * `OPTIMIZE ZORDER` — amortized O(corpus / maxGenerations) per
  * append, and soundness never depended on it).
  *
  * At 100 TB: the zone map stays KB-per-thousand-files and lives on
  * the driver for exactly one filter pass; the pruned read opens only
  * the matching files — no listing, no footer reads, no tasks for the
  * rest of the corpus. That is the scan-side complement to the
  * statistics catalog's join planning.
  */
object ZIndex {

  /** The lineitem demo layout (q99's 8×8 z-grid resolution). */
  private[graft] val NFiles = 64
  private[graft] val Lineitem = ZTable("lineitem",
    d => s"$d/lineitem.parquet", Tables.lineitem _,
    "l_partkey", "l_orderkey", NFiles)

  /** The DECIMAL-measure layout (q180/q181, r14 verdict #2): lineitem
    * with its measures as exact DECIMAL(18,2) — the type every
    * TPC-style measure and the reference's temperature/quantity
    * columns carry (`cleaning.py:95-101` range-checks them) —
    * clustered by (price, orderkey) so a selective price-range
    * predicate prunes a strip of files off the DecimalZone bounds.
    * The double→DECIMAL(18,2) cast is the corpus's proven-exact
    * cross-engine transform (q169/q176 hash-green on it). */
  private[graft] val LineitemDec = ZTable("lineitem_dec",
    d => s"$d/lineitem.parquet", Tables.lineitem _,
    "l_extendedprice", "l_orderkey", NFiles,
    clusterWith = Some((df, n) => Layout.clusterByZ(
      df.withColumn("__zx", col("l_extendedprice").cast("long")),
      "__zx", "l_orderkey", n).drop("__zx")),
    // the cast lives in prep, not load: prep is applied to BOTH the
    // full build and the append delta, so appended files land with the
    // same decimal schema as the standing generations
    prep = Some(df => df.select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity").cast("decimal(18,2)").as("l_quantity"),
      col("l_extendedprice").cast("decimal(18,2)").as("l_extendedprice"),
      col("l_returnflag"))))

  /** Spec observables. */
  private[graft] val zBuilds = new AtomicLong // full (re)clusters
  private[graft] val zAppends = new AtomicLong // incremental appends
  private[graft] val zFilesTotal = new AtomicLong // zone-map rows at last query
  private[graft] val zFilesRead = new AtomicLong // files surviving the prune
  /** Feed part files read by maintenance in this JVM (the KmvTable
    * convention: an append must scan exactly the appended files). */
  private[graft] val zFeedFilesScanned = new AtomicLong
  /** The index behind the LAST [[zFrame]] relation built in this JVM —
    * the q175 spec surface. The COUNTERS are per-index (two live
    * relations never clobber each other); this reference only names
    * the most recent one for specs that call the query function
    * rather than [[zFrame]]. */
  private[graft] val lastPlannedIndex =
    new AtomicReference[Option[ZoneMapFileIndex]](None)

  /** (root → (feed stamp, committed gen)) — a repeat [[ensure]] on an
    * unchanged corpus pays one feed listStatus. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  def clearMemo(): Unit = {
    memo.clear(); entryMemo.clear(); schemaMemo.clear()
  }

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private[graft] def root(spark: SparkSession, dir: String, t: ZTable): String =
    t.rootOverride.getOrElse(
      spark.conf.getOption("spark.graft.zindex.dir") match {
        case Some(base) if t.name == "lineitem" => base // spec back-compat
        case Some(base) => s"$base/${t.name}"
        case None => sys.props("java.io.tmpdir") +
          s"/graft_zindex2/${t.name}_${md5hex(dir)}"
      })

  // file-identity listing shared with every derived artifact
  // ([[KmvTable.partsOf]] — one implementation of the stamp discipline)
  private def listFeed(spark: SparkSession, dir: String, t: ZTable)
      : Seq[KmvTable.PartFile] = KmvTable.partsOf(spark, t.feedOf(dir))

  private def stampOf(feed: Seq[KmvTable.PartFile]): String =
    feed.map(f => s"${f.name}\t${f.len}\t${f.mtime}").mkString("\n")

  /** Which zone encoding a schema type gets — `None` is not recorded
    * (and therefore never refutes). Long carries bigint, int, date
    * (days) and timestamp (micros): the same physical value Spark's
    * pushed literals carry for those types. Decimal columns (r14
    * verdict #2 — every TPC-style measure) carry exact BigDecimal
    * bounds decoded from the footer's unscaled int32/int64/binary
    * statistics; the kind string records (precision, scale) so the
    * zone map's own schema round-trips the type. */
  private[graft] def zoneKind(t: DataType): Option[String] = t match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType => Some("long")
    case DoubleType | FloatType => Some("double")
    case StringType => Some("string")
    case d: DecimalType => Some(s"dec:${d.precision}:${d.scale}")
    case _ => None
  }

  private val DecKind = "dec:(\\d+):(\\d+)".r

  private def kindType(kind: String): DataType = kind match {
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case DecKind(p, s) => DecimalType(p.toInt, s.toInt)
  }

  /** The outputTimestampType set/restore window below is SESSION-wide:
    * serialize it across ALL roots (r14 ADVICE — two concurrent
    * ensure() calls on different roots could interleave set/unset and
    * write one layout as INT96 or leave the session conf altered). */
  private val writeConfLock = new Object

  /** True on threads running inside a [[withPinnedWriteConf]] window
    * (inherited by threads SPAWNED inside the window — the parallel
    * [[ensureAll]] builders): the session conf is already pinned to
    * TIMESTAMP_MICROS and held so by the window owner, so the
    * per-build set/restore (and its serializing lock) must be
    * skipped. Inheritable-thread-local, not a global flag: a build on
    * an unrelated thread while someone else's window is open must NOT
    * skip its own set/restore — the window could close (restoring the
    * conf) before that build's write job captures the conf. */
  private val confPinned: InheritableThreadLocal[java.lang.Boolean] =
    new InheritableThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
    }

  /** Hold the layout-write conf window open across `body`: acquires
    * the session-wide lock ONCE, pins outputTimestampType, and lets
    * every layout write inside (including ones on threads spawned by
    * `body`) run without its own set/restore — the mechanism that
    * makes INDEPENDENT layout builds overlap instead of serializing
    * on the conf window (optimization guide §2.6: the cold prewarm
    * window then costs max(builds), not sum). */
  def withPinnedWriteConf[A](spark: SparkSession)(body: => A): A =
    writeConfLock.synchronized {
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val tsPrior = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      confPinned.set(java.lang.Boolean.TRUE)
      try body
      finally {
        confPinned.set(java.lang.Boolean.FALSE)
        tsPrior match {
          case Some(v) => spark.conf.set(tsKey, v)
          case None => spark.conf.unset(tsKey)
        }
      }
    }

  /** Ensure several INDEPENDENT layouts concurrently under one pinned
    * conf window — one thread per table (they are few and the builds
    * are job-submission-bound in local mode; distinct roots never
    * contend beyond the storage layer, same-root calls serialize on
    * the per-root ensure lock exactly as before). Returns the
    * per-table (root, generation) in input order; the first build
    * failure rethrows after all threads settle. */
  def ensureAll(spark: SparkSession, dir: String,
      tables: Seq[ZTable]): Seq[(String, Long)] =
    withPinnedWriteConf(spark) {
      if (tables.sizeIs <= 1) tables.map(ensure(spark, dir, _))
      else {
        val out = new Array[(String, Long)](tables.size)
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = tables.zipWithIndex.map { case (t, i) =>
          val th = new Thread(() =>
            try out(i) = ensure(spark, dir, t)
            catch { case e: Throwable => errs.add(e) },
            s"zindex-ensure-$i")
          th.setDaemon(true); th.start(); th
        }
        threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        out.toSeq
      }
    }

  /** Cluster `rows` into `n` z-sorted files under `genDir/files` and
    * return the zone-map rows — gen-relative file path, row count, and
    * per-column `<c>__min`/`<c>__max`/`<c>__nulls` for EVERY supported
    * column of the schema — read FROM THE PARQUET FOOTERS of the
    * written files: parquet already wrote exact per-row-group min/max
    * for these types, so the zone map costs n footer reads (KB each),
    * never a second pass over the data. Conservative semantics when a
    * footer carries no usable statistics for a column: min/max/nulls
    * all NULL → the file is ALWAYS kept — pruning soundness never
    * rests on statistics being present. A column that is all-null in a
    * file yields (NULL, NULL, nulls=rows): the file cannot satisfy a
    * predicate on it. A known-bounds file whose null COUNT the footer
    * did not carry records nulls = -1 (bounds prune, IsNull cannot). */
  /** Range-cluster with the producing plan evaluated ONCE: range
    * partitioning samples its input before shuffling it, so an
    * expensive producer (index signing) would run twice — persist the
    * rows as serialized DISK_ONLY blocks (deserialized heap caching
    * OOM'd an 8 GB heap at the 2M-vector replica) and let the sampling
    * pass materialize them. [[clusterAndMap]] releases the blocks
    * right after the layout write — deterministic, no harness sweep
    * needed, and safe because a persist (unlike a localCheckpoint)
    * keeps its lineage. The layout-build helper behind the index
    * tables' `clusterWith`. */
  private[operators] def rangeClusterOnce(df: DataFrame, n: Int,
      cols: Column*): DataFrame = {
    val once = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    buildCaches.get().add(once)
    once.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
  }

  /** DISK_ONLY producers minted by [[rangeClusterOnce]], released by
    * [[clusterAndMap]] after the write they fed. PER-THREAD: the
    * producing clusterWith lambda runs inside the build thread's own
    * writeFiles(), so registration and release share a thread — and a
    * CONCURRENT build (ensureAll) can no longer release a sibling's
    * producer mid-write, which would silently re-run the expensive
    * producer (signing) from lineage. */
  private val buildCaches =
    new ThreadLocal[java.util.ArrayDeque[DataFrame]] {
      override def initialValue(): java.util.ArrayDeque[DataFrame] =
        new java.util.ArrayDeque[DataFrame]()
    }

  private def clusterAndMap(spark: SparkSession, rows: DataFrame,
      genName: String, genDir: String, n: Int, t: ZTable): DataFrame = {
    // layout files are written as TIMESTAMP_MICROS, never INT96:
    // INT96 footers carry no min/max, so timestamp zones would be
    // keep-all and time-window serve predicates couldn't skip
    def writeFiles(): Unit = t.clusterWith.map(f => f(rows, n))
      .getOrElse(Layout.clusterByZ(rows, t.xCol, t.yCol, n))
      .write.mode("overwrite")
      // pin statistics to FULL length (r14 ADVICE): a deployment-level
      // parquet.statistics.truncate.length would truncate binary maxima
      // UPWARD — still sound for pruning, but ZoneAggServe serves these
      // bounds as ANSWERS, and a truncated max is a value not in the data
      .option("parquet.statistics.truncate.length",
        Integer.MAX_VALUE.toString)
      .parquet(s"$genDir/files")
    if (confPinned.get()) writeFiles() // enclosing window owns the conf
    else writeConfLock.synchronized {
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val tsPrior = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      try writeFiles()
      finally tsPrior match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None => spark.conf.unset(tsKey)
      }
    }
    // release the rangeClusterOnce producers THIS build's write just
    // consumed (thread-local — see buildCaches)
    locally {
      val mine = buildCaches.get()
      while (!mine.isEmpty) Option(mine.poll())
        .foreach(_.unpersist(blocking = false))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val fdir = new org.apache.hadoop.fs.Path(s"$genDir/files")
    val files = fdir.getFileSystem(conf).listStatus(fdir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val recorded: Seq[(String, String)] = rows.schema.fields.toSeq
      .flatMap(f => zoneKind(f.dataType).map(k => (f.name, k)))
    val mapSchema = StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("np", LongType, nullable = false) +:
      recorded.flatMap { case (c, kind) => Seq(
        StructField(s"${c}__min", kindType(kind)),
        StructField(s"${c}__max", kindType(kind)),
        StructField(s"${c}__nulls", LongType))
      })
    import scala.jdk.CollectionConverters._
    val mapRows: Seq[Row] = files.toSeq.map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      val blocks = try reader.getFooter.getBlocks.asScala.toSeq
        finally reader.close()
      val np = blocks.map(_.getRowCount).sum
      // per-column fold over row-group statistics → the storage
      // encoding (min, max, nulls):
      //   (null, null, null)  → no usable stats → keep-all
      //   (null, null, n)     → all row groups all-null → refutable
      //   (lo, hi, n | -1)    → exact bounds, n = -1 when unknown
      def colCells(c: String, kind: String): Seq[Any] = {
        // decimal stats carry the UNSCALED value in the physical type's
        // statistics: int32/int64 for precision ≤ 18, big-endian
        // two's-complement binary for FIXED_LEN_BYTE_ARRAY
        val decScale = kind match {
          case DecKind(_, s) => s.toInt
          case _ => 0
        }
        def value(o: Any): Option[Any] = (kind, o) match {
          case ("long", v: java.lang.Long) => Some(v.longValue)
          case ("long", v: java.lang.Integer) => Some(v.longValue)
          case ("double", v: java.lang.Double) => Some(v.doubleValue)
          case ("double", v: java.lang.Float) => Some(v.doubleValue)
          case ("string", v: org.apache.parquet.io.api.Binary) =>
            Some(v.toStringUsingUTF8)
          case (DecKind(_, _), v: java.lang.Long) =>
            Some(java.math.BigDecimal.valueOf(v.longValue, decScale))
          case (DecKind(_, _), v: java.lang.Integer) =>
            Some(java.math.BigDecimal.valueOf(v.longValue, decScale))
          case (DecKind(_, _), v: org.apache.parquet.io.api.Binary) =>
            Some(new java.math.BigDecimal(
              new java.math.BigInteger(v.getBytes), decScale))
          case _ => None // e.g. INT96 timestamps: no interpretable stats
        }
        // per block: None = unknown (poisons the column to keep-all),
        // Some(None) = all-null block, Some(Some((lo, hi, nulls)))
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c) match {
            case None => None
            case Some(cc) =>
              val s = cc.getStatistics
              if (s == null || s.isEmpty) None
              // an all-null block ONLY when the null count equals the
              // block's rows: formats that suppress min/max but still
              // record a null count (INT96 timestamps) would otherwise
              // read as all-null and let IsNotNull refute live rows
              else if (!s.hasNonNullValue &&
                  s.isNumNullsSet && s.getNumNulls == b.getRowCount)
                Some(None)
              else if (!s.hasNonNullValue) None
              else (value(s.genericGetMin), value(s.genericGetMax)) match {
                case (Some(lo), Some(hi)) => Some(Some((lo, hi,
                  if (s.isNumNullsSet) s.getNumNulls else -1L)))
                case _ => None
              }
          }
        }
        if (perBlock.exists(_.isEmpty)) Seq(null, null, null)
        else {
          val defined = perBlock.flatten.flatten
          if (defined.isEmpty) Seq(null, null, Long.box(np))
          else {
            def fold(vs: Seq[Any], mn: Boolean): Any = kind match {
              case "long" =>
                val l = vs.map(_.asInstanceOf[Long])
                Long.box(if (mn) l.min else l.max)
              case "double" =>
                val d = vs.map(_.asInstanceOf[Double])
                Double.box(if (mn) d.min else d.max)
              case "string" =>
                val s = vs.map(_.asInstanceOf[String])
                if (mn) s.min else s.max
              case DecKind(_, _) =>
                vs.map(_.asInstanceOf[java.math.BigDecimal])
                  .reduce((a, b) =>
                    if ((a.compareTo(b) <= 0) == mn) a else b)
            }
            // -1 (unknown) when any block's count is unset, or when
            // all-null blocks would need per-block row counts to sum
            // exactly — IsNull refutation needs only nulls == 0, and a
            // file with an all-null block has nulls > 0 regardless
            val allNullBlocks = perBlock.flatten.count(_.isEmpty)
            val nulls =
              if (defined.exists(_._3 < 0) || allNullBlocks > 0) -1L
              else defined.map(_._3).sum
            Seq(fold(defined.map(_._1), mn = true),
              fold(defined.map(_._2), mn = false), Long.box(nulls))
          }
        }
      }
      Row.fromSeq(
        s"$genName/files/${st.getPath.getName}" +: Long.box(np) +:
        recorded.flatMap { case (c, k) => colCells(c, k) })
    }
    spark.createDataFrame(mapRows.asJava, mapSchema)
  }

  private val GenRe = "gen-(\\d+)".r

  /** Land-or-refresh the clustered layout; returns (root, committed
    * gen). One feed listStatus on the memo-hit path. */
  def ensure(spark: SparkSession, dir: String): (String, Long) =
    ensure(spark, dir, Lineitem)

  def ensure(spark: SparkSession, dir: String, t: ZTable): (String, Long) = {
    val r = root(spark, dir, t)
    rootLocks.computeIfAbsent(r, _ => new Object).synchronized {
      val feed = listFeed(spark, dir, t)
      val stamp = stampOf(feed)
      val rp = new org.apache.hadoop.fs.Path(r)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(memo.get(r)) match {
        // one existence probe alongside the stamp: an externally wiped
        // layout (tmp cleaner) must fall through to a rebuild, not
        // serve dead paths off the memo
        case Some((s, g)) if s == stamp && fs.exists(
            new org.apache.hadoop.fs.Path(s"$r/gen-$g/_COMMITTED")) =>
          return (r, g)
        case _ => ()
      }
      val gens: Seq[Long] =
        if (!fs.exists(rp)) Seq.empty
        else fs.listStatus(rp).toSeq.collect {
          case s if s.isDirectory => s.getPath.getName
        }.collect { case GenRe(n) => n.toLong }.sorted
      val committed = gens.filter(g =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$r/gen-$g/_COMMITTED")))
      // crash-leftover sweep: uncommitted gens above the high-water mark
      (gens.toSet -- committed.toSet).foreach(g =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$r/gen-$g"), true))
      val latest = committed.lastOption
      val nextN = committed.lastOption.map(_ + 1).getOrElse(0L)
      val genDir = s"$r/gen-$nextN"
      val genName = s"gen-$nextN"

      // consumed-identity diff (the KmvTable mutation detector): a
      // consumed line that vanished from the feed means MUTATION; the
      // surplus current lines are the append delta
      val consumedLines: Set[String] = latest.map { g =>
        spark.read.textFile(s"$r/gen-$g/consumed").collect().toSet
      }.getOrElse(Set.empty)
      val currentLines = feed.map(f => s"${f.name}\t${f.len}\t${f.mtime}").toSet
      val mutated = latest.isDefined && !consumedLines.subsetOf(currentLines)
      val newFeed = feed.filter(f =>
        !consumedLines.contains(s"${f.name}\t${f.len}\t${f.mtime}"))

      if (latest.isDefined && !mutated && newFeed.isEmpty) {
        memo.put(r, (stamp, latest.get))
        return (r, latest.get)
      }

      val priorMap: Option[DataFrame] = latest.map(g =>
        spark.read.parquet(s"$r/gen-$g/zonemap"))
      val maxGens = spark.conf.getOption("spark.graft.zindex.maxGenerations")
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
        .filter(_ >= 1).getOrElse(8)
      val liveGens: Set[Long] = priorMap.map(_.select(col("file"))
        .as(org.apache.spark.sql.Encoders.STRING).collect()
        .map(f => f.split("/")(0)).collect { case GenRe(n) => n.toLong }
        .toSet).getOrElse(Set.empty)

      val full = latest.isEmpty || mutated || liveGens.size + 1 > maxGens
      val zonemap: DataFrame =
        if (full) {
          // initial build, mutation rebuild, or the periodic global
          // recluster that bounds generation sprawl AND restores
          // clustering quality (see object doc)
          zBuilds.incrementAndGet()
          zFeedFilesScanned.addAndGet(feed.size)
          val fed = {
            val l = t.load(spark, dir)
            if (t.prepFan > 0) l.repartition(t.prepFan) else l
          }
          val rows = t.prep.foldLeft(fed)((df, f) => f(df))
          clusterAndMap(spark, rows, genName, genDir, t.nFiles, t)
        } else {
          zAppends.incrementAndGet()
          zFeedFilesScanned.addAndGet(newFeed.size)
          val delta = {
            val d = spark.read.parquet(newFeed.map(_.path): _*)
              .select(t.load(spark, dir).columns.map(col): _*)
            if (t.prepFan > 0) d.repartition(t.prepFan) else d
          }
          val newRows = t.prep.foldLeft(delta)((df, f) => f(df))
            .cache()
          try {
            // proportionally many files for the delta (≥1): appended
            // files z-cluster among themselves, so their zone-map rows
            // are as tight as the delta allows
            val baseRows = priorMap.get.agg(sum(col("np")))
              .collect()(0).getLong(0)
            val k = math.max(1L, math.min(t.nFiles.toLong,
              math.round(t.nFiles.toDouble * newRows.count() /
                math.max(1L, baseRows)))).toInt
            clusterAndMap(spark, newRows, genName, genDir, k, t)
              .unionByName(priorMap.get)
          } finally { newRows.unpersist(); () }
        }
      zonemap.coalesce(1).write.mode("overwrite").parquet(s"$genDir/zonemap")
      spark.createDataset(feed.map(f => s"${f.name}\t${f.len}\t${f.mtime}"))(
        org.apache.spark.sql.Encoders.STRING)
        .coalesce(1).write.mode("overwrite").text(s"$genDir/consumed")
      fs.create(new org.apache.hadoop.fs.Path(s"$genDir/_COMMITTED"), false)
        .close()
      // one-prior retention: gens referenced by the NEW or the PRIOR
      // committed zone map (plus the prior gen itself — it holds the
      // zone map an in-flight reader may have collected but not yet
      // opened data files through) survive; everything else is
      // reclaimed. The new map's gens are always ⊆ liveGens + nextN.
      val newLive: Set[Long] = liveGens ++ latest.toSet + nextN
      committed.filterNot(newLive.contains).foreach(g =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$r/gen-$g"), true))
      // entries memoized for superseded generations can never be
      // re-resolved (resolveEntries always lands on the latest commit)
      // — evict them so a long-lived JVM with many maintenance commits
      // keeps the memo at one entry per root
      entryMemo.keySet.removeIf(k => k._1 == r && k._2 != nextN)
      memo.put(r, (stamp, nextN))
      (r, nextN)
    }
  }

  /** (root, gen) → zone entries with resolved FileStatus. A committed
    * generation's CONTENT is immutable (maintenance only ever writes
    * new generations), so the memo never goes stale — it retires the
    * ~(files + 1) metadata RPCs a per-call rebuild would pay;
    * [[ensure]] evicts superseded generations at commit. */
  private val entryMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), IndexedSeq[ZoneFile]]()

  /** Resolve the latest committed generation's zone entries — the ONE
    * zone-map read implementation behind q172, q174, q175 and the
    * catalog face (memoized per immutable (root, gen) —
    * [[entryMemo]]). Decoding is driven by the zone map's own SCHEMA:
    * every `<c>__min`/`<c>__max`/`<c>__nulls` triple becomes a typed
    * [[graft.plans.ColZone]], so a layout over ANY table shape
    * round-trips without table-specific code. */
  private[graft] def resolveEntries(spark: SparkSession, dir: String)
      : IndexedSeq[ZoneFile] = resolveEntries(spark, dir, Lineitem)

  private[graft] def resolveEntries(spark: SparkSession, dir: String,
      t: ZTable): IndexedSeq[ZoneFile] = {
    val (r, gen) = ensure(spark, dir, t)
    val conf = spark.sparkContext.hadoopConfiguration
    entryMemo.computeIfAbsent((r, gen), _ => {
      val zdf = spark.read.parquet(s"$r/gen-$gen/zonemap")
      val cols: Seq[(String, String)] = zdf.schema.fields.toSeq.collect {
        case f if f.name.endsWith("__min") =>
          (f.name.dropRight(5), f.dataType match {
            case LongType => "long"
            case DoubleType => "double"
            case _: DecimalType => "dec"
            case _ => "string"
          })
      }
      val zm = zdf.collect()
      require(zm.nonEmpty, "zone map of a non-empty table cannot be empty")
      zm.map { row =>
        def cell(c: String): Option[Any] = {
          val i = row.fieldIndex(c)
          if (row.isNullAt(i)) None else Some(row.get(i))
        }
        val zones: Map[String, ColZone] = cols.map { case (c, kind) =>
          val nulls = cell(s"${c}__nulls").map(_.asInstanceOf[Long])
          val z = (cell(s"${c}__min"), cell(s"${c}__max")) match {
            case (Some(lo), Some(hi)) => kind match {
              case "long" => LongZone(lo.asInstanceOf[Long],
                hi.asInstanceOf[Long], nulls.getOrElse(-1L))
              case "double" => DoubleZone(lo.asInstanceOf[Double],
                hi.asInstanceOf[Double], nulls.getOrElse(-1L))
              case "dec" => DecimalZone(
                lo.asInstanceOf[java.math.BigDecimal],
                hi.asInstanceOf[java.math.BigDecimal], nulls.getOrElse(-1L))
              case _ => StringZone(lo.asInstanceOf[String],
                hi.asInstanceOf[String], nulls.getOrElse(-1L))
            }
            case _ if nulls.isDefined => AllNullZone
            case _ => KeepAllZone
          }
          c.toLowerCase -> z
        }.toMap
        val p = new org.apache.hadoop.fs.Path(s"$r/${row.getAs[String]("file")}")
        ZoneFile(p.getFileSystem(conf).getFileStatus(p),
          row.getAs[Long]("np"), zones)
      }.toIndexedSeq
    })
  }

  /** The table-wide [lo, hi] of a long-zoned column, from the zone map
    * alone (exact: min-of-file-mins == the table min over the non-null
    * population). A keep-all entry — a file whose footer carried no
    * stats — would make the zone-derived range a LOWER bound, so that
    * rare case falls back to one min/max scan of the corpus rather
    * than silently diverging from the oracle's arithmetic. */
  private[graft] def globalLong(spark: SparkSession, dir: String, t: ZTable,
      entries: IndexedSeq[ZoneFile], c: String): (Long, Long) = {
    val zs = entries.map(_.cols.get(c.toLowerCase))
    if (zs.exists(_.contains(KeepAllZone))) {
      val b = t.load(spark, dir).agg(min(col(c)), max(col(c))).collect()(0)
      (b.getLong(0), b.getLong(1))
    } else {
      val b = zs.flatten.collect { case LongZone(lo, hi, _) => (lo, hi) }
      (b.map(_._1).min, b.map(_._2).max)
    }
  }

  /** [[globalLong]]'s decimal analogue (q180's cut derivation): the
    * table-wide [lo, hi] of a decimal-zoned column from the zone map,
    * with the same fallback-to-scan rule when any file lacks stats.
    * The fallback applies the contract's prep (the decimal cast lives
    * there) so both paths bound the SAME population. */
  private[graft] def globalDec(spark: SparkSession, dir: String, t: ZTable,
      entries: IndexedSeq[ZoneFile], c: String)
      : (java.math.BigDecimal, java.math.BigDecimal) = {
    // an entirely-NULL column has no bounds — (0, 0) keeps the cut
    // arithmetic total and the BETWEEN predicate vacuous, which is
    // exactly the oracle's outcome (NULL cuts match no rows)
    val zero = (java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO)
    val zs = entries.map(_.cols.get(c.toLowerCase))
    if (zs.exists(_.contains(KeepAllZone))) {
      val rows = t.prep.foldLeft(t.load(spark, dir))((df, f) => f(df))
      val b = rows.agg(min(col(c)), max(col(c))).collect()(0)
      if (b.isNullAt(0) || b.isNullAt(1)) zero
      else (b.getDecimal(0), b.getDecimal(1))
    } else {
      val b = zs.flatten.collect { case DecimalZone(lo, hi, _) => (lo, hi) }
      if (b.isEmpty) zero
      else (b.map(_._1).reduce((a, x) => if (a.compareTo(x) <= 0) a else x),
        b.map(_._2).reduce((a, x) => if (a.compareTo(x) >= 0) a else x))
    }
  }

  /** May the file hold a row inside [lo, hiExcl) on long-zoned column
    * `c`? All-null files are refutable; unrecorded or stat-less ones
    * are kept ([[graft.plans.ZoneMapFileIndex]] applies the same rule
    * from pushed expressions — one semantics, two entry points). */
  private def overlapLong(e: ZoneFile, c: String, lo: Long, hiExcl: Long)
      : Boolean = e.cols.get(c.toLowerCase) match {
    case Some(LongZone(zlo, zhi, _)) => zlo < hiExcl && zhi >= lo
    case Some(AllNullZone) => false
    case _ => true
  }

  /** Measurement-arm knob shared by q172 AND q174: `mode` wins;
    * the legacy boolean `spark.graft.zindex.prune=false` maps to
    * `all`. */
  private def zMode(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.zindex.mode")
      .getOrElse(if (spark.conf.getOption("spark.graft.zindex.prune")
        .contains("false")) "all" else "pruned")

  /** The 2-D query box, derived from the zone map's own global bounds
    * — decile 2 of BOTH ranges, ~1% of the z-space. The SAME decile on
    * both dimensions deliberately: replicated corpora (ScaleUp offsets
    * every key family per copy) correlate the two keys along the
    * diagonal, so an off-diagonal box would be empty at replica scale
    * while a diagonal one is populated at every scale — and a
    * correlated key space is precisely where z-clustering prunes
    * hardest. Long division truncates toward zero on the non-negative
    * ranges here, exactly DuckDB's `//`. */
  private[graft] def box(plo: Long, phi: Long, olo: Long, ohi: Long)
      : (Long, Long, Long, Long) =
    (plo + (phi - plo) / 10, plo + (phi - plo) * 2 / 10,
      olo + (ohi - olo) / 10, olo + (ohi - olo) * 2 / 10)

  /** q172 — the box aggregate over the pruned scan: consult the zone
    * map (KB, driver, memoized per committed generation), open ONLY
    * the overlapping files, apply the residual predicate inside the
    * scan.
    *
    * Measurement arms (`spark.graft.zindex.mode`): `pruned` (default)
    * consults the zone map; `all` opens every layout file (the
    * file-skipping delta in isolation — small on a local SSD, where
    * the z-sorted files' tight row-group stats let parquet skip
    * almost everything from the footers anyway; at object-store scale
    * the never-opened files are the win); `raw` computes the identical
    * result straight off the UNCLUSTERED corpus table — the cost a
    * user without the layout pays: random row order means wide
    * row-group bounds, so pushdown cannot skip and the scan reads the
    * whole table. The `raw` arm derives the box from the table's own
    * bounds (one min/max pass), exactly the oracle's arithmetic. */
  def q172ZorderPrune(spark: SparkSession, dir: String): DataFrame = {
    val mode = zMode(spark)
    if (mode == "raw") return q172Raw(spark, dir)
    val entries = resolveEntries(spark, dir, Lineitem)
    zFilesTotal.set(entries.length)
    val (plo, phi) = globalLong(spark, dir, Lineitem, entries, "l_partkey")
    val (olo, ohi) = globalLong(spark, dir, Lineitem, entries, "l_orderkey")
    val (xlo, xhi, ylo, yhi) = box(plo, phi, olo, ohi)
    val keep = entries.filter(e => mode != "pruned" ||
      (overlapLong(e, "l_partkey", xlo, xhi) &&
        overlapLong(e, "l_orderkey", ylo, yhi)))
    zFilesRead.set(keep.length)
    // attribution line (the RunOne/Bench stderr convention): wall-time
    // parity between pruned and all on a warm local disk is expected —
    // THIS is the number that scales
    System.err.println(s"[zindex] mode=$mode files_read=${keep.length} " +
      s"files_total=${entries.length}")
    val boxed =
      if (keep.isEmpty)
        // schema-faithful empty frame: one footer, zero row groups read
        spark.read.parquet(entries.head.status.getPath.toString)
          .filter(lit(false))
      else spark.read.parquet(keep.map(_.status.getPath.toString): _*)
    boxAgg(boxed, xlo, xhi, ylo, yhi)
  }

  private def boxAgg(df: DataFrame, xlo: Long, xhi: Long, ylo: Long,
      yhi: Long): DataFrame =
    df.filter(col("l_partkey") >= xlo && col("l_partkey") < xhi &&
        col("l_orderkey") >= ylo && col("l_orderkey") < yhi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .orderBy(col("l_returnflag"))

  /** The `raw` measurement arm: the oracle's computation verbatim on
    * the unclustered corpus table — bounds pass + filtered scan, no
    * layout, no zone map (see [[q172ZorderPrune]]). */
  private def q172Raw(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val b = li.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_orderkey")), max(col("l_orderkey"))).collect()(0)
    val (xlo, xhi, ylo, yhi) =
      box(b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    System.err.println(s"[zindex] mode=raw (unclustered scan)")
    boxAgg(li, xlo, xhi, ylo, yhi)
  }

  /** q174's one-dimensional range — decile 3 of the ORDERKEY range,
    * no partkey predicate at all. */
  private[graft] def band(olo: Long, ohi: Long): (Long, Long) =
    (olo + (ohi - olo) * 2 / 10, olo + (ohi - olo) * 3 / 10)

  /** q174 — the NON-LEADING-column range query over the SAME
    * z-clustered layout ([[q172ZorderPrune]]'s artifact, shared
    * build): a predicate on l_orderkey alone, no l_partkey term.
    *
    * This is the claim that justifies z-order over a plain sort: the
    * reference's composite B-tree `(partkey, orderkey)`
    * (`sql/schema.sql:295-305`) serves only LEADING-prefix predicates
    * — an orderkey-only range scans the whole index — and a layout
    * sorted by partkey alone is exactly as blind. The Morton
    * interleave keeps BOTH columns' per-file extents tight, so the
    * same 64-file layout serves the orderkey-only band by opening the
    * ~1-strip of files whose [omin, omax] overlap it (ZIndexSpec pins
    * the strict subset; a 10% band keeps ~⅛–¼ of the grid vs ~1/64
    * for q172's 2-D cell — the classic z-order strip-vs-cell
    * geometry). Same `raw` arm convention for the no-layout baseline. */
  def q174ZorderOnedim(spark: SparkSession, dir: String): DataFrame = {
    val mode = zMode(spark)
    if (mode == "raw") {
      val li = Tables.lineitem(spark, dir)
      val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).collect()(0)
      val (ylo, yhi) = band(b.getLong(0), b.getLong(1))
      System.err.println(s"[zindex] q174 mode=raw (unclustered scan)")
      return bandAgg(li, ylo, yhi)
    }
    val entries = resolveEntries(spark, dir, Lineitem)
    zFilesTotal.set(entries.length)
    val (olo, ohi) = globalLong(spark, dir, Lineitem, entries, "l_orderkey")
    val (ylo, yhi) = band(olo, ohi)
    val keep = entries.filter(e => mode != "pruned" ||
      overlapLong(e, "l_orderkey", ylo, yhi))
    zFilesRead.set(keep.length)
    System.err.println(s"[zindex] q174 mode=$mode files_read=${keep.length} " +
      s"files_total=${entries.length}")
    val banded =
      if (keep.isEmpty)
        spark.read.parquet(entries.head.status.getPath.toString)
          .filter(lit(false))
      else spark.read.parquet(keep.map(_.status.getPath.toString): _*)
    bandAgg(banded, ylo, yhi)
  }

  private def bandAgg(df: DataFrame, ylo: Long, yhi: Long): DataFrame =
    df.filter(col("l_orderkey") >= ylo && col("l_orderkey") < yhi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .orderBy(col("l_returnflag"))

  /** root → (feed stamp, relation schema): [[zFrame]]'s schema keyed
    * on the same feed identity [[ensure]]'s memo keys on. A repeat
    * relation over an unchanged feed plans with no Spark job before its
    * query; a changed stamp re-infers. One entry per root. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** The z-layout as an UNFILTERED relation over
    * [[graft.plans.ZoneMapFileIndex]], plus its index — the spec
    * surface for planner-side pruning with arbitrary predicates. */
  private[graft] def zFrame(spark: SparkSession, dir: String)
      : (DataFrame, ZoneMapFileIndex) = zFrame(spark, dir, Lineitem)

  private[graft] def zFrame(spark: SparkSession, dir: String, t: ZTable)
      : (DataFrame, ZoneMapFileIndex) = {
    val r = root(spark, dir, t)
    val index = new ZoneMapFileIndex(
      new org.apache.hadoop.fs.Path(r),
      () => resolveEntries(spark, dir, t))
    lastPlannedIndex.set(Some(index))
    val stamp = stampOf(listFeed(spark, dir, t))
    val schema = Option(schemaMemo.get(r)) match {
      case Some((s, sch)) if s == stamp => sch
      case _ =>
        // inference is a parquet footer job: once per feed generation,
        // and the put replaces the superseded generation's entry
        val sch = t.load(spark, dir).schema
        schemaMemo.put(r, (stamp, sch))
        sch
    }
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, new StructType(), schema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(cs)
    (cs.baseRelationToDataFrame(rel), index)
  }

  /** q175 — the zone map inside SPARK'S OWN scan planning: the same
    * box aggregate as q172, but expressed as ordinary DataFrame
    * filters over a relation backed by
    * [[graft.plans.ZoneMapFileIndex]]. Nothing query-specific consults
    * the map: Spark pushes the data filters to the FileIndex and the
    * index refutes them per file against the exact bounds — the
    * driver-side q172 method generalized to EVERY predicate a user
    * writes over the relation (the Delta-style integration). The
    * filters are deliberately spelled in BOTH literal orientations
    * (col ⊗ lit and lit ⊗ col) to exercise the index's normalization.
    * Oracle: [[q172Sql]] — identical semantics, different plumbing. */
  def q175ZorderFileIndex(spark: SparkSession, dir: String): DataFrame = {
    val (df, index) = zFrame(spark, dir)
    val entries = index.currentEntries
    val (plo, phi) = globalLong(spark, dir, Lineitem, entries, "l_partkey")
    val (olo, ohi) = globalLong(spark, dir, Lineitem, entries, "l_orderkey")
    val (xlo, xhi, ylo, yhi) = box(plo, phi, olo, ohi)
    df
      .filter(col("l_partkey") >= xlo && lit(xhi) > col("l_partkey") &&
        col("l_orderkey") >= ylo && lit(yhi) > col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .orderBy(col("l_returnflag"))
  }

  /** DuckDB oracle for [[q174ZorderOnedim]]. */
  val q174Sql: String =
    """WITH b AS (
      |  SELECT MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi
      |  FROM lineitem),
      |x AS (
      |  SELECT olo + (ohi - olo) * 2 // 10 AS ylo,
      |         olo + (ohi - olo) * 3 // 10 AS yhi
      |  FROM b)
      |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp
      |FROM lineitem, x
      |WHERE l_orderkey >= ylo AND l_orderkey < yhi
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** DuckDB oracle: identical box arithmetic (`//` floor division ==
    * Long truncation on these non-negative ranges) straight off the
    * raw table. */
  val q172Sql: String =
    """WITH b AS (
      |  SELECT MIN(l_partkey) AS plo, MAX(l_partkey) AS phi,
      |         MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi
      |  FROM lineitem),
      |x AS (
      |  SELECT plo + (phi - plo) // 10 AS xlo,
      |         plo + (phi - plo) * 2 // 10 AS xhi,
      |         olo + (ohi - olo) // 10 AS ylo,
      |         olo + (ohi - olo) * 2 // 10 AS yhi
      |  FROM b)
      |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp
      |FROM lineitem, x
      |WHERE l_partkey >= xlo AND l_partkey < xhi
      |  AND l_orderkey >= ylo AND l_orderkey < yhi
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
}
