package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, LshPairs}
import graft.sources.{Bronze, Tables}
import graft.weather.{Pipeline, WeatherOracle, WeatherPipeline, WeatherQueries,
  WeatherStats, WeatherSynth, WeatherZServe}

/** The benchmark harness: runs one workload against the program's public
  * functions, from outside, and writes raw samples to a result file that
  * `run.py` turns into metrics.
  *
  * Usage (run.py builds the classpath and the JVM flags):
  * {{{
  *   java ... perfbench.Main --workload wx_serve --inputs <dir> --run <dir>
  *     --seconds 10 --trace 0 --seed 1 --clients 2 --out <result.json>
  * }}}
  */
object Main {

  final case class Args(workload: String, inputs: String, run: String,
      seconds: Double, trace: Boolean, seed: Long, clients: Int, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("run"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("clients").toInt, m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tmp = System.getProperty("java.io.tmpdir")
    val stale = Option(new java.io.File(tmp).list()).toSeq.flatten
      .filter(_.startsWith("graft_"))
    require(stale.isEmpty, s"run isolation: stores already present: $stale")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Conf.production(SparkSession.builder(), cores)
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.run}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.run}/warehouse")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val r = new Result
    r.put("session_s", sessionS)
    try {
      val w = new Workloads(spark, tracer, a, r)
      a.workload match {
        case "wx_backfill" => w.backfill()
        case "wx_serve" => w.serve()
        case "wx_ticks" => w.ticks()
        case "corpus_dedup" => w.corpus()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      r.put("end_s", (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      tracer.drain()
      if (a.trace) r.put("layers", w.layers())
      tracer.flush(s"${a.run}/spans.jsonl")
    } finally {
      Files.write(Paths.get(a.out), r.json.getBytes("UTF-8"))
      spark.stop()
    }
  }
}

/** Raw samples and counts, written as one JSON object. */
final class Result {
  private val kv = mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = kv.synchronized { kv(k) = v }
  def json: String = kv.synchronized { Json.obj(kv.toSeq) }
}

object Proc {
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Fs {
  def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src); val d = Paths.get(dst)
    Files.walk(s).iterator().asScala.foreach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }

  def bytes(dirs: String*): Long = dirs.flatMap(files).map(Files.size).sum

  /** Parquet input bytes of a generated tree. */
  def parquetBytes(dir: String): Long =
    files(dir).filter(_.toString.endsWith(".parquet")).map(Files.size).sum
}

/** One API request of the serve mix. */
final case class Req(kind: String, postal: String, window: Int, limit: Int,
    from: String) {
  def key: String = s"$kind|$postal|$window|$limit|$from"
}

object Req {
  val Postal = 300
  private val Froms = Seq("2024-01-27 00:00:00", "2024-01-28 00:00:00",
    "2024-01-29 00:00:00")

  /** Seeded request stream: 50% history, 20% horizon, 20% latest
    * observations, 10% latest forecasts, in exactly these shares per
    * block of 10 requests (so the mix, not just its expectation, is the
    * same for every seed); postal codes Zipf(1.1), with one popularity
    * order per run seed shared by every client. */
  def stream(seed: Long, client: Int): Iterator[Req] = {
    val rnd = new java.util.Random(seed * 31 + client)
    val w = (1 to Postal).map(k => 1.0 / math.pow(k, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    // a seeded permutation, so the hot postal codes are not always the
    // lowest numbered
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x5eed))
      .shuffle((0 until Postal).toVector)
    def postal(): String = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u) match {
        case j if j >= 0 => j
        case j => math.min(-j - 1, Postal - 1)
      }
      f"1${perm(i)}%04d"
    }
    val block = Seq.fill(5)("history") ++ Seq.fill(2)("horizon") ++
      Seq.fill(2)("latest_obs") :+ "latest_fc"
    val shuffle = scala.util.Random.javaRandomToRandom(rnd)
    Iterator.continually(shuffle.shuffle(block)).flatten.map {
      case "history" => Req("history", postal(), Seq(24, 72, 168)(rnd.nextInt(3)),
        Seq(24, 100)(rnd.nextInt(2)), "")
      case "horizon" => Req("horizon", postal(), 48, 0, Froms(rnd.nextInt(3)))
      case kind => Req(kind, "", 0, 0, "")
    }
  }
}

/** Where a request reads gold from. */
trait GoldSource {
  def gold: DataFrame
  def latestObs: DataFrame
  def latestFc: DataFrame

  def frame(q: Req): DataFrame = q.kind match {
    case "history" => WeatherPipeline.history(gold, q.postal, q.window, q.limit)
    case "horizon" => WeatherPipeline.forecastHorizon(gold, q.postal,
      lit(q.from).cast("timestamp"), q.window)
    case "latest_obs" => latestObs
    case "latest_fc" => latestFc
  }
}

/** The z-laid-out serve relation of [[WeatherZServe]]. */
final class ZGold(s: SparkSession, dir: String) extends GoldSource {
  def gold: DataFrame = WeatherZServe.zGold(s, dir)
  def latestObs: DataFrame = WeatherQueries.latestObs(s, dir)
  def latestFc: DataFrame = WeatherQueries.latestFc(s, dir)
}

/** A committed plain gold table, as [[Pipeline]] writes it. */
final class PlainGold(s: SparkSession, path: String) extends GoldSource {
  def gold: DataFrame = s.read.parquet(path)
  def latestObs: DataFrame =
    WeatherPipeline.latestObservations(gold).orderBy(col("postal_code"))
  def latestFc: DataFrame = WeatherPipeline.latestForecasts(gold)
    .orderBy(col("postal_code"), col("target_time"))
}

final class Workloads(spark: SparkSession, tr: Tracer, a: Main.Args, r: Result) {

  private val deadline = new Deadline(a.seconds)
  private val opMs = mutable.ArrayBuffer.empty[Double]
  private val readMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val attempted = new java.util.concurrent.atomic.AtomicLong
  private val failed = new java.util.concurrent.atomic.AtomicLong
  private val failures = mutable.ArrayBuffer.empty[String]
  private var work = 0.0
  private var workWallS = 0.0
  private var window: Window = _
  private val readResults =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[String], Int)]()
  private val serveRows = new java.util.concurrent.atomic.AtomicLong
  private val serveScanRows = new java.util.concurrent.atomic.AtomicLong
  private val serveFiles = new java.util.concurrent.atomic.AtomicLong
  private var landFiles = 0L
  private var landCalls = 0L
  private var ingestedRows = 0L
  private var pairs = 0L
  private val tmp = System.getProperty("java.io.tmpdir")

  private def fail(what: String, n: Long = 1): Unit = failures.synchronized {
    failed.addAndGet(n)
    if (failures.size < 20) failures += what
  }

  private def dir(p: String): String = {
    Files.createDirectories(Paths.get(a.run, p)); s"${a.run}/$p"
  }

  /** Process counters over the measured window. */
  final class Window {
    private val cpu0 = Proc.cpuS()
    private val gc0 = Proc.gcS()
    Proc.resetHeapPeak()
    val startMs: Long = System.currentTimeMillis()
    var endMs = Long.MaxValue
    var cpuS, gcS, heapMb = 0.0
    def close(): Unit = {
      cpuS = Proc.cpuS() - cpu0; gcS = Proc.gcS() - gc0
      heapMb = Proc.heapPeakMb(); endMs = System.currentTimeMillis()
      r.put("window_end_s", (endMs -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      // the checks that follow the window are not the workload's memory
      r.put("peak_rss_mb", Proc.peakRssMb())
    }
    def holds(ms: Long): Boolean = ms >= startMs && ms <= endMs
  }

  /** Set-up ends here: process start to the first timed operation. */
  private def measure(body: => Unit): Unit = {
    r.put("setup_s", (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    window = new Window
    deadline.start()
    body
    window.close()
  }

  private def finish(inputBytes: Long, storageBytes: Long): Unit = {
    r.put("op_ms", opMs.toSeq)
    r.put("read_ms", readMs.asScala.toSeq)
    r.put("work", work)
    r.put("work_wall_s", workWallS)
    r.put("attempted", attempted.get)
    r.put("failed", failed.get)
    r.put("failures", failures.toSeq)
    r.put("input_bytes", inputBytes)
    r.put("storage_bytes", storageBytes)
  }

  /** Time one operation of the workload; a throw counts as a failure. */
  private def op(name: String, units: Double)(f: => Unit): Unit = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try tr.span(name)(f)
    catch { case e: Exception => fail(s"$name: $e") }
    val s = (System.nanoTime() - t0) / 1e9
    opMs += s * 1e3
    work += units; workWallS += s
  }

  // ------------------------------------------------------------------
  // API reads (serve mix)
  // ------------------------------------------------------------------

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq

  /** One request: call the endpoint, collect, record latency. With
    * `check`, the first answer to each distinct request is kept for the
    * correctness check, and a repeat that answers differently fails. */
  private def read(src: GoldSource, q: Req, check: Boolean): Unit = {
    attempted.incrementAndGet()
    val (rows, sp) = try tr.span("serve.request") {
      val df = src.frame(q)
      val rows = df.collect()
      if (tr.enabled) scanStats(df, rows.length)
      rows
    } catch {
      case e: Exception => fail(s"${q.key}: $e"); return
    }
    readMs.add(sp.seconds * 1e3)
    if (check) {
      val c = canon(rows)
      val prev = readResults.putIfAbsent(q.key, (c, 1))
      if (prev != null) {
        readResults.computeIfPresent(q.key, (_, v) => (v._1, v._2 + 1))
        if (prev._1 != c) fail(s"${q.key}: answer changed")
      }
    }
  }

  /** Files opened and rows produced by the request's file scans. */
  private def scanStats(df: DataFrame, returned: Int): Unit = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case x: AdaptiveSparkPlanExec => scans(x.executedPlan)
      case x: QueryStageExec => scans(x.plan)
      case x: FileSourceScanExec => Seq(x)
      case x => x.children.flatMap(scans) ++ x.subqueries.flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    def metric(s: FileSourceScanExec, k: String) =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    serveFiles.addAndGet(ss.map(metric(_, "numFiles")).sum)
    serveScanRows.addAndGet(ss.map(metric(_, "numOutputRows")).sum)
    serveRows.addAndGet(returned)
  }

  /** A burst of `n` reads from the serve mix, one client. */
  private def burst(src: GoldSource, it: Iterator[Req], n: Int): Unit =
    (0 until n).foreach(_ => read(src, it.next(), check = false))

  // ------------------------------------------------------------------
  // wx_backfill: one cold Pipeline.run into empty tables
  // ------------------------------------------------------------------

  def backfill(): Unit = {
    val meta = Inputs(a.inputs)
    val rows = meta.long("raw_rows")
    val corpus = dir("bf/corpus")
    Fs.copyTree(a.inputs, corpus)
    val out = s"${a.run}/bf/out"
    measure {
      // exactly one backfill per run: a second one in the same JVM
      // would be warm, and how many fit would depend on the speed
      op("weather.transform", rows) { Pipeline.run(spark, corpus, out) }
      ingestedRows += rows
    }
    // run.py runs the DuckDB oracle over this gold
    Files.write(Paths.get(a.run, "oracle.json"), Json.obj(Seq(
      "observation" -> WeatherOracle.goldObsSql,
      "forecast" -> WeatherOracle.goldFcSql)).getBytes("UTF-8"))
    r.put("check_gold", Pipeline.Layers(out).gold)
    finish(meta.inputBytes, Fs.bytes(out, tmp))
  }

  // ------------------------------------------------------------------
  // wx_serve: gold landed + z-laid-out in set-up, then a closed loop
  // ------------------------------------------------------------------

  def serve(): Unit = {
    val meta = Inputs(a.inputs)
    val corpus = dir("serve/corpus")
    Fs.copyTree(a.inputs, corpus)
    tr.span("serve.prewarm") { WeatherZServe.prewarm(spark, corpus) }
    landCalls += 1
    landFiles += Fs.files(tmp).count(_.toString.contains("/graft_bronze_weather_"))
    val src = new ZGold(spark, corpus)
    // closed loop: each client sends its next request when the previous
    // one returns, while `more(requests sent so far)` holds
    def loop(seed: Long, more: Int => Boolean, timed: Boolean): Unit = {
      val threads = (0 until a.clients).map { c =>
        val it = Req.stream(seed, c)
        new Thread(() => {
          var n = 0
          while (more(n)) {
            if (timed) read(src, it.next(), check = true)
            else src.frame(it.next()).collect()
            n += 1
          }
        }, s"client-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    // warm-up, in set-up: latency falls for the first ~30 requests of a
    // fresh JVM while plans and code paths compile; a fixed count keeps
    // the set-up work the same in every run
    loop(a.seed ^ 0x5a17, _ < 16, timed = false)
    measure {
      val t0 = System.nanoTime()
      loop(a.seed, _ => !deadline.passed, timed = true)
      workWallS = (System.nanoTime() - t0) / 1e9
    }
    opMs ++= readMs.asScala // a request is this workload's operation
    work = opMs.size.toDouble
    val storage = Fs.bytes(tmp)
    // check: every distinct request against the same endpoint over the
    // plain, unclustered gold frames of the same corpus
    val plainGold = WeatherQueries.goldObservations(spark, corpus)
      .unionByName(WeatherQueries.goldForecasts(spark, corpus)).cache()
    checkReads(new GoldSource {
      def gold: DataFrame = plainGold
      def latestObs: DataFrame = WeatherPipeline.latestObservations(plainGold)
      def latestFc: DataFrame = WeatherPipeline.latestForecasts(plainGold)
    })
    finish(meta.inputBytes, storage)
  }

  /** Answer every distinct request again over `plain` and compare. */
  private def checkReads(plain: GoldSource): Unit = {
    val byKey = readResults.asScala.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val futs = byKey.map { case (key, (got, _)) =>
        pool.submit(() => {
          val Array(kind, postal, window, limit, from) = key.split("\\|", -1)
          val q = Req(kind, postal, window.toInt, limit.toInt, from)
          val want = canon(plain.frame(q).collect())
          if (want.sorted != got.sorted) Some(key) else None
        })
      }
      val bad = futs.flatMap(_.get())
      // every occurrence of a wrong distinct request is a failed request
      bad.foreach(k => fail(s"$k: differs from plain gold", readResults.get(k)._2))
      r.put("distinct_requests", byKey.size)
      r.put("distinct_wrong", bad.size)
    } finally pool.shutdown()
  }

  // ------------------------------------------------------------------
  // wx_ticks: hourly slices landed and merged, reads between ticks
  // ------------------------------------------------------------------

  def ticks(): Unit = {
    val base = s"${a.inputs}/base"
    val corpus = dir("ticks/corpus")
    Fs.copyTree(base, corpus)
    val bronze = s"${a.run}/ticks/bronze"
    val out = s"${a.run}/ticks/out"
    val (st, pc) = WeatherStats.dims(spark, corpus)
    def tick(ev: DataFrame): Unit = {
      tr.span("sources.land") { Bronze.landEventsIncremental(spark, ev, bronze) }
      tr.span("weather.transform") {
        Pipeline.runWithRaws(spark, WeatherSynth.rawObservationsFrom(ev),
          WeatherSynth.rawForecastsFrom(ev), st, pc, out)
      }
    }
    tick(Tables.events(spark, corpus)) // the base backfill, in set-up
    val slices = Files.list(Paths.get(a.inputs, "slices")).iterator().asScala
      .map(_.toString).toSeq.sorted
    val gold = new PlainGold(spark, Pipeline.Layers(out).gold)
    val it = Req.stream(a.seed, 0)
    var used = 0
    measure {
      while ((used < 2 || !deadline.passed) && used < slices.size) {
        val rows = Fs.files(slices(used)).map(p => parquetRows(p.toString)).sum
        val before = Fs.files(bronze).map(_.toString).toSet
        // freshness: from handing the slice over until gold is committed
        op("tick", rows) { tick(Tables.events(spark, slices(used))) }
        ingestedRows += rows
        landFiles += Fs.files(bronze).count(p => !before(p.toString))
        landCalls += 1
        used += 1
        burst(gold, it, 6) // reads run between ticks, not during them
      }
    }
    val storage = Fs.bytes(bronze, out)
    // check: final staging and gold equal a one-shot Pipeline.run over
    // everything that was landed
    val all = dir("ticks/oneshot/corpus")
    Bronze.events(spark, bronze).drop("event_date")
      .write.parquet(s"$all/events.parquet")
    Seq("customer.parquet", "nation.parquet").foreach(t =>
      Fs.copyTree(s"$corpus/$t", s"$all/$t"))
    val one = Pipeline.Layers(s"${a.run}/ticks/oneshot/out")
    Pipeline.run(spark, all, one.base)
    val mine = Pipeline.Layers(out)
    val diffs = Seq("stg_observations" -> (mine.stgObs, one.stgObs),
      "stg_forecasts" -> (mine.stgFc, one.stgFc),
      "gold" -> (mine.gold, one.gold)).collect { case (n, (x, y))
        if !sameRows(spark.read.parquet(x), spark.read.parquet(y)) => n }
    if (diffs.nonEmpty) fail(s"ticks differ from one-shot: $diffs", used)
    val inBytes = Fs.parquetBytes(base) + slices.take(used).map(Fs.parquetBytes).sum
    finish(inBytes, storage)
  }

  private def sameRows(x: DataFrame, y: DataFrame): Boolean =
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty

  private def parquetRows(p: String): Long =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(p))
      .getBlocks.asScala.map(_.getRowCount).sum

  // ------------------------------------------------------------------
  // corpus_dedup: curation, full near-dup build, incremental appends
  // ------------------------------------------------------------------

  def corpus(): Unit = {
    val meta = Inputs(a.inputs)
    val appends = Files.list(Paths.get(a.inputs, "appends")).iterator().asScala
      .map(_.toString).toSeq.sorted
    val docs = meta.long("docs") + meta.long("appended_docs")
    val rnd = new java.util.Random(a.seed)
    val d = dir("corpus/in")
    Fs.copyTree(s"${a.inputs}/base", d)
    val out = s"${a.run}/corpus/out"
    measure {
      // one cold cycle per run, as for the backfill
      op("curate.cycle", docs) {
        tr.span("curate.pipeline") { CorpusPipeline.run(spark, d, out) }
        tr.span("curate.lsh.build") { LshPairs.pairs(spark, d) }
        tr.span("curate.labels") { LshPairs.labels(spark, d) }
        appends.foreach { p =>
          Files.copy(Paths.get(p), Paths.get(s"$d/documents.parquet",
            Paths.get(p).getFileName.toString))
          tr.span("curate.lsh.append") { LshPairs.labels(spark, d) }
        }
      }
      // dedup lookups until the deadline: which cluster is this doc in
      var n = 0
      while (n < 4 || !deadline.passed) {
        val id = rnd.nextInt(docs.toInt).toLong
        attempted.incrementAndGet()
        val (_, sp) = tr.span("serve.request") {
          LshPairs.labels(spark, d).filter(col("id") === id).collect()
        }
        readMs.add(sp.seconds * 1e3)
        n += 1
      }
    }
    val storage = Fs.bytes(out, tmp)
    // run.py checks the curated docs and the labels against the plan
    LshPairs.labels(spark, d).write.parquet(s"${a.run}/check_labels")
    r.put("check_curated", CorpusPipeline.Layers(out).curated)
    r.put("check_labels", s"${a.run}/check_labels")
    pairs = LshPairs.pairs(spark, d).count()
    finish(meta.inputBytes, storage)
  }

  // ------------------------------------------------------------------
  // per-layer numbers (traced runs)
  // ------------------------------------------------------------------

  /** Program files whose jobs build the serve layouts. */
  private val LayoutFiles = Set("ZIndex.scala", "Layout.scala", "ZCatalog.scala")

  def layers(): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def sp(n: String) = tr.spansNamed(n)
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    val cores = Runtime.getRuntime.availableProcessors()

    // the weather write path: every transform call, plus the gold the
    // serve prewarm builds; work inside one call is split by call site
    val xformSpans = sp("weather.transform").filter(s => window.holds(s.startMs)) ++
      sp("serve.prewarm")
    val xformCalls = math.max(1, xformSpans.size).toDouble
    val wj = tr.jobsOf(xformSpans)
    val landJ = Jobs.at(wj, "Bronze.scala") ++
      tr.jobsOf(sp("sources.land").filter(s => window.holds(s.startMs)))
    val upJ = Jobs.at(wj, "Upsert.scala")
    val layoutJ = wj.filter(j => LayoutFiles(j.callSite))
    val xj = wj.filterNot(j => j.callSite == "Bronze.scala" || LayoutFiles(j.callSite))
    val xS = Jobs.wallS(xj)

    m("sources.land.s") = Jobs.wallS(landJ) / xformCalls
    m("sources.land.files_written") = landFiles / math.max(1L, landCalls).toDouble
    m("sources.upsert.s") = Jobs.wallS(upJ) / xformCalls
    m("sources.upsert.bytes_written") = Jobs.outBytes(upJ) / xformCalls
    m("sources.upsert.rows_written_per_row_ingested") =
      if (ingestedRows == 0) 0.0 else Jobs.outRecords(upJ).toDouble / ingestedRows

    m("weather.transform.s") = xS / xformCalls
    m("weather.transform.executor_cpu_s") = Jobs.cpuS(xj) / xformCalls
    m("weather.transform.shuffle_bytes") = Jobs.shuffle(xj) / xformCalls
    m("weather.transform.spill_bytes") = Jobs.spill(xj) / xformCalls
    m("weather.transform.gc_s") = Jobs.gcS(xj) / xformCalls
    m("weather.transform.tasks") = Jobs.tasks(xj) / xformCalls
    m("weather.transform.busy_share") =
      if (xS == 0) 0.0 else Jobs.runS(xj) / (xS * cores)

    val req = sp("serve.request")
    val byGroup = tr.allJobs.groupBy(_.group)
    val planMs = req.map(s => byGroup.getOrElse(Some(s.id), Nil)
      .map(_.submitMs).minOption.map(t => math.max(0L, t - s.startMs).toDouble)
      .getOrElse(s.seconds * 1e3))
    val nReq = math.max(1, req.size).toDouble
    m("serve.plan_ms") = planMs.sum / nReq
    m("serve.exec_ms") = (req.map(_.seconds * 1e3).sum - planMs.sum) / nReq
    m("serve.jobs_per_request") = tr.jobsOf(req).size / nReq
    m("serve.files_read_per_request") = serveFiles.get / nReq
    m("serve.rows_read_per_row_returned") =
      if (serveRows.get == 0) 0.0 else serveScanRows.get.toDouble / serveRows.get
    m("serve.layout.build_s") = Jobs.wallS(layoutJ)

    val cycles = sp("curate.cycle")
    if (cycles.nonEmpty) {
      val nCyc = cycles.size.toDouble
      m("curate.pipeline.s") = secs(sp("curate.pipeline")) / nCyc
      m("curate.lsh.build_s") = secs(sp("curate.lsh.build")) / nCyc
      m("curate.lsh.append_s") = secs(sp("curate.lsh.append")) / nCyc
      m("curate.labels.s") = secs(sp("curate.labels")) / nCyc
      m("curate.pairs") = pairs.toDouble
      m("curate.shuffle_bytes") = Jobs.shuffle(tr.jobsOf(cycles)) / nCyc
    }

    m("jvm.gc_s") = window.gcS
    m("jvm.heap_peak_mb") = window.heapMb
    val all = tr.allJobs.filter(j => window.holds(j.submitMs))
    m("spark.jobs") = all.size.toDouble
    val tasks = Jobs.tasks(all)
    m("spark.scheduler_delay_ms") =
      if (tasks == 0) 0.0 else all.map(_.schedDelayMs.get).sum.toDouble / tasks
    m("process.cpu_s") = window.cpuS
    m.toMap
  }
}

/** `inputs.json` of a generated corpus. */
final case class Inputs(dir: String) {
  private val text = new String(Files.readAllBytes(Paths.get(dir, "inputs.json")), "UTF-8")
  def long(k: String): Long =
    raw""""$k":\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
      .getOrElse(throw new NoSuchElementException(k))
  def inputBytes: Long = long("input_bytes")
}

final class Deadline(seconds: Double) {
  @volatile private var end = Long.MaxValue
  def start(): Unit = end = System.nanoTime() + (seconds * 1e9).toLong
  def passed: Boolean = System.nanoTime() >= end
}
