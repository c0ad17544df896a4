package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{LocalServe, LocalServeExec, ZoneMapFileIndex}
import graft.weather.{WeatherPipeline, WeatherQueries, WeatherZServe}

/** The weather gold path under concurrent first use of a corpus. Pins:
  * (1) a cold gold landing (the first `zGold` request) racing a first
  *     gold-frame build (`accuracy`) on another thread leaves no
  *     deadlocked thread — monitors or `java.util.concurrent` locks —
  *     both threads finish, and each returns its endpoint's rows over
  *     plain gold; three times, each on a fresh corpus copy and gold
  *     root, so every iteration starts cold;
  * (2) `accuracy` computes the corpus's source stamp once per call,
  *     cold or warm;
  * (3) two clients racing mixed API requests over one held generation
  *     are answered on their own threads ([[LocalServe]]), each answer
  *     equal to the endpoint over plain gold; after the corpus is
  *     replaced in place, requests are served through the new
  *     generation's index, and the old one is released. */
class WeatherConcurrencySpec extends SparkSpec {

  /** A fresh copy of the sf0.001 weather sources and an empty gold root. */
  private def freshCorpus(tag: String): (String, String) = {
    val corpus = TempDirs.create(s"wx_conc_${tag}_")
    Seq("events", "customer", "nation").foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/$t.parquet"),
      java.nio.file.Paths.get(s"$corpus/$t.parquet")))
    (corpus, TempDirs.create(s"wx_conc_${tag}_gold_"))
  }

  private def history(gold: DataFrame): DataFrame =
    WeatherPipeline.history(gold, "10011", 72, 24)

  /** Rows in a canonical order, so ties in an endpoint's sort key
    * cannot make equal results compare unequal. */
  private def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** `f` on a daemon thread; the slot holds its rows or its failure. */
  private def fork(name: String)(f: => Seq[Row])
      : (Thread, AtomicReference[Either[Throwable, Seq[Row]]]) = {
    val out = new AtomicReference[Either[Throwable, Seq[Row]]]()
    val t = new Thread(() =>
      out.set(try Right(f) catch { case e: Throwable => Left(e) }), name)
    t.setDaemon(true)
    t.start()
    (t, out)
  }

  test("a cold gold landing racing a first accuracy build deadlocks " +
      "no thread; both return their endpoint's rows over plain gold") {
    val mx = ManagementFactory.getThreadMXBean
    (1 to 3).foreach { i =>
      val (corpus, goldDir) = freshCorpus(s"race$i")
      TempDirs.zConfLock.synchronized {
        spark.conf.set("spark.graft.weather.goldDir", goldDir)
        try {
          val (b, acc) = fork(s"wx-accuracy-$i")(
            WeatherQueries.accuracy(spark, corpus).collect().toSeq)
          Thread.sleep(300)
          val (a, hist) = fork(s"wx-zgold-$i")(
            history(WeatherZServe.zGold(spark, corpus)).collect().toSeq)
          val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
          while ((a.isAlive || b.isAlive) && System.nanoTime() < deadline) {
            val dead = mx.findDeadlockedThreads()
            assert(dead == null, s"iteration $i: deadlocked threads:\n" +
              mx.getThreadInfo(dead, true, true).mkString)
            a.join(100)
          }
          assert(mx.findDeadlockedThreads() == null)
          assert(!a.isAlive && !b.isAlive,
            s"iteration $i: both threads must finish")
          val accRows = acc.get.fold(e => throw e, identity)
          val histRows = hist.get.fold(e => throw e, identity)
          val plain = WeatherQueries.goldUnified(spark, corpus)
          assert(accRows.nonEmpty && canon(accRows) === canon(
              WeatherPipeline.forecastAccuracy(plain).collect().toSeq),
            s"iteration $i: accuracy must equal the endpoint over plain gold")
          assert(histRows.nonEmpty &&
            canon(histRows) === canon(history(plain).collect().toSeq),
            s"iteration $i: history over zGold must equal the endpoint " +
              "over plain gold")
        } finally spark.conf.unset("spark.graft.weather.goldDir")
      }
    }
  }

  test("accuracy computes the corpus's source stamp once per call, " +
      "cold or warm") {
    val (corpus, _) = freshCorpus("stamp")
    def stamps(f: => Any): Long = {
      val p0 = WeatherZServe.stampProbes.get()
      f
      WeatherZServe.stampProbes.get() - p0
    }
    assert(stamps(WeatherQueries.accuracy(spark, corpus).count()) === 1,
      "a cold accuracy must compute the source stamp once")
    assert(stamps(WeatherQueries.accuracy(spark, corpus).count()) === 1,
      "a repeat accuracy must compute the source stamp once")
  }

  test("two clients racing mixed local requests over one held " +
      "generation get plain gold's answers; a corpus replaced in place " +
      "is then served through the new generation's reader") {
    val (corpus, goldDir) = freshCorpus("local")
    val from = lit("2024-01-28 00:00:00").cast("timestamp")
    /** The mixed requests as (key, endpoint over `gold`, or over
      * session `s`'s held generation when `gold` is None). */
    def requests(s: SparkSession, gold: Option[DataFrame])
        : Seq[(String, () => DataFrame)] = {
      def g = gold.getOrElse(WeatherZServe.zGold(s, corpus))
      Seq("10011", "10001", "10021").flatMap { p =>
        Seq(24, 72, 168).map(w => (s"history|$p|$w",
          () => WeatherPipeline.history(g, p, w, 100))) :+
          (s"horizon|$p", () => WeatherPipeline.forecastHorizon(g, p, from, 48))
      } ++ Seq(
        ("latestObs", () => gold.fold(WeatherQueries.latestObs(s, corpus))(
          WeatherPipeline.latestObservations)),
        ("latestFc", () => gold.fold(WeatherQueries.latestFc(s, corpus))(
          WeatherPipeline.latestForecasts)))
    }
    def plainAnswers(): Map[String, Seq[String]] = {
      val plain = WeatherQueries.goldUnified(spark, corpus)
      requests(spark, Some(plain)).map { case (k, f) =>
        k -> canon(f().collect().toSeq) }.toMap
    }
    /** Every request of the mix on each of two daemon threads, in
      * opposite orders, under a bounded wait; their answers by key, and
      * each plan's local node (None for any other plan). */
    def race(s: SparkSession): Seq[(String, Seq[String], Option[LocalServeExec])] = {
      val reqs = requests(s, None)
      val clients = Seq(reqs, reqs.reverse).zipWithIndex.map { case (rs, c) =>
        val out = new AtomicReference[Either[Throwable, Seq[
          (String, Seq[String], Option[LocalServeExec])]]]()
        val t = new Thread(() => out.set(try Right(rs.map { case (k, f) =>
          val df = f()
          val rows = df.collect().toSeq
          (k, canon(rows), Some(df.queryExecution.executedPlan).collect {
            case l: LocalServeExec => l })
        }) catch { case e: Throwable => Left(e) }), s"wx-local-$c")
        t.setDaemon(true)
        t.start()
        (t, out)
      }
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      clients.foreach { case (t, _) =>
        t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000)) }
      assert(clients.forall(!_._1.isAlive),
        "both clients must finish within the bound")
      clients.flatMap(_._2.get.fold(e => throw e, identity))
    }
    def check(s: SparkSession, got: Seq[(String, Seq[String],
        Option[LocalServeExec])], idx: ZoneMapFileIndex): Unit = {
      val want = plainAnswers()
      assert(got.size === 2 * want.size && got.count(_._2.nonEmpty) > got.size / 2,
        "every request must be answered, most of them with rows")
      got.foreach { case (k, rows, local) =>
        assert(rows === want(k),
          s"$k: the answer must equal the endpoint over plain gold")
        assert(local.exists(_.plan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              r.relation.asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location }.exists(_ eq idx)),
          s"$k: the request must be answered locally over the held index")
      }
    }
    withExtSession { s =>
      s.conf.set("spark.graft.weather.goldDir", goldDir)
      WeatherZServe.zGold(s, corpus) // warm: lands gold, holds the layout
      val Some(gen0) = WeatherZServe.servedGenerations(s, corpus)
      val idx0 = WeatherZServe.zGoldWithIndex(s, corpus)._2
      check(s, race(s), idx0)
      assert(WeatherZServe.servedGenerations(s, corpus) === Some(gen0),
        "the race must run over one held generation")

      // the corpus replaced in place: its events minus the last day
      val ev = graft.sources.Tables.events(spark, corpus)
      val lastDay = ev.agg(max(date_trunc("day", col("ts")))).head()
        .getTimestamp(0)
      val sub = TempDirs.create("wx_conc_local_sub_")
      ev.filter(col("ts") < lit(lastDay)).coalesce(1)
        .write.mode("overwrite").parquet(sub)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(sub))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(s"$corpus/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

      val idx1 = WeatherZServe.zGoldWithIndex(s, corpus)._2
      assert(WeatherZServe.servedGenerations(s, corpus).exists(
        _._2 > gen0._2), "the replaced corpus must hold a new generation")
      assert((idx1 ne idx0) && LocalServe.serving(idx1) &&
        !LocalServe.serving(idx0),
        "the new generation's index must be served, the old one released")
      check(s, race(s), idx1)
    }
  }
}
