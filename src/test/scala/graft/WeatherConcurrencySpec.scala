package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row}

import graft.weather.{WeatherPipeline, WeatherQueries, WeatherZServe}

/** The weather gold path under concurrent first use of a corpus. Pins:
  * (1) a cold gold landing (the first `zGold` request) racing a first
  *     gold-frame build (`accuracy`) on another thread leaves no
  *     deadlocked thread — monitors or `java.util.concurrent` locks —
  *     both threads finish, and each returns its endpoint's rows over
  *     plain gold; three times, each on a fresh corpus copy and gold
  *     root, so every iteration starts cold;
  * (2) `accuracy` computes the corpus's source stamp once per call,
  *     cold or warm. */
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
}
