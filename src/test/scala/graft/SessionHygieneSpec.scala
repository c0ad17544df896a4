package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Layout, ZIndex, ZTable}
import graft.sources.{Bronze, IncrementalGold, Tables}

/** Graft operations that need a non-default conf pin it for themselves
  * and never write the caller's session: while each call runs, a poller
  * thread reads the pinned key off the caller's session and must only
  * ever see the value it had before the call (and the same value after).
  * A shared session's other callers would otherwise run under the pinned
  * value — a static partitioned overwrite turning dynamic, an exact
  * COUNT(DISTINCT) turning approximate. The calls run on a session of
  * this spec's own, so no other suite's conf can reach the poller. */
class SessionHygieneSpec extends SparkSpec {

  private lazy val caller: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  /** The values of `key` on the caller's session, other than its value
    * before `call`, that a poller saw while `call` ran. */
  private def strayValues(key: String)(call: => Unit): Set[Option[String]] = {
    val before = caller.conf.getOption(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    val running = new AtomicBoolean(true)
    val poller = new Thread(() =>
      while (running.get) {
        seen.add(caller.conf.getOption(key))
        Thread.sleep(1)
      }, "conf-poller")
    poller.setDaemon(true)
    poller.start()
    try call
    finally { running.set(false); poller.join(10000) }
    seen.add(caller.conf.getOption(key))
    seen.asScala.toSet - before
  }

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"

  test("a layout build leaves the caller's parquet timestamp type alone") {
    val feed = TempDirs.create("graft_hyg_feed")
    caller.range(0, 500).select(col("id").as("x"), (col("id") % 7).as("y"),
        timestamp_seconds(col("id") * 60).as("ts"))
      .write.parquet(s"$feed/t.parquet")
    val t = ZTable("hyg", d => s"$d/t.parquet",
      (s, d) => s.read.parquet(s"$d/t.parquet"), "x", "y", 4,
      rootOverride = Some(TempDirs.create("graft_hyg_root")))
    assert(strayValues("spark.sql.parquet.outputTimestampType")(
      ZIndex.ensure(caller, feed, t)) === Set.empty)
  }

  test("incremental landing, redaction and day refresh leave the " +
      "caller's partition overwrite mode alone") {
    val base = TempDirs.create("graft_hyg_bronze")
    val (bronze, gold) = (s"$base/bronze", s"$base/gold")
    val events = Tables.events(caller, Sf)
    val cut = events.agg(max(col("ts"))).head().getTimestamp(0)
    val (early, late) =
      (events.filter(col("ts") < lit(cut)), events.filter(col("ts") >= lit(cut)))
    // first a landing with no prior data, then a merging one
    assert(strayValues(OverwriteMode)(
      Bronze.landEventsIncremental(caller, early, bronze)) === Set.empty)
    assert(strayValues(OverwriteMode)(
      Bronze.landEventsIncremental(caller, late, bronze)) === Set.empty)
    assert(strayValues(OverwriteMode)(
      IncrementalGold.refreshDays(caller, bronze, gold,
        IncrementalGold.touchedDays(late))) === Set.empty)
    val optOut = Bronze.events(caller, bronze).filter(col("user_id").isNotNull)
      .select(col("user_id")).limit(1)
    assert(strayValues(OverwriteMode)(
      assert(Bronze.redactUsers(caller, bronze, optOut) > 0)) === Set.empty)
  }

  test("q152's approximate run leaves the caller's approx flag alone") {
    assert(strayValues("spark.graft.approx.countDistinct")(
      Layout.q152ApproxRewrite(caller, Sf).collect()) === Set.empty)
  }
}
