package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, lazy init). */
object TestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Temp-dir factory for specs: every directory is registered for
  * recursive deletion at JVM exit, so suite runs stop leaking parquet
  * fixtures into /tmp (they used to survive every run). */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook {
    dirs.forEach { p =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: Throwable => () } // best-effort; never fail exit
    }
  }
  def create(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** Suites run in PARALLEL on ONE shared session, so a test that
    * set/unsets a session conf (the z-layout suites all steer
    * `spark.graft.zindex.dir`) races every other suite's read of the
    * same key — hold this lock across the whole conf window. */
  val zConfLock = new Object
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val Sf = "/root/testdata/sf0.001"

  /** AQE-aware FileSourceScanExec collection — the ONE plan walker the
    * zone-map/metadata-serve suites pin "no scan" / "which index" with
    * (a new AQE node shape gets handled here, not in five copies). */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(q.plan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(fileScans)
  }

  /** `f`'s result and the number of Spark jobs it launched. Suites share
    * one context, so only jobs in a fresh job group set on this thread
    * are counted; the listener bus is drained before the count is read. */
  def countJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      org.apache.spark.graft.TestBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run `f` against a freshly-built session (same SparkContext, its own
    * SessionState) whose builder is shaped by `customize`, restoring the
    * shared session as active/default afterwards. The new session stays on
    * the context for the JVM's lifetime — stopping it would stop the
    * context.
    */
  def withCustomSession[T](customize: SparkSession.Builder => SparkSession.Builder)(
      f: SparkSession => T): T = {
    val base = spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      f(customize(SparkSession.builder().master("local[4]")).getOrCreate())
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  /** [[withCustomSession]] with [[graft.GraftExtensions]] injected. */
  def withExtSession[T](f: SparkSession => T): T =
    withCustomSession(_
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions))(f)
}
