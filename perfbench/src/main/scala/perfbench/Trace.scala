package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program: name, wall interval, the span that
  * caused it, and the job group its Spark jobs carry. */
final case class Span(id: String, name: String, parent: Option[String],
    startNs: Long, endNs: Long, startMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-job record built from listener events. `callSite` is the file of
  * the program frame Spark records on the job's stages (for example
  * `Upsert.scala`), which splits the work inside one public call. */
final class JobRec(val jobId: Int, val group: Option[String],
    val submitMs: Long, val callSite: String) {
  @volatile var endMs: Long = submitMs
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val outBytes = new AtomicLong
  val outRecords = new AtomicLong
  val schedDelayMs = new AtomicLong
}

/** The benchmark's tracing: spans around each public call, kept in
  * memory and written once at exit; a Spark listener that counts task
  * work per job; jobs are attributed to the enclosing span through the
  * job group set here. Disabled (the untraced runs), `span` only times
  * the call: no job group, no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }

  private val GroupKey = "spark.jobGroup.id"
  /** SQL execution id -> file of the program frame that started it. */
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty(GroupKey)))
        .filter(_.startsWith("pb-"))
      // jobs of one SQL execution (AQE submits its stages from its own
      // threads) take the call site of the frame that started it
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(x => Option(execSite.get(x.toLong)))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(si => callSiteFile(si.name)))
        .getOrElse("")
      val rec = new JobRec(e.jobId, group, e.time, site)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId, callSiteFile(x.description))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) {
        rec.tasks.incrementAndGet()
        rec.runMs.addAndGet(m.executorRunTime)
        rec.cpuNs.addAndGet(m.executorCpuTime)
        rec.gcMs.addAndGet(m.jvmGCTime)
        rec.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        rec.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        rec.outBytes.addAndGet(m.outputMetrics.bytesWritten)
        rec.outRecords.addAndGet(m.outputMetrics.recordsWritten)
        val info = e.taskInfo
        val dur = info.finishTime - info.launchTime
        rec.schedDelayMs.addAndGet(math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
      }
    }
  }

  if (enabled) sc.addSparkListener(Listener)

  /** "parquet at Upsert.scala:95" -> "Upsert.scala". */
  private def callSiteFile(stageName: String): String = {
    val at = stageName.lastIndexOf(" at ")
    val s = if (at >= 0) stageName.substring(at + 4) else stageName
    s.takeWhile(_ != ':')
  }

  /** Time `f` as span `name`; with tracing on, its Spark jobs carry the
    * span's id as their job group. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val id = s"pb-${ids.incrementAndGet()}"
    val parent = current.get()
    val savedGroup = if (enabled) Option(sc.getLocalProperty(GroupKey)) else None
    if (enabled) { sc.setLocalProperty(GroupKey, id); current.set(Some(id)) }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, name, parent, t0, System.nanoTime(), startMs)
      if (enabled) spans.synchronized { spans += s }
      (r, s)
    } finally {
      if (enabled) {
        sc.setLocalProperty(GroupKey, savedGroup.orNull)
        current.set(parent)
      }
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def spansNamed(name: String): Seq[Span] =
    spans.synchronized { spans.filter(_.name == name).toSeq }

  private def childrenOf(ids: Set[String]): Set[String] = {
    val all = spans.synchronized { spans.toSeq }
    var out = ids
    var grew = true
    while (grew) {
      val next = out ++ all.filter(s => s.parent.exists(out)).map(_.id)
      grew = next.size > out.size
      out = next
    }
    out
  }

  /** Jobs of the given spans and the spans they caused. */
  def jobsOf(ss: Seq[Span]): Seq[JobRec] = {
    val ids = childrenOf(ss.map(_.id).toSet)
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.filter(_.group.exists(ids)).toSeq
  }

  def allJobs: Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq
  }

  /** Write every span as one JSON line, once, at exit. */
  def flush(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.synchronized {
      spans.foreach { s =>
        w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent.orNull, "start_ms" -> s.startMs,
          "dur_s" -> s.seconds)))
      }
      allJobs.sortBy(_.jobId).foreach { j =>
        w.println(Json.obj(Seq("job" -> j.jobId, "group" -> j.group.orNull,
          "call_site" -> j.callSite, "submit_ms" -> j.submitMs,
          "wall_ms" -> (j.endMs - j.submitMs), "tasks" -> j.tasks.get,
          "cpu_s" -> j.cpuNs.get / 1e9)))
      }
    } finally w.close()
  }
}

/** Sums over a set of jobs. */
object Jobs {
  /** Wall time covered by the jobs (overlapping jobs count once). */
  def wallS(js: Seq[JobRec]): Double = {
    var end = Long.MinValue
    var total = 0L
    js.map(j => (j.submitMs, j.endMs)).sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total / 1e3
  }
  def cpuS(js: Seq[JobRec]): Double = js.map(_.cpuNs.get).sum / 1e9
  def runS(js: Seq[JobRec]): Double = js.map(_.runMs.get).sum / 1e3
  def gcS(js: Seq[JobRec]): Double = js.map(_.gcMs.get).sum / 1e3
  def shuffle(js: Seq[JobRec]): Long = js.map(_.shuffleBytes.get).sum
  def spill(js: Seq[JobRec]): Long = js.map(_.spillBytes.get).sum
  def tasks(js: Seq[JobRec]): Long = js.map(_.tasks.get).sum
  def outBytes(js: Seq[JobRec]): Long = js.map(_.outBytes.get).sum
  def outRecords(js: Seq[JobRec]): Long = js.map(_.outRecords.get).sum
  def at(js: Seq[JobRec], file: String): Seq[JobRec] = js.filter(_.callSite == file)
}
