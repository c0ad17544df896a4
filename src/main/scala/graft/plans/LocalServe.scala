package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit,
  LocalLimit, LogicalPlan, Project, Repartition, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  SinglePartition}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution,
  SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat,
  HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** A zone-bounded read answered on the calling thread, with no Spark
  * job: the planner strategy behind the weather SERVE endpoints
  * (history, forecast horizon, latest observations, latest forecasts).
  *
  * A bounded API request over the gold layout reads a few small files
  * that the zone map has already named, yet a Spark job costs it tens of
  * milliseconds of fixed work (closure cleaning, task scheduling, result
  * fetch) — most of the request. So for a query whose plan is
  * `ReturnAnswer` over a chain of `Project`/`Filter`/`Sort`/
  * `GlobalLimit`/`LocalLimit`/`Repartition(shuffle = false)` down to ONE
  * `LogicalRelation` over a [[ZoneMapFileIndex]] registered by
  * [[serve]], the strategy refutes files with the chain's scan filters
  * exactly as the scan would ([[ZoneMapFileIndex.keptFiles]]) and, when
  * the kept files hold at most [[MaxRows]] rows by the zone map's counts,
  * plans one [[LocalServeExec]]: it reads those files with the parquet
  * reader Spark's own scan uses and applies the chain with Catalyst's
  * interpreted evaluators. Anything else — a bigger request, an
  * aggregate, a join, a non-deterministic or subquery expression, an
  * unregistered relation — plans as before (an ordinary
  * `FileSourceScanExec`, one job).
  *
  * Injected through [[graft.GraftExtensions]]; the answer never depends
  * on which path runs (WeatherZServeSpec pins both paths' rows against
  * plain gold and the job count of each). */
object LocalServe extends SparkStrategy with PredicateHelper {

  /** The zone-map row total of the kept files at or below which a
    * request is read on the calling thread; it also bounds what one
    * request pulls onto the driver. Set from the measured crossover of
    * the two paths (warm JVM, one client, local[4] on a 4-core VM, the
    * seed-1 wx_serve corpus: 28 files of about 3050 rows; medians of 15
    * requests per path, local vs Spark, two warm rounds). The local
    * path's cost grows with the rows it reads and, more, with the rows
    * that pass its filter; the Spark path's stays near its fixed cost
    * (45–65 ms):
    *   - worst shape, every kept row passes and is sorted (the
    *     observation window of all postal codes, top 100): 18070 rows
    *     50–70 vs 62–66 ms, 29970 rows 69–72 vs 59–62 ms, 42100 rows
    *     85–92 vs 61–63 ms — even at about 24000–30000 rows;
    *   - a selective request: a 168 h history (21050 rows, 8 files at
    *     most) 35 vs 49–59 ms; the latest forecasts (6400 rows, all
    *     returned) 32–44 vs 55–60 ms.
    * So the cap sits at the top of the worst shape's crossover, above
    * every request of the endpoints' own mix. */
  val MaxRows = 32000L

  /** A relation's parquet reader on the calling thread: Spark's own
    * `buildReaderWithPartitionValues`, built once per registered index
    * (the build broadcasts the Hadoop conf; dropping the reader with its
    * index leaves that broadcast to the context cleaner). */
  private final class Reader(rel: HadoopFsRelation) {
    val schema = rel.dataSchema
    private val read = {
      val s = rel.sparkSession.asInstanceOf[classic.SparkSession]
      rel.fileFormat.buildReaderWithPartitionValues(s, rel.dataSchema,
        rel.partitionSchema, rel.dataSchema, Nil,
        rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        s.sessionState.newHadoopConfWithOptions(rel.options))
    }

    /** `each` over every row of `f` (a reused row: copy what is kept).
      * The reader is closed here: the driver has no TaskContext to
      * close it at task end. */
    def rows(f: FileStatus, each: InternalRow => Unit): Unit = {
      val it = read(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(f.getPath), 0, f.getLen, Array.empty,
        f.getModificationTime, f.getLen))
      try it.foreach(each)
      finally it match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }

  /** The registered indexes, each with its reader once a plan needed
    * one. */
  private val readers =
    new java.util.concurrent.ConcurrentHashMap[ZoneMapFileIndex,
      Option[Reader]]()

  /** Serve bounded reads over `idx` on the calling thread, until
    * [[release]]. */
  def serve(idx: ZoneMapFileIndex): Unit = readers.putIfAbsent(idx, None)

  /** Stop serving `idx` locally and drop its reader. */
  def release(idx: ZoneMapFileIndex): Unit = readers.remove(idx)

  private[graft] def serving(idx: ZoneMapFileIndex): Boolean =
    readers.containsKey(idx)

  /** The reader of a registered index, built from the first relation
    * planned over it; None once released. */
  private def readerOf(idx: ZoneMapFileIndex, rel: HadoopFsRelation)
      : Option[Reader] =
    Option(readers.computeIfPresent(idx, (_, r) =>
      r.orElse(Some(new Reader(rel))))).flatten

  /** The relation at the bottom of a servable chain. */
  private def leaf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case Project(_, c) => leaf(c)
    case Filter(_, c) => leaf(c)
    case Sort(_, _, c, _) => leaf(c)
    case GlobalLimit(_, c) => leaf(c)
    case LocalLimit(_, c) => leaf(c)
    case Repartition(_, false, c) => leaf(c)
    case r: LogicalRelation => Some(r)
    case _ => None
  }

  /** True for the Filters and Projects directly over the relation: the
    * rows they see are the scan's. */
  private def scanSide(p: LogicalPlan): Boolean = p match {
    case Filter(_, c) => scanSide(c)
    case Project(_, c) => scanSide(c)
    case _: LogicalRelation => true
    case _ => false
  }

  /** The conjuncts of the scan-side Filters over the relation's own
    * columns: a file where one of them holds for no row contributes no
    * row to the answer, so they may refute files, as the scan's pushed
    * data filters do. A Filter above a Sort or a Limit may not. */
  private def scanFilters(p: LogicalPlan, rel: LogicalRelation)
      : Seq[Expression] = p match {
    case Filter(cond, c) if scanSide(c) =>
      splitConjunctivePredicates(cond)
        .filter(_.references.subsetOf(rel.outputSet)) ++ scanFilters(c, rel)
    case _: LogicalRelation => Nil
    case other => other.children.flatMap(scanFilters(_, rel))
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(top) => local(top).toSeq
    case _ => Nil
  }

  private def local(top: LogicalPlan): Option[SparkPlan] =
    leaf(top).flatMap { r =>
      r.relation match {
        case fs: HadoopFsRelation if !r.isStreaming &&
            fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.partitionSchema.isEmpty &&
            r.output.map(_.name) == fs.dataSchema.fieldNames.toSeq &&
            top.find(_.expressions.exists(e => !e.deterministic ||
              SubqueryExpression.hasSubquery(e))).isEmpty =>
          fs.location match {
            case idx: ZoneMapFileIndex if readers.containsKey(idx) =>
              val kept = idx.keptFiles(scanFilters(top, r))
              if (kept.map(_.rows).sum > MaxRows) None
              else readerOf(idx, fs).filter(_.schema == fs.dataSchema)
                .map(rd => LocalServeExec(top, rd.rows, kept.map(_.status)))
            case _ => None
          }
        case _ => None
      }
    }
}

/** The chain `plan` evaluated on the calling thread over `files` (see
  * [[LocalServe]]). `executeCollect` reads no RDD; `doExecute`, for a
  * caller that needs one (a cache, a write), parallelizes the same rows
  * into one partition. Reports the scan's `numFiles` and the node's
  * `numOutputRows`, as `FileSourceScanExec` does. */
case class LocalServeExec(plan: LogicalPlan,
    read: (FileStatus, InternalRow => Unit) => Unit,
    files: Seq[FileStatus]) extends LeafExecNode {

  override def output: Seq[Attribute] = plan.output

  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"),
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def simpleString(maxFields: Int): String =
    s"LocalServe ${files.size} files, ${output.mkString("[", ", ", "]")}"

  /** `p`'s rows and the attributes they carry. */
  private def eval(p: LogicalPlan): (Seq[Attribute], Array[InternalRow]) =
    p match {
      case Filter(cond, r: LogicalRelation) => (r.output, scan(r, Some(cond)))
      case r: LogicalRelation => (r.output, scan(r, None))
      case Filter(cond, c) =>
        val (a, rows) = eval(c)
        val keep = InterpretedPredicate(BindReferences.bindReference(cond, a))
        (a, rows.filter(keep.eval))
      case Project(list, c) =>
        val (a, rows) = eval(c)
        val proj = unsafe(list, a)
        (list.map(_.toAttribute), rows.map(proj(_).copy()))
      case Sort(order, _, c, _) =>
        val (a, rows) = eval(c)
        (a, rows.sorted(new InterpretedOrdering(order, a)))
      case GlobalLimit(n, LocalLimit(_, Sort(order, _, c, _))) =>
        top(n, order, c)
      case LocalLimit(n, Sort(order, _, c, _)) => top(n, order, c)
      case GlobalLimit(n, c) => limit(n, c)
      case LocalLimit(n, c) => limit(n, c)
      case Repartition(_, _, c) => eval(c)
    }

  private def unsafe(exprs: Seq[Expression], in: Seq[Attribute]) =
    InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(exprs, in))

  private def limit(n: Expression, c: LogicalPlan) = {
    val (a, rows) = eval(c)
    (a, rows.take(n.eval().asInstanceOf[Int]))
  }

  /** The first `n` rows of `c` in `order`, through a bounded heap: a
    * limited sort compares each row about once with the heap's top
    * instead of sorting every row. */
  private def top(n: Expression, order: Seq[SortOrder], c: LogicalPlan) = {
    val (a, rows) = eval(c)
    val ord = new InterpretedOrdering(order, a)
    val k = n.eval().asInstanceOf[Int]
    val heap = new java.util.PriorityQueue[InternalRow](
      math.max(k, 1), ord.reverse)
    if (k > 0) rows.foreach { r =>
      if (heap.size < k) heap.add(r)
      else if (ord.lt(r, heap.peek())) { heap.poll(); heap.add(r) }
    }
    (a, heap.toArray(Array.empty[InternalRow]).sorted(ord))
  }

  /** The rows of `files` that `cond` keeps, as unsafe rows: compact,
    * and compared by the sort without boxing. */
  private def scan(r: LogicalRelation, cond: Option[Expression])
      : Array[InternalRow] = {
    val keep: InternalRow => Boolean = cond match {
      case Some(c) =>
        InterpretedPredicate(BindReferences.bindReference(c, r.output)).eval
      case None => _ => true
    }
    val toRow = unsafe(r.output, r.output)
    val out = ArrayBuffer.empty[InternalRow]
    files.foreach(read(_, row => if (keep(row)) out += toRow(row).copy()))
    out.toArray
  }

  override def executeCollect(): Array[InternalRow] = {
    val (a, rows) = eval(plan)
    val out: Array[InternalRow] =
      if (a == output) rows
      else { val toOut = unsafe(output, a); rows.map(toOut(_).copy()) }
    longMetric("numFiles").add(files.size)
    longMetric("numOutputRows").add(out.length)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    out
  }

  override def executeTake(n: Int): Array[InternalRow] =
    executeCollect().take(n)

  override def executeTail(n: Int): Array[InternalRow] =
    executeCollect().takeRight(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}
