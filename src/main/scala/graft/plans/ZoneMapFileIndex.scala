package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull,
  IsNull, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Exact zone statistics for ONE column of one layout file, read from
  * the file's own parquet footer ([[graft.operators.ZIndex]] builds
  * them). The encoding is type-driven by the TABLE schema, not
  * hard-coded per table — integral/date/timestamp columns carry long
  * bounds (dates as days, timestamps as micros: the same physical
  * value Spark's pushed literals carry), floating columns double
  * bounds, string columns UTF-8 bounds compared byte-wise (parquet's
  * unsigned binary order == UTF8String order). `nulls` is the exact
  * null count when the footers carried it, -1 when unknown. */
sealed trait ColZone
/** Footer statistics were unavailable for the column — every predicate
  * on it is trivially satisfiable, the file is always kept. */
case object KeepAllZone extends ColZone
/** The column is NULL in every row of the file (or the file is empty):
  * no comparison on it can hold. */
case object AllNullZone extends ColZone
case class LongZone(lo: Long, hi: Long, nulls: Long) extends ColZone
case class DoubleZone(lo: Double, hi: Double, nulls: Long) extends ColZone
case class StringZone(lo: String, hi: String, nulls: Long) extends ColZone
/** Exact DECIMAL bounds, decoded from the footer's unscaled
  * int32/int64/binary statistics (r14 verdict #2: measure columns).
  * Comparison is numeric ([[java.math.BigDecimal.compareTo]]), so the
  * pushed literal's widened scale never matters. */
case class DecimalZone(lo: java.math.BigDecimal, hi: java.math.BigDecimal,
  nulls: Long) extends ColZone

/** One z-layout file: its resolved status, row count, and per-column
  * zones keyed by LOWER-CASED column name. Columns absent from the map
  * were not recorded (unsupported type) and never refute. */
case class ZoneFile(status: FileStatus, rows: Long, cols: Map[String, ColZone])

/** The zone map joined to Spark's OWN scan planning: a [[FileIndex]]
  * whose `listFiles` refutes pushed data filters against each file's
  * exact per-column bounds, so ANY query over the relation — ordinary
  * `.filter(...)`s, plain SQL over a catalog table, joins — gets
  * file-level skipping from the planner with no special query method
  * in the loop (the Delta-log integration pattern;
  * [[graft.operators.ZIndex.q172ZorderPrune]] is the same consult done
  * driver-side).
  *
  * Conservative by construction: a file is dropped ONLY when some
  * pushed conjunct is provably unsatisfiable on its zones. Supported
  * shapes: binary comparisons in both literal orientations over
  * long/double/string zones, `IN` lists and optimizer-compiled
  * `INSET`s, null-safe equality, `IsNull` (refuted when the footer
  * null count is exactly 0) / `IsNotNull` (refuted on all-null files),
  * string prefix (`StartsWith`), and arbitrary `AND`/`OR` nests of
  * those. Every other expression shape keeps the file, so unsupported
  * predicates degrade to a full listing, never a wrong answer
  * (ZoneMapFileIndexSpec pins kept-set equality against the
  * driver-side consult for range and IN shapes, and the
  * keep-everything fallback for unmapped columns). */
class ZoneMapFileIndex(root: Path,
    resolve: () => IndexedSeq[ZoneFile]) extends FileIndex {

  /** Snapshot of the layout's committed state. `refresh()` re-resolves
    * through the maintenance path (stamp-checked, so a no-op feed is a
    * listStatus), which makes a LONG-LIVED relation handle durable
    * across appends: the next action after a refresh plans against the
    * new committed generation — the catalog-table behavior, without a
    * catalog table. */
  @volatile private var entries: IndexedSeq[ZoneFile] = resolve()
  private[graft] def currentEntries: IndexedSeq[ZoneFile] = entries

  /** Planner-side observables, PER INDEX (two concurrent relations
    * must not clobber each other's counters): zone-map size and kept
    * set at this index's last `listFiles`. */
  val lastTotal = new AtomicLong
  val lastKept = new AtomicLong

  override def rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = new StructType()
  override def sizeInBytes: Long = entries.map(_.status.getLen).sum
  override def inputFiles: Array[String] =
    entries.map(_.status.getPath.toString).toArray
  override def refresh(): Unit = { entries = resolve(); () }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      keptFiles(dataFilters).map(_.status).toArray))

  /** The zone-map entries `dataFilters` cannot refute: the files
    * [[listFiles]] keeps, with their row counts
    * ([[LocalServe]] sizes a request by them). */
  private[graft] def keptFiles(dataFilters: Seq[Expression])
      : IndexedSeq[ZoneFile] = {
    val es = entries
    val kept = es.filter(e =>
      dataFilters.forall(f => ZoneMapFileIndex.mayMatch(f, e.cols)))
    lastTotal.set(es.size)
    lastKept.set(kept.size)
    kept
  }
}

object ZoneMapFileIndex {

  /** Unsigned byte-wise comparison — parquet's binary stats order and
    * UTF8String's order agree on this for UTF-8 text. */
  private def bcmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  // literal extraction by RUNTIME value class: Catalyst inserts casts
  // when sides disagree, so an un-cast Attribute ⊗ Literal pair is
  // already type-consistent — Long carries bigint AND timestamp-micros,
  // Int carries int AND date-days, matching the zone encoding.
  private def litLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }
  private def litDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case _ => None
  }
  private def litBytes(v: Any): Option[Array[Byte]] = v match {
    case s: UTF8String => Some(s.getBytes)
    case s: String => Some(s.getBytes("UTF-8"))
    case _ => None
  }
  private def litDec(v: Any): Option[java.math.BigDecimal] = v match {
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case d: java.math.BigDecimal => Some(d)
    case _ => None
  }

  /** May the file hold a non-null value of the zoned column satisfying
    * `column ⊗ v`? Type-mismatched pairs (possible only through casts
    * the matcher never strips) keep the file. */
  private def mayCmp(zone: ColZone, v: Any, op: String): Boolean =
    zone match {
      case KeepAllZone => true
      case AllNullZone => false
      case LongZone(lo, hi, _) => litLong(v) match {
        case None => true
        case Some(x) => op match {
          case ">=" => hi >= x
          case ">" => hi > x
          case "<=" => lo <= x
          case "<" => lo < x
          case "=" => lo <= x && x <= hi
        }
      }
      case DoubleZone(lo, hi, _) => litDouble(v) match {
        // NaN sorts ABOVE every double in Spark while parquet stats
        // exclude it — keep rather than reason about it
        case None => true
        case Some(x) if x.isNaN => true
        case Some(x) => op match {
          case ">=" => hi >= x
          case ">" => hi > x
          case "<=" => lo <= x
          case "<" => lo < x
          case "=" => lo <= x && x <= hi
        }
      }
      case StringZone(lo, hi, _) => litBytes(v) match {
        case None => true
        case Some(x) =>
          val l = lo.getBytes("UTF-8"); val h = hi.getBytes("UTF-8")
          op match {
            case ">=" => bcmp(h, x) >= 0
            case ">" => bcmp(h, x) > 0
            case "<=" => bcmp(l, x) <= 0
            case "<" => bcmp(l, x) < 0
            case "=" => bcmp(l, x) <= 0 && bcmp(x, h) <= 0
          }
      }
      case DecimalZone(lo, hi, _) => litDec(v) match {
        case None => true
        case Some(x) => op match {
          case ">=" => hi.compareTo(x) >= 0
          case ">" => hi.compareTo(x) > 0
          case "<=" => lo.compareTo(x) <= 0
          case "<" => lo.compareTo(x) < 0
          case "=" => lo.compareTo(x) <= 0 && x.compareTo(hi) <= 0
        }
      }
    }

  private def hasNoNulls(zone: ColZone): Boolean = zone match {
    case LongZone(_, _, 0) | DoubleZone(_, _, 0) | StringZone(_, _, 0) |
         DecimalZone(_, _, 0) => true
    case _ => false
  }

  /** TRUE unless `expr` is provably non-TRUE for every row of a file
    * with the given column zones (`cols` keyed by lower-cased name —
    * see [[ZoneFile]]). Public for the driver-side consults and specs:
    * one refutation implementation, two integration points. */
  private[graft] def mayMatch(expr: Expression,
      cols: Map[String, ColZone]): Boolean = {
    def zone(a: Attribute): Option[ColZone] = cols.get(a.name.toLowerCase)
    // a null literal satisfies no comparison (the filter keeps TRUE only)
    def cmpLit(a: Attribute, l: Literal, op: String): Boolean =
      if (l.value == null) false
      else zone(a).forall(z => mayCmp(z, l.value, op))
    def cmp(l: Expression, r: Expression, op: String,
        flipped: String): Option[Boolean] = (l, r) match {
      case (a: Attribute, x: Literal) => Some(cmpLit(a, x, op))
      case (x: Literal, a: Attribute) => Some(cmpLit(a, x, flipped))
      case _ => None
    }
    (expr match {
      case And(l, r) => Some(mayMatch(l, cols) && mayMatch(r, cols))
      case Or(l, r) => Some(mayMatch(l, cols) || mayMatch(r, cols))
      case IsNotNull(a: Attribute) => Some(!zone(a).contains(AllNullZone))
      case IsNull(a: Attribute) => Some(!zone(a).exists(hasNoNulls))
      case GreaterThanOrEqual(l, r) => cmp(l, r, ">=", "<=")
      case GreaterThan(l, r) => cmp(l, r, ">", "<")
      case LessThanOrEqual(l, r) => cmp(l, r, "<=", ">=")
      case LessThan(l, r) => cmp(l, r, "<", ">")
      case EqualTo(l, r) => cmp(l, r, "=", "=")
      case EqualNullSafe(a: Attribute, x: Literal) =>
        if (x.value == null) Some(!zone(a).exists(hasNoNulls))
        else Some(cmpLit(a, x, "="))
      case EqualNullSafe(x: Literal, a: Attribute) =>
        if (x.value == null) Some(!zone(a).exists(hasNoNulls))
        else Some(cmpLit(a, x, "="))
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        Some(list.exists(v => cmpLit(a, v.asInstanceOf[Literal], "=")))
      case InSet(a: Attribute, hset) =>
        Some(hset.exists(v =>
          v != null && zone(a).forall(z => mayCmp(z, v, "="))))
      case StartsWith(a: Attribute, Literal(p: UTF8String, _)) =>
        // strings with prefix p form [p, p·0xff∞): overlap with the
        // zone's [lo, hi] needs hi ≥ p and lo's first |p| bytes ≤ p
        Some(zone(a) match {
          case Some(StringZone(lo, hi, _)) =>
            val pb = p.getBytes
            bcmp(hi.getBytes("UTF-8"), pb) >= 0 &&
              bcmp(lo.getBytes("UTF-8").take(pb.length), pb) <= 0
          case Some(AllNullZone) => false
          case _ => true
        })
      case _ => None
    }).getOrElse(true) // unsupported shape: keep the file
  }
}
