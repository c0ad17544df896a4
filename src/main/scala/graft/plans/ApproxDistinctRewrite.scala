package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

import graft.functions.KmvSketch

/** Opt-in APPROXIMATE MODE for exact distinct counts: when
  *
  * {{{ spark.graft.approx.countDistinct = true }}}
  *
  * every single-argument `COUNT(DISTINCT e)` in an aggregation is
  * rewritten to the KMV bottom-k estimate ([[KmvSketch]], k = 64) —
  * the opt-in accuracy-for-cost trade every warehouse exposes (BigQuery
  * `APPROX_COUNT_DISTINCT`, Snowflake `APPROX_COUNT_DISTINCT`,
  * Trino `approx_distinct`), here as a Catalyst rule so EXISTING SQL
  * and DataFrame code switches modes by conf, with no rewrite of the
  * query text. The reference's A5 `COUNT(DISTINCT …)`
  * (`aggregation.py:146`) is the shape this serves at 100 TB: the
  * exact form shuffles every distinct value; the rewritten form
  * shuffles one O(k) sketch per (task, group) (q139's plan pin).
  *
  * Properties the rewrite preserves:
  *   - type: the result is rounded back to `COUNT`'s LongType;
  *   - saturation: a group with fewer than k distinct hashes returns
  *     its EXACT count (the kept set is complete);
  *   - determinism: md5 bottom-k + one IEEE division — the same conf,
  *     data and k always produce the same estimate, on any cluster
  *     (unlike HLL whose binary differs by implementation);
  *   - FILTER clauses ride along on the rewritten aggregate.
  *
  * `COUNT(DISTINCT a, b, …)` (multi-argument) and everything else pass
  * through untouched. Registered via `graft.GraftExtensions`; off by
  * default — the gate's exact queries are unaffected unless a session
  * opts in.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  private val Flag = "spark.graft.approx.countDistinct"

  private def enabled: Boolean =
    conf.getConfString(Flag, "false").equalsIgnoreCase("true")

  private val K = 64

  /** (k−1) / (first-48-bits(hk) / 2^48), exact count below saturation —
    * the q139 estimator as a raw Catalyst tree over the sketch struct.
    */
  private def estimate(sketch: Expression): Expression = {
    val nKept = GetStructField(sketch, 0, Some("n_kept"))
    val hk = GetStructField(sketch, 1, Some("hk"))
    val prefix = Cast(Conv(Substring(hk, Literal(1), Literal(12)),
      Literal(16), Literal(10)), LongType)
    // a kept k-th hash whose 48-bit prefix is all zeros (p ~ 2^-48 per
    // group) would make u_k = 0 and the estimate Infinity — clamp the
    // prefix to 1, mirrored verbatim in every SQL oracle estimator
    val guarded = Greatest(Seq(prefix, Literal(1L)))
    val uk = Divide(Cast(guarded, DoubleType), Literal(281474976710656.0)) // 16^12
    val est = If(LessThan(nKept, Literal(K, IntegerType)),
      Cast(nKept, DoubleType),
      Divide(Literal((K - 1).toDouble), uk))
    Cast(Round(est, Literal(0)), LongType)
  }

  /** The sketch hashes the STRING form of the value, but exact
    * COUNT(DISTINCT) unifies float/double values whose string forms
    * differ (-0.0 vs 0.0, and NaN bit patterns) — normalize top-level
    * floating inputs before hashing so the "exact below saturation"
    * property holds for float group values too. (Floats NESTED inside
    * struct/array arguments keep the string-form caveat.)
    */
  private def normalized(e: Expression): Expression = e.dataType match {
    case org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType =>
      org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(e)
    case _ => e
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan transform {
      case agg: Aggregate =>
        agg.transformExpressions {
          case AggregateExpression(Count(Seq(e)), _, true, filter, _)
              if e.deterministic =>
            val hash = Md5(Cast(Cast(normalized(e), StringType),
              org.apache.spark.sql.types.BinaryType))
            val sketchAgg = AggregateExpression(
              KmvSketch(hash, K), Complete, isDistinct = false, filter,
              NamedExpression.newExprId)
            estimate(sketchAgg)
          case AggregateExpression(Count(es), _, true, filter, _)
              if es.length > 1 && es.forall(_.deterministic) =>
            // COUNT(DISTINCT a, b, …) counts distinct tuples over rows
            // where EVERY argument is non-null — reproduce both: rows
            // with any null hash to null (KmvSketch skips nulls), and
            // the tuple is LENGTH-PREFIX framed ("<len>:<value>" per
            // field), so distinct tuples can never collide the way a
            // naive delimiter concat would ("a,b"+"c" vs "a"+"b,c").
            // Pure Concat/Length/Cast nodes — codegen-able, unlike the
            // RuntimeReplaceable StructsToJson (which cannot survive
            // past the ReplaceExpressions batch this rule runs after)
            val anyNull = es.map(IsNull(_): Expression).reduce(Or)
            val framed = es.flatMap { e =>
              val s = Cast(normalized(e), StringType)
              Seq(Cast(Length(s), StringType), Literal(":"), s)
            }
            val hash = If(anyNull, Literal.create(null, StringType),
              Md5(Cast(Concat(framed), org.apache.spark.sql.types.BinaryType)))
            val sketchAgg = AggregateExpression(
              KmvSketch(hash, K), Complete, isDistinct = false, filter,
              NamedExpression.newExprId)
            estimate(sketchAgg)
        }
    }
  }
}
