package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.LongType
import graft.functions.{DotProduct, GeoFunctions}

/** Session-extension entry point: makes the library's custom functions
  * available to pure-SQL users on any cluster with
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * (or `builder.withExtensions(new GraftExtensions)`) — no Scala imports
  * required on the caller side. Registered functions:
  *
  *  - `graft_dot_product(a, b)` — the codegen'd [[DotProduct]] Catalyst
  *    expression over `array<double>`
  *  - `graft_haversine_km(lat1, lon1, lat2, lon2)` — great-circle km
  *    (same tree as [[GeoFunctions.haversineKm]])
  *  - `graft_grid_cell(lat, lon, cell_deg)` — the spatial-join cell key
  *    (same construction as [[GeoFunctions.gridCell]]; `cell_deg` must be
  *    a literal fold-able expression)
  *
  * The geo builders assemble raw Catalyst nodes; the analyzer's type
  * coercion then inserts the usual implicit casts, so int/decimal inputs
  * behave exactly like the Column-API versions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // auto-rewrite naive planar radius joins into grid-cell equi-joins
    ext.injectOptimizerRule(_ => graft.plans.RadiusJoinRewrite)
    // opt-in approximate mode: COUNT(DISTINCT e) -> KMV sketch estimate
    // under spark.graft.approx.countDistinct=true (off by default).
    // Injected at POST-HOC RESOLUTION (not just the optimizer): the
    // streaming UnsupportedOperationChecker rejects distinct aggregates
    // on the ANALYZED plan, so an optimizer-phase rewrite can never
    // reach a streaming query — rewritten during analysis, a streaming
    // COUNT(DISTINCT) becomes a legal bounded-state sketch aggregation
    // (StreamApproxSpec). The optimizer injection stays for parity with
    // the experimental.extraOptimizations path plain sessions use.
    ext.injectPostHocResolutionRule(_ => graft.plans.ApproxDistinctRewrite)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // opt-in synopsis-driven broadcast: a join side whose registered
    // sketch-estimated cardinality is under the threshold gets the
    // BROADCAST hint (post-hoc resolution — SubqueryAlias names are
    // erased before the optimizer phase). Off by default.
    ext.injectPostHocResolutionRule(_ => graft.plans.SketchBroadcastHint)
    // z-layout catalog face: scans of ZCatalog-registered tables are
    // swapped onto the zone-mapped FileIndex (no-op until a table is
    // registered; plain sessions reach the same rule via
    // experimental.extraOptimizations — see ZCatalog.ensureRegistered)
    ext.injectOptimizerRule(_ => graft.plans.ZoneMapScanSwap)
    // metadata-only MIN/MAX/COUNT over registered z-tables, answered
    // from the zone map with zero tasks (exactness-guarded)
    ext.injectOptimizerRule(_ => graft.plans.ZoneAggServe)
    // alias-aware star planning: a multi-fact star over the typed
    // event tables joins its cheapest edge first using the EXACT
    // per-(dim, fact) calibrated aliases (no-op until aliases are
    // registered). Runs AFTER Catalyst's own reorder batch, so with CBO
    // on the exact numbers have the last word.
    ext.injectOptimizerRule(_ => graft.plans.StarAliasReorder)
    // a zone-bounded read over a served gold relation runs on the
    // calling thread, with no Spark job (no-op until a relation is
    // registered, and above the row cap)
    ext.injectPlannerStrategy(_ => graft.plans.LocalServe)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def haversineBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 4, "graft_haversine_km(lat1, lon1, lat2, lon2)")
    val Seq(lat1, lon1, lat2, lon2) = args
    val two = Literal(2.0)
    val dLat = ToRadians(Subtract(lat2, lat1))
    val dLon = ToRadians(Subtract(lon2, lon1))
    val a = Add(
      Pow(Sin(Divide(dLat, two)), two),
      Multiply(Multiply(Cos(ToRadians(lat1)), Cos(ToRadians(lat2))),
        Pow(Sin(Divide(dLon, two)), two)))
    Multiply(Literal(2 * GeoFunctions.EarthRadiusKm), Asin(Sqrt(a)))
  }

  private def gridCellBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "graft_grid_cell(lat, lon, cell_deg)")
    val Seq(lat, lon, cell) = args
    Add(
      Multiply(Cast(Floor(Divide(lat, cell)), LongType), Literal(100000L)),
      Cast(Floor(Divide(lon, cell)), LongType))
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** (identifier, info, builder) triples for [[SparkSessionExtensions.injectFunction]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // the sketch/sampling aggregates for pure-SQL users (the Column-API
    // paths register the same expressions as session temp functions)
    (FunctionIdentifier("graft_kmv"),
      info("graft_kmv", "graft_kmv(hash, k) - KMV distinct sketch: struct(n_kept, hk) from the k smallest distinct hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_kmv(hash, k)")
        graft.functions.KmvSketch(args.head, litInt(args(1), "kmv k"))
      }),
    (FunctionIdentifier("graft_kmv_full"),
      info("graft_kmv_full", "graft_kmv_full(hash, k) - KMV sketch in storage form: the sorted kept set as array<string>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_kmv_full(hash, k)")
        graft.functions.KmvSketch(args.head, litInt(args(1), "kmv k"), full = true)
      }),
    (FunctionIdentifier("graft_quantile_sketch"),
      info("graft_quantile_sketch", "graft_quantile_sketch(hash, value, k) - bottom-k-by-hash uniform value sample as array<struct<h, v>> for quantile estimation"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_quantile_sketch(hash, value, k)")
        graft.functions.QuantileSketch(args(0), args(1), litInt(args(2), "quantile-sketch k"))
      }),
    (FunctionIdentifier("graft_kmv_freq"),
      info("graft_kmv_freq", "graft_kmv_freq(hash, weight, k) - frequency-carrying KMV (join synopsis): bottom-k distinct hashes with exact summed weights as array<struct<h, c>>; pass 1L (bigint - the weight is strictly typed) over rows, a stored count column to merge partials"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_kmv_freq(hash, weight, k)")
        graft.functions.KmvFreqSketch(args(0), args(1), litInt(args(2), "kmv-freq k"))
      }),
    (FunctionIdentifier("graft_priority_sample"),
      info("graft_priority_sample", "graft_priority_sample(item, weight, priority, k) - top-k-by-priority weighted sample as array<struct<item, w, priority>>"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_priority_sample(item, weight, priority, k)")
        graft.functions.PrioritySample(args(0), args(1), args(2),
          litInt(args(3), "priority-sample k"))
      }),
    (FunctionIdentifier("graft_dot_product"),
      info("graft_dot_product", "graft_dot_product(a, b) - codegen dot product of two array<double>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot_product(a, b)")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("graft_haversine_km"),
      info("graft_haversine_km", "graft_haversine_km(lat1, lon1, lat2, lon2) - great-circle distance in km"),
      haversineBuilder _),
    (FunctionIdentifier("graft_grid_cell"),
      info("graft_grid_cell", "graft_grid_cell(lat, lon, cell_deg) - integer grid cell for spatial equi-joins"),
      gridCellBuilder _))
}
