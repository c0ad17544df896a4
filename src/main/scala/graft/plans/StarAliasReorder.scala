package graft.plans

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, EqualTo, Expression, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** ALIAS-AWARE STAR PLANNING (r15 verdict #2): a multi-fact star over
  * the graft typed event tables — one shared dimension joined to two
  * or more facts on the same key — is planned against the EXACT
  * per-(dim, fact) calibrated cardinalities, from UNMODIFIED star SQL.
  *
  * Why a rule: Catalyst's `Statistics` is per-RELATION-NODE. A star's
  * shared dimension appears as one node, so its injected rowCount can
  * carry only one number — the conservative MAX across its per-fact
  * calibrations ([[SynopsisStats.injectCalibrated]]'s documented
  * structural limit). `CostBasedJoinReorder` therefore sees the
  * hot-aligned pair's skew applied to EVERY edge. The per-(dim, fact)
  * alias tables ([[graft.operators.StatsJoin.registerCalibratedAliases]]
  * — additional catalog entries over the same partitions, each
  * carrying its pair's exact rows_eff) hold the missing numbers, but a
  * query must ADDRESS an alias to consume it (q185's shape). This rule
  * closes that gap: it recognizes the star, reads each edge's exact
  * calibration FROM the alias tables' catalog statistics, picks the
  * cheapest first edge itself, and substitutes the dimension's
  * relation with THAT edge's alias — so the join the dimension
  * physically participates in is estimated by Spark's own machinery
  * from the pair's exact numbers, and downstream decisions
  * (intermediate sizes, broadcast thresholds) flow from honest inputs.
  *
  * Mechanics: flatten the hint-free inner-join cluster; classify every
  * item as a typed event table (`graft_ev_<type>_<id8>`, optionally
  * under pushed Filters/Projects); identify the UNIQUE item whose
  * equi-join neighbors all have a registered `<dim>__for_<fact>` alias
  * with catalog statistics (alias existence is the planning contract —
  * ambiguity or any missing piece leaves the plan untouched). Each
  * edge's cost is Spark's own uniform-formula join estimate with the
  * pair's exact effective cardinality in place of the MAX:
  *
  *   cost(f) = rows(f_item_after_filters) · rows_eff(dim→f)
  *               / max(ndv_f, ndv_dim)
  *
  * (rows_eff = joinEst·maxNdv/rows_f by construction, so this is the
  * synopsis's own join-size estimate scaled by the fact's filter
  * selectivity). The rebuilt tree joins the cheapest fact against the
  * alias-substituted dimension first, then the remaining facts in
  * ascending cost, with every conjunct placed at its earliest join —
  * semantics untouched (same items, same conjuncts, inner joins;
  * StarAliasReorderSpec pins result equality and the executed order,
  * and the substituted alias carries the SAME partitions, so not a
  * byte of data moves).
  *
  * Estimate inputs: the aliases' rowCount/NDV come straight from the
  * CATALOG (independent of conf); a FILTERED fact's estimated row
  * count needs `spark.sql.cbo.enabled=true` (size-only estimation
  * propagates no rowCount through a Filter) — without it the rule
  * bails and the plan is untouched, the same quiet degradation as
  * every other missing piece. The q186 runner sets it; extension
  * deployments that want the rewrite on filtered stars enable CBO,
  * which the statistics catalog exists to feed anyway.
  *
  * At 100 TB the rewrite is KB of catalog metadata per edge; what it
  * moves is the wrong-first-join penalty — an intermediate sized by a
  * foreign fact's skew can be orders of magnitude over the true edge,
  * and at cluster scale that is shuffled terabytes, not estimate
  * cosmetics. Armed via [[graft.GraftExtensions]] or per-session
  * `extraOptimizations`; a no-op unless aliases are registered (the
  * q170 MAX behavior is unchanged for consumers that never registered
  * them). */
object StarAliasReorder extends Rule[LogicalPlan] with PredicateHelper {

  private val TblRe = "graft_ev_([a-z0-9_]+)_([0-9a-f]{8})".r

  /** Spec observables: rewrites applied; the alias chosen last. */
  private[graft] val rewrites = new AtomicLong
  private[graft] val lastChosenAlias = new AtomicReference[String]("")

  private def flatten(p: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
    p match {
      case Join(l, r, Inner, cond, hint) if hint == JoinHint.NONE =>
        val (li, lc) = flatten(l)
        val (ri, rc) = flatten(r)
        (li ++ ri, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      // column pruning leaves attribute-only Projects BETWEEN the
      // joins; those are transparent to the reorder (the top-level
      // Project the rewrite emits restores the original output, and
      // the per-ITEM pruning Projects — over a single relation — are
      // kept as items, so scan-level column pruning is untouched)
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        val (items, conds) = flatten(child)
        if (items.size > 1) (items, conds) else (Seq(p), Nil)
      case other => (Seq(other), Nil)
    }

  /** The typed-table identity of an item: (type core, corpus id8, the
    * LogicalRelation). None for aliases (their core carries `__for_` —
    * also what makes the rewrite idempotent) and non-graft relations. */
  private def coreOf(item: LogicalPlan)
      : Option[(String, String, LogicalRelation)] =
    item.collectFirst {
      case lr: LogicalRelation if lr.catalogTable.isDefined => lr
    }.flatMap { lr =>
      lr.catalogTable.get.identifier.table match {
        case TblRe(core, id8) if !core.contains("__for_") =>
          Some((core, id8, lr))
        case _ => None
      }
    }

  private val debug = sys.env.contains("GRAFT_STAR_DEBUG")
  private def dbg(msg: => String): Unit =
    if (debug) System.err.println(s"[staralias] $msg")

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val (items, conds) = flatten(j)
    if (items.size < 3) { dbg(s"bail: ${items.size} items"); return None }
    val infoOpt = items.map(coreOf)
    if (infoOpt.exists(_.isEmpty)) {
      dbg(s"bail: non-typed item among ${items.map(it =>
        it.collectFirst { case lr: LogicalRelation =>
          lr.catalogTable.map(_.identifier.table).getOrElse("<no-ct>")
        }.getOrElse(it.nodeName))}")
      return None
    }
    val info = infoOpt.map(_.get)

    def itemOf(a: Attribute): Option[Int] = {
      val i = items.indexWhere(_.outputSet.contains(a))
      if (i >= 0) Some(i) else None
    }
    // equi-edges between distinct items: (i, k, dim-side attr if known)
    val edges: Seq[(Int, Int, Attribute, Attribute)] = conds.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (itemOf(a), itemOf(b)) match {
          case (Some(i), Some(k)) if i != k => Some((i, k, a, b))
          case _ => None
        }
    }.flatten

    val catalog = spark.sessionState.catalog
    def aliasOf(dimIdx: Int, factIdx: Int): String =
      s"graft_ev_${info(dimIdx)._1}__for_${info(factIdx)._1}_${info(dimIdx)._2}"

    // the dimension: the UNIQUE item adjacent to every other item whose
    // every neighbor has a registered alias carrying statistics
    def neighborsOf(i: Int): Set[Int] =
      edges.collect { case (a, b, _, _) if a == i => b
        case (a, b, _, _) if b == i => a }.toSet
    val dims = items.indices.filter { i =>
      val ns = neighborsOf(i)
      ns.size == items.size - 1 && ns.size >= 2 &&
        ns.forall { f =>
          info(i)._2 == info(f)._2 &&
            spark.catalog.tableExists(aliasOf(i, f)) &&
            catalog.getTableMetadata(TableIdentifier(aliasOf(i, f)))
              .stats.flatMap(_.rowCount).isDefined
        }
    }
    if (dims.size != 1) {
      dbg(s"bail: ${dims.size} dim candidates; edges=${edges.map {
        case (a, b, x, y) => s"${info(a)._1}.${x.name}=${info(b)._1}.${y.name}"
      }}; tables=${info.map(_._1)}")
      return None
    }
    val dimIdx = dims.head
    val facts = (items.indices.toSet - dimIdx).toSeq

    // per-edge cost from the pair's EXACT calibration (see object doc);
    // the dim-side key attr names the ndv columns
    def keyNames(f: Int): Option[(String, String)] = edges.collectFirst {
      case (a, b, x, y) if a == dimIdx && b == f => (x.name, y.name)
      case (a, b, x, y) if a == f && b == dimIdx => (y.name, x.name)
    }
    def ndvOf(tbl: String, colName: String): Option[Double] =
      catalog.getTableMetadata(TableIdentifier(tbl)).stats
        .flatMap(_.colStats.get(colName)).flatMap(_.distinctCount)
        .map(_.toDouble)
    val costs: Seq[Option[(Int, Double, String)]] = facts.map { f =>
      for {
        (dimKey, factKey) <- keyNames(f)
        alias = aliasOf(dimIdx, f)
        rowsEff <- catalog.getTableMetadata(TableIdentifier(alias))
          .stats.flatMap(_.rowCount).map(_.toDouble)
        fRows <- items(f).stats.rowCount.map(_.toDouble)
        ndvDim <- ndvOf(alias, dimKey)
        ndvFact <- ndvOf(info(f)._3.catalogTable.get.identifier.table,
          factKey)
      } yield (f, fRows * rowsEff / math.max(ndvDim, ndvFact), alias)
    }
    if (costs.exists(_.isEmpty)) {
      dbg(s"bail: missing cost inputs ${facts.map(f => (info(f)._1,
        items(f).stats.rowCount))}")
      return None
    }
    val ordered = costs.map(_.get).sortBy(_._2)
    val (f1, _, chosenAlias) = ordered.head

    // substitute the dimension's relation with the FIRST edge's alias,
    // preserving the dim's output attributes (exprIds) so every
    // condition and downstream expression resolves unchanged — the
    // alias serves the same partitions, so this is pure metadata
    val dimLr = info(dimIdx)._3
    val aliasRelOpt = spark.table(chosenAlias).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }
    if (aliasRelOpt.isEmpty) return None
    val aliasRel = aliasRelOpt.get
    val byName = aliasRel.output.map(a => a.name -> a).toMap
    if (!dimLr.output.forall(d => byName.get(d.name)
        .exists(_.dataType == d.dataType))) return None
    val projList: Seq[NamedExpression] = dimLr.output.map { d =>
      Alias(byName(d.name), d.name)(exprId = d.exprId,
        qualifier = d.qualifier)
    }
    val dimNew = items(dimIdx).transformUp {
      case lr: LogicalRelation if lr eq dimLr => Project(projList, aliasRel)
    }

    // left-deep rebuild: cheapest fact ⋈ alias-dim first, remaining
    // facts ascending; each conjunct lands at its earliest join
    var remaining = conds
    def take(out: org.apache.spark.sql.catalyst.expressions.AttributeSet)
        : Option[Expression] = {
      val (now, later) = remaining.partition(_.references.subsetOf(out))
      remaining = later
      now.reduceOption(And)
    }
    var current: LogicalPlan = {
      val l = items(f1)
      val cond = take(l.outputSet ++ dimNew.outputSet)
      Join(l, dimNew, Inner, cond, JoinHint.NONE)
    }
    ordered.tail.foreach { case (f, _, _) =>
      val next = items(f)
      val cond = take(current.outputSet ++ next.outputSet)
      current = Join(current, next, Inner, cond, JoinHint.NONE)
    }
    val body = remaining.reduceOption(And)
      .map(c => Filter(c, current)).getOrElse(current)
    rewrites.incrementAndGet()
    lastChosenAlias.set(chosenAlias)
    Some(Project(j.output, body))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case j @ Join(_, _, Inner, _, _) => rewrite(j).getOrElse(j)
    }
}
