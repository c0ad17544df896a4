package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan, ResolvedHint, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

/** The join synopsis making an ACTUAL planning decision (r9 verdict
  * #2's stretch goal): under
  *
  * {{{ spark.graft.synopsis.autoBroadcast = true }}}
  *
  * any join side whose [[SynopsisCatalog]]-registered sketch-estimated
  * cardinality is at most 100000 rows gets a BROADCAST hint — the
  * same decision Spark makes from `sizeInBytes` statistics, here
  * driven by the KMV synopsis, so it fires even where file-size stats
  * are useless (post-filter/post-aggregate subtrees, fresh temp views
  * with no ANALYZE). Injected at post-hoc resolution: SubqueryAlias nodes (the
  * names the catalog keys on) are still present in the analyzed plan —
  * the optimizer erases them before any optimizer-phase rule could
  * look. Spark's own EliminateResolvedHint then folds the injected
  * hint into the Join as usual, so downstream planning is exactly the
  * user-written-broadcast() path. Sides already hinted are left alone;
  * when both sides qualify, the smaller estimate wins (broadcasting
  * both would be wrong). Off by default — no query changes modes
  * unless a session opts in (the q152 conf-switch convention).
  *
  * For SAVED tables prefer [[SynopsisStats]]: it writes the synopsis
  * into catalog statistics, so Spark's own threshold planning makes
  * the same decision with no rule in the loop (and CBO reorder gets
  * the estimates too). This hint remains the route for temp views and
  * ad-hoc subqueries, which have no catalog entry to carry statistics.
  */
object SketchBroadcastHint extends Rule[LogicalPlan] {

  /** ADDRESSING CONTRACT (r10 verdict #8 / ADVICE): a synopsis is
    * matched against the INNERMOST SubqueryAlias of a join side — the
    * view/table-level name (`FROM syn_dim d` → `syn_dim`, never the
    * throwaway `d`; a DataFrame-API side needs `.as("name")` directly
    * on the relation, else it has no alias and can never match).
    * Matching any alias level would let a synopsis registered under a
    * short common alias attach a BROADCAST hint to an unrelated large
    * relation that reuses it anywhere in the session. */
  private val Flag = "spark.graft.synopsis.autoBroadcast"

  private def enabled: Boolean =
    conf.getConfString(Flag, "false").equalsIgnoreCase("true")
  private val MaxRows = 100000L

  /** Registered estimate for a side, by the addressing contract above:
    * only the INNERMOST alias of the chain — the one directly wrapping
    * the relation, i.e. the view/table name — is consulted. `FROM
    * syn_dim d` analyzes to SubqueryAlias(d, SubqueryAlias(syn_dim,
    * …)); the lookup key is `syn_dim`, and a query-local rename like
    * `d` can never hijack an estimate. Only alias/view wrappers are
    * traversed: anything that can change cardinality (Filter,
    * Aggregate, …) makes the registered table-level estimate
    * inapplicable. Already-hinted sides are left alone. */
  private def innermostAlias(p: LogicalPlan): Option[String] = p match {
    case a: SubqueryAlias => innermostAlias(a.child).orElse(Some(a.alias))
    // a View is a DEFINITION BOUNDARY, not an alias wrapper: the name
    // the user addresses is the SubqueryAlias wrapping the View, and
    // recursing into the view body would resolve to whatever base
    // table the definition happens to read — a synopsis registered
    // under the view name would silently stop matching, and one
    // registered under the base table would wrongly attach to every
    // view over it (self-review r11)
    case _ => None
  }

  private def lookupAlias(p: LogicalPlan): Option[Long] =
    innermostAlias(p).flatMap(SynopsisCatalog.lookup)

  /** A ResolvedHint anywhere down a side's alias/view chain means the
    * user (or a previous run of this rule) already chose — and at
    * post-hoc resolution Join.hint is ALWAYS JoinHint.NONE (hints are
    * still ResolvedHint children; EliminateResolvedHint folds them
    * only in the optimizer), so matching the join hint alone cannot
    * see them. Without this, `broadcast(left).join(right)` with right
    * registered under the cap would get BOTH sides hinted. */
  private def alreadyHinted(p: LogicalPlan): Boolean = p match {
    case _: ResolvedHint => true
    case a: SubqueryAlias => alreadyHinted(a.child)
    case v: org.apache.spark.sql.catalyst.plans.logical.View =>
      alreadyHinted(v.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan transformUp {
      case j @ Join(l, r, _, _, JoinHint.NONE)
          if !alreadyHinted(l) && !alreadyHinted(r) =>
        def estOf(side: LogicalPlan): Option[Long] =
          lookupAlias(side).filter(_ <= MaxRows)
        (estOf(l), estOf(r)) match {
          case (Some(le), Some(re)) =>
            if (re <= le) j.copy(right = ResolvedHint(r, HintInfo(strategy = Some(BROADCAST))))
            else j.copy(left = ResolvedHint(l, HintInfo(strategy = Some(BROADCAST))))
          case (None, Some(_)) =>
            j.copy(right = ResolvedHint(r, HintInfo(strategy = Some(BROADCAST))))
          case (Some(_), None) =>
            j.copy(left = ResolvedHint(l, HintInfo(strategy = Some(BROADCAST))))
          case _ => j
        }
    }
  }
}
