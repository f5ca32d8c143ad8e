package graft.sources

import graft.operators.{Mv, Snapshots}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, SimplifyCasts}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LocalRelation, LogicalPlan, OneRowRelation, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** TRANSPARENT MATERIALIZED-VIEW ROUTING — the classic aggregate-rewrite
  * optimization as a Catalyst rule (injected by `GraftExtensions` into
  * the operator-optimization batch): a grouped aggregate over a
  * graft-snapshot BASE scan — or over the INNER equi-join of two base
  * scans a join MV maintains, or the two-level equi-join tree of three
  * a trilinear MV maintains (any association/side order: roots and key
  * pairs compare as sets, which is sound because inner joins commute) —
  * whose shape a registered view covers ([[Mv.register]]) rewrites to
  * read the VIEW instead: a 100 TB scan-(join-)and-shuffle becomes a
  * read of the pre-aggregated table.
  *
  * Two rewrite shapes:
  *   - EXACT grouping (query groups == view groups): a Project over the
  *     view's scan — no aggregation at all;
  *   - ROLLUP grouping (query groups ⊂ view groups, including the
  *     global aggregate): a compensating re-aggregation over the view —
  *     count(*)→sum(n_rows), sum(c)→sum(sum_c), count(c)→sum(nn_c),
  *     avg(c)→sum(sum_c)/sum(nn_c), min/max(c)→min(min_c)/max(max_c).
  *     The view has one row per group, so the re-aggregation reads
  *     |groups| rows, not |base|. count(DISTINCT) is not summable
  *     across groups, so at exact grouping it reads the stored
  *     `nd_<c>`, and at ROLLUP grouping it reads the COMPANION table
  *     (`_dv/<c>` — one row per (group, value) with a value digest
  *     `__vd`): `count(DISTINCT __vd)` over the view ⋈ companion on
  *     the group digest, re-grouped by the query's coarser grouping —
  *     O(companion rows), never the base. A view without that
  *     companion declines; default-rsd
  *     approx_count_distinct over a maintained `approxDistinctCols`
  *     column maps to the stored DataSketches sketch at BOTH shapes
  *     (sketches union, so even rollups route — estimate for estimate,
  *     both inside their published error). The approximate mapping is
  *     an ESTIMATOR SWAP (HLL++ answered by a DataSketches sketch —
  *     same quantity, different registers), so unlike every exact
  *     rewrite the routed VALUE differs from the unrouted one within
  *     the published error; `spark.graft.mv.routeApprox=false` pins
  *     plan-invariant results by disabling just that mapping.
  *
  * GROUPING-SETS plans (`ROLLUP` / `CUBE` / `GROUPING SETS`) route as a
  * third shape: the analyzer's Aggregate-over-Expand lowering keeps its
  * grouping-id and NULL-marker semantics verbatim while the view's rows
  * replicate under the Expand instead of the base's, every aggregate
  * compensated with the rollup map ([[expandRewrite]]).
  *
  * TIME-UNIT groupings route too: a view grouped by a `days(ts)`-style
  * transform spec answers a query grouping by the engine's own
  * transform form ([[Mv.timeGroup]]) — the optimizer has pulled the
  * expression into a `_groupingexpression` Project alias by the time
  * this rule fires, so the matcher resolves attributes through an
  * alias map and compares semantically against the analyzer-resolved,
  * cast-simplified expected expression; `date_trunc` or any other
  * spelling of "the day" is NOT the engine transform and bypasses.
  *
  * FILTERED views route by PREDICATE IMPLICATION via conjunct
  * subsetting: the stored `where` is parsed, analyzed against the
  * scan's own attributes (type coercion and constant folding applied —
  * the optimizer has already folded the query's side), and every view
  * conjunct must match a query conjunct via `semanticEquals` — or, for
  * a literal-bound inequality, be RANGE-IMPLIED by a query conjunct on
  * the same expression: an inequality whose bound is at least as tight
  * (`day >= 150` answers a view barred at `day >= 100`), an EQUALITY
  * whose point satisfies the bar (`day = 150` — the point-day
  * drill-down), or an IN-list every element of which does; the
  * implying conjunct then rides as residual, the time-windowed
  * drill-down without a general prover; the
  * RESIDUAL query conjuncts re-apply as a Filter over the view,
  * provided each references only view-carried columns — plain group
  * columns, or a transform group's unit expression (substituted to the
  * stored unit attribute: the time-windowed daily drill-down
  * `days(ts) >= N AND seg = 'X'` routes as a Filter over the view) —
  * the dashboard drill-down (`query = view's bar AND seg = 'X'`)
  * routes as Filter(seg='X') over the view; a query WEAKER than the
  * view's bar, a residual on a column the view does not store, or a
  * predicate on the RAW time column (not constant within its unit
  * group) declines. The
  * same rule lets a predicate-only query route over an UNFILTERED
  * view. Inference-injected IsNotNull conjuncts (a null-intolerant
  * sibling implies them) are dropped on both sides first, so the match
  * does not depend on which optimizer batch fires the rule. For joins
  * the optimizer has already pushed single-sided conjuncts below the
  * join, so the match recombines child and above-join predicates (and
  * ignores IsNotNull on the join keys — implied by the inner equi-join
  * on both the query and the view side).
  *
  * Correctness gates (each one declines the rewrite, never errors):
  * freshness (view watermark == base head — the watermark PAIR == both
  * heads for a join view — checked at plan time, the single-writer
  * premise every snapshot read already rests on); the scan must be the
  * current version (no time travel / change feed, reader options AND
  * catalog-bound pins); grouping must be duplicate-free and answer to
  * stored group columns (plain attributes by name, transform groups by
  * semantic equality); every aggregate must map type-exactly (aggregate FILTER
  * clauses, distinct flags on anything but maintained distinct
  * columns, decimal avg/rollup-sum widenings all decline). Output
  * attribute ids are preserved (parents rebind nothing) and
  * non-nullability re-asserted where the original aggregate guaranteed
  * it. Registration is session-scoped and advisory: an unregistered,
  * stale, or mismatched query keeps its original plan.
  */
case class MvRoute(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val routes = Mv.routes(spark)
    if (routes.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate =>
        singleRewrite(agg, routes).orElse(joinRewrite(agg, routes))
          .orElse(join3Rewrite(agg, routes))
          .orElse(expandRewrite(agg, routes))
          .getOrElse(agg)
    }
  }

  /** The plan unwrapped to its DSv2 relation plus at most one pushed
    * predicate — through the attribute-only Projects column pruning
    * inserts, nothing else.
    */
  private def unwrap(p: LogicalPlan)
      : Option[(DataSourceV2Relation, Option[Expression])] = p match {
    case r: DataSourceV2Relation => Some((r, None))
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(child)
    case Filter(cond, child) => unwrap(child) match {
      case Some((r, None)) => Some((r, Some(cond)))
      case _ => None
    }
    case _ => None
  }

  private val travelKeys = Seq("version", "timestampAsOf", "readChangeFeed")

  /** The scan's root, provided it is a current-head graft-snapshot read
    * (no time travel / change feed — reader options and catalog-bound
    * pins both checked).
    */
  private def currentRoot(rel: DataSourceV2Relation): Option[String] =
    rel.table match {
      case t: SnapshotTable =>
        val (root, bound) = t.routeIdentity
        if (travelKeys.forall(k =>
            !rel.options.containsKey(k) && !bound.contains(k))) Some(root)
        else None
      case _ => None
    }

  private def norm(root: String): String = root.stripSuffix("/")

  /** [[unwrap]] extended with an ALIAS MAP: the optimizer's
    * PullOutGroupingExpressions rewrites expression groupings into a
    * child Project's `_groupingexpression` aliases before any
    * operator-optimization rule fires, so a `days(ts)`-grouped query
    * reaches this rule as Aggregate(groupattr, Project(alias(
    * datediff(...)), scan)). The map resolves such attributes back to
    * their defining expressions (composed through nested Projects);
    * the returned predicate is alias-substituted the same way. Single-
    * base path only — the join matchers keep the attribute-only
    * [[unwrap]].
    */
  private def unwrapG(p: LogicalPlan): Option[(DataSourceV2Relation,
      Option[Expression], Map[ExprId, Expression])] = p match {
    case r: DataSourceV2Relation => Some((r, None, Map.empty))
    case Project(pl, child)
        if pl.forall(e => e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
      unwrapG(child).map { case (r, pred, amap) =>
        val added = pl.collect { case al: Alias =>
          al.exprId -> al.child.transformUp {
            case a: AttributeReference if amap.contains(a.exprId) => amap(a.exprId)
          }
        }
        (r, pred, amap ++ added)
      }
    case Filter(cond, child) => unwrapG(child) match {
      case Some((r, None, amap)) =>
        Some((r, Some(cond.transformUp {
          case a: AttributeReference if amap.contains(a.exprId) => amap(a.exprId)
        }), amap))
      case _ => None
    }
    case _ => None
  }

  /** The view's STORED group column a query-side grouping expression
    * answers to: a plain attribute (not an alias of something else)
    * matches a plain group column by name; an aliased or inline
    * expression matches a `days(ts)`-style transform group when it
    * semantically equals the engine's own transform form
    * ([[Mv.timeGroup]] / the cluster layouts' epoch units). None =
    * the expression is not this view's grouping.
    */
  private def storedGroupOf(e: Expression, amap: Map[ExprId, Expression],
      output: Seq[Attribute], specs: Seq[String]): Option[String] = e match {
    case a: AttributeReference if !amap.contains(a.exprId) =>
      Some(a.name).filter(specs.contains)
    case a: AttributeReference => transformGroupOf(amap(a.exprId), output, specs)
    case other => transformGroupOf(other, output, specs)
  }

  private def transformGroupOf(e: Expression, output: Seq[Attribute],
      specs: Seq[String]): Option[String] =
    specs.iterator.flatMap { s =>
      Snapshots.timeSpec(s) match {
        case Some((u, c)) if expectedTransform(u, c, output).exists(_.semanticEquals(e)) =>
          Some(Mv.groupStored(s))
        case _ => None
      }
    }.nextOption()

  /** The analyzer-resolved, constant-folded form of the engine's time
    * transform over the scan's own attribute — the comparison target a
    * query's (already-folded) grouping expression must semantically
    * equal. Mirrors [[Snapshots.timeTransformCol]] exactly, with the
    * epoch as a typed date literal so no runtime-replaceable wrapper
    * survives to the comparison.
    */
  private def expectedTransform(unit: String, c: String,
      output: Seq[Attribute]): Option[Expression] = {
    if (!output.exists(_.name == c)) return None
    val sql = unit match {
      case "years" => s"year(`$c`) - 1970"
      case "months" => s"(year(`$c`) - 1970) * 12 + month(`$c`) - 1"
      case "days" => s"datediff(cast(`$c` as date), date'1970-01-01')"
      case "hours" => s"datediff(cast(`$c` as date), date'1970-01-01') * 24 + hour(`$c`)"
      case _ => return None
    }
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val analyzed = spark.sessionState.analyzer.execute(
        Project(Seq(Alias(parsed, "__tg")()), LocalRelation(output)))
      // the query's side arrives optimizer-simplified: fold constants AND
      // drop redundant casts (days over a DATE column loses its
      // cast-to-date there, and must here too)
      ConstantFolding(SimplifyCasts(analyzed)) match {
        case Project(Seq(Alias(e, _)), _) if e.resolved => Some(e)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The two attribute names of an equi-join condition — accepting the
    * implicit COERCION cast the analyzer inserts on mixed-width keys
    * (e.g. `bigint_fk = cast(int_pk as bigint)`), but ONLY when the
    * condition is exactly what the analyzer derives for a plain
    * `a = b` over these attributes: the view's own join got the same
    * coercion, so those are equivalent — while an EXPLICIT, different
    * cast (say a truncating downcast) fails the semantic comparison
    * and declines.
    */
  private def keyPairOf(cond: Expression,
      output: Seq[Attribute]): Option[Set[String]] = {
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case Cast(a: AttributeReference, _, _, _) => Some(a.name)
      case _ => None
    }
    cond match {
      case EqualTo(l: AttributeReference, r: AttributeReference) =>
        Some(Set(l.name, r.name))
      case EqualTo(l, r) =>
        for {
          a <- nameOf(l); b <- nameOf(r)
          expected <- try {
            spark.sessionState.analyzer.execute(Filter(
              EqualTo(UnresolvedAttribute(Seq(a)), UnresolvedAttribute(Seq(b))),
              LocalRelation(output))) match {
              case Filter(c, _) if c.resolved => Some(c)
              case _ => None
            }
          } catch { case scala.util.control.NonFatal(_) => None }
          if expected.semanticEquals(cond)
        } yield Set(a, b)
      case _ => None
    }
  }

  /** The view's stored `where` parsed, analyzed against the scan's own
    * attributes (name-resolved, type-coerced, constant-folded — the
    * query's side arrives already folded), ready for semanticEquals.
    */
  private def resolvedFilter(w: String,
      output: Seq[Attribute]): Option[Expression] =
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(w)
      val hasUnknown = parsed.collectFirst {
        case u: UnresolvedAttribute
            if u.nameParts.size != 1 ||
              !output.exists(_.name == u.nameParts.head) => u
      }.isDefined
      if (hasUnknown) None
      else {
        val analyzed = spark.sessionState.analyzer.execute(
          Filter(parsed, LocalRelation(output)))
        ConstantFolding(analyzed) match {
          case Filter(cond, _) if cond.resolved => Some(cond)
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `e` references `a` through NULL-INTOLERANT nodes only — then `e`
    * is null whenever `a` is (an `a` nested under a null-tolerant
    * wrapper like coalesce never qualifies, keeping the check
    * conservative). This is the derivation the optimizer's own
    * constraint inference uses to ADD IsNotNull conjuncts, applied in
    * reverse; it covers both plain columns and transform expressions
    * (`datediff(cast(ts as date), ...) >= N` implies ts IS NOT NULL).
    */
  private def nullIntolerantRef(e: Expression, a: AttributeReference): Boolean =
    e match {
      case ar: AttributeReference => ar.semanticEquals(a)
      case _ => e.nullIntolerant && e.children.exists(nullIntolerantRef(_, a))
    }

  /** Whether conjunct `c` by itself filters NULLs of `a` (so an
    * `IsNotNull(a)` sibling is redundant): a binary comparison or IN
    * whose operand is null-intolerant in `a` evaluates to null —
    * filtered — when `a` is null.
    */
  private def impliesNotNull(c: Expression, a: AttributeReference): Boolean =
    c match {
      case b: BinaryComparison =>
        nullIntolerantRef(b.left, a) || nullIntolerantRef(b.right, a)
      case In(v, _) => nullIntolerantRef(v, a)
      case InSet(v, _) => nullIntolerantRef(v, a)
      case _ => false
    }

  /** Drop `IsNotNull(a)` conjuncts a null-intolerant sibling on the same
    * attribute already implies — the optimizer's constraint inference
    * injects them on nullable filter columns, and without this the
    * match would depend on WHICH optimizer batch the rule fires in.
    */
  private def dropImpliedNotNull(conjuncts: Seq[Expression]): Seq[Expression] =
    conjuncts.filterNot {
      case IsNotNull(a: AttributeReference) =>
        conjuncts.exists(c => !c.isInstanceOf[IsNotNull] && impliesNotNull(c, a))
      case _ => false
    }

  /** A comparison conjunct normalized to (expression, literal bound,
    * is-lower-bound, strict) — literal on either side, the four
    * inequality shapes. None for anything else.
    */
  private def bound(e: Expression): Option[(Expression, Literal, Boolean, Boolean)] =
    e match {
      case GreaterThanOrEqual(x, l: Literal) => Some((x, l, true, false))
      case GreaterThan(x, l: Literal) => Some((x, l, true, true))
      case LessThanOrEqual(x, l: Literal) => Some((x, l, false, false))
      case LessThan(x, l: Literal) => Some((x, l, false, true))
      case GreaterThanOrEqual(l: Literal, x) => Some((x, l, false, false))
      case GreaterThan(l: Literal, x) => Some((x, l, false, true))
      case LessThanOrEqual(l: Literal, x) => Some((x, l, true, false))
      case LessThan(l: Literal, x) => Some((x, l, true, true))
      case _ => None
    }

  /** Literal `c` satisfies the view's bar `(vl, lower, strict)`: the
    * one-point membership test equality and IN implication reduce to,
    * evaluated through the comparison's own ordering (same type only).
    */
  private def satisfiesBound(c: Literal, vl: Literal, lower: Boolean,
      strict: Boolean): Boolean =
    try {
      def isTrue(e: Expression): Boolean = e.eval(null) == true
      val past = if (lower) GreaterThan(c, vl) else LessThan(c, vl)
      isTrue(past) || (!strict && isTrue(EqualTo(c, vl)))
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Whether query conjunct `qc` RANGE-IMPLIES view conjunct `vc` — `vc`
    * must be a literal-bound inequality, and `qc` one of three shapes on
    * the SAME expression:
    *   - an inequality on the same side (both lower or both upper
    *     bounds) whose bound is at least as tight — `x >= 150` implies
    *     `x >= 100`, `x > 100` implies `x >= 100`, but `x >= 100` does
    *     NOT imply `x > 100` (the boundary row);
    *   - an EQUALITY whose literal satisfies the bar — the point-day
    *     drill-down `days(ts) = N` over a view barred at
    *     `days(ts) >= K` routes iff `N >= K` (strictness honored:
    *     `x = K` does not imply `x > K`);
    *   - an IN-list (`In` over literals, or its optimizer-converted
    *     `InSet`) EVERY element of which satisfies the bar — one
    *     boundary-crossing element declines (a NULL element also
    *     declines, conservatively: it admits no rows, so accepting
    *     would be sound, but the simple rule is uniform).
    * Literals only (evaluated through the comparison's own ordering);
    * anything unorderable or mixed-type declines. NULL semantics agree
    * for free: all three query shapes filter NULLs of the shared
    * expression, exactly as the view's bar does.
    */
  private def rangeImplies(qc: Expression, vc: Expression): Boolean =
    bound(vc) match {
      case Some((vx, vl, vLower, vStrict)) =>
        val byRange = bound(qc) match {
          case Some((qx, ql, qLower, qStrict))
              if vLower == qLower && vl.dataType == ql.dataType &&
                vx.semanticEquals(qx) =>
            try {
              def isTrue(c: Expression): Boolean = c.eval(null) == true
              val tighter = if (vLower) GreaterThan(ql, vl) else LessThan(ql, vl)
              isTrue(tighter) || (isTrue(EqualTo(ql, vl)) && (qStrict || !vStrict))
            } catch { case scala.util.control.NonFatal(_) => false }
          case _ => false
        }
        def sat(l: Literal): Boolean =
          l.value != null && l.dataType == vl.dataType &&
            satisfiesBound(l, vl, vLower, vStrict)
        byRange || (qc match {
          case EqualTo(x, l: Literal) if x.semanticEquals(vx) => sat(l)
          case EqualTo(l: Literal, x) if x.semanticEquals(vx) => sat(l)
          case In(x, elems) if x.semanticEquals(vx) && elems.nonEmpty &&
              elems.forall(_.isInstanceOf[Literal]) =>
            elems.forall(e => sat(e.asInstanceOf[Literal]))
          case InSet(x, hset) if x.semanticEquals(vx) && hset.nonEmpty =>
            try hset.forall(v => v != null && sat(Literal(v, x.dataType)))
            catch { case scala.util.control.NonFatal(_) => false }
          case _ => false
        })
      case _ => false
    }

  /** Match the view's stored filter against the query's (recombined)
    * predicate by IMPLICATION-VIA-CONJUNCT-SUBSETTING: every view
    * conjunct must appear semantically among the query's — or be
    * [[rangeImplies range-implied]] by one — and the RESIDUAL (the
    * query conjuncts the view's bar does not carry verbatim, including
    * any range-implying tighter bound) is returned for the caller to
    * re-apply as a Filter OVER the view. That residual re-application
    * is sound exactly when each residual conjunct references only
    * columns the view STORES VERBATIM (its group columns — the caller
    * checks membership): group columns are constant within a group, so
    * σ(residual) commutes with the view's γ. Every residual conjunct
    * must additionally be DETERMINISTIC — a non-deterministic predicate
    * (rand() < p) evaluates once per base ROW in the original plan but
    * would evaluate once per view GROUP after the rewrite, the same
    * discipline Catalyst uses to refuse moving such filters across
    * aggregates. None = decline: the query's predicate is WEAKER than
    * the view's bar (a view conjunct went unmatched — the view has
    * already dropped rows the query wants), a residual conjunct is
    * non-deterministic, or the stored filter fails to resolve.
    * `Some(Nil)` = the exact match. Both sides drop inference-injected
    * IsNotNull conjuncts first.
    */
  private def filterResidual(where: Option[String], output: Seq[Attribute],
      queryConjuncts: Seq[Expression]): Option[Seq[Expression]] = {
    val qc = dropImpliedNotNull(queryConjuncts)
    val res = where match {
      case None => Some(qc)
      case Some(w) =>
        resolvedFilter(w, output).flatMap { cond =>
          val wc = dropImpliedNotNull(splitConjunctivePredicates(cond))
          if (!wc.forall(c =>
              qc.exists(q => q.semanticEquals(c) || rangeImplies(q, c)))) None
          else Some(qc.filterNot(c => wc.exists(_.semanticEquals(c))))
        }
    }
    // subquery-bearing conjuncts also decline: predicate subqueries are
    // still unrewritten in this optimizer batch, and re-binding the
    // OUTER side of a correlated one would leave the subplan's
    // OuterReferences pointing at the replaced scan
    res.filter(_.forall(c =>
      c.deterministic && !c.exists(_.isInstanceOf[PlanExpression[_]])))
  }

  // ── single-base views ────────────────────────────────────────────────

  private def singleRewrite(agg: Aggregate,
      routes: Seq[String]): Option[LogicalPlan] = {
    val (rel, queryPred, amap) = unwrapG(agg.child).getOrElse(return None)
    val root = currentRoot(rel).getOrElse(return None)
    val qConjuncts = queryPred.toSeq.flatMap(splitConjunctivePredicates)
    routes.iterator.flatMap { mvRoot =>
      Mv.routeDefinition(spark, mvRoot)
        .filter(d => norm(d.baseRoot) == norm(root))
        .flatMap(d => groupedAs(agg, amap, rel.output, d.groupCols).map(n => (d, n)))
        .flatMap { case (d, names) => filterResidual(d.filterSql, rel.output, qConjuncts)
          .filter(residualAdmissible(_, d.groupCols))
          .map(res => (d, names, res)) }
        .filter { case (d, _, _) =>
          val baseVs = Snapshots.versionsCached(spark, d.baseRoot)
          baseVs.nonEmpty &&
            Snapshots.lastBatchIdCached(spark, mvRoot).contains(baseVs.last.toLong)
        }
        .flatMap { case (d, names, res) => build(agg, mvRoot, d.groupCols,
          d.sumCols, d.minMaxCols, d.distinctCols, d.approxCols,
          d.quantileCols, res, amap, rel.output,
          exact = names.toSet == d.groupCols.map(Mv.groupStored).toSet) }
    }.nextOption()
  }

  // ── join views (the star-schema dashboard query) ─────────────────────

  /** Peel the Projects and Filters between the Aggregate and its Join —
    * the alias-aware sibling of [[unwrapG]]: the optimizer's
    * PullOutGroupingExpressions puts a `_groupingexpression` alias
    * Project directly under a `days(ts)`-grouped Aggregate ABOVE the
    * join, and both-side filter residue sits there too. Returns the
    * Join, the alias map (composed through nested Projects), and the
    * peeled filter conditions alias-substituted down to join-output
    * attributes.
    */
  private def peelJoin(p: LogicalPlan)
      : Option[(Join, Map[ExprId, Expression], Seq[Expression])] = p match {
    case j: Join => Some((j, Map.empty, Nil))
    case Project(pl, child)
        if pl.forall(e => e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
      peelJoin(child).map { case (j, amap, conds) =>
        val added = pl.collect { case al: Alias =>
          al.exprId -> al.child.transformUp {
            case a: AttributeReference if amap.contains(a.exprId) => amap(a.exprId)
          }
        }
        (j, amap ++ added, conds)
      }
    case Filter(c, child) =>
      peelJoin(child).map { case (j, amap, conds) =>
        (j, amap, conds :+ c.transformUp {
          case a: AttributeReference if amap.contains(a.exprId) => amap(a.exprId)
        })
      }
    case _ => None
  }

  /** Every grouping expression resolved to its stored view group column
    * (plain by name, transform by semantic equality), duplicate-free;
    * None = some expression is not this view's grouping.
    */
  private def groupedAs(agg: Aggregate, amap: Map[ExprId, Expression],
      output: Seq[Attribute], specs: Seq[String]): Option[Seq[String]] = {
    val ns = agg.groupingExpressions.map(ge => storedGroupOf(ge, amap, output, specs))
    if (ns.exists(_.isEmpty)) None
    else Some(ns.flatten).filter(n => n.distinct.size == n.size)
  }

  /** Residual admission: each conjunct may reference only view-carried
    * columns — plain group columns, or a transform group's SOURCE
    * column (admitted cheaply here; [[build]] substitutes the transform
    * subexpression with the stored unit and declines anything left
    * over, e.g. a predicate on the raw time value).
    */
  private def residualAdmissible(res: Seq[Expression], groupCols: Seq[String]): Boolean =
    res.forall(_.references.forall(r =>
      groupCols.contains(r.name) ||
        groupCols.exists(g => Snapshots.timeSpec(g).exists(_._2 == r.name))))

  /** The join-scan shape shared by the plain-aggregate and grouping-sets
    * matchers: [Project/Filter]* over the Inner equi-join of two
    * current-head scans → (combined output, alias map, recombined
    * conjuncts, both roots, key-name pair). The optimizer has pushed
    * single-sided conjuncts below the join already; both-side residue
    * and pulled-out grouping aliases stay above it — recombined here,
    * with IsNotNull on the join keys dropped (implied by the inner
    * equi-join on both sides of the comparison).
    */
  private def joinScans(p: LogicalPlan): Option[(Seq[Attribute],
      Map[ExprId, Expression], Seq[Expression], String, String, Set[String])] = {
    val (join, amap, above) = peelJoin(p).getOrElse(return None)
    val (lp, rp, cond) = join match {
      case Join(l, r, Inner, Some(c), _) => (l, r, c)
      case _ => return None
    }
    val (lRel, lPred) = unwrap(lp).getOrElse(return None)
    val (rRel, rPred) = unwrap(rp).getOrElse(return None)
    val lRoot = currentRoot(lRel).getOrElse(return None)
    val rRoot = currentRoot(rRel).getOrElse(return None)
    val output = lRel.output ++ rRel.output
    val keyNames = keyPairOf(cond, output).getOrElse(return None)
    val qConjuncts = (lPred.toSeq ++ rPred.toSeq ++ above)
      .flatMap(splitConjunctivePredicates)
      .filterNot {
        case IsNotNull(a: AttributeReference) => keyNames.contains(a.name)
        case _ => false
      }
    Some((output, amap, qConjuncts, lRoot, rRoot, keyNames))
  }

  private def joinRewrite(agg: Aggregate,
      routes: Seq[String]): Option[LogicalPlan] = {
    val (output, amap, qConjuncts, lRoot, rRoot, keyNames) =
      joinScans(agg.child).getOrElse(return None)
    routes.iterator.flatMap { mvRoot =>
      Mv.joinRouteDefinition(spark, mvRoot)
        .filter(d => Set(norm(d.leftRoot), norm(d.rightRoot)) ==
          Set(norm(lRoot), norm(rRoot)))
        .filter(d => Set(d.joinLeft, d.joinRight) == keyNames)
        .flatMap(d => groupedAs(agg, amap, output, d.groupCols).map(n => (d, n)))
        .flatMap { case (d, names) => filterResidual(d.filterSql, output, qConjuncts)
          .filter(residualAdmissible(_, d.groupCols))
          .map(res => (d, names, res)) }
        .filter { case (d, _, _) => Mv.joinRouteFresh(spark, mvRoot, d) }
        .flatMap { case (d, names, res) => build(agg, mvRoot, d.groupCols, d.sumCols,
          d.minMaxCols, d.distinctCols, d.approxCols, d.quantileCols,
          res, amap, output,
          exact = names.toSet == d.groupCols.map(Mv.groupStored).toSet) }
    }.nextOption()
  }

  // ── trilinear views (dim ⋈ fact ⋈ dim) ───────────────────────────────

  /** The trilinear sibling of [[joinScans]]: the two-level inner
    * equi-join tree of three current-head scans → (combined output,
    * alias map, recombined conjuncts, the three roots, the two
    * key-name pairs).
    */
  private def join3Scans(p: LogicalPlan): Option[(Seq[Attribute],
      Map[ExprId, Expression], Seq[Expression], Seq[String],
      Set[String], Set[String])] = {
    val (topJoin, amap, above) = peelJoin(p).getOrElse(return None)
    val (topL, topR, cTop) = topJoin match {
      case Join(l, r, Inner, Some(c), _) => (l, r, c)
      case _ => return None
    }
    // one side of the top join is itself the inner INNER equi-join (a
    // Filter/Project may wrap it); inner joins associate and commute, so
    // name-set matching below covers every tree the optimizer settles on
    def innerJoin(p: LogicalPlan, wraps: Seq[Expression])
        : Option[(LogicalPlan, LogicalPlan, Expression, Seq[Expression])] =
      p match {
        case Join(l, r, Inner, Some(c), _) => Some((l, r, c, wraps))
        case Filter(f, ch) => innerJoin(ch, wraps :+ f)
        case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
          innerJoin(ch, wraps)
        case _ => None
      }
    val (scans3, cInner, innerWraps) = innerJoin(topL, Nil) match {
      case Some((a, b, c, w)) => (Seq(a, b, topR), c, w)
      case None => innerJoin(topR, Nil) match {
        case Some((a, b, c, w)) => (Seq(topL, a, b), c, w)
        case None => return None
      }
    }
    val unwrapped = scans3.map(s => unwrap(s).getOrElse(return None))
    val roots = unwrapped.map { case (r, _) =>
      currentRoot(r).getOrElse(return None) }
    val output = unwrapped.flatMap(_._1.output)
    val pTop = keyPairOf(cTop, output).getOrElse(return None)
    val pInner = keyPairOf(cInner, output).getOrElse(return None)
    val keyNames = pTop ++ pInner
    val qConjuncts =
      (unwrapped.flatMap(_._2) ++ innerWraps ++ above)
        .flatMap(splitConjunctivePredicates)
        .filterNot {
          case IsNotNull(a: AttributeReference) => keyNames.contains(a.name)
          case _ => false
        }
    Some((output, amap, qConjuncts, roots, pTop, pInner))
  }

  private def join3Rewrite(agg: Aggregate,
      routes: Seq[String]): Option[LogicalPlan] = {
    val (output, amap, qConjuncts, roots, pTop, pInner) =
      join3Scans(agg.child).getOrElse(return None)
    routes.iterator.flatMap { mvRoot =>
      Mv.join3RouteDefinition(spark, mvRoot)
        .filter(d => Set(norm(d.leftRoot), norm(d.midRoot), norm(d.rightRoot)) ==
          roots.map(norm).toSet)
        .filter(d => Set(Set(d.joinLeft, d.joinMidLeft),
          Set(d.joinMidRight, d.joinRight)) == Set(pTop, pInner))
        .flatMap(d => groupedAs(agg, amap, output, d.groupCols).map(n => (d, n)))
        .flatMap { case (d, names) => filterResidual(d.filterSql, output, qConjuncts)
          .filter(residualAdmissible(_, d.groupCols))
          .map(res => (d, names, res)) }
        .filter { case (d, _, _) => Mv.join3RouteFresh(spark, mvRoot, d) }
        .flatMap { case (d, names, res) => build(agg, mvRoot, d.groupCols, d.sumCols,
          d.minMaxCols, d.distinctCols, d.approxCols, d.quantileCols,
          res, amap, output,
          exact = names.toSet == d.groupCols.map(Mv.groupStored).toSet) }
    }.nextOption()
  }

  // ── grouping-sets plans (ROLLUP / CUBE / GROUPING SETS) ──────────────

  /** The aggregate-column surface every view kind shares — the
    * grouping-sets matcher is definition-kind-agnostic past the scan
    * match, so candidates of all three kinds reduce to this.
    */
  private case class ViewCols(groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String], distinctCols: Seq[String],
      approxCols: Seq[String], quantileCols: Seq[String],
      filterSql: Option[String])

  /** Route `GROUP BY ROLLUP / CUBE / GROUPING SETS` plans over any view
    * kind — single-base, 2-table star, or trilinear star (the scan
    * match under the Expand reuses the plain matchers' own shape
    * extraction). The analyzer lowers them to Aggregate-over-
    * [[Expand]] — Expand replicates every input row once per grouping
    * set, nulling the rolled-away group slots and stamping a
    * grouping-id literal — and without this case the single most common
    * BI dashboard over a registered view (`ROLLUP(seg, days(ts))`)
    * silently pays the base scan while each individual grouping would
    * route. The rewrite keeps the Aggregate-over-Expand SHAPE — the
    * grouping-id slot, the NULL markers, and every `grouping()` /
    * `grouping_id()` projection are copied verbatim (they only read
    * slots this rewrite preserves under their original attribute ids) —
    * and swaps what flows underneath: the VIEW's rows replicate instead
    * of the base's, each grouping slot substitutes the stored group
    * column, and each aggregate re-aggregates its stored column with
    * the proven ROLLUP compensation map (count→sum(n_rows),
    * count(c)→sum(nn_c), sum→sum(sum_c), min/max→min/max of stored,
    * avg→sum/sum, approx-distinct→HLL union, approx-percentile→KLL
    * merge, both conf-gated) — sound because EVERY grouping set is a
    * subset of the view's grouping, so within each set the
    * re-aggregation over view rows is exactly the plain rollup rewrite.
    * |view rows| × |sets| replaces |base rows| × |sets|: the 100 TB
    * rollup dashboard reads the view a handful of times, one Expand
    * over a |groups|-row scan. `count(DISTINCT c)` over a maintained
    * distinct column takes the UNION shape instead (one [[build]] per
    * grouping set — see `unionOfSets` inside); a distinct over anything
    * else, and any unroutable grouping set, slot, or aggregate,
    * declines the WHOLE rewrite — never a half-routed Expand.
    * Freshness, travel-pin, filter-implication and residual gates are
    * the per-kind rewrites' own.
    */
  private def expandRewrite(agg: Aggregate,
      routes: Seq[String]): Option[LogicalPlan] = {
    def peel(p: LogicalPlan): Option[Expand] = p match {
      case e: Expand => Some(e)
      case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        peel(ch)
      case _ => None
    }
    val expand = peel(agg.child).getOrElse(return None)
    if (expand.projections.isEmpty) return None
    // under the Expand sits any of the three scan shapes the plain
    // matchers route — a single base, a 2-table star, or a trilinear
    // star; each yields the combined scan output, the alias map, the
    // recombined query conjuncts, and a candidate iterator of
    // (view root, its aggregate columns, its freshness probe)
    val matched: Option[(Seq[Attribute], Map[ExprId, Expression],
        Seq[Expression], Iterator[(String, ViewCols, () => Boolean)])] =
      unwrapG(expand.child) match {
        case Some((rel, queryPred, amap)) =>
          currentRoot(rel).map { root =>
            val qc = queryPred.toSeq.flatMap(splitConjunctivePredicates)
            val it = routes.iterator.flatMap { mvRoot =>
              Mv.routeDefinition(spark, mvRoot)
                .filter(d => norm(d.baseRoot) == norm(root))
                .map(d => (mvRoot, ViewCols(d.groupCols, d.sumCols,
                  d.minMaxCols, d.distinctCols, d.approxCols,
                  d.quantileCols, d.filterSql), () => {
                    val baseVs = Snapshots.versionsCached(spark, d.baseRoot)
                    baseVs.nonEmpty && Snapshots.lastBatchIdCached(spark, mvRoot)
                      .contains(baseVs.last.toLong)
                  }))
            }
            (rel.output, amap, qc, it)
          }
        case None => joinScans(expand.child) match {
          case Some((output, amap, qc, lRoot, rRoot, keyNames)) =>
            val it = routes.iterator.flatMap { mvRoot =>
              Mv.joinRouteDefinition(spark, mvRoot)
                .filter(d => Set(norm(d.leftRoot), norm(d.rightRoot)) ==
                  Set(norm(lRoot), norm(rRoot)))
                .filter(d => Set(d.joinLeft, d.joinRight) == keyNames)
                .map(d => (mvRoot, ViewCols(d.groupCols, d.sumCols,
                  d.minMaxCols, d.distinctCols, d.approxCols,
                  d.quantileCols, d.filterSql),
                  () => Mv.joinRouteFresh(spark, mvRoot, d)))
            }
            Some((output, amap, qc, it))
          case None => join3Scans(expand.child).map {
            case (output, amap, qc, roots, pTop, pInner) =>
              val it = routes.iterator.flatMap { mvRoot =>
                Mv.join3RouteDefinition(spark, mvRoot)
                  .filter(d => Set(norm(d.leftRoot), norm(d.midRoot),
                    norm(d.rightRoot)) == roots.map(norm).toSet)
                  .filter(d => Set(Set(d.joinLeft, d.joinMidLeft),
                    Set(d.joinMidRight, d.joinRight)) == Set(pTop, pInner))
                  .map(d => (mvRoot, ViewCols(d.groupCols, d.sumCols,
                    d.minMaxCols, d.distinctCols, d.approxCols,
                    d.quantileCols, d.filterSql),
                    () => Mv.join3RouteFresh(spark, mvRoot, d)))
              }
              (output, amap, qc, it)
          }
        }
      }
    val (baseOut, amap, qConjuncts, candidates) = matched.getOrElse(return None)
    val out = expand.output
    if (expand.projections.exists(_.length != out.length)) return None
    // the Aggregate's grouping must be exactly Expand-output attributes
    // (the analyzer's construction: groupingAttrs :+ gid)
    val groupingIds: Set[ExprId] = agg.groupingExpressions.map {
      case a: Attribute => a.exprId
      case _ => return None
    }.toSet
    if (!groupingIds.subsetOf(out.map(_.exprId).toSet)) return None
    val aggRefs = AttributeSet(agg.aggregateExpressions.flatMap(_.references))

    // classify each Expand-output slot by USE; view-independent part
    sealed trait Slot
    // all-literal across projections (the grouping-id, and any constant
    // grouping) — copied verbatim under the original attribute
    case class LitSlot(o: Attribute, lits: Seq[Literal]) extends Slot
    // a grouping slot: one expression (resolved through the alias map to
    // scan attributes) in the sets that keep it, NULL markers elsewhere
    case class GroupSlot(o: Attribute, resolved: Expression,
        nulls: Seq[Boolean]) extends Slot
    // a pass-through base column feeding aggregates
    case class ValueSlot(o: Attribute, baseCol: String) extends Slot

    val slots: Seq[Slot] = out.zipWithIndex.flatMap { case (o, i) =>
      val exprs = expand.projections.map(_(i))
      val used = groupingIds.contains(o.exprId) || aggRefs.contains(o)
      if (!used) None // pruned from the rewrite
      else if (exprs.forall(_.isInstanceOf[Literal]))
        Some(LitSlot(o, exprs.map(_.asInstanceOf[Literal])))
      else if (groupingIds.contains(o.exprId)) {
        val nonNull = exprs.filter {
          case Literal(null, _) => false
          case _ => true
        }
        if (nonNull.isEmpty || exprs.exists {
            case l: Literal if l.value != null => true
            case _ => false
          }) return None
        if (!nonNull.forall(_.semanticEquals(nonNull.head))) return None
        val resolved = nonNull.head.transformUp {
          case a: AttributeReference if amap.contains(a.exprId) => amap(a.exprId)
        }
        Some(GroupSlot(o, resolved, exprs.map {
          case Literal(null, _) => true
          case _ => false
        }))
      } else {
        // a value slot: the same scan attribute in EVERY projection
        if (!exprs.forall(_.semanticEquals(exprs.head))) return None
        val resolved = exprs.head.transformUp {
          case a: AttributeReference if amap.contains(a.exprId) => amap(a.exprId)
        }
        resolved match {
          case a: AttributeReference => Some(ValueSlot(o, a.name))
          case _ => return None
        }
      }
    }

    // the per-view constructor, nested so the Slot ADT stays local
    def buildExpand(mvRoot: String, d: ViewCols,
        residual: Seq[Expression],
        baseOutput: Seq[Attribute]): Option[LogicalPlan] = {
      val vs = Snapshots.versionsCached(spark, mvRoot)
      if (vs.isEmpty) return None
      val schema = Snapshots.schemaOf(spark, mvRoot, vs.last)
      val (source, vout) =
        freshViewSource(schema, mvRoot, d.groupCols, residual, baseOutput)
          .getOrElse(return None)

      // group slots answer to stored view group columns, type-exactly
      val slotStored: Map[ExprId, String] = slots.collect {
        case GroupSlot(o, resolved, _) =>
          o.exprId -> storedGroupOf(resolved, Map.empty, baseOutput,
            d.groupCols).getOrElse(return None)
      }.toMap
      val slotViewAttr: Map[ExprId, AttributeReference] = slots.collect {
        case GroupSlot(o, _, _) =>
          val va = vout.get(slotStored(o.exprId))
            .filter(_.dataType == o.dataType).getOrElse(return None)
          o.exprId -> va
      }.toMap
      val valueColOf: Map[ExprId, String] = slots.collect {
        case ValueSlot(o, c) => o.exprId -> c
      }.toMap
      val keptSlotIds: Set[ExprId] = slots.collect {
        case LitSlot(o, _) => o.exprId
        case GroupSlot(o, _, _) => o.exprId
      }.toSet

      val gate = spark.conf.get("spark.graft.mv.routeApprox", "true").toBoolean
      def sumOf(name: String, dt: DataType): Option[Expression] =
        vout.get(name).map(a => Sum(a).toAggregateExpression())
          .filter(_.dataType == dt)
      def sumCount(name: String): Option[Expression] =
        sumOf(name, LongType).map(e => Coalesce(Seq(e, Literal(0L))))
      def valueCol(e: Expression): Option[String] = e match {
        case a: AttributeReference => valueColOf.get(a.exprId)
        case _ => None
      }
      // the ROLLUP compensation map over the view's stored columns —
      // [[build]]'s non-exact arms, keyed by the value SLOT the
      // aggregate reads instead of the scan attribute
      def comp(ne: NamedExpression): Option[Expression] = ne match {
        case Alias(AggregateExpression(fn, _, isDistinct, None, _), _) =>
          fn match {
            case Count(Seq(l: Literal)) if !isDistinct && l.value != null =>
              sumCount("n_rows")
            case Count(Seq(e)) if !isDistinct =>
              valueCol(e).filter(d.sumCols.contains)
                .flatMap(x => sumCount(s"nn_$x"))
            case Sum(e, _) if !isDistinct =>
              valueCol(e).filter(d.sumCols.contains)
                .flatMap(x => sumOf(s"sum_$x", ne.dataType))
            case Min(e) =>
              valueCol(e).filter(d.minMaxCols.contains)
                .flatMap(x => vout.get(s"min_$x"))
                .map(x => Min(x).toAggregateExpression())
                .filter(_.dataType == ne.dataType)
            case Max(e) =>
              valueCol(e).filter(d.minMaxCols.contains)
                .flatMap(x => vout.get(s"max_$x"))
                .map(x => Max(x).toAggregateExpression())
                .filter(_.dataType == ne.dataType)
            case Average(e, _) if !isDistinct && ne.dataType == DoubleType =>
              valueCol(e).filter(d.sumCols.contains).flatMap { x =>
                for {
                  sv <- vout.get(s"sum_$x")
                  nv <- vout.get(s"nn_$x")
                } yield new Divide(
                  Cast(Sum(sv).toAggregateExpression(), DoubleType),
                  Cast(Sum(nv).toAggregateExpression(), DoubleType))
              }
            case hll: HyperLogLogPlusPlus
                if !hll.child.isInstanceOf[Literal] && hll.relativeSD == 0.05 &&
                  ne.dataType == LongType && gate =>
              valueCol(hll.child).filter(d.approxCols.contains)
                .flatMap(x => hllRouted(exact = false, vout.get(s"hll_$x")))
            case ap: ApproximatePercentile if gate =>
              valueCol(ap.child).filter(d.quantileCols.contains)
                .flatMap(x => kllRouted(ap, exact = false,
                  vout.get(s"kll_$x"), ap.child.dataType, ne.dataType))
            case _ => None
          }
        case _ => None
      }
      def adjust(ne: NamedExpression, e: Expression): Expression =
        if (!ne.toAttribute.nullable && e.nullable) KnownNotNull(e) else e

      /** The grouping-sets shape CARRYING `count(DISTINCT c)` over a
        * maintained distinct column: distinct values are not summable
        * across groups, and the companion join is a per-GROUPING
        * re-aggregation — so instead of replicating view rows under one
        * Expand, each grouping set becomes its own SYNTHETIC plain
        * aggregate answered by [[build]] (which brings the whole
        * per-shape machinery: stored nd at the set that matches the
        * view's grouping exactly, the `_dv` companion join at coarser
        * sets, every non-distinct compensation arm, all of build's own
        * gates), and the sets stitch back through a UNION with each
        * set's NULL markers and grouping-id literals projected in
        * place. |sets| view reads + companion joins — the daily/segment
        * unique-users ROLLUP dashboard — instead of the base scan. Any
        * set build declines fails the WHOLE rewrite.
        */
      def unionOfSets(): Option[LogicalPlan] = {
        val viewStored = d.groupCols.map(Mv.groupStored).toSet
        val litAt: Map[ExprId, Seq[Literal]] = slots.collect {
          case LitSlot(o, lits) => o.exprId -> lits
        }.toMap
        val children: Seq[LogicalPlan] =
          expand.projections.indices.map { pi =>
            val kept: Seq[GroupSlot] = slots.collect {
              case gs: GroupSlot if !gs.nulls(pi) => gs
            }
            val keptIds = kept.map(_.o.exprId).toSet
            val groupAlias: Map[ExprId, Alias] = kept.map(gs =>
              gs.o.exprId -> Alias(gs.resolved, gs.o.name)()).toMap
            // fresh result ids per set: the same AggregateExpression
            // must not share its resultId across Union children
            val aggFresh: Map[ExprId, Alias] =
              agg.aggregateExpressions.collect {
                case ne @ Alias(ae: AggregateExpression, _) =>
                  ne.exprId -> Alias(
                    ae.copy(resultId = NamedExpression.newExprId), ne.name)()
              }.toMap
            val synth = Aggregate(kept.map(_.resolved),
              kept.map(gs => groupAlias(gs.o.exprId)) ++
                agg.aggregateExpressions.collect {
                  case ne @ Alias(_: AggregateExpression, _) =>
                    aggFresh(ne.exprId)
                },
              LocalRelation(baseOutput))
            val exactI =
              kept.map(gs => slotStored(gs.o.exprId)).toSet == viewStored
            val built = build(synth, mvRoot, d.groupCols, d.sumCols,
              d.minMaxCols, d.distinctCols, d.approxCols, d.quantileCols,
              residual, Map.empty, baseOutput, exact = exactI)
              .getOrElse(return None)
            def substitute(e: Expression): Expression = e.transformUp {
              case at: AttributeReference if keptIds.contains(at.exprId) =>
                groupAlias(at.exprId).toAttribute
              case at: AttributeReference if slotStored.contains(at.exprId) =>
                Literal(null, at.dataType) // this set's NULL marker
              case at: AttributeReference if litAt.contains(at.exprId) =>
                litAt(at.exprId)(pi) // the grouping-id literal
            }
            val outer: Seq[NamedExpression] = agg.aggregateExpressions.map {
              case ne @ Alias(_: AggregateExpression, _) =>
                Alias(aggFresh(ne.exprId).toAttribute, ne.name)()
              case ne if !ne.exists(_.isInstanceOf[AggregateExpression]) &&
                  ne.references.forall(r => keptSlotIds.contains(r.exprId)) =>
                ne match {
                  case Alias(child, name) => Alias(substitute(child), name)()
                  case a: Attribute => Alias(substitute(a), a.name)()
                  case _ => return None
                }
              case _ => return None
            }
            Project(outer, built)
          }
        val unioned: LogicalPlan =
          if (children.size == 1) children.head else Union(children)
        Some(Project(agg.aggregateExpressions.zip(unioned.output).map {
          case (ne, at) => Alias(adjust(ne, at), ne.name)(exprId = ne.exprId)
        }, unioned))
      }

      val hasCompanionDistinct = agg.aggregateExpressions.exists {
        case Alias(AggregateExpression(Count(Seq(e)), _, true, None, _), _) =>
          valueCol(e).exists(d.distinctCols.contains)
        case _ => false
      }
      if (hasCompanionDistinct) return unionOfSets()

      val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        ne =>
          // aggregate-free projections over preserved slots (grouping
          // columns, gid, grouping()/grouping_id() forms) pass through;
          // anything CARRYING an aggregate must compensate — count(1)
          // has no references at all, and uncompensated it would count
          // view rows
          if (!ne.exists(_.isInstanceOf[AggregateExpression]) &&
              ne.references.forall(r => keptSlotIds.contains(r.exprId))) ne
          else comp(ne) match {
            case Some(e) => Alias(adjust(ne, e), ne.name)(exprId = ne.exprId)
            case None => return None
          }
      }
      // view value columns the compensated aggregates read — these pass
      // through the new Expand under the view scan's own attribute ids
      // (the analyzer's pass-through discipline)
      val voutIds: Map[ExprId, AttributeReference] =
        vout.values.map(a => a.exprId -> a).toMap
      val passThrough: Seq[AttributeReference] =
        newAggExprs.flatMap(_.references).map(_.exprId).distinct
          .flatMap(voutIds.get)
      val newOutput: Seq[Attribute] = passThrough ++ slots.collect {
        case LitSlot(o, _) => o
        case GroupSlot(o, _, _) => o
      }
      val newProjections: Seq[Seq[Expression]] =
        expand.projections.indices.map { pi =>
          (passThrough: Seq[Expression]) ++ slots.collect {
            case LitSlot(_, lits) => lits(pi): Expression
            case GroupSlot(o, _, nulls) =>
              if (nulls(pi)) Literal(null, o.dataType)
              else slotViewAttr(o.exprId): Expression
          }
        }
      Some(Aggregate(agg.groupingExpressions, newAggExprs,
        Expand(newProjections, newOutput, source)))
    }

    candidates.flatMap { case (mvRoot, vc, fresh) =>
      filterResidual(vc.filterSql, baseOut, qConjuncts)
        .filter(residualAdmissible(_, vc.groupCols))
        .filter(_ => fresh())
        .flatMap(res => buildExpand(mvRoot, vc, res, baseOut))
    }.nextOption()
  }

  // ── the shared rewrite constructor ────────────────────────────────────

  /** A FRESH scan instance of the view with `residual` re-bound to ITS
    * columns and applied as a Filter (fresh attribute ids per call, so
    * a companion-side second instance never collides with the primary).
    * The residual re-binds to the VIEW's own columns: a subexpression
    * matching a TRANSFORM group (the engine's days/hours/... form over
    * the source column) substitutes to the stored unit attribute — the
    * unit IS the group key, so filtering view rows by it is exact (the
    * time-windowed daily dashboard: `days(ts) >= N AND seg='X'`) — and
    * every remaining base attribute must be a plain group column
    * (stored verbatim, same name, same type); anything else declines,
    * including predicates on the RAW time column (ts is not constant
    * within a day group, only its unit is).
    */
  private def freshViewSource(schema: org.apache.spark.sql.types.StructType,
      mvRoot: String, groupCols: Seq[String], residual: Seq[Expression],
      baseOutput: Seq[Attribute])
      : Option[(LogicalPlan, Map[String, AttributeReference])] = {
    val mvTable = new SnapshotTable(schema, mvRoot, Map.empty)
    val mvRel = DataSourceV2Relation.create(mvTable, None, None,
      new CaseInsensitiveStringMap(java.util.Map.of("root", mvRoot)))
    val out: Map[String, AttributeReference] =
      mvRel.output.map(a => a.name -> a).toMap
    val viewAttrIds = out.values.map(_.exprId).toSet
    val residualMapped = residual.map(_.transformDown {
      case e if transformGroupOf(e, baseOutput, groupCols).isDefined =>
        val s = transformGroupOf(e, baseOutput, groupCols).get
        out.get(s).filter(_.dataType == e.dataType).getOrElse(return None)
    })
    if (!residualMapped.forall(_.references.forall(r =>
        viewAttrIds.contains(r.exprId) ||
          (groupCols.contains(r.name) &&
            out.get(r.name).exists(_.dataType == r.dataType))))) return None
    val residualBound = residualMapped.map(_.transform {
      case a: AttributeReference if !viewAttrIds.contains(a.exprId) => out(a.name)
    })
    val src: LogicalPlan =
      if (residualBound.isEmpty) mvRel
      else Filter(residualBound.reduce(And), mvRel)
    Some((src, out))
  }

  /** The HLL estimator-swap body, shared by the plain-aggregate and
    * grouping-sets rewrites: the stored DataSketches sketch answers a
    * default-rsd approx_count_distinct — directly at exact grouping,
    * through a sketch UNION for any coarser re-aggregation — pinned to
    * 0 (never NULL) over zero rows, count semantics. Callers gate on
    * maintained-column membership, default rsd, and the
    * `spark.graft.mv.routeApprox` conf.
    */
  private def hllRouted(exact: Boolean,
      skAttr: Option[AttributeReference]): Option[Expression] = {
    val h = skAttr.filter(_.dataType == org.apache.spark.sql.types.BinaryType)
    if (exact) h.map(x => Coalesce(Seq(HllSketchEstimate(x), Literal(0L))))
    else h.map(x => Coalesce(Seq(HllSketchEstimate(
      new HllUnionAgg(x, false).toAggregateExpression()), Literal(0L))))
  }

  /** The KLL estimator-swap body, shared the same way: literal
    * percentages only — a scalar double, or an ARRAY of doubles (the
    * latency-dashboard `array(0.5, 0.95, 0.99)` call: the sketch
    * answers every percentile at once, one get-quantile per element) —
    * at default accuracy; the get-quantile and the sketch are per-type,
    * so the mapping is type-exact by construction. Non-exact groupings
    * route through a sketch MERGE. The whole read is guarded on the
    * sketch's POINT COUNT: a group (or rollup bucket) whose column is
    * entirely NULL stores an EMPTY sketch — non-null bytes get-quantile
    * would throw on — while the unrouted approx_percentile returns
    * NULL, so the guard pins NULL-for-empty, the same discipline as the
    * HLL arm's Coalesce(…, 0). Callers gate on maintained-column
    * membership and the conf.
    */
  private def kllRouted(ap: ApproximatePercentile, exact: Boolean,
      skAttr: Option[AttributeReference], childType: DataType,
      neType: DataType): Option[Expression] = {
    val defaultAcc = ap.accuracyExpression match {
      case Literal(v, _) =>
        v == ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY ||
          v == ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY.toLong
      case _ => false
    }
    // (percent literals, was-an-array) — the optimizer usually folds
    // `array(0.5D, 0.9D)` to one array Literal before this rule fires,
    // but an unfolded CreateArray of literals is the same request
    val pcts: Option[(Seq[Literal], Boolean)] =
      ap.percentageExpression match {
        case l @ Literal(_, DoubleType) => Some((Seq(l), false))
        case CreateArray(es, _) if es.nonEmpty && es.forall {
            case Literal(v, DoubleType) => v != null
            case _ => false } =>
          Some((es.map(_.asInstanceOf[Literal]), true))
        case Literal(ad: org.apache.spark.sql.catalyst.util.ArrayData,
            ArrayType(DoubleType, _)) if ad.numElements() > 0 &&
              (0 until ad.numElements()).forall(!ad.isNullAt(_)) =>
          Some(((0 until ad.numElements())
            .map(i => Literal(ad.getDouble(i), DoubleType)), true))
        case _ => None
      }
    if (!defaultAcc) None
    else for {
      (ps, isArray) <- pcts
      sk <- skAttr.filter(_.dataType == org.apache.spark.sql.types.BinaryType)
      merged <- childType match {
        case DoubleType => Some(
          if (exact) sk: Expression
          else KllMergeAggDouble(sk).toAggregateExpression())
        case org.apache.spark.sql.types.FloatType => Some(
          if (exact) sk: Expression
          else KllMergeAggFloat(sk).toAggregateExpression())
        case LongType => Some(
          if (exact) sk: Expression
          else KllMergeAggBigint(sk).toAggregateExpression())
        case _ => None
      }
      // the same `merged` instance rides the guard AND every
      // get-quantile: physical aggregation dedups semantically equal
      // aggregate expressions, so a rollup merge still runs once
      qOf <- (childType match {
        case DoubleType => Some((p: Literal) =>
          KllSketchGetQuantileDouble(merged, p): Expression)
        case org.apache.spark.sql.types.FloatType => Some((p: Literal) =>
          KllSketchGetQuantileFloat(merged, p): Expression)
        case LongType => Some((p: Literal) =>
          KllSketchGetQuantileBigint(merged, p): Expression)
        case _ => None
      }): Option[Literal => Expression]
      nonEmpty <- (childType match {
        case DoubleType => Some(KllSketchGetNDouble(merged))
        case org.apache.spark.sql.types.FloatType =>
          Some(KllSketchGetNFloat(merged))
        case LongType => Some(KllSketchGetNBigint(merged))
        case _ => None
      }): Option[Expression]
      body = if (isArray)
        // the guard already proves every element non-null — KnownNotNull
        // keeps containsNull type-exact with the original
        // ApproximatePercentile's array type
        CreateArray(ps.map(p => KnownNotNull(qOf(p))))
      else qOf(ps.head)
      guarded = If(GreaterThan(nonEmpty, Literal(0L)), body,
        Literal(null, neType))
      typeExact <- Some(guarded: Expression).filter(_.dataType == neType)
    } yield typeExact
  }

  /** Map every output of the Aggregate onto the view's columns; None on
    * the first aggregate the view does not maintain (type-exact).
    * `residual` — query conjuncts beyond the view's own bar, already
    * proven to reference only group columns — re-applies as a Filter
    * UNDER the rewrite (over the view's scan): group columns are stored
    * verbatim and constant within a group, so σ(residual) ∘ view ≡
    * γ ∘ σ(residual ∧ where) ∘ base, the dashboard drill-down shape.
    */
  private def build(agg: Aggregate, mvRoot: String, groupCols: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String], distinctCols: Seq[String],
      approxCols: Seq[String], quantileCols: Seq[String],
      residual: Seq[Expression],
      amap: Map[ExprId, Expression], baseOutput: Seq[Attribute],
      exact: Boolean): Option[LogicalPlan] = {
    val vs = Snapshots.versionsCached(spark, mvRoot)
    if (vs.isEmpty) return None
    val schema = Snapshots.schemaOf(spark, mvRoot, vs.last)

    def viewSource(): Option[(LogicalPlan, Map[String, AttributeReference])] =
      freshViewSource(schema, mvRoot, groupCols, residual, baseOutput)

    val (source, out) = viewSource().getOrElse(return None)

    def typed(name: String, dt: DataType): Option[Expression] =
      out.get(name).filter(_.dataType == dt)

    // re-aggregation helpers for the rollup shape — sums of longs stay
    // longs (type-exact); anything whose re-aggregate would WIDEN
    // (decimal sums) declines via the result-type check
    def sumOf(name: String, dt: DataType): Option[Expression] =
      out.get(name).map(a => Sum(a).toAggregateExpression())
        .filter(_.dataType == dt)
    def sumCount(name: String): Option[Expression] =
      // a COUNT over an empty (or groupless-empty) base is 0, but a SUM
      // over zero view rows is NULL — pin the count semantics back
      sumOf(name, LongType).map(e => Coalesce(Seq(e, Literal(0L))))

    // an attribute feeding an aggregate must be the SCAN's own column —
    // an alias-bound attr (some pulled-out expression) sharing a
    // maintained column's NAME must never map to it
    def plain(a: AttributeReference): Boolean = !amap.contains(a.exprId)

    def map(ne: NamedExpression): Option[Expression] = ne match {
      case Alias(AggregateExpression(fn, _, isDistinct, None, _), _) =>
        fn match {
          case Count(Seq(l: Literal)) if !isDistinct && l.value != null =>
            if (exact) typed("n_rows", ne.dataType)
            else sumCount("n_rows")
          case Count(Seq(a: AttributeReference))
              if isDistinct && plain(a) && distinctCols.contains(a.name) =>
            // distinct values are not summable across groups — stored
            // nd answers exact grouping only
            if (exact) typed(s"nd_${a.name}", ne.dataType) else None
          case Count(Seq(a: AttributeReference))
              if !isDistinct && plain(a) && sumCols.contains(a.name) =>
            if (exact) typed(s"nn_${a.name}", ne.dataType)
            else sumCount(s"nn_${a.name}")
          case Sum(a: AttributeReference, _)
              if !isDistinct && plain(a) && sumCols.contains(a.name) =>
            if (exact) typed(s"sum_${a.name}", ne.dataType)
            else sumOf(s"sum_${a.name}", ne.dataType)
          case Min(a: AttributeReference)
              if plain(a) && minMaxCols.contains(a.name) =>
            if (exact) typed(s"min_${a.name}", ne.dataType)
            else out.get(s"min_${a.name}")
              .map(x => Min(x).toAggregateExpression())
              .filter(_.dataType == ne.dataType)
          case Max(a: AttributeReference)
              if plain(a) && minMaxCols.contains(a.name) =>
            if (exact) typed(s"max_${a.name}", ne.dataType)
            else out.get(s"max_${a.name}")
              .map(x => Max(x).toAggregateExpression())
              .filter(_.dataType == ne.dataType)
          case Average(a: AttributeReference, _)
              if !isDistinct && plain(a) && sumCols.contains(a.name) &&
                ne.dataType == DoubleType =>
            // sum/nn in double — NULL-exact: an all-NULL group stores a
            // NULL sum (nn = 0 never divides a non-null numerator)
            val s: Option[Expression] =
              if (exact) out.get(s"sum_${a.name}")
              else out.get(s"sum_${a.name}").map(x => Sum(x).toAggregateExpression())
            val nn: Option[Expression] =
              if (exact) out.get(s"nn_${a.name}")
              else out.get(s"nn_${a.name}").map(x => Sum(x).toAggregateExpression())
            for { sv <- s; nv <- nn }
              yield new Divide(Cast(sv, DoubleType), Cast(nv, DoubleType))
          case hll: HyperLogLogPlusPlus => hll.child match {
            // an opt-in APPROXIMATE rewrite: the view maintains a
            // DataSketches HLL per group, the query asked for HLL++ —
            // both estimate the same quantity inside their published
            // error bounds (that is what approx_count_distinct MEANS),
            // and unlike exact nd the sketches UNION, so even rollup
            // groupings route. Default-rsd calls only; an explicit
            // precision request keeps its own estimator. Because this
            // is an ESTIMATOR SWAP (the one rewrite whose VALUE is
            // registration-dependent, not merely its plan), it is
            // conf-gated: `spark.graft.mv.routeApprox=false` pins
            // plan-invariant results, every exact rewrite unaffected.
            case a: AttributeReference
                if !isDistinct && plain(a) && approxCols.contains(a.name) &&
                  hll.relativeSD == 0.05 && ne.dataType == LongType &&
                  spark.conf.get("spark.graft.mv.routeApprox", "true").toBoolean =>
              hllRouted(exact, out.get(s"hll_${a.name}"))
            case _ => None
          }
          case ap: ApproximatePercentile => ap.child match {
            // the KLL sibling of the HLL arm — the same estimator-swap
            // contract (t-digest-style default-accuracy approx_percentile
            // answered by the view's KLL sketch: rank error for rank
            // error, both published), the same conf gate. Literal
            // percentages only — a scalar double, or an ARRAY of doubles
            // (the latency-dashboard `array(0.5, 0.95, 0.99)` call: the
            // sketch answers every percentile at once, one get-quantile
            // per element) — at default accuracy; the get-quantile and
            // the sketch are per-type, so the mapping is type-exact by
            // construction. Rollups route through a sketch MERGE. The
            // whole read is guarded on the sketch's POINT COUNT: a group
            // (or rollup bucket) whose column is entirely NULL stores an
            // EMPTY sketch — non-null bytes get-quantile would throw
            // on — while the unrouted approx_percentile returns NULL, so
            // the guard pins NULL-for-empty, the same discipline as the
            // HLL arm's Coalesce(…, 0).
            case a: AttributeReference
                if !isDistinct && plain(a) && quantileCols.contains(a.name) &&
                  spark.conf.get("spark.graft.mv.routeApprox", "true").toBoolean =>
              kllRouted(ap, exact, out.get(s"kll_${a.name}"), a.dataType,
                ne.dataType)
            case _ => None
          }
          case _ => None
        }
      // group outputs — a plain attr, a pulled-out transform attr, or an
      // aliased form of either; the view stores them verbatim
      case a: AttributeReference =>
        storedGroupOf(a, amap, baseOutput, groupCols)
          .flatMap(s => typed(s, a.dataType))
      case Alias(e, _) =>
        storedGroupOf(e, amap, baseOutput, groupCols)
          .flatMap(s => typed(s, ne.dataType))
      case _ => None
    }

    // parquet reads counts back nullable; the original aggregate
    // guaranteed non-null — re-assert, so parent plans keep the
    // nullability they were resolved under
    def adjust(ne: NamedExpression, e: Expression): Expression =
      if (!ne.toAttribute.nullable && e.nullable) KnownNotNull(e) else e

    // ROLLUP count(DISTINCT c): not answerable from the view's own rows
    // (distinct values are not summable across groups), but the `_dv/<c>`
    // COMPANION stores one row per (group, value) with a VALUE digest —
    // handled below by joining the companion, never by [[map]]
    val companionOf: Map[ExprId, String] =
      if (exact) Map.empty
      else agg.aggregateExpressions.collect {
        case ne @ Alias(AggregateExpression(
            Count(Seq(a: AttributeReference)), _, true, None, _), _)
            if plain(a) && distinctCols.contains(a.name) =>
          ne.exprId -> a.name
      }.toMap

    val mapped: Seq[(NamedExpression, Option[Expression])] =
      agg.aggregateExpressions.map { ne =>
        if (companionOf.contains(ne.exprId)) (ne, None)
        else map(ne) match {
          case Some(e) => (ne, Some(e))
          case None => return None
        }
      }

    if (companionOf.isEmpty) {
      val projList = mapped.map { case (ne, e) =>
        Alias(adjust(ne, e.get), ne.name)(exprId = ne.exprId) }
      if (exact) Some(Project(projList, source))
      else {
        val grouping = agg.groupingExpressions.map(ge =>
          storedGroupOf(ge, amap, baseOutput, groupCols)
            .flatMap(out.get).getOrElse(return None))
        Some(Aggregate(grouping, projList, source))
      }
    } else {
      // EXACT ROLLUP count(DISTINCT) via the companion: per query group,
      // the distinct values are `count(DISTINCT __vd)` over the
      // companion rows of the groups the rollup covers — view ⋈
      // companion on the group digest carries the group COLUMNS to the
      // companion's rows, the re-grouped distinct count reads
      // O(companion rows), never the base. Assembled as
      //   Project(original outputs,
      //     LeftOuter(core re-aggregation over the view,
      //               one distinct-count aggregate per companion))
      // — LeftOuter + Coalesce(0) because a group whose values are all
      // NULL has view rows but no companion rows (its distinct count is
      // 0, exactly count(DISTINCT)'s NULL semantics). Gates: each
      // companion must exist, be AT the view's own watermark (they
      // commit in lockstep; a crash window shows as a mismatch).
      val needed = companionOf.values.toSeq.distinct
      val mvBatch = Snapshots.lastBatchIdCached(spark, mvRoot)
      if (mvBatch.isEmpty) return None
      val grouping = agg.groupingExpressions.map(ge =>
        storedGroupOf(ge, amap, baseOutput, groupCols)
          .flatMap(out.get).getOrElse(return None))
      val coreAliases: Map[ExprId, Alias] = mapped.collect {
        case (ne, Some(e)) => ne.exprId -> Alias(adjust(ne, e), ne.name)(exprId = ne.exprId)
      }.toMap
      // the core side: every non-distinct output plus the grouping
      // attributes the companion joins key on; a bare GLOBAL
      // count(DISTINCT) needs neither — one anchor row (the global
      // aggregate's always-one-row contract) carries the join
      var plan: LogicalPlan =
        if (coreAliases.isEmpty && grouping.isEmpty) OneRowRelation()
        else Aggregate(grouping, coreAliases.values.toSeq ++ grouping, source)
      val ndAttrOf: Map[String, Attribute] = needed.map { c =>
        val compRoot = Mv.dvRoot(mvRoot, c)
        val cvs = Snapshots.versionsCached(spark, compRoot)
        if (cvs.isEmpty) return None
        if (Snapshots.lastBatchIdCached(spark, compRoot) != mvBatch) return None
        val cSchema = Snapshots.schemaOf(spark, compRoot, cvs.last)
        val (src2, out2) = viewSource().getOrElse(return None)
        val grouping2 = agg.groupingExpressions.map(ge =>
          storedGroupOf(ge, amap, baseOutput, groupCols)
            .flatMap(out2.get).getOrElse(return None))
        val dvTable = new SnapshotTable(cSchema, compRoot, Map.empty)
        val dvRel = DataSourceV2Relation.create(dvTable, None, None,
          new CaseInsensitiveStringMap(java.util.Map.of("root", compRoot)))
        val dvOut = dvRel.output.map(a => a.name -> a).toMap
        def typedDv(n: String, dt: DataType): Option[AttributeReference] =
          dvOut.get(n).filter(_.dataType == dt)
        val gk2 = out2.get("__gk").filter(_.dataType == StringType)
          .getOrElse(return None)
        val dgk = typedDv("__gk", StringType).getOrElse(return None)
        val dvd = typedDv("__vd", StringType).getOrElse(return None)
        val dvc = typedDv("vcount", LongType).getOrElse(return None)
        val joined = Join(src2,
          Filter(GreaterThan(dvc, Literal(0L)), dvRel),
          Inner, Some(EqualTo(gk2, dgk)), JoinHint.NONE)
        val ndAlias = Alias(
          Count(Seq(dvd)).toAggregateExpression(isDistinct = true), s"__ndq_$c")()
        val dc = Aggregate(grouping2, grouping2 :+ ndAlias, joined)
        val cond =
          if (grouping.isEmpty) None
          else Some(grouping.zip(grouping2)
            .map { case (a, b) => EqualNullSafe(a, b): Expression }.reduce(And))
        plan = Join(plan, dc, LeftOuter, cond, JoinHint.NONE)
        c -> ndAlias.toAttribute
      }.toMap
      val finalList: Seq[NamedExpression] = mapped.map { case (ne, _) =>
        companionOf.get(ne.exprId) match {
          case Some(c) =>
            val e = Coalesce(Seq(ndAttrOf(c), Literal(0L)))
            if (ne.dataType != e.dataType) return None
            Alias(adjust(ne, e), ne.name)(exprId = ne.exprId)
          case None => coreAliases(ne.exprId).toAttribute
        }
      }
      Some(Project(finalList, plan))
    }
  }
}
