package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

/** Materialized-view validation: a view is a grain aggregate (GROUP BY
  * `dims` with COUNT(*) and per-measure SUM partials) over a single base
  * relation, VALIDATED FROM DATA before any rule may use it — the
  * recomputed grain and the offered view must match exactly in both
  * set-difference directions, the ANALYZE-grade price paid once. Spark
  * has no MV catalog; warehouses answer coarser aggregates from a
  * finer view only because a catalog vouches that the view IS the
  * grain. Here a catalog is a value: the [[Mv]]s that [[validate]]
  * returns, handed to [[MvRewriteRule]] (the q417/q418/q419 arc's
  * optimizer half). Nothing is kept between calls, so concurrent
  * callers cannot see each other's views.
  *
  * Both the base and the view must be single-leaf plans (caller
  * checkpoints them): the base leaf, canonicalized, keys the view —
  * the rule only fires on the exact relation the validation saw — and
  * the view leaf must be a [[MultiInstanceRelation]] so every rewrite
  * splices a fresh-exprId instance (two rewrites in one query must not
  * collide attributes).
  */
object MvCatalog {
  final case class Mv(
      source: LogicalPlan,
      viewLeaf: LeafNode,
      dims: Seq[String],
      cntCol: String,
      sumCols: Map[String, String],
      /** Measures proven null-free at validation (COUNT(m) == COUNT(*)
        * over the view's input) — the data proof that makes the
        * AVG(m) → SUM(sum_m)/SUM(cnt) rewrite sound: with any NULL in
        * the measure, AVG's denominator is COUNT(m), not COUNT(*).
        */
      avgSafe: Set[String],
      /** Name-normalized conjuncts the view was built under (empty = the
        * full grain). A query rewrites only when its own filter
        * conjuncts SUBSUME these — every view conjunct matched verbatim
        * (so even measure predicates are answerable when the view
        * carries them), residual conjuncts dim-only and re-applied.
        */
      viewPreds: Seq[Expression],
      /** |view| rows, measured at validation — the cost key: when
        * several views in a catalog can answer a query, the smallest
        * wins (fewest rows scanned).
        */
      viewRows: Long)

  private[plans] def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case x => Seq(x)
  }

  /** Normalize a predicate for cross-plan comparison: attributes reduced
    * to lowercase name (exprId/qualifier/metadata dropped — both sides
    * reference the same single leaf, where names are unique), then
    * canonicalized so commuted comparisons still match.
    */
  private[plans] def normByName(p: Expression): Expression =
    p.transform { case a: AttributeReference =>
      AttributeReference(a.name.toLowerCase, a.dataType, nullable = true)(
        exprId = org.apache.spark.sql.catalyst.expressions.ExprId(0),
        qualifier = Seq.empty)
    }.canonicalized

  /** Validate `view` as the exact (dims, COUNT(*), SUM(measures)) grain
    * of `base` — or, when `where` is given, of `base.where(and(where))`
    * (a PARTIAL view; queries must subsume the predicate to use it) —
    * and return it as an [[Mv]]. `sumCols` maps each base measure column
    * to the view column holding its per-group SUM partial. Refuses
    * (returns None) when either side is not a single-leaf plan, a named
    * column is missing, a `where` predicate is non-deterministic, or the
    * recomputed grain differs from the offered view in either
    * direction. Also records, per measure, whether the view's input had
    * zero NULLs in it — the proof that arms the AVG rewrite.
    */
  def validate(base: DataFrame, view: DataFrame, dims: Seq[String],
      cntCol: String, sumCols: Map[String, String],
      where: Seq[org.apache.spark.sql.Column] = Nil): Option[Mv] = {
    val baseLeaves = base.queryExecution.analyzed.collect { case l: LeafNode => l }
    val viewLeaves = view.queryExecution.analyzed.collect { case l: LeafNode => l }
    val shapesOk = baseLeaves.size == 1 && viewLeaves.size == 1 &&
      view.queryExecution.analyzed.isInstanceOf[LeafNode] &&
      viewLeaves.head.isInstanceOf[MultiInstanceRelation] &&
      dims.forall(d => base.columns.contains(d)) &&
      sumCols.forall { case (m, v) => base.columns.contains(m) && view.columns.contains(v) } &&
      view.columns.contains(cntCol) && dims.forall(view.columns.contains)
    if (!shapesOk) return None
    val filtered = where.foldLeft(base)((df, c) => df.where(c))
    // resolved conjuncts, pulled from the analyzed Filter nodes
    val resolvedPreds = filtered.queryExecution.analyzed
      .collect { case Filter(cond, _) => splitAnd(cond) }.flatten
    if (!resolvedPreds.forall(_.deterministic)) return None
    // ONE corpus pass: the recomputed grain carries the per-measure NULL
    // census alongside the COUNT/SUM partials, and the validation is a
    // single full-outer dim-join against the offered view (both
    // directions of the old double-exceptAll in one aggregation) —
    // validation's ANALYZE-grade price, but paid once, not four times
    val ms = sumCols.toSeq.sortBy(_._1)
    val aggs = count(lit(1)).cast("long").as(cntCol) +:
      (ms.map { case (m, v) => sum(col(m)).as(v) } ++
        ms.map { case (m, _) =>
          org.apache.spark.sql.functions.coalesce(
            sum(org.apache.spark.sql.functions.when(col(m).isNull, 1L)
              .otherwise(0L)), lit(0L)).as(s"__nn_$m")
        })
    val grain = filtered.groupBy(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).localCheckpoint(false)
    // duplicate-dim offered rows (identical twins would survive the
    // dim-join compare) are caught by the row-count guard; the measured
    // |view| becomes the cost key for cheapest-view selection
    val viewRows = view.count()
    if (viewRows != grain.count()) return None
    val valCols = cntCol +: ms.map(_._2)
    val gSide = grain.select(dims.map(col) ++ valCols.map(c => col(c).as(s"g_$c")): _*)
    val oSide = view.select(dims.map(col) ++ valCols.map(c => col(c).as(s"o_$c")): _*)
    val badPred = valCols.map(c =>
      s"g_$c IS NULL OR o_$c IS NULL OR g_$c <> o_$c").mkString(" OR ")
    val checkRow = gSide.join(oSide, dims, "full_outer")
      .agg(org.apache.spark.sql.functions.coalesce(
        sum(org.apache.spark.sql.functions.when(expr(badPred), 1L)
          .otherwise(0L)), lit(0L)).as("bad"))
      .head()
    if (checkRow.getLong(0) != 0L) return None
    // per-measure NULL census, reduced from the grain — zero nulls makes
    // AVG(m) = SUM(sum_m)/SUM(cnt) exact (COUNT(m) == COUNT(*))
    val avgSafe: Set[String] =
      if (ms.isEmpty) Set.empty
      else {
        val census = grain.select(ms.map { case (m, _) =>
          org.apache.spark.sql.functions.coalesce(sum(s"__nn_$m"), lit(0L)).as(m)
        }: _*).head()
        ms.map(_._1).filter(m => census.getAs[Long](m) == 0L)
          .map(_.toLowerCase).toSet
      }
    Some(Mv(baseLeaves.head.canonicalized,
      viewLeaves.head.asInstanceOf[LeafNode],
      dims.map(_.toLowerCase), cntCol.toLowerCase,
      sumCols.map { case (m, v) => m.toLowerCase -> v.toLowerCase },
      avgSafe, resolvedPreds.map(normByName), viewRows))
  }
}

/** Aggregate re-rooting onto a validated materialized view from `views`
  * — the classic MV-subsumption rewrite Spark itself cannot perform: it
  * needs a DATA proof (the view IS the grain) that no plan shape
  * carries. A relation may carry SEVERAL views (the full grain, a coarser
  * rollup, a filtered partial); when several can answer a query, the
  * cheapest that rewrites wins (fewest rows scanned). An
  * `Aggregate(g, a, base)` whose groupings are dim columns, whose
  * aggregates are decomposable over the grain (COUNT(*) → SUM(cnt),
  * SUM(m) → SUM(sum_m), MIN/MAX over a dim column → themselves), and
  * whose filters (if any) reference only dim columns, is answered from
  * the view's `|grain|` rows instead of the base's n — at 100 TB the
  * difference between a footer-sized scan and the corpus.
  *
  * Soundness guards, each a certified refusal in MvRewriteSpec:
  *  - the subtree below the Aggregate must be a view's VALIDATED leaf
  *    (canonicalized match), optionally under pruning Projects of bare
  *    attributes and Filters whose references are all dim columns — a
  *    filter on a non-dim column (the grain already folded it away),
  *    a grouping on a non-dim column, or a same-shaped relation that no
  *    view in `views` was validated on all refuse;
  *  - only decomposable aggregates rewrite: DISTINCT aggregates,
  *    FILTER-clause aggregates, AVG, and MIN/MAX over a measure refuse;
  *  - every rewritten output keeps the original name, exprId, AND
  *    dataType (a type-widening rewrite would corrupt the parent plan —
  *    checked expression by expression, not assumed);
  *  - the spliced view is a fresh [[MultiInstanceRelation]] instance
  *    per rewrite, so repeated matches in one plan cannot alias.
  */
final case class MvRewriteRule(views: Seq[MvCatalog.Mv]) extends Rule[LogicalPlan] {

  private val cheapestFirst = views.sortBy(_.viewRows)

  /** Unwrap pruning Projects / Filters down to a leaf some view covers,
    * collecting the raw filter conjuncts on the way; returns the leaf's
    * views, cheapest first, and the conjuncts.
    */
  private def unwrap(plan: LogicalPlan, preds: Seq[Expression]):
      Option[(Seq[MvCatalog.Mv], Seq[Expression])] =
    plan match {
      case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child, preds)
      case Filter(cond, child) =>
        unwrap(child, preds :+ cond)
      case leaf: LeafNode =>
        val key = leaf.canonicalized
        val covering = cheapestFirst.filter(_.source == key)
        if (covering.isEmpty) None else Some((covering, preds))
      case _ => None
    }

  /** Per-candidate-view admission: every query conjunct deterministic
    * and subquery-free, every view conjunct matched verbatim by a query
    * conjunct (filter subsumption — a PARTIAL view answers only queries
    * at least as restrictive), and every residual conjunct dim-only
    * (re-applied on the view's own columns). Returns the residual.
    */
  private def admit(preds: Seq[Expression], mv: MvCatalog.Mv)
      : Option[Seq[Expression]] = {
    val conj = preds.flatMap(MvCatalog.splitAnd)
    val basicOk = conj.forall(p => p.deterministic && !p.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION))
    if (!basicOk) None
    else {
      val normed = conj.map(p => (p, MvCatalog.normByName(p)))
      val subsumes = mv.viewPreds.forall(vp => normed.exists(_._2 == vp))
      val residual = normed.collect {
        case (p, n) if !mv.viewPreds.contains(n) => p
      }.filterNot {
        // IsNotNull over a measure PROVEN null-free at validation
        // (over the view's own filtered input) is vacuously true —
        // the optimizer infers these from the very conjuncts we
        // just matched, and they must not block the rewrite.
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(
            a: AttributeReference) =>
          !mv.dims.contains(a.name.toLowerCase) &&
            mv.avgSafe.contains(a.name.toLowerCase)
        case _ => false
      }
      val residualOk = residual.forall(
        _.references.forall(a => mv.dims.contains(a.name.toLowerCase)))
      if (subsumes && residualOk) Some(residual) else None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupings, aggExprs, child, _) =>
      unwrap(child, Nil) match {
        case Some((candidates, preds)) =>
          // candidates come back cheapest-first; the first view that
          // admits the filters, covers the groupings AND rewrites every
          // output wins — coarser/filtered views refuse individually
          // and the next candidate gets its turn
          candidates.view.flatMap { mv =>
            val coveredGroupings = groupings.forall {
              case a: AttributeReference => mv.dims.contains(a.name.toLowerCase)
              case _ => false
            }
            if (!coveredGroupings) None
            else admit(preds, mv).flatMap(residual =>
              rewrite(agg, groupings, aggExprs, residual, mv))
          }.headOption.getOrElse(agg)
        case _ => agg
      }
  }

  private def rewrite(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], preds: Seq[Expression],
      mv: MvCatalog.Mv): Option[LogicalPlan] = {
    val fresh = mv.viewLeaf.asInstanceOf[MultiInstanceRelation].newInstance()
      .asInstanceOf[LeafNode]
    def viewAttr(name: String): Attribute =
      fresh.output.find(_.name.equalsIgnoreCase(name)).get
    def dimAttr(baseName: String): Option[Attribute] =
      if (mv.dims.contains(baseName.toLowerCase)) Some(viewAttr(baseName)) else None

    // each output expression must rewrite exactly — name, exprId and
    // dataType preserved — or the whole match refuses
    def rewriteAgg(ae: AggregateExpression): Option[Expression] =
      ae match {
        case AggregateExpression(_, _, true, _, _) => None // DISTINCT
        case AggregateExpression(_, _, _, Some(_), _) => None // FILTER clause
        case AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _)
            if v != null => // COUNT(NULL) is constant-0, NOT row count — refuse
          val s = Sum(viewAttr(mv.cntCol)).toAggregateExpression()
          // Global aggregate (no GROUP BY) + a dim filter matching zero
          // view rows: COUNT(*) is 0 but SUM(cnt) is NULL — coalesce
          // restores the contract. Grouped aggregates never hit this
          // (every surviving group has >=1 view row with cnt >= 1).
          Some(if (groupings.isEmpty) Coalesce(Seq(s, Literal(0L))) else s)
        case AggregateExpression(Sum(a: AttributeReference, _), _, false, None, _)
            if mv.sumCols.contains(a.name.toLowerCase) =>
          Some(Sum(viewAttr(mv.sumCols(a.name.toLowerCase))).toAggregateExpression())
        case AggregateExpression(Min(a: AttributeReference), _, false, None, _) =>
          dimAttr(a.name).map(v => Min(v).toAggregateExpression())
        case AggregateExpression(Max(a: AttributeReference), _, false, None, _) =>
          dimAttr(a.name).map(v => Max(v).toAggregateExpression())
        // AVG(m) = SUM(sum_m) / SUM(cnt) — sound ONLY under the
        // validation-time data proof that m is null-free (avgSafe):
        // with a NULL the true denominator is COUNT(m), not COUNT(*).
        // The caller's dataType check refuses decimal AVG (Spark gives
        // it a widened decimal type, Divide-of-doubles does not).
        case AggregateExpression(Average(a: AttributeReference, _), _, false, None, _)
            if mv.sumCols.contains(a.name.toLowerCase) &&
              mv.avgSafe.contains(a.name.toLowerCase) =>
          val s = Sum(viewAttr(mv.sumCols(a.name.toLowerCase))).toAggregateExpression()
          val c = Sum(viewAttr(mv.cntCol)).toAggregateExpression()
          Some(Divide(Cast(s, DoubleType), Cast(c, DoubleType)))
        case _ => None
      }

    // General output rewrite: CollapseProject folds wrappers (round,
    // literals, arithmetic over aggregates) into the Aggregate before
    // this rule runs, so an output is an arbitrary expression tree over
    // AggregateExpressions, grouping attrs and literals. Rewrite every
    // aggregate inside via rewriteAgg, remap every remaining base attr
    // to its view dim, and refuse if any piece has no sound rewrite or
    // the result's dataType drifts.
    def rewriteNamed(ne0: NamedExpression): Option[NamedExpression] = ne0 match {
      case a: AttributeReference =>
        dimAttr(a.name).collect {
          case v if v.dataType == a.dataType => Alias(v, a.name)(exprId = a.exprId)
        }
      case al @ Alias(e, name) =>
        var ok = true
        // identity-keyed: a rewritten aggregate may itself contain new
        // AggregateExpressions (SUM over view cols) that must NOT be
        // re-entered by the transform below
        val done = new java.util.IdentityHashMap[AggregateExpression, Expression]()
        e.foreach {
          case ae: AggregateExpression if !done.containsKey(ae) =>
            rewriteAgg(ae) match {
              case Some(x) => done.put(ae, x)
              case None => ok = false
            }
          case _ => ()
        }
        val withAggs = e.transformDown {
          case ae: AggregateExpression if done.containsKey(ae) => done.get(ae)
        }
        val remapped = withAggs.transformDown {
          case a: AttributeReference if !fresh.outputSet.contains(a) =>
            dimAttr(a.name) match {
              case Some(v) => v
              case None => ok = false; a
            }
        }
        if (ok && remapped.dataType == al.dataType)
          Some(Alias(remapped, name)(exprId = al.exprId))
        else None
      case _ => None
    }
    val rewritten: Seq[Option[NamedExpression]] = aggExprs.map(rewriteNamed)
    val newGroupings: Seq[Option[Expression]] = groupings.map {
      case a: AttributeReference => dimAttr(a.name).map(identity[Expression])
      case _ => None
    }
    if (rewritten.exists(_.isEmpty) || newGroupings.exists(_.isEmpty)) None
    else {
      val byName = preds.map(_.transform {
        case a: AttributeReference => viewAttr(a.name)
      })
      val scan: LogicalPlan =
        byName.foldRight(fresh: LogicalPlan)((p, c) => Filter(p, c))
      Some(agg.copy(groupingExpressions = newGroupings.map(_.get),
        aggregateExpressions = rewritten.map(_.get), child = scan))
    }
  }
}
