package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, Expression, GetStructField, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Materialized-view aggregate rewrite: answer base-table aggregates from a
  * maintained summary table, transparently, via a Catalyst optimizer rule.
  *
  * This is the query-side half of the engine's summary-maintenance story:
  * q135 (`Cdc.ivmAgg`) keeps a grouped (cnt, sums) table incrementally
  * current from CDC deltas; [[MvAggregateRewrite]] makes queries written
  * against the BASE table use it. A query
  * `base.filter(dimPred).groupBy(dims').agg(sum/count/min/max/avg)` whose
  * grouping keys are a subset of the MV's dimensions re-aggregates the MV
  * (sum-of-sums, sum-of-counts, min-of-mins, max-of-maxs, avg = Σsum/Σcnt)
  * instead of scanning the fact table.
  *
  * At 100 TB this is THE dominant win available to an OLAP engine: the MV is
  * smaller than the base by the group-reduction factor (typically 10³–10⁶),
  * so a dashboard-style aggregate goes from a full fact scan to a scan of a
  * few thousand rows — no change to the query text. The rewrite only ever
  * fires when it is exactly answerable:
  *
  *  - the aggregate's leaf is the registered base scan (matched by the
  *    file-source root path), reached only through column-pruning Projects
  *    and at most one Filter whose references are all MV dimensions (the
  *    filter is replayed against the MV's dim columns — sound because the
  *    MV holds one row per dim combination);
  *  - every grouping expression is a bare dimension column;
  *  - every aggregate is COUNT(*)/COUNT(1), or SUM/MIN/MAX/AVG over a
  *    measure in the exact shape the MV was built with (bare column or the
  *    same DECIMAL cast — the cast is part of the measure's identity, since
  *    re-aggregating partial DOUBLE sums would reassociate float addition).
  *
  * Anything else — expressions over measures, HAVING on aggregates pushed
  * below, distinct aggregates, filters on non-dims — leaves the plan
  * untouched. Output `ExprId`s and data types are preserved exactly (the
  * rewritten aggregates are cast back to the original result types and
  * re-aliased under the original ids), so parent operators — sorts, limits,
  * later joins — resolve unchanged.
  *
  * Fidelity note: the rewrite is only as fresh as the MV. The registration
  * API takes the MV path, not a snapshot, so a maintenance loop (q116) that
  * rewrites the MV in place is picked up on the next query.
  */
object MvRewrite {

  /** One summed measure: the base column, the cast applied inside the
    * aggregate when the MV was built (None = bare column), and the MV
    * column holding the partial sums. */
  final case class SumMeasure(baseCol: String, castTo: Option[DataType],
      mvCol: String)

  /** A registered summary: how to recognize the base scan, which columns
    * are dimensions, and where each partial aggregate lives in the MV. */
  final case class SummarySpec(
      basePathSuffix: String,
      dims: Seq[String],
      cntCol: String,
      sums: Seq[SumMeasure],
      mins: Map[String, String],
      maxs: Map[String, String],
      mvPlan: LogicalPlan,
      sketches: Map[String, String] = Map.empty)

  /** Build + write the summary parquet for `base` grouped by `dims`:
    * `cnt` (row count), `sum_<c>` as DECIMAL-cast exact sums, `min_<c>` /
    * `max_<c>` raw extrema. One shuffle on the dims; the result is the
    * re-aggregable partial-state table [[MvAggregateRewrite]] consumes and
    * `Cdc.ivmAgg` maintains. */
  def buildSummary(base: DataFrame, dims: Seq[String], sumCols: Seq[String],
      sumScale: Int, minMaxCols: Seq[String], path: String,
      sketchCols: Seq[String] = Nil): Unit = {
    val aggs =
      Seq(count(lit(1)).as("cnt")) ++
        sumCols.map(c => sum(col(c).cast(s"decimal(18,$sumScale)"))
          .as(s"sum_$c")) ++
        minMaxCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        // default-geometry (hll, b=16) partial sketches: a distinct-count
        // MV column, mergeable — the q161 store, queryable via rewrite
        sketchCols.map(c => graft.GraftFunctions.approx_distinct(col(c))
          .getField("binary").as(s"sk_$c"))
    base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Read the MV back and install the rewrite rule on the session (replacing
    * any previous registration for the same base). Returns the spec. */
  def install(spark: SparkSession, mvPath: String, basePathSuffix: String,
      dims: Seq[String], sumCols: Seq[String], sumScale: Int,
      minMaxCols: Seq[String], sketchCols: Seq[String] = Nil): SummarySpec = {
    val mv = spark.read.parquet(mvPath)
    val spec = SummarySpec(
      basePathSuffix, dims, "cnt",
      sumCols.map(c => SumMeasure(c,
        Some(org.apache.spark.sql.types.DecimalType(18, sumScale)),
        s"sum_$c")),
      minMaxCols.map(c => c -> s"min_$c").toMap,
      minMaxCols.map(c => c -> s"max_$c").toMap,
      mv.queryExecution.optimizedPlan,
      sketchCols.map(c => c -> s"sk_$c").toMap)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot {
        case MvAggregateRewrite(s) => s.basePathSuffix == basePathSuffix
        case _ => false
      } :+ MvAggregateRewrite(spec)
    spec
  }
}

/** The optimizer rule. Registered via `spark.experimental.extraOptimizations`
  * (runtime, any session) — the same rule class could equally ship through
  * `SparkSessionExtensions.injectOptimizerRule` for cluster-wide deploys. */
final case class MvAggregateRewrite(spec: MvRewrite.SummarySpec)
    extends Rule[LogicalPlan] {

  private def mvAttr(name: String): Attribute =
    spec.mvPlan.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"MV lacks column $name"))

  /** Peel pruning Projects and at most one dim-only Filter down to the
    * registered base scan. Returns the filter condition, if any. */
  private def matchChild(plan: LogicalPlan): Option[Option[Expression]] =
    plan match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        matchChild(child)
      case Filter(cond, child)
          if cond.references.forall(a => spec.dims.contains(a.name)) &&
            cond.deterministic =>
        matchChild(child).flatMap {
          case None => Some(Some(cond))
          case Some(_) => None // two filters: out of scope, bail
        }
      case LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
          if fs.location.rootPaths.exists(
            _.toString.endsWith(spec.basePathSuffix)) =>
        Some(None)
      case _ => None
    }

  private def castIfNeeded(e: Expression, dt: DataType): Expression =
    if (e.dataType == dt) e else Cast(e, dt)

  private def agg(f: org.apache.spark.sql.catalyst.expressions.aggregate
      .AggregateFunction): AggregateExpression =
    AggregateExpression(f, Complete, isDistinct = false)

  /** Rewrite one aggregate-output expression onto the MV, or None if its
    * shape is not exactly answerable. */
  private def rewriteAgg(ne: NamedExpression): Option[NamedExpression] =
    ne match {
      case a: AttributeReference if spec.dims.contains(a.name) =>
        val dim = mvAttr(a.name)
        Some(Alias(dim, a.name)(exprId = a.exprId))
      case al @ Alias(ae: AggregateExpression, name) =>
        rewriteAggExpr(ae).map(e =>
          Alias(e, name)(exprId = al.exprId))
      // result-shaping cast over the aggregate (e.g. exact decimal sum
      // surfaced as double) — rewrite inside, keep the outer cast
      case al @ Alias(c @ Cast(ae: AggregateExpression, _, _, _), name) =>
        rewriteAggExpr(ae).map(e =>
          Alias(c.withNewChildren(Seq(e)), name)(exprId = al.exprId))
      // struct-field projection over the aggregate (approx_distinct(x)
      // .cardinality) — rewrite inside, keep the field access
      case al @ Alias(g @ GetStructField(ae: AggregateExpression, _, _), name) =>
        rewriteAggExpr(ae).map(e =>
          Alias(g.withNewChildren(Seq(e)), name)(exprId = al.exprId))
      case _ => None
    }

  /** Rewrite one AggregateExpression onto the MV, cast back to its original
    * result type; None if the shape is not exactly answerable. */
  private def rewriteAggExpr(ae: AggregateExpression): Option[Expression] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else {
        val rewritten: Option[Expression] = ae.aggregateFunction match {
          case c: Count if c.children.isEmpty ||
              (c.children.sizeIs == 1 && c.children.head.foldable &&
                c.children.head.eval() != null) =>
            Some(agg(Sum(mvAttr(spec.cntCol))))
          case Sum(child, _) =>
            measureOf(child).flatMap(c => spec.sums.find(m =>
                m.baseCol == c._1 && m.castTo == c._2))
              .map(m => agg(Sum(mvAttr(m.mvCol))))
          case Min(a: AttributeReference) =>
            spec.mins.get(a.name).map(c => agg(Min(mvAttr(c))))
          case Max(a: AttributeReference) =>
            spec.maxs.get(a.name).map(c => agg(Max(mvAttr(c))))
          case Average(child, _) =>
            // exact: Σ(partial exact sums) / Σ(partial counts) — the same
            // two totals Average itself divides
            measureOf(child).flatMap(c => spec.sums.find(m =>
                m.baseCol == c._1 && m.castTo == c._2))
              .map { m =>
                org.apache.spark.sql.catalyst.expressions.Divide(
                  Cast(agg(Sum(mvAttr(m.mvCol))), ae.dataType),
                  Cast(agg(Sum(mvAttr(spec.cntCol))), ae.dataType))
              }
          // approx-distinct pushdown: union the MV's stored partial
          // sketches instead of re-hashing the fact rows — bit-identical
          // by merge associativity, so this is exact wrt the original
          // plan, not an approximation of it. Only the MV's own sketch
          // geometry (default hll, b=16) is answerable.
          case ad: graft.functions.SketchAgg
              if ad.fn.name == "approx_distinct" && defaultHllGeometry(ad) =>
            ad.child match {
              case a: AttributeReference =>
                spec.sketches.get(a.name).map(c => agg(
                  graft.functions.SketchAgg.fn("sketch_merge_agg").build(Seq(mvAttr(c)))))
              case _ => None
            }
          case _ => None
        }
        rewritten.map(e => castIfNeeded(e, ae.dataType))
    }

  private def defaultHllGeometry(ad: graft.functions.SketchAgg): Boolean =
    ad.args.exists(a =>
      a.string("algo").equalsIgnoreCase("hll") && a.int("precision") == -1)

  /** The measure identity of an aggregate's child: (base column, cast). */
  private def measureOf(e: Expression): Option[(String, Option[DataType])] =
    e match {
      case a: AttributeReference => Some((a.name, None))
      case Cast(a: AttributeReference, dt, _, _) => Some((a.name, Some(dt)))
      case _ => None
    }

  private def remapToMv(e: Expression): Expression = e.transform {
    case a: AttributeReference => mvAttr(a.name)
  }

  // ---- grouping sets (ROLLUP / CUBE / GROUPING SETS) ----
  //
  // Catalyst plans these as Aggregate over Expand: measures pass through
  // the Expand unchanged in every projection row, dims are re-aliased and
  // nulled per grouping set, and spark_grouping_id is a literal per row.
  // The rewrite keeps the Expand STRUCTURE (same per-set nulling, same
  // gid literals, same dim/gid output attrs — so groupings and parents
  // resolve untouched) but re-bases it on the MV: measure passthroughs
  // become the MV's partial-aggregate columns and the aggregates above
  // re-aggregate them exactly as in the flat case. A base-NULL dim value
  // is a distinct MV row and flows through the same (dim, gid) grouping,
  // so Spark's null-vs-nulled-by-expand semantics are preserved verbatim.

  private sealed trait ExpandRole
  private case class MeasurePass(out: Attribute) extends ExpandRole
  private case class DimPos(out: Attribute, entries: Seq[Expression])
      extends ExpandRole
  private case class GidPos(out: Attribute, entries: Seq[Expression])
      extends ExpandRole

  private def classify(ex: Expand): Option[Seq[ExpandRole]] = {
    val childOut = ex.child.outputSet
    val roles = ex.output.zipWithIndex.map { case (o, i) =>
      val entries = ex.projections.map(_(i))
      if (childOut.contains(o) && entries.forall {
          case a: AttributeReference => a.exprId == o.exprId
          case _ => false
        }) MeasurePass(o)
      else if (entries.forall { e =>
          e.isInstanceOf[Literal] && e.asInstanceOf[Literal].value != null
        }) GidPos(o, entries)
      else if (entries.forall {
          case a: AttributeReference => spec.dims.contains(a.name)
          case l: Literal => l.value == null
          case _ => false
        }) DimPos(o, entries)
      else null
    }
    if (roles.contains(null)) None else Some(roles.toSeq)
  }

  private def rewriteGroupingSets(agg: Aggregate, ex: Expand):
      Option[LogicalPlan] = {
    val Aggregate(gs, aggs, _, hint) = agg
    for {
      filterOpt <- matchChild(ex.child)
      roles <- classify(ex)
      dimGidAttrs = AttributeSet(roles.collect {
        case DimPos(o, _) => o
        case GidPos(o, _) => o
      })
      // groupings must be Expand-produced dim/gid attrs only
      if gs.forall {
        case a: AttributeReference => dimGidAttrs.contains(a)
        case _ => false
      }
      newAggs <- {
        val rewritten = aggs.map {
          case a: AttributeReference if dimGidAttrs.contains(a) => Some(a)
          case ne => rewriteAgg(ne)
        }
        if (rewritten.forall(_.isDefined)) Some(rewritten.map(_.get))
        else None
      }
    } yield {
      // MV columns the rewritten aggregates read — pass them through the
      // new Expand unchanged (their own exprIds), like measures were
      val needed = spec.mvPlan.output.filter(
        AttributeSet(newAggs.flatMap(_.references)).contains)
      val keptRoles = roles.filter(!_.isInstanceOf[MeasurePass])
      val newOutput: Seq[Attribute] = needed ++ keptRoles.map {
        case DimPos(o, _) => o
        case GidPos(o, _) => o
        case MeasurePass(o) => o
      }
      val newProjections: Seq[Seq[Expression]] =
        ex.projections.indices.map { r =>
          needed.map(identity[Expression]) ++ keptRoles.map {
            case DimPos(_, entries) => entries(r) match {
              case a: AttributeReference => mvAttr(a.name)
              case l: Literal => l
            }
            case GidPos(_, entries) => entries(r)
            case MeasurePass(o) => o
          }
        }
      val scan = filterOpt match {
        case Some(cond) => Filter(remapToMv(cond), spec.mvPlan)
        case None => spec.mvPlan
      }
      Aggregate(gs, newAggs, Expand(newProjections, newOutput, scan), hint)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a @ Aggregate(_, _, ex: Expand, _) =>
      rewriteGroupingSets(a, ex).getOrElse(a)
    case Aggregate(groupings, aggExprs, child, hint)
        if groupings.forall {
          case a: AttributeReference => spec.dims.contains(a.name)
          case _ => false
        } =>
      matchChild(child) match {
        case Some(filterOpt) =>
          val newAggs = aggExprs.map(rewriteAgg)
          if (newAggs.forall(_.isDefined)) {
            val scan = filterOpt match {
              case Some(cond) => Filter(remapToMv(cond), spec.mvPlan)
              case None => spec.mvPlan
            }
            Aggregate(groupings.map(remapToMv), newAggs.map(_.get), scan,
              hint)
          } else Aggregate(groupings, aggExprs, child, hint)
        case None => Aggregate(groupings, aggExprs, child, hint)
      }
  }
}
