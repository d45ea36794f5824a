package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UNION
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}

/** AQE runtime rule: drops a `Union` child that is known, once a query
  * stage has run, to emit no row. Installed by [[GraftExtensions]].
  *
  * A child is dropped when it is only a chain of operators that emit
  * nothing on empty input, over a materialized query stage whose runtime
  * row count is 0 or over an empty local relation. This is what lets a run
  * with no mega-doc skip the salted branch of
  * [[graft.pipeline.ExtractPipeline.extract]]: once the salting spread
  * shuffle comes back empty, the chunk kernel, the regroup shuffle and the
  * merge above it leave the plan. Spark's `AQEPropagateEmptyRelation` stops
  * at the typed operators of that chain.
  *
  * `MapPartitions` is never part of a dropped chain: it can emit rows from
  * an empty partition. Like Spark's own empty-relation rules, dropping a
  * child drops its (empty) partitions from the union.
  */
object PruneEmptyUnionChildren extends Rule[LogicalPlan] {

  private def emitsNothing(plan: LogicalPlan): Boolean = plan match {
    case s: LogicalQueryStage => s.physicalPlan match {
      case q: QueryStageExec => q.isMaterialized && q.getRuntimeStatistics.rowCount.contains(0)
      case _ => false
    }
    case l: LocalRelation => l.data.isEmpty
    case _: DeserializeToObject | _: SerializeFromObject | _: MapElements | _: TypedFilter |
         _: AppendColumns | _: AppendColumnsWithObject | _: MapGroups | _: Project | _: Filter =>
      emitsNothing(plan.children.head)
    case _ => false
  }

  /** `plan` with the union's output attributes, aliased where they differ. */
  private def withOutput(output: Seq[Attribute], plan: LogicalPlan): LogicalPlan =
    if (plan.output.map(_.exprId) == output.map(_.exprId)) plan
    else Project(output.zip(plan.output).map {
      case (u, c) if u.exprId == c.exprId => c
      case (u, c) => Alias(c, u.name)(u.exprId, u.qualifier, Some(u.metadata))
    }, plan)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(_.containsPattern(UNION)) {
    case u: Union if u.children.exists(emitsNothing) =>
      u.children.filterNot(emitsNothing) match {
        case Seq() => LocalRelation(u.output)
        case Seq(only) => withOutput(u.output, only)
        case kept => withOutput(u.output, u.withNewChildren(kept))
      }
  }
}
