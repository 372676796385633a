package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SCALAR_SUBQUERY
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{FooterSchema, ParquetFileFormat}
import org.apache.spark.sql.internal.SQLConf
import scala.util.control.NonFatal

/** Optimizer rule: a global `COUNT(*)` over a whole parquet dataset is
  * answered from the files' footers on the driver, with no Spark job.
  *
  * On a V1 parquet scan (`spark.read.parquet`, `Sources.parquet`) such a
  * count is a partial and a final aggregate — two AQE jobs — although
  * every footer already holds its row groups' row counts. Spark's own
  * footer-count path (`spark.sql.parquet.aggregatePushdown`) only serves
  * DataSource V2 scans. This rule matches an `Aggregate` with no grouping
  * whose every output is `count(*)`, `count(1)` or the count of another
  * non-null literal, over the relation itself or `Project`s of it only —
  * any `Filter`, `Sample`, `Limit`, join, cached or streaming relation in
  * between leaves the plan alone — and replaces it with a one-row
  * `LocalRelation`. It runs inside `OptimizeSubqueries` too, so a scalar
  * `(SELECT COUNT(*) FROM t)` in a model or an ASSERT costs no job either:
  * an uncorrelated scalar subquery whose optimized plan is a one-row,
  * one-column `LocalRelation` is folded into its `Literal` in the outer
  * plan, and a `SELECT` of constants only (a `Project` over
  * `OneRowRelation`, such as `ModelEngine.test`'s batched ASSERT row)
  * becomes a one-row `LocalRelation`, which is collected on the driver
  * instead of as a one-task job.
  *
  * The files are the relation's own `listFiles(Nil, Nil)`, the listing
  * its scan would read: empty and hidden files (`_SUCCESS`,
  * `_common_metadata`) are already dropped there, and `pathGlobFilter`
  * and recursive lookup already applied. The rule stays off above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` files, past
  * which Spark hands file work to the cluster, and when the listing or
  * any footer read throws, so the scan keeps its error and
  * `ignoreCorruptFiles` semantics.
  *
  * DEFAULT-ON for graft sessions (GraftSession.init / GraftExtensions).
  */
object FooterCount extends Rule[LogicalPlan] {

  private def isRowCount(e: NamedExpression): Boolean = e match {
    case Alias(AggregateExpression(Count(children), _, false, None, _), _) =>
      children.forall {
        case Literal(v, _) => v != null
        case _ => false
      }
    case _ => false
  }

  private def parquetRelation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case Project(_, child) => parquetRelation(child)
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] => Some(r)
      case _ => None
    }
    case _ => None
  }

  private def rowCount(r: HadoopFsRelation): Option[Long] = try {
    val files = r.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    if (files.size > SQLConf.get.parallelPartitionDiscoveryThreshold) None
    else Some(FooterSchema.rowCount(r.sparkSession, r.options, files))
  } catch { case NonFatal(_) => None }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(grouping, outputs, child, _)
        if grouping.isEmpty && outputs.nonEmpty && outputs.forall(isRowCount) =>
      parquetRelation(child).flatMap(rowCount)
        .map(n => LocalRelation(agg.output, Seq(InternalRow.fromSeq(outputs.map(_ => n)))))
        .getOrElse(agg)
  }.transformAllExpressionsWithPruning(_.containsPattern(SCALAR_SUBQUERY)) {
    case s: ScalarSubquery if s.outerAttrs.isEmpty && s.joinCond.isEmpty => s.plan match {
      case l: LocalRelation if l.output.size == 1 && l.data.size == 1 && !l.isStreaming =>
        Literal(l.data.head.get(0, s.dataType), s.dataType)
      case _ => s
    }
  }.transform {
    case p @ Project(list, OneRowRelation()) if list.forall(isConstant) =>
      LocalRelation(p.output, Seq(InternalRow.fromSeq(list.map(_.asInstanceOf[Alias].child.eval()))))
  }

  private def isConstant(e: NamedExpression): Boolean = e match {
    case Alias(c, _) => c.foldable
    case _ => false
  }
}
