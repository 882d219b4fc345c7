package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{CommandResultExec, EmptyRelationExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** How a benchmark must consume a query's result before timing it: every
  * output column of every row computed and then dropped, the work
  * DuckDB's `fetchall` does. `count()` is not such an action: Catalyst
  * rewrites it into an aggregate over an empty projection and computes
  * none of the columns. */
object Materialize {

  /** Run `df` to completion into the `noop` sink. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The physical plans that the actions in `body` ran on `spark` (the
    * session of the DataFrame they consume), as Spark reports them to a
    * query-execution listener once they finished. */
  def executed(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val got = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = got.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; PerfbenchBridge.drainListeners(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    got.asScala.toSeq
  }

  /** The plan that produced the rows: below the sink, the final adaptive plan. */
  private def query(p: SparkPlan): SparkPlan = p match {
    case c: CommandResultExec => query(c.commandPhysicalPlan)
    case w: V2TableWriteExec => query(w.query)
    case a: AdaptiveSparkPlanExec => query(a.executedPlan)
    case _ => p
  }

  /** Every physical node under `p`: through adaptive stages, reused
    * exchanges, subqueries, and the stages that an adaptive rewrite kept
    * as inner children (an `EmptyRelation` over a finished stage). */
  private def nodes(p: QueryPlan[_]): Seq[SparkPlan] = {
    val below: Seq[QueryPlan[_]] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case l: LogicalQueryStage => Seq(l.physicalPlan)
      case e: EmptyRelationExec => Option(e.logical).toSeq
      case r: ReusedExchangeExec => Seq(r.child)
      case s: SparkPlan => s.children ++ s.subqueries ++ s.innerChildren
      case l => l.children.collect { case c: QueryPlan[_] => c } ++ l.innerChildren
    }
    (p match { case s: SparkPlan => Seq(s); case _ => Nil }) ++ below.flatMap(nodes)
  }

  /** An expression's shape: attribute ids and names erased, so one
    * optimizer pass's fresh ids do not hide an equal computation. */
  private def shape(e: Expression): Expression =
    e.transform { case a: AttributeReference => a.withExprId(ExprId(0)).withName("_") }
      .canonicalized

  /** The scalar expression that defines each computed output column of
    * `df` (not plain references, aggregates or window functions). */
  private def definitions(df: DataFrame): Map[String, Expression] = {
    val opt = df.queryExecution.optimizedPlan
    val aliases: Map[ExprId, Expression] = opt.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case a: Alias => a.exprId -> a.child }).toMap
    opt.output.flatMap { o =>
      aliases.get(o.exprId).filter(e =>
        !e.isInstanceOf[AttributeReference] && e.find {
          case _: AggregateExpression | _: WindowExpression => true
          case _ => false
        }.isEmpty).map(o.name -> _)
    }.toMap
  }

  /** The output columns of `df` that none of `plans` computes (empty: one
    * of them materializes every column). A column is computed when the
    * plan's result rows carry it and, for a column that a scalar
    * expression defines, that expression is evaluated in the plan. */
  def missing(df: DataFrame, plans: Seq[SparkPlan]): Seq[String] = {
    val defs = definitions(df)
    val perPlan = plans.map { p =>
      val out = query(p).output.map(_.name).toSet
      val evaluated = nodes(p).flatMap(_.expressions).flatMap(_.collect { case e => shape(e) }).toSet
      df.columns.toSeq.filter(c => !out(c) || defs.get(c).exists(d => !evaluated(shape(d))))
    }
    perPlan.minByOption(_.size).getOrElse(df.columns.toSeq)
  }
}
