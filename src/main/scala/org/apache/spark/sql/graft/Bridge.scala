package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ⇄ Expression converters so graft's
  * native Catalyst expressions can be exposed as ordinary Columns (the
  * standard technique for out-of-tree Spark extension libraries).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (Dataset.ofRows is
    * private[sql]; runtime sessions are classic). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `sqlText` as a DataFrame in which each table name that is a key of
    * `relations` reads that DataFrame, as a temp view of it would, but
    * with no catalog entry: a query build leaves the session's catalog as
    * it found it, and two builds never race on one view name. Names are
    * bound in the main query, in subqueries and in CTE bodies; repeated
    * references (self-joins, correlated subqueries over the same table)
    * get fresh attribute ids from the analyzer's DeduplicateRelations,
    * exactly as repeated references to one view do. */
  def sqlOver(spark: SparkSession, sqlText: String, relations: Map[String, DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, UnresolvedWith}
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(name), _, _) if relations.contains(name) =>
        SubqueryAlias(name, analyzed(relations(name)))
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, r, x) =>
          (n, r.copy(child = bind(r.child)), x)
        })
    }
    val parsed = spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sqlText)
    ofRows(spark, bind(parsed))
  }

  /** Blocks until every event posted so far has reached every listener. */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The analyzer's implicit-cast machinery keys on [[ImplicitCastInputTypes]],
    * whose `inputTypes` signature names the `private[sql]` AbstractDataType —
    * unusable from graft's own packages. This shim fixes every input to
    * StringType from inside the sql package, so a string-typed native
    * expression (e.g. NormalizeText) coerces non-string arguments exactly
    * like the built-in string functions it replaced. */
  trait StringInputs extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    self: Expression =>
    override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
      Seq.fill(children.size)(org.apache.spark.sql.types.StringType)
  }

  /** Rewrite `sub` so none of its attribute ids collide with `outer`'s —
    * the precondition for embedding `sub` as a subquery inside a plan that
    * may already contain the same source subtree (self-join shapes).
    * Implemented with the analyzer's own machinery: wrap the pair in a
    * throwaway Join and let [[DeduplicateRelations]] re-instance the right
    * side's conflicting relations (including alias ids), exactly as it
    * would for a user-written self-join. No-op when the id sets are
    * already disjoint. */
  def dedupAgainst(outer: LogicalPlan, sub: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.DeduplicateRelations
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    DeduplicateRelations(Join(outer, sub, Inner, None, JoinHint.NONE)) match {
      case j: Join => j.right
      case _ => sub
    }
  }
}
