package org.apache.spark.sql.graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark's package-private session surface
  * (`classic.Dataset.ofRows`, `classic.SparkSession.cloneSession`),
  * next to [[ColumnBridge]] and for the same reason: the engine needs
  * them and Spark exposes them only inside `org.apache.spark.sql`. */
object SessionBridge {

  /** Parses `text` and resolves each single-part table name listed in
    * `bindings` to that DataFrame's analyzed plan, in the main query,
    * in every CTE body and in every subquery expression. Other names
    * resolve through the session catalog as usual; nothing is
    * registered. A CTE may not reuse a bound name. */
  def bound(spark: SparkSession, text: String,
            bindings: Seq[(String, DataFrame)]): DataFrame = {
    def key(n: String) = n.toLowerCase(Locale.ROOT)
    val plans = bindings.map { case (n, df) => key(n) -> df.queryExecution.analyzed }.toMap
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformDownWithSubqueries {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
          plans.contains(key(u.multipartIdentifier.head)) =>
        SubqueryAlias(u.multipartIdentifier.head, plans(key(u.multipartIdentifier.head)))
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, body, depth) =>
          require(!plans.contains(key(n)), s"CTE $n shadows a bound name")
          (n, bind(body).asInstanceOf[SubqueryAlias], depth)
        })
    }
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, bind(session.sessionState.sqlParser.parsePlan(text)))
  }

  /** A new session with a copy of `spark`'s conf, functions and temp
    * views, sharing its SparkContext; changes to either stay private. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `ck`, a `localCheckpoint`ed frame, as a plain scan of its
    * checkpointed RDD: new attributes from its schema, unknown
    * partitioning, no ordering, and no statistics or constraints
    * carried over from the plan it was cut from. That is the plan a
    * Row round-trip through `createDataFrame` gives, without the
    * round-trip, and unpersisting the RDD it scans frees the
    * checkpoint's blocks. */
  def rddScan(ck: DataFrame): DataFrame = {
    val rdd = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(ck.schema), rdd)(session))
  }
}
