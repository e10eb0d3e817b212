package graft.sqlgate

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.SparkSession

/** Checks user-dialect SQL before the API runs it against the lake:
  * the reference's `_query_table` path
  * (`app/routes/datasets/queries.py:506-525`), except the scrutinized
  * SQL runs on Catalyst instead of being pushed to PostgreSQL — the
  * "API→PG" process boundary becomes "driver→executors" (SURVEY §3.1).
  */
object TabularEngine {

  /** Unknown functions fail with PostgreSQL's error text, which the
    * reference surfaces verbatim after its "Bad request. " prefix
    * (`queries.py:518-523`; golden test `test_query.py:305-321`). */
  def checkFunctionsExist(spark: SparkSession, sql: String): Unit = {
    val plan = CatalystSqlParser.parsePlan(Scrutinizer.pgQuotesToBackticks(sql))
    def walk(p: LogicalPlan): Unit = p.foreach { node =>
      node.expressions.foreach(_.foreach {
        case f: UnresolvedFunction =>
          val name = f.nameParts.last
          if (!spark.sessionState.functionRegistry
            .functionExists(FunctionIdentifier(name.toLowerCase)))
            throw SqlGateException(
              s"Bad request. function $name() does not exist\n" +
                "HINT:  No function matches the given name and argument types. " +
                "You might need to add explicit type casts.")
        case s: SubqueryExpression => walk(s.plan)
        case _ =>
      })
    }
    walk(plan)
  }
}
