package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL over a query's own intermediates. */
object Sql {

  /** Runs `text` with each `name -> df` binding standing in for the
    * table `name`: a builder hands its intermediates to its own SQL
    * instead of publishing them as temp views in the catalog that
    * every concurrent request on the session shares. Unbound names
    * (the lake tables [[Tables.register]] installs) resolve as usual. */
  def bound(spark: SparkSession, text: String, bindings: (String, DataFrame)*): DataFrame =
    org.apache.spark.sql.graft.SessionBridge.bound(spark, text, bindings)
}
