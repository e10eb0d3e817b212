package graft

import org.apache.spark.sql.DataFrame

/** Storage hygiene for eager `localCheckpoint` pipelines.
  *
  * A localCheckpoint'ed DataFrame holds its blocks in the block
  * manager until the SESSION ends — queries that materialize a large
  * intermediate (the t13/t27 tokenize output: ~700 MB at the 100×
  * probe) and derive a small result from it would otherwise leak the
  * large blocks across a 174-query bench run, and the writeback /
  * eviction churn surfaces as multi-second stalls in UNRELATED
  * queries. Call this once every consumer of the checkpoint has
  * itself been materialized (checkpointed or collected); the freed
  * DataFrame must not be executed again.
  */
object CkptUtil {

  /** The live checkpoint of each [[fresh]] key, so the next call under
    * that key (every consuming query invocation re-materializes —
    * re-use across invocations would be result caching, which the
    * bench methodology forbids) releases the PREVIOUS invocation's
    * blocks instead of leaking them for the session's lifetime (r16
    * advice: e21's assignment was re-checkpointed by every consumer
    * of the e21/e27/e28/e29 chain and the orphaned corpus-sized
    * blocks accumulated across the 216-query run). */
  private val lastCkpt = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()

  /** Eagerly checkpoint `df` (plan + statistics truncation, see
    * [[GraphOps.fresh]]), unpersisting the checkpoint a previous call
    * made under the same `key`. The caller must not execute plans
    * captured from the previous call afterwards (same contract as
    * [[unpersist]]). */
  def fresh(spark: org.apache.spark.sql.SparkSession, key: String,
            df: DataFrame): DataFrame = {
    val ck = GraphOps.fresh(spark, df)
    Option(lastCkpt.put((spark, key), ck)).foreach(unpersist)
    ck
  }

  def unpersist(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // BLOCKING: with blocking = false a caller that immediately
        // materializes the next corpus-sized checkpoint races the
        // async release — the block manager holds BOTH for a window,
        // and on repeated calls (bench warm pass, probe warmTimed)
        // that window is where the multi-second eviction stalls
        // live. The release is driver-side bookkeeping, milliseconds
        // against the corpus-scan calls this guards.
        lr.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
