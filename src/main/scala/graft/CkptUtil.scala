package graft

import org.apache.spark.sql.DataFrame

/** The one way to materialize a query intermediate ([[fresh]]) and
  * the one way to free it ([[unpersist]]).
  *
  * A checkpointed DataFrame holds its blocks in the block manager
  * until they are freed — queries that materialize a large
  * intermediate (the t13/t27 tokenize output: ~700 MB at the 100×
  * probe) and derive a small result from it would otherwise leak the
  * large blocks across a 174-query bench run, and the writeback /
  * eviction churn surfaces as multi-second stalls in UNRELATED
  * queries.
  *
  * Ownership: a query frees an intermediate it has materialized past
  * (every consumer itself checkpointed, collected or drained into a
  * sink); otherwise the blocks go when the query's result is dropped
  * and the ContextCleaner collects the RDD. A checkpoint is never
  * shared across calls, so one call's release cannot reach another
  * call's live blocks.
  */
object CkptUtil {

  /** Eager localCheckpoint of `df`, returned as a plain scan of the
    * checkpointed RDD (see [[org.apache.spark.sql.graft.SessionBridge.rddScan]]).
    * `localCheckpoint` cuts the logical plan but INHERITS the
    * pre-checkpoint plan's Catalyst statistics into the resulting
    * LogicalRDD, and a fixed-point loop COMPOUNDS them: every round's
    * join-size estimate is a product over its children, so the
    * inherited sizeInBytes grows double-exponentially in round count —
    * around round 10 the BigInt has millions of digits and the DRIVER
    * spends minutes per plan inside BigInteger.multiplyToomCook3
    * (measured: m21's hash graph pinned the main thread there; d7's
    * 2–4-round doc graphs never ran long enough to fall off the
    * cliff). The returned frame carries no statistics of its own, so
    * it reads `spark.sql.defaultSizeInBytes`: the same constant on
    * every round, which nothing can compound. [[unpersist]] on the
    * returned frame frees its blocks. */
  def fresh(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.SessionBridge.rddScan(df.localCheckpoint())

  /** Frees the blocks of every checkpointed RDD `df` scans. The freed
    * DataFrame must not be executed again. */
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
