package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One module of the engine's query surface: one [[Op]] per query,
  * each carrying its DuckDB oracle. `SparkEntry` unions all modules
  * into the driver contract.
  *
  * Conventions for DuckDB-oracle parity (the driver hash-compares
  * values after sorting columns by name):
  *   - alias every computed column identically in Spark and oracle SQL;
  *   - aggregate doubles through exact `decimal` casts (testdata doubles
  *     are 2-decimal-valued) so sums are order-independent, then cast
  *     back to double so output schemas agree;
  *   - per-row double arithmetic is IEEE-identical in both engines and
  *     needs no rounding;
  *   - prefer `cast(ts as date)` over raw timestamps in projections.
  */
trait QueryModule {
  /** Every query of the module, each name once; `queries` and
    * `oracles` are built from it on each call. */
  def ops: Seq[Op]

  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryModule.byName(moduleName, ops.map(op => op.name -> op.run))

  /** DuckDB-runnable ANSI SQL oracle per query name. */
  final def oracles: Map[String, String] =
    QueryModule.byName(moduleName, ops.map(op => op.name -> op.oracle))

  private def moduleName: String = getClass.getSimpleName.stripSuffix("$")

  /** Sidecar dumps for the scale-gate contracts: extra engine state
    * (converged centroids, cell assignments, …) written by Verify
    * under `outDir/_aux/<name>` so a [[ScaleCheck]] can anchor a
    * linear replay where the full oracle would be quadratic. Skipped
    * by the driver's per-query compare (underscore prefix). */
  def auxDumps: Map[String, (SparkSession, String) => DataFrame] = Map.empty

  /** Scale contracts per query key — the sf1 gate's fallback when the
    * full-corpus oracle is quadratic (ORATIME) or fixture-scale-only
    * (documented LSH recall). Generated against a live session + sfDir
    * because the right check can be scale-dependent (e21's assignment
    * is exhaustive argmax at k ≤ 64 but hierarchically routed above).
    * Evaluated by `scripts/localcheck.py --scale-contracts` ONLY after
    * the full compare fails; at sf0.01 every full oracle passes so
    * contracts never fire there. */
  def scaleContracts(spark: SparkSession, sfDir: String): Map[String, Seq[ScaleCheck]] =
    Map.empty
}

/** One named check of a scale contract. Both sides are DuckDB SQL over
  * the base tables plus path placeholders the harness substitutes:
  * `{q}` = the query's own dumped parquet dir, `{aux}` = the `_aux`
  * sidecar dir, `{qof:NAME}` = another query's dumped dir (cross-
  * artifact anchoring — only to queries whose OWN full oracle stays
  * green at scale).
  *
  * kinds:
  *  - `exact`: both sides' result sets must match (the same
  *    column-sorted, row-canonicalized compare as the full gate);
  *  - `recall`: spark side returns one row `(n_got, n_matched)`,
  *    oracle side one row `(n_exact)`; passes iff `n_matched == n_got`
  *    (everything emitted is TRUE — subset) and
  *    `n_matched >= bound · n_exact` (the documented recall floor).
  */
final case class ScaleCheck(name: String, kind: String, spark: String,
                            oracle: String, bound: Double = 0.0)

/** One query: its name, the engine build of its result over a lake
  * dir, and the DuckDB SQL that must return the same rows. The oracle
  * text is built on first read, so `queries` never pays for it. */
final class Op(val name: String, val run: (SparkSession, String) => DataFrame,
               oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

object Op {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
            oracle: => String): Op = new Op(name, run, oracle)
}

object QueryModule {
  /** `entries` as a map; a name declared twice is an error rather than
    * a silent overwrite by the later entry. */
  def byName[V](owner: String, entries: Seq[(String, V)]): Map[String, V] = {
    val twice = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty,
      s"$owner declares ${twice.toSeq.sorted.mkString(", ")} more than once")
    entries.toMap
  }
}

/** [[Op]]s whose Spark side is SQL text run over the registered lake
  * tables. */
object SqlQ {
  def split(name: String, sparkSql: String, oracleSql: String): Op =
    Op(name, (spark, sfDir) => {
      Tables.register(spark, sfDir)
      spark.sql(sparkSql)
    }, oracleSql)

  /** Same text runs on both engines. */
  def shared(name: String, sql: String): Op = split(name, sql, sql)
}
