package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All engine modules contributing to the query surface. */
  private def modules: Seq[QueryModule] = Seq(
    relational.RelationalQueries,
    textops.TextQueries,
    simsearch.SimQueries,
    multimodal.MultimodalQueries,
    geo.GeoQueries,
    raster.RasterQueries,
    etl.EtlQueries,
    streaming.StreamingQueries,
    api.ApiParityQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_agg_groupby")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs the native functions before it runs: the contract accepts
    * sessions the engine did not build (`install` is a no-op after its
    * first call per session). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap.map { case (name, fn) =>
      name -> { (spark: SparkSession, sfDir: String) =>
        graft.functions.GraftFunctions.install(spark)
        fn(spark, sfDir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap

  /** Sidecar dumps consumed by the scale contracts (see
    * [[QueryModule.auxDumps]]); Verify writes them under `_aux/`. */
  def auxDumps: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.auxDumps).toMap

  /** sf1-gate scale contracts (see [[QueryModule.scaleContracts]]). */
  def scaleContracts(spark: SparkSession, sfDir: String): Map[String, Seq[ScaleCheck]] =
    modules.flatMap(_.scaleContracts(spark, sfDir)).toMap
}
