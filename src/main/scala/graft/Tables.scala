package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-provided parquet tables (TESTDATA.md) and registers
  * them as temp views.
  *
  * Mirrors the reference's dataset→version table resolution (SURVEY
  * §1.1; reference `app/routes/datasets/queries.py:375-377` resolves a
  * user's FROM target to a schema-qualified `dataset.version` table):
  * here each parquet file is one "version table" of the lake.
  */
object Tables {

  /** Source-file fingerprint for /tmp memo keys and sidecar paths —
    * a path-only key serves STALE artifacts after the testdata under
    * it is regenerated (centroids/codes/media from the old corpus
    * against oracles reading the new one). One shared helper so the
    * scheme cannot drift across the memos (k-means, e11 PQ sidecars,
    * the media lakes); fails fast on a missing source rather than
    * fingerprinting it as a silent constant. */
  def sourceTag(path: String): String = {
    val f = new java.io.File(path)
    require(f.exists, s"fingerprint source missing: $path")
    s"${f.lastModified}_${f.length}"
  }

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both TIMESTAMP(NANOS) (which Spark 4
      // refuses by default — we read the raw int64 nanos and floor-
      // divide to micros, the same truncation DuckDB applies) and as
      // native TIMESTAMP(MICROS, NTZ). Branch on the resolved type so
      // either file vintage works; session TZ is pinned UTC so the
      // NTZ→TIMESTAMP cast is value-preserving.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path(sfDir, name))
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      raw.schema("ts").dataType match {
        case LongType =>
          // FLOOR division (ts div 1000 truncates toward zero, which
          // disagrees with floor by 1µs on pre-epoch nanos)
          raw.withColumn("ts", timestamp_micros(
            expr("(ts - ((ts % 1000 + 1000) % 1000)) div 1000")))
        case TimestampType => raw
        case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else spark.read.parquet(path(sfDir, name))

  // the lake dir each session's views are bound to, after a clean
  // registration: one dir per session, since the views of a second
  // dir replace the first's (alternating dirs re-registers each time)
  private val registeredFor =
    scala.collection.mutable.Set.empty[(SparkSession, String)]
  @volatile private var loadFailures: Map[String, Throwable] = Map.empty

  /** Load errors from the most recent [[register]], keyed by table
    * name. A table listed here has no temp view; queries that
    * reference it fail at resolution while the other tables serve. */
  def loadErrors: Map[String, Throwable] = loadFailures

  /** Tables whose consumers do heavy PER-ROW compute before the first
    * exchange (shingling/minhash over `documents`, vector casts + dot
    * products over `embeddings`). The driver testdata ships them as
    * single-row-group parquet, which parquet cannot split — so every
    * pre-shuffle stage of every consumer ran as ONE task at any core
    * count (optimization guide §2.5, "input skew: one huge
    * unsplittable file … repartition immediately after the read"). */
  private val spreadTables = Set("documents", "embeddings")

  /** Spread a view across the session's cores IFF the scan is
    * narrower than the session's parallelism. Scale-guarded: at real
    * corpus sizes the scan already has ≥ cores partitions and the
    * view stays the bare scan — no per-query shuffle is ever added at
    * 100 TB; locally it costs one sub-MB exchange and parallelizes
    * all downstream row work. Explicit count, because a count-less
    * round-robin is re-coalesced to one task by AQE's 1 MB
    * min-partition floor on these sub-MB tables. */
  private def spreadIfNarrow(spark: SparkSession, name: String,
                             df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (spreadTables.contains(name) &&
        df.rdd.getNumPartitions < par) df.repartition(par)
    else df
  }

  /** Register every lake table as a temp view for the SQL surface.
    * Idempotent per (session, lake dir): repeated queries skip the
    * catalog round trips (parquet footer reads) entirely.
    *
    * Failure-isolated per table: one unreadable parquet (corrupt file,
    * schema drift the loader can't bridge) must not poison the other
    * nine views — its error is recorded in [[loadErrors]] and surfaces
    * only when a query actually references the broken table. */
  def register(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (!registeredFor.contains((spark, sfDir))) {
      var failures = Map.empty[String, Throwable]
      all.foreach { n =>
        try spreadIfNarrow(spark, n, load(spark, sfDir, n))
          .createOrReplaceTempView(n)
        catch {
          case scala.util.control.NonFatal(e) =>
            spark.catalog.dropTempView(n)
            failures += (n -> e)
            System.err.println(
              s"[graft] table '$n' failed to load from $sfDir " +
                s"(queries over it will fail; others serve): ${e.getMessage}")
        }
      }
      loadFailures = failures
      // latch the (session, dir) pair only on a clean registration: a
      // transiently unreadable table (mid-rewrite, fs blip) must stay
      // retryable — the next register() call reloads instead of
      // serving the cached failure for the session's lifetime. A later
      // register() against a DIFFERENT dir rebinds the views, so any
      // pair registered earlier in this session is re-registered when
      // it next comes around — the set only skips the case where the
      // views are already bound to this exact dir.
      if (failures.isEmpty) {
        registeredFor.retain(_._1 != spark)
        registeredFor += ((spark, sfDir))
      } else registeredFor.retain(_._1 != spark)
    }
  }
}
