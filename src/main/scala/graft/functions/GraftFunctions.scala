package graft.functions

import org.apache.spark.sql.SparkSession

/** Registers the engine's native Catalyst expressions in the session
  * `FunctionRegistry`, making them callable from the SQL dialect (the
  * reference registers its function surface inside PostgreSQL; ours
  * lives in Catalyst — SURVEY §2.8).
  */
object GraftFunctions {

  import org.apache.spark.sql.catalyst.expressions.Expression

  /** The full native function surface (sketches + raster + geometry):
    * name → expression builder. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "polyhash" -> ((es: Seq[Expression]) => PolyHash(es.head)),
    "nfc_normalize" -> ((es: Seq[Expression]) => NfcNormalize(es.head)),
    "vec_dot" -> ((es: Seq[Expression]) => VecDot(es(0), es(1))),
    "vec_sqdist" -> ((es: Seq[Expression]) => VecSqDist(es(0), es(1), es(2), es(3))),
    "vec_signbits" -> ((es: Seq[Expression]) => VecSignBits(es(0), es(1), es(2))),
    "ngram_hashes" -> ((es: Seq[Expression]) => NGramHashes(es(0), es(1))),
    "shingle_hashes" -> ((es: Seq[Expression]) => ShingleHashes(es(0), es(1))),
    "minhash36" -> ((es: Seq[Expression]) => MinHash36(es.head)),
    "simhash31" -> ((es: Seq[Expression]) => SimHash31(es.head)),
    "rph_sig" -> ((es: Seq[Expression]) => RphSig(es(0), es(1), es(2))),
    "km_argmax" -> ((es: Seq[Expression]) => KmArgmax(es(0), es(1), es(2))),
    "vec_ordered_mean" -> ((es: Seq[Expression]) => VecOrderedMean(es(0), es(1))),
    "arr_sum" -> ((es: Seq[Expression]) => ArrSum(es.head)),
    "arr_hist" -> ((es: Seq[Expression]) => ArrHist(es)),
    "hist_merge" -> ((es: Seq[Expression]) =>
      graft.raster.HistMergeAgg(es(0), es(1), es(2), es(3))),
    "bloom_agg" -> ((es: Seq[Expression]) => BloomAgg(es(0), es(1), es(2))),
    "bloom_might_contain" -> ((es: Seq[Expression]) =>
      BloomMightContain(es(0), es(1)))) ++
    graft.geo.GeoFunctions.builders

  /** Sessions already installed (weak: a stopped session is dropped). */
  private val installed =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Registers [[builders]] and the rule exclusion on the first call
    * for a session; later calls are no-ops, so a served request never
    * rewrites the registry or conf that concurrent requests read. */
  def install(spark: SparkSession): Unit = installed.synchronized {
    if (!installed.contains(spark)) {
      val reg = spark.sessionState.functionRegistry
      builders.foreach { case (name, b) =>
        reg.createOrReplaceTempFunction(name, b, "built-in") }
      excludeGenerateFilterInference(spark)
      installed.add(spark)
    }
  }

  /** `InferFiltersFromGenerate` adds `size(e) > 0 AND isnotnull(e)`
    * below every inner generate; predicate pushdown then inlines the
    * generator input through its projection, so an expensive
    * signature expression (`rph_sig`, `shingle_hashes`, …) evaluates
    * THREE times per row in the scan filter (visible in the round-2
    * e4 plan dump). Our generated arrays are never empty or null for
    * the rows that reach them, so the inferred filters only burn CPU
    * — exclude the rule for engine sessions. */
  def excludeGenerateFilterInference(spark: SparkSession): Unit = {
    val rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key).filter(_.nonEmpty)
    if (!prior.exists(_.contains(rule)))
      spark.conf.set(key, prior.map(_ + "," + rule).getOrElse(rule))
  }

  /** `SparkSessionExtensions` injection (see [[graft.GraftExtensions]]):
    * the same builders, registered the declarative way a deployed
    * cluster configures them (`spark.sql.extensions`). */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), b))
    }
  }
}
