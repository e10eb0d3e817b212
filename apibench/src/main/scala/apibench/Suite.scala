package graft.apibench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `suite_sample`: one serial client running a fixed module-stratified
  * sample of `SparkEntry.queries` the way `graft.Bench` runs them (query
  * function, then consume the result): one query per module, listed in
  * `Suite.SampleQueries`. The seed rotates the order of the cold and the
  * warm passes; the measured passes run in module order, because the order
  * moved the numbers too (a reshuffle per seed moved throughput by 15%,
  * and the last query decides how much state the final live heap
  * holds). Membership is fixed because the suite's costs and retained
  * driver state are heavy-tailed: a seed-drawn sample moved throughput
  * by 15% and live heap by 68% between seeds. Set-up runs the sample
  * once (cold) and records a fingerprint of each result; the measured
  * phase runs it `passes` times and must reproduce them. */
final class Suite(spark: SparkSession, sfDir: String, seed: Long, passes: Int) extends Workload {
  import Suite._

  val clients = 1
  /** After the cold pass, two unmeasured warm passes: each of the first
    * passes after the cold one ran 5-30% faster than the one before. */
  val window: Int = Modules.size
  override def warmWindows: Int = 2
  def warmOps: Int = warmWindows * window

  private val queries = graft.SparkEntry.queries
  val sample: IndexedSeq[(String, String)] = SampleQueries.map { case (name, module) =>
    require(Modules.toMap.apply(module).queries.contains(name),
      s"sampled query $name is no longer in module $module")
    name -> module
  }.toIndexedSeq
  private val rotation = new Random(seed * 1000003L + 31).nextInt(sample.size)
  /** Sample order of the cold and the warm passes. */
  private val setupOrder = sample.indices.map(i => (i + rotation) % sample.size)

  private val fingerprints = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Runs one query: the query function (the build layer), then
    * every row and column of its result, folded into a fingerprint. */
  def runQuery(name: String, t: Option[Tracer] = None): String = {
    def span[T](n: String)(b: => T): T = t.fold(b)(_.span(n)(b))
    val df: DataFrame = span("suite.build")(queries(name)(spark, sfDir))
    span("suite.exec") {
      val it = df.toLocalIterator()
      var n = 0L; var h = 0L
      while (it.hasNext) {
        h += scala.util.hashing.MurmurHash3.stringHash(it.next().toString).toLong
        n += 1
      }
      t.foreach { tr => tr.catalyst(df); tr.addHere("rows_out", n) }
      s"$n:$h"
    }
  }

  private def op(i: Int): Op = {
    val (name, module) = sample(i)
    new Op("query", module) {
      def input: String = name
      def run(h: Http) = {
        val fp = runQuery(name)
        (Reply(200, fp), () => {
          val want = Oracle(fingerprints.get(name))
          if (want == fp) None else Some(s"fingerprint $fp differs from the cold pass's $want")
        })
      }
      def direct(t: Tracer): Unit = runQuery(name, Some(t))
    }
  }

  /** The cold pass: each sampled query once, recording its fingerprint. */
  def coldPass(): Unit = setupOrder.foreach { i =>
    val n = sample(i)._1
    fingerprints.put(n, runQuery(n))
  }

  def warmOp(k: Int): Op = op(setupOrder(k % sample.size))
  val ops: IndexedSeq[Op] = (0 until passes * sample.size).map(k => op(k % sample.size))

  /** Each sampled query's latencies, by module. */
  override def detail(samples: Seq[Sample]): Seq[(String, String)] =
    Seq("module_ms" -> Out.obj(sample.map { case (n, m) =>
      m -> samples.filter(_.route == m).map(s => Out.num(math.rint(s.ms))).mkString(s"""["$n",""", ",", "]")
    }))
}

object Suite {
  /** The modules the sample stratifies over (the API parity module is
    * left out: `api_tabular` covers those routes). */
  val Modules: Seq[(String, graft.QueryModule)] = Seq(
    "relational" -> graft.relational.RelationalQueries,
    "textops" -> graft.textops.TextQueries,
    "simsearch" -> graft.simsearch.SimQueries,
    "multimodal" -> graft.multimodal.MultimodalQueries,
    "geo" -> graft.geo.GeoQueries,
    "raster" -> graft.raster.RasterQueries,
    "etl" -> graft.etl.EtlQueries,
    "streaming" -> graft.streaming.StreamingQueries)

  /** The sample, as (query, module): per module, the query whose warm
    * time was nearest the whole suite's median warm time (0.32 s),
    * measured once with one cold and one warm pass at local[4] on sf0.1
    * on a 4-core 15 GB host. */
  val SampleQueries: Seq[(String, String)] = Seq(
    "a6_two_level_agg" -> "relational",
    "t8_sequence_pack" -> "textops",
    "e17_bq_rerank" -> "simsearch",
    "m17_clip_filter" -> "multimodal",
    "g10_grid_clip_exact" -> "geo",
    "r7_batch_zonal" -> "raster",
    "s4_wkb_csv_ingest" -> "etl",
    "sg1_stream_classifier" -> "streaming")
}
