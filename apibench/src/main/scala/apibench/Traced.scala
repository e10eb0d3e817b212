package graft.apibench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The traced run: after the untraced measured pass, the same ops are
  * replayed by the same clients, each as one HTTP call and one direct
  * call of the entry points its handler calls (the order alternates by
  * op so neither side always finds the other's caches warm). Spans and
  * Spark's accounting cover the direct calls; a ~100 Hz `/ping` prober
  * runs throughout. Per-op values are means over the measured ops. */
object Traced {
  final case class Layers(metrics: Map[String, (Double, String)], detail: Seq[(String, String)])

  val Modules: Seq[String] = Suite.Modules.map(_._1)

  /** Every per-layer metric with its unit, in the order printed. */
  val Names: Seq[(String, String)] = Seq(
    "api.self_ms" -> "ms", "api.ping_p99_ms" -> "ms",
    "sqlgate.gate_ms" -> "ms", "catalog.resolve_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.plans" -> "count",
    "codegen.compile_ms" -> "ms", "codegen.compiles" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.sched_delay_ms" -> "ms", "exec.shuffle_bytes" -> "bytes", "exec.skew" -> "ratio",
    "exec.task_failures" -> "count", "exec.rows_read_per_row_out" -> "ratio",
    "raster.build_ms" -> "ms", "raster.env_ms" -> "ms",
    "raster.tiles_read_per_hit" -> "ratio", "raster.mpx_per_s" -> "Mpx/s",
    "geo.aoi_ms" -> "ms",
    "etl.append_ms" -> "ms", "etl.ingest_rows_per_s" -> "1/s",
    "etl.bytes_stored_per_source_byte" -> "ratio",
    "sinks.render_ms" -> "ms", "sinks.bytes_per_op" -> "bytes",
    "suite.build_ms" -> "ms", "suite.build_jobs" -> "count", "suite.exec_ms" -> "ms") ++
    Modules.flatMap(m => Seq(s"suite.$m.build_ms" -> "ms", s"suite.$m.exec_ms" -> "ms")) ++ Seq(
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB", "trace.overhead_pct" -> "%")

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** `global` carries the process-wide per-op counters read over the
    * untraced pass (codegen, GC). */
  def replay(spark: SparkSession, w: Workload, https: IndexedSeq[Http],
             untraced: Seq[Sample], global: Map[String, Double]): Layers = {
    val n = w.ops.size
    val tracer = new Tracer(spark)
    val httpMs = new Array[Double](n)
    val directMs = new Array[Double](n)
    val pings = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var stop = false
    // four probers, so a p99 has its 1 000 samples even when a ping
    // waits 100 ms behind the load
    val pinger = https.headOption.flatMap(Option(_)).toSeq.flatMap { h =>
      (0 until 4).map { _ =>
        val t = new Thread(() => while (!stop) {
          val t0 = System.nanoTime()
          val ok = try h.get("/ping").status == 200 catch { case _: Throwable => false }
          pings.add(if (ok) (System.nanoTime() - t0) / 1e6 else Double.PositiveInfinity)
          Thread.sleep(10)
        })
        t.setDaemon(true); t.start(); t
      }
    }
    val t0 = System.nanoTime()
    Load.closedLoop(n, i => new Op(w.ops(i).cls, w.ops(i).route) {
      def input: String = w.ops(i).input
      def direct(t: Tracer): Unit = ()
      def run(h: Http) = {
        def viaHttp(): Unit = if (h != null) {
          val s = System.nanoTime(); w.ops(i).run(h); httpMs(i) = (System.nanoTime() - s) / 1e6
        }
        def viaDirect(): Unit = {
          val s = System.nanoTime(); tracer.op(i)(w.ops(i).direct(tracer))
          directMs(i) = (System.nanoTime() - s) / 1e6
        }
        if (i % 2 == 0) { viaHttp(); viaDirect() } else { viaDirect(); viaHttp() }
        (Reply(200, ""), () => None)
      }
    }, if (https.forall(_ == null)) IndexedSeq.fill(w.clients)(null) else https, check = false)
    val wallMs = (System.nanoTime() - t0) / 1e6
    stop = true
    pinger.foreach(_.join())
    tracer.drain()
    tracer.stop()
    val heapMb = Main.liveHeapMb()

    val self = tracer.selfTimes()
    val wall = tracer.wallMs()
    val cnt = tracer.counters
    def sumSelf(name: String) = self.collect { case ((_, k), v) if k == name => v }.sum
    def sumWall(name: String) = wall.collect { case ((_, k), v) if k == name => v }.sum
    def sumCnt(name: String) = cnt.collect { case ((_, k), v) if k == name => v }.sum
    def per(v: Double) = v / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val modOf: Map[Int, String] = w.ops.indices.map(i => i -> w.ops(i).route).toMap
    def modSum(m: String, name: String) =
      self.collect { case ((op, k), v) if k == name && modOf.get(op).contains(m) => v }.sum
    val modN = (m: String) => w.ops.count(_.route == m)
    // the tile lakes hold one row per tile, so the rows a raster op's
    // scans read are the tiles it read
    val rasterOps = cnt.keys.collect { case (op, "raster.tiles_hit") => op }.toSeq
    def opCnt(op: Int, name: String) = cnt.getOrElse((op, name), 0.0)
    val tilesRead = rasterOps.map(opCnt(_, "exec.rows_read")).sum
    val pixels = rasterOps.map(o => opCnt(o, "exec.rows_read") * opCnt(o, "raster.tile_px")).sum

    val apiSelf = if (https.forall(_ == null)) 0.0
      else Stats.median(httpMs.indices.map(i => httpMs(i) - directMs(i)))
    val pingL = pings.asScala.toSeq
    val v: Map[String, Double] = Map(
      "api.self_ms" -> apiSelf,
      "api.ping_p99_ms" -> Stats.pct(pingL, 0.99).getOrElse(0.0),
      "sqlgate.gate_ms" -> per(sumSelf("sqlgate")),
      "catalog.resolve_ms" -> per(sumSelf("catalog")),
      "catalyst.analysis_ms" -> per(sumCnt("catalyst.analysis_ms")),
      "catalyst.optimization_ms" -> per(sumCnt("catalyst.optimization_ms")),
      "catalyst.planning_ms" -> per(sumCnt("catalyst.planning_ms")),
      "catalyst.plans" -> per(sumCnt("catalyst.plans")),
      "codegen.compile_ms" -> global("codegen.compile_ms"),
      "codegen.compiles" -> global("codegen.compiles"),
      "exec.jobs" -> per(sumCnt("exec.jobs")),
      "exec.stages" -> per(sumCnt("exec.stages")),
      "exec.tasks" -> per(sumCnt("exec.tasks")),
      "exec.task_run_ms" -> per(sumCnt("exec.task_run_ms")),
      "exec.task_cpu_ms" -> per(sumCnt("exec.task_cpu_ms")),
      "exec.gc_ms" -> per(sumCnt("exec.gc_ms")),
      "exec.sched_delay_ms" -> per(sumCnt("exec.sched_delay_ms")),
      "exec.shuffle_bytes" -> per(sumCnt("exec.shuffle_bytes")),
      "exec.skew" -> ratio(sumCnt("exec.skew_sum"), sumCnt("exec.skew_n")),
      "exec.task_failures" -> per(sumCnt("exec.task_failures")),
      "exec.rows_read_per_row_out" -> ratio(sumCnt("exec.rows_read"), sumCnt("rows_out")),
      "raster.build_ms" -> per(sumSelf("raster.build")),
      "raster.env_ms" -> per(sumSelf("raster.env")),
      "raster.tiles_read_per_hit" -> ratio(tilesRead, sumCnt("raster.tiles_hit")),
      "raster.mpx_per_s" -> ratio(pixels / 1e6,
        (sumWall("raster.build") + sumWall("sinks")) / 1e3),
      "geo.aoi_ms" -> per(sumSelf("geo")),
      "etl.append_ms" -> ratio(sumSelf("etl"), sumCnt("etl.appends")),
      "etl.ingest_rows_per_s" -> ratio(sumCnt("etl.rows"), sumWall("etl") / 1e3),
      "etl.bytes_stored_per_source_byte" -> ratio(sumCnt("etl.stored_bytes"), sumCnt("etl.source_bytes")),
      "sinks.render_ms" -> per(math.max(0.0, sumWall("sinks") - sumCnt("exec.job_ms_in_sinks"))),
      "sinks.bytes_per_op" -> per(sumCnt("sinks.bytes")),
      "suite.build_ms" -> per(sumSelf("suite.build")),
      "suite.build_jobs" -> per(sumCnt("jobs.suite.build")),
      "suite.exec_ms" -> per(sumSelf("suite.exec")),
      "jvm.gc_ms" -> global("jvm.gc_ms"),
      "jvm.heap_after_gc_mb" -> heapMb,
      "trace.overhead_pct" -> 100.0 * tracer.selfNs.get / 1e6 / (wallMs * w.clients)) ++
      Modules.flatMap { m =>
        val k = modN(m)
        Seq(s"suite.$m.build_ms" -> ratio(modSum(m, "suite.build"), k),
          s"suite.$m.exec_ms" -> ratio(modSum(m, "suite.exec"), k))
      }
    val metrics = Names.map { case (k, u) => k -> ((v(k), u)) }.toMap
    val detail = Seq(
      "trace_ops" -> n.toString,
      "trace_spans" -> tracer.spanCount.toString,
      "trace_pings" -> pingL.size.toString,
      "trace_untraced_p50_ms" -> Out.num(Stats.median(untraced.map(_.ms))),
      "trace_direct_p50_ms" -> Out.num(Stats.median(directMs.toSeq)),
      "trace_http_p50_ms" -> Out.num(if (https.forall(_ == null)) Double.NaN else Stats.median(httpMs.toSeq)),
      "trace_raster_tiles_read" -> Out.num(tilesRead),
      "trace_raster_tiles_hit" -> Out.num(sumCnt("raster.tiles_hit")),
      "trace_appends" -> Out.num(sumCnt("etl.appends")),
      "trace_overhead_pct" -> Out.num(v("trace.overhead_pct")))
    Layers(metrics, detail)
  }
}
