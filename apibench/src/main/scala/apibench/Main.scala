package graft.apibench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point.
  *
  *   Main --workload api_tabular|api_raster|suite_sample --seed N
  *        --seconds S --trace 0|1 [--tiny]
  *   Main --selfcheck
  *   Main --train      (one tiny run of each workload, to record the
  *                      class-data archive the measured runs start from)
  *
  * The data directory comes from `SPARK_GRAFT_SF_DIR` as for the
  * engine's own bench, the scratch directory from `java.io.tmpdir`. The last stdout line is the
  * result: `{"correct", "attempted", "failed", "metrics"}`; the line
  * before it carries the detail (class latencies with sample counts,
  * failures by route, warm-up windows, host contention). */
object Main {
  val Workloads = Seq("api_tabular", "api_raster", "suite_sample")

  /** Measured ops per second of `--seconds`, per workload: sized so the
    * measured phase lasts about `--seconds` on a 4-core host, except that
    * `api_raster` runs 80 ops at 10 s (about 15 s), so each of its four
    * classes has the 20 samples its p50 needs. */
  private val OpsPerSecond = Map("api_tabular" -> 6.6, "api_raster" -> 8.0, "suite_sample" -> 2.4)

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, tiny: Boolean = false, selfcheck: Boolean = false,
                        train: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: w :: t => parse(t, acc.copy(workload = w))
    case "--seed" :: s :: t => parse(t, acc.copy(seed = s.toLong))
    case "--seconds" :: s :: t => parse(t, acc.copy(seconds = s.toInt))
    case "--trace" :: s :: t => parse(t, acc.copy(trace = s == "1"))
    case "--tiny" :: t => parse(t, acc.copy(tiny = true))
    case "--selfcheck" :: t => parse(t, acc.copy(selfcheck = true))
    case "--train" :: t => parse(t, acc.copy(train = true))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val code =
      if (args.selfcheck) SelfCheck.run()
      else if (args.train) SelfCheck.train()
      else {
        require(Workloads.contains(args.workload), s"unknown workload '${args.workload}'")
        val r = runOnce(args)
        println(r.detail)
        println(r.line)
        0
      }
    System.exit(code)
  }

  /** The lake the engine's bench reads (`SPARK_GRAFT_SF_DIR`, sf0.1 by
    * default); the tiny self-check uses its sf0.001 sibling. */
  def dataDir(tiny: Boolean): String = {
    val sf = graft.Bench.envSfDir(sys.env)
    if (tiny) new java.io.File(new java.io.File(sf).getParentFile, "sf0.001").getPath else sf
  }

  lazy val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session the engine's own mains build: `LocalTuning` defaults,
    * `local[cores]`, UTC, no UI; the API workloads add FAIR pools as
    * `graft.ApiLoad` does. */
  def session(fair: Boolean): SparkSession = {
    val b = graft.LocalTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/warehouse")
    val s = (if (fair) b.config("spark.scheduler.mode", "FAIR") else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Result(line: String, detail: String, attempted: Int, failed: Int,
                          metrics: Map[String, (Double, String)])

  def build(args: Args, spark: SparkSession, work: java.io.File): Workload = {
    val n = math.max(1, math.round(args.seconds * OpsPerSecond(args.workload)).toInt)
    val sf = dataDir(args.tiny)
    args.workload match {
      case "api_tabular" => new Tabular(spark, sf, work, args.seed, if (args.tiny) 40 else n)
      case "api_raster" =>
        new Raster(spark, sf, work, args.seed, if (args.tiny) 16 else n, if (args.tiny) 32 else 512)
      case "suite_sample" =>
        val w = new Suite(spark, sf, args.seed, passes = math.max(3, n / Suite.Modules.size))
        w.coldPass()
        w
    }
  }

  /** Set-up phases of this run, in seconds since JVM start. */
  private val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def mark(name: String): Unit = phases += name -> ((System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)

  def runOnce(args: Args): Result = {
    val work = new java.io.File(sys.props("java.io.tmpdir"), s"${args.workload}-${args.seed}")
    work.mkdirs()
    mark("jvm")
    val spark = session(fair = args.workload != "suite_sample")
    mark("session")
    val w = build(args, spark, work)
    mark("workload")
    try measure(args, spark, w) finally w.close()
  }

  private def port(w: Workload): Option[Int] = w match {
    case t: Tabular => Some(t.port)
    case r: Raster => Some(r.port)
    case _ => None
  }

  /** Heap in use after GC, once it stops shrinking: Spark's
    * `ContextCleaner` frees broadcast and shuffle blocks on its own
    * thread after a GC finds them unreachable, so a single GC reads
    * whichever of them it has not reached yet. */
  def liveHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var k = 0
    var done = false
    while (!done && k < 8) {
      Thread.sleep(250)
      val now = used()
      done = now > last - 0.5
      last = math.min(last, now)
      k += 1
    }
    last
  }

  def measure(args: Args, spark: SparkSession, w: Workload): Result = {
    val https = (0 until w.clients).map(_ => port(w).map(new Http(_)).orNull)
    // the tiny size only proves the workload runs: one warm-up window
    val warm = Load.warmUp(w, https, if (args.tiny) 1 else w.warmWindows)
    mark("warmup")
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val contention = new graft.Bench.ContentionSampler
    val (cg0, gc0) = (Codegen.snapshot(), Traced.gcMs())
    val samples = Load.closedLoop(w.ops.size, w.ops, https)
    val (cg1, gc1) = (Codegen.snapshot(), Traced.gcMs())
    val (steal, _, foreign, _) = contention.summary()
    // codegen and GC are process-wide counters, read over the untraced
    // measured pass (a replay finds every plan's code already compiled)
    val global = Map("codegen.compile_ms" -> (cg1._1 - cg0._1),
      "codegen.compiles" -> (cg1._2 - cg0._2).toDouble, "jvm.gc_ms" -> (gc1 - gc0))
      .map { case (k, v) => k -> v / samples.size }

    val traced = if (args.trace) Some(Traced.replay(spark, w, https, samples, global)) else None
    val probed = if (args.trace) w.probe() else Nil
    val heapMb = liveHeapMb()

    val failed = samples.filterNot(_.ok)
    val lat = samples.map(s => if (s.ok) s.ms else Double.PositiveInfinity)
    val span = (samples.map(_.t1).max - samples.map(_.t0).min) / 1e9
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (samples.size / span, "1/s"),
      "p50_ms" -> (Stats.pct(lat, 0.5).getOrElse(Double.NaN), "ms"),
      "heap_live_mb" -> (heapMb, "MB"))
    val metrics = traced.map(_.metrics).getOrElse(endToEnd)
    val correct = metrics.values.forall(v => !v._1.isNaN)
    def ms(v: Option[Double]) = v.map(Out.num).getOrElse("null")
    val classes = samples.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, xs) =>
      val l = xs.map(s => if (s.ok) s.ms else Double.PositiveInfinity)
      c -> Out.obj(Seq("n" -> xs.size.toString, "failed" -> xs.count(!_.ok).toString,
        "p50_ms" -> ms(Stats.pct(l, 0.5)), "p90_ms" -> ms(Stats.pct(l, 0.9))))
    }
    val detail = Out.obj(Seq(
      "workload" -> Out.str(args.workload), "seed" -> args.seed.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "ops_total" -> samples.size.toString, "ops_failed" -> failed.size.toString,
      "failed_by_route" -> Out.obj(failed.groupBy(_.route).toSeq.sortBy(_._1)
        .map { case (r, xs) => r -> xs.size.toString }),
      "failures" -> failed.take(5).map(f => Out.str(s"${f.cls}: ${f.why}")).mkString("[", ",", "]"),
      "n" -> samples.size.toString,
      "p90_ms" -> ms(Stats.pct(lat, 0.9)),
      "classes" -> Out.obj(classes)) ++ w.detail(samples) ++ Seq(
      "warmup_ops" -> (warm.size * w.window).toString,
      "warmup_window_medians_ms" -> warm.map(Out.num).mkString("[", ",", "]"),
      "steal_share" -> Out.num(steal), "foreign_share" -> Out.num(foreign),
      "cpus" -> cpus.toString,
      "setup_phases_s" -> Out.obj(phases.toSeq.map { case (k, v) => k -> Out.num(v) })) ++ traced.map(_.detail).getOrElse(Nil) ++ probed)
    val line = Out.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> samples.size.toString,
      "failed" -> failed.size.toString,
      "metrics" -> Out.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Out.obj(Seq("value" -> Out.num(v), "unit" -> Out.str(u))) })))
    Result(line, detail, samples.size, failed.size, metrics)
  }
}
