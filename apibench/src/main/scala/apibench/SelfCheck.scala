package graft.apibench

/** The benchmark's own self-check, on the tiny data set: every workload
  * runs in a tiny size, prints the metric names and units it promises,
  * counts a corrupted expected answer as a failed op, and a new seed
  * changes its inputs but not its op counts. */
object SelfCheck {
  val EndToEnd: Map[String, String] =
    Map("setup_s" -> "s", "ops_per_s" -> "1/s", "p50_ms" -> "ms", "heap_live_mb" -> "MB")

  /** One tiny run of every workload, in one JVM. It is untraced, which
    * keeps the build short; traced runs load the tracer's classes
    * outside the archive. */
  def train(): Int = {
    val spark = Main.session(fair = true)
    for (wl <- Main.Workloads) {
      val args = Main.Args(workload = wl, seed = 1, seconds = 2, tiny = true)
      val d = new java.io.File(sys.props("java.io.tmpdir"), s"train-$wl"); d.mkdirs()
      val w = Main.build(args, spark, d)
      try Main.measure(args, spark, w) finally w.close()
    }
    spark.stop()
    0
  }

  def run(): Int = {
    var ok = true
    def check(name: String, cond: Boolean, info: => String = ""): Unit = {
      println(s"${if (cond) "PASS" else "FAIL"} $name${if (cond) "" else s" ($info)"}")
      ok &&= cond
    }
    val spark = Main.session(fair = true)
    for (wl <- Main.Workloads) {
      val args = Main.Args(workload = wl, seed = 1, seconds = 2, tiny = true)
      def dir(seed: Long) = {
        val d = new java.io.File(sys.props("java.io.tmpdir"), s"selfcheck-$wl-$seed"); d.mkdirs(); d
      }
      val w = Main.build(args, spark, dir(1))
      try {
        val r = Main.measure(args, spark, w)
        check(s"$wl: end-to-end metric names and units",
          r.metrics.map { case (k, (_, u)) => k -> u } == EndToEnd, r.metrics.toString)
        check(s"$wl: answers match their oracles", r.failed == 0, r.detail)
        Oracle.corrupt = true
        val bad = try Main.measure(args, spark, w) finally Oracle.corrupt = false
        check(s"$wl: a corrupted expected answer counts as a failed op",
          bad.failed == bad.attempted && bad.attempted > 0, bad.detail)
        val t = Main.measure(args.copy(trace = true), spark, w)
        check(s"$wl: per-layer metric names and units",
          t.metrics.map { case (k, (_, u)) => k -> u } == Traced.Names.toMap, t.metrics.keys.toString)
        val w2 = Main.build(args.copy(seed = 2), spark, dir(2))
        // (the suite's seed orders its set-up passes; its measured
        // passes run in a fixed order)
        def inputs(x: Workload) = (0 until x.warmOps).map(x.warmOp(_).input) ++ x.ops.map(_.input)
        try check(s"$wl: a new seed changes the inputs but not the op counts",
          w2.ops.map(_.cls) == w.ops.map(_.cls) && inputs(w2) != inputs(w))
        finally w2.close()
      } catch {
        case e: Throwable => check(s"$wl: ran", cond = false, e.toString)
      } finally w.close()
    }
    spark.stop()
    if (ok) 0 else 1
  }
}
