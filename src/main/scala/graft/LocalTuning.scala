package graft

import org.apache.spark.sql.SparkSession

/** The one way to build an engine session ([[LocalTuning.session]])
  * and the defaults it carries — the r16 optimization round's
  * host-level shuffle fixes, found via executor thread dumps
  * (optimization guide §7.3) on the bench box:
  *
  *  - `spark.shuffle.sort.bypassMergeThreshold = 1`: with ≤ 200
  *    reduce partitions Spark picks BypassMergeSortShuffleWriter,
  *    which writes ONE FILE PER REDUCE PARTITION per map task and
  *    concatenates them through `FileChannel.transferTo` → mmap.
  *    At local[32] × 32 shuffle partitions that is ~1 024 file
  *    creates + mmaps + unmaps PER EXCHANGE; the munmap TLB
  *    shootdowns across 32 vCPUs serialize in the kernel (thread
  *    dumps: every task runnable inside `FileChannelImpl.map0 /
  *    unmap0`), and a sub-second aggregation read 28 s of task time
  *    (measured on t31_kn_bigram; 8 s with the threshold dropped).
  *    Disabling the bypass selects the serialized
  *    (UnsafeShuffleWriter) path — one spill file per map task, no
  *    per-reducer files, no mmap concat. Scale note: this is not a
  *    local-only trick — the serialized writer is the modern default
  *    path whenever the serializer supports relocation; the bypass
  *    writer's per-reducer file fan-out is precisely what hurts as
  *    cores-per-box grow.
  *
  *  - `spark.local.dir` on tmpfs when available (`/dev/shm`): the
  *    sandbox's `/` is a slow virtual disk (a cold 584 KB read
  *    measured 0.9 s), so KB-sized shuffle blocks paid disk-class
  *    latency per exchange. Shuffle scratch belongs on the fastest
  *    local medium — on a real cluster that is the provisioned
  *    local SSDs (this default only fires when /dev/shm exists and
  *    is writable; production deployments set spark.local.dir
  *    explicitly anyway). Overridable via SPARK_GRAFT_LOCAL_DIR
  *    (set it to the old java.io.tmpdir behavior to disable).
  *
  * Measured together on t31_kn_bigram (quiet host, warm):
  * 1.33 s → 0.91 s wall, stage task-time 28.3 s → 2.6 s.
  *
  *  - `spark.sql.extensions = graft.BindLiterals`: the planner rule
  *    that turns the int, long, double, float, short, byte, date and
  *    timestamp constants of `FilterExec` conditions into stage
  *    parameters ([[graft.functions.BoundLiteral]]). Spark writes a
  *    `Literal` into the generated Java, so API requests that differ
  *    only in a WHERE constant each paid a fresh Janino compile
  *    (~10 ms of driver CPU); with the rule they share one compiled
  *    class and each request ships only a new references array. The
  *    extension registers no functions (those stay at the three
  *    `GraftFunctions.install` boundaries). A session the engine did
  *    not build (the `SparkEntry.queries` contract accepts one) lacks
  *    the rule: its answers are the same, it just compiles per
  *    constant.
  */
object LocalTuning {

  /** tmpfs headroom below which the /dev/shm default does NOT fire
    * (r16 advice: shuffle scratch on tmpfs competes with the JVM heap
    * for physical RAM — a large spill on a nearly-full tmpfs would
    * ENOSPC or push the box into memory pressure; 16 GiB covers the
    * suite's worst measured scratch by >100× while refusing hosts
    * where tmpfs is already contended). */
  private val ShmMinFreeBytes = 16L << 30
  /** Scratch dirs from a crashed run older than this are reclaimed on
    * startup (tmpfs scratch is RAM until someone deletes it); live
    * concurrent sessions are far younger, so they are never touched. */
  private val StaleScratchMs = 12L * 3600 * 1000

  private def sweepStale(root: java.io.File): Unit =
    try {
      val cutoff = System.currentTimeMillis() - StaleScratchMs
      Option(root.listFiles()).getOrElse(Array.empty).foreach { d =>
        if (d.lastModified() < cutoff) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory)
              Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(): Unit
          }
          rm(d)
        }
      }
    } catch { case _: Throwable => () }

  def sessionDefaults: Seq[(String, String)] = {
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= ShmMinFreeBytes) {
        sweepStale(new java.io.File(shm, "graft_spark_local"))
        Some("/dev/shm/graft_spark_local")
      } else None
    }
    Seq(
      "spark.shuffle.sort.bypassMergeThreshold" -> "1",
      // The generated-class cache holds 100 entries by default — a
      // 216-query surface evicts the whole cold pass before the warm
      // pass re-runs it, so every query pays Janino compilation twice
      // (r17, guide §1.2 "per-task work"/driver overhead: measured
      // ~0.1 s/query of CodeGenerator.compile in the warm pass).
      // 4096 entries ≈ tens of MB of class metadata — cheap on any
      // driver; a production service with a repeating query mix wants
      // the same.
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.extensions" -> "graft.BindLiterals") ++
      localDir.map("spark.local.dir" -> _)
  }

  /** Fold the defaults into a session builder (explicit `.config`
    * calls made before this still win — Spark keeps the last value
    * set, and these are applied first by the callers). */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    sessionDefaults.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** An engine session on `local[cpus]`: one shuffle partition per
    * core, [[sessionDefaults]], a UTC session time zone (the events
    * NTZ→TIMESTAMP load cast is value-preserving only under UTC), no
    * UI, then `conf` (last wins). The native functions are installed
    * before it is returned. */
  def session(cpus: Int, conf: (String, String)*): SparkSession = {
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ conf
    val spark = settings.foldLeft(apply(SparkSession.builder()).master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.install(spark)
    spark
  }
}
