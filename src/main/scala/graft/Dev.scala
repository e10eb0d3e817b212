package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.ExplainMode

/** The dev tool: one engine session (`LocalTuning.session` on
  * `$SPARK_GRAFT_CPUS` cores) over the lake at `$SPARK_GRAFT_SF_DIR`,
  * the same two variables `graft.Bench` reads.
  *
  * {{{
  *   runMain graft.Dev plan <q1,q2,…> [mode]   # plan per query (default mode: formatted)
  *   runMain graft.Dev time <q> [reps]         # build + count per rep, cold first
  *   runMain graft.Dev profile <q> [reps]      # codegen compiles and cached RDDs per rep; warm rep's stage table and rule times
  *   runMain graft.Dev sql "<sql>"             # ad-hoc SQL over the lake tables
  * }}}
  *
  * Output is advisory; the bench owns the official timing. */
object Dev {
  private val Usage =
    "usage: Dev plan <q1,q2,...> [mode] | time <q> [reps] | profile <q> [reps] | sql \"<sql>\""

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val sfDir = Bench.envSfDir(sys.env)
    val spark = LocalTuning.session(Bench.envCpus(sys.env).toInt)
    def reps(default: Int) = if (args.length > 2) args(2).toInt else default
    try args(0) match {
      case "plan" => plan(spark, sfDir, args(1).split(",").toSeq,
        if (args.length > 2) args(2) else "formatted")
      case "time" => time(spark, sfDir, args(1), reps(2))
      case "profile" => profile(spark, sfDir, args(1), reps(3))
      case "sql" => sql(spark, sfDir, args(1))
      case other => throw new IllegalArgumentException(s"unknown command '$other'; $Usage")
    } finally spark.stop()
  }

  /** A `## name` section with each query's plan in a code fence (the
    * shape of PLANS.md); a query that fails prints its error and the
    * run goes on. */
  private def plan(spark: SparkSession, sfDir: String, names: Seq[String], mode: String): Unit =
    names.foreach { n =>
      val text =
        try SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString(mode)).trim
        catch { case e: Throwable => s"FAILED: $e" }
      println(s"## $n\n\n```\n$text\n```\n")
    }

  private def time(spark: SparkSession, sfDir: String, name: String, reps: Int): Unit =
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[time] $name rep$r rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

  private final case class Stage(id: Int, name: String, wallMs: Long, runMs: Long,
                                 cpuMs: Long, tasks: Int, shRead: Long,
                                 shWrite: Long, inBytes: Long)

  /** Janino compiles so far in this JVM and their total ms. */
  private def compiles(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  /** Runs the query `reps` times and prints each rep's build, count
    * and codegen compile count and ms (a warm rep that still compiles
    * has a constant in its generated source) and the RDDs then cached
    * in the block manager, with their MiB (a count that grows across
    * reps is a checkpoint nothing frees), then, for the last
    * (warm) rep, the top optimizer rule times and every completed
    * stage with its wall time, summed executor run/CPU time, task
    * count and shuffle and input bytes. */
  private def profile(spark: SparkSession, sfDir: String, name: String, reps: Int): Unit = {
    val stages = mutable.ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += Stage(si.stageId, si.name,
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead)
        }
      }
    })
    (1 to reps).foreach { r =>
      if (r == reps) {
        stages.synchronized(stages.clear())
        RuleExecutor.resetMetrics()
      }
      val (c0, cms0) = compiles()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      val (c1, cms1) = compiles()
      val cached = spark.sparkContext.getRDDStorageInfo
      val cachedMib = cached.map(i => i.memSize + i.diskSize).sum / 1048576.0
      println(f"[prof] $name rep$r rows=$n build ${(t1 - t0) / 1e9}%.2f s count ${(t2 - t1) / 1e9}%.2f s total ${(t2 - t0) / 1e9}%.2f s codegen ${c1 - c0} compiles ${cms1 - cms0}%.1f ms cached ${cached.length} rdds $cachedMib%.1f MiB")
    }
    println("[rules] top rule times (warm rep):")
    RuleExecutor.dumpTimeSpent().split('\n').drop(2).take(18)
      .foreach(l => println("[rules] " + l))
    Thread.sleep(300) // let the listener bus drain
    val snap = stages.synchronized(stages.toVector)
    println(f"[prof] warm-rep stages: ${snap.size}  wall-sum ${snap.map(_.wallMs).sum / 1e3}%.2f s  run-sum ${snap.map(_.runMs).sum / 1e3}%.2f s")
    snap.sortBy(-_.wallMs).take(40).foreach { s =>
      println(f"[prof] stage ${s.id}%5d wall ${s.wallMs / 1e3}%6.2f s  run ${s.runMs / 1e3}%7.2f s  cpu ${s.cpuMs / 1e3}%7.2f s  tasks ${s.tasks}%4d  shR ${s.shRead / 1024}%8d KiB  shW ${s.shWrite / 1024}%8d KiB  in ${s.inBytes / 1024}%8d KiB  ${s.name.take(110)}")
    }
  }

  private def sql(spark: SparkSession, sfDir: String, text: String): Unit = {
    Tables.register(spark, sfDir)
    val t0 = System.nanoTime()
    spark.sql(text).show(50, truncate = false)
    println(f"ELAPSED ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
