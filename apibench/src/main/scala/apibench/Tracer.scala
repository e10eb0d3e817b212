package graft.apibench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The traced run's recorder. Spans (name, start, end, parent, op id)
  * are kept in memory and summarised when the run ends; Spark's own
  * accounting comes from a listener registered here, attributed to an
  * op through a local property set on the calling thread. Spans are
  * recorded only around calls the benchmark makes into the engine. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, op)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  /** Nanoseconds spent inside the recorder itself (span bookkeeping and
    * listener callbacks): the tracing overhead. */
  val selfNs = new AtomicLong
  private val OpKey = "apibench.op"
  private val SpanKey = "apibench.span"

  /** Per-op counters: name → value. */
  private val counts = new ConcurrentHashMap[(Int, String), java.lang.Double]()
  def add(op: Int, name: String, v: Double): Unit = {
    val t = System.nanoTime()
    counts.merge((op, name), v, (a, b) => a + b)
    selfNs.addAndGet(System.nanoTime() - t)
  }
  def currentOp: Int = stack.get().headOption.map(_._2).getOrElse(-1)
  def addHere(name: String, v: Double): Unit = if (currentOp >= 0) add(currentOp, name, v)

  /** Runs `body` as op `idx`: the root span, plus the local property
    * that ties the Spark jobs it starts to the op. */
  def op[T](idx: Int)(body: => T): T = {
    spark.sparkContext.setLocalProperty(OpKey, idx.toString)
    stack.set(List((0, idx)))
    try span("op")(body)
    finally {
      spark.sparkContext.setLocalProperty(OpKey, null)
      stack.set(Nil)
    }
  }

  def span[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    val st = stack.get()
    val (parent, op) = st.headOption.getOrElse((0, -1))
    val id = ids.getAndIncrement()
    stack.set((id, op) :: st)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    selfNs.addAndGet(System.nanoTime() - t)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, op, name, t0, t1))
      stack.set(st)
      sc.setLocalProperty(SpanKey, outer)
      selfNs.addAndGet(System.nanoTime() - t1)
    }
  }

  /** Records the planning phases of a consumed DataFrame's final plan. */
  def catalyst(df: DataFrame): Unit = {
    val ph = df.queryExecution.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    addHere("catalyst.analysis_ms", ms(ANALYSIS))
    addHere("catalyst.optimization_ms", ms(OPTIMIZATION))
    addHere("catalyst.planning_ms", ms(PLANNING))
  }

  // ------------------------------------------------------- Spark listener
  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  private val execIds = new ConcurrentHashMap[(Int, String), java.lang.Boolean]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { o =>
        val op = o.toInt
        jobOp.put(e.jobId, op)
        e.stageIds.foreach(s => stageOp.put(s, op))
        add(op, "exec.jobs", 1)
        val sp = Option(e.properties.getProperty(SpanKey)).getOrElse("")
        add(op, s"jobs.$sp", 1)
        jobStart.put(e.jobId, (e.time, sp))
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach { x =>
          if (execIds.putIfAbsent((op, x), true) == null) add(op, "catalyst.plans", 1)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobOp.get(e.jobId)).foreach { op =>
        Option(jobStart.remove(e.jobId)).foreach { case (t0, sp) =>
          if (sp == "sinks") add(op, "exec.job_ms_in_sinks", (e.time - t0).toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        add(op, "exec.stages", 1)
        Option(stageTasks.remove(e.stageInfo.stageId)).foreach { q =>
          val d = q.asScala.toSeq.map(_.toDouble).sorted
          if (d.nonEmpty && d(d.size / 2) > 0) {
            add(op, "exec.skew_sum", d.last / d(d.size / 2))
            add(op, "exec.skew_n", 1)
          }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageOp.get(e.stageId)).foreach { op =>
        add(op, "exec.tasks", 1)
        if (!e.taskInfo.successful) add(op, "exec.task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(op, "exec.task_run_ms", m.executorRunTime.toDouble)
          add(op, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
          add(op, "exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(op, "exec.rows_read", m.inputMetrics.recordsRead.toDouble)
          val sched = e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime
          add(op, "exec.sched_delay_ms", math.max(0L, sched).toDouble)
          stageTasks.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(m.executorRunTime)
        }
      }
    }
  }
  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t)
  }
  spark.sparkContext.addSparkListener(listener)
  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Waits until the listener bus has delivered every event posted so
    * far, so the summary sees all of them. */
  def drain(): Unit = {
    val m = spark.sparkContext.getClass.getMethod("listenerBus")
    val bus = m.invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  // ------------------------------------------------------------ summary
  /** Self time per span name: a span's duration minus the part of its
    * interval that its children cover. */
  def selfTimes(): Map[(Int, String), Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.t0, c.t1)).sortBy(_._1)
      var cov = 0L; var end = Long.MinValue
      covered.foreach { case (a, b) =>
        val a1 = math.max(a, end)
        if (b > a1) { cov += b - a1; end = b }
      }
      (s.op, s.name) -> (s.t1 - s.t0 - cov) / 1e6
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }
  def wallMs(): Map[(Int, String), Double] =
    spans.asScala.toSeq.groupBy(s => (s.op, s.name))
      .map { case (k, v) => k -> v.map(s => (s.t1 - s.t0) / 1e6).sum }
  def counters: Map[(Int, String), Double] =
    counts.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  def spanCount: Int = spans.size
}

/** Codegen accounting: Spark's global compile-time accumulator and the
  * compile-count histogram, read before and after a phase. */
object Codegen {
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.metrics.source.CodegenMetrics
  def snapshot(): (Double, Long) =
    (CodeGenerator.compileTime / 1e6, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
