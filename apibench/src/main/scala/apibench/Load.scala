package graft.apibench

import java.util.concurrent.atomic.AtomicInteger

/** A workload: a fixed seeded op sequence plus a disjoint warm-up
  * stream drawn from the same class mix. */
trait Workload {
  def clients: Int
  /** Ops per warm-up window: a whole number of class cycles, so every
    * window carries the same mix and window medians are comparable. */
  def window: Int
  /** The warm-up stream; no measured op appears in it. */
  def warmOp(k: Int): Op
  /** Length of the warm-up stream. */
  def warmOps: Int
  /** Warm-up windows to run (`warmOps` permitting). */
  def warmWindows: Int = 0
  def ops: IndexedSeq[Op]
  /** Extra end-of-run detail (class latencies the workload names). */
  def detail(samples: Seq[Sample]): Seq[(String, String)] = Nil
  /** Extra detail of the traced run, measured after its replay. */
  def probe(): Seq[(String, String)] = Nil
  def close(): Unit = ()
}

object Load {
  /** Closed loop: `clients` threads each send their next op only after
    * the previous reply, taking ops in sequence order. */
  def closedLoop(n: Int, op: Int => Op, https: IndexedSeq[Http],
                 check: Boolean = true): Seq[Sample] = {
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = https.map { h =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          val o = op(i)
          val t0 = System.nanoTime()
          val (reply, verdict) =
            try o.run(h)
            catch { case e: Throwable => (Reply(-1, String.valueOf(e)), () => Some(s"client error: $e")) }
          val t1 = System.nanoTime()
          val why = if (check) verdict().getOrElse("") else ""
          out.add(Sample(i, o.cls, o.route, t0, t1, why.isEmpty, why))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_.idx)
  }

  /** Warm-up: `windows` windows of the warm stream. The length is a
    * fixed op count, not a time and not a stop rule: window medians
    * still fall at the end of the longest warm-up the run's time allows,
    * and a rule that stopped once a window failed to beat the best by 5%
    * stopped early in about one run in five, which then measured 10-15%
    * slower. Returns the window medians, so a reader sees whether they
    * still fall. */
  def warmUp(w: Workload, https: IndexedSeq[Http], windows: Int): Seq[Double] =
    (0 until math.min(windows, w.warmOps / w.window)).map { k =>
      val s = closedLoop(w.window, i => w.warmOp(k * w.window + i), https, check = false)
      Stats.median(s.map(_.ms))
    }
}
