package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

/** Concurrent-load smoke for the API layer (round-15 verdict ask #7):
  * the bench is serial, but the reference serves concurrent HTTP
  * (pool 5–10, workers/core — `app/settings/globals.py:59-60`,
  * `gunicorn_conf.py:5-30`). This main fires N simultaneous mixed
  * requests (interactive count/agg, zonal analysis, streaming CSV
  * download, field introspection) at an [[api.ApiServer]] on sf0.1,
  * with a 10 Hz `/ping` prober running throughout as the starvation
  * signal, and prints ONE JSON line with per-class and ping sample
  * counts, p50/p99 (`null` unless ten samples lie beyond the
  * percentile), max, and error counts. The `zonal_aoi` class sends
  * distinct one-tile AOIs and checks each 200 against that AOI's
  * serial answer, fetched before the load: a mismatch counts as an
  * error and in `wrong`.
  * Recorded in BENCH_sf1.md.
  *
  *   runMain graft.ApiLoad [concurrency] [rounds]
  */
object ApiLoad {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 16
    val rounds = if (args.length > 1) args(1).toInt else 6
    val sfDir = Bench.envSfDir(sys.env)
    // FAIR across the server's per-slot scheduler pools: concurrent
    // requests share the cluster instead of queueing whole-job FIFO
    // (ApiServer sets spark.scheduler.pool = graft-api-slot-N per
    // in-flight query; inert under the default FIFO mode)
    val spark = LocalTuning.session(Bench.envCpus(sys.env).toInt,
      "spark.scheduler.mode" -> "FAIR")
    val server = new api.ApiServer(spark, sfDir)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    def get(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def geostore(gj: String): String = {
      val created = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/geostore"))
        .POST(HttpRequest.BodyPublishers.ofString(gj)).build(),
        HttpResponse.BodyHandlers.ofString())
      "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
    }

    // a stored geostore for the zonal class (inside the synthetic grid)
    val gid = geostore("""{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}""")
    // one AOI inside each tile of the synthetic grid, each a different
    // size so no two answers agree, with its serial answer
    val g = raster.SyntheticEnv.grid
    val aois: IndexedSeq[(String, Option[String])] =
      (for (ty <- 0 until g.tilesY; tx <- 0 until g.tilesX) yield (tx, ty))
        .zipWithIndex.map { case ((tx, ty), i) =>
          val x0 = g.originLon + tx * g.tileDeg + 0.1
          val y0 = g.originLat - (ty + 1) * g.tileDeg + 0.1
          val (x1, y1) = (x0 + 0.3 + 0.03 * i, y0 + 0.4)
          val path = "/analysis/zonal?group_by=landcover&geostore_id=" + geostore(
            s"""{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}""")
          path -> Some(get(path).body())
        }

    val fixed: Seq[(String, String)] = Seq(
      "count" -> s"/dataset/lineitem/v1/query/json?sql=${enc("SELECT count(*) AS n FROM data")}",
      "agg" -> s"/dataset/lineitem/v1/query/json?sql=${enc(
        "SELECT l_returnflag, sum(l_quantity) AS q FROM data GROUP BY l_returnflag")}",
      "filter" -> s"/dataset/orders/v1/query/json?sql=${enc(
        "SELECT count(*) AS n FROM data WHERE o_totalprice > 100000")}",
      "zonal" -> s"/analysis/zonal?geostore_id=$gid&group_by=landcover&tcd_threshold=30",
      "download" -> s"/dataset/region/v1/download/csv?sql=${enc("SELECT * FROM data")}",
      "fields" -> "/dataset/lineitem/v1/fields")
    // class → its request paths, each with the answer it must give
    val classes: Seq[(String, IndexedSeq[(String, Option[String])])] =
      fixed.map { case (c, p) => c -> IndexedSeq(p -> None) } :+ ("zonal_aoi" -> aois)
    // warm each class once (codegen/JIT) so the load numbers measure
    // concurrency, not first-touch compilation
    classes.foreach { case (_, paths) => get(paths.head._1) }

    // (class, ms, status, answer differs from the serial one)
    val lat = new ConcurrentLinkedQueue[(String, Double, Int, Boolean)]()
    val pingLat = new ConcurrentLinkedQueue[Double]()
    @volatile var stop = false
    val pinger = new Thread(() => {
      val pc = HttpClient.newHttpClient()
      while (!stop) {
        val t0 = System.nanoTime()
        val code = try pc.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/ping")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
        catch { case _: Throwable => -1 }
        pingLat.add((System.nanoTime() - t0) / 1e6)
        if (code != 200) pingLat.add(Double.MaxValue)
        Thread.sleep(100)
      }
    })
    pinger.setDaemon(true)
    pinger.start()

    val pool = Executors.newFixedThreadPool(n)
    val wall0 = System.nanoTime()
    for (r <- 0 until rounds) {
      val latch = new CountDownLatch(n)
      for (i <- 0 until n) {
        val k = r * n + i
        val (cls, paths) = classes(k % classes.size)
        val (path, serial) = paths(k / classes.size % paths.size)
        pool.submit(new Runnable {
          def run(): Unit = {
            val t0 = System.nanoTime()
            val (code, body) = try { val res = get(path); (res.statusCode(), res.body()) }
            catch { case _: Throwable => (-1, null) }
            lat.add((cls, (System.nanoTime() - t0) / 1e6, code,
              code == 200 && serial.exists(_ != body)))
            latch.countDown()
          }
        })
      }
      latch.await(120, TimeUnit.SECONDS)
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    stop = true
    pool.shutdown()

    // a percentile only when at least ten samples lie beyond it (a p99
    // of 30 samples is the run's maximum); null otherwise
    def pct(xs: Seq[Double], p: Double): String =
      if (xs.size * (1 - p) < 10 - 1e-9) "null"
      else xs.sorted.apply(math.min(xs.size - 1, (xs.size * p).toInt)).round.toString
    import scala.jdk.CollectionConverters._
    val all = lat.asScala.toSeq
    val wrong = all.count(_._4)
    val errors = all.count(_._3 != 200) + wrong
    val byCls = all.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, xs) =>
      val ms = xs.map(_._2)
      s""""$c":{"n":${xs.size},"p50_ms":${pct(ms, 0.5)},"p99_ms":${pct(ms, 0.99)},"max_ms":${ms.max.round}}"""
    }.mkString(",")
    val pings = pingLat.asScala.toSeq.filter(_ != Double.MaxValue)
    val pingErr = pingLat.asScala.count(_ == Double.MaxValue)
    println(s"""{"metric":"api_load","concurrency":$n,"rounds":$rounds,"requests":${all.size},"errors":$errors,"wrong":$wrong,"wall_sec":${f"$wallSec%.1f"},"classes":{$byCls},"ping":{"n":${pings.size},"p50_ms":${pct(pings, 0.5)},"p99_ms":${pct(pings, 0.99)},"max_ms":${pings.maxOption.fold(0L)(_.round)},"errors":$pingErr},"sf":"$sfDir"}""")
    server.stop()
    spark.stop()
  }
}
