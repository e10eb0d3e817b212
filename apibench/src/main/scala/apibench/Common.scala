package graft.apibench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** A response as the client saw it. */
final case class Reply(status: Int, body: String)

/** The HTTP side of one client: plain HTTP/1.1 against the in-process
  * server on localhost. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .followRedirects(HttpClient.Redirect.NEVER).build()
  private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")
  private def send(b: HttpRequest.Builder): Reply = {
    val r = client.send(b.timeout(Duration.ofSeconds(120)).build(),
      HttpResponse.BodyHandlers.ofString())
    Reply(r.statusCode(), r.body())
  }
  def get(path: String): Reply = send(HttpRequest.newBuilder(uri(path)).GET())
  def post(path: String, body: String, auth: Option[String] = None): Reply =
    send(withAuth(HttpRequest.newBuilder(uri(path)), auth)
      .POST(HttpRequest.BodyPublishers.ofString(body)))
  def put(path: String, body: String, auth: Option[String]): Reply =
    send(withAuth(HttpRequest.newBuilder(uri(path)), auth)
      .PUT(HttpRequest.BodyPublishers.ofString(body)))
  private def withAuth(b: HttpRequest.Builder, auth: Option[String]) =
    auth.fold(b)(t => b.header("Authorization", s"Bearer $t"))

  /** Polls a 202-accepted job until it leaves `pending`; returns the
    * final job document. The poll interval is short so the measured
    * latency is the job's, not the poller's. */
  def awaitJob(accepted: Reply): Reply = {
    if (accepted.status != 202) return accepted
    val id = Http.field(accepted.body, "job_id")
    var r = get(s"/job/$id")
    while (r.status == 200 && Http.field(r.body, "status") == "pending") {
      Thread.sleep(2)
      r = get(s"/job/$id")
    }
    r
  }

  /** Polls a created version until its status is terminal. */
  def awaitVersion(path: String): String = {
    var s = "pending"
    val t0 = System.nanoTime()
    while (s == "pending" && System.nanoTime() - t0 < 120e9) {
      Thread.sleep(20)
      s = Http.field(get(path).body, "status")
    }
    s
  }
}

object Http {
  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  /** First `"key":"value"` string field of a JSON body ("" if absent). */
  def field(body: String, key: String): String =
    ("\"" + key + "\":\"([^\"]*)\"").r.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
}

/** One operation of a workload. `run` sends it and returns the reply
  * with a check that is evaluated after the clock stops; the check
  * returns the reason the answer is wrong, if it is. `direct` calls the
  * entry points the route's handler calls, for the traced run. */
abstract class Op(val cls: String, val route: String) {
  /** What the op sends (for the seed self-check). */
  def input: String
  def run(h: Http): (Reply, () => Option[String])
  def direct(t: Tracer): Unit
}

/** The timed outcome of one op. */
final case class Sample(idx: Int, cls: String, route: String,
                        t0: Long, t1: Long, ok: Boolean, why: String) {
  def ms: Double = (t1 - t0) / 1e6
}

/** Set by the self-check: every oracle then expects a wrong answer. */
object Oracle {
  @volatile var corrupt: Boolean = false
  def apply(s: String): String = if (corrupt) s + "#corrupted" else s
  def apply[K](m: Map[K, Long]): Map[K, Long] = if (corrupt) m.map { case (k, v) => k -> (v + 1) } else m
}

object Stats {
  /** Nearest-rank percentile, reported only when at least ten samples
    * lie beyond it (so a p90 needs 100 samples, a p50 twenty). */
  def pct(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    if (n == 0 || n * (1 - p) < 10 - 1e-9 || n * p < 10 - 1e-9) None
    else {
      val s = xs.sorted
      Some(s(math.min(n - 1, math.max(0, math.ceil(p * n).toInt - 1))))
    }
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else { val s = xs.sorted; s(s.size / 2) }
}

/** Minimal JSON rendering for the result lines. */
object Out {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
  def str(s: String): String = graft.geo.Json.write(s)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
