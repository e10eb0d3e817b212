package graft.apibench

import scala.util.Random

import graft.api.ApiServer
import graft.sinks.Sinks
import graft.sqlgate.{Scrutinizer, TabularEngine}
import graft.{catalog => cat}
import org.apache.spark.sql.SparkSession

/** `api_tabular`: two closed-loop HTTP clients over the lake tables and
  * two versions that set-up creates through the API — a vector version
  * of seeded points (AOI-filtered queries go through the Scrutinizer's
  * AOI splice and `st_*`) and a CSV table that about one op in twenty
  * appends to. Every answer is checked against an oracle computed in
  * set-up from the base tables or from the generated rows, so no
  * measured request is ever sent before it is measured. */
final class Tabular(spark: SparkSession, sfDir: String, work: java.io.File,
                    seed: Long, nOps: Int) extends Workload {
  import Tabular._

  val clients = 2
  val window: Int = Cycle.size

  private val server = new ApiServer(spark, sfDir, adminTokens = Set(Admin))
  val port: Int = server.start()
  Main.mark("server")
  private val inputs = new java.io.File(work, "inputs")
  inputs.mkdirs()
  private val http = new Http(port)

  // --------------------------------------------- created versions (set-up)
  private val rnd = new Random(seed * 1000003L + 11)
  /** Seeded points in lon [10, 20), lat [0, 10). */
  private val points: Array[(Double, Double, Int)] =
    Array.fill(PointCount)((10 + 10 * rnd.nextDouble(), 10 * rnd.nextDouble(), rnd.nextInt(1000)))
  private val pointsFile = new java.io.File(inputs, "points.ndjson")
  java.nio.file.Files.writeString(pointsFile.toPath, points.zipWithIndex.map { case ((x, y, w), i) =>
    s"""{"type":"Feature","properties":{"pid":$i,"w":$w},"geometry":{"type":"Point","coordinates":[$x,$y]}}"""
  }.mkString("\n"))

  /** The appendable table: base rows plus one pre-generated file per
    * append op (`k` uniform 0..9999, `v` 0..999999). */
  private def rows(n: Int): Array[(Int, Int)] = Array.fill(n)((rnd.nextInt(10000), rnd.nextInt(1000000)))
  private val baseRows = rows(BaseRows)
  private def csv(f: java.io.File, rs: Array[(Int, Int)]): Unit =
    java.nio.file.Files.writeString(f.toPath,
      rs.map { case (k, v) => s"$k,$v" }.mkString("k,v\n", "\n", "\n"))
  private val baseFile = new java.io.File(inputs, "append_base.csv")
  csv(baseFile, baseRows)

  // both creation jobs run while the oracles below are computed
  private val created = Seq(
    "bench_points" -> s"""{"source_uri":["${pointsFile.getPath}"],"source_type":"vector"}""",
    "bench_append" -> s"""{"source_uri":["${baseFile.getPath}"]}""").map { case (d, opts) =>
    val r = http.put(s"/dataset/$d/v1", s"""{"creation_options":$opts}""", Some(Admin))
    require(r.status == 202, s"PUT $d: ${r.status} ${r.body.take(300)}")
    d
  }

  // ------------------------------------------------------------ oracles
  /** lineitem: (returnflag, quantity, discount) → (count, max price). */
  private val lineGroups: Seq[(String, Double, Double, Long, Double)] =
    spark.sql("""SELECT l_returnflag, l_quantity, l_discount, count(*) AS n,
                |  max(l_extendedprice) AS mx FROM lineitem GROUP BY 1, 2, 3""".stripMargin)
      .collect().toSeq.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
  private val quantities = lineGroups.map(_._2).distinct.sorted
  private val discounts = lineGroups.map(_._3).distinct.sorted
  /** orders: priority → sorted total prices. */
  private val prices: Seq[(String, Array[Double])] =
    spark.sql("SELECT o_orderpriority, o_totalprice FROM orders").collect().toSeq
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (p, rs) => p -> rs.map(_.getDouble(1)).toArray.sorted }
  private val maxPrice = prices.map(_._2.last).max
  private val customers: Map[Long, (String, Double)] =
    spark.sql("SELECT c_custkey, c_name, c_acctbal FROM customer").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
  private val custKeys = customers.keys.toArray.sorted
  private val suppliers: Seq[(Long, String, Int, Double)] =
    spark.sql("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._1)
  private val fieldTables = Seq("lineitem", "orders", "customer", "supplier", "part", "nation")
  private val fieldsBody: Map[String, String] = fieldTables.map { t =>
    t -> spark.table(t).schema.fields.map(f =>
      s"""{"name":"${f.name}","data_type":"${f.dataType.catalogString}","is_feature_info":true}""")
      .mkString("""{"data":[""", ",", """],"status":"success"}""")
  }.toMap
  Main.mark("oracles")
  created.foreach { d =>
    val s = http.awaitVersion(s"/dataset/$d/v1")
    require(s == "saved", s"version $d ended $s")
  }
  /** The appendable version as set-up created it, before any append:
    * the traced run's direct appends start from copies of it. */
  private val appendBase = new java.io.File(work, "append_base_v1")
  copyDir(new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_versions/bench_append_v1"), appendBase)
  Main.mark("versions")

  /** Append state: which append batches are acknowledged, which are in
    * flight. A read must see every batch acknowledged before it
    * started, and may see any batch in flight while it ran. */
  private val appendRows = new java.util.concurrent.ConcurrentHashMap[Int, Array[(Int, Int)]]()
  private val acked = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val appendSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val directAppends = new java.util.concurrent.atomic.AtomicInteger(0)

  // -------------------------------------------------------------- the ops
  private val geostores = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Geostore id of an AOI; created through the API the first time. */
  private def gid(gj: String): String = geostores.computeIfAbsent(gj, _ => {
    val r = http.post("/geostore", gj)
    require(r.status == 200 || r.status == 201, s"geostore: ${r.status} ${r.body.take(200)}")
    Http.field(r.body, "gfw_geostore_id")
  })

  /** Literal draws for a stream; about one draw in five repeats an
    * earlier draw of the same class exactly. */
  private final class Draws(r: Random) {
    private val past = scala.collection.mutable.Map.empty[String, Vector[Seq[Double]]]
    def apply(cls: String)(fresh: => Seq[Double]): Seq[Double] = {
      val prev = past.getOrElse(cls, Vector.empty)
      val v = if (prev.nonEmpty && r.nextDouble() < 0.2) prev(r.nextInt(prev.size)) else fresh
      past(cls) = prev :+ v
      v
    }
  }

  private def makeOps(streamSeed: Long, n: Int): IndexedSeq[Op] = {
    val r = new Random(streamSeed)
    val draws = new Draws(r)
    (0 until n).map { i =>
      Cycle(i % Cycle.size) match {
        case "agg_json" =>
          val Seq(q, d) = draws("agg_json")(Seq(
            quantities(r.nextInt(quantities.size)), discounts(r.nextInt(discounts.size))))
          aggJson(q, d)
        case "agg_csv" =>
          val Seq(x) = draws("agg_csv")(Seq(1000.0 + r.nextInt((maxPrice * 0.9).toInt)))
          aggCsv(x.toInt)
        case "lookup_json" =>
          val Seq(k) = draws("lookup_json")(Seq(custKeys(r.nextInt(custKeys.length)).toDouble))
          lookup(k.toLong)
        case "fields" => fields(fieldTables(r.nextInt(fieldTables.size)))
        case "download_csv" =>
          val Seq(nk, a) = draws("download_csv")(Seq(r.nextInt(25).toDouble, -1000.0 + r.nextInt(10000)))
          download(nk.toInt, a.toInt)
        case "aoi_json" =>
          val Seq(x0, y0, w, h) = draws("aoi_json")(Seq(
            10 + 8 * r.nextDouble(), 8 * r.nextDouble(), 0.5 + 1.5 * r.nextDouble(), 0.5 + 1.5 * r.nextDouble()))
          aoi(x0, y0, x0 + w, y0 + h)
        case "append_read" =>
          val Seq(x) = draws("append_read")(Seq(r.nextInt(10000).toDouble))
          appendRead(x.toInt)
        case "append" =>
          val b = appendSeq.getAndIncrement()
          val rs = rows(AppendRows)
          appendRows.put(b, rs)
          val f = new java.io.File(inputs, s"append_$b.csv")
          csv(f, rs)
          append(b, f.getPath)
      }
    }
  }

  val ops: IndexedSeq[Op] = makeOps(seed * 1000003L + 1,
    (nOps + Cycle.size - 1) / Cycle.size * Cycle.size) // whole cycles
  /** Window medians fall by about a quarter from the first window to
    * the third and by a few percent after it; three windows are what
    * the run's time budget allows. */
  override def warmWindows: Int = 3
  private val warmSource = makeOps(seed * 1000003L + 2, warmWindows * Cycle.size)
  def warmOp(k: Int): Op = warmSource(k)
  override def warmOps: Int = warmSource.size
  // the measured AOIs' geostores exist before the clock starts (a
  // geostore is the request's input, created by an earlier call in real
  // use); warm-up ones are created on first use
  ops.foreach {
    case a: AoiOp => gid(a.gj)
    case _ => ()
  }

  // -------------------------------------------------------- op builders
  private def sqlGet(dataset: String, sql: String, json: Boolean, extra: String = "") =
    s"/dataset/$dataset/v1/query/${if (json) "json" else "csv"}?sql=${Http.enc(sql)}$extra"

  /** Direct call of what the query handler runs for a tabular version. */
  private def directQuery(t: Tracer, dataset: String, geom: Option[String],
                          sql: String, json: Boolean): String = {
    val table = t.span("catalog") {
      require(catalog.queryEngine(dataset, "v1") == Right(cat.TableEngine))
      if (Tabular.LakeTables(dataset)) dataset
      else graft.etl.VersionCreation.viewName(dataset, "v1")
    }
    val rewritten = t.span("sqlgate") {
      val s = Scrutinizer.scrutinizeTo(table, geom, sql)
      TabularEngine.checkFunctionsExist(spark, s)
      s
    }
    val q = t.span("plan")(spark.sql(rewritten))
    val df = q.limit(100000)
    val out = t.span("sinks")(if (json) Sinks.toJsend(df) else Sinks.toCsv(df))
    t.catalyst(q) // the SQL text's analysis
    t.catalyst(df) // the executed plan's optimization and planning
    t.addHere("sinks.bytes", out.length)
    t.addHere("rows_out", rowsOf(out, json))
    out
  }

  private val catalog = new cat.Catalog(
    (Tabular.LakeTables.toSeq.map(d => (d, cat.AssetType.DatabaseTable)) ++
      Seq("bench_points" -> cat.AssetType.GeoDatabaseTable,
        "bench_append" -> cat.AssetType.DatabaseTable)).map { case (d, at) =>
      cat.Dataset(d, Seq(cat.Version(d, "v1", isLatest = true,
        assets = Seq(cat.Asset(s"$d-a", at, d, isDefault = true)))))
    })

  private def expect(want: String)(got: Reply): Option[String] =
    if (got.status != 200) Some(s"status ${got.status}: ${got.body.take(160)}")
    else if (got.body != Oracle(want)) Some(s"answer differs: got ${got.body.take(160)} want ${want.take(160)}")
    else None

  private def aggJson(q: Double, d: Double): Op = new Op("agg_json", "GET query/json") {
    val sql = s"SELECT l_returnflag, count(*) AS n, max(l_extendedprice) AS mx FROM data " +
      s"WHERE l_quantity >= $q AND l_discount <= $d GROUP BY l_returnflag ORDER BY l_returnflag"
    lazy val want = lineGroups.filter(g => g._2 >= q && g._3 <= d).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, gs) => s"""{"l_returnflag":"$f","n":${gs.map(_._4).sum},"mx":${gs.map(_._5).max}}""" }
      .mkString("""{"data":[""", ",", """],"status":"success"}""")
    def input: String = sql
    def run(h: Http) = { val r = h.get(sqlGet("lineitem", sql, json = true)); (r, () => expect(want)(r)) }
    def direct(t: Tracer): Unit = directQuery(t, "lineitem", None, sql, json = true)
  }

  private def aggCsv(x: Int): Op = new Op("agg_csv", "GET query/csv") {
    val sql = s"SELECT o_orderpriority, count(*) AS n, min(o_totalprice) AS lo FROM data " +
      s"WHERE o_totalprice > $x GROUP BY o_orderpriority ORDER BY o_orderpriority"
    lazy val want = {
      val rows = prices.flatMap { case (p, ps) =>
        val i = upper(ps, x.toDouble)
        if (i < ps.length) Some(s""""$p",${ps.length - i},${ps(i)}""") else None
      }
      if (rows.isEmpty) "" else ("\"o_orderpriority\",\"n\",\"lo\"" +: rows).mkString("", "\r\n", "\r\n")
    }
    def input: String = sql
    def run(h: Http) = { val r = h.get(sqlGet("orders", sql, json = false)); (r, () => expect(want)(r)) }
    def direct(t: Tracer): Unit = directQuery(t, "orders", None, sql, json = false)
  }

  private def lookup(k: Long): Op = new Op("lookup_json", "GET query/json") {
    val sql = s"SELECT c_custkey, c_name, c_acctbal FROM data WHERE c_custkey = $k"
    lazy val want = customers.get(k).map { case (n, b) =>
      s"""{"data":[{"c_custkey":$k,"c_name":"$n","c_acctbal":$b}],"status":"success"}"""
    }.getOrElse("""{"data":[],"status":"success"}""")
    def input: String = sql
    def run(h: Http) = { val r = h.get(sqlGet("customer", sql, json = true)); (r, () => expect(want)(r)) }
    def direct(t: Tracer): Unit = directQuery(t, "customer", None, sql, json = true)
  }

  private def fields(table: String): Op = new Op("fields", "GET fields") {
    def input: String = table
    def run(h: Http) = { val r = h.get(s"/dataset/$table/v1/fields"); (r, () => expect(fieldsBody(table))(r)) }
    def direct(t: Tracer): Unit = {
      t.span("catalog")(require(catalog.version(table, "v1").isDefined))
      t.span("plan")(spark.table(table).schema)
    }
  }

  private def download(nation: Int, bal: Int): Op = new Op("download_csv", "GET download/csv") {
    val sql = s"SELECT s_suppkey, s_name, s_acctbal FROM data " +
      s"WHERE s_nationkey = $nation AND s_acctbal > $bal ORDER BY s_suppkey"
    lazy val want = ("\"s_suppkey\",\"s_name\",\"s_acctbal\"" +: suppliers
      .filter(s => s._3 == nation && s._4 > bal).map(s => s"""${s._1},"${s._2}",${s._4}"""))
      .mkString("", "\r\n", "\r\n")
    def input: String = sql
    def run(h: Http) = {
      val r = h.get(s"/dataset/supplier/v1/download/csv?sql=${Http.enc(sql)}")
      (r, () => expect(want)(r))
    }
    def direct(t: Tracer): Unit = {
      val table = t.span("catalog")(catalog.version("supplier", "v1").map(_ => "supplier").get)
      val rewritten = t.span("sqlgate") {
        val s = Scrutinizer.scrutinizeTo(table, None, sql)
        TabularEngine.checkFunctionsExist(spark, s)
        s
      }
      val df = t.span("plan")(spark.sql(rewritten))
      val out = new java.io.ByteArrayOutputStream()
      t.span("sinks")(Sinks.streamCsv(df, out))
      t.catalyst(df)
      t.addHere("sinks.bytes", out.size)
      t.addHere("rows_out", rowsOf(out.toString("UTF-8"), json = false))
    }
  }

  private final class AoiOp(x0: Double, y0: Double, x1: Double, y1: Double)
      extends Op("aoi_json", "GET query/json +geostore") {
    val gj = s"""{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}"""
    val sql = "SELECT count(*) AS n, max(w) AS mx FROM data"
    lazy val want = {
      val in = points.filter { case (x, y, _) => x > x0 && x < x1 && y > y0 && y < y1 }
      val mx = if (in.isEmpty) "null" else in.map(_._3).max.toString
      s"""{"data":[{"n":${in.length},"mx":$mx}],"status":"success"}"""
    }
    def input: String = gj
    def run(h: Http) = {
      val r = h.get(sqlGet("bench_points", sql, json = true, s"&geostore_id=${gid(gj)}"))
      (r, () => expect(want)(r))
    }
    def direct(t: Tracer): Unit = {
      t.span("geo")(graft.geo.Geom.fromGeoJson(gj))
      directQuery(t, "bench_points", Some(gj), sql, json = true)
    }
  }
  private def aoi(x0: Double, y0: Double, x1: Double, y1: Double): Op = new AoiOp(x0, y0, x1, y1)

  private def appendRead(x: Int): Op = new Op("append_read", "GET query/json (appended)") {
    val sql = s"SELECT count(*) AS n, max(v) AS mx FROM data WHERE k >= $x"
    private def answer(batches: Iterable[Int]): String = {
      val all = baseRows.iterator ++ batches.iterator.flatMap(b => appendRows.get(b).iterator)
      var n = 0L; var mx = -1
      all.foreach { case (k, v) => if (k >= x) { n += 1; mx = math.max(mx, v) } }
      s"""{"data":[{"n":$n,"mx":${if (n == 0) "null" else mx}}],"status":"success"}"""
    }
    def input: String = sql
    def run(h: Http) = {
      import scala.jdk.CollectionConverters._
      val mustSee = acked.asScala.toSet
      val r = h.get(sqlGet("bench_append", sql, json = true))
      val maySee = started.asScala.toSet -- mustSee
      (r, () => {
        val options = maySee.subsets().map(s => Oracle(answer(mustSee ++ s))).toSet
        if (r.status != 200) Some(s"status ${r.status}: ${r.body.take(160)}")
        else if (!options(r.body))
          Some(s"append read misses acknowledged rows: got ${r.body.take(160)}")
        else None
      })
    }
    def direct(t: Tracer): Unit = directQuery(t, "bench_append", None, sql, json = true)
  }

  private def append(batch: Int, path: String): Op = new Op("append", "POST append") {
    val body = s"""{"creation_options":{"source_uri":["$path"]}}"""
    def input: String = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    def run(h: Http) = {
      started.add(batch)
      val r = h.awaitJob(h.post("/dataset/bench_append/v1/append", body, Some(Admin)))
      val ok = r.status == 200 && Http.field(r.body, "status") == Oracle("success")
      if (ok) acked.add(batch)
      (r, () => if (ok) None else Some(s"append job: ${r.status} ${r.body.take(160)}"))
    }
    /** The traced run replays reads against the live version, so the
      * direct call runs what the handler's job runs
      * (`VersionCreation.appendSources` with the version's creation
      * options) on a copy of the set-up version under a dataset name of
      * its own: reads see what they saw before. */
    def direct(t: Tracer): Unit = {
      val name = s"bench_append_traced_${directAppends.getAndIncrement()}"
      val target = new java.io.File(work, name)
      copyDir(appendBase, target)
      val before = dirBytes(target)
      val (log, ok) = t.span("etl")(graft.etl.VersionCreation.appendSources(spark, name, "v1",
        graft.etl.VersionCreation.CreationOptions(Seq(baseFile.getPath)), Seq(path), target.getPath))
      require(ok, s"direct append failed: $log")
      spark.catalog.dropTempView(graft.etl.VersionCreation.viewName(name, "v1"))
      t.addHere("etl.appends", 1)
      t.addHere("etl.rows", AppendRows)
      t.addHere("etl.source_bytes", new java.io.File(path).length)
      t.addHere("etl.stored_bytes", dirBytes(target) - before)
    }
  }

  override def detail(samples: Seq[Sample]): Seq[(String, String)] = {
    val w = samples.filter(_.cls == "append").map(s => if (s.ok) s.ms else Double.PositiveInfinity)
    Seq("write_p50_ms" -> Stats.pct(w, 0.5).map(Out.num).getOrElse("null"),
      "write_n" -> w.size.toString)
  }

  override def close(): Unit = server.stop()
}

object Tabular {
  val Admin = "apibench-admin"
  val PointCount = 4000
  val BaseRows = 2000
  val AppendRows = 200
  val LakeTables: Set[String] = graft.Tables.all.toSet
  /** One class cycle of 22 ops: each of the seven read classes three
    * times and one append. The classes weigh the same because no
    * recorded traffic says otherwise; the append is about one op in
    * twenty. */
  val Cycle: IndexedSeq[String] = {
    val reads = IndexedSeq("agg_json", "lookup_json", "agg_csv", "aoi_json", "fields",
      "append_read", "download_csv")
    reads ++ reads ++ IndexedSeq("append") ++ reads
  }

  /** First index whose value is > x in a sorted array. */
  def upper(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) > x) hi = m else lo = m + 1 }
    lo
  }
  /** Rows in a JSEND body (one object each) or a CSV body (less the header). */
  def rowsOf(body: String, json: Boolean): Int =
    if (json) math.max(0, "\\{\"".r.findAllMatchIn(body).size - 1)
    else math.max(0, body.split("\r\n").count(_.nonEmpty) - 1)
  def copyDir(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty).foreach(f => copyDir(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length
}
