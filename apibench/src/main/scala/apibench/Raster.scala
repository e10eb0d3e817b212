package graft.apibench

import scala.util.Random

import graft.api.ApiServer
import graft.raster.{DataEnvironment, GeoTiff, TileLake, ZonalEngine}
import graft.sinks.Sinks
import graft.{catalog => cat}
import org.apache.spark.sql.SparkSession

/** `api_raster`: two closed-loop HTTP clients over a raster version that
  * set-up generates (seeded GeoTIFF tiles written with `GeoTiff.write`
  * and ingested through `PUT source_type: "raster"`) and over the
  * builtin synthetic tile set behind `/analysis/zonal`. Every op has
  * its own seeded AOI. `small` AOIs sit inside one tile and `large` ones
  * touch all 16 tiles, which separates the fixed per-request cost from
  * the per-pixel pass; every AOI of a class touches the same number of
  * tiles, so the work per class does not move with the seed. Pixel
  * classes are separable in the pixel coordinates, so the expected class
  * counts of any AOI come straight from the generator's formula. */
final class Raster(spark: SparkSession, sfDir: String, work: java.io.File,
                   seed: Long, nOps: Int, px: Int) extends Workload {
  import Raster._

  val clients = 2
  val window: Int = Cycle.size

  private val server = new ApiServer(spark, sfDir, adminTokens = Set(Tabular.Admin))
  val port: Int = server.start()
  Main.mark("server")
  private val http = new Http(port)
  private val rnd = new Random(seed * 1000003L + 21)

  // ------------------------------------------------- generated raster
  private val pd = 1.0 / px
  /** Separable class formula (fx(gx) + fy(gy)) mod K over a seeded
    * shift of the pixel grid: the seed moves the pattern, not its
    * structure, so every seed's tiles encode and decode alike. */
  private val (sx, sy) = (rnd.nextInt(10000), rnd.nextInt(10000))
  private def fx(g: Int) = (3 * (g + sx) + ((g + sx) / 13) * 2) % K
  private def fy(g: Int) = (5 * (g + sy) + ((g + sy) / 29) * 4) % K
  private val srcDir = new java.io.File(work, "inputs/raster")
  srcDir.mkdirs()
  private val sources = for (tx <- 0 until Tiles; ty <- 0 until Tiles) yield {
    val pixels = Array.tabulate(px * px) { i =>
      (fx(tx * px + i % px) + fy(ty * px + i / px)) % K
    }
    val f = new java.io.File(srcDir, s"t${tx}_$ty.tif")
    GeoTiff.write(f.toPath, GeoTiff.Tile(px, px, OriginLon + tx, OriginLat - ty, pd, pixels))
    f.getPath
  }
  Main.mark("tiffs")
  locally {
    val body = s"""{"creation_options":{"source_uri":[${sources.map(s => "\"" + s + "\"").mkString(",")}],""" +
      """"source_type":"raster","pixel_meaning":"class"}}"""
    val r = http.put(s"/dataset/$Dataset/v1", body, Some(Tabular.Admin))
    require(r.status == 202, s"raster PUT: ${r.status} ${r.body.take(300)}")
    val s = http.awaitVersion(s"/dataset/$Dataset/v1")
    require(s == "saved", s"raster version ended $s")
  }
  Main.mark("ingest")
  private val targetDir = s"${sys.props("java.io.tmpdir")}/graft_versions/${Dataset}_v1"
  /** The catalog the handlers resolve the generated version from, for
    * the traced run's direct calls. */
  private val catalog = new cat.Catalog(graft.raster.SyntheticRasters.datasets :+
    cat.Dataset(Dataset, Seq(cat.Version(Dataset, "v1", isLatest = true, sourceType = "raster",
      assets = Seq(cat.Asset(s"$Dataset-v1-default", cat.AssetType.RasterTileSet, targetDir,
        isDefault = true,
        creationOptions = graft.etl.VersionCreation.rasterAssetOptions(targetDir)))))))

  // ----------------------------------------------------------- oracles
  /** Class counts of the pixel rectangle [gx0, gx1) × [gy0, gy1). */
  private def counts(gx0: Int, gx1: Int, gy0: Int, gy1: Int,
                     f: Int => Int, g: Int => Int, k: Int): Map[Long, Long] = {
    val cx = new Array[Long](k); val cy = new Array[Long](k)
    (gx0 until gx1).foreach(x => cx(f(x)) += 1)
    (gy0 until gy1).foreach(y => cy(g(y)) += 1)
    val out = new Array[Long](k)
    for (i <- 0 until k; j <- 0 until k) out((i + j) % k) += cx(i) * cy(j)
    out.zipWithIndex.collect { case (n, cl) if n > 0 => cl.toLong -> n }.toMap
  }

  /** An AOI rectangle covering pixels [gx0, gx1) × [gy0, gy1) of a
    * grid: its edges sit a quarter pixel inside the outer pixel
    * centres, so which centres it holds is never in doubt. */
  private def rect(lon0: Double, lat0: Double, p: Double,
                   gx0: Int, gx1: Int, gy0: Int, gy1: Int): String = {
    val x0 = lon0 + (gx0 + 0.25) * p; val x1 = lon0 + (gx1 - 0.25) * p
    val y0 = lat0 - (gy1 - 0.25) * p; val y1 = lat0 - (gy0 + 0.25) * p
    s"""{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}"""
  }

  private val Sql = s"SELECT ${Dataset}__class AS cls, count(*) AS n FROM data " +
    s"GROUP BY ${Dataset}__class ORDER BY cls"

  /** The data rows of a JSEND body as maps. */
  private def dataRows(body: String): Seq[Map[String, Any]] =
    graft.geo.Json.parseObject(body)("data").asInstanceOf[List[Map[String, Any]]]
  private def asCounts(rows: Seq[Map[String, Any]], k: String, v: String): Map[Long, Long] =
    rows.map(r => r(k).asInstanceOf[Double].toLong -> r(v).asInstanceOf[Double].toLong).toMap

  private def compare(want: Map[Long, Long])(got: => Map[Long, Long]): Option[String] =
    try {
      val g = got
      if (g == Oracle(want)) None else Some(s"class counts differ: got $g want $want")
    } catch { case ex: Throwable => Some(s"unparseable answer: $ex") }

  // --------------------------------------------------------------- ops
  /** A pixel window that starts in tile `t0` and ends in tile `t1`
    * (inclusive) along each axis, with seeded edges: it starts in the
    * first 45% of tile t0 and ends in the last 45% of tile t1. */
  private def span(r: Random, p: Int, tx0: Int, tx1: Int, ty0: Int, ty1: Int) = {
    def edge(t: Int, lo: Double) = t * p + (p * (lo + 0.4 * r.nextDouble())).toInt
    (edge(tx0, 0.05), edge(tx1, 0.55), edge(ty0, 0.05), edge(ty1, 0.55))
  }

  private def makeOps(streamSeed: Long, n: Int): IndexedSeq[Op] = {
    val r = new Random(streamSeed)
    def tile(k: Int) = r.nextInt(k)
    (0 until n).map { i =>
      Cycle(i % Cycle.size) match {
        case "small" =>
          val (tx, ty) = (tile(Tiles), tile(Tiles))
          sqlOp("small", span(r, px, tx, tx, ty, ty))
        case "large" => sqlOp("large", span(r, px, 0, Tiles - 1, 0, Tiles - 1))
        case "batch" =>
          batchOp((0 until BatchAois).map { _ =>
            val (tx, ty) = (tile(Tiles), tile(Tiles))
            span(r, px, tx, tx, ty, ty)
          })
        case "zonal" =>
          val g = graft.raster.SyntheticEnv.grid
          val (tx, ty) = (tile(g.tilesX), tile(g.tilesY))
          zonalOp(span(r, g.pxPerTile, tx, tx, ty, ty))
      }
    }
  }

  val ops: IndexedSeq[Op] = makeOps(seed * 1000003L + 1, nOps)
  private val warmSource = makeOps(seed * 1000003L + 2, warmWindows * Cycle.size)
  def warmOp(k: Int): Op = warmSource(k)
  override def warmOps: Int = warmSource.size
  /** The first window is the cold one (about 2 s an op); the per-pixel
    * pass then keeps speeding up for longer than the tabular path does,
    * and four windows are what the run's time budget allows. */
  override def warmWindows: Int = 4
  private val geostores = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Geostore id of a zonal AOI; created through the API the first time
    * (before the clock starts for measured ops). */
  private def gid(gj: String): String = geostores.computeIfAbsent(gj, _ => {
    val r = http.post("/geostore", gj)
    require(r.status == 200 || r.status == 201, s"geostore: ${r.status}")
    Http.field(r.body, "gfw_geostore_id")
  })
  ops.foreach { case z: ZonalOp => gid(z.gj); case _ => () }

  private def gridSel = Some(DataEnvironment.gridOf(
    graft.etl.VersionCreation.rasterAssetOptions(targetDir)))

  private def sqlOp(cls: String, w: (Int, Int, Int, Int)): Op = new Op(cls, "POST query/json (raster)") {
    val (gx0, gx1, gy0, gy1) = w
    val gj = rect(OriginLon, OriginLat, pd, gx0, gx1, gy0, gy1)
    lazy val want = counts(gx0, gx1, gy0, gy1, fx, fy, K)
    def input: String = gj
    def run(h: Http) = {
      val r = h.post(s"/dataset/$Dataset/v1/query/json", s"""{"sql":"$Sql","geometry":$gj}""")
      (r, () => if (r.status != 200) Some(s"status ${r.status}: ${r.body.take(160)}")
        else compare(want)(asCounts(dataRows(r.body), "cls", "n")))
    }
    def direct(t: Tracer): Unit = {
      t.span("geo")(graft.geo.Geom.areaHa(graft.geo.Geom.fromGeoJson(gj)))
      t.span("raster.env")(DataEnvironment.cached(catalog, TileLake.defaultDir, Map.empty, gridSel))
      val df = t.span("raster.build")(ZonalEngine.runSql(spark, catalog, Dataset, Sql, gj))
        .limit(100000)
      val out = t.span("sinks")(Sinks.toJsend(df))
      t.catalyst(df)
      t.addHere("sinks.bytes", out.length)
      t.addHere("rows_out", Tabular.rowsOf(out, json = true))
      t.addHere("raster.tiles_hit", tilesHit(gx0, gx1, gy0, gy1, px))
      t.addHere("raster.tile_px", px.toDouble * px)
    }
  }

  /** Tiles the pixel window truly covers: what an ideal pruner reads.
    * The tiles an op did read, and so its pixels (`raster.tile_px`
    * each), come from Spark's scan accounting in the traced run. */
  private def tilesHit(gx0: Int, gx1: Int, gy0: Int, gy1: Int, p: Int): Int =
    ((gx1 - 1) / p - gx0 / p + 1) * ((gy1 - 1) / p - gy0 / p + 1)

  private def batchOp(ws: Seq[(Int, Int, Int, Int)]): Op = new Op("batch", "POST query/batch") {
    val gjs = ws.map { case (x0, x1, y0, y1) => rect(OriginLon, OriginLat, pd, x0, x1, y0, y1) }
    lazy val want = ws.zipWithIndex.map { case ((x0, x1, y0, y1), i) =>
      i.toString -> counts(x0, x1, y0, y1, fx, fy, K) }.toMap
    def input: String = gjs.mkString(",")
    def run(h: Http) = {
      val fc = gjs.map(g => s"""{"type":"Feature","properties":{},"geometry":$g}""")
        .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
      val r = h.awaitJob(h.post(s"/dataset/$Dataset/v1/query/batch",
        s"""{"sql":"$Sql","feature_collection":$fc}"""))
      (r, () => if (r.status != 200) Some(s"status ${r.status}: ${r.body.take(160)}")
        else try {
          val data = graft.geo.Json.parseObject(r.body)("data").asInstanceOf[Map[String, Any]]
          if (data("status") != "success") Some(s"batch job ${data("status")}: ${r.body.take(160)}")
          else {
            val got = data("results").asInstanceOf[List[Map[String, Any]]].map { f =>
              f("fid").toString -> asCounts(f("rows").asInstanceOf[List[Map[String, Any]]], "cls", "n")
            }.toMap
            if (got == want.map { case (k, v) => k -> Oracle(v) }) None else Some(s"batch counts differ: got $got want $want")
          }
        } catch { case ex: Throwable => Some(s"unparseable batch answer: $ex") })
    }
    def direct(t: Tracer): Unit = {
      t.span("geo")(gjs.foreach(g => graft.geo.Geom.areaHa(graft.geo.Geom.fromGeoJson(g))))
      t.span("raster.env")(DataEnvironment.cached(catalog, TileLake.defaultDir, Map.empty, gridSel))
      val df = t.span("raster.build")(ZonalEngine.runSqlBatch(spark, catalog, Dataset, Sql,
        gjs.zipWithIndex.map { case (g, i) => i.toString -> g }))
      t.addHere("rows_out", t.span("sinks")(df.collect()).length)
      t.catalyst(df)
      t.addHere("raster.tiles_hit", ws.map { case (x0, x1, y0, y1) => tilesHit(x0, x1, y0, y1, px) }.sum)
      t.addHere("raster.tile_px", px.toDouble * px)
    }
  }

  /** `/analysis/zonal` registers one session-global temp view for every
    * request (`ZonalEngine.run`), so two zonal requests in flight at once
    * can read each other's tiles and answer a wrong 200. The workload's
    * ops send one zonal request at a time, which makes their failure
    * count a property of the code, not of the scheduler; `probe`, in
    * the traced run, sends them concurrently and counts the wrong
    * answers. */
  private val zonalGate = new Object

  private final class ZonalOp(w: (Int, Int, Int, Int), gated: Boolean = true)
      extends Op("zonal", "GET analysis/zonal") {
    private val g = graft.raster.SyntheticEnv.grid
    val (gx0, gx1, gy0, gy1) = w
    val gj = rect(g.originLon, g.originLat, g.pixelDeg, gx0, gx1, gy0, gy1)
    /** The synthetic land cover is ((gx·31 + gy·17) mod 7). */
    lazy val want = counts(gx0, gx1, gy0, gy1, x => x * 31 % 7, y => y * 17 % 7, 7)
    def input: String = gj
    def run(h: Http) = {
      def send() = h.get(s"/analysis/zonal?geostore_id=${gid(gj)}&group_by=landcover")
      val r = if (gated) zonalGate.synchronized(send()) else send()
      (r, () => if (r.status != 200) Some(s"status ${r.status}: ${r.body.take(160)}")
        else compare(want)(asCounts(dataRows(r.body), "landcover", "pixel_count")))
    }
    def direct(t: Tracer): Unit = {
      t.span("geo")(graft.geo.Geom.fromGeoJson(gj))
      val df = t.span("raster.build")(ZonalEngine.run(spark, ZonalEngine.Request(gj, Seq("landcover"))))
      val out = t.span("sinks")(Sinks.toJsend(df))
      t.catalyst(df)
      t.addHere("sinks.bytes", out.length)
      t.addHere("rows_out", Tabular.rowsOf(out, json = true))
      t.addHere("raster.tiles_hit", tilesHit(gx0, gx1, gy0, gy1, g.pxPerTile))
      t.addHere("raster.tile_px", g.pxPerTile.toDouble * g.pxPerTile)
    }
  }
  private def zonalOp(w: (Int, Int, Int, Int)): Op = new ZonalOp(w)

  /** The zonal race, made visible: `RaceCalls` distinct-AOI zonal
    * requests from `RaceClients` clients at once, ungated. */
  override def probe(): Seq[(String, String)] = {
    val r = new Random(seed * 1000003L + 3)
    val g = graft.raster.SyntheticEnv.grid
    val zs = (0 until RaceCalls).map { _ =>
      val (tx, ty) = (r.nextInt(g.tilesX), r.nextInt(g.tilesY))
      new ZonalOp(span(r, g.pxPerTile, tx, tx, ty, ty), gated = false)
    }
    zs.foreach(z => gid(z.gj))
    val s = Load.closedLoop(zs.size, zs, IndexedSeq.fill(RaceClients)(new Http(port)))
    Seq("zonal_race_probe" -> Out.obj(Seq("clients" -> RaceClients.toString,
      "calls" -> s.size.toString, "wrong" -> s.count(!_.ok).toString)))
  }

  override def detail(samples: Seq[Sample]): Seq[(String, String)] =
    Seq("small", "large", "batch", "zonal").flatMap { c =>
      val xs = samples.filter(_.cls == c).map(s => if (s.ok) s.ms else Double.PositiveInfinity)
      Seq(s"${c}_p50_ms" -> Stats.pct(xs, 0.5).map(Out.num).getOrElse("null"), s"${c}_n" -> xs.size.toString)
    }

  override def close(): Unit = server.stop()
}

object Raster {
  val Dataset = "bench_raster"
  val Tiles = 4
  val K = 7
  val OriginLon = 30.0
  val OriginLat = 10.0
  val BatchAois = 3
  /** One class cycle of eight ops, each class twice: the classes weigh
    * the same because no recorded traffic says otherwise. The two zonal
    * ops are four apart, so the zonal gate seldom makes a client wait. */
  val Cycle: IndexedSeq[String] =
    IndexedSeq("small", "large", "zonal", "batch", "small", "large", "zonal", "batch")
  val RaceClients = 4
  val RaceCalls = 32
}
