package graft.raster

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The scanline mask's exactness contract (mask ≡ per-pixel
  * `Geom.pointInPolygon`, i.e. ≡ `st_intersects` at pixel centers) and
  * the OTF SQL compiler's validation surface. */
class RasterSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private val g = SyntheticEnv.grid

  // deterministic pseudo-random polygons: star-shaped around a center,
  // radius jittered per vertex — concave, vertices off the lattice
  private def starPoly(cx: Double, cy: Double, seed: Long, n: Int): String = {
    var s = seed
    def next(): Double = { s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) }
    val pts = (0 until n).map { i =>
      val ang = 2 * math.Pi * i / n
      val r = 0.4 + 1.3 * next()
      (cx + r * math.cos(ang), cy + r * math.sin(ang))
    }
    val ring = (pts :+ pts.head).map { case (x, y) => s"[$x,$y]" }.mkString(",")
    s"""{"type":"Polygon","coordinates":[[$ring]]}"""
  }

  test("tileMask equals pointInPolygon at every pixel center (concave stars)") {
    val cs = Rasterizer.centers(g)
    for (seed <- 1L to 6L) {
      val gj = starPoly(1.7 + (seed % 3) * 0.4, 41.9 + (seed % 2) * 0.7, seed * 7919, 9)
      val geom = graft.geo.Geom.fromGeoJson(gj)
      val rings = geom match { case graft.geo.Polygon(r) => r; case _ => fail() }
      val pg = Rasterizer.prepare(geom)
      for (tx <- 0 until g.tilesX; ty <- 0 until g.tilesY) {
        val mask = Rasterizer.tileMask(pg, g, cs, tx, ty)
        var i = 0
        val p = g.pxPerTile
        while (i < p * p) {
          val gx = tx * p + i % p
          val gy = ty * p + i / p
          val exp = graft.geo.Geom.pointInPolygon(cs.lon(gx), cs.lat(gy), rings)
          assert(mask(i) == exp,
            s"seed=$seed tile=($tx,$ty) px=($gx,$gy) lon=${cs.lon(gx)} lat=${cs.lat(gy)}")
          i += 1
        }
      }
    }
  }

  test("tileMask handles a polygon with a hole and a MultiPolygon") {
    val gj = """{"type":"MultiPolygon","coordinates":[
      [[[0.31,40.72],[2.13,40.64],[2.08,42.57],[0.42,42.49],[0.31,40.72]],
       [[0.91,41.21],[1.53,41.18],[1.48,41.93],[0.97,41.88],[0.91,41.21]]],
      [[[2.61,40.91],[3.74,40.87],[3.69,41.96],[2.66,41.99],[2.61,40.91]]]]}"""
    val geom = graft.geo.Geom.fromGeoJson(gj)
    val polys = geom match { case graft.geo.MultiPolygon(ps) => ps; case _ => fail() }
    val pg = Rasterizer.prepare(geom)
    val cs = Rasterizer.centers(g)
    var inside = 0
    for (tx <- 0 until g.tilesX; ty <- 0 until g.tilesY) {
      val mask = Rasterizer.tileMask(pg, g, cs, tx, ty)
      val p = g.pxPerTile
      var i = 0
      while (i < p * p) {
        val gx = tx * p + i % p
        val gy = ty * p + i / p
        val exp = polys.exists(rings =>
          graft.geo.Geom.pointInPolygon(cs.lon(gx), cs.lat(gy), rings))
        assert(mask(i) == exp, s"tile=($tx,$ty) px=($gx,$gy)")
        if (mask(i)) inside += 1
        i += 1
      }
    }
    assert(inside > 0) // the hole actually excludes pixels; shapes overlap grid
  }

  private def env = DataEnvironment.cached(SyntheticRasters.catalog, TileLake.defaultDir)

  test("compile rejects unknown layers, bad functions, non-literal filters") {
    val e1 = intercept[RasterSqlException] {
      RasterSql.compile("SELECT sum(nope) FROM landcover_raster__class", env) }
    assert(e1.detail.contains("Layer 'nope' is invalid"))
    val e2 = intercept[RasterSqlException] {
      RasterSql.compile(
        "SELECT first(landcover_raster__class) FROM landcover_raster__class", env) }
    assert(e2.detail.toLowerCase.contains("unsupported") ||
      e2.detail.toLowerCase.contains("not supported") ||
      e2.detail.toLowerCase.contains("pixel listings select"))
    val e3 = intercept[RasterSqlException] {
      RasterSql.compile(
        "SELECT count(*) FROM landcover_raster__class WHERE landcover_raster__class = umd_tree_cover_loss__year", env) }
    assert(e3.detail.contains("compare a layer with a literal"))
    val e4 = intercept[RasterSqlException] {
      RasterSql.compile("SELECT count(*) FROM landcover_raster__class JOIN x ON 1=1", env) }
    assert(e4.detail.toLowerCase.contains("single table"))
  }

  test("environments are per grid: cross-grid layer references are invalid") {
    // the default-grid environment has no coarse-grid layer…
    assert(!env.layers.contains("whrc_biomass_tonnes__tonnes"))
    val e1 = intercept[RasterSqlException] {
      RasterSql.compile(
        "SELECT sum(whrc_biomass_tonnes__tonnes) FROM umd_tree_cover_loss__year", env) }
    assert(e1.detail.contains("Layer 'whrc_biomass_tonnes__tonnes' is invalid"))
    // …and the coarse-grid environment has neither the fine layers nor
    // their lake: its own grid, bands, and tile dir
    val coarse = DataEnvironment.cached(SyntheticRasters.catalog,
      TileLake.defaultDir, gridSel = Some(TileLake.derivedGrid))
    assert(coarse.grid == TileLake.derivedGrid)
    assert(coarse.lakeDir == TileLake.derivedDir)
    assert(coarse.bands == TileLake.derivedBandColumns)
    assert(coarse.layers.contains("whrc_biomass_tonnes__tonnes"))
    assert(!coarse.layers.contains("landcover_raster__class"))
    val e2 = intercept[RasterSqlException] {
      RasterSql.compile(
        "SELECT count(*) FROM whrc_biomass_tonnes__tonnes " +
          "WHERE landcover_raster__class = 3", coarse) }
    assert(e2.detail.contains("Layer 'landcover_raster__class' is invalid"))
  }

  test("layer-aware literal typing: bool, date, and dict strings") {
    // boolean layer accepts 'true'/'false' only
    RasterSql.compile("SELECT count(*) FROM is__umd_regional_primary_forest_2001 " +
      "WHERE is__umd_regional_primary_forest_2001 != 'false'", env)
    val eb = intercept[RasterSqlException] {
      RasterSql.compile("SELECT count(*) FROM is__umd_regional_primary_forest_2001 " +
        "WHERE is__umd_regional_primary_forest_2001 = 'maybe'", env) }
    assert(eb.detail.contains("'true'/'false'"))
    // date layer accepts ISO dates
    RasterSql.compile("SELECT count(*) FROM umd_glad_landsat_alerts__date " +
      "WHERE umd_glad_landsat_alerts__date >= '2021-01-01'", env)
    val ed = intercept[RasterSqlException] {
      RasterSql.compile("SELECT count(*) FROM umd_glad_landsat_alerts__date " +
        "WHERE umd_glad_landsat_alerts__date >= 'notadate'", env) }
    assert(ed.detail.contains("Invalid date literal"))
    // dictionary layer maps a raster-table meaning to its value
    RasterSql.compile("SELECT count(*) FROM landcover_raster__class " +
      "WHERE landcover_raster__class = 'forest'", env)
    val ec = intercept[RasterSqlException] {
      RasterSql.compile("SELECT count(*) FROM landcover_raster__class " +
        "WHERE landcover_raster__class = 'lava'", env) }
    assert(ec.detail.contains("does not match layer"))
  }

  test("dict-string filter evaluates like its numeric value") {
    val aoi = """{"type":"Polygon","coordinates":[[[0.35,40.68],[3.12,40.97],[3.7,43.25],[0.84,42.83],[0.35,40.68]]]}"""
    def run(sql: String) = ZonalEngine.runSql(
      spark, SyntheticRasters.catalog, "landcover_raster", sql, aoi)
      .collect().map(_.toSeq).toSeq
    val byName = run("SELECT count(*) AS c FROM data WHERE landcover_raster__class = 'forest'")
    val byValue = run("SELECT count(*) AS c FROM data WHERE landcover_raster__class = 0")
    assert(byName == byValue && byName.head.head.asInstanceOf[Long] > 0)
  }

  // every pixel center of the 4×4-tile test grid lies inside, so each
  // count below is a count over the whole grid of a RasterModel formula
  private val wholeGrid = """{"type":"Polygon","coordinates":[[[0.001,40.001],""" +
    """[3.999,40.001],[3.999,43.999],[0.001,43.999],[0.001,40.001]]]}"""
  private def landcoverPx(gx: Int, gy: Int): Int = (gx * 31 + gy * 17) % 7
  private def tcdPx(gx: Int, gy: Int): Int = (gx + gy * 3) % 101
  private def closedForm(p: (Int, Int) => Boolean): Long =
    (for (gx <- 0 until g.pxX; gy <- 0 until g.pxY if p(gx, gy)) yield 1L).sum
  private def countWhere(where: String): Long =
    ZonalEngine.runSql(spark, SyntheticRasters.catalog, "landcover_raster",
      s"SELECT count(*) AS c FROM data WHERE $where", wholeGrid).head().getLong(0)

  test("pixel predicate > counts the closed-form pixels") {
    assert(countWhere("landcover_raster__class > 4") ==
      closedForm((x, y) => landcoverPx(x, y) > 4))
  }

  test("pixel predicate < counts the closed-form pixels") {
    assert(countWhere("umd_tree_cover_density_2000__threshold < 30") ==
      closedForm((x, y) => tcdPx(x, y) < 30))
  }

  test("pixel predicate <= counts the closed-form pixels") {
    assert(countWhere("landcover_raster__class <= 2") ==
      closedForm((x, y) => landcoverPx(x, y) <= 2))
  }

  test("pixel predicate OR across two layers counts the closed-form pixels") {
    assert(countWhere("landcover_raster__class = 1 OR " +
      "umd_tree_cover_density_2000__threshold >= 90") ==
      closedForm((x, y) => landcoverPx(x, y) == 1 || tcdPx(x, y) >= 90))
  }

  test("pixel calc unary minus sums to the closed form") {
    TileLake.ensureWritten(spark, TileLake.defaultDir)
    val fn = PixelCalc.compile("-A * 2 + 5", Seq(DataEnvironment.BandFn(0)))
    val vs = TileLake.scan(spark, TileLake.defaultDir).select("px_landcover").collect()
      .flatMap { r =>
        val band: org.apache.spark.sql.catalyst.util.ArrayData =
          new org.apache.spark.sql.catalyst.util.GenericArrayData(r.getSeq[Long](0).toArray)
        (0 until band.numElements()).map(i => fn.eval(0, 0, Array(band), i))
      }
    val px = for (gx <- 0 until g.pxX; gy <- 0 until g.pxY) yield landcoverPx(gx, gy)
    assert(vs.sum == px.map(5L - 2 * _).sum)
    assert(vs.count(_ > 0) == px.count(_ <= 2))
  }
}
