package graft.raster

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every zonal entry point runs the same fused pass, so over one AOI
  * they agree row for row: `run` (`/analysis/zonal`), `runBatch`
  * (`/analysis/zonal/batch`, per feature), `runSql` (the OTF user SQL
  * with the same statistic) and `zonal` over a spec built here from
  * the lake's band columns — with and without the tree cover density
  * threshold. */
class ZonalEngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)
  override def afterAll(): Unit = spark.stop()
  private val catalog = SyntheticRasters.catalog
  private val g = SyntheticEnv.grid

  private def rect(x0: Double, y0: Double, x1: Double, y1: Double): String =
    s"""{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}"""

  private val aois = Seq(
    "one tile" -> rect(0.13, 43.12, 0.87, 43.91),
    "16 tiles" -> ("""{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],""" +
      """[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""),
    // sides on tile edges: four whole tiles, none of the touching ones
    "tile edges" -> rect(1.0, 41.0, 3.0, 43.0))

  /** (class, area_ha, pixel_count) rows, ordered by class. */
  private type Rows = Seq[(Long, Double, Long)]
  private def rows(df: DataFrame, k: String, area: String, n: String): Rows =
    df.collect().map(r => (r.getAs[Long](k), r.getAs[Double](area), r.getAs[Long](n)))
      .toSeq.sortBy(_._1)

  private def viaZonal(gj: String, tcd: Option[Int]): Rows = {
    val bands = Seq("px_landcover", "px_tcd")
    val spec = ZonalSpec(g, keys = Seq(DataEnvironment.BandFn(0)), keyStrides = Seq(1L),
      vals = Seq(new DataEnvironment.MicroHa(g)),
      preds = tcd.map(t => PixelPreds.Ge(DataEnvironment.BandFn(1), t.toDouble)).toSeq,
      usedBands = bands.indices, nBands = bands.length)
    TileLake.ensureWritten(spark, TileLake.defaultDir)
    rows(ZonalEngine.zonal(spark, TileLake.defaultDir, spec, bands, gj)
      .selectExpr("k", "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha", "c"), "k", "area_ha", "c")
  }

  private def viaSql(gj: String, tcd: Option[Int]): Rows = {
    val where = tcd.fold("")(t => s"WHERE umd_tree_cover_density_2000__threshold >= $t")
    rows(ZonalEngine.runSql(spark, catalog, "landcover_raster",
      s"""SELECT landcover_raster__class, SUM(area__ha) AS area_ha, COUNT(*) AS n
         |FROM data $where GROUP BY landcover_raster__class""".stripMargin, gj),
      "landcover_raster__class", "area_ha", "n")
  }

  for (tcd <- Seq(None, Some(30))) {
    test(s"run, runBatch, runSql and zonal agree per AOI (tcd threshold $tcd)") {
      val batch = ZonalEngine.runBatch(spark, catalog, aois.map(_._2), tcd).collect()
      aois.zipWithIndex.foreach { case ((name, gj), fid) =>
        val single = rows(ZonalEngine.run(spark, ZonalEngine.Request(gj, tcdThreshold = tcd)),
          "landcover", "area_ha", "pixel_count")
        assert(single.nonEmpty, s"$name: no rows")
        val perFid = batch.filter(_.getAs[Int]("fid") == fid).map(r => (
          r.getAs[Long]("landcover"), r.getAs[Double]("area_ha"),
          r.getAs[Long]("pixel_count"))).toSeq.sortBy(_._1)
        assert(perFid == single, s"$name: runBatch")
        assert(viaSql(gj, tcd) == single, s"$name: runSql")
        assert(viaZonal(gj, tcd) == single, s"$name: zonal")
      }
    }
  }

  test("an AOI whose sides lie on tile edges covers exactly its whole tiles") {
    val n = rows(ZonalEngine.run(spark, ZonalEngine.Request(aois(2)._2)),
      "landcover", "area_ha", "pixel_count").map(_._3).sum
    assert(n == 4L * g.pxPerTile * g.pxPerTile)
  }
}
