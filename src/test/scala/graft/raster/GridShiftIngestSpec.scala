package graft.raster

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The grid_shift_gsb ingest wiring (VersionCreation): precedence —
  * a shift GRID supersedes any towgs84 Helmert set the CRS carries
  * (proj: +nadgrids= wins over +towgs84=) — and the fail-fast when a
  * grid is supplied with a source whose path carries no datum model.
  * Pixels are 50 m so the ~100 m Amersfoort Helmert offset moves
  * nearest-neighbor picks: if the datum shift were applied ON TOP of
  * the grid (the double-shift bug), the lakes would differ. */
class GridShiftIngestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private val ctKeys = Map[Int, Double](
    3075 -> 16.0,
    3081 -> (52.0 + 9.0 / 60 + 22.178 / 3600),
    3080 -> (5.0 + 23.0 / 60 + 15.500 / 3600),
    3092 -> 0.9999079,
    3082 -> 155000.0, 3083 -> 463000.0,
    2057 -> Warp.ObliqueStereographic.BesselA,
    2059 -> Warp.ObliqueStereographic.BesselInvF)
  private val towgs84 = {
    val h = Warp.Helmert7.amersfoort
    Seq(h.tx, h.ty, h.tz, h.rxSec, h.rySec, h.rzSec, h.dsPpm)
      .zipWithIndex.map { case (v, i) => (GeoTiff.Towgs84Base + i) -> v }.toMap
  }

  private lazy val gsbPath: String = {
    def node(f: (Int, Int) => Double) =
      Array.tabulate(5 * 7)(i => f(i / 7, i % 7))
    val grid = Ntv2.Grid(180000.0, 3600.0, -28800.0, 3600.0, 5, 7,
      node((r, c) => 1.2 + 0.05 * r + 0.03 * c),
      node((r, c) => -0.9 + 0.04 * r - 0.02 * c))
    val p = java.nio.file.Files.createTempFile("gsi_shift", ".gsb")
    java.nio.file.Files.write(p, Ntv2.write(grid))
    p.toString
  }

  /** One 10×10 50 m tile at the RD center through the raster ingest;
    * returns (ok, log, lake pixels, lake dir). */
  private def ingest(tag: String, raster: GeoTiff.Raster,
                     gsb: Option[String]): (Boolean, String, Seq[Seq[Long]], String) = {
    val base = java.nio.file.Files.createTempDirectory(s"gsi_$tag")
    val src = base.resolve("t.tif")
    GeoTiff.writeRaster(src, raster)
    val lake = base.resolve("lake").toString
    val (logEntries, ok) = graft.etl.VersionCreation.createTable(
      spark, s"gsi$tag", "v1",
      graft.etl.VersionCreation.CreationOptions(
        sourceUris = Seq(src.toString),
        sourceType = "raster", pixelMeaning = "cls",
        noData = Some("-1"), unifyProjection = true,
        gridShiftGsb = gsb),
      lake)
    val log = logEntries.map(e => s"${e.task} ${e.status} ${e.detail}").mkString("\n")
    val px = if (!ok) Nil else
      spark.read.parquet(lake).orderBy("tile_id").collect().toSeq
        .map(r => r.getSeq[Long](r.fieldIndex("px_cls")).toList)
    (ok, log, px, lake)
  }

  private def rdRaster(geoParams: Map[Int, Double]): GeoTiff.Raster =
    GeoTiff.Raster(10, 10, 155000.0, 463000.0, 50.0, 32767,
      GeoTiff.SampleType.Int32,
      Seq(Array.tabulate(100)(i => (((i % 10) * 7 + (i / 10) * 11) % 5).toDouble)),
      geoParams = geoParams)

  test("a shift grid supersedes the towgs84 set the source CRS carries") {
    // the COMPOSITION pinned directly (a warped lake cannot pin it:
    // the target grid translates with the datum model, so pixel
    // VALUES coincide between datum models at any pixel size)
    import graft.etl.VersionCreation.resolveSourceProjection
    val grid = Ntv2.read(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(gsbPath)))
    val base = Warp.ObliqueStereographic.fromGeoKeys(ctKeys)
    // 2062 keys + grid: the Helmert wrap must be STRIPPED, grid only
    // (structural match — Ntv2.Grid carries Arrays, so case-class ==
    // is reference equality on the shift tables)
    resolveSourceProjection(32767, ctKeys ++ towgs84, Some(gsbPath)).get match {
      case Warp.GridShifted(b, g) =>
        assert(b == base, s"grid must wrap the BARE projection, got $b")
        assert(g.sLatSec == grid.sLatSec && g.latIncSec == grid.latIncSec &&
          g.eLonWSec == grid.eLonWSec && g.lonIncSec == grid.lonIncSec &&
          g.nRows == grid.nRows && g.nCols == grid.nCols &&
          g.latShiftSec.toSeq == grid.latShiftSec.toSeq &&
          g.lonShiftWSec.toSeq == grid.lonShiftWSec.toSeq, "grid mismatch")
      case other => fail(s"expected GridShifted, got $other")
    }
    // 2062 keys, no grid: the Helmert composition stands
    assert(resolveSourceProjection(32767, ctKeys ++ towgs84, None)
      .contains(Warp.DatumShifted(base, Warp.Helmert7.amersfoort,
        Warp.ObliqueStereographic.BesselA, Warp.ObliqueStereographic.BesselE2)))
    // no datum info at all: the bare projection
    assert(resolveSourceProjection(32767, ctKeys, None).contains(base))
    // …and end-to-end: the 2062+grid and grid-only ingests agree on
    // BOTH pixels and target-grid georeferencing. The georeferencing
    // is the discriminating half: pixel VALUES survive a datum swap
    // (the lattice translates with the model), but the persisted
    // grid ORIGIN moves with it — a composed double shift would land
    // A's origin off B's.
    val (okA, logA, a, lakeA) = ingest("a", rdRaster(ctKeys ++ towgs84), Some(gsbPath))
    val (okB, logB, b, lakeB) = ingest("b", rdRaster(ctKeys), Some(gsbPath))
    assert(okA, logA.takeRight(300))
    assert(okB, logB.takeRight(300))
    assert(a == b && a.nonEmpty,
      "2062 keys must be superseded by the grid, not composed")
    def origin(lake: String): (Double, Double) = {
      val o = graft.etl.VersionCreation.rasterAssetOptions(lake)
      (o("grid_origin_lon").toDouble, o("grid_origin_lat").toDouble)
    }
    assert(origin(lakeA) == origin(lakeB),
      "a composed double shift would move the target origin")
    // teeth: the Helmert-only model puts the origin somewhere ELSE
    val (okC, logC, _, lakeC) = ingest("c", rdRaster(ctKeys ++ towgs84), None)
    assert(okC, logC.takeRight(300))
    assert(origin(lakeC) != origin(lakeB),
      "the two datum models must place the target origin differently")
  }

  test("grid_shift_gsb on an EPSG:4326 source fails fast") {
    val r4326 = GeoTiff.Raster(10, 10, 0.0, 44.0, 0.1, 4326,
      GeoTiff.SampleType.Int32,
      Seq(Array.tabulate(100)(i => (i % 5).toDouble)))
    val (ok, log, _, _) = ingest("d", r4326, Some(gsbPath))
    assert(!ok, "4326 + grid_shift_gsb must not ingest")
    assert(log.contains("grid_shift_gsb"), log.takeRight(400))
  }
}
