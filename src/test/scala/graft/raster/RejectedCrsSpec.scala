package graft.raster

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The projection program's REJECTION boundary, per family (round-14
  * verdict ask #3): the documented-out series/complex-polynomial
  * families — Cassini-Soldner (CT 18), New Zealand Map Grid
  * (EPSG:27200), oblique Mercator (CT 3) — must be refused with a
  * message that NAMES the family and points at the reference's own
  * escape hatch (reproject with GDAL/proj,
  * `batch/scripts/unify_projection.sh:13-40`), not the generic
  * supported-list hint. Each case drives the real raster ingest
  * (VersionCreation.createTable) end-to-end so the asserted text is
  * the text a user actually sees in the change log. Polyconic
  * (CT 22) left this list when it gained a closed-form resolution
  * (r36) — its case asserts the RESOLUTION instead, so the boundary
  * test can never silently disagree with the registry. */
class RejectedCrsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  /** One 10×10 tile through the raster ingest; returns (ok, log). */
  private def ingest(tag: String, epsg: Int,
                     geoParams: Map[Int, Double]): (Boolean, String) = {
    val base = java.nio.file.Files.createTempDirectory(s"rej_$tag")
    val src = base.resolve("t.tif")
    GeoTiff.writeRaster(src, GeoTiff.Raster(10, 10, 500000.0, 5000000.0,
      50.0, epsg, GeoTiff.SampleType.Int32,
      Seq(Array.tabulate(100)(i => (i % 5).toDouble)),
      geoParams = geoParams))
    val (logEntries, ok) = graft.etl.VersionCreation.createTable(
      spark, s"rej$tag", "v1",
      graft.etl.VersionCreation.CreationOptions(
        sourceUris = Seq(src.toString),
        sourceType = "raster", pixelMeaning = "cls",
        noData = Some("-1"), unifyProjection = true),
      base.resolve("lake").toString)
    (ok, logEntries.map(e => s"${e.task} ${e.status} ${e.detail}").mkString("\n"))
  }

  // CT geokeys shaped the way GDAL writes each family (origin +
  // false easting/northing); the VALUES don't matter to a rejection,
  // only that the CT code is carried and recognized
  private def ctParams(ct: Double): Map[Int, Double] = Map(
    3075 -> ct, 3081 -> 40.0, 3080 -> -75.0, 3082 -> 500000.0, 3083 -> 0.0)

  test("Cassini-Soldner (CT 18) is refused BY NAME") {
    assert(Warp.projectionFor(32767, ctParams(18.0)).isEmpty)
    val (ok, log) = ingest("cassini", 32767, ctParams(18.0))
    assert(!ok, "a CT 18 source must not ingest")
    assert(log.contains("CT 18 Cassini-Soldner"), log.takeRight(500))
    assert(log.contains("reproject to EPSG:4326 with GDAL/proj"),
      log.takeRight(500))
  }

  test("Polyconic (CT 22) RESOLVES — it is no longer in the rejected set") {
    val p = Warp.projectionFor(32767, ctParams(22.0))
    assert(p.exists(_.isInstanceOf[Warp.Polyconic]), s"CT 22 resolved to $p")
    assert(Warp.projectionFor(54021)
      .exists(_.isInstanceOf[Warp.Polyconic]), "ESRI:54021")
    assert(Warp.projectionFor(5880)
      .exists(_.isInstanceOf[Warp.Polyconic]), "EPSG:5880")
  }

  test("New Zealand Map Grid (EPSG:27200) is refused BY NAME") {
    assert(Warp.projectionFor(27200).isEmpty)
    val (ok, log) = ingest("nzmg", 27200, Map.empty)
    assert(!ok, "an NZMG source must not ingest")
    assert(log.contains("EPSG:27200 New Zealand Map Grid"),
      log.takeRight(500))
    assert(log.contains("reproject to EPSG:4326 with GDAL/proj"),
      log.takeRight(500))
  }

  test("oblique Mercator (CT 3) is refused BY NAME") {
    assert(Warp.projectionFor(32767, ctParams(3.0)).isEmpty)
    val (ok, log) = ingest("om", 32767, ctParams(3.0))
    assert(!ok, "a CT 3 source must not ingest")
    assert(log.contains("CT 3 Oblique Mercator"), log.takeRight(500))
  }

  test("an unrecognized code falls back to the supported-list hint") {
    // EPSG:2154 (RGF93 / Lambert-93) is a real registry code with no
    // resolution and no CT geokeys — the generic hint, not a family
    // name (geokeys are 16-bit, so the code must fit a SHORT)
    val (ok, log) = ingest("unknown", 2154, Map.empty)
    assert(!ok)
    assert(log.contains("EPSG:2154 not supported"), log.takeRight(500))
    assert(log.contains("unify_projection handles"), log.takeRight(600))
  }
}
