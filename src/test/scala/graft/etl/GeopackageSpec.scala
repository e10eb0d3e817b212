package graft.etl

import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** GeoPackage write→read round-trips (points, polygons with holes,
  * typed attributes) and the container's GPKG metadata contract. */
class GeopackageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("points round-trip with typed attributes") {
    val dir = java.nio.file.Files.createTempDirectory("gpkg")
    val rows = (1 to 50).map { i =>
      (graft.geo.Geom.toWkb(graft.geo.Point(i * 0.5, -i * 0.25)),
        Seq[Any](i.toLong, s"p$i", i * 1.5))
    }
    Geopackage.write(dir.resolve("pts.gpkg"), "pts", "POINT", rows,
      Seq("id" -> LongType, "name" -> StringType, "score" -> DoubleType))
    val back = Geopackage.read(spark, dir.toString).collect().sortBy(_.getLong(0))
    assert(back.length == 50)
    val r7 = back(6)
    assert(r7.getLong(0) == 7L)
    assert(graft.geo.Geom.fromWkb(r7.getAs[Array[Byte]]("geom")) ==
      graft.geo.Point(3.5, -1.75))
    assert(r7.getAs[Long]("id") == 7L && r7.getAs[String]("name") == "p7" &&
      r7.getAs[Double]("score") == 10.5)
  }

  test("polygons with holes round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("gpkgp")
    val donut = graft.geo.Polygon(Array(
      Array((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)),
      Array((1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0))))
    Geopackage.write(dir.resolve("z.gpkg"), "zones", "POLYGON",
      Seq((graft.geo.Geom.toWkb(donut), Seq[Any]("donut"))),
      Seq("name" -> StringType))
    val back = Geopackage.read(spark, dir.toString).collect()
    assert(back.length == 1)
    val poly = graft.geo.Geom.fromWkb(back(0).getAs[Array[Byte]]("geom"))
      .asInstanceOf[graft.geo.Polygon]
    assert(poly.rings.length == 2 && poly.rings(0).length == 5)
    assert(back(0).getAs[String]("name") == "donut")
  }

  test("container carries the required GPKG metadata tables") {
    val dir = java.nio.file.Files.createTempDirectory("gpkgm")
    Geopackage.write(dir.resolve("m.gpkg"), "layer", "POINT",
      Seq((graft.geo.Geom.toWkb(graft.geo.Point(1, 2)), Seq[Any](1L))),
      Seq("id" -> LongType))
    val db = java.nio.file.Files.readAllBytes(dir.resolve("m.gpkg"))
    // application_id "GPKG"
    assert(java.nio.ByteBuffer.wrap(db, 68, 4).getInt == 0x47504b47)
    // the three required srs records
    val srs = Sqlite.readTable(db, "gpkg_spatial_ref_sys")
    assert(srs.map(_._1).toSet == Set(-1L, 0L, 4326L)) // srs_id = rowid alias
    val contents = Sqlite.readTable(db, "gpkg_contents")
    assert(contents.length == 1 && contents.head._2.head == "layer" &&
      contents.head._2(1) == "features")
    val gc = Sqlite.readTable(db, "gpkg_geometry_columns")
    assert(gc.head._2.take(3) == Seq("layer", "geom", "POINT"))
    // geometry blob: GP magic + srs 4326 little-endian + envelope
    val feat = Sqlite.readTable(db, "layer")
    val blob = feat.head._2(1).asInstanceOf[Array[Byte]]
    assert(blob(0) == 0x47 && blob(1) == 0x50 && blob(2) == 0)
    assert(java.nio.ByteBuffer.wrap(blob, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt == 4326)
  }
}
