package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The creation and append DAGs' change logs and readers, driven
  * directly (no HTTP): a raster failure is logged under the step that
  * failed, and an append reads every vector format a creation reads. */
class VersionCreationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("a raster build failing after create_table is logged under load_data") {
    val base = Files.createTempDirectory("vc_raster")
    val src = base.resolve("t.tif")
    graft.raster.GeoTiff.write(src, graft.raster.GeoTiff.Tile(10, 10, 30.0, 20.0, 0.1,
      Array.tabulate(100)(_ % 5)))
    // the lake directory cannot be made beneath a regular file
    val blocker = Files.writeString(base.resolve("blocker"), "not a directory")
    val (log, ok) = VersionCreation.createTable(spark, "vcraster", "v1",
      VersionCreation.CreationOptions(sourceUris = Seq(src.toString),
        sourceType = "raster", pixelMeaning = "class"),
      blocker.resolve("lake").toString)
    assert(!ok)
    assert(log.map(e => s"${e.task} ${e.status}") ==
      Seq("create_table success", "load_data failed"), log)
  }

  test("a vector version created from a shapefile appends a second shapefile") {
    val base = Files.createTempDirectory("vc_shp")
    val fields = Seq("pid" -> LongType, "tag" -> StringType)
    Shapefile.writePoints(Seq(((10.0, 20.0), Seq(7L, "a")), ((11.0, 21.0), Seq(8L, "b"))),
      fields, base.resolve("first"))
    Shapefile.writePoints(Seq(((12.0, 22.0), Seq(9L, "c"))), fields, base.resolve("second"))
    val target = base.resolve("table").toString
    val (created, ok) = VersionCreation.createTable(spark, "vcshp", "v1",
      VersionCreation.CreationOptions(sourceUris = Seq(base.resolve("first.shp").toString),
        sourceType = "vector"), target)
    assert(ok, created)
    assert(spark.read.parquet(target).count() == 2)
    val (appended, appendOk) = VersionCreation.appendVectorSources(spark, "vcshp", "v1",
      Seq(base.resolve("second.shp").toString), target)
    assert(appendOk, appended)
    val rows = spark.read.parquet(target)
    assert(rows.count() == 3)
    assert(rows.where("pid = 9 AND tag = 'c' AND lon = 12.0").count() == 1)
  }
}
