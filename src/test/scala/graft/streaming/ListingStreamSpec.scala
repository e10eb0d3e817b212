package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.raster.{SyntheticRasters, TileLake, ZonalEngine}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming twin of the batch pixel-listing path
  * ([[ZonalEngine.runSqlStream]]): tile files arriving in the lake in
  * waves emit their in-AOI pixel rows exactly once, and the union over
  * all waves equals the batch listing over the same tiles. */
class ListingStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private val aoi =
    """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
  private val listSql =
    """SELECT latitude, longitude,
      |  umd_glad_landsat_alerts__date AS alert__date
      |FROM data
      |WHERE umd_glad_landsat_alerts__date >= '2021-01-01'""".stripMargin

  private def copyPartition(src: Path, dst: Path, partition: String): Unit = {
    val from = src.resolve(partition)
    val to = dst.resolve(partition)
    Files.createDirectories(to)
    Files.list(from).forEach { f =>
      if (f.getFileName.toString.endsWith(".parquet"))
        Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("pixel rows stream in per tile wave and match the batch listing") {
    val catalog = SyntheticRasters.catalog
    // batch reference (same SQL, no order/limit needed for a set compare)
    val batch = ZonalEngine.runSql(spark, catalog, "umd_glad_landsat_alerts",
      listSql, aoi).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDate(2).toString)).toSet
    assert(batch.nonEmpty)

    val lakeDir = java.nio.file.Paths.get(TileLake.defaultDir)
    // split so BOTH waves contribute pixels: map each batch pixel to
    // its tile, hold one contributing tile back for wave 2
    val g = graft.raster.SyntheticEnv.grid
    val contributing = batch.map { case (lat, lon, _) =>
      val tx = math.floor((lon - g.originLon) / g.tileDeg).toInt
      val ty = math.floor((g.originLat - lat) / g.tileDeg).toInt
      s"tile_id=${g.tileId(tx, ty)}"
    }
    assert(contributing.size >= 2, s"pixels span ${contributing.size} tiles")
    val bb = graft.geo.Geom.fromGeoJson(aoi).bbox
    val relevant = TileLake.tileIdsForBbox(g, bb._1, bb._2, bb._3, bb._4)
      .map(id => s"tile_id=$id").toSet
    val partitions = Files.list(lakeDir).toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(relevant.contains).sorted.toSeq
    val staging = Files.createTempDirectory("lakestream")

    val stream = ZonalEngine.runSqlStream(spark, catalog,
      "umd_glad_landsat_alerts", listSql, aoi,
      lakeDirOverride = Some(staging.toString))
    val q = stream.writeStream.format("memory").queryName("pixels")
      .outputMode("append").start()
    try {
      // wave 1: everything except one contributing tile
      val holdback = contributing.head
      val wave1 = partitions.filterNot(_ == holdback)
      val wave2 = Seq(holdback)
      wave1.foreach(copyPartition(lakeDir, staging, _))
      q.processAllAvailable()
      val afterWave1 = spark.table("pixels").count()
      // wave 2: the rest — previously listed pixels must not re-emit
      wave2.foreach(copyPartition(lakeDir, staging, _))
      q.processAllAvailable()
      val rows = spark.table("pixels").collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDate(2).toString))
      assert(rows.length == rows.toSet.size, "duplicate pixel rows emitted")
      assert(rows.length.toLong > afterWave1, "second wave emitted nothing")
      assert(rows.toSet == batch, s"stream ${rows.length} vs batch ${batch.size}")
    } finally q.stop()
  }

  test("aggregates and ORDER BY are rejected on the stream") {
    val catalog = SyntheticRasters.catalog
    intercept[graft.raster.RasterSqlException] {
      ZonalEngine.runSqlStream(spark, catalog, "umd_glad_landsat_alerts",
        "SELECT count(*) AS n FROM data", aoi)
    }
    intercept[graft.raster.RasterSqlException] {
      ZonalEngine.runSqlStream(spark, catalog, "umd_glad_landsat_alerts",
        listSql + " ORDER BY latitude LIMIT 10", aoi)
    }
  }
}
