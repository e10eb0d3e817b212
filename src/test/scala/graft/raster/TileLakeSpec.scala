package graft.raster

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** TileLake id/pruning consistency — including the grids where the
  * round-1 ad-hoc formatter broke: double-digit tile indices and
  * W/S-hemisphere origins (`raster/RasterModel.scala` Grid.tileId is
  * the one canonical formatter).
  */
class TileLakeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("tileIdsForBbox matches Grid.tileId on a wide W/S-hemisphere grid") {
    // 12×12 one-degree tiles from (75W, 5S): tx reaches 11 (double
    // digit), all lons are W, all lats S of the equator.
    val g = Grid(originLon = -75.0, originLat = -5.0,
      tilesX = 12, tilesY = 12, tileDeg = 1.0, pxPerTile = 10)
    assert(g.tileId(0, 0) == "05S_075W")
    assert(g.tileId(11, 0) == "05S_064W")
    assert(g.tileId(10, 11) == "16S_065W")

    // bbox covering tiles tx in [9,11], ty in [2,3]
    val ids = TileLake.tileIdsForBbox(g, -65.5, -8.5, -63.5, -7.5).toSet
    val expected = (for { tx <- 9 to 11; ty <- 2 to 3 } yield g.tileId(tx, ty)).toSet
    assert(ids == expected)
    assert(ids.nonEmpty)
  }

  test("written partitions are discoverable by tileIdsForBbox pruning") {
    val g = SyntheticEnv.grid
    val dir = java.nio.file.Files.createTempDirectory("lake_spec").toString
    TileLake.ensureWritten(spark, dir)
    val all = spark.read.parquet(dir)
    // every partition value on disk equals the canonical formatter
    val onDisk = all.select("tile_id").distinct().collect().map(_.getString(0)).toSet
    val expected = (for { tx <- 0 until g.tilesX; ty <- 0 until g.tilesY }
      yield g.tileId(tx, ty)).toSet
    assert(onDisk == expected)
    // a 2×2-tile bbox prunes to exactly 4 tiles and scans rows for each
    val ids = TileLake.tileIdsForBbox(g, 0.5, 41.5, 1.5, 42.5)
    assert(ids.size == 4)
    val scanned = TileLake.scanPruned(spark, dir, ids)
    assert(scanned.select("tile_id").distinct().count() == 4)
  }

  test("batch many-AOI zonal equals the single-AOI path per AOI") {
    val g = SyntheticEnv.grid
    val dir = TileLake.defaultDir
    TileLake.ensureWritten(spark, dir)
    val aois = Seq(
      Seq((0.35, 40.68), (1.9, 40.68), (1.9, 41.9), (0.35, 41.9)),
      Seq((2.1, 42.1), (3.7, 42.1), (3.7, 43.4), (2.1, 43.4)),
      Seq((0.2, 43.1), (0.9, 43.1), (0.9, 43.8), (0.2, 43.8)))
    val batch = RasterQueries.probeBatchZonal(spark, dir, g, aois)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    aois.zipWithIndex.foreach { case (poly, id) =>
      val single = RasterQueries.probeZonal(spark, dir, g, poly).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(single.nonEmpty, s"aoi $id empty")
      single.foreach { case (k, v) =>
        assert(batch.get((id, k)).contains(v), s"aoi $id class $k: " +
          s"batch=${batch.get((id, k))} single=$v")
      }
      // and no extra classes appear for this AOI in the batch result
      assert(batch.keys.count(_._1 == id) == single.size, s"aoi $id cardinality")
    }
  }
}
