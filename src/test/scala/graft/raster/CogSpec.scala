package graft.raster

import org.scalatest.funsuite.AnyFunSuite

/** The distributed COG builder ([[Cog]]) against the in-memory writer
  * it replaced in the cogify job: same bytes, bounded driver memory. */
class CogSpec extends AnyFunSuite {

  private def sparkSession() = graft.LocalTuning.session(4)

  // 3×2 tiles of 20 px ⇒ 60×40 image; block 16 ⇒ 4×3 base blocks,
  // overviews 30×20 (2×2 blocks) then 15×10 (one block) — edge blocks,
  // odd dims, and multi-level halving all exercised
  private val g = Grid(originLon = 10.0, originLat = 50.0,
    tilesX = 3, tilesY = 2, tileDeg = 1.0, pxPerTile = 20)

  private def pixel(tx: Int, ty: Int, i: Int): Long =
    ((tx * 131 + ty * 17 + i * 7) % 255).toLong

  test("distributed build is byte-identical to the in-memory writer") {
    val spark = sparkSession()
    import spark.implicits._
    // 5 of 6 tiles present — the absent (2,1) tile must land as 0s
    val rows = for {
      ty <- 0 until g.tilesY; tx <- 0 until g.tilesX
      if !(tx == 2 && ty == 1)
    } yield (g.tileId(tx, ty), tx, ty,
      Array.tabulate(g.pxPerTile * g.pxPerTile)(i => pixel(tx, ty, i)))
    val lake = java.nio.file.Files.createTempDirectory("cog_lake").toString
    rows.toDF("tile_id", "tx", "ty", "px_value")
      .write.mode("overwrite").parquet(lake)

    // the legacy path: full mosaic in memory
    val w = g.pxX; val h = g.pxY
    val px = new Array[Int](w * h)
    rows.foreach { case (_, tx, ty, vals) =>
      var i = 0
      while (i < vals.length) {
        px((ty * g.pxPerTile + i / g.pxPerTile) * w +
          tx * g.pxPerTile + i % g.pxPerTile) = vals(i).toInt
        i += 1
      }
    }

    val outDir = java.nio.file.Files.createTempDirectory("cog_out")
    // 16: blocks smaller than a lake tile (fragments split tiles);
    // 32: blocks LARGER than the 20-px tile (many tiles per block —
    // the realistic shape, production blocks are 512 over 256-px
    // tiles); 48: one block column swallows the whole 60-px width
    for (blockSize <- Seq(16, 32, 48)) {
      val distPath = outDir.resolve(s"dist_$blockSize.tif")
      val n = Cog.buildFromLake(spark, lake, "px_value", g, blockSize, distPath)
      assert(n == 5)
      val memPath = outDir.resolve(s"mem_$blockSize.tif")
      GeoTiff.writeCog(memPath,
        GeoTiff.Tile(w, h, g.originLon, g.originLat, g.pixelDeg, px), blockSize)
      val distBytes = java.nio.file.Files.readAllBytes(distPath)
      val memBytes = java.nio.file.Files.readAllBytes(memPath)
      assert(distBytes.length == memBytes.length,
        s"block $blockSize: ${distBytes.length} vs ${memBytes.length} bytes")
      assert(java.util.Arrays.equals(distBytes, memBytes), s"block $blockSize")
    }

    // and it reads back: 3 pyramid levels at block 16, base = mosaic
    val distBytes = java.nio.file.Files.readAllBytes(outDir.resolve("dist_16.tif"))
    val levels = GeoTiff.readLevels(distBytes)
    assert(levels.map(l => (l.width, l.height)) ==
      Seq((60, 40), (30, 20), (15, 10)))
    assert(levels.head.pixels.toSeq == px.toSeq)
  }

  test("absent lake tiles fill with the declared no_data, not 0") {
    val spark = sparkSession()
    import spark.implicits._
    val rows = for {
      ty <- 0 until g.tilesY; tx <- 0 until g.tilesX
      if !(tx == 2 && ty == 1)
    } yield (g.tileId(tx, ty), tx, ty,
      Array.tabulate(g.pxPerTile * g.pxPerTile)(i => pixel(tx, ty, i)))
    val lake = java.nio.file.Files.createTempDirectory("cog_ndlake").toString
    rows.toDF("tile_id", "tx", "ty", "px_value")
      .write.mode("overwrite").parquet(lake)
    val out = java.nio.file.Files.createTempDirectory("cog_ndout").resolve("nd.tif")
    Cog.buildFromLake(spark, lake, "px_value", g, 16, out, noData = -9999.0)
    val lv = GeoTiff.readLevels(java.nio.file.Files.readAllBytes(out)).head
    val w = g.pxX
    // the absent (2,1) tile's footprint is ALL -9999 — a value-0 fill
    // would be indistinguishable from real zero data
    for (yy <- 20 until 40; xx <- 40 until 60)
      assert(lv.pixels(yy * w + xx) == -9999,
        s"($xx,$yy) = ${lv.pixels(yy * w + xx)}")
    // present tiles are untouched by the fill
    rows.foreach { case (_, tx, ty, vals) =>
      var i = 0
      while (i < vals.length) {
        val got = lv.pixels(
          (ty * g.pxPerTile + i / g.pxPerTile) * w +
            tx * g.pxPerTile + i % g.pxPerTile)
        assert(got == vals(i), s"($tx,$ty) px $i")
        i += 1
      }
    }
  }

  test("float lakes stream as float64 with exact values") {
    val spark = sparkSession()
    import spark.implicits._
    val rows = for (ty <- 0 until g.tilesY; tx <- 0 until g.tilesX)
      yield (g.tileId(tx, ty), tx, ty,
        Array.tabulate(g.pxPerTile * g.pxPerTile)(
          i => pixel(tx, ty, i) * 0.25 + 0.125))
    val lake = java.nio.file.Files.createTempDirectory("cog_flake").toString
    rows.toDF("tile_id", "tx", "ty", "px_density")
      .write.mode("overwrite").parquet(lake)
    val out = java.nio.file.Files.createTempDirectory("cog_fout").resolve("f.tif")
    Cog.buildFromLake(spark, lake, "px_density", g, 16, out)
    val r = GeoTiff.readRaster(java.nio.file.Files.readAllBytes(out))
    assert(r.sampleType == GeoTiff.SampleType.Float64)
    val w = g.pxX
    rows.foreach { case (_, tx, ty, vals) =>
      var i = 0
      while (i < vals.length) {
        val got = r.bands.head(
          (ty * g.pxPerTile + i / g.pxPerTile) * w +
            tx * g.pxPerTile + i % g.pxPerTile)
        assert(got == vals(i), s"($tx,$ty) px $i")
        i += 1
      }
    }
  }
}
