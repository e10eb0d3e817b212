package graft.raster

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TileCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("PNG encoder: javax.imageio reads back every pixel exactly") {
    val w = 7; val h = 5
    val rgba = Array.tabulate(w * h * 4) { i =>
      ((i * 37 + 11) % 256).toByte // arbitrary but deterministic
    }
    val bytes = Png.encode(w, h, rgba)
    // interop: the JDK's PNG reader must agree byte-for-byte
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 4
      val argb = img.getRGB(x, y)
      assert((argb >>> 24) == (rgba(o + 3) & 0xff), s"alpha ($x,$y)")
      assert(((argb >> 16) & 0xff) == (rgba(o) & 0xff), s"red ($x,$y)")
      assert(((argb >> 8) & 0xff) == (rgba(o + 1) & 0xff), s"green ($x,$y)")
      assert((argb & 0xff) == (rgba(o + 2) & 0xff), s"blue ($x,$y)")
    }
  }

  test("colormap: discrete exact-match, gradient interpolates, nodata transparent") {
    val d = TileCache.Colormap.parse(Map(
      "type" -> "discrete",
      "colormap" -> Map(
        "1" -> Map("red" -> 10, "green" -> 20, "blue" -> 30),
        "2" -> Map("red" -> 40, "green" -> 50, "blue" -> 60, "alpha" -> 128))))
    assert(d.rgba(1.0, None) == ((255 << 24) | (30 << 16) | (20 << 8) | 10))
    assert(d.rgba(2.0, None) == ((128 << 24) | (60 << 16) | (50 << 8) | 40))
    assert(d.rgba(3.0, None) == 0, "unmapped value must be transparent")
    assert(d.rgba(1.0, Some(1.0)) == 0, "no_data must be transparent")
    val g = TileCache.Colormap.parse(Map(
      "type" -> "gradient",
      "colormap" -> Map(
        "0" -> Map("red" -> 0, "green" -> 0, "blue" -> 0),
        "10" -> Map("red" -> 100, "green" -> 200, "blue" -> 40))))
    assert(g.rgba(5.0, None) == ((255 << 24) | (20 << 16) | (100 << 8) | 50))
    assert(g.rgba(-1.0, None) == g.rgba(0.0, None), "clamps below")
    assert(g.rgba(99.0, None) == g.rgba(10.0, None), "clamps above")
  }

  test("colormap: NaN pixels render transparent (NaN == NaN is false)") {
    val g = TileCache.Colormap.parse(Map(
      "type" -> "gradient",
      "colormap" -> Map(
        "0" -> Map("red" -> 0, "green" -> 0, "blue" -> 0),
        "10" -> Map("red" -> 100, "green" -> 200, "blue" -> 40))))
    // float lakes use NaN no_data; an == comparison never matches it,
    // which used to push NaN pixels through the gradient clamp
    assert(g.rgba(Double.NaN, Some(Double.NaN)) == 0)
    assert(g.rgba(Double.NaN, None) == 0, "a NaN value has no color")
    assert(g.rgba(Double.NaN, Some(0.0)) == 0)
    assert(g.rgba(5.0, Some(Double.NaN)) != 0, "real values still render")
  }

  test("slippy math: round trips and matches the z0 world tile") {
    assert(TileCache.lonOfX(0, 0) == -180.0)
    assert(TileCache.lonOfX(1, 0) == 180.0)
    assert(math.abs(TileCache.latOfY(0, 0) - Warp.WebMercatorMaxLat) < 1e-9)
    for (z <- 0 to 8; v <- Seq(0.1, 0.5, 0.9)) {
      val x = (1 << z) * v
      assert(math.abs(TileCache.xOfLon(TileCache.lonOfX(x, z), z) - x) < 1e-9)
      val y = (1 << z) * v
      assert(math.abs(TileCache.yOfLat(TileCache.latOfY(y, z), z) - y) < 1e-9)
    }
  }

  test("build renders the synthetic lake: coverage, ownership, colors") {
    TileLake.ensureWritten(spark, TileLake.defaultDir)
    val g = SyntheticEnv.grid // lon [0,4), lat [40,44)
    val out = java.nio.file.Files.createTempDirectory("tcache").toString
    val cmap = TileCache.Colormap.parse(Map(
      "type" -> "discrete",
      "colormap" -> (0 to 6).map(i =>
        i.toString -> Map("red" -> (i * 30), "green" -> 0, "blue" -> 0)).toMap))
    val n = TileCache.build(spark, TileLake.defaultDir, "px_landcover", g,
      cmap, None, maxZoom = 6, out)
    // every zoom renders ≥1 tile; zoom 6 covers the 4°×4° grid with
    // several tiles (5.6°/tile at z6)
    for (z <- 0 to 6) {
      val zdir = new java.io.File(s"$out/$z")
      assert(zdir.exists(), s"zoom $z missing")
    }
    assert(n >= 7, s"$n tiles written")
    // pick the z6 tile containing the grid center (2E, 42N): its
    // center pixel must carry the landcover color of that lake pixel
    val z = 6
    val tx = math.floor(TileCache.xOfLon(2.0, z)).toInt
    val ty = math.floor(TileCache.yOfLat(42.0, z)).toInt
    val f = new java.io.File(s"$out/$z/$tx/$ty.png")
    assert(f.exists(), s"center tile $tx/$ty missing at z$z")
    val img = javax.imageio.ImageIO.read(f)
    // sample a pixel whose center lies inside the grid
    var checked = 0
    for (py <- 0 until 256 by 51; px <- 0 until 256 by 51) {
      val lon = TileCache.lonOfX(tx + (px + 0.5) / 256, z)
      val lat = TileCache.latOfY(ty + (py + 0.5) / 256, z)
      val gx = math.floor((lon - g.originLon) / g.pixelDeg).toInt
      val gy = math.floor((g.originLat - lat) / g.pixelDeg).toInt
      if (gx >= 0 && gx < g.pxX && gy >= 0 && gy < g.pxY) {
        val expected = (gx * 31 + gy * 17) % 7 // the landcover formula
        val argb = img.getRGB(px, py)
        assert(((argb >> 16) & 0xff) == expected * 30,
          s"pixel ($px,$py) → lake ($gx,$gy): class $expected")
        assert((argb >>> 24) == 255)
        checked += 1
      }
    }
    assert(checked > 0, "no in-grid sample pixels")
  }
}
