package graft.raster

import org.apache.spark.sql.SparkSession

/** Static raster tile cache builder (SURVEY §2.1 S14; reference
  * `raster_tile_cache_assets` package — gdal2tiles + symbology lambdas
  * writing z/x/y PNG tiles to the tile-cache bucket): pre-renders the
  * source raster tile set as web-mercator slippy tiles
  * `{z}/{x}/{y}.png` for zooms 0..maxStaticZoom.
  *
  * Distribution shape (the same source-driven pattern as the UTM
  * ingest warp): each LAKE tile emits one sparse contribution per
  * overlapping output tile — ownership of an output pixel is the
  * global lake-pixel floor of its center, exclusive by construction —
  * and one shuffle groups contributions by output tile, where the
  * PNG encodes. Shuffle volume ≈ rendered pixels; no driver pixels.
  * Output lands on the local filesystem here (single machine); at
  * scale the per-tile writer targets an object store and nothing
  * else changes.
  */
object TileCache {

  /** Slippy-map tile edge in pixels (the gdal2tiles/OSM constant). */
  val TilePx = 256

  // web-mercator tile math (public: OSM slippy map tilenames)
  def lonOfX(x: Double, z: Int): Double = x / (1 << z) * 360.0 - 180.0
  def latOfY(y: Double, z: Int): Double =
    Math.toDegrees(Math.atan(Math.sinh(Math.PI * (1.0 - 2.0 * y / (1 << z)))))
  def xOfLon(lon: Double, z: Int): Double = (lon + 180.0) / 360.0 * (1 << z)
  def yOfLat(lat: Double, z: Int): Double = {
    val r = Math.toRadians(lat)
    (1.0 - Math.log(Math.tan(r) + 1.0 / Math.cos(r)) / Math.PI) / 2.0 * (1 << z)
  }

  /** A parsed symbology: `discrete` maps exact pixel values,
    * `gradient` interpolates linearly between sorted breakpoints
    * (reference `symbology.py` ColorMapType; unmapped/no-data pixels
    * render transparent). Colors pack as ABGR-int little-endian RGBA
    * byte order. */
  final case class Colormap(kind: String,
                            breaks: Array[(Double, Int, Int, Int, Int)])
      extends Serializable {
    def rgba(v: Double, noData: Option[Double]): Int = {
      // NaN no_data needs an explicit check: NaN == NaN is false, so a
      // plain equality would render float NaN pixels through the
      // gradient instead of transparent. A NaN VALUE is also always
      // transparent — there is no breakpoint it can match or
      // interpolate between.
      if (java.lang.Double.isNaN(v)) return 0
      if (noData.exists(_ == v)) return 0
      kind match {
        case "discrete" =>
          var i = 0
          while (i < breaks.length) {
            if (breaks(i)._1 == v)
              return pack(breaks(i)._2, breaks(i)._3, breaks(i)._4, breaks(i)._5)
            i += 1
          }
          0
        case _ => // gradient: clamp + piecewise-linear
          if (breaks.isEmpty) return 0
          if (v <= breaks.head._1)
            return pack(breaks.head._2, breaks.head._3, breaks.head._4, breaks.head._5)
          if (v >= breaks.last._1)
            return pack(breaks.last._2, breaks.last._3, breaks.last._4, breaks.last._5)
          var i = 1
          while (breaks(i)._1 < v) i += 1
          val (v0, r0, g0, b0, a0) = breaks(i - 1)
          val (v1, r1, g1, b1, a1) = breaks(i)
          val t = (v - v0) / (v1 - v0)
          def lerp(a: Int, b: Int): Int = Math.round(a + (b - a) * t).toInt
          pack(lerp(r0, r1), lerp(g0, g1), lerp(b0, b1), lerp(a0, a1))
      }
    }
    private def pack(r: Int, g: Int, b: Int, a: Int): Int =
      (a << 24) | (b << 16) | (g << 8) | r
  }

  object Colormap {
    /** From creation-options symbology json: `{"type": "discrete",
      * "colormap": {"1": {"red":..,"green":..,"blue":..[,"alpha":..]}}}`. */
    def parse(sym: Map[String, Any]): Colormap = {
      val kind = sym.getOrElse("type", "gradient").toString
      require(kind == "discrete" || kind == "gradient",
        s"unsupported symbology type $kind (discrete/gradient)")
      val cm = sym.get("colormap") match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
        case _ => Map.empty[String, Any]
      }
      val breaks = cm.toSeq.map { case (k, v) =>
        val c = v.asInstanceOf[Map[String, Any]]
        def ch(n: String, d: Int): Int =
          c.get(n).map(_.toString.toDouble.toInt).getOrElse(d)
        (k.toDouble, ch("red", 0), ch("green", 0), ch("blue", 0), ch("alpha", 255))
      }.sortBy(_._1).toArray
      Colormap(kind, breaks)
    }
  }

  /** Render the cache; returns the number of tiles written.
    *
    * @param band    lake band column to render
    * @param noData  pixel value rendered transparent
    * @param maxZoom inclusive top of the pre-rendered pyramid
    */
  def build(spark: SparkSession, lakeDir: String, band: String, g: Grid,
            cmap: Colormap, noData: Option[Double], maxZoom: Int,
            outDir: String): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val px = TilePx
    val origLon = g.originLon; val origLat = g.originLat
    val pixelDeg = g.pixelDeg; val p = g.pxPerTile
    val pxX = g.tilesX * p; val pxY = g.tilesY * p
    // one row per lake tile; values promoted to double (float lakes
    // carry array<double>, integer lakes array<bigint>)
    val rows = spark.read.parquet(lakeDir)
      .selectExpr("tx", "ty", s"CAST($band AS ARRAY<DOUBLE>) AS vs").rdd
    val contribs = rows.flatMap { r =>
      val tx = r.getInt(0); val ty = r.getInt(1)
      val vs = r.getSeq[Double](2)
      val lon0 = origLon + tx * p * pixelDeg
      val lon1 = lon0 + p * pixelDeg
      val lat1 = origLat - ty * p * pixelDeg
      val lat0 = lat1 - p * pixelDeg
      (0 to maxZoom).iterator.flatMap { z =>
        val n = 1 << z
        val xLo = math.max(0, math.floor(xOfLon(lon0, z)).toInt)
        val xHi = math.min(n - 1, math.floor(xOfLon(lon1, z) - 1e-12).toInt)
        val clampedLat1 = math.min(lat1, Warp.WebMercatorMaxLat)
        val clampedLat0 = math.max(lat0, -Warp.WebMercatorMaxLat)
        val yLo = math.max(0, math.floor(yOfLat(clampedLat1, z)).toInt)
        val yHi = math.min(n - 1, math.floor(yOfLat(clampedLat0, z) - 1e-12).toInt)
        // candidate pixel ranges from the monotone tile math (±1 pad
        // absorbs rounding; the exact floor-ownership test below still
        // decides membership) — without these bounds every
        // (lake tile, out tile) pair scans all px² centers, which at
        // coarse zooms is O(lakeTiles × px²) work for px² total output
        val xLoF = xOfLon(lon0, z); val xHiF = xOfLon(lon1, z)
        val yLoF = yOfLat(clampedLat1, z); val yHiF = yOfLat(clampedLat0, z)
        for (x <- xLo to xHi; y <- yLo to yHi) yield {
          // pixels of output tile (z,x,y) whose center samples THIS
          // lake tile (exclusive floor ownership)
          val rLo = math.max(0, ((yLoF - y) * px - 0.5).toInt - 1)
          val rHi = math.min(px - 1, ((yHiF - y) * px - 0.5).toInt + 1)
          val cLo = math.max(0, ((xLoF - x) * px - 0.5).toInt - 1)
          val cHi = math.min(px - 1, ((xHiF - x) * px - 0.5).toInt + 1)
          // column ownership is row-independent: test once
          val ownedC = new Array[Int](math.max(0, cHi - cLo + 1))
          val ownedLx = new Array[Int](ownedC.length)
          var nC = 0
          var cI = cLo
          while (cI <= cHi) {
            val lon = lonOfX(x + (cI + 0.5) / px, z)
            val gx = Math.floor((lon - origLon) / pixelDeg).toInt
            if (gx >= 0 && gx < pxX && gx / p == tx) {
              ownedC(nC) = cI; ownedLx(nC) = gx - tx * p; nC += 1
            }
            cI += 1
          }
          val idxs = Array.newBuilder[Int]
          val cols = Array.newBuilder[Double]
          if (nC > 0) {
            var rI = rLo
            while (rI <= rHi) {
              val lat = latOfY(y + (rI + 0.5) / px, z)
              val gy = Math.floor((origLat - lat) / pixelDeg).toInt
              if (gy >= 0 && gy < pxY && gy / p == ty) {
                val rowOff = (gy - ty * p) * p
                var k = 0
                while (k < nC) {
                  idxs += rI * px + ownedC(k)
                  cols += vs(rowOff + ownedLx(k))
                  k += 1
                }
              }
              rI += 1
            }
          }
          ((z, x, y), (idxs.result(), cols.result()))
        }
      }.filter(_._2._1.nonEmpty)
    }
    val written = contribs.groupByKey().map { case ((z, x, y), parts) =>
      val rgba = new Array[Byte](px * px * 4) // all-transparent default
      parts.foreach { case (idxs, vals) =>
        var i = 0
        while (i < idxs.length) {
          val c = cmap.rgba(vals(i), noData)
          val o = idxs(i) * 4
          rgba(o) = (c & 0xff).toByte
          rgba(o + 1) = ((c >> 8) & 0xff).toByte
          rgba(o + 2) = ((c >> 16) & 0xff).toByte
          rgba(o + 3) = ((c >>> 24) & 0xff).toByte
          i += 1
        }
      }
      val dir = java.nio.file.Paths.get(outDir, z.toString, x.toString)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve(s"$y.png"),
        Png.encode(px, px, rgba))
      1L
    }.count()
    written
  }
}
