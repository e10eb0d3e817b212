package graft.raster

/** Grid + layer model for the raster engine (SURVEY §1.1 Grid /
  * raster tile set / derived layer; `app/models/enum/pixetl.py:25-60`,
  * `app/models/pydantic/raster_analysis.py:20-28`).
  *
  * A grid is a named tiling of EPSG:4326: square tiles of
  * `tileDeg` degrees with `pxPerTile` pixels per side. Tiles are
  * addressed `{lat}{NS}_{lon}{EW}` of their top-left corner
  * (e.g. `44N_000E`), which doubles as the Parquet partition key —
  * AOI-bbox tile pruning is Catalyst partition pruning.
  */
final case class Grid(originLon: Double, originLat: Double,
                      tilesX: Int, tilesY: Int,
                      tileDeg: Double, pxPerTile: Int) {
  val pixelDeg: Double = tileDeg / pxPerTile
  def nTiles: Int = tilesX * tilesY
  def pxX: Int = tilesX * pxPerTile
  def pxY: Int = tilesY * pxPerTile

  def tileId(tx: Int, ty: Int): String = {
    val lat = originLat - ty * tileDeg
    val lon = originLon + tx * tileDeg
    val ns = if (lat >= 0) "N" else "S"
    val ew = if (lon >= 0) "E" else "W"
    def integral(v: Double) = math.abs(v - math.rint(v)) < 1e-9
    // integer-degree grids keep the reference's tile-id convention;
    // fractional grids (e.g. derived from a unify_projection warp)
    // carry 5 decimals — whole-degree rounding would collide every
    // sub-degree tile onto one id (= one Parquet partition)
    if (integral(tileDeg) && integral(lat) && integral(lon))
      f"${math.abs(lat).round}%02d${ns}_${math.abs(lon).round}%03d$ew"
    else // Locale.ROOT: a comma decimal separator must never reach ids
      String.format(java.util.Locale.ROOT, "%09.5f%s_%010.5f%s",
        Double.box(math.abs(lat)), ns, Double.box(math.abs(lon)), ew)
  }

  /** SQL fragment: pixel-center longitude from a global pixel-x expr. */
  def lonCenterSql(gx: String): String =
    s"($originLon + $gx * $pixelDeg + ${pixelDeg / 2})"
  /** SQL fragment: pixel-center latitude from a global pixel-y expr
    * (rows count down from the top edge). */
  def latCenterSql(gy: String): String =
    s"($originLat - $gy * $pixelDeg - ${pixelDeg / 2})"

  /** SQL fragment: per-pixel geodesic area in integer micro-hectares —
    * the `area__ha` pseudo-column (SURVEY §2.4 A3), fixed-point so the
    * aggregation tree is exact 64-bit integer math (see [[ZonalPartial]]).
    * Spherical band area: R²·Δλ·(sin φ_top − sin φ_bottom). */
  def microHaSql(gy: String): String =
    s"CAST(floor((sin(radians($originLat - $gy * $pixelDeg)) - " +
      s"sin(radians($originLat - ($gy + 1) * $pixelDeg))) * " +
      s"radians($pixelDeg) * 6371008.8 * 6371008.8 / 10000.0 * 1000000.0) AS BIGINT)"
}

/** A raster layer whose pixel values derive from a deterministic
  * integer formula over global pixel coordinates — the synthetic
  * stand-in for tile-set scans in tests (S7/S8's contract: tiles
  * co-registered on one grid), reproducible identically in SQL on any
  * engine. */
final case class FormulaLayer(name: String, formula: (String, String) => String)

object SyntheticEnv {
  /** The test data environment: 4×4 one-degree tiles at 100 px/side
    * spanning lon [0,4), lat [40,44). */
  val grid: Grid = Grid(originLon = 0.0, originLat = 44.0,
    tilesX = 4, tilesY = 4, tileDeg = 1.0, pxPerTile = 100)

  // Categorical land cover 0..6 (raster-table decodable).
  val landcover: FormulaLayer =
    FormulaLayer("landcover", (gx, gy) => s"(($gx * 31 + $gy * 17) % 7)")
  // Tree-cover-density-style threshold layer 0..100.
  val tcd: FormulaLayer =
    FormulaLayer("tcd", (gx, gy) => s"(($gx + $gy * 3) % 101)")
  // Density layer in tenths (t/ha ×10) — exercises A4 rescale.
  val biomass10: FormulaLayer =
    FormulaLayer("biomass10", (gx, gy) => s"(($gx * 13 + $gy * 7) % 1000)")
  // date_conf encoding: conf(1..3)*10000 + days-since-2015-01-01.
  val dateConf: FormulaLayer =
    FormulaLayer("date_conf", (gx, gy) =>
      s"((1 + ($gx + $gy) % 3) * 10000 + (($gx * 3 + $gy * 5) % 3000))")
  // Two co-registered bands for multi-band calc (J4).
  val bandU: FormulaLayer =
    FormulaLayer("u", (gx, gy) => s"(($gx * 11 + $gy) % 50)")
  val bandW: FormulaLayer =
    FormulaLayer("w", (gx, gy) => s"(($gx + $gy * 19) % 50)")

  /** Raster table for landcover (value → meaning), the dictionary
    * decode of SURVEY §1.1 / §2.8. */
  val landcoverTable: Map[Int, String] = Map(
    0 -> "forest", 1 -> "grassland", 2 -> "cropland", 3 -> "wetland",
    4 -> "settlement", 5 -> "bare", 6 -> "water")

  /** Value dictionary (raster table) for a dataset's default layer —
    * only the landcover class layer has one in the test environment. */
  def dictFor(dataset: String): Map[Long, String] =
    if (dataset.contains("landcover"))
      landcoverTable.map { case (k, v) => k.toLong -> v }
    else Map.empty

  /** THE dictionary-decode CASE over [[landcoverTable]] for any key
    * expression — identical text in both SQL dialects; every consumer
    * derives from here so the decode rule cannot drift. */
  def landcoverDecodeSql(keyExpr: String): String =
    "CASE " + landcoverTable.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN $keyExpr = $k THEN '$v'" }.mkString(" ") +
      " ELSE 'unknown' END"
}
