package graft.raster

import java.time.LocalDate

import org.apache.spark.sql.catalyst.util.ArrayData

import graft.catalog.{Asset, AssetType, Catalog}

/** Per-pixel value function over a tile: global pixel coords + the
  * tile's lake band arrays (indexed by the environment's band order).
  * All layer values are integer/fixed-point longs, the currency of the
  * partial-aggregation contract ([[ZonalPartial]]). */
trait PixelFn extends Serializable {
  def eval(gx: Int, gy: Int, bands: Array[ArrayData], i: Int): Long
}

/** Per-pixel mask predicate (a compiled WHERE conjunct). */
trait PixelPred extends Serializable {
  def test(gx: Int, gy: Int, bands: Array[ArrayData], i: Int): Boolean
}

/** Monomorphic predicate nodes for the fused zonal loop — one small
  * class per comparison operator so each `test` call-site stays
  * JIT-friendly (megamorphic dispatch on a single `op` field would
  * defeat inlining in the per-pixel loop). Comparisons evaluate in
  * Double: exact for the engine's integer layer domain (< 2^53). */
object PixelPreds {
  final case class Eq(fn: PixelFn, rhs: Double) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      fn.eval(gx, gy, b, i).toDouble == rhs
  }
  final case class Ne(fn: PixelFn, rhs: Double) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      fn.eval(gx, gy, b, i).toDouble != rhs
  }
  final case class Gt(fn: PixelFn, rhs: Double) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      fn.eval(gx, gy, b, i).toDouble > rhs
  }
  final case class Ge(fn: PixelFn, rhs: Double) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      fn.eval(gx, gy, b, i).toDouble >= rhs
  }
  final case class Lt(fn: PixelFn, rhs: Double) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      fn.eval(gx, gy, b, i).toDouble < rhs
  }
  final case class Le(fn: PixelFn, rhs: Double) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      fn.eval(gx, gy, b, i).toDouble <= rhs
  }
  final case class AndP(l: PixelPred, r: PixelPred) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      l.test(gx, gy, b, i) && r.test(gx, gy, b, i)
  }
  final case class OrP(l: PixelPred, r: PixelPred) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      l.test(gx, gy, b, i) || r.test(gx, gy, b, i)
  }
  final case class NotP(c: PixelPred) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      !c.test(gx, gy, b, i)
  }
  final case class InP(fn: PixelFn, set: Set[Long]) extends PixelPred {
    def test(gx: Int, gy: Int, b: Array[ArrayData], i: Int): Boolean =
      set.contains(fn.eval(gx, gy, b, i))
  }
}

/** One queryable raster pseudo-column (SURVEY §1.1 "derived layer";
  * reference `SourceLayer`/`DerivedLayer`,
  * `app/models/pydantic/raster_analysis.py:20-46`).
  *
  * @param keyBound  exclusive upper bound of the (non-negative) pixel
  *                  value when used as a GROUP BY key — the packing
  *                  stride for multi-key zonal aggregation
  * @param decodeSql SQL over the unpacked key column producing the
  *                  output value (e.g. days → DATE)
  * @param sumScale  fixed-point divisor applied after SUM (1 = plain
  *                  integer layer, output stays BIGINT)
  * @param isBool    boolean presence layer (`is__*`): accepts
  *                  `!= 'false'` / `= 'true'` comparison forms
  * @param dateEpoch epoch for date-valued layers: pixel value is
  *                  days since this date, string literals in WHERE
  *                  convert through it
  * @param noDataPred source-band NoData guard: when this layer is the
  *                  FROM (base) layer of a raster query, pixels where
  *                  the stored band equals the asset's `no_data` value
  *                  are excluded — `FROM <alerts>` returns alert
  *                  pixels only, the reference base-layer contract
  * @param srcBands  lake band indices this layer reads — the unit of
  *                  scan column pruning: a compiled query's scan reads
  *                  only the union of its referenced layers' bands
  */
final case class RasterLayer(
    name: String,
    eval: PixelFn,
    keyBound: Long = 1L << 20,
    decodeSql: String => String = identity,
    sumScale: Double = 1.0,
    isBool: Boolean = false,
    dateEpoch: Option[LocalDate] = None,
    dict: Map[Long, String] = Map.empty,
    noDataPred: Option[PixelPred] = None,
    srcBands: Set[Int] = Set.empty)

/** The resolved set of layers a raster query can reference — the
  * reference's `_get_data_environment` output
  * (`app/routes/datasets/queries.py:654-774`): per raster dataset, the
  * default layer plus synthesized derived layers (date/conf decode of
  * `date_conf` bands, `A * area` for `_ha-1` density suffixes),
  * versions resolved latest-unless-overridden through the catalog.
  *
  * @param bands lake array columns, in [[PixelFn]] band-index order
  * @param defaultLayers raster dataset name → its default layer name
  *                      (`_get_default_layer`, `queries.py:628-651`)
  */
final case class DataEnvironment(
    grid: Grid,
    lakeDir: String,
    bands: Seq[String],
    layers: Map[String, RasterLayer],
    defaultLayers: Map[String, String])

object DataEnvironment {

  /** A value per pixel row of grid `g` (every pixel of a row shares
    * it), tabulated once per instance in the decimal-exact arithmetic of
    * the grid's SQL fragments — see `Rasterizer.centers` for the
    * decimal-exactness contract. */
  sealed abstract class RowFn(g: Grid) extends PixelFn {
    protected def row(gy: Int): Long
    @transient private lazy val table: Array[Long] = Array.tabulate(g.pxY)(row)
    def apply(gy: Int): Long = table(gy)
    def eval(gx: Int, gy: Int, bands: Array[ArrayData], i: Int): Long = table(gy)
  }

  /** Exact per-pixel-row geodesic area in integer micro-hectares,
    * replicating `Grid.microHaSql` (the `area__ha` pseudo-column). */
  final class MicroHa(g: Grid) extends RowFn(g) {
    protected def row(gy: Int): Long = {
      val pd = BigDecimal(g.pixelDeg.toString)
      val lat0 = BigDecimal(g.originLat.toString)
      val top = (lat0 - BigDecimal(gy) * pd).toDouble
      val bot = (lat0 - BigDecimal(gy + 1) * pd).toDouble
      Math.floor((Math.sin(Math.toRadians(top)) - Math.sin(Math.toRadians(bot))) *
        Math.toRadians(g.pixelDeg) * 6371008.8 * 6371008.8 / 10000.0 * 1000000.0).toLong
    }
  }

  /** `floor(latitude)` of the row's pixel centres, replicating
    * `floor(Grid.latCenterSql)` (the DECIMAL subtraction before the
    * floor): the 1° latitude-band key. */
  final class LatBand(g: Grid) extends RowFn(g) {
    protected def row(gy: Int): Long =
      (BigDecimal(g.originLat.toString) - BigDecimal(gy) * BigDecimal(g.pixelDeg.toString) -
        BigDecimal((g.pixelDeg / 2).toString))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
  }

  /** Band-reading PixelFn. */
  private[raster] final case class BandFn(idx: Int) extends PixelFn {
    def eval(gx: Int, gy: Int, bands: Array[ArrayData], i: Int): Long =
      bands(idx).getLong(i)
  }

  /** Fixed-point band fn for FLOAT lake columns (array<double>):
    * `round(v × scale)` — converts float pixels into the exact-int64
    * currency of the partial-aggregation contract at the scan, so
    * every aggregation tree above stays order-independent integer
    * math; one division by the same scale (sumScale / decodeSql)
    * restores the unit at output. */
  private[raster] final case class FloatBandFn(idx: Int, scale: Double) extends PixelFn {
    def eval(gx: Int, gy: Int, bands: Array[ArrayData], i: Int): Long =
      Math.round(bands(idx).getDouble(i) * scale)
  }

  /** Default fixed-point scale for float layers: 4 decimal digits
    * (override per asset with creation option `float_scale`). */
  val FloatScaleDefault: Double = 10000.0

  /** ISO week of a days-since-epoch date layer (the OTF dialect's
    * `isoweek(x__date)` group key, `analysis.py:143-145`). The per-day
    * week table precomputes once per compiled query — the hot loop is
    * one array read. */
  final case class IsoWeekFn(src: PixelFn, epoch: LocalDate, bound: Int)
      extends PixelFn {
    @transient private lazy val table: Array[Long] = {
      val wf = java.time.temporal.WeekFields.ISO.weekOfWeekBasedYear()
      Array.tabulate(bound)(d => epoch.plusDays(d.toLong).get(wf).toLong)
    }
    def eval(gx: Int, gy: Int, bands: Array[ArrayData], i: Int): Long =
      table(src.eval(gx, gy, bands, i).toInt)
  }

  /** The synthetic test environment synthesized FROM THE CATALOG: reads
    * each raster dataset's default asset creation options
    * (pixel_meaning / band / calc / …), names layers through
    * `Builders.defaultLayer`, and derives date/conf/density layers the
    * way `_get_data_environment` does. Versions resolve
    * latest-unless-overridden via [[Catalog.resolveVersions]] into
    * `allAssets` ([[rasterAssets]]). */
  private def fromAssets(allAssets: Seq[(String, Asset)], lakeDir: String,
                         gridSel: Option[Grid]): DataEnvironment = {
    // ONE environment per grid (`_get_data_environment(grid)`,
    // `queries.py:654-668`): the queried dataset's grid selects which
    // tile-set assets contribute layers; a layer on another grid is
    // simply absent, so referencing it fails layer resolution — the
    // reference's cross-grid rejection. Callers that don't pass a grid
    // (the fixed zonal route) get the single grid when the catalog has
    // one, else the default test grid.
    val byGrid = allAssets.groupBy { case (_, a) => gridOf(a.creationOptions) }
    val g = gridSel.getOrElse(
      if (byGrid.size == 1) byGrid.keys.head else SyntheticEnv.grid)
    val selected = byGrid.getOrElse(g, Nil)

    // the selected grid's assets share one tile lake (per-grid storage)
    val selLakeDir = selected.map(_._2.assetUri).distinct match {
      case Seq(one) => one
      case Seq() => lakeDir
      case many => throw new IllegalArgumentException(
        s"tile-set assets of one grid span ${many.length} lake dirs")
    }
    // band columns: ingested lakes declare theirs in creation options
    // (`lake_bands`); the synthetic fixtures keep the static lists
    val bands = selected.flatMap(_._2.creationOptions.get("lake_bands"))
      .headOption.map(_.split(",").toSeq)
      .getOrElse(TileLake.bandsOf(selLakeDir))
    val bandIdx = bands.zipWithIndex.toMap
    val mh = new MicroHa(g)

    val layerSeq: Seq[(String, Seq[RasterLayer])] = selected.map {
      case (ds, asset) => {
          val opts = asset.creationOptions
          val meaning = opts.getOrElse("pixel_meaning", "value")
          val band = opts.getOrElse("band",
            throw new IllegalArgumentException(s"raster asset of $ds has no band"))
          // float assets (array<double> lake columns) read through the
          // fixed-point band fn; their raw long currency is v×scale
          val isFloat = opts.get("sample_type").exists(_.startsWith("float"))
          val floatScale =
            opts.get("float_scale").map(_.toDouble).getOrElse(FloatScaleDefault)
          def bandFn(idx: Int): PixelFn =
            if (isFloat) FloatBandFn(idx, floatScale) else BandFn(idx)
          val srcIdx = bandIdx.getOrElse(band,
            throw new IllegalArgumentException(s"unknown lake band $band"))
          val src = bandFn(srcIdx)
          val bound = opts.get("key_bound").map(_.toLong)
            .getOrElse(if (isFloat) 1L << 33 else 1L << 20)
          val noData = opts.get("no_data").map(v => PixelPreds.Ne(src,
            if (isFloat) Math.round(v.toDouble * floatScale).toDouble
            else v.toDouble))
          val default = graft.analysis.Builders.defaultLayer(ds, meaning)
          val layers: Seq[RasterLayer] =
            if (meaning == "is") {
              // presence layer: nonzero source pixel = true
              require(!isFloat, s"presence layer of $ds requires an integer band")
              Seq(RasterLayer(default, PixelCalc.compile("A != 0", Seq(src)),
                keyBound = 2, isBool = true))
            } else if (meaning.contains("date_conf")) {
              // date_conf decode (`queries.py:713-744`): days since the
              // band epoch in the low digits, confidence in the high
              require(!isFloat, s"date_conf layer of $ds requires an integer band")
              val epoch = LocalDate.parse(opts.getOrElse("epoch", "2015-01-01"))
              Seq(
                RasterLayer(s"${ds}__date",
                  PixelCalc.compile("A % 10000", Seq(src)), keyBound = 16384,
                  decodeSql = k => s"date_add(DATE '$epoch', CAST($k AS INT))",
                  dateEpoch = Some(epoch)),
                RasterLayer(s"${ds}__confidence",
                  PixelCalc.compile("floor(A / 10000)", Seq(src)), keyBound = 8,
                  decodeSql = k => s"CAST($k AS INT)"))
            } else if (graft.analysis.Builders.areaDensityName(meaning).nonEmpty) {
              // density → absolute: value × pixel area, fixed-point
              // micro-units (`_get_area_density_name`, A4 rescale).
              // integer sources store tenths → unit_scale 10; float
              // sources are already ×floatScale at the band fn, so the
              // post-sum divisor folds both scales into one division
              val unitScale =
                opts.getOrElse("unit_scale", if (isFloat) "1" else "10").toDouble
              Seq(RasterLayer(default,
                PixelCalc.compileArea("A * AREA", Seq(src), mh),
                sumScale = unitScale * (if (isFloat) floatScale else 1.0) * 1e6))
            } else {
              opts.get("calc") match {
                case Some(calc) =>
                  require(!isFloat,
                    s"calc layer of $ds requires integer bands " +
                      "(fixed-point float inputs would change the formula's domain)")
                  val b2 = opts.get("band2").map(b => BandFn(bandIdx(b)))
                  Seq(RasterLayer(default,
                    PixelCalc.compile(calc, Seq(src) ++ b2.toSeq), keyBound = bound,
                    srcBands = b2.map(_.idx).toSet))
                case None if isFloat =>
                  // plain float value layer: group keys decode back to
                  // the float value; SUM/AVG divide by the same scale
                  Seq(RasterLayer(default, src, keyBound = bound,
                    decodeSql = k => s"CAST($k AS DOUBLE) / $floatScale",
                    sumScale = floatScale))
                case None =>
                  Seq(RasterLayer(default, src, keyBound = bound,
                    dict = SyntheticEnv.dictFor(ds)))
              }
            }
          // multi-band ingested assets (px_<meaning>_b1..bk columns):
          // bands beyond the primary surface as <ds>__<meaning>_b<i>
          // layers — the calc variables A..Z of the reference's
          // multi-source DSL (`creation_options.py:159-176`)
          val extras = opts.get("lake_bands").map(_.split(",").toSeq)
            .getOrElse(Nil)
            .filter(b => b != band && bandIdx.contains(b) &&
              b.startsWith(s"px_${meaning}_b"))
            .map { b =>
              val idx = bandIdx(b)
              // the asset's no_data applies to every band — but each
              // layer masks on ITS OWN band, not the primary's
              val bandNoData =
                opts.get("no_data").map(v => PixelPreds.Ne(bandFn(idx),
                  if (isFloat) Math.round(v.toDouble * floatScale).toDouble
                  else v.toDouble))
              RasterLayer(
                s"${ds}__${meaning}_b${b.stripPrefix(s"px_${meaning}_b")}",
                bandFn(idx), keyBound = bound, srcBands = Set(idx),
                noDataPred = bandNoData,
                decodeSql =
                  if (isFloat) k => s"CAST($k AS DOUBLE) / $floatScale"
                  else identity,
                sumScale = if (isFloat) floatScale else 1.0)
            }
          ds -> (layers.map(l =>
            l.copy(noDataPred = noData, srcBands = l.srcBands + srcIdx)) ++
            extras)
        }
    }

    val pseudo = RasterLayer("area__ha", mh, sumScale = 1e6)
    DataEnvironment(g, selLakeDir, bands,
      layers = (layerSeq.flatMap(_._2) :+ pseudo).map(l => l.name -> l).toMap,
      defaultLayers = layerSeq.map { case (ds, ls) => ds -> ls.head.name }.toMap)
  }

  /** Grid from a tile-set asset's creation options (`grid_origin_lon`
    * / `grid_origin_lat` / `grid_tiles_x` / `grid_tiles_y` /
    * `grid_tile_deg` / `grid_px_per_tile`; absent keys default to the
    * synthetic test grid — the reference's `grid` enum carries the
    * analogous tiling parameters). */
  def gridOf(opts: Map[String, String]): Grid = {
    val d = SyntheticEnv.grid
    Grid(
      originLon = opts.get("grid_origin_lon").map(_.toDouble).getOrElse(d.originLon),
      originLat = opts.get("grid_origin_lat").map(_.toDouble).getOrElse(d.originLat),
      tilesX = opts.get("grid_tiles_x").map(_.toInt).getOrElse(d.tilesX),
      tilesY = opts.get("grid_tiles_y").map(_.toInt).getOrElse(d.tilesY),
      tileDeg = opts.get("grid_tile_deg").map(_.toDouble).getOrElse(d.tileDeg),
      pxPerTile = opts.get("grid_px_per_tile").map(_.toInt).getOrElse(d.pxPerTile))
  }

  /** The default raster tile-set asset of each raster dataset's
    * resolved version: all an environment reads from the catalog. */
  private def rasterAssets(catalog: Catalog,
                           overrides: Map[String, String]): Seq[(String, Asset)] =
    catalog.resolveVersions(catalog.rasterDatasets, overrides).toSeq.collect {
      case (ds, Some(v)) =>
        v.defaultAsset.filter(_.assetType == AssetType.RasterTileSet).map(ds -> _)
    }.flatten

  // ------------------------------------------------- TTL memo (reference
  // caches the data environment for 5 minutes, `queries.py:654-660`)

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (Set[(String, String, Map[String, String])], String, Map[String, String], Option[Grid]),
    (Long, DataEnvironment)]()
  private val TtlMs = 5 * 60 * 1000L

  def cached(catalog: Catalog, lakeDir: String,
             overrides: Map[String, String] = Map.empty,
             gridSel: Option[Grid] = None): DataEnvironment = {
    // keyed on what the environment is built from, the resolved raster
    // assets: a catalog swap that leaves them as they were (a metadata
    // or task write, a tabular version) keeps the environment, and one
    // that changes them (a raster version PUT or DELETE) misses
    val assets = rasterAssets(catalog, overrides)
    val key = (assets.map { case (ds, a) => (ds, a.assetUri, a.creationOptions) }.toSet,
      lakeDir, overrides, gridSel)
    val now = System.currentTimeMillis()
    val hit = memo.get(key)
    if (hit != null && now - hit._1 < TtlMs) hit._2
    else {
      val env = fromAssets(assets, lakeDir, gridSel)
      memo.entrySet.removeIf(e => now - e.getValue._1 >= TtlMs)
      memo.put(key, (now, env))
      env
    }
  }
}
