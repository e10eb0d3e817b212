package graft.raster

import graft.{Op, QueryModule, Sql, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The OTF zonal-statistics engine (SURVEY §2.4 A2–A5, §3.2), one
  * query per capability. Every zonal query is one [[ZonalEngine]] pass
  * of the fused [[ZonalPartial]] operator over a [[ZonalSpec]]: group
  * keys, fixed-point values and WHERE predicates compiled per pixel
  * ([[PixelCalc]], [[PixelPreds]], the per-row grid tables beside
  * [[DataEnvironment.MicroHa]]) over the tile-id-pruned lake scan, the
  * AOI scanline-rasterized once per tile ([[Rasterizer]], bit-identical
  * to per-pixel `st_intersects` at pixel centers), partial aggregation
  * per tile — the shuffle carries per-tile partials, never pixels —
  * and one exact integer merge before the keys decode (dates,
  * dictionary names) and the sums re-scale to doubles. Per-pixel
  * arrays never leave the tile row.
  *
  * The DuckDB oracle regenerates the same pixels from
  * `generate_series`, masks with half-plane arithmetic, and aggregates
  * the same integers — bit-identical by construction.
  */
object RasterQueries extends QueryModule {

  import SyntheticEnv._

  private val g = grid
  private val px = g.pxPerTile * g.pxPerTile // pixels per tile

  // ---- oracle pixel coordinates: DuckDB enumerates globally (p over
  // all pixels) ----
  private val dGx = s"(p % ${g.pxX})"
  private val dGy = s"(p // ${g.pxX})"

  // ---- AOIs: convex quads, vertices off the pixel-center lattice ----
  private val aoi = Seq(
    (0.3513, 40.6821), (3.1242, 40.9753), (3.7081, 43.2517), (0.8472, 42.8391))
  private val aoi2 = Seq(
    (1.1513, 41.2821), (2.9242, 41.3753), (2.8081, 42.9517), (1.2472, 42.7391))
  private def geoJson(poly: Seq[(Double, Double)]): String = {
    val ring = (poly :+ poly.head).map { case (x, y) => s"[$x,$y]" }.mkString(",")
    s"""{"type":"Polygon","coordinates":[[$ring]]}"""
  }
  private val aoiGeoJson = geoJson(aoi)
  private def halfPlanesOf(poly: Seq[(Double, Double)])(lonE: String, latE: String): String =
    poly.zip(poly.tail :+ poly.head).map { case ((x1, y1), (x2, y2)) =>
      s"(($x2 - $x1) * ($latE - $y1) - ($y2 - $y1) * ($lonE - $x1)) >= 0"
    }.mkString(" AND ")
  private def halfPlanes(lonE: String, latE: String): String =
    halfPlanesOf(aoi)(lonE, latE)

  private val duckAoiMask =
    halfPlanes(g.lonCenterSql(dGx), g.latCenterSql(dGy))

  /** DuckDB CTE prefix: enumerate all pixels of the grid. */
  private val duckPixels =
    s"WITH px AS (SELECT unnest(generate_series(0, ${g.pxX * g.pxY - 1})) AS p)"

  /** Dictionary decode CASE (identical text both dialects). */
  private def decode(keyExpr: String): String =
    SyntheticEnv.landcoverDecodeSql(keyExpr)

  /** The API-parity OTF case ([[graft.api.ApiParityQueries]] drives it
    * over real HTTP and hashes the response BYTES): (dataset, user OTF
    * SQL, AOI geojson, DuckDB replay yielding the same ordered
    * `(y, c)` rows). rs1's mask with integer-only outputs — counts
    * render identically in both engines, so the payload hash is
    * format-stable (doubles would not be). */
  private[graft] lazy val apiOtfParity: (String, String, String, String) = (
    "umd_tree_cover_loss",
    """SELECT umd_tree_cover_loss__year, COUNT(*) AS pixel_count
      |FROM data
      |WHERE is__umd_regional_primary_forest_2001 != 'false'
      |  AND umd_tree_cover_density_2000__threshold >= 30
      |  AND umd_tree_cover_loss__year >= 2010
      |GROUP BY umd_tree_cover_loss__year
      |ORDER BY umd_tree_cover_loss__year""".stripMargin,
    aoiGeoJson,
    s"""$duckPixels,
       |f AS (SELECT $dYear AS y FROM px
       |  WHERE ($duckAoiMask) AND ($dU) != 0 AND ($dTcd) >= 30
       |    AND $dYear >= 2010 AND ($dW) != 0)
       |SELECT y, count(*) AS c FROM f GROUP BY y""".stripMargin)

  /** An [[Op]] whose Spark side is SQL over the persisted tile lake,
    * bound as `lake` (the same band values the formulas used to
    * synthesize per query). */
  private def lakeSql(name: String, sparkSql: String, oracleSql: String): Op =
    Op(name, (spark, sfDir) => {
      Tables.register(spark, sfDir)
      TileLake.ensureWritten(spark, TileLake.defaultDir)
      Sql.bound(spark, sparkSql, "lake" -> spark.read.parquet(TileLake.defaultDir))
    }, oracleSql)

  private val sqls: Seq[Op] = Seq(

    // A7: per-tile band statistics (min/max/mean) and the global
    // roll-up (global min/max + unweighted mean of tile means, the
    // reference's tile-stats contract in raster_tile_set_assets).
    lakeSql("r5_band_stats",
      s"""WITH raw AS (SELECT tx, ty, px_biomass10 AS pb FROM lake),
         |th AS (SELECT tx, ty,
         |  CAST(array_min(pb) AS BIGINT) AS tmin, CAST(array_max(pb) AS BIGINT) AS tmax,
         |  arr_sum(pb) AS tsum FROM raw)
         |SELECT min(tmin) AS global_min, max(tmax) AS global_max,
         |  CAST(sum(tsum) AS DOUBLE) / ${g.nTiles * px} AS global_mean,
         |  count(*) AS n_tiles
         |FROM th""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT $dGx // ${g.pxPerTile} AS tx, $dGy // ${g.pxPerTile} AS ty,
         |  ${biomass10.formula(dGx, dGy)} AS v FROM px),
         |th AS (SELECT tx, ty, min(v) AS tmin, max(v) AS tmax, sum(v) AS tsum
         |  FROM f GROUP BY tx, ty)
         |SELECT min(tmin) AS global_min, max(tmax) AS global_max,
         |  CAST(sum(tsum) AS DOUBLE) / ${g.nTiles * px} AS global_mean,
         |  count(*) AS n_tiles
         |FROM th""".stripMargin),

    // A8: histogram merge — per-tile 6-bin equal-width histograms
    // merged by the hist_merge TypedImperativeAggregate implementing
    // the reference's linspace-reconstruction algorithm. The oracle
    // replays the same algorithm in SQL (zero-count source bins
    // contribute nothing, so only populated merged bins emit).
    lakeSql("r6_histogram_merge",
      s"""WITH raw AS (SELECT px_biomass10 AS pb FROM lake),
         |th AS (SELECT pb, CAST(array_min(pb) AS BIGINT) AS tmin,
         |               CAST(array_max(pb) AS BIGINT) AS tmax FROM raw),
         |hist AS (SELECT CAST(tmin AS DOUBLE) AS hmin, CAST(tmax AS DOUBLE) AS hmax,
         |  6 AS bin_count,
         |  arr_hist(pb, tmin, tmax, 6) AS value_count
         |  FROM th),
         |m AS (SELECT hist_merge(hmin, hmax, bin_count, value_count) AS h FROM hist)
         |SELECT bin, cnt FROM (
         |  SELECT posexplode(h.value_count) AS (bin, cnt) FROM m) t
         |WHERE cnt > 0""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT $dGx // ${g.pxPerTile} AS tx, $dGy // ${g.pxPerTile} AS ty,
         |  ${biomass10.formula(dGx, dGy)} AS v FROM px),
         |th AS (SELECT tx, ty, min(v) AS tmin, max(v) AS tmax FROM f GROUP BY tx, ty),
         |idx AS (SELECT f.tx, f.ty,
         |  LEAST(CAST(floor((v - tmin) * 6.0 / (tmax - tmin)) AS BIGINT), 5) AS i
         |  FROM f JOIN th ON f.tx = th.tx AND f.ty = th.ty),
         |tc AS (SELECT tx, ty, i, count(*) AS c FROM idx GROUP BY tx, ty, i),
         |gl AS (SELECT min(tmin)::DOUBLE AS gmin, max(tmax)::DOUBLE AS gmax,
         |  min((tmax - tmin)::DOUBLE / 5.0) AS minres FROM th),
         |nb AS (SELECT CAST(ceil((gmax - gmin) / minres) AS INT) AS n, gmin, gmax FROM gl),
         |vals AS (SELECT CASE WHEN tc.i = 5 THEN th.tmax::DOUBLE
         |                ELSE th.tmin + ((th.tmax - th.tmin)::DOUBLE / 5.0) * tc.i END AS d,
         |                tc.c
         |  FROM tc JOIN th ON tc.tx = th.tx AND tc.ty = th.ty),
         |fin AS (SELECT LEAST(CAST(floor((d - gmin) * n / (gmax - gmin)) AS BIGINT), n - 1) AS bin, c
         |  FROM vals, nb)
         |SELECT bin::INT AS bin, sum(c)::BIGINT AS cnt FROM fin GROUP BY bin""".stripMargin))

  // ------------------------------------------------- zonal r-queries
  // Each is one ZonalEngine pass over a spec whose band functions read
  // the lake columns the query names: `band(i)` reads its `bands(i)`.

  private def band(i: Int): PixelFn = DataEnvironment.BandFn(i)
  private val microha = new DataEnvironment.MicroHa(g)

  private def specOver(grid: Grid, bands: Seq[String], keys: Seq[PixelFn],
                       vals: Seq[PixelFn], preds: Seq[PixelPred] = Nil,
                       strides: Seq[Long] = Nil): ZonalSpec =
    ZonalSpec(grid, keys, if (strides.isEmpty) keys.map(_ => 1L) else strides,
      vals, preds, bands.indices, bands.length)

  /** One pass of the test lake over the test AOI, projected to
    * `outputs` over its `k`, `c`, `s0…` columns. */
  private def lakeZonal(spark: SparkSession, bands: Seq[String], keys: Seq[PixelFn],
                        vals: Seq[PixelFn], preds: Seq[PixelPred] = Nil,
                        strides: Seq[Long] = Nil)(outputs: String*): DataFrame = {
    TileLake.ensureWritten(spark, TileLake.defaultDir)
    ZonalEngine.zonal(spark, TileLake.defaultDir,
      specOver(g, bands, keys, vals, preds, strides), bands, aoiGeoJson)
      .selectExpr(outputs: _*)
  }

  /** Land cover keys and pixel areas of lake `dir` on grid `pg`: the
    * statistic of r1, r7 and r9, parameterized for [[graft.ScaleProbe]]. */
  private def landcoverSpec(pg: Grid): ZonalSpec =
    specOver(pg, Seq("px_landcover"), Seq(band(0)), Seq(new DataEnvironment.MicroHa(pg)))

  /** r1/r9's pass over ANY lake grid and AOI, so the scale probe can
    * measure (a) a fixed AOI against a 10× lake (partition pruning ⇒
    * flat) and (b) a 10× AOI against the 10× lake (data read grows 10×
    * ⇒ linear). */
  private[graft] def probeZonal(spark: SparkSession, dir: String,
                                pg: Grid,
                                poly: Seq[(Double, Double)]): DataFrame =
    ZonalEngine.zonal(spark, dir, landcoverSpec(pg), Seq("px_landcover"), geoJson(poly))
      .selectExpr("k AS landcover", "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha",
        "c AS pixel_count")

  /** Batch many-AOI zonal — the reference's ≤100-parallel-lambda
    * surface (`queries.py:333-343` fans one lambda per geometry) as
    * ONE Spark job ([[ZonalEngine.zonalBatch]]): the tiny AOI table
    * BROADCASTs against the union-pruned lake scan and the fused pass
    * rasterizes each distinct polygon once per tile. Scan volume =
    * union of the AOIs' tile sets — pruning holds per AOI, so cost
    * scales with AOI count, not lake size (measured in ScaleProbe's
    * 100× section). */
  private[graft] def probeBatchZonal(spark: SparkSession, dir: String,
                                     pg: Grid,
                                     aois: Seq[Seq[(Double, Double)]]): DataFrame =
    ZonalEngine.zonalBatch(spark, dir, landcoverSpec(pg), Seq("px_landcover"),
      aois.map(geoJson))
      .selectExpr("fid AS aoi_id", "k AS landcover",
        "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha", "c AS pixel_count")

  /** A2+A3 zonal statistics over the AOI — SUM(area__ha) and count(*)
    * grouped by a categorical layer, keys decoded through the raster
    * table (dictionary decode on output). r9 (S8 at rest) is the same
    * statistic; every zonal pass reads the persisted lake with
    * AOI-bbox partition pruning, so only intersecting `tile_id=`
    * partitions are listed and read. */
  private def landcoverZonal(spark: SparkSession, sfDir: String): DataFrame = {
    TileLake.ensureWritten(spark, TileLake.defaultDir)
    ZonalEngine.landcoverRows(ZonalEngine.zonal(spark, TileLake.defaultDir,
      landcoverSpec(g), Seq("px_landcover"), aoiGeoJson))
  }

  private val landcoverZonalOracle: String =
    s"""$duckPixels,
       |f AS (SELECT ${landcover.formula(dGx, dGy)} AS k,
       |  ${g.microHaSql(dGy)} AS microha FROM px
       |  WHERE $duckAoiMask)
       |SELECT k AS landcover, ${decode("k")} AS landcover_name,
       |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha,
       |  count(*) AS pixel_count
       |FROM f GROUP BY k""".stripMargin

  /** A zonal [[Op]]: `run` over the registered lake tables. */
  private def zonal(name: String, run: (SparkSession, String) => DataFrame,
                    oracle: String): Op =
    Op(name, (spark, sfDir) => {
      Tables.register(spark, sfDir)
      run(spark, sfDir)
    }, oracle)

  private lazy val zonals: Seq[Op] = Seq(

    zonal("r1_zonal_landcover", landcoverZonal, landcoverZonalOracle),
    zonal("r9_tile_lake_zonal", landcoverZonal, landcoverZonalOracle),

    // A4 + P10: density→absolute rescale (`biomass * area`) under a
    // threshold predicate (`tcd >= 30`), grouped by land cover.
    zonal("r2_density_rescale", (spark, _) =>
      lakeZonal(spark, Seq("px_landcover", "px_biomass10", "px_tcd"),
        keys = Seq(band(0)),
        vals = Seq(PixelCalc.compileArea("A * AREA", Seq(band(1)), microha)),
        preds = Seq(PixelPreds.Ge(band(2), 30)))(
        "k AS landcover", "CAST(s0 AS DOUBLE) / 10000000.0 AS biomass_tonnes",
        "c AS pixel_count"),
      s"""$duckPixels,
         |f AS (SELECT ${landcover.formula(dGx, dGy)} AS k,
         |  ${biomass10.formula(dGx, dGy)} * ${g.microHaSql(dGy)} AS v FROM px
         |  WHERE ($duckAoiMask) AND (${tcd.formula(dGx, dGy)} >= 30))
         |SELECT k AS landcover,
         |  CAST(sum(v) AS DOUBLE) / 10000000.0 AS biomass_tonnes,
         |  count(*) AS pixel_count
         |FROM f GROUP BY k""".stripMargin),

    // date_conf decode (SURVEY §7.3 #4): derived date/conf layers
    // through the SAME calc DSL the OTF layers compile (PixelCalc), a
    // date filter, per-(date, conf) alert counts.
    zonal("r3_date_conf_alerts", (spark, _) => {
      val days = PixelCalc.compile("A % 10000", Seq(band(0)))
      lakeZonal(spark, Seq("px_dateconf"),
        keys = Seq(PixelCalc.compile("floor(A / 10000)", Seq(band(0))), days),
        strides = Seq(100000L, 1L),
        vals = Seq(microha), preds = Seq(PixelPreds.Ge(days, 1827)))(
        "date_add(DATE '2015-01-01', CAST(k % 100000 AS INT)) AS alert_date",
        "CAST(k DIV 100000 AS INT) AS confidence", "c AS alert_count",
        "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha")
    },
      s"""$duckPixels,
         |f AS (SELECT ${dateConf.formula(dGx, dGy)} AS dc,
         |  ${g.microHaSql(dGy)} AS microha FROM px
         |  WHERE ($duckAoiMask) AND ((${dateConf.formula(dGx, dGy)}) % 10000 >= 1827)),
         |k AS (SELECT CAST(floor(dc / 10000) AS BIGINT) * 100000 + (dc % 10000) AS key,
         |  microha FROM f)
         |SELECT DATE '2015-01-01' + CAST(key % 100000 AS INT) AS alert_date,
         |  CAST(key // 100000 AS INT) AS confidence,
         |  count(*) AS alert_count,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha
         |FROM k GROUP BY key""".stripMargin),

    // J4: multi-band calc — two co-registered bands through the
    // CalcDsl two-variable path, bucketed and aggregated.
    zonal("r4_band_math", (spark, _) =>
      lakeZonal(spark, Seq("px_u", "px_w"),
        keys = Seq(PixelCalc.compile("(A + B) DIV 10", Seq(band(0), band(1)))),
        vals = Seq(microha))(
        "k AS bucket", "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha", "c AS pixel_count"),
      s"""$duckPixels,
         |f AS (SELECT ((${bandU.formula(dGx, dGy)}) + (${bandW.formula(dGx, dGy)})) // 10 AS k,
         |  ${g.microHaSql(dGy)} AS microha FROM px
         |  WHERE $duckAoiMask)
         |SELECT k AS bucket,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha,
         |  count(*) AS pixel_count
         |FROM f GROUP BY k""".stripMargin),

    // P10 boolean-layer form: `is__<dataset> != 'false'` masks on a
    // presence layer (derived here as landcover==0, "is forest"),
    // composed with the AOI — the second filter shape the analysis
    // builder emits (analysis.py:117-120).
    zonal("r10_boolean_layer", (spark, _) =>
      lakeZonal(spark, Seq("px_tcd", "px_landcover"),
        keys = Seq(PixelCalc.compile("A DIV 10", Seq(band(0)))),
        vals = Seq(microha), preds = Seq(PixelPreds.Eq(band(1), 0)))(
        "k AS tcd_decile", "CAST(s0 AS DOUBLE) / 1000000.0 AS forest_area_ha",
        "c AS pixel_count"),
      s"""$duckPixels,
         |f AS (SELECT (${tcd.formula(dGx, dGy)}) // 10 AS k,
         |  ${g.microHaSql(dGy)} AS microha FROM px
         |  WHERE ($duckAoiMask) AND ((${landcover.formula(dGx, dGy)}) = 0))
         |SELECT k AS tcd_decile,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS forest_area_ha,
         |  count(*) AS pixel_count
         |FROM f GROUP BY k""".stripMargin),

    // A3: the latitude/longitude reserved pseudo-columns — generated
    // from grid georeferencing, never stored (`versions.py:519-522`).
    // Group pixel area into 1° latitude bands via floor(latitude).
    zonal("r8_latitude_bands", (spark, _) =>
      lakeZonal(spark, Nil, keys = Seq(new DataEnvironment.LatBand(g)),
        vals = Seq(microha))(
        "CAST(k AS INT) AS lat_band", "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha",
        "c AS pixel_count"),
      s"""$duckPixels,
         |f AS (SELECT CAST(floor(${g.latCenterSql(dGy)}) AS BIGINT) AS k,
         |  ${g.microHaSql(dGy)} AS microha FROM px
         |  WHERE $duckAoiMask)
         |SELECT CAST(k AS INT) AS lat_band,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha,
         |  count(*) AS pixel_count
         |FROM f GROUP BY k""".stripMargin),

    // §3.3 batch query: many-AOI fan-out as ONE Spark job — the AOI
    // table joins tile-bbox × aoi-bbox (pruning), each surviving
    // (aoi, tile) pair masks and partial-aggregates independently, and
    // a single shuffle groups by (fid, key). The reference dispatches
    // ≤100 parallel lambdas through Step Functions for this; here it
    // is one plan with the AOI side broadcast.
    zonal("r7_batch_zonal", (spark, _) => {
      TileLake.ensureWritten(spark, TileLake.defaultDir)
      ZonalEngine.zonalBatch(spark, TileLake.defaultDir, landcoverSpec(g),
        Seq("px_landcover"), Seq(aoiGeoJson, geoJson(aoi2)))
        .selectExpr("fid", "k AS landcover", "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha",
          "c AS pixel_count")
    }, {
      def one(fid: Int, p: Seq[(Double, Double)]): String =
        s"""SELECT $fid AS fid, ${landcover.formula(dGx, dGy)} AS k,
           |  ${g.microHaSql(dGy)} AS microha FROM px
           |  WHERE ${halfPlanesOf(p)(g.lonCenterSql(dGx), g.latCenterSql(dGy))}""".stripMargin
      s"""$duckPixels,
         |f AS (${one(0, aoi)}
         |UNION ALL
         |${one(1, aoi2)})
         |SELECT fid, k AS landcover,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha,
         |  count(*) AS pixel_count
         |FROM f GROUP BY fid, k""".stripMargin
    }),

    zonal("r11_derived_tileset", derivedZonal, derivedZonalOracle),
    zonal("r13_float_zonal", floatZonal, floatZonalOracle),
    zonal("r21_mode_resample", derivedModeZonal, derivedModeZonalOracle))

  // ------------------------------------------------- OTF user raster SQL
  // The reference's core raster product surface (`_query_raster`,
  // queries.py:548-575): the user's SQL — select list, WHERE over
  // layer pseudo-columns, GROUP BY — runs against the data
  // environment synthesized from the catalog, FROM-rewritten to the
  // queried dataset's default layer. Spark side: ZonalEngine.runSql →
  // RasterSql.compile → one fused ZonalPartial pass per AOI-pruned
  // tile. Oracle: the same pixels re-derived from the band formulas.
  //   otf_payload.py:44 shape: sum(area__ha) under is__*/threshold/
  //   year filters grouped by loss year.

  // DuckDB band formulas at global pixel coords (must mirror
  // SyntheticEnv + the derived-layer synthesis in DataEnvironment).
  private val dU = s"((${dGx} * 11 + ${dGy}) % 50)"
  private val dW = s"((${dGx} + ${dGy} * 19) % 50)"
  private val dTcd = tcd.formula(dGx, dGy)
  private val dLc = landcover.formula(dGx, dGy)
  private val dB10 = biomass10.formula(dGx, dGy)
  private val dDc = dateConf.formula(dGx, dGy)
  private val dYear = s"CAST(2001 + ($dW) % 24 AS BIGINT)"

  /** An OTF [[Op]]: user SQL on `dataset` through the OTF SQL gate,
    * over the AOI. */
  private def otf(name: String, dataset: String, sql: String, oracle: String): Op =
    Op(name, (spark, _) =>
      ZonalEngine.runSql(spark, SyntheticRasters.catalog, dataset, sql, aoiGeoJson),
      oracle)

  private val otfs: Seq[Op] = Seq(
    otf("rs1_otf_payload", "umd_tree_cover_loss",
      """SELECT umd_tree_cover_loss__year, SUM(area__ha) AS area__ha
        |FROM data
        |WHERE is__umd_regional_primary_forest_2001 != 'false'
        |  AND umd_tree_cover_density_2000__threshold >= 30
        |  AND umd_tree_cover_loss__year >= 2010
        |GROUP BY umd_tree_cover_loss__year""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT $dYear AS y, ${g.microHaSql(dGy)} AS microha FROM px
         |  WHERE ($duckAoiMask) AND ($dU) != 0 AND ($dTcd) >= 30
         |    AND $dYear >= 2010 AND ($dW) != 0)
         |SELECT y AS umd_tree_cover_loss__year,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area__ha
         |FROM f GROUP BY y""".stripMargin),

    otf("rs2_glad_alerts", "umd_glad_landsat_alerts",
      """SELECT umd_glad_landsat_alerts__date AS alert__date,
        |  umd_glad_landsat_alerts__confidence AS confidence__cat,
        |  COUNT(*) AS alert__count, SUM(area__ha) AS area__ha
        |FROM data
        |WHERE umd_glad_landsat_alerts__date >= '2020-01-01'
        |GROUP BY umd_glad_landsat_alerts__date,
        |  umd_glad_landsat_alerts__confidence""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT ($dDc) % 10000 AS days, ($dDc) // 10000 AS conf,
         |  ${g.microHaSql(dGy)} AS microha FROM px
         |  WHERE ($duckAoiMask) AND ($dDc) % 10000 >= 1826)
         |SELECT DATE '2015-01-01' + CAST(days AS INT) AS alert__date,
         |  CAST(conf AS INT) AS confidence__cat,
         |  count(*) AS alert__count,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area__ha
         |FROM f GROUP BY days, conf""".stripMargin),

    otf("rs3_density_by_class", "whrc_aboveground_biomass_stock_2000",
      """SELECT landcover_raster__class,
        |  SUM(whrc_aboveground_biomass_stock_2000__Mg) AS biomass__Mg
        |FROM data GROUP BY landcover_raster__class""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT CAST($dLc AS BIGINT) AS k,
         |  ($dB10) * ${g.microHaSql(dGy)} AS v FROM px
         |  WHERE $duckAoiMask)
         |SELECT k AS landcover_raster__class,
         |  CAST(sum(v) AS DOUBLE) / 1.0E7 AS biomass__Mg
         |FROM f GROUP BY k""".stripMargin),

    otf("rs4_global_stats", "landcover_raster",
      """SELECT SUM(area__ha) AS area__ha, COUNT(*) AS pixel__count,
        |  AVG(umd_tree_cover_density_2000__threshold) AS avg__threshold
        |FROM data WHERE landcover_raster__class = 0""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT ${g.microHaSql(dGy)} AS microha, $dTcd AS t FROM px
         |  WHERE ($duckAoiMask) AND ($dLc) = 0)
         |SELECT CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area__ha,
         |  count(*) AS pixel__count,
         |  CAST(sum(t) AS DOUBLE) / count(*) AS avg__threshold
         |FROM f""".stripMargin),

    // Pixel LISTING mode (the GLAD alerts download shape,
    // `queries.py` CSV src): non-aggregate select over latitude/
    // longitude pseudo-columns + a date-decoded layer, one row per
    // masked+filtered pixel, deterministic ORDER/LIMIT.
    otf("rs7_alert_list", "umd_glad_landsat_alerts",
      """SELECT latitude, longitude,
        |  umd_glad_landsat_alerts__date AS alert__date
        |FROM data
        |WHERE umd_glad_landsat_alerts__date >= '2021-01-01'
        |ORDER BY latitude, longitude LIMIT 500""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT CAST(${g.latCenterSql(dGy)} AS DOUBLE) AS latitude,
         |  CAST(${g.lonCenterSql(dGx)} AS DOUBLE) AS longitude,
         |  DATE '2015-01-01' + CAST(($dDc) % 10000 AS INT) AS alert__date
         |  FROM px WHERE ($duckAoiMask)
         |    AND ($dDc) % 10000 >= (DATE '2021-01-01' - DATE '2015-01-01'))
         |SELECT latitude, longitude, alert__date FROM f
         |ORDER BY latitude, longitude LIMIT 500""".stripMargin),

    // The GLAD-by-isoweek rewrite (`analysis.py:143-145`): a derived
    // isoweek(<date layer>) group key — per-pixel days→ISO-week via a
    // precomputed table, decoded identically by DuckDB's weekofyear.
    otf("rs9_isoweek", "umd_glad_landsat_alerts",
      """SELECT isoweek(umd_glad_landsat_alerts__date) AS iso__week,
        |  COUNT(*) AS alert__count
        |FROM data
        |WHERE umd_glad_landsat_alerts__date >= '2021-01-01'
        |GROUP BY isoweek(umd_glad_landsat_alerts__date)""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT CAST(weekofyear(
         |    DATE '2015-01-01' + CAST(($dDc) % 10000 AS INT)) AS INT) AS w
         |  FROM px WHERE ($duckAoiMask)
         |    AND ($dDc) % 10000 >= (DATE '2021-01-01' - DATE '2015-01-01'))
         |SELECT w AS iso__week, count(*) AS alert__count
         |FROM f GROUP BY w""".stripMargin),

    // Multi-grid environment: the queried dataset lives on the DERIVED
    // (coarse, 50 px/tile) grid, so `_get_data_environment` builds the
    // coarse-grid environment — its own tile lake, bands, and pixel
    // areas — and the same user-SQL surface serves it end-to-end. The
    // oracle re-derives the coarse pixels from the fine-band formulas
    // (block mean DIV 10, the derived lake's build transform).
    otf("rs11_second_grid", "whrc_biomass_tonnes",
      """SELECT whrc_biomass_tonnes__tonnes, SUM(area__ha) AS area__ha,
        |  COUNT(*) AS pixel__count
        |FROM data
        |WHERE whrc_biomass_tonnes__tonnes >= 50
        |GROUP BY whrc_biomass_tonnes__tonnes""".stripMargin, {
      val dg = TileLake.derivedGrid
      val n = dg.pxX
      val cGx = s"(p % $n)"; val cGy = s"(p // $n)"
      def fine(dx: Int, dy: Int): String =
        biomass10.formula(s"(2 * $cGx + $dx)", s"(2 * $cGy + $dy)")
      val block = s"((${fine(0, 0)}) + (${fine(1, 0)}) + (${fine(0, 1)}) + (${fine(1, 1)})) // 4"
      s"""WITH px AS (SELECT unnest(generate_series(0, ${n * n - 1})) AS p),
         |f AS (SELECT ($block) // 10 AS k, ${dg.microHaSql(cGy)} AS microha FROM px
         |  WHERE ${halfPlanes(dg.lonCenterSql(cGx), dg.latCenterSql(cGy))})
         |SELECT k AS whrc_biomass_tonnes__tonnes,
         |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area__ha,
         |  count(*) AS pixel__count
         |FROM f WHERE k >= 50 GROUP BY k""".stripMargin
    }),

    // FROM-rewrite base guard: the default layer's no_data (px_w = 0)
    // excludes pixels even with no user WHERE; IN-list filter.
    otf("rs5_base_nodata", "umd_tree_cover_loss",
      """SELECT umd_tree_cover_loss__year, COUNT(*) AS loss__count
        |FROM data WHERE landcover_raster__class IN (0, 2, 4)
        |GROUP BY umd_tree_cover_loss__year
        |ORDER BY umd_tree_cover_loss__year""".stripMargin,
      s"""$duckPixels,
         |f AS (SELECT $dYear AS y FROM px
         |  WHERE ($duckAoiMask) AND ($dLc) IN (0, 2, 4) AND ($dW) != 0)
         |SELECT y AS umd_tree_cover_loss__year, count(*) AS loss__count
         |FROM f GROUP BY y ORDER BY y""".stripMargin))

  // §3.3 batch user SQL: the same compiled OTF query over a feature
  // LIST as one Spark job (broadcast AOI table × pruned tiles, one
  // (fid, key) shuffle) — the engine behind POST /query/batch.
  private val batchOtfSql =
    """SELECT umd_tree_cover_loss__year, SUM(area__ha) AS area__ha
      |FROM data WHERE umd_tree_cover_density_2000__threshold >= 30
      |GROUP BY umd_tree_cover_loss__year""".stripMargin
  private def batchSqlQuery(spark: SparkSession, sfDir: String): DataFrame =
    ZonalEngine.runSqlBatch(spark, SyntheticRasters.catalog, "umd_tree_cover_loss",
      batchOtfSql, Seq("a" -> aoiGeoJson, "b" -> geoJson(aoi2)))
  private val batchSqlOracle: String = {
    def one(fid: String, p: Seq[(Double, Double)]): String =
      s"""SELECT '$fid' AS fid, $dYear AS y, ${g.microHaSql(dGy)} AS microha FROM px
         |  WHERE (${halfPlanesOf(p)(g.lonCenterSql(dGx), g.latCenterSql(dGy))})
         |    AND ($dTcd) >= 30 AND ($dW) != 0""".stripMargin
    s"""$duckPixels,
       |f AS (${one("a", aoi)}
       |UNION ALL
       |${one("b", aoi2)})
       |SELECT fid, y AS umd_tree_cover_loss__year,
       |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area__ha
       |FROM f GROUP BY fid, y""".stripMargin
  }

  // §3.3 batch pixel LISTING (the per-feature alert-download contract,
  // `queries.py:300-343`): the same non-aggregate listing shape as rs7
  // but over a feature LIST — one fused PixelList pass per (feature,
  // tile) pair, rows keyed by fid. Both features return rows (the date
  // stripes are diagonal; thresholds chosen to intersect both AOIs).
  private val batchListSql =
    """SELECT latitude, longitude,
      |  umd_glad_landsat_alerts__date AS alert__date,
      |  umd_glad_landsat_alerts__confidence AS confidence__cat
      |FROM data
      |WHERE umd_glad_landsat_alerts__date >= '2020-06-23'
      |  AND umd_glad_landsat_alerts__confidence >= 3""".stripMargin
  private def batchListQuery(spark: SparkSession, sfDir: String): DataFrame =
    ZonalEngine.runSqlBatch(spark, SyntheticRasters.catalog,
      "umd_glad_landsat_alerts", batchListSql,
      Seq("a" -> aoiGeoJson, "b" -> geoJson(aoi2)))
  private val batchListOracle: String = {
    def one(fid: String, p: Seq[(Double, Double)]): String =
      s"""SELECT '$fid' AS fid,
         |  CAST(${g.latCenterSql(dGy)} AS DOUBLE) AS latitude,
         |  CAST(${g.lonCenterSql(dGx)} AS DOUBLE) AS longitude,
         |  DATE '2015-01-01' + CAST(($dDc) % 10000 AS INT) AS alert__date,
         |  CAST(($dDc) // 10000 AS INT) AS confidence__cat
         |FROM px
         |WHERE (${halfPlanesOf(p)(g.lonCenterSql(dGx), g.latCenterSql(dGy))})
         |  AND ($dDc) % 10000 >= 2000 AND ($dDc) // 10000 >= 3""".stripMargin
    s"""$duckPixels
       |${one("a", aoi)}
       |UNION ALL
       |${one("b", aoi2)}""".stripMargin
  }

  // J5 on the raster path: the SAME query under a version override —
  // umd_tree_cover_loss resolves to v1 (year = 2000 + w % 25) instead
  // of the latest v2 (2001 + w % 24); the data environment re-derives
  // per override set (`_get_data_environment` version_overrides).
  private def overrideQuery(spark: SparkSession, sfDir: String): DataFrame =
    ZonalEngine.runSql(spark, SyntheticRasters.catalog, "umd_tree_cover_loss",
      """SELECT umd_tree_cover_loss__year, COUNT(*) AS loss__count
        |FROM data GROUP BY umd_tree_cover_loss__year""".stripMargin,
      aoiGeoJson, overrides = Map("umd_tree_cover_loss" -> "v1"))
  private val overrideOracle: String = {
    val yearV1 = s"CAST(2000 + ($dW) % 25 AS BIGINT)"
    s"""$duckPixels,
       |f AS (SELECT $yearV1 AS y FROM px
       |  WHERE ($duckAoiMask) AND ($dW) != 0)
       |SELECT y AS umd_tree_cover_loss__year, count(*) AS loss__count
       |FROM f GROUP BY y""".stripMargin
  }

  /** S7 build-time transforms: zonal statistics over the DERIVED
    * (2× downsampled + calc'd at build) tile set — the regrid/resample
    * path pixetl runs while writing an asset. The oracle reproduces
    * the block means from the fine formulas. */
  private def derivedZonal(spark: SparkSession, sfDir: String): DataFrame =
    derivedBandZonal(spark, "px_biomass_t", "biomass_t")

  /** r11/r21's pass: one band of the derived lake as the key, pixel
    * areas summed over the test AOI. */
  private def derivedBandZonal(spark: SparkSession, bandCol: String,
                               keyAs: String): DataFrame = {
    val dg = TileLake.derivedGrid
    TileLake.ensureDerivedWritten(spark, TileLake.defaultDir, TileLake.derivedDir)
    ZonalEngine.zonal(spark, TileLake.derivedDir,
      specOver(dg, Seq(bandCol), Seq(band(0)), Seq(new DataEnvironment.MicroHa(dg))),
      Seq(bandCol), aoiGeoJson)
      .selectExpr(s"k AS $keyAs", "CAST(s0 AS DOUBLE) / 1000000.0 AS area_ha",
        "c AS pixel_count")
  }

  private def derivedZonalOracle: String = {
    val dg = TileLake.derivedGrid
    val n = dg.pxX // 200 coarse pixels per axis
    val cGx = s"(p % $n)"; val cGy = s"(p // $n)"
    def fine(dx: Int, dy: Int): String =
      biomass10.formula(s"(2 * $cGx + $dx)", s"(2 * $cGy + $dy)")
    val block = s"((${fine(0, 0)}) + (${fine(1, 0)}) + (${fine(0, 1)}) + (${fine(1, 1)})) // 4"
    s"""WITH px AS (SELECT unnest(generate_series(0, ${n * n - 1})) AS p),
       |f AS (SELECT ($block) // 10 AS k, ${dg.microHaSql(cGy)} AS microha FROM px
       |  WHERE ${halfPlanes(dg.lonCenterSql(cGx), dg.latCenterSql(cGy))})
       |SELECT k AS biomass_t,
       |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha,
       |  count(*) AS pixel_count
       |FROM f GROUP BY k""".stripMargin
  }

  /** r21: the MODE-resampled categorical band of the derived tile set
    * — the reference ResamplingMethod's categorical downsampling
    * choice (a mean of class codes is meaningless): most frequent of
    * each 2×2 block, ties to the smallest code. Same pruned-scan
    * zonal machinery as r11; the oracle replays the identical
    * sorted-block closed form over the synthetic landcover formula. */
  private def derivedModeZonal(spark: SparkSession, sfDir: String): DataFrame =
    derivedBandZonal(spark, "px_lc_mode", "landcover_mode")

  private def derivedModeZonalOracle: String = {
    val dg = TileLake.derivedGrid
    val n = dg.pxX
    val cGx = s"(p % $n)"; val cGy = s"(p // $n)"
    def fineLc(dx: Int, dy: Int): String =
      landcover.formula(s"(2 * $cGx + $dx)", s"(2 * $cGy + $dy)")
    val arr = s"list_sort([(${fineLc(0, 0)}), (${fineLc(1, 0)}), (${fineLc(0, 1)}), (${fineLc(1, 1)})])"
    val mode =
      s"""[CASE WHEN s[1] = s[2] AND s[2] = s[3] THEN s[1]
         |      WHEN s[2] = s[3] AND s[3] = s[4] THEN s[2]
         |      WHEN s[1] = s[2] THEN s[1]
         |      WHEN s[2] = s[3] THEN s[2]
         |      WHEN s[3] = s[4] THEN s[3]
         |      ELSE s[1] END for s in [$arr]][1]""".stripMargin.replace("\n", " ")
    s"""WITH px AS (SELECT unnest(generate_series(0, ${n * n - 1})) AS p),
       |f AS (SELECT ($mode) AS k, ${dg.microHaSql(cGy)} AS microha FROM px
       |  WHERE ${halfPlanes(dg.lonCenterSql(cGx), dg.latCenterSql(cGy))})
       |SELECT k AS landcover_mode,
       |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha,
       |  count(*) AS pixel_count
       |FROM f GROUP BY k""".stripMargin
  }

  /** S7 full ingest: GeoTIFF sources → tile lake, oracle-checked. The
    * query builds 2×2 one-degree source tiles with the pure-JVM
    * [[GeoTiff]] writer (deterministic per-pixel formula), runs the
    * raster creation DAG ([[graft.etl.VersionCreation]] `createRaster`
    * — grid derivation + distributed pixel pass), and aggregates the
    * resulting lake; the oracle recomputes the class histogram from
    * the formula in closed form, proving the TIFF write → read →
    * lake build chain lossless. */
  private def geotiffIngest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val base = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_r12_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val src = base.resolve("src")
    val lake = base.resolve("lake").toString
    graft.Sidecar.ensure(lake) { tmp =>  // staged+locked build (cross-driver safe)
      java.nio.file.Files.createDirectories(src)
      val px = 20
      val deg = 0.05
      for (tx <- 0 to 1; ty <- 0 to 1) {
        val pixels = Array.tabulate(px * px) { i =>
          val gx = tx * px + i % px
          val gy = ty * px + i / px
          (gx * 7 + gy * 11) % 5
        }
        GeoTiff.write(src.resolve(s"t${tx}_$ty.tif"),
          GeoTiff.Tile(px, px, 30.0 + tx * px * deg, 20.0 - ty * px * deg,
            deg, pixels))
      }
      val (log, ok) = graft.etl.VersionCreation.createTable(
        spark, "r12ds", "v1",
        graft.etl.VersionCreation.CreationOptions(
          sourceUris = (for (tx <- 0 to 1; ty <- 0 to 1)
            yield src.resolve(s"t${tx}_$ty.tif").toString),
          sourceType = "raster", pixelMeaning = "class"),
        tmp)
      require(ok, s"raster ingest failed: $log")
    }: Unit
    import org.apache.spark.sql.functions.{col, count, explode}
    spark.read.parquet(lake).select(explode(col("px_class")).as("cls"))
      .groupBy("cls").agg(count("*").as("n"))
  }

  private val geotiffIngestOracle: String =
    """WITH px AS (SELECT unnest(generate_series(0, 1599)) AS p),
      |f AS (SELECT ((p % 40) * 7 + (p // 40) * 11) % 5 AS cls FROM px)
      |SELECT cls, count(*) AS n FROM f GROUP BY cls""".stripMargin

  /** S7 float path (r13): float32 GeoTIFF sources ingest into
    * array<double> lake columns, and a density-layer zonal sum rides
    * the EXACT integer zonal machinery through fixed-point scaling —
    * the ×4 float band fn turns quarter-unit float pixels into exact
    * int64, `A * AREA` weights by the geodesic pixel area, the fused
    * pass aggregates, one division at the end. Proves
    * the float TIFF write → read → lake → zonal chain end-to-end
    * (reference pixETL float pixel types, `pixetl.py:21-23`); the
    * oracle recomputes the latitude-band sums from the pixel formula
    * in closed form. Values are exact quarters so float32 storage,
    * the ×4 scaling, and both engines' rounding are all exact. */
  private val r13Grid = Grid(originLon = 30.0, originLat = 20.0,
    tilesX = 2, tilesY = 2, tileDeg = 1.0, pxPerTile = 20)

  /** Idempotent build of the r13 float lake: 2×2 float32 one-degree
    * source tiles (exact-quarter pixel values) ingested through the
    * raster creation DAG. Returns the lake dir. */
  private def ensureR13Lake(spark: SparkSession, sfDir: String): String = {
    val base = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_r13_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val src = base.resolve("src")
    val lake = base.resolve("lake").toString
    val fg = r13Grid
    val px = fg.pxPerTile
    graft.Sidecar.ensure(lake) { tmp =>  // staged+locked build (cross-driver safe)
      java.nio.file.Files.createDirectories(src)
      for (tx <- 0 until fg.tilesX; ty <- 0 until fg.tilesY) {
        val vals = Array.tabulate(px * px) { i =>
          val gx = tx * px + i % px
          val gy = ty * px + i / px
          ((gx * 7 + gy * 11) % 8) / 4.0 // exact quarters — float32-exact
        }
        GeoTiff.writeRaster(src.resolve(s"t${tx}_$ty.tif"),
          GeoTiff.Raster(px, px,
            fg.originLon + tx * fg.tileDeg, fg.originLat - ty * fg.tileDeg,
            fg.pixelDeg, 4326, GeoTiff.SampleType.Float32, Seq(vals)))
      }
      val (log, ok) = graft.etl.VersionCreation.createTable(
        spark, "r13ds", "v1",
        graft.etl.VersionCreation.CreationOptions(
          sourceUris = (for (tx <- 0 until fg.tilesX; ty <- 0 until fg.tilesY)
            yield src.resolve(s"t${tx}_$ty.tif").toString),
          sourceType = "raster", pixelMeaning = "density"),
        tmp)
      require(ok, s"float raster ingest failed: $log")
    }: Unit
    lake
  }

  private def floatZonal(spark: SparkSession, sfDir: String): DataFrame = {
    val fg = r13Grid
    val lake = ensureR13Lake(spark, sfDir)
    val v4 = DataEnvironment.FloatBandFn(0, 4.0)
    // no AOI: the grid's extent, which holds every pixel centre half a
    // pixel inside its edges
    val extent = Seq((fg.originLon, fg.originLat - fg.tilesY * fg.tileDeg),
      (fg.originLon + fg.tilesX * fg.tileDeg, fg.originLat - fg.tilesY * fg.tileDeg),
      (fg.originLon + fg.tilesX * fg.tileDeg, fg.originLat), (fg.originLon, fg.originLat))
    ZonalEngine.zonal(spark, lake,
      specOver(fg, Seq("px_density"), Seq(new DataEnvironment.LatBand(fg)),
        Seq(PixelCalc.compileArea("A * AREA", Seq(v4), new DataEnvironment.MicroHa(fg))),
        Seq(PixelPreds.Ge(v4, 0))),
      Seq("px_density"), geoJson(extent))
      .selectExpr("k AS lat_band", "CAST(s0 AS DOUBLE) / 4000000.0 AS density_ha",
        "c AS pixel_count")
  }

  private def floatZonalOracle: String = {
    val fg = r13Grid
    val n = fg.pxX
    val gx = s"(p % $n)"; val gy = s"(p // $n)"
    s"""WITH px AS (SELECT unnest(generate_series(0, ${n * n - 1})) AS p),
       |f AS (SELECT
       |  CAST(round((($gx * 7 + $gy * 11) % 8) / 4.0 * 4) AS BIGINT) AS v4,
       |  ${fg.microHaSql(gy)} AS microha,
       |  CAST(floor(${fg.latCenterSql(gy)}) AS BIGINT) AS lat_band FROM px)
       |SELECT lat_band,
       |  CAST(sum(v4 * microha) AS DOUBLE) / 4000000.0 AS density_ha,
       |  count(*) AS pixel_count
       |FROM f GROUP BY lat_band""".stripMargin
  }

  /** r14: UTM-zone GeoTIFF sources (EPSG:32633) ingested through the
    * GENERAL projected-CRS warp — the target-driven transverse-
    * mercator resample of [[Warp.ProjectedLattice]] (the mercator
    * path's column-linearity doesn't apply to TM, so this exercises
    * the fully general shape `unify_projection.sh` covers with
    * gdalwarp). The oracle replays the SAME forward series in DuckDB
    * SQL ([[Warp.TransverseMercator.forwardSelect]]): last-ulp libm
    * differences cannot flip the 10⁴-meter pixel floor for centers in
    * general position, so the per-class histogram (no_data included)
    * hash-matches. */
  private def r14Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.TransverseMercator.utm(32633),
      x0 = 400000.0, yTop = 5000000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r15: the same ingest through EPSG:6933 (EASE-Grid 2.0, an
    * equal-area CYLINDER — nothing in common with the transverse
    * series), pinning that [[Warp.ProjectedLattice]] is
    * projection-generic. y = 4×10⁶ m sits near 36°N. */
  private def r15Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.CylindricalEqualArea.ease2,
      x0 = 1000000.0, yTop = 4000000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r16: a PARAMETER-DEFINED Albers conic (CONUS-style parallels
    * 29.5/45.5, origin 23/−96) carried as GeoTIFF geokeys with
    * ProjectedCSType = 32767 (user-defined) — the ingest resolves the
    * projection from the file's own keys ([[Warp.projectionFor]] with
    * params, CT 11), never from an EPSG switch; the lattice sits over
    * the central US (~37..40°N). */
  private val r16Params: Map[Int, Double] = Map(
    3075 -> 11.0,   // ProjCoordTrans: CT_AlbersEqualArea
    3078 -> 29.5, 3079 -> 45.5, // standard parallels
    3085 -> 23.0, 3084 -> -96.0, // false origin lat/lon
    3086 -> 0.0, 3087 -> 0.0)
  private def r16Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.AlbersEqualArea.fromGeoKeys(r16Params),
      x0 = -400000.0, yTop = 1900000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r17: the same parameter-key move through a Lambert conformal
    * conic (CT 8, parallels 33/45, origin 39/−96 — the CONUS LCC
    * shape): conformal where r16's cone is equal-area, pinning that
    * the geokey path is CT-generic, not an Albers special case. */
  private val r17Params: Map[Int, Double] = Map(
    3075 -> 8.0,    // ProjCoordTrans: CT_LambertConfConic_2SP
    3078 -> 33.0, 3079 -> 45.0,
    3085 -> 39.0, 3084 -> -96.0,
    3086 -> 0.0, 3087 -> 0.0)
  private def r17Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.LambertConformalConic.fromGeoKeys(r17Params),
      x0 = -400000.0, yTop = 500000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r18: a PARAMETER-DEFINED sinusoidal grid (CT 24, lon0 = 0 — the
    * MODIS land-product projection family) over north-east Africa
    * (~16..20°N): pseudocylindrical where r16/r17 are conics, pinning
    * that the geokey path covers non-conic transformations too. */
  private val r18Params: Map[Int, Double] = Map(
    3075 -> 24.0,   // ProjCoordTrans: CT_Sinusoidal
    3088 -> 0.0,    // ProjCenterLong
    3082 -> 0.0, 3083 -> 0.0)
  private def r18Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.Sinusoidal.fromGeoKeys(r18Params),
      x0 = 3000000.0, yTop = 2200000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r19: a PARAMETER-DEFINED polar stereographic grid (CT 15,
    * standard parallel 70°N, pole meridian −45° — the EPSG:3413
    * sea-ice parameterization) over south Greenland (ρ 2020..2530 km
    * from the pole ≈ 67.2..71.5°N, lon ≈ −38..−26): the azimuthal
    * family, where longitude is an ANGLE around the pole rather than
    * an x offset — the strongest rotation the lattice's target-driven
    * resample sees. (A pole-CONTAINING lattice goes through the
    * full-longitude singularity path; WarpSpec covers it.) */
  private val r19Params: Map[Int, Double] = Map(
    3075 -> 15.0,   // ProjCoordTrans: CT_PolarStereographic
    3095 -> -45.0,  // ProjStraightVertPoleLong
    3081 -> 70.0)   // ProjNatOriginLat (the standard parallel)
  private def r19Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.PolarStereographic.fromGeoKeys(r19Params),
      x0 = 300000.0, yTop = -2000000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r22: ellipsoidal Mercator via CT 7 geokeys (the EPSG:3395 World
    * Mercator shape — NOT the spherical web-mercator fast path) over
    * the Gulf of Guinea (~0..4°N, 3..7°E so the spherical/ellipsoidal
    * northing difference is live). */
  private val r22Params: Map[Int, Double] = Map(
    3075 -> 7.0, 3080 -> 0.0, 3082 -> 0.0, 3083 -> 0.0)
  private def r22Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.MercatorEllipsoidal.fromGeoKeys(r22Params),
      x0 = 300000.0, yTop = 500000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r23: equidistant cylindrical via CT 17 geokeys with a NON-ZERO
    * standard parallel (45° — x compressed by cos 45°, so the lattice
    * is anisotropic in angle and the resample is not an identity). */
  private val r23Params: Map[Int, Double] = Map(
    3075 -> 17.0, 3078 -> 45.0, 3080 -> 10.0, 3082 -> 0.0, 3083 -> 0.0)
  private def r23Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.Equirectangular.fromGeoKeys(r23Params),
      x0 = 500000.0, yTop = 5500000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r24: a PARAMETER-DEFINED Lambert azimuthal equal-area grid
    * (CT 10, origin 52°N 10°E with the EPSG:3035 false offsets — the
    * pan-European LAEA shape) over southern France (~43..47°N): the
    * OBLIQUE azimuthal aspect, where neither parallels nor meridians
    * are plane-aligned — the most general graticule rotation the
    * target-driven resample sees. (The POLAR aspect — EASE-Grid 2.0
    * North/South — goes through the registry codes 6931/6932 and the
    * full-longitude singularity path; WarpSpec covers both.) */
  private val r24Params: Map[Int, Double] = Map(
    3075 -> 10.0,   // ProjCoordTrans: CT_LambertAzimEqualArea
    3089 -> 52.0, 3088 -> 10.0, // ProjCenterLat/Long
    3082 -> 4321000.0, 3083 -> 3210000.0)
  private def r24Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(
      Warp.LambertAzimuthalEqualArea.fromGeoKeys(r24Params),
      x0 = 3700000.0, yTop = 2600000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r25: EASE-Grid 2.0 North (EPSG:6931 — polar LAEA, resolved from
    * the REGISTRY code like r14/r15, no geokeys) with a lattice
    * CONTAINING the pole: the target grid snaps to full longitude
    * (every meridian passes through the pole) and the polar cap must
    * come out covered — the strongest stress of the singularity path,
    * here oracle-checked end-to-end where WarpSpec checks it
    * geometrically. */
  private def r25Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.LambertAzimuthalEqualArea.ease2North,
      x0 = -200000.0, yTop = 200000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r29: World Mollweide (ESRI:54009 — the registry-code path like
    * r15/r19/r24/r25): the global equal-area pseudocylindrical that
    * land-cover / ecology rasters commonly ship in. Mollweide's
    * forward is TRANSCENDENTAL (Newton for the auxiliary θ), so this
    * is the first oracle row through a fixed-count unrolled iterate
    * chain inside the projection itself — the SQL mirror replays all
    * 12 Newton steps ([[Warp.Mollweide.forwardSelect]]). The lattice
    * covers a mid-latitude European window (no pole image inside;
    * the pole-cap path is LAEA r25's job). */
  private def r29Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.Mollweide.world,
      x0 = 200000.0, yTop = 6300000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r30: World Eckert IV (ESRI:54012 — the registry-code path like
    * r29): Mollweide's pole-LINE sibling, the other global equal-area
    * pseudocylindrical thematic world rasters ship in. Same
    * transcendental shape as r29 (a fixed 14-step Newton chain for
    * the auxiliary θ, unrolled identically in the SQL mirror —
    * [[Warp.EckertIV.forwardSelect]]) but with a DIFFERENT auxiliary
    * equation (θ + sin θ cos θ + 2 sin θ = (2+π/2) sin φ) and no
    * plane singularities at all (poles are lines), so the two rows
    * together pin both branches of the pseudocylindrical machinery.
    * Same mid-latitude window as r29 (the y values differ — Eckert
    * IV's pole line sits at π·cx·R vs Mollweide's √2-point). */
  private def r30Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.EckertIV.world,
      x0 = 200000.0, yTop = 6300000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r31: World Robinson (ESRI:54030 — the NatGeo/world-atlas
    * compromise CRS, the most-requested arbitrary-`+proj` residue):
    * the first TABLE-DEFINED projection through the oracle gate —
    * the SQL mirror replays the natural-cubic-spline Horner segments
    * as list-literal coefficient tables instead of a Newton chain
    * ([[Warp.Robinson.forwardSelect]]). Same mid-latitude window as
    * r29/r30 (the y span lands at ~54–60°N in Robinson meters). */
  private def r31Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.Robinson.world,
      x0 = 200000.0, yTop = 6300000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r32: World Winkel Tripel (ESRI:54042 — the NatGeo world-map CRS,
    * the LAST named projection in the arbitrary-`+proj` residue): the
    * modified-azimuthal compromise whose forward is pure closed form
    * (equirectangular/Aitoff mean with one sinc guard —
    * [[Warp.WinkelTripel.forwardSelect]] is a straight-line
    * expression), while the inverse runs a driver-side 2-D Newton
    * (boundary work only). Same mid-latitude window as r29–r31. */
  private def r32Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.WinkelTripel.world,
      x0 = 200000.0, yTop = 6300000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r26: the Dutch RD grid — CT 16 double-stereographic geokeys with
    * the EPSG:28992 parameter set AND the Bessel 1841 figure carried
    * in GeogSemiMajorAxis/GeogInvFlattening (2057/2059): the
    * conformal-sphere ("double") construction, the last common
    * projection family outside the closed-form set (reference:
    * `unify_projection.sh` via proj `+proj=sterea`). The lattice
    * covers the RD domain (x 0..400 km, y 200..600 km ≈ the
    * Netherlands); ellipsoid keys are load-bearing — WarpSpec pins
    * that dropping them shifts the grid by >10 m. */
  private val r26Params: Map[Int, Double] = Map(
    3075 -> 16.0,   // ProjCoordTrans: CT_ObliqueStereographic
    3081 -> (52.0 + 9.0 / 60 + 22.178 / 3600),  // Amersfoort
    3080 -> (5.0 + 23.0 / 60 + 15.500 / 3600),
    3092 -> 0.9999079,
    3082 -> 155000.0, 3083 -> 463000.0,
    2057 -> Warp.ObliqueStereographic.BesselA,
    2059 -> Warp.ObliqueStereographic.BesselInvF)
  private def r26Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.ObliqueStereographic.fromGeoKeys(r26Params),
      x0 = 0.0, yTop = 600000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r27: the SAME RD grid as r26, but with the datum shift carried IN
    * THE FILE — a 7-value GeogTOWGS84GeoKey (2062) rides along with
    * the CT 16 transform keys and the Bessel figure (2057/2059), so
    * ingest exercises the reader's 2062 unpack ([[GeoTiff]] synthetic
    * keys) and the GENERIC `towgs84Of` composition in
    * [[Warp.projectionFor]] — NOT the 28992 registry shortcut r26
    * takes. Reference behavior: proj honors `+towgs84=` wherever it
    * appears in the source SRS (`unify_projection.sh:13-40`). The
    * oracle replays [[Warp.DatumShifted.forwardSelect]]'s SQL mirror;
    * the shift's external ground truth is pinned in WarpSpec
    * ("helmert datum shift" — published Amersfoort datum point). */
  private val r27Params: Map[Int, Double] = {
    val h = Warp.Helmert7.amersfoort
    r26Params ++ Seq(h.tx, h.ty, h.tz, h.rxSec, h.rySec, h.rzSec, h.dsPpm)
      .zipWithIndex.map { case (v, i) => (GeoTiff.Towgs84Base + i) -> v }
  }
  private def r27Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(
      Warp.DatumShifted(Warp.ObliqueStereographic.fromGeoKeys(r26Params),
        Warp.Helmert7.amersfoort,
        Warp.ObliqueStereographic.BesselA, Warp.ObliqueStereographic.BesselE2),
      x0 = 0.0, yTop = 600000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** Shared projected-CRS ingest driver for r14/r15: write the 2×2
    * source tile lattice in the projection's meters, run the raster
    * creation DAG with unify_projection, and histogram the warped
    * lake per class. */
  private def projIngest(spark: SparkSession, sfDir: String, tag: String,
                         latt: Warp.ProjectedLattice, epsg: Int,
                         geoParams: Map[Int, Double] = Map.empty,
                         resampling: String = "nearest",
                         gridShiftGsb: Option[String] = None): DataFrame = {
    Tables.register(spark, sfDir)
    val base = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_${tag}_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val src = base.resolve("src")
    val lake = base.resolve("lake").toString
    val px = latt.pxPerTile
    val span = px * latt.pixelM
    graft.Sidecar.ensure(lake) { tmp =>  // staged+locked build (cross-driver safe)
      java.nio.file.Files.createDirectories(src)
      for (stx <- 0 until latt.tilesX; sty <- 0 until latt.tilesY) {
        val vals = Array.tabulate(px * px) { i =>
          val sgx = stx * px + i % px
          val sgy = sty * px + i / px
          ((sgx * 7 + sgy * 11) % 5).toDouble
        }
        GeoTiff.writeRaster(src.resolve(s"u${stx}_$sty.tif"),
          GeoTiff.Raster(px, px,
            latt.x0 + stx * span, latt.yTop - sty * span,
            latt.pixelM, epsg, GeoTiff.SampleType.Int32, Seq(vals),
            geoParams = geoParams))
      }
      val (log, ok) = graft.etl.VersionCreation.createTable(
        spark, s"${tag}ds", "v1",
        graft.etl.VersionCreation.CreationOptions(
          sourceUris = (for (stx <- 0 until latt.tilesX; sty <- 0 until latt.tilesY)
            yield src.resolve(s"u${stx}_$sty.tif").toString),
          sourceType = "raster", pixelMeaning = "cls",
          noData = Some("-1"), unifyProjection = true,
          resampling = resampling, gridShiftGsb = gridShiftGsb),
        tmp)
      require(ok, s"EPSG:$epsg raster ingest failed: $log")
    }: Unit
    import org.apache.spark.sql.functions.{col, count, explode}
    spark.read.parquet(lake).select(explode(col("px_cls")).as("v"))
      .groupBy("v").agg(count("*").as("n"))
  }

  private def utmIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r14", r14Lattice, 32633)

  private def ceaIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r15", r15Lattice, 6933)

  private def albersIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r16", r16Lattice, 32767, r16Params)

  private def lccIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r17", r17Lattice, 32767, r17Params)

  private def sinusoidalIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r18", r18Lattice, 32767, r18Params)

  private def polarIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r19", r19Lattice, 32767, r19Params)

  /** r20: the r16 Albers grid ingested with BILINEAR resampling (the
    * reference ResamplingMethod's continuous-data choice) — additive
    * per-source-tile (Σ w·v, Σ w) partials, tileKey-ordered assembly
    * fold, integer rounding; the oracle replays the identical grouped
    * fold per target pixel. */
  private def bilinearIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r20", r16Lattice, 32767, r16Params,
      resampling = "bilinear")

  private def mercatorEllIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r22", r22Lattice, 32767, r22Params)

  private def equirectIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r23", r23Lattice, 32767, r23Params)

  private def laeaIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r24", r24Lattice, 32767, r24Params)

  private def laeaPolarIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r25", r25Lattice, 6931)

  private def mollweideIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r29", r29Lattice, 54009)

  private def eckert4Ingest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r30", r30Lattice, 54012)

  private def robinsonIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r31", r31Lattice, 54030)

  private def winkelIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r32", r32Lattice, 54042)

  /** r33–r35: the remaining CLOSED-FORM world-CRS residue, swept in
    * one round — Miller cylindrical (ESRI:54003 / CT 20: log-tangent
    * cylinder, closed both ways), azimuthal equidistant (ESRI:54032 /
    * CT 12: the true-distance map, sinc-guarded forward like Winkel's
    * Aitoff half), and Van der Grinten I (ESRI:54029 / CT 25: the
    * pre-1988 National Geographic world circle, Snyder's A/G/P/Q
    * algebra with its equator/meridian branches mirrored as SQL
    * CASEs). Same mid-latitude window as r29–r32. */
  private def r33Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.MillerCylindrical.world,
      x0 = 200000.0, yTop = 6300000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)
  private def r34Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.AzimuthalEquidistant.world,
      x0 = 200000.0, yTop = 6300000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)
  private def r35Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.VanDerGrinten.world,
      x0 = 200000.0, yTop = 6300000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  /** r36: polyconic (EPSG:5880 SIRGAS 2000 / Brazil Polyconic — the
    * live national system the family still serves), resolved from
    * the REGISTRY code like r29–r35's ESRI codes; geokey resolution
    * (CT 22) is pinned in WarpSpec. The window sits over central
    * Brazil (x ≈ FE ± 10⁶ m, y below FN — southern hemisphere), so
    * the equator-branch CASE and the negative-cotangent arcs are
    * both in play. */
  private def r36Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(Warp.Polyconic.brazil,
      x0 = 4800000.0, yTop = 9600000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  private def millerIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r33", r33Lattice, 54003)
  private def azeqIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r34", r34Lattice, 54032)
  private def vdgIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r35", r35Lattice, 54029)

  private def polyconicIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r36", r36Lattice, 5880)

  private def stereaIngest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r26", r26Lattice, 32767, r26Params)

  private def towgs84Ingest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r27", r27Lattice, 32767, r27Params)

  /** r28: the RD grid again, but the datum correction is an NTv2
    * SHIFT GRID supplied as the `grid_shift_gsb` creation option —
    * the `+nadgrids=` accuracy class above r27's 7-parameter set
    * (proj resolves grids implicitly during the reference's gdalwarp;
    * the engine takes the grid as an explicit deployment artifact).
    * The .gsb is SYNTHETIC (zero-egress build): smooth low-order
    * polynomial shifts of ~30–60 m over the RD domain, written and
    * read back through [[Ntv2]] so the lattice and the ingest share
    * the format's float32-rounded values. The oracle replays
    * [[Warp.GridShifted.forwardSelect]] — the grid embedded as list
    * literals, the fixed two-evaluation inverse unrolled; Ntv2Spec
    * pins the codec and the shift math independently. */
  private def r28Grid: Ntv2.Grid = {
    val nR = 5
    val nC = 7
    def node(f: (Int, Int) => Double) =
      Array.tabulate(nR * nC)(i => f(i / nC, i % nC))
    // lat 50..54°N (S_LAT 180000″, 1° steps), lon 2..8°E
    // (E_LONG −28800″ positive-west, 1° steps)
    Ntv2.Grid(180000.0, 3600.0, -28800.0, 3600.0, nR, nC,
      node((r, c) => 1.2 + 0.05 * r + 0.03 * c + 0.008 * r * c),
      node((r, c) => -0.9 + 0.04 * r - 0.02 * c + 0.006 * r * c))
  }
  private lazy val r28GsbPath: String = {
    val p = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_r28_shift_v1.gsb")
    if (!java.nio.file.Files.exists(p))
      java.nio.file.Files.write(p, Ntv2.write(r28Grid, "RDTEST", "WGS84"))
    p.toString
  }
  private lazy val r28Lattice: Warp.ProjectedLattice =
    Warp.ProjectedLattice(
      Warp.GridShifted(Warp.ObliqueStereographic.fromGeoKeys(r26Params),
        Ntv2.read(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(r28GsbPath)))),
      x0 = 0.0, yTop = 600000.0, pixelM = 10000.0,
      tilesX = 2, tilesY = 2, pxPerTile = 20)

  private def ntv2Ingest(spark: SparkSession, sfDir: String): DataFrame =
    projIngest(spark, sfDir, "r28", r28Lattice, 32767, r26Params,
      gridShiftGsb = Some(r28GsbPath))

  private def projIngestOracle(latt: Warp.ProjectedLattice): String = {
    val tm = latt.proj
    val px = latt.pxPerTile
    val nX = latt.tilesXTarget * px
    val nY = latt.tilesYTarget * px
    def d(v: Double) = s"CAST(${java.lang.Double.toString(v)} AS DOUBLE)"
    s"""WITH px AS (SELECT unnest(generate_series(0, ${nX * nY - 1})) AS p),
       |c AS (SELECT p % $nX AS gx, p // $nX AS gy FROM px),
       |geo AS (SELECT gx, gy,
       |  ${d(latt.originLon)} + (gx + 0.5) * ${d(latt.pixelDeg)} AS lon,
       |  ${d(latt.originLat)} - (gy + 0.5) * ${d(latt.pixelDeg)} AS lat FROM c),
       |fw AS (SELECT gx, gy, ${tm.forwardSelect("lat", "lon")} FROM geo),
       |xy AS (SELECT gx, gy, ${tm.xSql} AS x, ${tm.ySql} AS y FROM fw),
       |s AS (SELECT gx, gy // $px AS tty, gx // $px AS ttx,
       |  CAST(floor((x - ${d(latt.x0)}) / ${d(latt.pixelM)}) AS BIGINT) AS sgx,
       |  CAST(floor((${d(latt.yTop)} - y) / ${d(latt.pixelM)}) AS BIGINT) AS sgy FROM xy),
       |v AS (SELECT ttx, tty,
       |  CASE ${if (latt.wrapped)
             // the engine suppresses the ragged overrun columns past
             // +180° in the pole-wrapped case (duplicate geography);
             // the cutoff replays lon >= 180 in the identical doubles
             s"WHEN ${d(latt.originLon)} + (gx + 0.5) * ${d(latt.pixelDeg)} >= 180.0 THEN -1 "
           else ""}WHEN sgx >= 0 AND sgx < ${latt.pxX} AND sgy >= 0 AND sgy < ${latt.pxY}
       |       THEN (sgx * 7 + sgy * 11) % 5 ELSE -1 END AS v FROM s),
       |ex AS (SELECT ttx, tty FROM v GROUP BY ttx, tty HAVING max(v) >= 0)
       |SELECT v.v AS v, count(*) AS n
       |FROM v JOIN ex ON v.ttx = ex.ttx AND v.tty = ex.tty
       |GROUP BY v.v""".stripMargin
  }

  /** The bilinear twin of [[projIngestOracle]]: per target pixel, the
    * 2×2 stencil's weighted mean, computed with the ENGINE's exact
    * association — per-source-tile partial sums of (w·v, w) folded in
    * tileKey order (inner folds in the fixed stencil order), then one
    * division and half-up rounding. The synthetic value formula
    * `(ci·7 + cj·11) % 5` is closed-form, so the oracle evaluates all
    * four neighbors symbolically. */
  private def projIngestBilinearOracle(latt: Warp.ProjectedLattice): String = {
    val tm = latt.proj
    val px = latt.pxPerTile
    val nX = latt.tilesXTarget * px
    val nY = latt.tilesYTarget * px
    def d(v: Double) = s"CAST(${java.lang.Double.toString(v)} AS DOUBLE)"
    // one clamped neighbor struct: tile key, weight, synthetic value
    def nb(iE: String, jE: String, wE: String): String = {
      val ci = s"least(greatest($iE, 0), ${latt.pxX - 1})"
      val cj = s"least(greatest($jE, 0), ${latt.pxY - 1})"
      s"struct_pack(k := ($cj // $px) * ${latt.tilesX} + ($ci // $px), " +
        s"w := CAST($wE AS DOUBLE), v := CAST(($ci * 7 + $cj * 11) % 5 AS DOUBLE))"
    }
    def groupedFold(term: String): String =
      s"""list_reduce([ list_reduce([$term for n in nbs if n.k = t], (a,b) -> a + b)
         |    for t in list_sort(list_distinct([n.k for n in nbs])) ], (a,b) -> a + b)""".stripMargin
    s"""WITH px AS (SELECT unnest(generate_series(0, ${nX * nY - 1})) AS p),
       |c AS (SELECT p % $nX AS gx, p // $nX AS gy FROM px),
       |geo AS (SELECT gx, gy,
       |  ${d(latt.originLon)} + (gx + 0.5) * ${d(latt.pixelDeg)} AS lon,
       |  ${d(latt.originLat)} - (gy + 0.5) * ${d(latt.pixelDeg)} AS lat FROM c),
       |fw AS (SELECT gx, gy, ${tm.forwardSelect("lat", "lon")} FROM geo),
       |xy AS (SELECT gx, gy, ${tm.xSql} AS x, ${tm.ySql} AS y FROM fw),
       |f AS (SELECT gx, gy,
       |  (x - ${d(latt.x0)}) / ${d(latt.pixelM)} AS gxc,
       |  (${d(latt.yTop)} - y) / ${d(latt.pixelM)} AS gyc FROM xy),
       |g AS (SELECT gx, gy,
       |  CAST(floor(gxc) AS BIGINT) AS sgx, CAST(floor(gyc) AS BIGINT) AS sgy,
       |  gxc - 0.5 AS fx, gyc - 0.5 AS fy FROM f),
       |hh AS (SELECT gx, gy, sgx, sgy,
       |  CAST(floor(fx) AS BIGINT) AS i0, CAST(floor(fy) AS BIGINT) AS j0,
       |  fx - floor(fx) AS wx, fy - floor(fy) AS wy FROM g),
       |nb AS (SELECT gx, gy, sgx, sgy, [
       |    ${nb("i0", "j0", "(1 - wy) * (1 - wx)")},
       |    ${nb("i0 + 1", "j0", "(1 - wy) * wx")},
       |    ${nb("i0", "j0 + 1", "wy * (1 - wx)")},
       |    ${nb("i0 + 1", "j0 + 1", "wy * wx")}] AS nbs FROM hh),
       |agg AS (SELECT gx, gy, sgx, sgy,
       |  ${groupedFold("n.w * n.v")} AS wv,
       |  ${groupedFold("n.w")} AS ws FROM nb),
       |v AS (SELECT gx // $px AS ttx, gy // $px AS tty,
       |  CASE WHEN sgx >= 0 AND sgx < ${latt.pxX} AND sgy >= 0 AND sgy < ${latt.pxY}
       |       THEN CAST(floor(wv / ws + 0.5) AS BIGINT) ELSE -1 END AS v FROM agg),
       |ex AS (SELECT ttx, tty FROM v GROUP BY ttx, tty HAVING max(v) >= 0)
       |SELECT v.v AS v, count(*) AS n
       |FROM v JOIN ex ON v.ttx = ex.ttx AND v.tty = ex.tty
       |GROUP BY v.v""".stripMargin
  }

  /** rs12: the float layer served through the FULL OTF SQL gate —
    * catalog asset (creation options from the ingest DAG) → data
    * environment with the fixed-point float band fn at the scan →
    * FROM-rewrite → fused zonal pass. GROUP BY on the float layer
    * decodes the scaled key back to the float value (one exact
    * division); `area__ha` rides the usual microha machinery. This is
    * the "zonal sum over a float layer" query the reference serves
    * for biomass/emissions-factor tile sets. */
  private val r13Aoi =
    """{"type":"Polygon","coordinates":[[[30.21,18.31],[31.69,18.31],
      |[31.69,19.59],[30.21,19.59],[30.21,18.31]]]}""".stripMargin.replace("\n", "")

  private def floatOtfQuery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val lake = ensureR13Lake(spark, sfDir)
    import graft.catalog._
    val assetOpts = graft.etl.VersionCreation.rasterAssetOptions(lake)
    val cat = new Catalog(Seq(Dataset("float_density_ds", Seq(
      Version("float_density_ds", "v1", isLatest = true, sourceType = "raster",
        assets = Seq(Asset("fd-a1", AssetType.RasterTileSet, lake,
          isDefault = true, creationOptions = assetOpts)))))))
    ZonalEngine.runSql(spark, cat, "float_density_ds",
      """SELECT float_density_ds__density AS density, SUM(area__ha) AS area_ha,
        | COUNT(*) AS pixel_count FROM data GROUP BY float_density_ds__density""".stripMargin,
      r13Aoi)
  }

  private def floatOtfOracle: String = {
    val fg = r13Grid
    val n = fg.pxX
    val gx = s"(p % $n)"; val gy = s"(p // $n)"
    // FloatBandFn currency: round(v × 10000) = m × 2500 for quarters
    s"""WITH px AS (SELECT unnest(generate_series(0, ${n * n - 1})) AS p),
       |f AS (SELECT (($gx * 7 + $gy * 11) % 8) AS m,
       |  ${fg.microHaSql(gy)} AS microha,
       |  ${fg.lonCenterSql(gx)} AS lon, ${fg.latCenterSql(gy)} AS lat FROM px)
       |SELECT CAST(m * 2500 AS DOUBLE) / 10000.0 AS density,
       |  CAST(sum(microha) AS DOUBLE) / 1000000.0 AS area_ha,
       |  count(*) AS pixel_count
       |FROM f
       |WHERE lon > 30.21 AND lon < 31.69 AND lat > 18.31 AND lat < 19.59
       |GROUP BY m""".stripMargin
  }

  override def ops: Seq[Op] = sqls ++ zonals ++ otfs ++ Seq(
    Op("rs6_batch_sql", batchSqlQuery, batchSqlOracle),
    Op("rs10_batch_alert_list", batchListQuery, batchListOracle),
    Op("rs8_version_override", overrideQuery, overrideOracle),
    Op("r12_geotiff_ingest", geotiffIngest, geotiffIngestOracle),
    Op("rs12_float_otf", floatOtfQuery, floatOtfOracle),
    Op("r14_utm_ingest", utmIngest, projIngestOracle(r14Lattice)),
    Op("r15_cea_ingest", ceaIngest, projIngestOracle(r15Lattice)),
    Op("r16_albers_ingest", albersIngest, projIngestOracle(r16Lattice)),
    Op("r17_lcc_ingest", lccIngest, projIngestOracle(r17Lattice)),
    Op("r18_sinusoidal_ingest", sinusoidalIngest, projIngestOracle(r18Lattice)),
    Op("r19_polar_ingest", polarIngest, projIngestOracle(r19Lattice)),
    Op("r20_bilinear_ingest", bilinearIngest, projIngestBilinearOracle(r16Lattice)),
    Op("r22_mercator_ell_ingest", mercatorEllIngest, projIngestOracle(r22Lattice)),
    Op("r23_equirect_ingest", equirectIngest, projIngestOracle(r23Lattice)),
    Op("r24_laea_ingest", laeaIngest, projIngestOracle(r24Lattice)),
    Op("r25_laea_polar_ingest", laeaPolarIngest, projIngestOracle(r25Lattice)),
    Op("r26_sterea_ingest", stereaIngest, projIngestOracle(r26Lattice)),
    Op("r27_towgs84_ingest", towgs84Ingest, projIngestOracle(r27Lattice)),
    Op("r28_ntv2_ingest", ntv2Ingest, projIngestOracle(r28Lattice)),
    Op("r29_mollweide_ingest", mollweideIngest, projIngestOracle(r29Lattice)),
    Op("r30_eckert4_ingest", eckert4Ingest, projIngestOracle(r30Lattice)),
    Op("r31_robinson_ingest", robinsonIngest, projIngestOracle(r31Lattice)),
    Op("r32_winkel_ingest", winkelIngest, projIngestOracle(r32Lattice)),
    Op("r33_miller_ingest", millerIngest, projIngestOracle(r33Lattice)),
    Op("r34_azeq_ingest", azeqIngest, projIngestOracle(r34Lattice)),
    Op("r35_vdg_ingest", vdgIngest, projIngestOracle(r35Lattice)),
    Op("r36_polyconic_ingest", polyconicIngest, projIngestOracle(r36Lattice)))
}
