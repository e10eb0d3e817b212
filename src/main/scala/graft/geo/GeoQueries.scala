package graft.geo

import graft.{Op, QueryModule, SqlQ}

/** The geometry operator surface (SURVEY §2.1 S4–S6, §2.2 P4) driven
  * end-to-end through the engine's Catalyst expressions, with DuckDB
  * oracles that reproduce every output arithmetically (no spatial
  * extension needed): point fields are pure column math, the mercator
  * and spherical-area formulas are mirrored term-by-term in the same
  * fold order (JVM `Math` and DuckDB libm agree bit-for-bit on this
  * platform — validated empirically), point-in-polygon against a
  * convex AOI is mirrored as half-plane sign tests, and envelope
  * clipping of axis-aligned boxes is greatest/least clamping.
  *
  * Synthetic geometry: the lake has no geometry columns, so points
  * derive deterministically from `customer` keys on a 0.25°-offset
  * lattice (never integral ⇒ identical double→string formatting both
  * engines; never on an AOI edge ⇒ no boundary-rule sensitivity).
  */
object GeoQueries extends QueryModule {

  private val sparkPts =
    """WITH pts AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
      |    CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
      |  FROM customer WHERE c_custkey < 400)""".stripMargin

  private val duckPts = sparkPts // same arithmetic text parses in DuckDB

  /** Convex AOI quadrilateral (CCW), vertices off the point lattice.
    * Straddles the populated diagonal `lon = lat - 95` (custkeys
    * 70–179 fall inside) so the intersect test is exercised on real
    * rows at every scale factor. */
  private val aoi = Seq(
    (-150.1, -50.1), (-60.2, -52.2), (-55.1, 6.1), (-145.2, 3.2))
  private val aoiGeoJson = {
    val ring = (aoi :+ aoi.head).map { case (x, y) => s"[$x,$y]" }.mkString(",")
    s"""{"type":"Polygon","coordinates":[[$ring]]}"""
  }
  /** Half-plane tests: inside a CCW convex polygon ⇔ every edge cross
    * product is ≥ 0. Pure arithmetic — runs identically in DuckDB. */
  private val halfPlanes: String = {
    val edges = aoi.zip(aoi.tail :+ aoi.head)
    edges.map { case ((x1, y1), (x2, y2)) =>
      s"(($x2 - $x1) * (lat - $y1) - ($y2 - $y1) * (lon - $x1)) >= 0"
    }.mkString("\n    AND ")
  }

  override val ops: Seq[Op] = Seq(

    // S5 + S4: point assembly, accessor roundtrip, canonical GeoJSON,
    // content-addressed geostore id (md5-as-uuid). The oracle rebuilds
    // the canonical JSON textually and hashes it with DuckDB's md5.
    SqlQ.split("g1_point_fields",
      s"""$sparkPts
         |SELECT c_custkey,
         |  st_x(st_point(lon, lat)) AS lon_rt,
         |  st_y(st_point(lon, lat)) AS lat_rt,
         |  st_asgeojson(st_point(lon, lat)) AS geojson,
         |  st_geostore_id(st_setsrid(st_point(lon, lat), 4326)) AS gfw_geostore_id
         |FROM pts""".stripMargin,
      s"""$duckPts,
         |j AS (SELECT c_custkey, lon AS lon_rt, lat AS lat_rt,
         |  '{"type":"Point","coordinates":[' || lon::VARCHAR || ',' || lat::VARCHAR || ']}' AS geojson
         |  FROM pts)
         |SELECT c_custkey, lon_rt, lat_rt, geojson,
         |  substr(md5(geojson), 1, 8) || '-' || substr(md5(geojson), 9, 4) || '-' ||
         |  substr(md5(geojson), 13, 4) || '-' || substr(md5(geojson), 17, 4) || '-' ||
         |  substr(md5(geojson), 21, 12) AS gfw_geostore_id
         |FROM j""".stripMargin),

    // S6: EPSG:4326 → EPSG:3857. The engine transforms WKB through
    // st_transform_webmercator; the oracle mirrors the spherical-
    // mercator formulas directly.
    SqlQ.split("g2_webmercator",
      s"""$sparkPts
         |SELECT c_custkey,
         |  st_x(st_transform_webmercator(st_point(lon, lat))) AS x_wm,
         |  st_y(st_transform_webmercator(st_point(lon, lat))) AS y_wm
         |FROM pts""".stripMargin,
      s"""$duckPts
         |SELECT c_custkey,
         |  6378137.0 * radians(lon) AS x_wm,
         |  6378137.0 * ln(tan(pi() / 4.0 + radians(lat) / 2.0)) AS y_wm
         |FROM pts""".stripMargin),

    // P4: the injected-AOI spatial filter — point-in-polygon via the
    // engine's even-odd ray casting, half-plane arithmetic in the
    // oracle. Aggregated per nation to exercise filter + groupBy.
    SqlQ.split("g3_aoi_filter",
      s"""$sparkPts
         |SELECT c_nationkey, count(*) AS n_inside, min(c_custkey) AS first_key
         |FROM pts
         |WHERE st_intersects(st_point(lon, lat), st_geomfromgeojson('$aoiGeoJson'))
         |GROUP BY c_nationkey""".stripMargin,
      s"""$duckPts
         |SELECT c_nationkey, count(*) AS n_inside, min(c_custkey) AS first_key
         |FROM pts
         |WHERE $halfPlanes
         |GROUP BY c_nationkey""".stripMargin),

    // S4: geodesic area (ha) of a 1°×1° box around each point — the
    // gfw_area__ha derivation. The oracle repeats the spherical line
    // integral with the identical term order.
    SqlQ.split("g4_geodesic_area",
      s"""$sparkPts
         |SELECT c_custkey,
         |  st_area_ha(st_makeenvelope(lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5)) AS area_ha
         |FROM pts WHERE lat < 84.0""".stripMargin,
      s"""$duckPts
         |SELECT c_custkey,
         |  abs(
         |    radians((lon + 0.5) - (lon - 0.5)) * (2.0 + sin(radians(lat - 0.5)) + sin(radians(lat - 0.5)))
         |    + radians((lon + 0.5) - (lon + 0.5)) * (2.0 + sin(radians(lat - 0.5)) + sin(radians(lat + 0.5)))
         |    + radians((lon - 0.5) - (lon + 0.5)) * (2.0 + sin(radians(lat + 0.5)) + sin(radians(lat + 0.5)))
         |    + radians((lon - 0.5) - (lon - 0.5)) * (2.0 + sin(radians(lat + 0.5)) + sin(radians(lat - 0.5)))
         |  ) * 6371008.8 * 6371008.8 / 2.0 / 10000.0 AS area_ha
         |FROM pts WHERE lat < 84.0""".stripMargin),

    // S6 clip step: Sutherland–Hodgman against an envelope; for the
    // axis-aligned boxes here the result bbox is exact clamping.
    SqlQ.split("g5_envelope_clip",
      s"""$sparkPts
         |SELECT c_custkey,
         |  st_envelope(st_clip_envelope(
         |    st_makeenvelope(lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5),
         |    -90.0, -45.0, 90.0, 45.0)).xmin AS cx_min,
         |  st_envelope(st_clip_envelope(
         |    st_makeenvelope(lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5),
         |    -90.0, -45.0, 90.0, 45.0)).xmax AS cx_max,
         |  st_envelope(st_clip_envelope(
         |    st_makeenvelope(lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5),
         |    -90.0, -45.0, 90.0, 45.0)).ymin AS cy_min,
         |  st_envelope(st_clip_envelope(
         |    st_makeenvelope(lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5),
         |    -90.0, -45.0, 90.0, 45.0)).ymax AS cy_max
         |FROM pts
         |WHERE lon - 0.5 < 90.0 AND lon + 0.5 > -90.0
         |  AND lat - 0.5 < 45.0 AND lat + 0.5 > -45.0""".stripMargin,
      s"""$duckPts
         |SELECT c_custkey,
         |  greatest(lon - 0.5, -90.0) AS cx_min,
         |  least(lon + 0.5, 90.0) AS cx_max,
         |  greatest(lat - 0.5, -45.0) AS cy_min,
         |  least(lat + 0.5, 45.0) AS cy_max
         |FROM pts
         |WHERE lon - 0.5 < 90.0 AND lon + 0.5 > -90.0
         |  AND lat - 0.5 < 45.0 AND lat + 0.5 > -45.0""".stripMargin),

    // P6: point-radius feature lookup — haversine distance against a
    // query point, radius from the zoom→buffer table (the API layer
    // maps zoom level → meters; 300 km here). The oracle mirrors the
    // haversine term order exactly.
    SqlQ.split("g6_radius_lookup",
      s"""$sparkPts
         |SELECT c_custkey,
         |  st_distance_sphere(st_point(lon, lat), st_point(-94.613, 0.356)) AS dist_m
         |FROM pts
         |WHERE st_distance_sphere(st_point(lon, lat), st_point(-94.613, 0.356)) <= 300000.0""".stripMargin,
      s"""$duckPts,
         |d AS (SELECT c_custkey,
         |  2 * 6371008.8 * asin(sqrt(
         |    sin(radians(0.356 - lat) / 2) * sin(radians(0.356 - lat) / 2) +
         |    cos(radians(lat)) * cos(radians(0.356)) *
         |    sin(radians(-94.613 - lon) / 2) * sin(radians(-94.613 - lon) / 2))) AS dist_m
         |  FROM pts)
         |SELECT c_custkey, dist_m FROM d WHERE dist_m <= 300000.0""".stripMargin),

    // P8: name-normalized admin lookup (`unidecode(name).lower()`):
    // the engine's norm_name expression against a literal id list.
    SqlQ.split("g7_name_lookup",
      """SELECT n_nationkey, n_name, norm_name(n_name) AS name_norm,
        |  norm_name('São Tomé & PRÍNCIPE') AS accent_probe
        |FROM nation
        |WHERE norm_name(n_name) IN ('nation_3', 'nation_7', 'nation_12', 'nation_19')""".stripMargin,
      """SELECT n_nationkey, n_name, lower(n_name) AS name_norm,
        |  'sao tome & principe' AS accent_probe
        |FROM nation
        |WHERE lower(n_name) IN ('nation_3', 'nation_7', 'nation_12', 'nation_19')""".stripMargin),

    // Geostore inheritance (SURVEY §1.1): every vector version is a
    // shard of the global geostore (PG table inheritance,
    // `inherit_geostore.sh`); ours is a union view over version tables
    // keyed by the content-addressed id.
    SqlQ.split("g9_geostore_union",
      s"""$sparkPts,
         |spts AS (
         |  SELECT s_suppkey AS key,
         |    CAST(s_suppkey % 720 AS DOUBLE) / 2.0 - 179.25 AS lon,
         |    CAST(s_suppkey % 340 AS DOUBLE) / 2.0 - 84.25 AS lat
         |  FROM supplier WHERE s_suppkey < 50),
         |uni AS (
         |  SELECT 'customer_v1' AS src, c_custkey AS key, lon, lat FROM pts WHERE c_custkey < 50
         |  UNION ALL
         |  SELECT 'supplier_v1' AS src, key, lon, lat FROM spts)
         |SELECT src, key, st_geostore_id(st_point(lon, lat)) AS gfw_geostore_id
         |FROM uni""".stripMargin,
      s"""$duckPts,
         |spts AS (
         |  SELECT s_suppkey AS key,
         |    CAST(s_suppkey % 720 AS DOUBLE) / 2.0 - 179.25 AS lon,
         |    CAST(s_suppkey % 340 AS DOUBLE) / 2.0 - 84.25 AS lat
         |  FROM supplier WHERE s_suppkey < 50),
         |uni AS (
         |  SELECT 'customer_v1' AS src, c_custkey AS key, lon, lat FROM pts WHERE c_custkey < 50
         |  UNION ALL
         |  SELECT 'supplier_v1' AS src, key, lon, lat FROM spts),
         |j AS (SELECT src, key,
         |  '{"type":"Point","coordinates":[' || lon::VARCHAR || ',' || lat::VARCHAR || ']}' AS gj
         |  FROM uni)
         |SELECT src, key,
         |  substr(md5(gj), 1, 8) || '-' || substr(md5(gj), 9, 4) || '-' ||
         |  substr(md5(gj), 13, 4) || '-' || substr(md5(gj), 17, 4) || '-' ||
         |  substr(md5(gj), 21, 12) AS gfw_geostore_id
         |FROM j""".stripMargin),

    // J3: the 1×1-grid export spatial join — feature polygons joined
    // against a static degree grid with bbox pruning in the join
    // condition, clipped to each cell (`export_1x1_grid.py:309-381`).
    // The grid is tiny and static ⇒ broadcast join (no shuffle of the
    // feature side); at 100 TB the features stream map-side only.
    SqlQ.split("g8_grid_export_join",
      s"""$sparkPts,
         |cells AS (SELECT ix, iy
         |  FROM (SELECT explode(sequence(-105, -86)) AS ix)
         |  CROSS JOIN (SELECT explode(sequence(-10, 9)) AS iy)),
         |j AS (SELECT /*+ BROADCAST(cells) */ p.c_custkey, c.ix, c.iy,
         |    st_clip_envelope(
         |      st_makeenvelope(lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5),
         |      CAST(c.ix AS DOUBLE), CAST(c.iy AS DOUBLE),
         |      CAST(c.ix + 1 AS DOUBLE), CAST(c.iy + 1 AS DOUBLE)) AS cg
         |  FROM pts p JOIN cells c
         |    ON lon - 0.5 < c.ix + 1 AND lon + 0.5 > c.ix
         |   AND lat - 0.5 < c.iy + 1 AND lat + 0.5 > c.iy)
         |SELECT c_custkey, ix AS cell_lon, iy AS cell_lat,
         |  st_envelope(cg).xmin AS cxmin, st_envelope(cg).ymin AS cymin,
         |  st_envelope(cg).xmax AS cxmax, st_envelope(cg).ymax AS cymax
         |FROM j""".stripMargin,
      s"""$duckPts,
         |cells AS (SELECT ix.g::INT AS ix, iy.g::INT AS iy
         |  FROM generate_series(-105, -86) ix(g) CROSS JOIN generate_series(-10, 9) iy(g))
         |SELECT p.c_custkey, c.ix AS cell_lon, c.iy AS cell_lat,
         |  greatest(lon - 0.5, c.ix) AS cxmin, greatest(lat - 0.5, c.iy) AS cymin,
         |  least(lon + 0.5, c.ix + 1) AS cxmax, least(lat + 0.5, c.iy + 1) AS cymax
         |FROM pts p JOIN cells c
         |  ON lon - 0.5 < c.ix + 1 AND lon + 0.5 > c.ix
         | AND lat - 0.5 < c.iy + 1 AND lat + 0.5 > c.iy""".stripMargin),

    // J3 exact form (`export_1x1_grid.py:309-345`): a CONCAVE
    // L-shaped polygon per point is makevalid'd, clipped to every
    // intersecting 1° cell with the general ST_Intersection, and
    // verified by the partition property — grid cells tile the plane,
    // so the clipped pieces' planar areas must sum back to the
    // polygon's exact area (0.65 + 0.35 = 1.0 deg², rounded past the
    // ~1e-12 float accumulation), and the count of non-empty pieces
    // is exact integer arithmetic the oracle reproduces (bbox cells
    // minus the one corner cell that can fall entirely in the notch).
    SqlQ.split("g10_grid_clip_exact",
      s"""$sparkPts,
         |polys AS (SELECT c_custkey, lon + 0.13 AS x0, lat + 0.21 AS y0
         |  FROM pts WHERE c_custkey < 60),
         |cells AS (SELECT c_custkey, x0, y0, ix, iy FROM polys
         |  LATERAL VIEW explode(sequence(CAST(floor(x0) AS INT), CAST(floor(x0 + 1.3) AS INT))) t1 AS ix
         |  LATERAL VIEW explode(sequence(CAST(floor(y0) AS INT), CAST(floor(y0 + 1.2) AS INT))) t2 AS iy),
         |pieces AS (SELECT c_custkey,
         |  st_intersection(
         |    st_makevalid(st_geomfromgeojson(concat(
         |      '{"type":"Polygon","coordinates":[[[', x0, ',', y0,
         |      '],[', x0 + 1.3, ',', y0, '],[', x0 + 1.3, ',', y0 + 0.5,
         |      '],[', x0 + 0.5, ',', y0 + 0.5, '],[', x0 + 0.5, ',', y0 + 1.2,
         |      '],[', x0, ',', y0 + 1.2, '],[', x0, ',', y0, ']]]}'))),
         |    st_makeenvelope(CAST(ix AS DOUBLE), CAST(iy AS DOUBLE),
         |      CAST(ix + 1 AS DOUBLE), CAST(iy + 1 AS DOUBLE))) AS piece
         |  FROM cells)
         |SELECT c_custkey, ROUND(SUM(st_area(piece)), 6) AS clip_area,
         |  count_if(st_area(piece) > 0) AS cell_count
         |FROM pieces GROUP BY c_custkey""".stripMargin,
      s"""$duckPts,
         |polys AS (SELECT c_custkey, lon + 0.13 AS x0, lat + 0.21 AS y0
         |  FROM pts WHERE c_custkey < 60)
         |SELECT c_custkey, ROUND(1.3 * 0.5 + 0.5 * 0.7, 6)::DOUBLE AS clip_area,
         |  CAST((floor(x0 + 1.3) - floor(x0) + 1) * (floor(y0 + 1.2) - floor(y0) + 1)
         |    - CASE WHEN floor(x0 + 1.3) >= x0 + 0.5 AND floor(y0 + 1.2) >= y0 + 0.5
         |      THEN 1 ELSE 0 END AS BIGINT) AS cell_count
         |FROM polys""".stripMargin),

    // G11: the per-boundary GADM lookup's data
    // ([[AdminFixtures]] — the deterministic admin rectangles the
    // `/geostore/admin/{id}…` routes serve): per nation the country
    // (region 0) and its four quadrant regions, with GADM-style ids,
    // geodesic areas (st_area_ha ↔ the g4 spherical-excess replay)
    // and bboxes. Rect corners are integers/halves — exactly
    // representable, so both engines project identical vertices.
    SqlQ.split("g11_admin_boundary",
      """WITH lv AS (SELECT explode(sequence(0, 4)) AS region),
        |n AS (SELECT CAST(n_nationkey AS INT) AS k FROM nation),
        |r AS (SELECT k, region,
        |  CAST(-90.0 + (k % 6) * 15.0 +
        |    CASE WHEN region = 0 THEN 0.0 ELSE ((region - 1) % 2) * 5.0 END AS DOUBLE) AS x0,
        |  CAST(-52.0 + (k DIV 6) * 22.0 +
        |    CASE WHEN region = 0 THEN 0.0 ELSE ((region - 1) DIV 2) * 8.0 END AS DOUBLE) AS y0,
        |  CAST(CASE WHEN region = 0 THEN 10.0 ELSE 5.0 END AS DOUBLE) AS w,
        |  CAST(CASE WHEN region = 0 THEN 16.0 ELSE 8.0 END AS DOUBLE) AS h
        |  FROM n CROSS JOIN lv)
        |SELECT k AS iso,
        |  CASE WHEN region = 0 THEN CAST(k AS STRING)
        |       ELSE concat(k, '.', region, '_1') END AS gid,
        |  st_area_ha(st_makeenvelope(x0, y0, x0 + w, y0 + h)) AS area_ha,
        |  x0 AS bbox_xmin, y0 AS bbox_ymin,
        |  x0 + w AS bbox_xmax, y0 + h AS bbox_ymax
        |FROM r""".stripMargin,
      """WITH lv AS (SELECT unnest(generate_series(0, 4)) AS region),
        |n AS (SELECT CAST(n_nationkey AS INT) AS k FROM nation),
        |r AS (SELECT k, region,
        |  CAST(-90.0 + (k % 6) * 15.0 +
        |    CASE WHEN region = 0 THEN 0.0 ELSE ((region - 1) % 2) * 5.0 END AS DOUBLE) AS x0,
        |  CAST(-52.0 + (k // 6) * 22.0 +
        |    CASE WHEN region = 0 THEN 0.0 ELSE ((region - 1) // 2) * 8.0 END AS DOUBLE) AS y0,
        |  CAST(CASE WHEN region = 0 THEN 10.0 ELSE 5.0 END AS DOUBLE) AS w,
        |  CAST(CASE WHEN region = 0 THEN 16.0 ELSE 8.0 END AS DOUBLE) AS h
        |  FROM n CROSS JOIN lv)
        |SELECT k AS iso,
        |  CASE WHEN region = 0 THEN CAST(k AS VARCHAR)
        |       ELSE concat(k, '.', region, '_1') END AS gid,
        |  abs(
        |    radians((x0 + w) - x0) * (2.0 + sin(radians(y0)) + sin(radians(y0)))
        |    + radians((x0 + w) - (x0 + w)) * (2.0 + sin(radians(y0)) + sin(radians(y0 + h)))
        |    + radians(x0 - (x0 + w)) * (2.0 + sin(radians(y0 + h)) + sin(radians(y0 + h)))
        |    + radians(x0 - x0) * (2.0 + sin(radians(y0 + h)) + sin(radians(y0)))
        |  ) * 6371008.8 * 6371008.8 / 2.0 / 10000.0 AS area_ha,
        |  x0 AS bbox_xmin, y0 AS bbox_ymin,
        |  x0 + w AS bbox_xmax, y0 + h AS bbox_ymax
        |FROM r""".stripMargin),

    // G12: Z-order (Morton) layout key — the spatial data-layout
    // technique behind Delta's OPTIMIZE ZORDER and BigQuery
    // clustering, applied the at-scale way this engine would ingest
    // a 100 TB point table: quantize lon/lat to 16-bit grid cells,
    // interleave the bits, and SORT the table by the key at write
    // time, so any bbox predicate's min/max row-group statistics
    // prune (spatially-close rows land in the same row groups; a
    // row-order layout scatters every bbox across the whole file
    // set). This query is the key derivation — 32 inlined shift
    // terms, pure codegen, NO shuffle (plan-pinned; the write-time
    // sort a real ingest adds is `repartitionByRange(zkey)`, the
    // distributed range sort — never a global-window rank, which
    // would plan Exchange SinglePartition). The spec pins the
    // locality claim: z-adjacent points are spatially close where
    // key-adjacent points are not. Cross-engine: the quantize floor
    // is IEEE-identical, the interleave is integer.
    SqlQ.split("g12_zorder_layout",
      s"""$sparkPts,
         |-- least(..., 65535) clamps the domain EDGE: lon=180 / lat=90
         |-- quantize to cell 65536, which needs bit 16 — the 16-bit
         |-- interleave would silently drop it and map antimeridian /
         |-- pole points to zkey 0, destroying locality exactly there
         |qk AS (SELECT c_custkey,
         |    least(CAST(floor((lon + 180.0) / 360.0 * 65536.0) AS BIGINT), 65535) AS zx,
         |    least(CAST(floor((lat + 90.0) / 180.0 * 65536.0) AS BIGINT), 65535) AS zy
         |  FROM pts)
         |SELECT c_custkey, zx, zy,
         |  CAST(${mortonSpark("zx", "zy")} AS BIGINT) AS zkey
         |FROM qk""".stripMargin,
      s"""$duckPts,
         |qk AS (SELECT c_custkey,
         |    least(CAST(floor((lon + 180.0) / 360.0 * 65536.0) AS BIGINT), 65535) AS zx,
         |    least(CAST(floor((lat + 90.0) / 180.0 * 65536.0) AS BIGINT), 65535) AS zy
         |  FROM pts)
         |SELECT c_custkey, zx, zy,
         |  CAST(${mortonDuck("zx", "zy")} AS BIGINT) AS zkey
         |FROM qk""".stripMargin)
  )

  /** The 32-term Morton interleave (16 bits per dimension), emitted
    * as inline shift arithmetic so it stays inside whole-stage
    * codegen — one text generator per dialect, same term order. */
  private def mortonSpark(x: String, y: String): String =
    (0 until 16).map(k =>
      s"shiftleft(shiftright($x, $k) & 1, ${2 * k}) + " +
        s"shiftleft(shiftright($y, $k) & 1, ${2 * k + 1})").mkString(" + ")

  private def mortonDuck(x: String, y: String): String =
    (0 until 16).map(k =>
      s"((($x >> $k) & 1) << ${2 * k}) + ((($y >> $k) & 1) << ${2 * k + 1})")
      .mkString(" + ")
}
