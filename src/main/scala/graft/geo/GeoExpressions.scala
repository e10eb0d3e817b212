package graft.geo

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The PostGIS-equivalent function family (SURVEY §2.6) as Catalyst
  * expressions over WKB `BinaryType` columns. Registered by
  * [[graft.functions.GraftFunctions.install]] (which includes
  * [[GeoFunctions.builders]]) so they resolve inside the SQL dialect —
  * which is what makes the scrutinizer's injected
  * `st_intersects(geom, st_setsrid(st_geomfromgeojson('…'),4326))`
  * filter (P4) executable.
  *
  * Geometry-valued expressions use `CodegenFallback`: their cost is
  * dominated by WKB decode + the geometric algorithm, not expression
  * dispatch, and they sit behind bbox prefilters in real plans. SRID
  * handling: geometries are EPSG:4326 by convention; `st_setsrid` is
  * the identity (a documented divergence — we do not carry SRID tags
  * in WKB).
  */
object GeoExpressions {

  private[geo] def geom(bytes: Array[Byte]): Geom = Geom.fromWkb(bytes)

  /** Numeric tolerance: the SQL dialect hands us whatever literal type
    * the parser chose (`2.0` is a DECIMAL in Spark, like PG numeric). */
  private[geo] def asD(v: Any): Double = v match {
    case d: Double => d
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case f: Float => f.toDouble
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case other => throw new IllegalArgumentException(
      s"expected a numeric argument, got ${other.getClass.getName}")
  }

  abstract class GeomUnary extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a WKB binary argument, got ${t.catalogString}")
    }
  }

  case class StGeomFromGeoJson(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_geomfromgeojson"
    override protected def nullSafeEval(v: Any): Any =
      Geom.toWkb(Geom.fromGeoJson(v.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class StAsGeoJson(child: Expression) extends GeomUnary {
    override def dataType: DataType = StringType
    override def prettyName: String = "st_asgeojson"
    override protected def nullSafeEval(v: Any): Any =
      UTF8String.fromString(Geom.toGeoJson(geom(v.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class StPoint(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_point"
    override protected def nullSafeEval(x: Any, y: Any): Any =
      Geom.toWkb(Point(asD(x), asD(y)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class StX(child: Expression) extends GeomUnary {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "st_x"
    override protected def nullSafeEval(v: Any): Any =
      geom(v.asInstanceOf[Array[Byte]]) match {
        case Point(x, _) => x
        case _ => null
      }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class StY(child: Expression) extends GeomUnary {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "st_y"
    override protected def nullSafeEval(v: Any): Any =
      geom(v.asInstanceOf[Array[Byte]]) match {
        case Point(_, y) => y
        case _ => null
      }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class StIntersects(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "st_intersects"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Geom.intersects(geom(a.asInstanceOf[Array[Byte]]), geom(b.asInstanceOf[Array[Byte]]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class StWithin(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "st_within"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Geom.within(geom(a.asInstanceOf[Array[Byte]]), geom(b.asInstanceOf[Array[Byte]]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Geodesic area in hectares (the reference's
    * `ST_Area(geom::geography)/10000` — `_fill_gfw_fields_sql.sh:13`). */
  case class StAreaHa(child: Expression) extends GeomUnary {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "st_area_ha"
    override protected def nullSafeEval(v: Any): Any =
      Geom.areaHa(geom(v.asInstanceOf[Array[Byte]]))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** bbox as struct(xmin, ymin, xmax, ymax) — the engine's gist-index
    * replacement: persisted min/max columns give Parquet row-group
    * pruning on spatial predicates. */
  case class StEnvelope(child: Expression) extends GeomUnary {
    override def dataType: DataType = StructType(Seq(
      StructField("xmin", DoubleType), StructField("ymin", DoubleType),
      StructField("xmax", DoubleType), StructField("ymax", DoubleType)))
    override def prettyName: String = "st_envelope"
    override protected def nullSafeEval(v: Any): Any = {
      val (minx, miny, maxx, maxy) = geom(v.asInstanceOf[Array[Byte]]).bbox
      InternalRow(minx, miny, maxx, maxy)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class StTransformWebMercator(child: Expression) extends GeomUnary {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_transform_webmercator"
    override protected def nullSafeEval(v: Any): Any =
      Geom.toWkb(Geom.toWebMercator(geom(v.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class StSimplify(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_simplify"
    override protected def nullSafeEval(g: Any, eps: Any): Any =
      Geom.toWkb(Geom.simplify(geom(g.asInstanceOf[Array[Byte]]), asD(eps)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** st_setsrid(geom, srid) — identity; SRID is a catalog-level
    * convention in this engine. Exists so reference-shaped SQL (and
    * the P4 filter template) resolves. */
  case class StSetSrid(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_setsrid"
    override protected def nullSafeEval(g: Any, srid: Any): Any = g
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Haversine distance in meters between two point geometries — the
    * predicate behind the point-radius feature lookup (P6,
    * `features.py:150-218`; the reference's zoom→radius table lives in
    * the API layer). */
  case class StDistanceSphere(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "st_distance_sphere"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      (geom(a.asInstanceOf[Array[Byte]]), geom(b.asInstanceOf[Array[Byte]])) match {
        case (Point(x1, y1), Point(x2, y2)) => Geom.distanceSphere(x1, y1, x2, y2)
        case _ => null
      }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `st_distance_to_point(geom, lng, lat)` → metres from a geometry
    * to a query point — the predicate behind the `/features` lookup on
    * ANY geo table (reference `features.py:140-147` intersects a
    * geodesic point buffer with the table geometry; distance ≤ radius
    * is the same test). Points use the exact great-circle formula
    * (identical to `st_distance_sphere`); areal geometries are 0 when
    * they contain the point, else the minimum over ring edges in the
    * local tangent plane at the query point (exact enough at feature-
    * lookup radii, ≤ ~500 km). */
  case class StDistanceToPoint(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "st_distance_to_point"
    override protected def nullSafeEval(g: Any, lngA: Any, latA: Any): Any =
      // asD, not asInstanceOf: SQL literals arrive as Decimal/Int and
      // a bare cast crashes (the sibling expressions learned this too)
      Geom.distanceToPoint(geom(g.asInstanceOf[Array[Byte]]),
        asD(lngA), asD(latA))
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  /** Accent-stripping lowercase normalization (the reference's
    * `unidecode(name).lower()` id-lookup normalization, P8 —
    * `id_lookup.py:74-78`): NFD-decompose and drop combining marks. */
  case class NormName(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "norm_name"
    override protected def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val folded = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}", "")
      UTF8String.fromString(folded.toLowerCase(java.util.Locale.ROOT))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Content-addressed geostore id: md5 of the canonical GeoJSON,
    * formatted as a UUID (`crud/geostore.py:120` — PG byte parity is
    * not reproducible; our canonical form is [[Geom.toGeoJson]]). */
  case class StGeostoreId(child: Expression) extends GeomUnary {
    override def dataType: DataType = StringType
    override def prettyName: String = "st_geostore_id"
    override protected def nullSafeEval(v: Any): Any = {
      val json = Geom.toGeoJson(geom(v.asInstanceOf[Array[Byte]]))
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(json.getBytes("UTF-8"))
      val hex = md.map(b => f"$b%02x").mkString
      UTF8String.fromString(
        s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
          s"${hex.substring(16, 20)}-${hex.substring(20)}")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class StClipEnvelope(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_clip_envelope"
    override def nullable: Boolean = children.exists(_.nullable)
    override def eval(input: InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      val g = geom(vs.head.asInstanceOf[Array[Byte]])
      val Seq(minx, miny, maxx, maxy) = vs.tail.map(asD)
      Geom.toWkb(Geom.clipToEnvelope(g, minx, miny, maxx, maxy))
    }
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
      copy(children = cs)
  }

  /** Polygon ∩ convex-polygon via Sutherland–Hodgman; the clip
    * geometry's exterior ring must be convex CCW (grid cells, AOI
    * quads — the reference's ST_Intersection call sites, J3). */
  case class StIntersectionConvex(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_intersection_convex"
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val clip = geom(b.asInstanceOf[Array[Byte]]) match {
        case Polygon(rings) => rings(0)
        case MultiPolygon(ps) if ps.nonEmpty => ps(0)(0)
        case _ => return null
      }
      Geom.toWkb(Geom.clipToConvex(geom(a.asInstanceOf[Array[Byte]]), clip))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Planar `ST_Area` (squared coordinate units — degrees² on 4326,
    * PostGIS's planar semantics; geodesic area is `st_area_ha`). */
  case class StAreaPlanar(child: Expression) extends GeomUnary {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "st_area"
    override protected def nullSafeEval(a: Any): Any =
      geom(a.asInstanceOf[Array[Byte]]) match {
        case Polygon(rs) => Geom.planarArea(rs)
        case MultiPolygon(ps) => ps.map(Geom.planarArea).sum
        case _ => 0.0
      }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** General polygon × polygon `ST_Intersection` — convex clips take
    * the one-pass Sutherland–Hodgman path, concave clips decompose
    * into ear-clipped triangles (see [[Geom.intersection]]). */
  case class StIntersection(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_intersection"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Geom.toWkb(Geom.intersection(
        geom(a.asInstanceOf[Array[Byte]]), geom(b.asInstanceOf[Array[Byte]])))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `ST_SimplifyPreserveTopology(geom, eps)` — DP with a per-ring
    * validity guard (see [[Geom.simplifyPreserveTopology]]). */
  case class StSimplifyPreserveTopology(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_simplifypreservetopology"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Geom.toWkb(Geom.simplifyPreserveTopology(
        geom(a.asInstanceOf[Array[Byte]]), asD(b)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `ST_SnapToGrid(geom, size)` (`export_1x1_grid.py:332`). */
  case class StSnapToGrid(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_snap_to_grid"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Geom.toWkb(Geom.snapToGrid(geom(a.asInstanceOf[Array[Byte]]), asD(b)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `ST_MakeValid`-lite: ring closure, degenerate-ring drop, OGC
    * winding normalization (see [[Geom.makeValid]]). */
  case class StMakeValid(child: Expression) extends GeomUnary {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_makevalid"
    override protected def nullSafeEval(a: Any): Any =
      Geom.toWkb(Geom.makeValid(geom(a.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `ST_Force2D` (clip pipeline, `clip_and_reproject_geom.sh:26-38`):
    * the engine's geometry model is 2-D, so this is the identity —
    * registered so the reference's SQL runs unchanged. */
  case class StForce2D(child: Expression) extends GeomUnary {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_force2d"
    override protected def nullSafeEval(a: Any): Any = a
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `ST_Multi`: promote a Polygon to a single-part MultiPolygon
    * (other types pass through, PostGIS semantics). */
  case class StMulti(child: Expression) extends GeomUnary {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_multi"
    override protected def nullSafeEval(a: Any): Any =
      Geom.toWkb(geom(a.asInstanceOf[Array[Byte]]) match {
        case Polygon(rs) => MultiPolygon(Array(rs))
        case g => g
      })
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `ST_CollectionExtract(geom, 3)` (1×1 export,
    * `export_1x1_grid.py:309-345`): keep only the polygonal parts.
    * Type codes follow PostGIS: 1 = points, 2 = lines, 3 = polygons. */
  case class StCollectionExtract(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_collectionextract"
    override protected def nullSafeEval(a: Any, t: Any): Any = {
      val g = Geom.fromWkb(a.asInstanceOf[Array[Byte]])
      val want = t.asInstanceOf[Number].intValue()
      val out = (want, g) match {
        case (3, p: Polygon) => p
        case (3, m: MultiPolygon) => m
        case (3, _) => Polygon(Array(Array.empty[(Double, Double)]))
        case (2, l: LineString) => l
        case (2, m: MultiLineString) => m
        case (2, _) => MultiLineString(Array.empty)
        case (1, p: Point) => p
        case (1, m: MultiPoint) => m
        case (1, _) => MultiPoint(Array.empty)
        case _ => throw new IllegalArgumentException(
          s"st_collectionextract: unsupported type code $want")
      }
      Geom.toWkb(out)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** RFC 4122 name-based UUID v5 (SHA-1) — the datamart resource-key
    * scheme (`uuid.uuid5(NAMESPACE_OID, f"{path}_{aoi}_{cc}_{dv}")`,
    * `app/routes/datamart/land.py:271-274`). First arg: namespace
    * ('oid' | 'dns' | 'url' | a UUID string), second: the name. */
  case class Uuid5(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "uuid5"
    override protected def nullSafeEval(nsAny: Any, nameAny: Any): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        Uuid5.of(nsAny.toString, nameAny.toString))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  object Uuid5 {
    def of(nsName: String, name: String): String = {
      val ns = nsName.toLowerCase match {
        case "dns" => "6ba7b810-9dad-11d1-80b4-00c04fd430c8"
        case "url" => "6ba7b811-9dad-11d1-80b4-00c04fd430c8"
        case "oid" => "6ba7b812-9dad-11d1-80b4-00c04fd430c8"
        case "x500" => "6ba7b814-9dad-11d1-80b4-00c04fd430c8"
        case other => other
      }
      val nsUuid = java.util.UUID.fromString(ns)
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(nsUuid.getMostSignificantBits)
      bb.putLong(nsUuid.getLeastSignificantBits)
      val md = java.security.MessageDigest.getInstance("SHA-1")
      md.update(bb.array())
      md.update(name.getBytes("UTF-8"))
      val h = md.digest()
      h(6) = ((h(6) & 0x0f) | 0x50).toByte // version 5
      h(8) = ((h(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
      val msb = java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      val lsb = java.nio.ByteBuffer.wrap(h, 8, 8).getLong
      new java.util.UUID(msb, lsb).toString
    }
  }

  case class StMakeEnvelope(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "st_makeenvelope"
    override def nullable: Boolean = children.exists(_.nullable)
    override def eval(input: InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      val Seq(minx, miny, maxx, maxy) = vs.take(4).map(asD)
      Geom.toWkb(Polygon(Array(Array(
        (minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)))))
    }
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
      copy(children = cs)
  }
}

/** Registry builders for the geometry function family. */
object GeoFunctions {
  import GeoExpressions._

  /** Name → expression builder, part of
    * [[graft.functions.GraftFunctions.builders]]: the per-session
    * registry install and the `SparkSessionExtensions` injection
    * (`graft.GraftExtensions`) both consume it from there. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_geomfromgeojson" -> (es => StGeomFromGeoJson(es.head)),
    "st_asgeojson" -> (es => StAsGeoJson(es.head)),
    "st_point" -> (es => StPoint(es(0), es(1))),
    "st_makepoint" -> (es => StPoint(es(0), es(1))),
    "st_x" -> (es => StX(es.head)),
    "st_y" -> (es => StY(es.head)),
    "st_intersects" -> (es => StIntersects(es(0), es(1))),
    "st_within" -> (es => StWithin(es(0), es(1))),
    "st_area_ha" -> (es => StAreaHa(es.head)),
    "st_envelope" -> (es => StEnvelope(es.head)),
    "st_transform_webmercator" -> (es => StTransformWebMercator(es.head)),
    "st_simplify" -> (es => StSimplify(es(0), es(1))),
    "st_simplifypreservetopology" -> (es => StSimplifyPreserveTopology(es(0), es(1))),
    "st_setsrid" -> (es => StSetSrid(es(0), es(1))),
    "st_geostore_id" -> (es => StGeostoreId(es.head)),
    "st_distance_sphere" -> (es => StDistanceSphere(es(0), es(1))),
    "st_distance_to_point" -> (es => StDistanceToPoint(es(0), es(1), es(2))),
    "norm_name" -> (es => NormName(es.head)),
    "st_clip_envelope" -> (es => StClipEnvelope(es)),
    "st_intersection_convex" -> (es => StIntersectionConvex(es(0), es(1))),
    "st_intersection" -> (es => StIntersection(es(0), es(1))),
    "st_area" -> (es => StAreaPlanar(es.head)),
    "st_snap_to_grid" -> (es => StSnapToGrid(es(0), es(1))),
    "st_makevalid" -> (es => StMakeValid(es.head)),
    "st_force2d" -> (es => StForce2D(es.head)),
    "st_multi" -> (es => StMulti(es.head)),
    "st_collectionextract" -> (es => StCollectionExtract(es(0), es(1))),
    "st_makeenvelope" -> (es => StMakeEnvelope(es)),
    "uuid5" -> (es => Uuid5(es(0), es(1))))
}
