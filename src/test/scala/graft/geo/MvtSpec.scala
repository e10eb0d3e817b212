package graft.geo

import org.scalatest.funsuite.AnyFunSuite

/** Round-trips [[Mvt]] output through a minimal independent protobuf
  * decoder written against the vector-tile-spec v2.1 wire format —
  * the interop check standing in for a real MVT consumer. */
class MvtSpec extends AnyFunSuite {

  // ---- tiny protobuf reader -------------------------------------
  private final class Reader(b: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        val x = b(pos) & 0xff; pos += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; pos += n
      case 5 => pos += 4
    }
    def sub(): Reader = {
      val n = varint().toInt
      val r = new Reader(b, pos, pos + n)
      pos += n
      r
    }
    def bytes(): Array[Byte] = {
      val n = varint().toInt
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      out
    }
  }
  private def zigzagDec(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private case class DecFeature(id: Long, gtype: Int, tags: Seq[Int],
                                rings: Seq[Seq[(Long, Long)]], closed: Seq[Boolean])
  private case class DecLayer(version: Long, name: String, extent: Long,
                              keys: Seq[String], values: Seq[Any],
                              features: Seq[DecFeature])

  private def decodeValue(r: Reader): Any = {
    var out: Any = null
    while (r.hasNext) {
      val k = r.varint(); val field = (k >> 3).toInt; val wire = (k & 7).toInt
      field match {
        case 1 => out = new String(r.bytes(), "UTF-8")
        case 2 =>
          var bits = 0
          for (i <- 0 until 4) { bits |= (r.b(r.pos) & 0xff) << (8 * i); r.pos += 1 }
          out = java.lang.Float.intBitsToFloat(bits)
        case 3 =>
          var bits = 0L
          for (i <- 0 until 8) { bits |= (r.b(r.pos) & 0xffL) << (8 * i); r.pos += 1 }
          out = java.lang.Double.longBitsToDouble(bits)
        case 4 => out = r.varint()
        case 7 => out = r.varint() == 1L
        case _ => r.skip(wire)
      }
    }
    out
  }
  private implicit class RB(r: Reader) { def b: Array[Byte] = rBytes(r) }
  private val f = classOf[Reader].getDeclaredFields.find(_.getName == "b").get
  f.setAccessible(true)
  private def rBytes(r: Reader): Array[Byte] = f.get(r).asInstanceOf[Array[Byte]]

  private def decodeGeometry(g: Seq[Long], gtype: Int): (Seq[Seq[(Long, Long)]], Seq[Boolean]) = {
    var cx = 0L; var cy = 0L
    var i = 0
    val rings = Seq.newBuilder[Seq[(Long, Long)]]
    val closed = Seq.newBuilder[Boolean]
    var cur = Seq.newBuilder[(Long, Long)]
    var open = false
    while (i < g.length) {
      val cmd = g(i); i += 1
      val id = (cmd & 7).toInt; val count = (cmd >> 3).toInt
      id match {
        case 1 => // MoveTo
          if (open) { rings += cur.result(); closed += false; cur = Seq.newBuilder }
          open = true
          for (_ <- 0 until count) {
            cx += zigzagDec(g(i)); cy += zigzagDec(g(i + 1)); i += 2
            cur += ((cx, cy))
          }
        case 2 => // LineTo
          for (_ <- 0 until count) {
            cx += zigzagDec(g(i)); cy += zigzagDec(g(i + 1)); i += 2
            cur += ((cx, cy))
          }
        case 7 => // ClosePath
          rings += cur.result(); closed += true; cur = Seq.newBuilder; open = false
      }
    }
    if (open) { rings += cur.result(); closed += false }
    (rings.result(), closed.result())
  }

  private def decodeTile(bytes: Array[Byte]): Seq[DecLayer] = {
    val top = new Reader(bytes, 0, bytes.length)
    val layers = Seq.newBuilder[DecLayer]
    while (top.hasNext) {
      val k = top.varint()
      if ((k >> 3).toInt == 3) {
        val lr = top.sub()
        var version = 0L; var name = ""; var extent = 0L
        val keys = Seq.newBuilder[String]; val values = Seq.newBuilder[Any]
        val features = Seq.newBuilder[DecFeature]
        while (lr.hasNext) {
          val lk = lr.varint(); val field = (lk >> 3).toInt; val wire = (lk & 7).toInt
          field match {
            case 15 => version = lr.varint()
            case 1 => name = new String(lr.bytes(), "UTF-8")
            case 5 => extent = lr.varint()
            case 3 => keys += new String(lr.bytes(), "UTF-8")
            case 4 => values += decodeValue(lr.sub())
            case 2 =>
              val fr = lr.sub()
              var id = 0L; var gtype = 0
              var tags = Seq.empty[Int]; var geom = Seq.empty[Long]
              while (fr.hasNext) {
                val fk = fr.varint()
                ((fk >> 3).toInt, (fk & 7).toInt) match {
                  case (1, _) => id = fr.varint()
                  case (3, _) => gtype = fr.varint().toInt
                  case (2, _) =>
                    val tr = fr.sub()
                    val tb = Seq.newBuilder[Int]
                    while (tr.hasNext) tb += tr.varint().toInt
                    tags = tb.result()
                  case (4, _) =>
                    val gr = fr.sub()
                    val gb = Seq.newBuilder[Long]
                    while (gr.hasNext) gb += gr.varint()
                    geom = gb.result()
                  case (_, w) => fr.skip(w)
                }
              }
              val (rings, closed) = decodeGeometry(geom, gtype)
              features += DecFeature(id, gtype, tags, rings, closed)
            case _ => lr.skip(wire)
          }
        }
        layers += DecLayer(version, name, extent, keys.result(),
          values.result(), features.result())
      } else top.skip((k & 7).toInt)
    }
    layers.result()
  }

  // ------------------------------------------------------------ tests

  test("polygon feature round-trips: commands, winding, tags, tables") {
    val square = Array((100, 100), (3000, 100), (3000, 3000), (100, 3000))
    val hole = Array((1000, 1000), (1000, 2000), (2000, 2000), (2000, 1000))
    val feats = Seq(
      Mvt.Feature(7L, 3, Seq(square, hole),
        Seq("name" -> "alpha", "count" -> 42L, "frac" -> 0.5)),
      Mvt.Feature(8L, 1, Seq(Array((50, 60))),
        Seq("name" -> "beta", "score" -> 1.25f)))
    val tile = Mvt.encodeTile("areas", feats)
    val Seq(layer) = decodeTile(tile)
    assert(layer.version == 2 && layer.extent == 4096 && layer.name == "areas")
    assert(layer.keys == Seq("name", "count", "frac", "score"))
    // float attrs keep their value through float_value (field 2), not
    // a long truncation
    assert(layer.values == Seq("alpha", 42L, 0.5, "beta", 1.25f))
    val poly = layer.features.find(_.id == 7L).get
    assert(poly.gtype == 3)
    // tags decode through the tables back to the attribute pairs
    val attrs = poly.tags.grouped(2).map { case Seq(ki, vi) =>
      layer.keys(ki) -> layer.values(vi) }.toSeq
    assert(attrs == Seq("name" -> "alpha", "count" -> 42L, "frac" -> 0.5))
    // two rings, both ClosePath'd
    assert(poly.rings.length == 2 && poly.closed.forall(identity))
    // spec winding: exterior positive area, hole negative (tile space)
    def area2(ring: Seq[(Long, Long)]): Long =
      ring.indices.map { i =>
        val (x0, y0) = ring(i); val (x1, y1) = ring((i + 1) % ring.length)
        x0 * y1 - x1 * y0
      }.sum
    assert(area2(poly.rings.head) > 0, "exterior must be positive-area")
    assert(area2(poly.rings(1)) < 0, "hole must be negative-area")
    // vertex sets survive (order may rotate/reverse for winding)
    assert(poly.rings.head.map(p => (p._1.toInt, p._2.toInt)).toSet == square.toSet)
    assert(poly.rings(1).map(p => (p._1.toInt, p._2.toInt)).toSet == hole.toSet)
    val pt = layer.features.find(_.id == 8L).get
    assert(pt.gtype == 1 && pt.rings.flatten == Seq((50L, 60L)))
  }

  test("quantize: loop LineString keeps its closing segment, ring drops it") {
    // regression for the ring flag the round-5 refactor introduced (and
    // whose call sites broke the build): a loop-shaped LineString must
    // keep its explicit closing vertex (MVT LineTo), while a polygon
    // ring drops the duplicated close (ClosePath implies it)
    val spark = graft.LocalTuning.session(2)
    try {
      import spark.implicits._
      val loopCs = Array(
        (10.0, 10.0), (80.0, 10.0), (80.0, 50.0), (10.0, 50.0), (10.0, 10.0))
      val rows = Seq(
        (Geom.toWkb(LineString(loopCs)), "loop"),
        (Geom.toWkb(Polygon(Array(loopCs))), "poly"))
        .toDF("geom", "kind")
      val out = java.nio.file.Files.createTempDirectory("vtc_ring").toString
      graft.geo.VectorTileCache.build(spark, rows, "l", Seq("kind"), 0, 0, out)
      val Seq(layer) = decodeTile(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "0", "0", "0.pbf")))
      def kindOf(f: DecFeature): Any = {
        val Seq(ki, vi) = f.tags.take(2)
        assert(layer.keys(ki) == "kind"); layer.values(vi)
      }
      val line = layer.features.find(_.gtype == 2).get
      val poly = layer.features.find(_.gtype == 3).get
      assert(kindOf(line) == "loop" && kindOf(poly) == "poly")
      // the line keeps 5 vertices (closing segment explicit, no ClosePath)
      assert(line.rings.head.length == 5 && !line.closed.head)
      assert(line.rings.head.head == line.rings.head.last)
      // the ring keeps 4 (duplicated close dropped, ClosePath set)
      assert(poly.rings.head.length == 4 && poly.closed.head)
      assert(poly.rings.head.toSet.size == 4)
    } finally spark.stop()
  }

  test("degenerate exterior ring drops the polygon, never promotes a hole") {
    val spark = graft.LocalTuning.session(2)
    try {
      import spark.implicits._
      // exterior collapses to one quantized vertex at z0 (~0.09° per
      // MVT unit); the (invalid-input) second ring is huge and would
      // survive quantization — it must NOT be emitted as the exterior
      val tiny = Array(
        (10.0, 10.0), (10.001, 10.0), (10.0, 10.001), (10.0, 10.0))
      val big = Array(
        (20.0, 20.0), (60.0, 20.0), (60.0, 60.0), (20.0, 60.0), (20.0, 20.0))
      val rows = Seq((Geom.toWkb(Polygon(Array(tiny, big))), "x"))
        .toDF("geom", "kind")
      val out = java.nio.file.Files.createTempDirectory("vtc_degen").toString
      graft.geo.VectorTileCache.build(spark, rows, "l", Seq("kind"), 0, 0, out)
      val z0 = java.nio.file.Paths.get(out, "0", "0", "0.pbf")
      val feats =
        if (!java.nio.file.Files.exists(z0)) Nil
        else decodeTile(java.nio.file.Files.readAllBytes(z0))
          .flatMap(_.features)
      assert(feats.isEmpty, s"degenerate polygon emitted $feats")
    } finally spark.stop()
  }

  test("lines clip to tiles: bbox-only tiles stay empty, exits split parts") {
    val spark = graft.LocalTuning.session(2)
    try {
      import spark.implicits._
      import graft.raster.TileCache.{xOfLon, yOfLat}
      // an L-shaped polyline: north along lon 5, then east along lat 40
      // — its bbox corner (lon ~38, lat ~6) overlaps tiles the geometry
      // never enters
      val lShape = LineString(Array((5.0, 5.0), (5.0, 40.0), (40.0, 40.0)))
      // a V detour: exits tile x=1 (z2: −90..0) into x=0 and re-enters,
      // so tile (2,1,·) must decode TWO line parts
      val vShape = LineString(Array(
        (-10.0, 10.0), (-95.0, 10.0), (-95.0, 20.0), (-10.0, 20.0)))
      val rows = Seq((Geom.toWkb(lShape), "l"), (Geom.toWkb(vShape), "v"))
        .toDF("geom", "kind")
      val out = java.nio.file.Files.createTempDirectory("vtc_clip").toString
      graft.geo.VectorTileCache.build(spark, rows, "l", Seq("kind"), 0, 5, out)
      // the L's bbox corner tile at z5 holds no geometry → no file
      val cx = math.floor(xOfLon(38.0, 5)).toInt
      val cy = math.floor(yOfLat(6.0, 5)).toInt
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "5", cx.toString, s"$cy.pbf")),
        s"bbox-corner tile 5/$cx/$cy written for a geometry that never enters it")
      // ...while a tile the vertical leg does cross exists
      val vx = math.floor(xOfLon(5.0, 5)).toInt
      val vy = math.floor(yOfLat(20.0, 5)).toInt
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "5", vx.toString, s"$vy.pbf")))
      // the V decodes as TWO parts in the tile it exits and re-enters
      val vTileY = math.floor(yOfLat(15.0, 2)).toInt
      val vTile = java.nio.file.Paths.get(out, "2", "1", s"$vTileY.pbf")
      assert(java.nio.file.Files.exists(vTile), s"2/1/$vTileY missing")
      val vFeats = decodeTile(java.nio.file.Files.readAllBytes(vTile))
        .flatMap(_.features).filter(_.gtype == 2)
      assert(vFeats.exists(_.rings.length == 2),
        s"expected a 2-part clipped line, got ${vFeats.map(_.rings.length)}")
    } finally spark.stop()
  }

  test("clipLine property: outputs inside the square, inside samples covered") {
    val rnd = new scala.util.Random(20260814L)
    val lo = 0.0
    val hi = 100.0
    for (trial <- 0 until 300) {
      // random polylines straddling the square generously
      val n = 2 + rnd.nextInt(8)
      val cs = Array.fill(n)((rnd.nextDouble() * 300 - 100,
        rnd.nextDouble() * 300 - 100))
      val parts = VectorTileCache.clipLine(cs, lo, hi)
      val eps = 1e-9
      // every output vertex is inside the (closed) square
      parts.foreach(_.foreach { case (x, y) =>
        assert(x >= lo - eps && x <= hi + eps && y >= lo - eps && y <= hi + eps,
          s"trial $trial: vertex ($x,$y) outside")
      })
      // every part has ≥ 2 points and consecutive parts are genuinely
      // disconnected (a split only happens at an exit)
      parts.foreach(p => assert(p.length >= 2))
      // coverage: sampled points strictly inside the square on the
      // original segments must lie (within ε) on some clipped part
      for (i <- 0 until n - 1; f <- Seq(0.17, 0.5, 0.83)) {
        val px = cs(i)._1 + f * (cs(i + 1)._1 - cs(i)._1)
        val py = cs(i)._2 + f * (cs(i + 1)._2 - cs(i)._2)
        if (px > lo + 1e-6 && px < hi - 1e-6 && py > lo + 1e-6 && py < hi - 1e-6) {
          val onPart = parts.exists(p => p.sliding(2).exists { seg =>
            val (ax, ay) = seg(0); val (bx, by) = seg(1)
            // point-segment distance via projection clamp
            val vx = bx - ax; val vy = by - ay
            val len2 = vx * vx + vy * vy
            val t = if (len2 == 0) 0.0
              else math.max(0.0, math.min(1.0, ((px - ax) * vx + (py - ay) * vy) / len2))
            math.hypot(px - (ax + t * vx), py - (ay + t * vy)) < 1e-6
          })
          assert(onPart, s"trial $trial: inside point ($px,$py) lost by clip")
        }
      }
    }
  }

  test("quantized zero-area slivers drop; antimeridian bbox fans out to edges only") {
    val spark = graft.LocalTuning.session(2)
    try {
      import spark.implicits._
      // a sliver whose vertices quantize to collinear points at z0:
      // spec-invalid zero-area exterior must drop the polygon
      val sliver = Polygon(Array(Array(
        (10.0, 10.0), (40.0, 10.000001), (40.0, 10.000002), (10.0, 10.0))))
      val rows = Seq((Geom.toWkb(sliver), "s")).toDF("geom", "kind")
      val out = java.nio.file.Files.createTempDirectory("vtc_sliver").toString
      val n = graft.geo.VectorTileCache.build(
        spark, rows, "l", Seq("kind"), 0, 0, out)
      assert(n == 0, s"$n tiles written for a zero-area sliver")

      // an unsplit antimeridian-crossing line (bbox wider than 180°)
      // fans out to the two EDGE x-ranges only — never the middle
      val amLine = LineString(Array((179.5, 10.0), (-179.5, 10.0)))
      val rows2 = Seq((Geom.toWkb(amLine), "am")).toDF("geom", "kind")
      val out2 = java.nio.file.Files.createTempDirectory("vtc_am").toString
      graft.geo.VectorTileCache.build(spark, rows2, "l", Seq("kind"), 3, 3, out2)
      for (x <- 1 to 6)
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(out2, "3", x.toString)),
          s"middle column 3/$x written for an antimeridian bbox")
    } finally spark.stop()
  }

  test("vector tile cache build: features land on the right tiles and clip") {
    val spark = graft.LocalTuning.session(2)
    try {
      import spark.implicits._
      // one square polygon spanning the (z1, x1, y0) tile boundary at
      // lon 90E (tiles x=1:[0..180]), lat 40..50
      val poly = Polygon(Array(Array(
        (80.0, 40.0), (100.0, 40.0), (100.0, 50.0), (80.0, 50.0), (80.0, 40.0))))
      val rows = Seq((Geom.toWkb(poly), "big", 3L))
        .toDF("geom", "label", "rank")
      val out = java.nio.file.Files.createTempDirectory("vtc").toString
      val n = graft.geo.VectorTileCache.build(spark, rows, "test_layer",
        Seq("label", "rank"), minZoom = 0, maxZoom = 2, out)
      assert(n >= 3, s"$n tiles written")
      // z0: the single world tile carries the feature
      val z0 = java.nio.file.Paths.get(out, "0", "0", "0.pbf")
      assert(java.nio.file.Files.exists(z0), "z0 tile missing")
      val Seq(l0) = decodeTile(java.nio.file.Files.readAllBytes(z0))
      assert(l0.name == "test_layer" && l0.features.nonEmpty)
      val f0 = l0.features.head
      assert(f0.gtype == 3)
      val attrs = f0.tags.grouped(2).map { case Seq(ki, vi) =>
        l0.keys(ki) -> l0.values(vi) }.toMap
      assert(attrs == Map("label" -> "big", "rank" -> 3L))
      // its z0 vertex quantization matches the slippy projection
      import graft.raster.TileCache.{xOfLon, yOfLat}
      val expected = Set((80.0, 40.0), (100.0, 40.0), (100.0, 50.0), (80.0, 50.0))
        .map { case (lon, lat) =>
          (Math.round(xOfLon(lon, 0) * Mvt.Extent),
            Math.round(yOfLat(lat, 0) * Mvt.Extent)) }
      assert(f0.rings.head.toSet == expected,
        s"${f0.rings.head.toSet} vs $expected")
      // z1: the polygon spans lon 90 ⇒ both x=1 (east hemisphere edge)
      // tiles carry a CLIPPED piece whose coords stay within the
      // buffered extent
      val z1e = java.nio.file.Paths.get(out, "1", "1", "0.pbf")
      assert(java.nio.file.Files.exists(z1e), "z1 east tile missing")
      val Seq(l1) = decodeTile(java.nio.file.Files.readAllBytes(z1e))
      val lim = graft.geo.VectorTileCache.BufferUnits
      l1.features.head.rings.flatten.foreach { case (x, y) =>
        assert(x >= -lim && x <= Mvt.Extent + lim &&
          y >= -lim && y <= Mvt.Extent + lim, s"unclipped vertex ($x,$y)")
      }
      // a tile the bbox never touches is absent
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "1", "0", "1.pbf")))
    } finally spark.stop()
  }
}
