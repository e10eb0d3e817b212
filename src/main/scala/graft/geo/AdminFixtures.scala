package graft.geo

/** Synthesized GADM-style admin boundaries over the `nation` fixture
  * (reference `app/routes/geostore/geostore.py` admin routes +
  * `app/crud/geostore.py:218-330` `build_gadm_geostore`): the real
  * service reads a `gadm_administrative_boundaries` version table; the
  * test environment carries no GADM geometry, so boundaries derive
  * DETERMINISTICALLY from the nation key — a rectangle per country,
  * quadrant regions (adm 1), half-quadrant subregions (adm 2). One
  * formula shared by the API routes and the correctness oracle, so the
  * served areas/bboxes are independently recomputable in SQL.
  *
  * Layout: countries tile a 6×5 grid of 15°×22° cells starting at
  * (-90, -52); each country polygon is the cell's leading 10°×16°
  * rectangle (a 5°/6° gutter keeps neighbors disjoint). All corners
  * are exact in binary-scaled decimal terms — integer degrees and
  * halves — so every engine computes identical vertices.
  */
object AdminFixtures {

  /** Country rectangle (lonMin, latMin, lonMax, latMax). */
  def adm0Rect(k: Int): (Double, Double, Double, Double) = {
    val lon0 = -90.0 + (k % 6) * 15.0
    val lat0 = -52.0 + (k / 6) * 22.0
    (lon0, lat0, lon0 + 10.0, lat0 + 16.0)
  }

  /** Region `id1` (1..4): the country's quadrants, row-major from the
    * southwest (5°×8° each). */
  def adm1Rect(k: Int, id1: Int): (Double, Double, Double, Double) = {
    require(id1 >= 1 && id1 <= 4, s"region id $id1 out of range 1..4")
    val (lon0, lat0, _, _) = adm0Rect(k)
    val x = lon0 + ((id1 - 1) % 2) * 5.0
    val y = lat0 + ((id1 - 1) / 2) * 8.0
    (x, y, x + 5.0, y + 8.0)
  }

  /** Subregion `id2` (1..2): the region's west/east halves (2.5°×8°). */
  def adm2Rect(k: Int, id1: Int, id2: Int): (Double, Double, Double, Double) = {
    require(id2 >= 1 && id2 <= 2, s"subregion id $id2 out of range 1..2")
    val (x0, y0, _, y1) = adm1Rect(k, id1)
    val x = x0 + (id2 - 1) * 2.5
    (x, y0, x + 2.5, y1)
  }

  /** GADM-style level id: `ISO`, `ISO.r_1`, `ISO.r.s_1` (the `_1`
    * revision suffix the reference's LIKE pattern expects). */
  def gid(k: Int, id1: Option[Int] = None, id2: Option[Int] = None): String =
    (id1, id2) match {
      case (None, _) => k.toString
      case (Some(r), None) => s"$k.${r}_1"
      case (Some(r), Some(s)) => s"$k.$r.${s}_1"
    }

  /** Closed CCW ring polygon of a rect. */
  def polygon(rect: (Double, Double, Double, Double)): Polygon = {
    val (x0, y0, x1, y1) = rect
    Polygon(Array(Array((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))))
  }
}
