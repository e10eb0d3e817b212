package graft.multimodal

import graft.SparkEntry
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** m22's video pairs must be CONSISTENT with the frame-hash table it
  * derives from (the m15/m21 shared-kernel discipline): the reported
  * intersection equals a brute-force recount of shared distinct
  * hashes per pair, Jaccard is the exact set formula, and the
  * threshold cut is non-vacuous on the fixture. */
class VideoDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(4)

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("pair intersections match a brute-force per-video set recount") {
    import spark.implicits._
    val rows = SparkEntry.queries("m22_video_dedup")(spark, sf).collect()
    assert(rows.nonEmpty, "no video pairs at the fixture — vacuous")
    // brute-force ground truth from m15's frame pairs is the wrong
    // granularity; recount from the per-frame hash table m22 derives
    // from — rebuild hash sets via the m2 sampler replay is the
    // oracle's job, so here we recount from the engine's own table
    val sets = MultimodalQueries.frameHashes(spark, sf)
      .selectExpr("doc_id", "fh_lo", "fh_hi").distinct()
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    for (r <- rows) {
      val a = r.getAs[Long]("doc_id_a")
      val b = r.getAs[Long]("doc_id_b")
      assert(a < b, "pairs must be ordered")
      val inter = (sets(a) intersect sets(b)).size.toLong
      assert(r.getAs[Long]("shared") == inter, s"pair ($a,$b)")
      assert(r.getAs[Long]("n_a") == sets(a).size.toLong)
      assert(r.getAs[Long]("n_b") == sets(b).size.toLong)
      val jac = inter.toDouble / (sets(a).size + sets(b).size - inter)
      assert(r.getAs[Double]("jaccard") == jac && jac >= 0.2)
    }
  }
}
