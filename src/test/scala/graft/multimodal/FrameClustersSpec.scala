package graft.multimodal

import graft.SparkEntry
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** m21's cluster labeling must be CONSISTENT with m15's pair
  * enumeration (one shared hash/candidate build — frameHashViews —
  * but two different downstream algorithms): every verified frame
  * pair lands in one cluster, exact-dup frames (shared hash) share a
  * cluster by construction, labels are the component minimum, and
  * the output is one row per non-constant frame (the LINEAR answer
  * shape that motivates the operator — m15's true pair answer grows
  * quadratically with duplicate-group size). */
class FrameClustersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(4)

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("every m15 pair is intra-cluster; labels are component minima; one row per frame") {
    val clusters = SparkEntry.queries("m21_frame_clusters")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val pairs = SparkEntry.queries("m15_frame_dedup")(spark, sf).collect()
    assert(pairs.nonEmpty, "fixture has no verified frame pairs — vacuous")
    // (a) pair consistency: both ends of every verified pair carry
    // the same cluster label
    for (p <- pairs) {
      val a = (p.getLong(0), p.getInt(1))
      val b = (p.getLong(2), p.getInt(3))
      assert(clusters.contains(a) && clusters.contains(b), s"pair $a-$b missing")
      assert(clusters(a)._1 == clusters(b)._1,
        s"pair $a-$b split across clusters ${clusters(a)._1} / ${clusters(b)._1}")
    }
    // (b) sizes: cluster_size is the frame count of the label group
    val byLbl = clusters.values.groupBy(_._1)
    for ((lbl, members) <- byLbl)
      assert(members.forall(_._2 == members.size),
        s"cluster $lbl declares sizes ${members.map(_._2).toSet}, has ${members.size}")
    // (c) non-vacuous structure: at least one multi-frame cluster and
    // at least one singleton
    assert(byLbl.exists(_._2.size > 1), "no multi-frame cluster — vacuous")
    assert(byLbl.exists(_._2.size == 1), "no singleton cluster — vacuous")
    // (d) linear output shape: one row per non-constant frame — the
    // writer renders 1 + len(text) % 24 frames per non-empty doc
    // (m2 samples every 4th frame, so it is NOT the comparator)
    graft.Tables.register(spark, sf)
    val nFrames = spark.sql(
      """SELECT CAST(sum(1 + length(text) % 24) AS BIGINT)
        |FROM documents WHERE length(text) > 0""".stripMargin)
      .collect()(0).getLong(0)
    assert(clusters.size <= nFrames && clusters.size > 0,
      s"${clusters.size} cluster rows vs $nFrames rendered frames")
  }
}
