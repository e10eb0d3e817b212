package graft.simsearch

import graft.{SparkEntry, Tables}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Measures (not asserts) what the two-level IVF assignment costs in
  * fidelity: at sf0.1 e21's corpus-sized k crosses HierK, so the
  * router is live on the serving path — this spec computes the
  * exhaustive argmax for every vector and reports the agreement rate,
  * with a conservative floor that catches wiring bugs (a routing
  * mistake sends agreement toward 1/k ≈ 1%, not 90%+). Also pins the
  * router's structural contract: branches partition the fine
  * centroids exactly. */
class HierAssignSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(4)

  override def afterAll(): Unit = spark.stop()

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("branches partition the fine centroids; agreement vs exhaustive is high") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.1"
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // sf0.1's own auto-k sits below HierK (the router goes live at
    // the probe's 10×/100× corpora); force a 100-cell build here so
    // the spec exercises the routed path on real vectors
    val k = math.max(100, SimQueries.e21AutoK(n))
    val km = SimQueries.convergedKmeans(spark, sf, k)
    val cArr = km.centroids.toArray
    val cNrm = cArr.map { case (_, a) => math.sqrt(dot(a, a)) }
    val r = SimQueries.buildRouter(cArr)
    // structural: every fine centroid appears in exactly one branch
    val all = r.branches.flatten.sorted
    assert(all.toSeq == (0 until cArr.length), "branches must partition fines")
    assert(r.branches.forall(_.nonEmpty), "no empty branch may survive")

    Tables.register(spark, sf)
    val vecs = spark.sql(
      """SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings""")
      .as[(Long, Array[Double])].collect()
    var agree = 0
    for ((_, v) <- vecs) {
      val nrm = math.sqrt(dot(v, v))
      var best = 0
      var bestS = -1.0e308
      var ci = 0
      while (ci < cArr.length) {
        val s = dot(v, cArr(ci)._2) / (nrm * cNrm(ci))
        if (s > bestS) { bestS = s; best = ci }
        ci += 1
      }
      if (r.assign(v, nrm, cArr, cNrm) == best) agree += 1
    }
    val rate = agree.toDouble / vecs.length
    info(f"two-level vs exhaustive agreement at sf0.1 (k=$k): $rate%.4f")
    assert(rate >= 0.7, f"agreement $rate%.3f — routing is likely miswired")
  }

  test("e21 produces a well-formed graph (routed path live at probe corpora)") {
    val rows = SparkEntry.queries("e21_knn_graph")(spark, "/root/testdata/sf0.1")
      .limit(50).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Int]("out_degree") >= 1)
      assert(r.getAs[Int]("n_mutual") <= r.getAs[Int]("out_degree"))
    }
  }
}
