package graft.simsearch

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The e5b/e3 convergence claim: the driver-loop Lloyd reaches its
  * bitwise centroid fixed point within the shared iteration budget, so
  * the early-stopped Spark result equals the oracle's fixed-count
  * unroll (Lloyd is idempotent at the fixed point). */
class KmeansConvergenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(4)

  override def afterAll(): Unit = spark.stop()

  test("Lloyd reaches a bitwise fixed point within the budget") {
    val km = SimQueries.convergedKmeans(spark, "/root/testdata/sf0.001")
    assert(km.fixedPoint, s"not converged after ${km.iters} updates")
    assert(km.iters < 40)
    assert(km.centroids.length > 1) // non-degenerate clustering
    km.centroids.foreach { case (_, arr) => assert(arr.length == 64) }
  }

  test("e21's corpus-sized-k build reaches its fixed point (own budget)") {
    // e21's k grows with the corpus (n/50), so its convergence is NOT
    // bounded by the fixture-tuned shared budget — the round-16 sf1
    // gate caught the build stopping at the 40-iteration cap a few
    // membership flips short of the fixed point, violating the
    // centroid-fixedpoint contract (centroid == mean of its cells
    // holds only at the bitwise fixed point). The e21 build now runs
    // on its own budget until bitwise-fixed; the served state must
    // report convergence.
    val km = SimQueries.e21Kmeans(spark, "/root/testdata/sf0.001")
    assert(km.fixedPoint, s"e21 build not converged after ${km.iters} updates")
  }
}
