package graft.multimodal

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The m6 signal merge's defining behavior — a pair caught by BOTH
  * signals collapses into ONE row with both flags set — has no
  * coverage from the oracle fixtures (their two signal sets happen to
  * be disjoint), so it is pinned directly here: a mis-keyed full
  * outer join would emit two half-flagged rows instead and still pass
  * the end-to-end gate. */
class MultiSignalMergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("both / phash-only / cosine-only pairs merge to one row each") {
    import spark.implicits._
    val ph = Seq((1L, 2L), (3L, 4L)).toDF("doc_id_a", "doc_id_b")
    val cos = Seq((1L, 2L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    val rows = MultimodalQueries.mergeSignals(ph, cos)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
      .toSeq
    assert(rows == Seq(
      (1L, 2L, 1, 1), // BOTH signals — one merged row, both flags
      (3L, 4L, 1, 0), // phash only
      (5L, 6L, 0, 1)  // cosine only
    ), rows)
  }
}
