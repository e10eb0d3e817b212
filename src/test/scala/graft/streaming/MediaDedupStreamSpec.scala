package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming media gate drops perceptual near-dups (aHash Hamming
  * ≤ 3) of corpus media, with batch parity: survivors equal the plain
  * Hamming predicate over the same hashes. The corpus and stream are
  * MIXED-format (PNG + JPEG) — the gate must dispatch the decode per
  * row exactly as batch m5 does. */
class MediaDedupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  /** A real 16×16 PNG from a gray formula. */
  private def png(gray: Int => Int): Array[Byte] = {
    val rgba = new Array[Byte](16 * 16 * 4)
    for (p <- 0 until 256) {
      val g = (gray(p) & 0xff).toByte
      rgba(p * 4) = g; rgba(p * 4 + 1) = g; rgba(p * 4 + 2) = g
      rgba(p * 4 + 3) = -1
    }
    graft.raster.Png.encode(16, 16, rgba)
  }

  /** A real 16×16 baseline JPEG from a 2×2 block-constant grid (the
    * exact-round-trip configuration — see [[graft.raster.Jpeg]]). */
  private def jpeg(blocks: Array[Int]): Array[Byte] = {
    val gray = Array.tabulate(256)(p =>
      blocks(((p / 16) / 8) * 2 + ((p % 16) / 8)))
    graft.raster.Jpeg.encode(16, 16, gray)
  }

  // corpus: a checkerboard PNG, a gradient PNG, and a block JPEG
  private val checker = png(p => if ((p / 16 + p % 16) % 2 == 0) 200 else 40)
  private val gradient = png(p => p)
  private val jblocks = jpeg(Array(220, 20, 20, 220))
  // stream: an exact PNG dup, a near-dup (checkerboard with a small
  // patch dimmed — flips at most a few sampled bits), an exact JPEG
  // dup, and two fresh images
  private val nearChecker = png(p =>
    if (p < 24) 120 else if ((p / 16 + p % 16) % 2 == 0) 200 else 40)
  private val bands1 = png(p => if (p % 16 < 8) 220 else 20)
  private val rings = png(p => ((p / 16 - 8) * (p / 16 - 8) +
    (p % 16 - 8) * (p % 16 - 8)) * 3 % 256)

  private def hashOf(fmt: String, media: Array[Byte]): Long = {
    import spark.implicits._
    MediaDedupStream.corpusBands(
        Seq((fmt, media)).toDF("fmt", "media"))
      .select("cph").head().getLong(0)
  }
  private def hd(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("gate drops near-dups of mixed-format corpus, passes fresh; batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusItems = Seq("png" -> checker, "png" -> gradient, "jpg" -> jblocks)
    val corpusHashes = corpusItems.map { case (f, m) => hashOf(f, m) }
    val streamMedia = Seq(
      (10L, "png", checker), (11L, "png", nearChecker),
      (12L, "png", bands1), (13L, "png", rings), (14L, "jpg", jblocks))
    val streamHashes = streamMedia.map { case (id, f, m) => id -> hashOf(f, m) }
    // the fixture must exercise BOTH sides of the threshold — assert
    // the crafted distances, so a drifted formula fails loudly here
    def minDist(h: Long): Int = corpusHashes.map(hd(h, _)).min
    assert(minDist(streamHashes(0)._2) == 0, "exact PNG dup not at distance 0")
    assert(minDist(streamHashes(1)._2) <= 3 && minDist(streamHashes(1)._2) > 0,
      s"near-dup at ${minDist(streamHashes(1)._2)}")
    assert(minDist(streamHashes(2)._2) > 3 && minDist(streamHashes(3)._2) > 3,
      s"fresh at ${minDist(streamHashes(2)._2)}/${minDist(streamHashes(3)._2)}")
    assert(minDist(streamHashes(4)._2) == 0, "exact JPEG dup not at distance 0")
    val expected = streamHashes.collect {
      case (id, h) if minDist(h) > 3 => id
    }

    val corpus = corpusItems.zipWithIndex
      .map { case ((f, m), i) => (i.toLong, f, m) }
      .toDF("doc_id", "fmt", "media")
    val bands = MediaDedupStream.corpusBands(corpus).cache()
    bands.count()

    val stream = MemoryStream[(Long, String, Array[Byte])]
    val q = MediaDedupStream.gate(
        stream.toDF().toDF("doc_id", "fmt", "media"), bands)
      .writeStream.format("memory").queryName("media_gate")
      .outputMode("append").start()
    stream.addData(streamMedia)
    q.processAllAvailable()
    val rows = spark.table("media_gate")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(rows == expected, s"stream=$rows expected=$expected")

    // batch parity: the gate on a STATIC frame gives the same set
    val static = MediaDedupStream.gate(
        streamMedia.toDF("doc_id", "fmt", "media"), bands)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(static == expected, s"static=$static expected=$expected")
  }
}
