package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming audio gate drops perceptual near-dups (32-bin
  * energy-profile dHash, Hamming ≤ 3) of corpus WAVs, with batch
  * parity: survivors equal the plain Hamming predicate over the same
  * fingerprints. */
class AudioDedupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  /** A real WAV whose 32 equal segments (64 samples each) have the
    * given constant amplitudes — segment energy 64·a², so the dHash
    * bits are fully determined by the profile. */
  private def wav(amps: Int => Int): Array[Byte] = {
    val samples = Array.tabulate[Short](32 * 64)(p => amps(p / 64).toShort)
    graft.multimodal.Wav.encode(8000, samples)
  }

  // corpus: an alternating high/low profile and a 3-step staircase
  private val alternating = wav(i => if (i % 2 == 0) 20 else 10)
  private val staircase = wav(i => 5 + (i / 11) * 15)
  // stream: an exact dup, a near-dup (one even segment dimmed below
  // its odd neighbors — flips exactly 2 adjacent-comparison bits),
  // and two fresh profiles (inverted alternation; a 7-step
  // permutation — a monotone ramp would hash EQUAL to the staircase:
  // every "increasing profile" sets only bit 31)
  private val nearAlternating = wav(i =>
    if (i == 4) 8 else if (i % 2 == 0) 20 else 10)
  private val inverted = wav(i => if (i % 2 == 0) 10 else 20)
  private val permuted = wav(i => ((i * 7) % 32) + 1)

  private def hashOf(media: Array[Byte]): Long = {
    import spark.implicits._
    AudioDedupStream.corpusBands(Seq(Tuple1(media)).toDF("media"))
      .select("cfp").head().getLong(0)
  }
  private def hd(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("gate drops near-dups of corpus audio, passes fresh; batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusHashes = Seq(alternating, staircase).map(hashOf)
    val streamMedia = Seq(
      10L -> alternating, 11L -> nearAlternating, 12L -> inverted, 13L -> permuted)
    val streamHashes = streamMedia.map { case (id, m) => id -> hashOf(m) }
    def minDist(h: Long): Int = corpusHashes.map(hd(h, _)).min
    assert(minDist(streamHashes(0)._2) == 0, "exact dup not at distance 0")
    assert(minDist(streamHashes(1)._2) <= 3 && minDist(streamHashes(1)._2) > 0,
      s"near-dup at ${minDist(streamHashes(1)._2)}")
    assert(minDist(streamHashes(2)._2) > 3 && minDist(streamHashes(3)._2) > 3,
      s"fresh at ${minDist(streamHashes(2)._2)}/${minDist(streamHashes(3)._2)}")
    val expected = streamHashes.collect { case (id, h) if minDist(h) > 3 => id }

    val corpus = Seq(1L -> alternating, 2L -> staircase).toDF("doc_id", "media")
    val bands = AudioDedupStream.corpusBands(corpus).cache()
    bands.count()

    val stream = MemoryStream[(Long, Array[Byte])]
    val q = AudioDedupStream.gate(
        stream.toDF().toDF("doc_id", "media"), bands)
      .writeStream.format("memory").queryName("audio_gate")
      .outputMode("append").start()
    stream.addData(streamMedia)
    q.processAllAvailable()
    val rows = spark.table("audio_gate")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(rows == expected, s"stream=$rows expected=$expected")

    val static = AudioDedupStream.gate(
        streamMedia.toDF("doc_id", "media"), bands)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(static == expected, s"static=$static expected=$expected")
  }
}
