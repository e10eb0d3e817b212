package graft.multimodal

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The media lake renders REAL PNGs and the query kernels decode
  * them: this pins the lake→decode round-trip against the pixel
  * formula the oracles replay, on the actual sf0.001 testdata. */
class MediaLakeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("every lake row is a real PNG/JPEG whose decoded pixels equal the formula") {
    val sfDir = "/root/testdata/sf0.001"
    val lake = MediaLake.ensure(spark, sfDir)
    val media = spark.read.parquet(lake).collect()
    assert(media.length == 500, s"lake rows=${media.length}")
    // the mixed lake: every fourth doc is a JPEG
    val nJpg = media.count(_.getAs[String]("fmt") == "jpg")
    assert(nJpg > 100 && nJpg < 150, s"jpg rows=$nJpg (expect ~125 of 500)")
    val texts = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    media.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val bytes = row.getAs[Array[Byte]]("media")
      val t = texts(id).getBytes("UTF-8")
      if (MediaLake.isJpeg(id)) {
        assert(row.getAs[String]("fmt") == "jpg", s"doc $id fmt")
        // a REAL container: JFIF SOI marker, decodes cleanly
        assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
          s"doc $id: not a JPEG")
        val img = graft.raster.Jpeg.decode(bytes)
        val (w, h) = MediaLake.jpegDims(id, t.length)
        assert(img.width == w && img.height == h, s"doc $id dims")
        // the block-constant configuration round-trips the DCT path
        // bit-exactly — the contract every image oracle relies on
        assert(img.gray.toSeq == MediaLake.jpegGray(t, id).toSeq,
          s"doc $id jpeg pixels")
      } else {
        assert(row.getAs[String]("fmt") == "png", s"doc $id fmt")
        assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P', s"doc $id: not a PNG")
        val img = graft.raster.Png.decode(bytes)
        val (w, h) = MediaLake.dims(id, t.length)
        assert(img.width == w && img.height == h, s"doc $id dims")
        val expected = MediaLake.grayPixels(t, w, h)
        var p = 0
        while (p < w * h) {
          assert((img.rgba(p * 4) & 0xff) == expected(p), s"doc $id px $p")
          assert((img.rgba(p * 4 + 3) & 0xff) == 255, s"doc $id alpha $p")
          p += 1
        }
      }
    }
  }

  test("every audio-lake row is a real WAV whose samples equal the formula") {
    val sfDir = "/root/testdata/sf0.001"
    val lake = MediaLake.ensureAudio(spark, sfDir)
    val media = spark.read.parquet(lake).collect()
    assert(media.length == 500, s"audio lake rows=${media.length}")
    val texts = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    media.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val bytes = row.getAs[Array[Byte]]("media")
      assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF", s"doc $id: not RIFF")
      val audio = Wav.decode(bytes)
      val expected = MediaLake.pcmSamples(texts(id).getBytes("UTF-8"))
      assert(audio.sampleRate == 8000 &&
        audio.samples.toSeq == expected.toSeq, s"doc $id samples")
    }
  }

  test("every video-lake row is a real AVI whose frames equal the formula") {
    val sfDir = "/root/testdata/sf0.001"
    val lake = MediaLake.ensureVideo(spark, sfDir)
    val media = spark.read.parquet(lake).collect()
    assert(media.length == 500, s"video lake rows=${media.length}")
    val texts = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    media.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val bytes = row.getAs[Array[Byte]]("media")
      assert(new String(bytes, 8, 4, "US-ASCII") == "AVI ", s"doc $id: not AVI")
      val video = Avi.decode(bytes)
      val expected = MediaLake.videoFrames(texts(id).getBytes("UTF-8"))
      assert(video.frames.length == expected.length, s"doc $id frame count")
      for (k <- expected.indices)
        assert(video.frames(k).toSeq == expected(k).toSeq, s"doc $id frame $k")
    }
  }

  test("lake PNGs and JPEGs also decode in javax.imageio (independent reader)") {
    val lake = MediaLake.ensure(spark, "/root/testdata/sf0.001")
    val rows = spark.read.parquet(lake).collect()
    for (fmt <- Seq("png", "jpg")) {
      val one = rows.find(_.getAs[String]("fmt") == fmt).get
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(one.getAs[Array[Byte]]("media")))
      assert(img != null && img.getWidth >= 16 && img.getHeight >= 16, fmt)
    }
  }

  test("sidecar build is staged+renamed: stale partial dirs heal, no staging litter") {
    val sfDir = "/root/testdata/sf0.001"
    val side = new java.io.File(MediaLake.ensureTower(spark, sfDir))
    assert(new java.io.File(side, "_SUCCESS").exists())
    val before = spark.read.parquet(side.getPath).count()
    // Simulate a crashed earlier build: a target dir WITHOUT _SUCCESS.
    // The builder must clear it and land a complete sidecar via the
    // atomic rename, never by writing into the half-built dir.
    side.listFiles().foreach(_.delete())
    java.nio.file.Files.write(side.toPath.resolve("part-garbage"),
      Array[Byte](1, 2, 3))
    assert(!new java.io.File(side, "_SUCCESS").exists())
    val again = new java.io.File(MediaLake.ensureTower(spark, sfDir))
    assert(again.getPath == side.getPath)
    assert(new java.io.File(again, "_SUCCESS").exists())
    assert(!new java.io.File(again, "part-garbage").exists(),
      "stale partial content must be cleared, not merged")
    assert(spark.read.parquet(again.getPath).count() == before)
    // the staging dir must not linger beside the sidecar
    val litter = side.getParentFile.listFiles()
      .filter(_.getName.startsWith(side.getName + ".stage-"))
    assert(litter.isEmpty, s"staging litter: ${litter.mkString(", ")}")
  }
}
