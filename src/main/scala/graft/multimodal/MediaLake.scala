package graft.multimodal

import graft.Tables
import graft.raster.{Jpeg, Png}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The media lake: REAL PNG containers as an ingest artifact.
  *
  * Round 7's multimodal ops decoded a stub; round 8 replaces the stub
  * with an actual container format. Because no image corpus ships
  * with the testdata, the lake RENDERS one deterministically: each
  * document's text becomes a grayscale "glyph page" — pixel p of a
  * `w×h` image samples the text byte at `(p·n)/(w·h)` (the resolution
  * -independent sampler m5's aHash already used, generalized to 2-D)
  * — and is encoded as a REAL RGBA PNG via [[graft.raster.Png]].
  * Downstream queries (m1/m5/m7) then scan the lake and DECODE the
  * PNGs (inflate + unfilter) to recover pixels; the DuckDB oracle
  * replays the pixel FORMULA from the text in closed form, never
  * touching PNG — decode fidelity itself is pinned by PngSpec's
  * byte-exact round-trip and `javax.imageio` interop.
  *
  * Dims are doc-dependent (`w = 16 + n mod 16`, `h = 16 + id mod 16`,
  * so 16..31 each) to keep the IHDR read path honest. The build is
  * distributed (one mapPartitions encode pass over documents) and
  * memoized under /tmp per sf dir, the same idempotent-ingest pattern
  * as the r12..r25 raster lakes — at 100 TB this is the one-time
  * ingest job, and queries only ever pay the (columnar, pruned) lake
  * scan. */
object MediaLake {

  private val lakeSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("fmt", StringType),
    StructField("media", BinaryType)))

  /** Pixel formula shared by the renderer and every oracle replay:
    * gray(p) = text byte at `(p*n)/(w*h)`. */
  private[multimodal] def grayPixels(text: Array[Byte], w: Int, h: Int): Array[Int] = {
    val n = text.length
    val npx = w * h
    Array.tabulate(npx)(p => text((p.toLong * n / npx).toInt) & 0xff)
  }

  private[multimodal] def dims(docId: Long, n: Int): (Int, Int) =
    (16 + n % 16, 16 + (docId % 16).toInt)

  /** Format split of the MIXED lake: every fourth document renders as
    * a REAL baseline JPEG instead of a PNG — the heterogeneous-corpus
    * shape a curation pipeline actually sees, forcing every image
    * kernel through format dispatch. Deterministic in the id so the
    * oracles replay the split in closed form. */
  private[multimodal] def isJpeg(docId: Long): Boolean = docId % 4 == 3

  /** JPEG dims: multiples of 8 (16/24/32 per side) so the rendered
    * image tiles exactly into DCT blocks. */
  private[multimodal] def jpegDims(docId: Long, n: Int): (Int, Int) =
    (8 * (2 + n % 3), 8 * (2 + (docId % 3).toInt))

  /** JPEG pixel formula: the image is BLOCK-constant — 8×8 block `bi`
    * (row-major over the `w/8 × h/8` block grid) holds the text byte
    * at `(bi·n)/nb`. Constant blocks are the exact-round-trip
    * configuration of the DCT path ([[graft.raster.Jpeg]] doc): the
    * decoded pixels equal this formula BIT-EXACTLY even though the
    * container is a real lossy-format stream, so the oracles can
    * replay decoded features in closed form. */
  private[multimodal] def jpegGray(text: Array[Byte], docId: Long): Array[Int] = {
    val n = text.length
    val (w, h) = jpegDims(docId, n)
    val bw = w / 8
    val nb = bw * (h / 8)
    val blocks = Array.tabulate(nb)(bi => text((bi.toLong * n / nb).toInt) & 0xff)
    Array.tabulate(w * h)(p => blocks(((p / w) / 8) * bw + ((p % w) / 8)))
  }

  /** Sample formula shared by the audio renderer and the m4 oracle:
    * sample i = text byte i − 64 (the PCM stand-in m4 always used —
    * now stored inside a REAL RIFF/WAVE container). */
  private[multimodal] def pcmSamples(text: Array[Byte]): Array[Short] =
    Array.tabulate(text.length)(i => ((text(i) & 0xff) - 64).toShort)

  /** The m7/m9 image-tower embedding: 8-block mean over the decoded
    * gray stream. Lives here (beside the pixel formulas) so the
    * sidecar build and the oracle replay share one definition. */
  private[multimodal] def imgEmbedding(gray: Array[Int]): Array[Double] = {
    val npx = gray.length
    Array.tabulate(8) { j =>
      val lo = j * npx / 8
      val hi = (j + 1) * npx / 8
      var s = 0L
      var p = lo
      while (p < hi) { s += gray(p); p += 1 }
      s.toDouble / (hi - lo)
    }
  }

  /** THE idempotent sidecar builder — one shape for the tower, phash
    * and afp sidecars (and any future derived-artifact pass): one
    * kernel scan over the lake, memoized under /tmp. The path carries
    * BOTH staleness axes: the lake's own directory name (data tag +
    * lake format version — a lake bump invalidates the sidecar with
    * it) AND the caller's kernel version tag (a formula change to the
    * embedding/hash kernel must bump it, or the memo serves
    * fingerprints computed with the obsolete formula). */
  private def ensureSidecar(spark: SparkSession, lakePath: String,
                            prefix: String, kernelVer: Int,
                            schema: StructType)
                           (rowFn: Row => Row): String = {
    val side = s"${sys.props("java.io.tmpdir")}/${prefix}$kernelVer" +
      s"_for_${new java.io.File(lakePath).getName}"
    // staged+renamed (graft.Sidecar): concurrent drivers sharing
    // tmpdir can't overwrite a sidecar another session is mid-scan on
    graft.Sidecar.ensure(side) { tmp =>
      spark.read.parquet(lakePath)
        .mapPartitions(it => it.map(rowFn))(Encoders.row(schema))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Spread a lake/sidecar build across the session's cores before
    * the encode pass + write (optimization guide §2.5: the testdata
    * tables are single-row-group parquet, so without this every
    * encode pass AND every downstream consumer's scan — the m15
    * frame decode, the tower/phash kernels — runs as ONE task at any
    * core count). Partition count = the session's default
    * parallelism, not a local constant, and GUARDED the same way as
    * Tables.spreadIfNarrow (r16 advice): an input that already has
    * ≥ cores partitions passes through untouched — at cluster scale
    * no shuffle of the corpus payload is ever added, locally the
    * single-row-group fixtures pay one sub-MB exchange. */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  private val towerSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("img", ArrayType(DoubleType))))

  /** Idempotent build of the image-TOWER sidecar: the m7/m9 8-block
    * mean-pixel embedding persisted as parquet next to the lake — the
    * e11 codes-sidecar pattern. The corpus-wide decode runs exactly
    * once per lake version; serving queries FileScan the tower
    * instead of re-decoding every container per query (the
    * recompute-at-scale anti-pattern this replaces). Plan pinned in
    * PlanInvariantsSpec: m9's executed plan reads the tower from
    * parquet and contains NO decode kernel. */
  def ensureTower(spark: SparkSession, sfDir: String): String =
    ensureSidecar(spark, ensure(spark, sfDir), "graft_img_tower",
      kernelVer = 1, towerSchema) { row =>
      Row(row.getAs[Long]("doc_id"), MultimodalQueries.imgEmbeddingOf(
        row.getAs[String]("fmt"), row.getAs[Array[Byte]]("media")))
    }

  private val phashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("phash", LongType)))

  /** Idempotent build of the PHASH sidecar — the tower's sibling for
    * the m5/m6 perceptual-dedup family: every lake item's aHash
    * ([[MultimodalQueries.phashOf]]) persisted as parquet, one decode
    * pass per lake version. Mining/serving queries FileScan the
    * sidecar; a corpus-version streaming gate builds its band tables
    * from the same rows. */
  def ensurePhashes(spark: SparkSession, sfDir: String): String =
    ensureSidecar(spark, ensure(spark, sfDir), "graft_phash",
      kernelVer = 1, phashSchema) { row =>
      Row(row.getAs[Long]("doc_id"), MultimodalQueries.phashOf(
        row.getAs[String]("fmt"), row.getAs[Array[Byte]]("media")))
    }

  private val afpSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("afp", LongType)))

  /** Idempotent build of the AUDIO-fingerprint sidecar — the phash
    * sidecar's twin on the WAV lake (m10 / the audio streaming
    * gate): every clip's 32-bin energy-profile dHash
    * ([[MultimodalQueries.afpOf]]) persisted as parquet, one decode
    * pass per lake version. */
  def ensureAfps(spark: SparkSession, sfDir: String): String =
    ensureSidecar(spark, ensureAudio(spark, sfDir), "graft_afp",
      kernelVer = 1, afpSchema) { row =>
      Row(row.getAs[Long]("doc_id"),
        MultimodalQueries.afpOf(row.getAs[Array[Byte]]("media")))
    }

  /** Source fingerprint folded into the lake paths (the shared
    * [[graft.Tables.sourceTag]] scheme — see its doc for the
    * staleness hazard). */
  private def docsTag(sfDir: String): String =
    s"${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}_${Tables.sourceTag(s"$sfDir/documents.parquet")}"

  /** Idempotent build of the AUDIO lake: one 16-bit PCM mono WAV per
    * document ([[Wav.encode]]), same memoization contract as the
    * image lake. m4 decodes these with the full RIFF chunk walk. */
  def ensureAudio(spark: SparkSession, sfDir: String): String = {
    val lake = s"${sys.props("java.io.tmpdir")}/graft_audio_lake_v2_${docsTag(sfDir)}"
    graft.Sidecar.ensure(lake) { tmp =>
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        .where(length(col("text")) > 0)
      spread(spark, docs).mapPartitions { it =>
        it.map { row =>
          val samples = pcmSamples(row.getString(1).getBytes("UTF-8"))
          Row(row.getLong(0), "wav", Wav.encode(8000, samples))
        }
      }(Encoders.row(lakeSchema))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Frame formula shared by the video renderer and the m2 oracle:
    * 8×8 frames, `F = 1 + n mod 24` of them, frame k pixel p samples
    * the text byte at `((k·64 + p)·n)/(F·64)` — the [[grayPixels]]
    * sampler extended along the time axis. */
  private[multimodal] val VideoW = 8
  private[multimodal] val VideoRate = 25
  private[multimodal] def videoFrames(text: Array[Byte]): Seq[Array[Int]] = {
    val n = text.length
    val f = 1 + n % 24
    val npx = VideoW * VideoW
    (0 until f).map(k => Array.tabulate(npx)(p =>
      text(((k.toLong * npx + p) * n / (f.toLong * npx)).toInt) & 0xff))
  }

  /** Idempotent build of the VIDEO lake: one uncompressed-DIB AVI per
    * document ([[Avi.encode]]), same memoization contract as the
    * image/audio lakes. m2 decodes these with the full RIFF walk. */
  def ensureVideo(spark: SparkSession, sfDir: String): String = {
    val lake = s"${sys.props("java.io.tmpdir")}/graft_video_lake_v2_${docsTag(sfDir)}"
    graft.Sidecar.ensure(lake) { tmp =>
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        .where(length(col("text")) > 0)
      spread(spark, docs).mapPartitions { it =>
        it.map { row =>
          val frames = videoFrames(row.getString(1).getBytes("UTF-8"))
          Row(row.getLong(0), "avi",
            Avi.encode(VideoW, VideoW, VideoRate, frames))
        }
      }(Encoders.row(lakeSchema))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Idempotent build; returns the lake dir. The PNGs carry REAL
    * in-container metadata — tEXt chunks for Title/Language/Source
    * (the EXIF-shaped provenance a curation pipeline reads without
    * decoding pixels) — which m8 extracts through the chunk walk. */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val lake = s"${sys.props("java.io.tmpdir")}/graft_media_lake_v4_${docsTag(sfDir)}"
    graft.Sidecar.ensure(lake) { tmp =>
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .where(length(col("text")) > 0)
      spread(spark, docs).mapPartitions { it =>
        it.map { row =>
          val id = row.getLong(0)
          val bytes = row.getString(1).getBytes("UTF-8")
          // NULL provenance writes NO chunk/segment (the m8 oracle
          // filters the same way) — encoding a null value would NPE
          // the whole lake build for one bad row
          val meta = Seq(
            "Title" -> s"doc $id",
            "Language" -> row.getString(2),
            "Source" -> row.getString(3)).filter(_._2 != null)
          if (isJpeg(id)) {
            val gray = jpegGray(bytes, id)
            val (w, h) = jpegDims(id, bytes.length)
            Row(id, "jpg", Jpeg.encode(w, h, gray, meta))
          } else {
            val (w, h) = dims(id, bytes.length)
            val gray = grayPixels(bytes, w, h)
            val rgba = new Array[Byte](w * h * 4)
            var p = 0
            while (p < w * h) {
              val g = gray(p).toByte
              rgba(p * 4) = g; rgba(p * 4 + 1) = g; rgba(p * 4 + 2) = g
              rgba(p * 4 + 3) = -1
              p += 1
            }
            Row(id, "png", Png.encode(w, h, rgba, meta))
          }
        }
      }(Encoders.row(lakeSchema))
        .write.mode("overwrite").parquet(tmp)
    }
  }
}
