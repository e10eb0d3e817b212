package graft.multimodal

import graft.{QueryModule, Sql, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, processed by partition-batched decode kernels.
  *
  * The real engine treats images/audio/video as `BinaryType` payload +
  * metadata, and runs decode / feature-extraction as batched
  * per-partition kernels (in PySpark these would be `mapInPandas`
  * Pandas UDFs; the Scala-native equivalent is `mapPartitions` over an
  * explicit row encoder with an internal batch size, which is what the
  * kernels here do).
  *
  * The IMAGE family (m1 features, m5 aHash, m7 joint-embedding
  * alignment) decodes REAL PNG containers — [[MediaLake]] renders
  * each document into an actual RGBA PNG as a memoized ingest
  * artifact, and the query kernels run the full inflate + unfilter
  * read path ([[graft.raster.Png.decode]]) on every row. The DuckDB
  * oracle replays the PIXEL FORMULA from the source text in closed
  * form (it cannot decode PNG); decode fidelity is pinned separately
  * by PngSpec (byte-exact encoder round-trip + `javax.imageio`
  * interop). The AUDIO family (m4) decodes REAL RIFF/WAVE containers
  * the same way ([[Wav.decode]], `javax.sound.sampled` interop), and
  * the VIDEO family (m2 frame sampling, m11 scene-cut/keyframe
  * selection) REAL uncompressed-DIB AVI containers ([[Avi.decode]],
  * layout pinned byte-exactly in AviSpec); m10 mines audio near-dup
  * pairs from a 32-bin energy-profile dHash over the WAV lake —
  * every media query decodes an actual container format; no decode
  * stubs remain anywhere in the family.
  */
object MultimodalQueries extends QueryModule {

  private val BatchSize = 64
  private val P = 2147483647L

  /** The gray stream of a decoded lake PNG: the renderer writes
    * r=g=b, so channel 0 of the RGBA output IS the gray value. */
  private[multimodal] def grayOf(img: graft.raster.Png.Image): Array[Int] =
    Array.tabulate(img.width * img.height)(p => img.rgba(p * 4) & 0xff)

  /** Format dispatch for the MIXED media lake — every image kernel
    * routes through here, decoding the real container the row's `fmt`
    * declares ([[graft.raster.Jpeg]] / [[graft.raster.Png]]). */
  private[multimodal] def decodeGray(fmt: String,
                                     media: Array[Byte]): (Int, Int, Array[Int]) =
    fmt match {
      case "jpg" =>
        val im = graft.raster.Jpeg.decode(media)
        (im.width, im.height, im.gray)
      case "png" =>
        val im = graft.raster.Png.decode(media)
        (im.width, im.height, grayOf(im))
      case other => throw new IllegalArgumentException(
        s"media lake row with unknown fmt '$other'")
    }

  /** THE media perceptual hash, shared with the streaming gate
    * ([[graft.streaming.MediaDedupStream]] reuses this so stream and
    * batch verdicts agree BY CONSTRUCTION — the LshShape/UrlCanon
    * precedent): decode the container, sample 32 pixels
    * `g(i) = gray[(i·npx)/32]`, bit i set when `g(i)·32 > Σg`. */
  private[graft] def phashOf(fmt: String, media: Array[Byte]): Long = {
    val (_, _, gray) = decodeGray(fmt, media)
    val npx = gray.length
    val g = Array.tabulate(32)(i => gray(((i.toLong * npx) / 32).toInt))
    val tot = g.sum
    var h = 0L
    var i = 0
    while (i < 32) {
      if (g(i) * 32 > tot) h |= (1L << i)
      i += 1
    }
    h
  }

  private val featSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("fmt", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_px", LongType),
    StructField("checksum", LongType),
    StructField("mean_byte", DoubleType)))

  /** M1: media-lake scan + batched REAL decode + feature extraction —
    * width/height come from the PNG's own IHDR, checksum/mean from
    * the inflate+unfiltered pixels. (n_px, not n_bytes: the container
    * byte count is deflate-dependent and so not a portable feature;
    * the pixel count is.) */
  private def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensure(spark, sfDir))
    media.mapPartitions { it =>
      // Batched kernel shape: accumulate BatchSize rows, decode the
      // batch, emit. (A native decoder would take the batch in one
      // call; Png.decode runs per element.)
      it.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val (w, ht, gray) =
            decodeGray(row.getString(1), row.getAs[Array[Byte]]("media"))
          var h = 0L
          var sum = 0L
          var p = 0
          while (p < gray.length) {
            h = (h * 131L + gray(p)) % P
            sum += gray(p)
            p += 1
          }
          Row(row.getLong(0), row.getString(1), w, ht,
            gray.length.toLong, h, sum.toDouble / gray.length)
        }
      }
    }(Encoders.row(featSchema))
  }

  private val frameSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("frame_off", LongType),
    StructField("ts_ms", DoubleType),
    StructField("frame_sum", LongType)))

  /** M2: frame sampling from REAL AVI containers — the video lake
    * stores each document as an uncompressed-DIB AVI
    * ([[MediaLake.ensureVideo]]) and this kernel runs the full RIFF
    * chunk walk ([[Avi.decode]]): every 4th frame's CONTAINER byte
    * offset (what a seek-based sampler reads), its timestamp from the
    * stream header's own µs-per-frame, and a pixel sum over the
    * decoded frame. The oracle replays the deterministic container
    * layout and the frame formula in closed form; AviSpec pins decode
    * fidelity. Fan-out stays bounded (≤ 6 rows per doc). */
  private def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensureVideo(spark, sfDir))
    media.flatMap { row =>
      val video = Avi.decode(row.getAs[Array[Byte]]("media"))
      (0 until video.frames.length by 4).map { idx =>
        var sum = 0L
        val f = video.frames(idx)
        var p = 0
        while (p < f.length) { sum += f(p); p += 1 }
        Row(row.getLong(0), idx, video.frameOffsets(idx),
          idx * (video.usPerFrame / 1000.0), sum)
      }
    }(Encoders.row(frameSchema))
  }

  private val resizeSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("src_w", IntegerType),
    StructField("src_h", IntegerType),
    StructField("dst_w", IntegerType),
    StructField("dst_h", IntegerType),
    StructField("scale_pm", LongType)))

  /** M3: aspect-preserving resize planning — the batch kernel that
    * sits between decode and feature extraction in a vision pipeline:
    * fit each image into 224×224, long side pinned, integer
    * arithmetic only (scale in permille so the oracle reproduces it
    * bit-exactly). The source dimensions come from the REAL PNG's own
    * IHDR via the HEADER-ONLY read (`Png.headerDims` — O(header);
    * planning must not pay the inflate+unfilter cost of the pixels it
    * never touches) — the plan is computed for the actual lake images
    * m1/m5/m7 process. */
  private def resizePlan(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensure(spark, sfDir))
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val media = row.getAs[Array[Byte]]("media")
          val (w, ht) =
            if (row.getString(1) == "jpg") graft.raster.Jpeg.headerDims(media)
            else graft.raster.Png.headerDims(media)
          val long = math.max(w, ht)
          // permille scale, floor — integer-exact on both engines
          val scalePm = 224000L / long
          val dw = (w * scalePm / 1000L).toInt
          val dh = (ht * scalePm / 1000L).toInt
          Row(row.getLong(0), w, ht, dw, dh, scalePm)
        }
      }
    }(Encoders.row(resizeSchema))
  }

  /** M20: image property filter — LAION's pre-CLIP hygiene pass
    * (Schuhmann et al. 2021 dropped images below a minimum side and
    * outside an aspect-ratio band before any model ran): per-image
    * verdict from the m3 HEADER-ONLY dims (planning never inflates
    * pixels), with the aspect ratio as exact integer permille so
    * both engines compare identically. Thresholds (min side 20,
    * aspect ≤ 1.8) split this fixture's 16–32-px lake non-vacuously
    * on BOTH rules. Built on the m3 kernel bound into its SQL (the
    * m16-over-m4 pattern — one header read, two operators). Scale
    * shape: a narrow header-read map plus per-row integer compares,
    * no shuffle. */
  private def mediaFilter(spark: SparkSession, sfDir: String): DataFrame = {
    Sql.bound(spark,
      s"""SELECT doc_id, src_w, src_h,
         |  CAST(least(src_w, src_h) AS INT) AS min_side,
         |  (CAST(greatest(src_w, src_h) AS BIGINT) * 1000)
         |    DIV least(src_w, src_h) AS aspect_pm,
         |  CASE WHEN least(src_w, src_h) >= 20
         |        AND (CAST(greatest(src_w, src_h) AS BIGINT) * 1000)
         |              DIV least(src_w, src_h) <= 1800
         |       THEN 1 ELSE 0 END AS kept
         |FROM dims""".stripMargin,
      "dims" -> resizePlan(spark, sfDir))
  }

  private val audioSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("window_idx", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("energy", LongType),
    StructField("peak", IntegerType)))

  // ---- m14: windowed spectrogram over the WAV lake ---------------

  private[multimodal] val specW = 64
  private[multimodal] val specFreqs = Array(1, 2, 4, 8)

  /** Quantized DFT correlation tables for [[spectrogram]]: C[k][n] =
    * round(cos(2πkn/64)·2^15), same for sin. Quantizing the trig to
    * integers makes the whole bin computation EXACT integer
    * arithmetic — the one table is generated here once and embedded
    * verbatim into both the engine kernel and the DuckDB oracle's
    * literal VALUES, so no cross-engine trig (or libm rounding
    * difference) can ever enter the compare. */
  private[multimodal] val specCos: Array[Array[Int]] = specFreqs.map(k =>
    Array.tabulate(specW)(n =>
      Math.round(Math.cos(2.0 * Math.PI * k * n / specW) * 32768.0).toInt))
  private[multimodal] val specSin: Array[Array[Int]] = specFreqs.map(k =>
    Array.tabulate(specW)(n =>
      Math.round(Math.sin(2.0 * Math.PI * k * n / specW) * 32768.0).toInt))

  /** One window's quantized-DFT bins — the kernel [[spectrogram]]
    * runs per 64-sample window; factored out so SpectrogramSpec can
    * drive it on crafted waves. Returns (re, im, power) per entry of
    * [[specFreqs]]. */
  private[multimodal] def specBins(smp: Array[Short], from: Int, until: Int): Array[(Long, Long, Long)] =
    specFreqs.indices.map { bi =>
      var re = 0L
      var im = 0L
      var i = from
      while (i < until) {
        val s = smp(i).toLong
        re += s * specCos(bi)(i - from)
        im += s * specSin(bi)(i - from)
        i += 1
      }
      (re, im, re * re + im * im)
    }.toArray

  private val spectroSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("window_idx", IntegerType),
    StructField("bin", IntegerType),
    StructField("re", LongType),
    StructField("im", LongType),
    StructField("power", LongType)))

  /** M14: windowed SPECTROGRAM over the REAL WAV lake — the audio
    * featurization a speech/music curation pipeline runs before
    * filtering (silence/tone detection, bandwidth checks, the input
    * to audio fingerprints richer than m10's energy profile): per
    * 64-sample window, the correlation of the signal against four
    * quantized sinusoids (k = 1, 2, 4, 8 cycles/window) — re/im
    * parts and the squared magnitude, all exact BIGINT arithmetic
    * via the shared [[specCos]]/[[specSin]] tables. Same scale shape
    * as m4: decode + window pass is a narrow batched map with
    * bounded fan-out (windows × 4 bins per clip), no shuffle — at
    * 100 TB the spectrogram is embarrassingly parallel and the bin
    * count, not the clip length, bounds each output row. */
  private def spectrogram(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensureAudio(spark, sfDir))
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { row =>
          val smp = Wav.decode(row.getAs[Array[Byte]]("media")).samples
          val n = smp.length
          val lastWin = math.floorDiv(n - 1, specW)
          (0 to lastWin).iterator.flatMap { w =>
            val end = math.min(n, (w + 1) * specW)
            val bins = specBins(smp, w * specW, end)
            specFreqs.indices.iterator.map { bi =>
              val (re, im, power) = bins(bi)
              Row(row.getLong(0), w, specFreqs(bi), re, im, power)
            }
          }
        }
      }
    }(Encoders.row(spectroSchema))
  }

  /** The m14 oracle: replays the sample formula (ascii−64, the m4
    * contract WavSpec pins to the decoded bytes) and correlates
    * against the SAME quantized tables, embedded as literals. Every
    * list_sum is cast to BIGINT (DuckDB types it HUGEINT — the m2
    * lesson). */
  private def m14Oracle: String = {
    def lst(a: Array[Int]) = a.mkString("[", ", ", "]")
    val rows = specFreqs.zipWithIndex.map { case (k, i) =>
      s"($k, ${lst(specCos(i))}, ${lst(specSin(i))})"
    }.mkString(",\n    ")
    s"""WITH tabs(bin, ct, st) AS (VALUES
       |    $rows),
       |s AS (SELECT doc_id,
       |  [ascii(ch)::BIGINT - 64 for ch in string_split(text, '')] AS smp
       |  FROM documents WHERE len(text) > 0),
       |w AS (SELECT doc_id, smp,
       |  unnest(generate_series(0, (len(smp)-1)//$specW)) AS win FROM s),
       |sl AS (SELECT doc_id, win,
       |  list_slice(smp, win*$specW + 1, least(len(smp), (win+1)*$specW)) AS seg FROM w),
       |b AS (SELECT doc_id, win, tabs.bin,
       |    CAST(list_sum([seg[i] * ct[i] for i in generate_series(1, len(seg))]) AS BIGINT) AS re,
       |    CAST(list_sum([seg[i] * st[i] for i in generate_series(1, len(seg))]) AS BIGINT) AS im
       |  FROM sl CROSS JOIN tabs)
       |SELECT doc_id, win::INT AS window_idx, bin::INT AS bin, re, im,
       |  re*re + im*im AS power
       |FROM b""".stripMargin
  }

  /** M4: windowed audio features over REAL WAV containers — the
    * audio lake stores each document as a 16-bit PCM mono RIFF/WAVE
    * file ([[MediaLake.ensureAudio]]) and this kernel runs the full
    * chunk-walking decode ([[Wav.decode]]) before the per-64-sample
    * window pass: energy = Σ s² and peak = max |s|. The samples are
    * rendered by the closed formula the DuckDB oracle replays from
    * the text (the same contract as the PNG family: the oracle checks
    * the feature math, WavSpec pins decode fidelity byte-exactly).
    * Fan-out is bounded (window rows ∝ audio duration — a narrow
    * map, no shuffle). */
  private def audioEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensureAudio(spark, sfDir))
    val W = 64
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { row =>
          val audio = Wav.decode(row.getAs[Array[Byte]]("media"))
          val smp = audio.samples
          val n = smp.length
          val lastWin = math.floorDiv(n - 1, W) // -1 for an empty stream
          (0 to lastWin).iterator.map { k =>
            val end = math.min(n, (k + 1) * W)
            var i = k * W
            var energy = 0L
            var peak = 0
            while (i < end) {
              val s = smp(i).toInt
              energy += s.toLong * s
              if (math.abs(s) > peak) peak = math.abs(s)
              i += 1
            }
            Row(row.getLong(0), k, end - k * W, energy, peak)
          }
        }
      }
    }(Encoders.row(audioSchema))
  }

  private val resampleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("window_idx", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("energy_x25", LongType),
    StructField("peak_x5", IntegerType)))

  /** M18: sample-rate conversion over the REAL WAV lake — the
    * resample every speech pipeline runs before a 16 kHz ASR model
    * eats 44.1/8 kHz crawl audio. Rational 5/8 downsample (8 kHz →
    * 5 kHz) by linear interpolation at exact rational positions:
    * output i sits at source position i·8/5, and the interpolated
    * value is computed as the INTEGER numerator scaled by the
    * denominator — `v = s[j]·(5−k) + s[j+1]·k` with `j = (i·8) div 5,
    * k = (i·8) mod 5` — so no engine ever rounds a fraction and the
    * oracle replay is exact (the emitted features carry the ×5 / ×25
    * scale in their names). Features are m4's 64-sample windowing
    * over the RESAMPLED stream (energy/peak), so the conversion's
    * correctness is observable through the same lens the VAD/energy
    * ops use. Scale shape: one narrow batched decode map — no
    * shuffle beyond the output. Oracle: the shared [[pcmOracleCte]]
    * sample replay + the same closed-form interpolation in SQL. */
  private def audioResample(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensureAudio(spark, sfDir))
    val W = 64
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { row =>
          val smp = Wav.decode(row.getAs[Array[Byte]]("media")).samples
          val n = smp.length // lake excludes empty docs, so n >= 1
          val nOut = ((n - 1).toLong * 5 / 8 + 1).toInt
          val out = Array.tabulate(nOut) { i =>
            val p = i.toLong * 8
            val j = (p / 5).toInt
            val k = (p % 5).toInt
            if (k == 0) smp(j) * 5L
            else smp(j).toLong * (5 - k) + smp(j + 1).toLong * k
          }
          val lastWin = math.floorDiv(nOut - 1, W)
          (0 to lastWin).iterator.map { w =>
            val end = math.min(nOut, (w + 1) * W)
            var i = w * W
            var energy = 0L
            var peak = 0L
            while (i < end) {
              val v = out(i)
              energy += v * v
              if (math.abs(v) > peak) peak = math.abs(v)
              i += 1
            }
            Row(row.getLong(0), w, end - w * W, energy, peak.toInt)
          }
        }
      }
    }(Encoders.row(resampleSchema))
  }

  /** M16: energy-based voice-activity segmentation over the REAL WAV
    * lake — the VAD pass a speech-training pipeline runs before ASR
    * transcription or TTS clip extraction (silence-trim + utterance
    * split). Built ON the m4 window table (the same decode, the same
    * per-64-sample energy/peak features — one kernel, two operators):
    * a window is VOICED when its energy density exceeds the clip's
    * mean density, compared in pure integer cross-multiplication
    * (`energy · n_tot > e_tot · n_samples` — no FP, so both engines
    * agree exactly), and maximal runs of consecutive voiced windows
    * become segments via the islands trick (window_idx − row_number,
    * the w3 sessionize shape). Scale: the density baseline is one
    * map-side-combinable aggregate per doc; the islands window
    * partitions by doc_id with bounded groups (windows ∝ clip
    * duration) — nothing global, shuffles only on the doc key.
    * Oracle: the shared m4 window CTEs ([[m4WindowOracleCtes]] —
    * feature definitions cannot drift) + the same integer VAD SQL. */
  private def audioVad(spark: SparkSession, sfDir: String): DataFrame = {
    Sql.bound(spark,
      s"""WITH tot AS (SELECT doc_id, CAST(sum(energy) AS BIGINT) AS e_tot,
         |    CAST(sum(n_samples) AS BIGINT) AS n_tot
         |  FROM win GROUP BY doc_id),
         |v AS (SELECT w.doc_id, window_idx, energy, peak
         |  FROM win w JOIN tot ON tot.doc_id = w.doc_id
         |  WHERE energy * n_tot > e_tot * n_samples),
         |g AS (SELECT doc_id, window_idx, energy, peak,
         |    window_idx - row_number() OVER (PARTITION BY doc_id
         |      ORDER BY window_idx) AS grp
         |  FROM v)
         |SELECT doc_id, CAST(min(window_idx) AS INT) AS seg_start,
         |  CAST(count(*) AS INT) AS n_windows,
         |  CAST(sum(energy) AS BIGINT) AS seg_energy,
         |  CAST(max(peak) AS INT) AS seg_peak
         |FROM g GROUP BY doc_id, grp""".stripMargin,
      "win" -> audioEnergy(spark, sfDir))
  }

  /** THE audio fingerprint, shared with the streaming gate
    * ([[graft.streaming.AudioDedupStream]] — the phashOf precedent):
    * decode the WAV, split the sample stream into 32 EQUAL segments
    * (a 32-bin energy profile — every clip contributes 32 distinct
    * bins regardless of duration; the m4 64-sample windowing gives
    * short clips only a handful of windows, and both the above-mean
    * and sampled-window variants measured DEGENERATE — 34k/41k pairs
    * from 500 docs), bit i set when `e(i) > e((i+1) mod 32)` (the
    * dHash adjacent-comparison form). */
  private[graft] def afpOf(media: Array[Byte]): Long = {
    val smp = Wav.decode(media).samples
    val n = smp.length
    val se = Array.tabulate(32) { i =>
      var p = i * n / 32
      val hi = (i + 1) * n / 32
      var e = 0L
      while (p < hi) { e += smp(p).toLong * smp(p); p += 1 }
      e
    }
    var h = 0L
    var i = 0
    while (i < 32) {
      if (se(i) > se((i + 1) % 32)) h |= (1L << i)
      i += 1
    }
    h
  }

  /** M10: AUDIO fingerprint near-dup pairs — the m5 move on the WAV
    * lake (dedupe audio clips before training, the speech-corpus
    * curation step): [[afpOf]] per clip from the PERSISTED sidecar
    * ([[MediaLake.ensureAfps]] — one decode pass per lake version),
    * pairs by Hamming ≤ 3 through the m5 4-band pigeonhole join —
    * one bounded band shuffle over a FileScan. The oracle replays
    * the profile from the text formula ([[MediaLake.pcmSamples]])
    * in closed form. */
  private def audioFingerprintPairs(spark: SparkSession, sfDir: String): DataFrame = {
    Sql.bound(spark,
      s"""WITH b AS (SELECT doc_id, afp, k, (afp >> (8 * k)) & 255 AS bv
         |  FROM afps LATERAL VIEW explode(sequence(0, 3)) t AS k),
         |cand AS (SELECT DISTINCT a.doc_id AS i, a.afp AS ha,
         |    b2.doc_id AS j, b2.afp AS hb
         |  FROM b a JOIN b b2 ON a.k = b2.k AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
         |SELECT i AS doc_id_a, j AS doc_id_b, bit_count(ha ^ hb) AS hamming
         |FROM cand WHERE bit_count(ha ^ hb) <= 3""".stripMargin,
      "afps" -> spark.read.parquet(MediaLake.ensureAfps(spark, sfDir)))
  }

  private val cutSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("keyframe_idx", IntegerType),
    StructField("frame_sum", LongType),
    StructField("delta", LongType)))

  /** M11: scene-cut detection + keyframe selection over the REAL AVI
    * lake — the frame-sampling curation step a vision-language
    * pipeline runs BEFORE captioning (keep one frame per scene, not
    * one per k): frame k is a keyframe when it opens the clip or when
    * its pixel-sum jump from frame k−1 exceeds the cut threshold (a
    * mean jump of 8 gray levels over the 8×8 frame). A narrow map —
    * decode, per-frame sums, adjacent deltas inside the row; fan-out
    * ≤ frames per doc. The oracle replays the frame formula and takes
    * the delta with a per-doc `lag` window. */
  private def sceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensureVideo(spark, sfDir))
    val threshold = 512L // 8 gray levels × 64 px
    media.flatMap { row =>
      val v = Avi.decode(row.getAs[Array[Byte]]("media"))
      val sums = v.frames.map { f =>
        var s = 0L
        var p = 0
        while (p < f.length) { s += f(p); p += 1 }
        s
      }
      sums.indices.collect {
        case k if k == 0 || math.abs(sums(k) - sums(k - 1)) > threshold =>
          Row(row.getAs[Long]("doc_id"), k, sums(k),
            if (k == 0) 0L else sums(k) - sums(k - 1))
      }
    }(Encoders.row(cutSchema))
  }

  private val frameHashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("fh_lo", LongType),
    StructField("fh_hi", LongType)))

  /** M15: cross-video FRAME near-dup — reused-footage detection (the
    * video curation twin of m5: a clip lifted into another video is
    * caught frame-against-frame, not container-against-container).
    * Per decoded frame, a 64-bit aHash over the 8×8 pixels — bit p
    * set when `pixel·64 > Σframe` (the exact-integer "above the
    * frame mean") — packed as TWO 32-bit words (`fh_lo`/`fh_hi`, the
    * e17 convention: both dialects stay inside non-negative BIGINT
    * shift arithmetic). CONSTANT frames hash to (0,0) — no pixel
    * strictly above the mean — carry no perceptual signal, and every
    * pair of them would collide into one quadratic bucket, so both
    * engines drop them (the black-slate exclusion real pipelines
    * apply).
    *
    * Candidate generation is the HALF-EXACT + 1-BIT-FLIP multi-index
    * (the Manku/Jain/Sarma WWW'07 simhash-dedup table scheme, d = 3,
    * two tables): a pair at Hamming ≤ 3 splits its errors across the
    * two 32-bit halves, so ONE half carries ≤ 1 error — the smaller
    * hash indexes under its exact halves (2 rows), the larger probes
    * under each half plus all 32 single-bit flips (66 rows), and
    * candidates join on the (side, 32-bit key) equality. Every
    * alternative was MEASURED at sf0.1 (63 392 frames / 48 660
    * distinct hashes) and loses to skew: the m5/d6 single-level band
    * join Σ bucket² = 170M candidates over distinct hashes, and the
    * band × sub-band two-level pigeonhole still 29.4M with 75% of it
    * in 16 hot all-ones buckets (near-saturated bright frames, ~1 650
    * members each — the symmetric twin of the excluded black slate)
    * — 17 s in the bucket join. 32-bit keys make collisions ≈ true
    * near-dups by construction: max half multiplicity 564,
    * Σ multiplicity² ≈ 1.4M/side, candidate volume ~2M (15×
    * less), no hot key — and at 100 TB the candidate mass stays
    * proportional to the true-duplicate mass rather than to the
    * square of the brightest-cluster size. (1) frames group to
    * their distinct hash (63k → 49k; exact-dup frames ride the
    * group); (2) the indexed half-join yields verified hash pairs;
    * (3) pairs (plus each hash's self-pair, for exact-dup frames
    * across videos) map back to frames by two equality joins on the
    * hash — well-distributed keys, bounded group sizes. Oracle
    * replays the writer's closed-form frame formula (the m2 layout)
    * and brute-forces the pair scan. */
  /** Just the per-frame hash table (decode + aHash + localCheckpoint),
    * WITHOUT the hamming candidate join — m22's set-overlap pairing
    * needs only exact hash equality, so it must not pay for m15's
    * multi-index probe materialization. */
  private[multimodal] def frameHashes(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensureVideo(spark, sfDir))
    val hashes = media.flatMap { row =>
      val v = Avi.decode(row.getAs[Array[Byte]]("media"))
      v.frames.indices.flatMap { k =>
        val f = v.frames(k)
        var s = 0L
        var p = 0
        while (p < f.length) { s += f(p); p += 1 }
        var lo = 0L
        var hi = 0L
        p = 0
        while (p < f.length && p < 64) {
          if (f(p) * 64L > s) {
            if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
          }
          p += 1
        }
        if (lo == 0L && hi == 0L) None
        else Some(Row(row.getAs[Long]("doc_id"), k, lo, hi))
      }
    }(Encoders.row(frameHashSchema))
    // the hash table is consumed from multiple places (dh, both sides
    // of the frame mapping, m22's set pairing) — materialize the
    // decode once (the d4/d7 localCheckpoint pattern) instead of
    // re-decoding the video lake per consumer
    hashes.localCheckpoint()
  }

  /** Builds the two checkpointed m15 intermediates: the per-frame
    * hash table (`doc_id, frame_idx, fh_lo, fh_hi`; constant frames
    * excluded) and the verified hash-pair table (`la, ha, lb, hb,
    * hamming`, ordered). SHARED by m15 (pair enumeration) and m21
    * (cluster labeling) so the hash and candidate definitions cannot
    * drift between the two answers. */
  private def framePairs(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val fh = frameHashes(spark, sfDir)
    // the candidate join is the expensive stage (≈2M half-key probes
    // at sf0.1 for a ~119k-hash-pair answer) — materialize its
    // ORDERED output once and derive the symmetric closure from the
    // checkpoint; a plain UNION ALL of two hp readings would REPLAY
    // the join per branch (no subtree sharing — measured 2×), and a
    // symmetric join condition doubles the probe expansion instead
    val hp = Sql.bound(spark,
      s"""WITH dh AS (SELECT /*+ REPARTITION(${spark.sparkContext.defaultParallelism}) */ DISTINCT fh_lo, fh_hi FROM fh),
         |-- the REPARTITION(s, k) hints pre-partition BOTH join inputs
         |-- on the join key at the configured shuffle parallelism: the
         |-- distinct-hash table is tiny (49k rows ≈ 1 MB), so without
         |-- them AQE coalesces the join's exchanges to 1-3 partitions
         |-- and the ~5M-probe expansion runs on as many threads (the
         |-- classic small-input-huge-fanout AQE trap — measured 7.4 s
         |-- vs 2.5 s pinned; 12.6 s single-task on the first design).
         |-- dh itself carries an EXPLICIT-count ROUND-ROBIN repartition
         |-- (r16): the 33-variant probe expansion runs in the map stage
         |-- ABOVE dh, and without it that stage reads the distinct's
         |-- AQE-coalesced output (~0.8 MB < the 1 MB min-partition
         |-- floor) as ONE task (measured 1.7 s single-task expansion).
         |-- Round-robin, because a same-key hash repartition is elided
         |-- as redundant over the distinct's own partitioning
         |ix AS (SELECT /*+ REPARTITION(s, k) */ fh_lo, fh_hi, s,
         |    CASE s WHEN 0 THEN fh_lo ELSE fh_hi END AS k
         |  FROM dh LATERAL VIEW explode(sequence(0, 1)) t1 AS s),
         |-- f = 32 is the exact-key probe; f < 32 flips bit f of the
         |-- probing half. The smaller hash of a pair always indexes
         |-- (ix), the larger always probes (qe), so each qualifying
         |-- pair is found by the ordered join at least once.
         |qe AS (SELECT /*+ REPARTITION(s, k) */ fh_lo, fh_hi, s,
         |    CASE WHEN f = 32 THEN h
         |         ELSE h ^ shiftleft(CAST(1 AS BIGINT), f) END AS k
         |  FROM (SELECT fh_lo, fh_hi, s,
         |      CASE s WHEN 0 THEN fh_lo ELSE fh_hi END AS h
         |    FROM dh LATERAL VIEW explode(sequence(0, 1)) t1 AS s) hx
         |  LATERAL VIEW explode(sequence(0, 32)) t2 AS f)
         |SELECT DISTINCT a.fh_lo AS la, a.fh_hi AS ha,
         |    b.fh_lo AS lb, b.fh_hi AS hb,
         |    CAST(bit_count(a.fh_lo ^ b.fh_lo)
         |      + bit_count(a.fh_hi ^ b.fh_hi) AS INT) AS hamming
         |  FROM ix a JOIN qe b
         |    ON a.s = b.s AND a.k = b.k
         |    AND (a.fh_lo < b.fh_lo
         |      OR (a.fh_lo = b.fh_lo AND a.fh_hi < b.fh_hi))
         |  WHERE bit_count(a.fh_lo ^ b.fh_lo) + bit_count(a.fh_hi ^ b.fh_hi) <= 3""".stripMargin,
      "fh" -> fh).localCheckpoint()
    (fh, hp)
  }

  /** M22: VIDEO-level near-dup pairs — the container-level curation
    * answer above m15's frame pairs (is this whole video a re-upload /
    * re-cut of another?): each video is its set of DISTINCT frame
    * aHashes, pair similarity is exact set Jaccard, pairs at >= 0.2
    * ship. Candidates come from a posting-list join on the frame hash
    * (the d4 shape: only videos sharing at least one frame ever meet
    * — never all-pairs), with an IDF-style df cap: hashes present in
    * > 64 videos (stock footage, test cards) are dropped from BOTH
    * the intersection and the set sizes, which bounds every posting
    * list — Σ per-hash pair fan-out <= 64·|frames| at any corpus
    * size — and is the standard non-discriminative-feature cut. The
    * oracle replays the frame formula closed-form and mirrors the df
    * cap on the text side. */
  private def videoDedup(spark: SparkSession, sfDir: String): DataFrame = {
    Sql.bound(spark,
      s"""WITH vs0 AS (SELECT DISTINCT doc_id, fh_lo, fh_hi FROM fh),
         |df AS (SELECT fh_lo, fh_hi, count(*) AS d FROM vs0 GROUP BY fh_lo, fh_hi),
         |vs AS (SELECT vs0.doc_id, vs0.fh_lo, vs0.fh_hi FROM vs0
         |  JOIN df ON df.fh_lo = vs0.fh_lo AND df.fh_hi = vs0.fh_hi
         |  WHERE df.d <= 64),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM vs GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, CAST(count(*) AS BIGINT) AS shared
         |  FROM vs a JOIN vs b
         |    ON a.fh_lo = b.fh_lo AND a.fh_hi = b.fh_hi AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT pr.i AS doc_id_a, pr.j AS doc_id_b, pr.shared,
         |  sa.n AS n_a, sb.n AS n_b,
         |  CAST(pr.shared AS DOUBLE) / (sa.n + sb.n - pr.shared) AS jaccard
         |FROM pr JOIN sz sa ON sa.doc_id = pr.i JOIN sz sb ON sb.doc_id = pr.j
         |WHERE CAST(pr.shared AS DOUBLE) / (sa.n + sb.n - pr.shared) >= 0.2""".stripMargin,
      "fh" -> frameHashes(spark, sfDir))
  }

  private def frameDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val (fh, hp) = framePairs(spark, sfDir)
    Sql.bound(spark,
      s"""WITH hs2 AS (SELECT la, ha, lb, hb, hamming FROM hp
         |  UNION ALL SELECT lb, hb, la, ha, hamming FROM hp
         |  UNION ALL SELECT fh_lo, fh_hi, fh_lo, fh_hi, 0
         |    FROM (SELECT DISTINCT fh_lo, fh_hi FROM fh))
         |SELECT x.doc_id AS doc_id_a, x.frame_idx AS frame_a,
         |  y.doc_id AS doc_id_b, y.frame_idx AS frame_b, hs2.hamming
         |FROM fh x JOIN hs2 ON x.fh_lo = hs2.la AND x.fh_hi = hs2.ha
         |JOIN fh y ON y.fh_lo = hs2.lb AND y.fh_hi = hs2.hb
         |WHERE x.doc_id < y.doc_id""".stripMargin,
      "fh" -> fh, "hp" -> hp)
  }

  /** M21: frame duplicate CLUSTERS — the production answer shape to
    * m15's pair enumeration. The 100× probe showed WHY this operator
    * exists: with saturated duplicate groups (reused footage — here
    * the scaled corpus's replica frames), the TRUE pair answer grows
    * as the square of group size (142.6M pairs at 10×, 13.8B at
    * 100×), so any pair-stream consumer is output-bound no matter
    * how fast the engine is; a viral clip reposted a million times
    * is 10¹² pairs. Production dedup therefore labels each frame
    * with its duplicate-CLUSTER representative (one row per frame —
    * LINEAR output) and keeps one exemplar per cluster downstream.
    * Clusters are connected components of the verified hash-pair
    * graph (Hamming ≤ 3 edges between distinct hashes; exact-dup
    * frames share a hash node by construction), labeled by the
    * shared min-label kernel ([[graft.GraphOps.ccMinLabel]] — d7's
    * pointer-jumping machinery, node id = the packed 64-bit hash).
    * Scale shape: the hash/pair machinery is m15's ([[framePairs]]
    * — one shared build); CC runs over DISTINCT HASHES (≪ frames),
    * and the frame mapping is one equality join on the hash.
    * Oracle: the m15 hash replay + brute-force hash pairs + a
    * recursive-CTE transitive closure — d7's different-algorithm-
    * same-fixed-point check, applied to frames. */
  private def frameClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val (fh, hp) = framePairs(spark, sfDir)
    val edges = hp.selectExpr("shiftleft(la, 32) | ha AS a", "shiftleft(lb, 32) | hb AS b")
      .unionAll(hp.selectExpr("shiftleft(lb, 32) | hb AS a", "shiftleft(la, 32) | ha AS b"))
    val nodes = fh.selectExpr("shiftleft(fh_lo, 32) | fh_hi AS id").distinct()
    // checkpoint the labels: the cluster-size rewrite below references
    // the frame↔label join TWICE (rows + per-cluster counts), and an
    // unpinned label plan would re-run the whole CC build per reference
    val labels = graft.CkptUtil.fresh(
      graft.GraphOps.ccMinLabelAuto(spark, edges, nodes))
    // cluster_size via groupBy + join, NOT `count(*) OVER (PARTITION BY
    // cluster_id)`: a window funnels every row of a cluster into ONE
    // task — the mega-cluster scenario is exactly the one this operator
    // exists for (a viral clip reposted a million times), and AQE
    // splits join skew but never window skew. The groupBy aggregates
    // with combinable partials (map-side combine), and the join back
    // is AQE-skew-splittable — same answer, no single-task cluster.
    Sql.bound(spark,
      """WITH f AS (SELECT v.doc_id, v.frame_idx, l.lbl AS cluster_id
        |  FROM fh v JOIN labels l ON l.id = shiftleft(v.fh_lo, 32) | v.fh_hi),
        |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM f GROUP BY cluster_id)
        |SELECT f.doc_id, f.frame_idx, f.cluster_id, cs.cluster_size
        |FROM f JOIN cs ON cs.cluster_id = f.cluster_id""".stripMargin,
      "fh" -> fh, "labels" -> labels)
  }

  /** M5: perceptual-hash media dedup — the cross-modal twin of the
    * text near-dup family (d5/d6). An aHash over REAL decoded pixels:
    * sample 32 pixels `g(i) = gray[(i·npx)/32]` from the PNG's
    * inflate+unfiltered gray stream, bit i set when `g(i)·32 > Σg`
    * (the integer form of "above the mean" — exact in both engines),
    * then near-dup pairs by Hamming ≤ 3 via the pigeonhole band join
    * (4 bands of 8 bits: 4 mismatches would need 4 differing bands).
    * The hash→band→pair machinery is the production shape (one
    * bounded band shuffle, never n²). */
  private def phashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // hashes come from the PERSISTED ingest sidecar
    // ([[MediaLake.ensurePhashes]] — the tower/e11 pattern): the band
    // self-join FileScans parquet on both sides; no decode, no
    // checkpoint, at any corpus size one bounded band shuffle.
    Sql.bound(spark,
      s"""WITH b AS (SELECT doc_id, phash, k, (phash >> (8 * k)) & 255 AS bv
         |  FROM phashes LATERAL VIEW explode(sequence(0, 3)) t AS k),
         |cand AS (SELECT DISTINCT a.doc_id AS i, a.phash AS ha,
         |    b2.doc_id AS j, b2.phash AS hb
         |  FROM b a JOIN b b2 ON a.k = b2.k AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
         |SELECT i AS doc_id_a, j AS doc_id_b, bit_count(ha ^ hb) AS hamming
         |FROM cand WHERE bit_count(ha ^ hb) <= 3""".stripMargin,
      "phashes" -> spark.read.parquet(MediaLake.ensurePhashes(spark, sfDir)))
  }

  /** M6: multi-signal near-dup candidates — the curation move big
    * paired-dataset pipelines make (an image pair can be caught by a
    * pixel-level perceptual hash OR by embedding similarity; the
    * release pipeline records WHICH signal fired so thresholds can be
    * audited per signal). Media item ↔ embedding linked by id (the
    * paired-dataset contract: row i's media has embedding i). The
    * pair list is the FULL OUTER union of m5's phash-Hamming pairs
    * and an e4-shaped LSH-bucketed cosine pair set, with one 0/1 flag
    * per signal. Scale shape: both generators are bucketed band joins
    * (never n²) and the union is one shuffle on the pair key. */
  private def multiSignalPairs(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val ph = phashPairs(spark, sfDir).select(col("doc_id_a"), col("doc_id_b"))
    // THE e4 pipeline, reused — same machinery, same auto-sized band
    // width (a pinned width is the superlinear scale failure e4's
    // knob exists to prevent; at fixture sizes auto = the pinned 6
    // bits, so the oracle's exact pair scan keeps matching)
    val n = spark.table("embeddings").count()
    val cos = graft.simsearch.SimQueries
      .e4Banded(spark, sfDir, graft.simsearch.SimQueries.e4AutoBits(n))
      .select(col("vec_id_a").as("doc_id_a"), col("vec_id_b").as("doc_id_b"))
    mergeSignals(ph, cos)
  }

  /** The signal merge — one row per pair, a 0/1 flag per signal.
    * Factored out so the BOTH-signals merge path has a direct spec
    * (the oracle fixtures' two signal sets happen to be disjoint, so
    * end-to-end correctness alone would never exercise it). */
  private[multimodal] def mergeSignals(ph: DataFrame, cos: DataFrame): DataFrame =
    ph.withColumn("sig_phash", lit(1))
      .join(cos.withColumn("sig_cosine", lit(1)),
        Seq("doc_id_a", "doc_id_b"), "full_outer")
      .na.fill(0, Seq("sig_phash", "sig_cosine"))
      .select(col("doc_id_a"), col("doc_id_b"),
        col("sig_phash"), col("sig_cosine"))

  /** M7: text↔image joint-embedding alignment — the CLIP-shaped
    * paired-curation step (Radford et al. 2021's data shape: row i's
    * text and row i's image are a CLAIMED pair; curation scores the
    * claim by cosine between the two towers' embeddings and keeps
    * aligned pairs). The image tower here is an 8-block mean-pixel
    * embedding computed from the REAL decoded PNG; the text tower is
    * the embeddings table's vector (first 8 dims, cast to double).
    * Scale shape: the image embedding rides the (one-time) lake scan
    * + decode kernel; the pairing is ONE equality join on the id —
    * co-partitionable at 100 TB — and the cosine is the fused
    * `vec_dot` codegen kernel, index-ordered so the DuckDB oracle's
    * `list_reduce` mirrors it exactly. */
  /** The image TOWER, shared by m7 (pair scoring) and m9 (retrieval):
    * the 8-block mean-pixel embedding read back from the PERSISTED
    * ingest sidecar ([[MediaLake.ensureTower]] — the e11 pattern).
    * Serving queries FileScan the tower; the corpus-wide decode ran
    * once at ingest, not per query. */
  private def imgTower(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(MediaLake.ensureTower(spark, sfDir))

  private def clipAlign(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    Sql.bound(spark,
      s"""WITH t AS (SELECT vec_id,
         |    CAST(slice(embedding, 1, 8) AS ARRAY<DOUBLE>) AS txt FROM embeddings),
         |j AS (SELECT i.doc_id,
         |    vec_dot(i.img, t.txt)
         |      / (sqrt(vec_dot(i.img, i.img)) * sqrt(vec_dot(t.txt, t.txt))) AS cosine
         |  FROM tower i JOIN t ON i.doc_id = t.vec_id)
         |SELECT doc_id, cosine, CAST(cosine >= 0 AS INT) AS aligned FROM j""".stripMargin,
      "tower" -> imgTower(spark, sfDir))
  }

  /** m17's keep threshold — the LAION move (Schuhmann et al. 2021
    * kept image-text pairs at CLIP cosine ≥ 0.3; the working value is
    * corpus-dependent). 0.1 keeps ~39% of this fixture — both sides
    * of the cut are populated, so the accounting is non-vacuous.
    * Shared with the ingestion-time gate
    * ([[graft.streaming.ClipFilterStream]]) so batch and stream
    * verdicts cannot drift. */
  private[graft] val ClipKeepCosineD = 0.1
  private val ClipKeepCosine = ClipKeepCosineD.toString

  /** The image-tower kernel as one callable: decode (format-
    * dispatched) → 8-block mean embedding — THE definition, used by
    * the sidecar build ([[MediaLake.ensureTower]]) and the streaming
    * gate, so an incoming row is embedded exactly as the persisted
    * corpus was. */
  private[graft] def imgEmbeddingOf(fmt: String,
                                    media: Array[Byte]): Array[Double] = {
    val (_, _, gray) = decodeGray(fmt, media)
    MediaLake.imgEmbedding(gray)
  }

  /** M17: CLIP-score curation — the LAION-style filter pass on the
    * m7 alignment scores: bucket every claimed pair by its cosine
    * (floor(cos·20) — the 0.05-wide histogram a threshold sweep
    * reads), apply the keep threshold, and emit the per-bucket
    * accounting (pair count, kept count, micro-quantized score mass)
    * that decides where the knob should sit before committing a
    * multi-week crawl re-render. Cross-engine: both engines compute
    * the identical IEEE cosine (index-ordered folds), so floor and
    * the threshold compare agree exactly; the per-bucket score sum
    * quantizes each cosine ONCE to integer micro-units (t13's trick)
    * so the BIGINT sum is order-independent. Scale shape: rides the
    * persisted tower sidecar + one co-partitionable id join (m7's
    * contract), then ONE combinable groupBy over ≤ 40 buckets. */
  private def clipFilter(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    Sql.bound(spark,
      s"""WITH t AS (SELECT vec_id,
         |    CAST(slice(embedding, 1, 8) AS ARRAY<DOUBLE>) AS txt FROM embeddings),
         |j AS (SELECT i.doc_id,
         |    vec_dot(i.img, t.txt)
         |      / (sqrt(vec_dot(i.img, i.img)) * sqrt(vec_dot(t.txt, t.txt))) AS cosine
         |  FROM tower i JOIN t ON i.doc_id = t.vec_id),
         |b AS (SELECT doc_id, cosine,
         |    CAST(floor(cosine * 20.0) AS INT) AS bucket,
         |    CASE WHEN cosine >= $ClipKeepCosine THEN 1 ELSE 0 END AS kept
         |  FROM j)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  min(doc_id) AS min_doc_id,
         |  CAST(sum(CAST(round(cosine * 1000000.0) AS BIGINT)) AS BIGINT) AS cos_u_sum
         |FROM b GROUP BY bucket""".stripMargin,
      "tower" -> imgTower(spark, sfDir))
  }

  /** M19: training-clip assembly over the REAL video lake — the
    * temporal-sampling step a video-model pipeline runs after frame
    * extraction (sample frames, then group fixed-length clips; only
    * FULL clips ship, because the training batch is fixed-shape).
    * Built ON the m2 frame table (the m16-over-m4 pattern — one
    * decode kernel, two operators): m2's every-4th-frame samples
    * group into non-overlapping 4-frame clips in sample order
    * (`frame_idx div 16` — 4 sampled frames span 16 source frames),
    * each clip carrying its exact integer pixel-sum mass and ms time
    * span; HAVING count(*) = 4 drops ragged tails. Scale shape: one
    * combinable groupBy keyed on (doc, clip) over the narrow frame
    * map — videos too short for a full clip cost nothing downstream.
    * Oracle: the m2 frame replay as a subquery + the same grouping,
    * so the clip definition cannot drift from the frame definition. */
  private def clipSample(spark: SparkSession, sfDir: String): DataFrame = {
    Sql.bound(spark,
      s"""SELECT doc_id, CAST(frame_idx DIV 16 AS INT) AS clip_idx,
         |  CAST(count(*) AS INT) AS n_frames,
         |  CAST(sum(frame_sum) AS BIGINT) AS clip_sum,
         |  min(ts_ms) AS ts_start, max(ts_ms) AS ts_end
         |FROM frames GROUP BY doc_id, frame_idx DIV 16
         |HAVING count(*) = 4""".stripMargin,
      "frames" -> frameSample(spark, sfDir))
  }

  private val metaSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("meta_key", StringType),
    StructField("meta_value", StringType)))

  /** M8: in-container metadata extraction — the EXIF-shaped move: a
    * curation pipeline reads provenance (title/language/source) from
    * the container's OWN metadata chunks without decoding pixels.
    * The kernel walks the real PNG's chunk stream
    * ([[graft.raster.Png.textChunks]], CRC-verified) and explodes
    * tEXt entries to typed rows; the oracle replays the values the
    * lake wrote from the documents table. Scale shape: one narrow
    * scan — the chunk walk stops caring about IDAT bytes, so the
    * per-row cost is the header region, not the image. */
  private def mediaMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    val media = spark.read.parquet(MediaLake.ensure(spark, sfDir))
    media.mapPartitions { it =>
      it.flatMap { row =>
        val id = row.getLong(0)
        val media = row.getAs[Array[Byte]]("media")
        val kvs =
          if (row.getString(1) == "jpg") graft.raster.Jpeg.comments(media)
          else graft.raster.Png.textChunks(media)
        kvs.iterator.map { case (k, v) => Row(id, k, v) }
      }
    }(Encoders.row(metaSchema))
  }

  /** M9: cross-modal retrieval — the other half of the CLIP data
    * story: a TEXT query embedding retrieves the top-5 IMAGES by
    * cosine over the image tower (m7 scores CLAIMED pairs; this
    * searches). Exact brute-force top-k — e1's baseline contract;
    * the at-scale serving path is the e3/e11 IVF machinery applied
    * to the image-tower vectors unchanged. Scale shape: 5 query
    * vectors broadcast against one image-tower scan (which rides the
    * decoded lake), per-query top-k in a 5-partition window. */
  private def clipRetrieve(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    Sql.bound(spark,
      s"""WITH q AS (SELECT vec_id AS qid,
         |    CAST(slice(embedding, 1, 8) AS ARRAY<DOUBLE>) AS txt
         |  FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, i.doc_id,
         |    vec_dot(q.txt, i.img)
         |      / (sqrt(vec_dot(q.txt, q.txt)) * sqrt(vec_dot(i.img, i.img))) AS cosine
         |  FROM q CROSS JOIN tower i)
         |SELECT qid AS query_id, doc_id AS image_id, cosine, rnk
         |FROM (SELECT qid, doc_id, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS INT) AS rnk FROM s) t
         |WHERE rnk <= 5""".stripMargin,
      "tower" -> imgTower(spark, sfDir))
  }

  /** M12: multimodal batch assembly — the VLM training-batch planning
    * step (each paired example costs text tokens PLUS vision patch
    * tokens ⌈w/14⌉×⌈h/14⌉ — the ViT-patch grid of the REAL container
    * dims — and examples concat-and-chunk into fixed-budget packs in
    * doc order). Dims come from the m3 header-only read
    * (format-dispatched, O(header) per row — planning never inflates
    * pixels); the packing is the t8 distributed prefix sum
    * ([[graft.textops.TextQueries.packByPrefix]] — two passes, one
    * long of driver state per partition, never a global sort). The
    * oracle replays the dims from the lake formulas and the chunking
    * with a window cumsum. */
  private def batchPack(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val lake = spark.read.parquet(MediaLake.ensure(spark, sfDir))
    val patchSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("patches", IntegerType)))
    val patches = lake.mapPartitions { it =>
      it.map { row =>
        val media = row.getAs[Array[Byte]]("media")
        val (w, h) =
          if (row.getString(1) == "jpg") graft.raster.Jpeg.headerDims(media)
          else graft.raster.Png.headerDims(media)
        Row(row.getLong(0), ((w + 13) / 14) * ((h + 13) / 14))
      }
    }(Encoders.row(patchSchema))
    val budgeted = Sql.bound(spark,
      s"""SELECT d.doc_id, CAST(size(split(d.text, ' ')) AS INT) AS n_text,
         |  p.patches,
         |  CAST(size(split(d.text, ' ')) + p.patches AS INT) AS n_tokens
         |FROM documents d
         |JOIN patch p
         |  ON p.doc_id = d.doc_id""".stripMargin,
      "patch" -> patches)
    graft.textops.TextQueries.packByPrefix(spark, budgeted, M12Budget)
  }

  private val M12Budget = 4096L

  private[graft] val m12Oracle: String =
    s"""WITH d AS (SELECT doc_id, len(string_split(text, ' '))::INT AS n_text,
       |    CASE WHEN doc_id % 4 = 3 THEN 8 * (2 + len(text) % 3)
       |         ELSE 16 + len(text) % 16 END AS w,
       |    CASE WHEN doc_id % 4 = 3 THEN 8 * (2 + doc_id % 3)
       |         ELSE 16 + doc_id % 16 END AS hh
       |  FROM documents WHERE len(text) > 0),
       |p AS (SELECT doc_id, n_text,
       |    (((w + 13) // 14) * ((hh + 13) // 14))::INT AS patches FROM d),
       |t AS (SELECT doc_id, n_text, patches,
       |    (n_text + patches)::INT AS n_tokens FROM p),
       |c AS (SELECT doc_id, n_text, patches, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT doc_id, n_text, patches, n_tokens,
       |  CAST(cum_before // $M12Budget AS BIGINT) AS pack_id,
       |  CAST(cum_before % $M12Budget AS BIGINT) AS pack_offset
       |FROM c""".stripMargin

  /** M13: paired-dataset integrity audit — the pre-training sanity
    * pass every multimodal pipeline runs before a release (a claimed
    * pair whose media or embedding is missing silently breaks batch
    * assembly): per doc_id, presence across documents / embeddings /
    * the ACTUAL media lake parquet (not the formula — the audit's job
    * is to catch the artifact diverging from the contract), rolled up
    * into one row per integrity class with a count and the smallest
    * offending id (the triage pointer). Scale shape: two
    * co-partitionable id joins + one combinable aggregate. The oracle
    * replays lake membership from the ingest predicate (len > 0) —
    * equality holds exactly BECAUSE the lake honors its contract. */
  private def pairAudit(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    Sql.bound(spark,
      s"""WITH d AS (SELECT d.doc_id, m.doc_id IS NOT NULL AS has_media
         |  FROM documents d LEFT JOIN media m ON m.doc_id = d.doc_id),
         |j AS (SELECT COALESCE(d.doc_id, e.vec_id) AS id,
         |    d.doc_id IS NOT NULL AS has_doc,
         |    COALESCE(d.has_media, false) AS has_media,
         |    e.vec_id IS NOT NULL AS has_emb
         |  FROM d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id),
         |c AS (SELECT id,
         |    CASE WHEN has_doc AND has_emb AND has_media THEN 'complete'
         |         WHEN has_doc AND has_media THEN 'missing_embedding'
         |         WHEN has_doc AND has_emb THEN 'missing_media'
         |         WHEN has_doc THEN 'text_only'
         |         ELSE 'dangling_embedding' END AS class
         |  FROM j)
         |SELECT class, CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(id) AS BIGINT) AS example_id
         |FROM c GROUP BY class""".stripMargin,
      "media" -> spark.read.parquet(MediaLake.ensure(spark, sfDir)).select(col("doc_id")))
  }

  private[graft] val m13Oracle: String =
    """WITH d AS (SELECT doc_id, len(text) > 0 AS has_media FROM documents),
      |j AS (SELECT COALESCE(d.doc_id, e.vec_id) AS id,
      |    d.doc_id IS NOT NULL AS has_doc,
      |    COALESCE(d.has_media, false) AS has_media,
      |    e.vec_id IS NOT NULL AS has_emb
      |  FROM d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id),
      |c AS (SELECT id,
      |    CASE WHEN has_doc AND has_emb AND has_media THEN 'complete'
      |         WHEN has_doc AND has_media THEN 'missing_embedding'
      |         WHEN has_doc AND has_emb THEN 'missing_media'
      |         WHEN has_doc THEN 'text_only'
      |         ELSE 'dangling_embedding' END AS class
      |  FROM j)
      |SELECT class, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(id) AS BIGINT) AS example_id
      |FROM c GROUP BY class""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m13_pair_audit" -> ((s, d) => pairAudit(s, d)),
    "m12_batch_pack" -> ((s, d) => batchPack(s, d)),
    "m1_media_features" -> ((s, d) => mediaFeatures(s, d)),
    "m2_frame_sample" -> ((s, d) => frameSample(s, d)),
    "m3_resize_plan" -> ((s, d) => resizePlan(s, d)),
    "m4_audio_energy" -> ((s, d) => audioEnergy(s, d)),
    "m16_audio_vad" -> ((s, d) => audioVad(s, d)),
    "m5_phash_pairs" -> ((s, d) => phashPairs(s, d)),
    "m6_multisignal_pairs" -> ((s, d) => multiSignalPairs(s, d)),
    "m7_clip_align" -> ((s, d) => clipAlign(s, d)),
    "m8_media_metadata" -> ((s, d) => mediaMetadata(s, d)),
    "m9_clip_retrieve" -> ((s, d) => clipRetrieve(s, d)),
    "m10_audio_fingerprint" -> ((s, d) => audioFingerprintPairs(s, d)),
    "m11_scene_cuts" -> ((s, d) => sceneCuts(s, d)),
    "m14_spectrogram" -> ((s, d) => spectrogram(s, d)),
    "m15_frame_dedup" -> ((s, d) => frameDedup(s, d)),
    "m21_frame_clusters" -> ((s, d) => frameClusters(s, d)),
    "m22_video_dedup" -> ((s, d) => videoDedup(s, d)),
    "m17_clip_filter" -> ((s, d) => clipFilter(s, d)),
    "m18_audio_resample" -> ((s, d) => audioResample(s, d)),
    "m19_clip_sample" -> ((s, d) => clipSample(s, d)),
    "m20_media_filter" -> ((s, d) => mediaFilter(s, d)))

  /** The full-pixel-stream oracle CTEs (m1/m7's gray stream): emits
    * `g(doc_id, w, hh, npx, gs)` with `gs` the complete rendered
    * pixel list, replayed from the text via [[MediaLake]]'s formulas.
    * The format split is replayed here — PNG rows sample per pixel,
    * JPEG rows (doc_id ≡ 3 mod 4) are 8×8-block-constant over the
    * block grid ([[MediaLake.jpegGray]]); the JPEG container
    * round-trips those pixels bit-exactly (constant-block DC path,
    * [[graft.raster.Jpeg]] doc), which is what lets a closed-form SQL
    * replay stand in for a DCT decode. */
  private val grayOracleCtes: String =
    """m AS (SELECT doc_id, text, len(text) AS n,
      |  CASE WHEN doc_id % 4 = 3 THEN 8 * (2 + len(text) % 3)
      |       ELSE 16 + len(text) % 16 END AS w,
      |  CASE WHEN doc_id % 4 = 3 THEN 8 * (2 + doc_id % 3)
      |       ELSE 16 + doc_id % 16 END AS hh
      |  FROM documents WHERE len(text) > 0),
      |g AS (SELECT doc_id, w, hh, w * hh AS npx,
      |  CASE WHEN doc_id % 4 = 3 THEN
      |    [ascii(text[((((p//w)//8) * (w//8) + (p%w)//8) * n) // ((w//8)*(hh//8)) + 1 :
      |                ((((p//w)//8) * (w//8) + (p%w)//8) * n) // ((w//8)*(hh//8)) + 1])::BIGINT
      |     for p in generate_series(0, w*hh - 1)]
      |  ELSE
      |    [ascii(text[(p*n)//(w*hh) + 1 : (p*n)//(w*hh) + 1])::BIGINT
      |     for p in generate_series(0, w*hh - 1)]
      |  END AS gs FROM m)""".stripMargin

  /** The aHash oracle CTEs (m5's hash definition), shared by the m5
    * and m6 oracles so the two cannot drift apart. Emits `h(doc_id,
    * phash)`. Built ON TOP of [[grayOracleCtes]]' full pixel replay
    * (so the PNG/JPEG format split lives in exactly one place): the
    * 32 sampled pixels are `gs[(i·npx)/32]`, bit i set when the
    * sample exceeds the sample mean (`·32 >` the integer form). */
  private[graft] lazy val phashOracleCtes: String =
    s"""$grayOracleCtes,
      |sg AS (SELECT doc_id,
      |  [gs[(i*npx)//32 + 1] for i in generate_series(0, 31)] AS sgl FROM g),
      |h AS (SELECT doc_id,
      |  list_sum([CASE WHEN sgl[i+1] * 32 > list_sum(sgl) THEN (1::BIGINT << i) ELSE 0 END
      |            for i in generate_series(0, 31)])::BIGINT AS phash FROM sg)""".stripMargin

  /** The audio-fingerprint oracle CTEs (m10's hash definition, the
    * [[afpOf]] replay: 32-bin energy profile from the text PCM
    * formula, then the neighbor-compare dHash bitmap), SHARED by the
    * m10 oracle and the streaming audio-dedup gate's oracle so the
    * two cannot drift. Emits `h(doc_id, afp)`; empty segments
    * (n < 32) sum to 0 via coalesce. */
  private[graft] lazy val afpOracleCtes: String =
    """s AS (SELECT doc_id,
      |  [ascii(ch)::BIGINT - 64 for ch in string_split(text, '')] AS smp
      |  FROM documents WHERE len(text) > 0),
      |en AS (SELECT doc_id,
      |  [coalesce(list_sum([x*x for x in list_slice(smp, (i*len(smp))//32 + 1, ((i+1)*len(smp))//32)]), 0)::BIGINT
      |   for i in generate_series(0, 31)] AS se FROM s),
      |h AS (SELECT doc_id,
      |  list_sum([CASE WHEN se[i+1] > se[(i+1) % 32 + 1] THEN (1::BIGINT << i) ELSE 0 END
      |            for i in generate_series(0, 31)])::BIGINT AS afp FROM en)""".stripMargin

  /** The image-tower oracle CTE, shared by the m7 and m9 oracles so
    * the two replays cannot drift (the Scala side already shares
    * [[imgTower]]): 8-block mean over the replayed gray stream.
    * Expects [[grayOracleCtes]]'s `g` in scope; emits `b(doc_id,
    * img)`. */
  private val imgTowerOracleCte: String =
    """b AS (SELECT doc_id,
      |  [list_sum(list_slice(gs, j*npx//8 + 1, (j+1)*npx//8))::DOUBLE
      |     / ((j+1)*npx//8 - j*npx//8)
      |   for j in generate_series(0, 7)] AS img FROM g)""".stripMargin

  /** The header-dims replay — `d(doc_id, src_w, src_h)` from the
    * lake render formulas (PNG 16–31 px, JPEG 8·(2+…) blocks) —
    * SHARED by the m3 and m20 oracles so the dim definition cannot
    * drift between resize planning and the property filter. */
  private val dimsOracleCte: String =
    """d AS (SELECT doc_id,
      |  (CASE WHEN doc_id % 4 = 3 THEN 8 * (2 + len(text) % 3)
      |        ELSE 16 + len(text) % 16 END)::INT AS src_w,
      |  (CASE WHEN doc_id % 4 = 3 THEN 8 * (2 + doc_id % 3)
      |        ELSE 16 + doc_id % 16 END)::INT AS src_h
      |  FROM documents WHERE len(text) > 0)""".stripMargin

  /** The claimed-pair cosine chain — tower replay + text-slice +
    * per-pair cosine `jn(doc_id, cosine)` — SHARED by the m7 and m17
    * oracles (and the streaming CLIP gate's oracle,
    * [[graft.streaming.StreamingQueries]]) so the score definition
    * cannot drift between alignment scoring and threshold
    * accounting. */
  private[graft] lazy val clipPairOracleCtes: String =
    s"""$grayOracleCtes,
       |$imgTowerOracleCte,
       |t AS (SELECT vec_id, [x::DOUBLE for x in list_slice(embedding, 1, 8)] AS txt FROM embeddings),
       |jn AS (SELECT b.doc_id,
       |    list_reduce([b.img[k] * t.txt[k] for k in generate_series(1, 8)], (a,c) -> a+c)
       |      / (sqrt(list_reduce([y*y for y in b.img], (a,c) -> a+c))
       |         * sqrt(list_reduce([y*y for y in t.txt], (a,c) -> a+c))) AS cosine
       |  FROM b JOIN t ON b.doc_id = t.vec_id)""".stripMargin

  /** The m15/m21 frame-HASH replay — the writer's closed-form frame
    * formula through the aHash definition, ending at `hh(doc_id, k,
    * lo, hi)` (constant frames excluded) — SHARED by the m15 and m21
    * oracles so the hash definition cannot drift between pair
    * enumeration and cluster labeling. */
  private val m15HashOracleCtes: String =
    """m AS (SELECT doc_id, text, len(text) AS n, 1 + len(text) % 24 AS f
      |  FROM documents WHERE len(text) > 0),
      |fr AS (SELECT doc_id, text, n, f,
      |  unnest(generate_series(0, f - 1)) AS k FROM m),
      |px AS (SELECT doc_id, k,
      |  [ascii(text[((k*64 + p) * n) // (f*64) + 1 : ((k*64 + p) * n) // (f*64) + 1])::BIGINT
      |   for p in generate_series(0, 63)] AS g FROM fr),
      |s AS (SELECT doc_id, k, g, list_sum(g)::BIGINT AS fs FROM px),
      |h AS (SELECT doc_id, k,
      |  list_sum([CASE WHEN g[p+1]*64 > fs THEN (1::BIGINT << p) ELSE 0 END
      |            for p in generate_series(0, 31)])::BIGINT AS lo,
      |  list_sum([CASE WHEN g[p+33]*64 > fs THEN (1::BIGINT << p) ELSE 0 END
      |            for p in generate_series(0, 31)])::BIGINT AS hi
      |  FROM s),
      |hh AS (SELECT doc_id, k, lo, hi FROM h WHERE lo != 0 OR hi != 0)""".stripMargin

  /** The m2 frame replay — `vf(doc_id, frame_idx, frame_off, ts_ms,
    * frame_sum)` from the video writer's deterministic layout
    * (frame_off constants pinned byte-exactly in AviSpec: RIFF hdr
    * 12 + hdrl 200 + movi LIST hdr 12 + per-frame 8 + 192) — SHARED
    * by the m2 and m19 oracles so the frame definition cannot drift
    * between the sampler and the clip assembler. */
  private val m2FrameReplayCtes: String =
    """m2m AS (SELECT doc_id, text, len(text) AS n, 1 + len(text) % 24 AS f
      |  FROM documents WHERE len(text) > 0),
      |m2fr AS (SELECT doc_id, text, n, f,
      |  unnest(generate_series(0, f - 1)) AS k FROM m2m),
      |vf AS (SELECT doc_id, k::INT AS frame_idx,
      |  (232 + 200 * k)::BIGINT AS frame_off,
      |  (k * 40.0)::DOUBLE AS ts_ms,
      |  list_sum([ascii(text[((k*64 + p) * n) // (f*64) + 1 : ((k*64 + p) * n) // (f*64) + 1])::BIGINT
      |            for p in generate_series(0, 63)])::BIGINT AS frame_sum
      |FROM m2fr WHERE k % 4 = 0)""".stripMargin

  /** The m4 per-window oracle table — `winf(doc_id, window_idx,
    * n_samples, energy, peak)` replayed from the text via the
    * MediaLake closed-form sample formula (`ascii − 64`, the WAV
    * writer's PCM source) — SHARED between the m4 and m16 oracles so
    * the window feature definition cannot drift between them (the
    * m5/m6 phash-CTE convention). `list_sum` is cast `::BIGINT` at
    * the source: DuckDB types it HUGEINT, which the driver's
    * type-sensitive hash rejects (the round-9 m2 lesson). */
  /** The PCM sample replay — `s(doc_id, smp)` from the text via the
    * WAV writer's formula ([[MediaLake.pcmSamples]], `ascii − 64`) —
    * shared by the m4/m16 window CTEs and the m18 resample oracle so
    * the sample definition cannot drift. */
  private val pcmOracleCte: String =
    """s AS (SELECT doc_id,
      |  [ascii(ch)::BIGINT - 64 for ch in string_split(text, '')] AS smp
      |  FROM documents WHERE len(text) > 0)""".stripMargin

  private val m4WindowOracleCtes: String =
    s"""$pcmOracleCte,
      |w0 AS (SELECT doc_id, smp,
      |  unnest(generate_series(0, (len(smp)-1)//64)) AS win FROM s),
      |sl AS (SELECT doc_id, win,
      |  list_slice(smp, win*64 + 1, least(len(smp), (win+1)*64)) AS seg FROM w0),
      |winf AS (SELECT doc_id, win::INT AS window_idx, len(seg)::INT AS n_samples,
      |  list_sum(list_transform(seg, x -> x*x))::BIGINT AS energy,
      |  list_max(list_transform(seg, x -> abs(x)))::INT AS peak
      |FROM sl)""".stripMargin

  override def oracles: Map[String, String] = Map(
    "m14_spectrogram" -> m14Oracle,
    "m13_pair_audit" -> m13Oracle,
    "m12_batch_pack" -> m12Oracle,
    "m1_media_features" ->
      s"""WITH $grayOracleCtes
         |SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 3 THEN 'jpg' ELSE 'png' END AS fmt,
         |  w::INT AS width, hh::INT AS height,
         |  npx::BIGINT AS n_px,
         |  list_reduce(gs, (a,b) -> (a*131+b) % $P) AS checksum,
         |  list_sum(gs)::DOUBLE / npx AS mean_byte
         |FROM g""".stripMargin,
    "m8_media_metadata" ->
      """SELECT doc_id, k AS meta_key, v AS meta_value
        |FROM (SELECT doc_id,
        |  unnest(['Title', 'Language', 'Source']) AS k,
        |  unnest(['doc ' || doc_id, lang, source]) AS v
        |  FROM documents WHERE len(text) > 0)
        |WHERE v IS NOT NULL""".stripMargin,
    "m9_clip_retrieve" ->
      s"""WITH $grayOracleCtes,
         |$imgTowerOracleCte,
         |q AS (SELECT vec_id AS qid, [x::DOUBLE for x in list_slice(embedding, 1, 8)] AS txt
         |  FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, b.doc_id,
         |    list_reduce([q.txt[k] * b.img[k] for k in generate_series(1, 8)], (a,c) -> a+c)
         |      / (sqrt(list_reduce([y*y for y in q.txt], (a,c) -> a+c))
         |         * sqrt(list_reduce([y*y for y in b.img], (a,c) -> a+c))) AS cosine
         |  FROM q CROSS JOIN b)
         |SELECT qid AS query_id, doc_id AS image_id, cosine, rnk
         |FROM (SELECT qid, doc_id, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS INT) AS rnk FROM s) t
         |WHERE rnk <= 5""".stripMargin,
    "m7_clip_align" ->
      s"""WITH $clipPairOracleCtes
         |SELECT doc_id, cosine, (cosine >= 0)::INT AS aligned FROM jn""".stripMargin,
    // the pairing/cosine CTEs are SHARED with m7 (clipPairOracleCtes
    // — one cosine definition, two operators); only the bucketing
    // tail differs
    "m17_clip_filter" ->
      s"""WITH $clipPairOracleCtes,
         |bk AS (SELECT doc_id, cosine,
         |    floor(cosine * 20.0)::INT AS bucket,
         |    CASE WHEN cosine >= $ClipKeepCosine THEN 1 ELSE 0 END AS kept
         |  FROM jn)
         |SELECT bucket, count(*)::BIGINT AS n_pairs,
         |  sum(kept)::BIGINT AS n_kept,
         |  min(doc_id) AS min_doc_id,
         |  sum(CAST(round(cosine * 1000000.0) AS BIGINT))::BIGINT AS cos_u_sum
         |FROM bk GROUP BY bucket""".stripMargin,
    "m18_audio_resample" ->
      s"""WITH $pcmOracleCte,
         |o AS (SELECT doc_id, smp,
         |  unnest(generate_series(0, ((len(smp)-1)*5)//8)) AS i FROM s),
         |r AS (SELECT doc_id, i,
         |  CASE WHEN (i*8) % 5 = 0 THEN smp[(i*8)//5 + 1] * 5
         |       ELSE smp[(i*8)//5 + 1] * (5 - (i*8) % 5)
         |            + smp[(i*8)//5 + 2] * ((i*8) % 5) END AS v
         |  FROM o)
         |SELECT doc_id, (i//64)::INT AS window_idx, count(*)::INT AS n_samples,
         |  sum(v*v)::BIGINT AS energy_x25, max(abs(v))::INT AS peak_x5
         |FROM r GROUP BY doc_id, i//64""".stripMargin,
    // the frame_off constants replay the writer's deterministic
    // layout (pinned byte-exactly in AviSpec): RIFF hdr 12 + hdrl
    // chunk 200 + movi LIST hdr 12 + per-frame ('00db' hdr 8 +
    // 8×8×3 = 192 data) ⇒ frame k's data at 232 + 200·k
    "m2_frame_sample" ->
      s"""WITH $m2FrameReplayCtes
         |SELECT doc_id, frame_idx, frame_off, ts_ms, frame_sum
         |FROM vf""".stripMargin,
    // m19: the SHARED m2 frame replay + the clip grouping
    // (frame_idx div 16, full clips only) — one frame definition,
    // two operators (the m4/m16 convention)
    "m19_clip_sample" ->
      s"""WITH $m2FrameReplayCtes
         |SELECT doc_id, (frame_idx // 16)::INT AS clip_idx,
         |  count(*)::INT AS n_frames,
         |  sum(frame_sum)::BIGINT AS clip_sum,
         |  min(ts_ms) AS ts_start, max(ts_ms) AS ts_end
         |FROM vf GROUP BY doc_id, frame_idx // 16
         |HAVING count(*) = 4""".stripMargin,
    // m10: the 32-bin energy profile re-derived from the text
    // formula (segment i = samples [i·n/32, (i+1)·n/32)), then the
    // dHash bitmap and the m5 pigeonhole pair scan (exact at fixture
    // sizes). The fingerprint CTEs are the SHARED afpOracleCtes (the
    // streaming audio gate's oracle replays the same hash).
    "m10_audio_fingerprint" ->
      s"""WITH $afpOracleCtes
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  bit_count(xor(a.afp, b.afp))::INT AS hamming
        |FROM h a, h b WHERE a.doc_id < b.doc_id
        |  AND bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin,
    // m11: m2's frame-sum formula over EVERY frame, adjacent deltas
    // by a per-doc lag window, keyframes = opener or |delta| > 512
    "m11_scene_cuts" ->
      """WITH m AS (SELECT doc_id, text, len(text) AS n, 1 + len(text) % 24 AS f
        |  FROM documents WHERE len(text) > 0),
        |fr AS (SELECT doc_id, text, n, f,
        |  unnest(generate_series(0, f - 1)) AS k FROM m),
        |s AS (SELECT doc_id, k,
        |  list_sum([ascii(text[((k*64 + p) * n) // (f*64) + 1 : ((k*64 + p) * n) // (f*64) + 1])::BIGINT
        |            for p in generate_series(0, 63)])::BIGINT AS fs
        |  FROM fr),
        |d AS (SELECT doc_id, k, fs,
        |  coalesce(fs - lag(fs) OVER (PARTITION BY doc_id ORDER BY k), 0)::BIGINT AS delta
        |  FROM s)
        |SELECT doc_id, k::INT AS keyframe_idx, fs AS frame_sum,
        |  CASE WHEN k = 0 THEN 0::BIGINT ELSE delta END AS delta
        |FROM d WHERE k = 0 OR abs(delta) > 512""".stripMargin,
    // m15: m2's frame formula over EVERY frame → per-frame aHash
    // (bit p set when pixel·64 > frame sum, two 32-bit words),
    // constant frames (hash 0,0) dropped, brute-force pair scan at
    // Hamming ≤ 3 (exact vs the engine's pigeonhole join)
    "m15_frame_dedup" ->
      s"""WITH $m15HashOracleCtes
         |SELECT a.doc_id AS doc_id_a, a.k::INT AS frame_a,
         |  b.doc_id AS doc_id_b, b.k::INT AS frame_b,
         |  (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::INT AS hamming
         |FROM hh a, hh b WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""".stripMargin,
    // m21: the m15 hash replay + brute-force DISTINCT-hash pairs + a
    // recursive-CTE transitive closure (d7's different-algorithm-
    // same-fixed-point check). The node id packs (lo, hi) into one
    // BIGINT exactly as Spark's wrapping shiftleft(lo,32)|hi does —
    // DuckDB's << checks overflow, so the two's-complement wrap is
    // spelled out for lo >= 2^31
    "m21_frame_clusters" -> {
      def pk(lo: String, hi: String) =
        s"(CASE WHEN $lo >= 2147483648 THEN ($lo - 4294967296) * 4294967296" +
          s" ELSE $lo * 4294967296 END + $hi)::BIGINT"
      s"""WITH RECURSIVE $m15HashOracleCtes,
         |nd AS (SELECT DISTINCT ${pk("lo", "hi")} AS id, lo, hi FROM hh),
         |ed AS (SELECT a.id AS x, b.id AS y FROM nd a, nd b
         |  WHERE a.id != b.id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
         |reach(a, b) AS (SELECT x, y FROM ed
         |  UNION SELECT r.a, e.y FROM reach r JOIN ed e ON r.b = e.x),
         |cl AS (SELECT nd.id, least(nd.id, coalesce(min(r.b), nd.id)) AS lbl
         |  FROM nd LEFT JOIN reach r ON r.a = nd.id GROUP BY nd.id),
         |f AS (SELECT hh.doc_id, hh.k::INT AS frame_idx, cl.lbl AS cluster_id
         |  FROM hh JOIN cl ON cl.id = ${pk("hh.lo", "hh.hi")})
         |SELECT doc_id, frame_idx, cluster_id,
         |  (count(*) OVER (PARTITION BY cluster_id))::BIGINT AS cluster_size
         |FROM f""".stripMargin
    },
    // m22: the m15 hash replay → per-video DISTINCT hash sets →
    // df-capped exact set Jaccard (same SQL as the engine modulo the
    // closed-form hh source and cast spelling)
    "m22_video_dedup" ->
      s"""WITH $m15HashOracleCtes,
         |vs0 AS (SELECT DISTINCT doc_id, lo, hi FROM hh),
         |df AS (SELECT lo, hi, count(*) AS d FROM vs0 GROUP BY lo, hi),
         |vs AS (SELECT vs0.doc_id, vs0.lo, vs0.hi FROM vs0
         |  JOIN df ON df.lo = vs0.lo AND df.hi = vs0.hi WHERE df.d <= 64),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM vs GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*)::BIGINT AS shared
         |  FROM vs a JOIN vs b
         |    ON a.lo = b.lo AND a.hi = b.hi AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT pr.i AS doc_id_a, pr.j AS doc_id_b, pr.shared,
         |  sa.n AS n_a, sb.n AS n_b,
         |  pr.shared::DOUBLE / (sa.n + sb.n - pr.shared) AS jaccard
         |FROM pr JOIN sz sa ON sa.doc_id = pr.i JOIN sz sb ON sb.doc_id = pr.j
         |WHERE pr.shared::DOUBLE / (sa.n + sb.n - pr.shared) >= 0.2""".stripMargin,
    "m4_audio_energy" ->
      s"""WITH $m4WindowOracleCtes
         |SELECT doc_id, window_idx, n_samples, energy, peak
         |FROM winf""".stripMargin,
    // the VAD SQL below is the SAME text the Spark side runs (modulo
    // cast spelling); the window features enter through the shared
    // m4 CTEs so the two operators' feature definitions cannot drift
    "m16_audio_vad" ->
      s"""WITH $m4WindowOracleCtes,
         |tot AS (SELECT doc_id, sum(energy)::BIGINT AS e_tot,
         |    sum(n_samples)::BIGINT AS n_tot
         |  FROM winf GROUP BY doc_id),
         |v AS (SELECT w.doc_id, window_idx, energy, peak
         |  FROM winf w JOIN tot ON tot.doc_id = w.doc_id
         |  WHERE energy * n_tot > e_tot * n_samples),
         |g AS (SELECT doc_id, window_idx, energy, peak,
         |    window_idx - row_number() OVER (PARTITION BY doc_id
         |      ORDER BY window_idx) AS grp
         |  FROM v)
         |SELECT doc_id, min(window_idx)::INT AS seg_start,
         |  count(*)::INT AS n_windows,
         |  sum(energy)::BIGINT AS seg_energy,
         |  max(peak)::INT AS seg_peak
         |FROM g GROUP BY doc_id, grp""".stripMargin,
    "m5_phash_pairs" ->
      s"""WITH $phashOracleCtes
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  bit_count(xor(a.phash, b.phash))::INT AS hamming
         |FROM h a, h b WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin,
    // the cosine side's oracle is the exact pair scan (the e4
    // contract: the auto-sized LSH tables have full recall at the
    // fixture sizes, verified by e8/e4Recall); the phash CTEs are
    // SHARED with the m5 oracle so the hash definition cannot drift
    "m6_multisignal_pairs" ->
      s"""WITH $phashOracleCtes,
         |ph AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM h a, h b WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.phash, b.phash)) <= 3),
         |v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_reduce([y*y for y in v], (a,b) -> a+b)) AS nrm FROM v),
         |cos AS (SELECT a.vec_id AS doc_id_a, b.vec_id AS doc_id_b
         |  FROM n a, n b WHERE a.vec_id < b.vec_id
         |    AND list_reduce([a.v[k] * b.v[k] for k in generate_series(1, len(a.v))], (x,y) -> x+y)
         |        / (a.nrm * b.nrm) >= 0.4)
         |SELECT COALESCE(ph.doc_id_a, cos.doc_id_a) AS doc_id_a,
         |  COALESCE(ph.doc_id_b, cos.doc_id_b) AS doc_id_b,
         |  CASE WHEN ph.doc_id_a IS NULL THEN 0 ELSE 1 END AS sig_phash,
         |  CASE WHEN cos.doc_id_a IS NULL THEN 0 ELSE 1 END AS sig_cosine
         |FROM ph FULL OUTER JOIN cos
         |  ON ph.doc_id_a = cos.doc_id_a AND ph.doc_id_b = cos.doc_id_b""".stripMargin,
    "m3_resize_plan" ->
      s"""WITH $dimsOracleCte,
         |s AS (SELECT doc_id, src_w, src_h,
         |  224000 // greatest(src_w, src_h) AS scale_pm FROM d)
         |SELECT doc_id, src_w, src_h,
         |  (src_w * scale_pm // 1000)::INT AS dst_w,
         |  (src_h * scale_pm // 1000)::INT AS dst_h,
         |  scale_pm::BIGINT AS scale_pm
         |FROM s""".stripMargin,
    // m20: the SHARED m3 dim replay + the verdict tail
    "m20_media_filter" ->
      s"""WITH $dimsOracleCte
         |SELECT doc_id, src_w, src_h,
        |  least(src_w, src_h)::INT AS min_side,
        |  ((greatest(src_w, src_h)::BIGINT * 1000)
        |    // least(src_w, src_h))::BIGINT AS aspect_pm,
        |  (CASE WHEN least(src_w, src_h) >= 20
        |        AND (greatest(src_w, src_h)::BIGINT * 1000)
        |              // least(src_w, src_h) <= 1800
        |       THEN 1 ELSE 0 END)::INT AS kept
        |FROM d""".stripMargin)

  // ------------------------------------------------------ scale contracts
  //
  // m15/m21's full oracles brute-force all frame-hash pairs (~600k
  // frames at sf1 → 10¹¹+ comparisons: ORATIME), and m6's equality
  // oracle FAILs forever at scale by the documented LSH recall trade
  // (round-15 verdict asks #2/#3). The per-frame HASH replay stays
  // linear (m15HashOracleCtes is closed-form per document), so the
  // contracts verify: every emitted pair/label against recomputed
  // hashes (full, linear), the exact pair set around a 1-in-PinDocMod
  // document pin (sampled completeness), and for m6 the documented
  // recall floors — the phash side anchored on m5's dump (whose own
  // full oracle stays green at sf1), the cosine side on the e4_auto
  // floor it shares machinery with. Residual not covered at sf1:
  // an m21 over-merge that still satisfies the min-label property
  // (clusters joined across a non-edge); the sf0.01 full transitive-
  // closure replay keeps covering that class.

  /** 1-in-PinDocMod deterministic document pin (~100 docs at sf1). */
  private val PinDocMod = 499

  /** Packed 64-bit hash node id — Spark's wrapping
    * `shiftleft(lo,32)|hi` spelled out for DuckDB's checked `<<`. */
  private def pkSql(lo: String, hi: String): String =
    s"(CASE WHEN $lo >= 2147483648 THEN ($lo - 4294967296) * 4294967296" +
      s" ELSE $lo * 4294967296 END + $hi)::BIGINT"

  override def scaleContracts(spark: SparkSession,
                              sfDir: String): Map[String, Seq[graft.ScaleCheck]] = Map(
    "m15_frame_dedup" -> Seq(
      // every dumped pair recomputes: joins to real frames, canonical
      // orientation, hamming ≤ 3 and equal to the recomputed value,
      // no duplicate rows
      graft.ScaleCheck("pairs-verified", "exact",
        spark = s"""WITH $m15HashOracleCtes,
          |dump AS (SELECT doc_id_a, frame_a, doc_id_b, frame_b, hamming
          |  FROM '{q}/*.parquet'),
          |chk AS (SELECT d.doc_id_a,
          |    CASE WHEN a.lo IS NULL OR b.lo IS NULL THEN 1
          |         WHEN d.doc_id_a >= d.doc_id_b THEN 1
          |         WHEN d.hamming > 3 THEN 1
          |         WHEN d.hamming != bit_count(xor(a.lo, b.lo))
          |           + bit_count(xor(a.hi, b.hi)) THEN 1
          |         ELSE 0 END AS bad
          |  FROM dump d
          |  LEFT JOIN hh a ON a.doc_id = d.doc_id_a AND a.k = d.frame_a
          |  LEFT JOIN hh b ON b.doc_id = d.doc_id_b AND b.k = d.frame_b),
          |dups AS (SELECT count(*) - count(DISTINCT (doc_id_a, frame_a,
          |    doc_id_b, frame_b)) AS nd FROM dump)
          |SELECT CAST(coalesce(sum(bad), 0)
          |  + (SELECT nd FROM dups) AS BIGINT) AS n_bad FROM chk""".stripMargin,
        oracle = "SELECT CAST(0 AS BIGINT) AS n_bad"),
      // the exact pair set around the pinned documents
      graft.ScaleCheck("pinned-pairs-complete", "exact",
        spark = s"""SELECT doc_id_a, frame_a, doc_id_b, frame_b, hamming
          |FROM '{q}/*.parquet'
          |WHERE doc_id_a % $PinDocMod = 0 OR doc_id_b % $PinDocMod = 0""".stripMargin,
        oracle = s"""WITH $m15HashOracleCtes,
          |pinned AS (SELECT * FROM hh WHERE doc_id % $PinDocMod = 0),
          |cand AS (SELECT p.doc_id AS da, p.k AS fa, o.doc_id AS db, o.k AS fb,
          |    bit_count(xor(p.lo, o.lo)) + bit_count(xor(p.hi, o.hi)) AS hm
          |  FROM pinned p, hh o
          |  WHERE p.doc_id != o.doc_id
          |    AND bit_count(xor(p.lo, o.lo)) + bit_count(xor(p.hi, o.hi)) <= 3)
          |SELECT DISTINCT
          |  CASE WHEN da < db THEN da ELSE db END AS doc_id_a,
          |  (CASE WHEN da < db THEN fa ELSE fb END)::INT AS frame_a,
          |  CASE WHEN da < db THEN db ELSE da END AS doc_id_b,
          |  (CASE WHEN da < db THEN fb ELSE fa END)::INT AS frame_b,
          |  hm::INT AS hamming
          |FROM cand""".stripMargin)),
    "m21_frame_clusters" -> Seq(
      // one output row per real frame (multiset compare: catches
      // both dropped frames and duplicated rows)
      graft.ScaleCheck("frame-coverage", "exact",
        spark = "SELECT doc_id, frame_idx FROM '{q}/*.parquet'",
        oracle = s"""WITH $m15HashOracleCtes
          |SELECT doc_id, k::INT AS frame_idx FROM hh""".stripMargin),
      // equal-hash frames co-clustered; label = min member hash id;
      // cluster_size consistent
      graft.ScaleCheck("cluster-wellformed", "exact",
        spark = s"""WITH $m15HashOracleCtes,
          |d AS (SELECT q.doc_id, q.frame_idx, q.cluster_id, q.cluster_size,
          |    ${pkSql("hh.lo", "hh.hi")} AS hid
          |  FROM '{q}/*.parquet' q
          |  JOIN hh ON hh.doc_id = q.doc_id AND hh.k = q.frame_idx),
          |byhash AS (SELECT hid, count(DISTINCT cluster_id) AS nc
          |  FROM d GROUP BY hid),
          |bycl AS (SELECT cluster_id, min(hid) AS mn, count(*) AS n
          |  FROM d GROUP BY cluster_id)
          |SELECT CAST(
          |  (SELECT coalesce(sum(CASE WHEN nc != 1 THEN 1 ELSE 0 END), 0)
          |     FROM byhash)
          |  + (SELECT coalesce(sum(CASE WHEN mn != cluster_id THEN 1 ELSE 0 END), 0)
          |     FROM bycl)
          |  + (SELECT coalesce(sum(CASE WHEN d.cluster_size != b.n THEN 1 ELSE 0 END), 0)
          |     FROM d JOIN bycl b ON b.cluster_id = d.cluster_id)
          |  AS BIGINT) AS n_bad""".stripMargin,
        oracle = "SELECT CAST(0 AS BIGINT) AS n_bad"),
      // every hash neighbor (hamming ≤ 3) of a pinned document's
      // frames lies in the same cluster — sampled no-under-merge
      graft.ScaleCheck("pinned-neighbors-cocluster", "exact",
        spark = s"""WITH $m15HashOracleCtes,
          |hmap AS (SELECT DISTINCT ${pkSql("lo", "hi")} AS hid, lo, hi FROM hh),
          |cl AS (SELECT DISTINCT ${pkSql("hh.lo", "hh.hi")} AS hid, q.cluster_id
          |  FROM '{q}/*.parquet' q
          |  JOIN hh ON hh.doc_id = q.doc_id AND hh.k = q.frame_idx),
          |pinhash AS (SELECT DISTINCT ${pkSql("lo", "hi")} AS hid, lo, hi
          |  FROM hh WHERE doc_id % $PinDocMod = 0),
          |edges AS (SELECT p.hid AS x, o.hid AS y FROM pinhash p, hmap o
          |  WHERE p.hid != o.hid
          |    AND bit_count(xor(p.lo, o.lo)) + bit_count(xor(p.hi, o.hi)) <= 3)
          |SELECT CAST(coalesce(sum(
          |    CASE WHEN ca.cluster_id IS NULL OR cb.cluster_id IS NULL
          |      OR ca.cluster_id != cb.cluster_id THEN 1 ELSE 0 END), 0)
          |  AS BIGINT) AS n_bad
          |FROM edges e
          |LEFT JOIN cl ca ON ca.hid = e.x
          |LEFT JOIN cl cb ON cb.hid = e.y""".stripMargin,
        oracle = "SELECT CAST(0 AS BIGINT) AS n_bad")),
    "m6_multisignal_pairs" -> Seq(
      // the phash signal is exact at every scale — anchor it on m5's
      // dump, whose own full oracle stays green at sf1
      graft.ScaleCheck("phash-side-vs-m5", "exact",
        spark = "SELECT doc_id_a, doc_id_b FROM '{q}/*.parquet' WHERE sig_phash = 1",
        oracle = "SELECT doc_id_a, doc_id_b FROM '{qof:m5_phash_pairs}/*.parquet'"),
      // the cosine signal shares e4_auto's machinery and floor: every
      // emitted cosine pair is TRUE, and the verified count clears the
      // auto-width recall floor of the exact pair set
      graft.ScaleCheck("cosine-side-recall", "recall",
        spark = s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v
          |    FROM embeddings),
          |n AS (SELECT vec_id, v,
          |    sqrt(list_reduce([y*y for y in v], (a,b) -> a+b)) AS nrm FROM v),
          |got AS (SELECT doc_id_a, doc_id_b FROM '{q}/*.parquet'
          |  WHERE sig_cosine = 1),
          |ok AS (SELECT DISTINCT g.doc_id_a, g.doc_id_b
          |  FROM got g JOIN n x ON x.vec_id = g.doc_id_a
          |    JOIN n y ON y.vec_id = g.doc_id_b
          |  WHERE g.doc_id_a < g.doc_id_b
          |    AND list_reduce([x.v[k] * y.v[k]
          |        for k in generate_series(1, len(x.v))], (a,b) -> a+b)
          |      / (x.nrm * y.nrm) >= 0.4)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM got) AS n_got,
          |  CAST(count(*) AS BIGINT) AS n_matched FROM ok""".stripMargin,
        oracle = s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v
          |    FROM embeddings),
          |n AS (SELECT vec_id, v,
          |    sqrt(list_reduce([y*y for y in v], (a,b) -> a+b)) AS nrm FROM v)
          |SELECT CAST(count(*) AS BIGINT) AS n_exact FROM n a, n b
          |WHERE a.vec_id < b.vec_id
          |  AND list_reduce([a.v[k] * b.v[k]
          |      for k in generate_series(1, len(a.v))], (x,y) -> x+y)
          |    / (a.nrm * b.nrm) >= 0.4""".stripMargin,
        bound = 0.55),
      // the verdict's row-level contract: ≥ 98% of the TRUE pair-row
      // set (m5's dumped phash pairs ∪ the exact cosine pairs) is
      // emitted, and everything emitted is a true pair
      graft.ScaleCheck("pair-rows-floor", "recall",
        spark = s"""WITH $phashOracleCtes,
          |v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
          |n AS (SELECT vec_id, v,
          |    sqrt(list_reduce([y*y for y in v], (a,b) -> a+b)) AS nrm FROM v),
          |got AS (SELECT doc_id_a, doc_id_b, sig_phash, sig_cosine
          |  FROM '{q}/*.parquet'),
          |ok AS (SELECT DISTINCT g.doc_id_a, g.doc_id_b
          |  FROM got g
          |  LEFT JOIN h ha ON ha.doc_id = g.doc_id_a
          |  LEFT JOIN h hb ON hb.doc_id = g.doc_id_b
          |  LEFT JOIN n x ON x.vec_id = g.doc_id_a
          |  LEFT JOIN n y ON y.vec_id = g.doc_id_b
          |  WHERE g.doc_id_a < g.doc_id_b
          |    AND (g.sig_phash = 1 OR g.sig_cosine = 1)
          |    AND (g.sig_phash = 0 OR (ha.phash IS NOT NULL AND hb.phash IS NOT NULL
          |      AND bit_count(xor(ha.phash, hb.phash)) <= 3))
          |    AND (g.sig_cosine = 0 OR (x.vec_id IS NOT NULL AND y.vec_id IS NOT NULL
          |      AND list_reduce([x.v[k] * y.v[k]
          |          for k in generate_series(1, len(x.v))], (a,b) -> a+b)
          |        / (x.nrm * y.nrm) >= 0.4)))
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM got) AS n_got,
          |  CAST(count(*) AS BIGINT) AS n_matched FROM ok""".stripMargin,
        oracle = s"""WITH v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v
          |    FROM embeddings),
          |n AS (SELECT vec_id, v,
          |    sqrt(list_reduce([y*y for y in v], (a,b) -> a+b)) AS nrm FROM v),
          |cosp AS (SELECT a.vec_id AS doc_id_a, b.vec_id AS doc_id_b
          |  FROM n a, n b WHERE a.vec_id < b.vec_id
          |    AND list_reduce([a.v[k] * b.v[k]
          |        for k in generate_series(1, len(a.v))], (x,y) -> x+y)
          |      / (a.nrm * b.nrm) >= 0.4),
          |allp AS (SELECT doc_id_a, doc_id_b
          |    FROM '{qof:m5_phash_pairs}/*.parquet'
          |  UNION SELECT doc_id_a, doc_id_b FROM cosp)
          |SELECT CAST(count(*) AS BIGINT) AS n_exact FROM allp""".stripMargin,
        bound = 0.98)))
}
