package graft.streaming

import graft.{Op, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Oracle-grade checks for the streaming gates (round-11 verdict ask
  * #8; widened each round since): the 13 ingestion gates were
  * spec-only (batch-parity inside ScalaTest); ALL THIRTEEN now ALSO
  * run through the driver's DuckDB hash compare — near-dup admission
  * (DedupStream), classifier curation (ClassifierGateStream),
  * CLIP-score curation (ClipFilterStream), span-rewrite admission
  * (SpanDedupStream — stateful append-mode aggregation, finalized via
  * the sentinel trick below), URL dedup (UrlDedupStream), the two
  * STATEFUL alert-analytics operators (round-12 ask #5:
  * event-time gap sessionization, AlertStream.sessionize — the repo's
  * one `flatMapGroupsWithState` user-state operator — and watermarked
  * windowed counts, AlertStream.windowedCounts), and — round-13 ask
  * #3 — the remaining six twins: exact-dedup Bloom admission
  * (BloomGateStream), the document chunker (ChunkStream), the PII
  * scrub/quarantine gate (PiiStream), perceptual media dedup
  * (MediaDedupStream), audio-fingerprint dedup (AudioDedupStream),
  * and quality-temperature sampling (TemperatureSampleStream).
  * Each query here
  * executes a REAL Structured Streaming query (file source over the
  * same parquet the batch queries read → the gate transform → memory
  * sink, drained with Trigger.AvailableNow) and returns the sink's
  * contents; the oracle is the batch semantics the gate twins (d3's
  * verified pair set, t30's kept set, m17's kept set, w3-style gap
  * sessions), so the stream path is held to the same
  * rows+schema+hash bar as every batch operator.
  *
  * Scale shape: the gates themselves are the scale story
  * (stream-static joins / stateless scans — see each gate's
  * scaladoc); the memory sink here is the CHECK harness, not the
  * production sink (S11's streaming download sinks are the
  * at-scale path). Sink contents are fixture-sized: the kept-doc
  * sliver or the verified pair sliver.
  */
object StreamingQueries extends QueryModule {

  /** The memo path of a staged stream source: `layout` names the
    * stage's shape and version, and the sanitized source path and its
    * [[Tables.sourceTag]] make regenerated testdata get a fresh stage
    * (the `MediaLake` lake-path scheme). Every stage is built through
    * [[graft.Sidecar.ensure]] and holds a `_SUCCESS` marker, which
    * the file source skips like every `_`-prefixed name. */
  private def stagePath(layout: String, src: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${layout}_" +
      s"${src.replaceAll("[^a-zA-Z0-9]", "_")}_${Tables.sourceTag(src)}"

  /** The file streaming source requires a DIRECTORY; the driver
    * testdata tables are single parquet files, so a file path is
    * staged behind a symlink dir. */
  private def asDir(srcPath: String): String = {
    val f = new java.io.File(srcPath)
    if (f.isDirectory) srcPath
    else graft.Sidecar.ensure(stagePath("sg_src_v2", srcPath)) { tmp =>
      new java.io.File(tmp).mkdirs()
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(tmp, f.getName).toPath, f.toPath.toAbsolutePath)
      new java.io.File(tmp, "_SUCCESS").createNewFile(): Unit
    }
  }

  /** Operator-only cost (seconds) of each gate's most recent drain:
    * the sum of the run's `addBatch` durations — the time Spark spent
    * EXECUTING the gate's batches, excluding source listing, query
    * planning, offset/WAL commits and start/stop. The stream harness
    * is a ~constant multi-second floor at sf0.1 that hides operator
    * regressions inside the wall-clock number (round-12 verdict ask
    * #6); bench emits both so an operator regression is visible above
    * the harness floor. */
  val opSeconds = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Schema of a staged source dir, resolved once per path — the
    * per-drain batch read existed only to hand `readStream` a schema
    * and was a measurable slice of the ~0.7 s/gate harness floor
    * (round-14 verdict ask #7). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** State/shuffle partition count for the drain harness. Stateful
    * gates initialize + commit one state store per shuffle partition
    * per micro-batch; at the session default (32) that machinery —
    * not the operator — dominated the gate wall-clock (round-14
    * verdict ask #7: harness ≈ 9 s of the 13 gates' 25 s). 8 keeps
    * the drain parallel while quartering store overhead; the
    * PRODUCTION sizing guidance is unchanged (this is the CHECK
    * harness — S11's streaming sinks are the at-scale path), and
    * oracle hashes are partitioning-independent by construction. */
  private val DrainPartitions = "8"

  /** Runs `gate` over a streaming read of `srcPath` (schema taken
    * from a batch read of the same files), drains it with
    * AvailableNow into a memory sink, and returns the sink table.
    * The drain runs on a clone of `spark`: it carries the session's
    * conf and native functions, takes [[DrainPartitions]] (the
    * checkpoint pins shuffle partitions at the first batch) without
    * touching the shared session's conf, and holds the sink's name
    * in its own catalog, so the sink and its rows go when the caller
    * drops the result, which reads them on `spark`. */
  private def drained(spark: SparkSession, srcPath0: String,
                      label: String)
                     (gate: DataFrame => DataFrame): DataFrame = {
    val srcPath = asDir(srcPath0)
    val schema = schemaCache.computeIfAbsent(srcPath,
      p => spark.read.parquet(p).schema)
    val drain = org.apache.spark.sql.graft.SessionBridge.cloneSession(spark)
    drain.conf.set("spark.sql.shuffle.partitions", DrainPartitions)
    val q = gate(drain.readStream.schema(schema).parquet(srcPath)).writeStream
      .format("memory").queryName("drained")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val addMs = q.recentProgress.iterator.map { p =>
      Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
    }.sum
    opSeconds.put(label, addMs / 1e3)
    // the sink's rows, planned on `spark`: generated code is cached per
    // session class loader, so a plan run on the fresh clone would
    // recompile its classes on every drain
    graft.Sql.bound(spark, "SELECT * FROM drained", "drained" -> drain.table("drained"))
  }

  /** Spread a micro-batch across the session's cores before a gate's
    * heavy stateless work (r16, guide §2.5): the staged stream
    * sources are single/few parquet files, so the per-batch map work
    * (shingle+minhash signatures, span md5s, the PII regex chain, URL
    * canonicalization) otherwise runs as ONE task regardless of core
    * count — the drain's 8-partition sizing only governs the STATEFUL
    * exchanges downstream. One sub-MB round-robin exchange per batch;
    * results are row-wise and key-grouped, so partitioning-neutral. */
  private def spreadStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def classifierStream(spark: SparkSession, sfDir: String): DataFrame =
    drained(spark, s"$sfDir/documents.parquet", "sg1_stream_classifier") { docs =>
      ClassifierGateStream.gate(docs).selectExpr("doc_id", "lang")
    }

  private def clipStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val lake = graft.multimodal.MediaLake.ensure(spark, sfDir)
    // the arriving side is the media pair; its claimed text embedding
    // joins STREAM-STATIC by id (the gate's ingestion shape)
    val emb = spark.table("embeddings")
      .selectExpr("vec_id AS doc_id", "embedding")
    drained(spark, lake, "sg2_stream_clip") { media =>
      ClipFilterStream.gate(
          media.select("doc_id", "fmt", "media").join(emb, "doc_id"))
        .selectExpr("doc_id", "fmt")
    }
  }

  private def dedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    // The gate's STATIC side is checkpointed once per drain (r16):
    // Structured Streaming re-executes the static side of a
    // stream-static join on EVERY micro-batch — including the no-data
    // batches AvailableNow runs to finalize watermarks — so an
    // expensive static plan (this corpus minhash index, the sg4 span
    // index) was computed 2-3× per gate; the per-batch plan now scans
    // the checkpoint. (Production twin: the gates' scaladoc already
    // prescribes a PERSISTED, pre-partitioned index.) The drained
    // result reads only the memory sink, so the blocks are freed once
    // the drain ends, here and in sg4, sg5 and sg8.
    val index = graft.CkptUtil.fresh(DedupStream.corpusIndex(
      spark.table("documents").select("doc_id", "text")))
    try drained(spark, s"$sfDir/documents.parquet", "sg3_stream_dedup") { docs =>
      // deterministic event time from the id — the fixture parquet
      // carries no timestamp; the gate's watermark state is exercised,
      // the output drops the synthetic column
      val stream = spreadStream(docs).selectExpr(
        "doc_id", "text",
        "timestamp_seconds(1700000000 + doc_id) AS ts")
      DedupStream.lshGate(stream, index)
        .selectExpr("doc_id", "dup_of", "jaccard")
    } finally graft.CkptUtil.unpersist(index)
  }

  /** sg4/sg5 split the fixture the d10 way: doc_id % 10 < 7 is the
    * landed corpus (builds the gate's index), % 10 >= 7 arrives on
    * the stream — so both the pass and drop paths carry rows. */
  private val CorpusPred = "doc_id % 10 < 7"
  private val StreamPred = "doc_id % 10 >= 7"

  /** sg4's source dir: the documents symlink PLUS a one-row sentinel
    * parquet with a far-future event time. Append-mode aggregations
    * only emit once the watermark PASSES a group — without the
    * sentinel the single-batch AvailableNow run leaves every real
    * group within the watermark delay of the stream's max event time
    * and the sink stays empty. The sentinel (doc_id 9 999 999 999 →
    * ts ≈ +316 years) rides the same gate, pushes the final
    * watermark past every real group so the closing no-data batch
    * flushes them, and is itself the one group still withheld — so
    * it never appears in the output and the oracle needs no carve-out. */
  private def sentinelStage(spark: SparkSession, srcPath: String): String = {
    val f = new java.io.File(srcPath)
    graft.Sidecar.ensure(stagePath("sg4_src_v4", srcPath)) { tmp =>
      // sentinel text derives from its own doc_id: the sentinel's one
      // span must SURVIVE the corpus anti-join to reach the watermark
      // node, and a corpus document whose trailing ragged span
      // happened to equal a fixed literal (the old 'zz') would filter
      // it — watermark never advances, sink drains empty, gate fails
      // opaquely. No real document can contain this text: doc ids are
      // dense small integers and the token embeds 9999999999.
      spark.read.parquet(srcPath).limit(1)
        .selectExpr("9999999999L AS doc_id",
          "'sentinel_9999999999' AS text", "lang",
          "source", "CAST(19 AS BIGINT) AS n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      // A Spark-written table is a DIRECTORY of part files (the sf1
      // gate corpora have this shape), and the streaming file source
      // does not recurse into a symlinked subdirectory — a dir-shaped
      // source staged as one link would silently stream ONLY the
      // sentinel, draining the gate empty (caught by the round-15
      // sf1 gate: sg4 0 rows vs oracle 14740). Link each part file.
      val parts: Seq[java.io.File] =
        if (f.isDirectory)
          f.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(f)
      parts.zipWithIndex.foreach { case (pf, i) =>
        java.nio.file.Files.createSymbolicLink(
          new java.io.File(tmp, f"a_documents_$i%05d.parquet").toPath,
          pf.toPath.toAbsolutePath)
      }
    }
  }

  private def spanStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val index = graft.CkptUtil.fresh(SpanDedupStream.spanIndex(
      spark.table("documents").where(CorpusPred).select("doc_id", "text")))
    try drained(spark, sentinelStage(spark, s"$sfDir/documents.parquet"),
        "sg4_stream_span") { docs =>
      // sentinel doc_id % 10 = 9 passes StreamPred by design — it must
      // flow through the gate to advance the watermark
      val stream = spreadStream(docs.where(StreamPred)).selectExpr(
        "doc_id", "text",
        "timestamp_seconds(1700000000 + doc_id) AS ts")
      SpanDedupStream.spanGate(stream, index)
        .selectExpr("doc_id", "n_kept", "md5(kept_text) AS kept_md5")
    } finally graft.CkptUtil.unpersist(index)
  }

  /** sg6/sg7's staged stream source: the events table as (cell, ts)
    * alerts — cell = user_id — plus ONE far-future sentinel row
    * (year 3000) written into the SAME parquet file, so the
    * AvailableNow run reads everything in a single batch (no
    * mid-stream watermark can drop late real events) and the closing
    * no-data batch's watermark (sentinel − delay) is past every real
    * session timeout and window end — the sg4 sentinel trick applied
    * to the two STATEFUL operators (flatMapGroupsWithState sessions,
    * event-time windowed counts). The sentinel's own session/window
    * is the one group still withheld at termination, so it never
    * reaches the sink and the oracle needs no carve-out. Events read
    * through [[Tables.load]] (ts vintage normalization), staged once
    * per testdata generation (content-tagged dir). */
  private def alertStage(spark: SparkSession, sfDir: String): String =
    graft.Sidecar.ensure(stagePath("sg67_src_v2", s"$sfDir/events.parquet")) { tmp =>
      Tables.load(spark, sfDir, "events")
        .selectExpr("user_id AS cell", "ts")
        .unionByName(spark.sql(
          "SELECT 9999999999L AS cell, timestamp_seconds(32503680000L) AS ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  private def sessionStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    drained(spark, alertStage(spark, sfDir), "sg6_stream_session") { alerts =>
      AlertStream.sessionize(spark,
          spreadStream(alerts).select("cell", "ts")).toDF()
        .selectExpr("cell", "startTs AS start_ts", "endTs AS end_ts", "alerts")
    }
  }

  private def windowStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    drained(spark, alertStage(spark, sfDir), "sg7_stream_window") { alerts =>
      AlertStream.windowedCounts(spreadStream(alerts).select("cell", "ts"))
    }
  }

  /** sg8's staged source: the StreamPred document slice PLUS injected
    * exact duplicates of a deterministic corpus subset (corpus rows
    * with doc_id % 35 = 0, re-keyed +1 000 000) — the fixture corpus
    * carries no exact text dups across the 70/30 split, so without
    * the injection the gate's DROP path would never carry a row (the
    * vacuous-gate trap); the oracle replays the same injection. */
  private def bloomStage(spark: SparkSession, sfDir: String): String =
    graft.Sidecar.ensure(stagePath("sg8_src_v2", s"$sfDir/documents.parquet")) { tmp =>
      val docs = Tables.load(spark, sfDir, "documents")
      docs.where(StreamPred).selectExpr("doc_id", "text")
        .unionByName(docs.where(s"$CorpusPred AND doc_id % 35 = 0")
          .selectExpr("doc_id + 1000000 AS doc_id", "text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  private def bloomStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val corpus = graft.CkptUtil.fresh(spark.table("documents").where(CorpusPred)
      .select("doc_id", "text"))
    val blob = BloomGateStream.corpusBloom(corpus)
    try drained(spark, bloomStage(spark, sfDir), "sg8_stream_bloom") { docs =>
      BloomGateStream.gate(docs, corpus, blob)
        .selectExpr("doc_id", "md5(text) AS text_md5")
    } finally graft.CkptUtil.unpersist(corpus)
  }

  private def chunkStream(spark: SparkSession, sfDir: String): DataFrame =
    drained(spark, s"$sfDir/documents.parquet", "sg9_stream_chunk") { docs =>
      ChunkStream.gate(docs.select("doc_id", "text"))
    }

  /** sg10's PII injection (the t11 aug convention — the fixture is
    * PII-free word soup, so the detector's work must be planted, and
    * the oracle replays the identical construction): doc_id % 3 = 0
    * appends one email (1 hit → passes, redacted), % 5 = 0 appends an
    * IP and a phone (2 hits → passes, redacted), % 15 = 0 gets all
    * three (3 hits > maxHits 2 → quarantined, text unredacted) — so
    * the identity, redaction, and quarantine paths ALL carry rows.
    * One source string; the DuckDB replay differs only in the
    * STRING→VARCHAR cast spelling (the UrlFixture trick). */
  private val piiAugSpark: String =
    """concat(text,
      |  CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',
      |    CAST(doc_id % 97 AS STRING), '@example.com') ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0 THEN concat(' at 10.',
      |    CAST(doc_id % 256 AS STRING), '.0.', CAST(doc_id % 7 AS STRING),
      |    ' phone 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
      |  ELSE '' END)""".stripMargin
  private def piiAugDuck: String = piiAugSpark.replace("AS STRING", "AS VARCHAR")

  private def piiStream(spark: SparkSession, sfDir: String): DataFrame =
    drained(spark, s"$sfDir/documents.parquet", "sg10_stream_pii") { docs =>
      PiiStream.gate(spreadStream(docs).selectExpr("doc_id", s"$piiAugSpark AS text"))
        .selectExpr("doc_id", "n_emails", "n_ips", "n_phones",
          "quarantined", "md5(text) AS text_md5")
    }

  /** sg11/sg12 band tables come from the corpus-version SIDECARS
    * ([[graft.multimodal.MediaLake.ensurePhashes]]/`ensureAfps`) —
    * the materialization the gates' scaladoc requires (the raw
    * corpusBands plan would re-decode the corpus per micro-batch) —
    * split through THE gate-owned [[MediaDedupStream.bandsOf]] so the
    * band scheme cannot drift from the join keys. */
  private def sidecarBands(spark: SparkSession, sidecar: String,
                           hashCol: String, outCol: String): DataFrame =
    MediaDedupStream.bandsOf(
      spark.read.parquet(sidecar).where(CorpusPred), hashCol, outCol)

  private def mediaStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val lake = graft.multimodal.MediaLake.ensure(spark, sfDir)
    val bands = sidecarBands(spark,
      graft.multimodal.MediaLake.ensurePhashes(spark, sfDir), "phash", "cph")
    drained(spark, lake, "sg11_stream_media") { media =>
      MediaDedupStream.gate(media.where(StreamPred), bands)
        .select("doc_id", "fmt")
    }
  }

  private def audioStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val lake = graft.multimodal.MediaLake.ensureAudio(spark, sfDir)
    val bands = sidecarBands(spark,
      graft.multimodal.MediaLake.ensureAfps(spark, sfDir), "afp", "cfp")
    drained(spark, lake, "sg12_stream_audio") { clips =>
      AudioDedupStream.gate(clips.where(StreamPred), bands)
        .select("doc_id")
    }
  }

  private def temperatureStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val thr = TemperatureSampleStream.thresholds(
      spark.table("documents").where(CorpusPred))
    drained(spark, s"$sfDir/documents.parquet", "sg13_stream_temperature") { docs =>
      TemperatureSampleStream.gate(docs.where(StreamPred), thr)
        .select("doc_id", "lang")
    }
  }

  private def urlStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val urlExpr = graft.textops.TextQueries.UrlFixture.sparkMulti
    val corpus = graft.CkptUtil.fresh(spark.table("documents").where(CorpusPred)
      .selectExpr("doc_id", s"$urlExpr AS url"))
    val blob = UrlDedupStream.corpusBloom(corpus)
    try drained(spark, s"$sfDir/documents.parquet", "sg5_stream_url") { docs =>
      val stream = spreadStream(docs.where(StreamPred))
        .selectExpr("doc_id", s"$urlExpr AS url")
      UrlDedupStream.gate(stream, corpus, blob).select("doc_id", "url")
    } finally graft.CkptUtil.unpersist(corpus)
  }

  override def ops: Seq[Op] = {
    val cls = graft.textops.TextQueries.ClassifierShape
    val nwE = cls.nw("text", spark = false)
    Seq(
      // t30's kept set (the shared ClassifierShape scorer, DuckDB
      // dialect) — a document the stream admits is exactly a document
      // batch t30 counts as kept
      Op("sg1_stream_classifier", classifierStream,
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${cls.logit("text", nwE, spark = false)} >= 0""".stripMargin),
      // m7/m17's shared pair-cosine chain at the m17 keep threshold;
      // fmt replays the lake's png/jpg split (MediaLake.isJpeg:
      // doc_id % 4 = 3 → jpg)
      Op("sg2_stream_clip", clipStream,
        s"""WITH ${graft.multimodal.MultimodalQueries.clipPairOracleCtes}
           |SELECT doc_id,
           |  CASE WHEN doc_id % 4 = 3 THEN 'jpg' ELSE 'png' END AS fmt
           |FROM jn WHERE cosine >= 0.1""".stripMargin),
      // the SYMMETRIC closure of d3's verified pair set: every
      // incoming document flags against the whole corpus index, so
      // each unordered batch pair appears once per direction
      Op("sg3_stream_dedup", dedupStream,
        s"""WITH p AS (${graft.textops.TextQueries.oracles("d3_minhash_lsh_pairs")})
           |SELECT doc_id_a AS doc_id, doc_id_b AS dup_of, jaccard FROM p
           |UNION ALL
           |SELECT doc_id_b AS doc_id, doc_id_a AS dup_of, jaccard FROM p""".stripMargin),
      // sg4: the SpanShape replay (d9's DuckDB span CTEs) — corpus
      // spans index, stream spans anti-join it, then within-doc
      // keep-first rebuild; a stream doc losing every span is absent
      Op("sg4_stream_span", spanStream, {
        val words = graft.textops.TextQueries.SpanShape.words
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |sp AS (SELECT doc_id,
           |    [array_to_string(w[(i-1)*$words+1:(i-1)*$words+$words], ' ')
           |     for i in generate_series(1, CAST(ceil(len(w) / $words.0) AS BIGINT))] AS spans
           |  FROM w),
           |ch AS (SELECT doc_id, i - 1 AS idx, spans[i] AS span
           |  FROM sp, unnest(generate_series(1, len(spans))) AS t(i)),
           |corp AS (SELECT DISTINCT md5(span) AS h FROM ch WHERE $CorpusPred),
           |inc AS (SELECT doc_id, idx, span, md5(span) AS h
           |  FROM ch WHERE $StreamPred),
           |surv AS (SELECT doc_id, idx, span FROM inc ANTI JOIN corp USING (h)),
           |fk AS (SELECT doc_id, idx, span,
           |    min(idx) OVER (PARTITION BY doc_id, span) AS f FROM surv),
           |kept AS (SELECT doc_id, idx, span FROM fk WHERE idx = f)
           |SELECT doc_id, count(*)::BIGINT AS n_kept,
           |  md5(string_agg(span, ' ' ORDER BY idx)) AS kept_md5
           |FROM kept GROUP BY doc_id""".stripMargin
      }),
      // sg5: the bloom-independent truth (the d10 convention): stream
      // rows whose canonical URL has no corpus match pass through
      Op("sg5_stream_url", urlStream, {
        val urlExpr = graft.textops.TextQueries.UrlFixture.duckMulti
        val canon = graft.textops.TextQueries.UrlCanon.duckExpr("url")
        s"""WITH u AS (SELECT doc_id, $urlExpr AS url FROM documents),
           |norm AS (SELECT doc_id, url, $canon AS canon FROM u),
           |corp AS (SELECT DISTINCT canon FROM norm WHERE $CorpusPred),
           |inc AS (SELECT doc_id, url, canon FROM norm WHERE $StreamPred)
           |SELECT doc_id, url FROM inc
           |WHERE NOT EXISTS (SELECT 1 FROM corp WHERE corp.canon = inc.canon)""".stripMargin
      }),
      // sg6: gap sessionization replayed in MILLISECOND space — the
      // stream's state math runs on Timestamp.getTime (ms floor of
      // the µs event time) and emits ms-floored boundaries, so the
      // oracle sessionizes epoch_ms values and rebuilds timestamps
      // from them; the final watermark (sentinel − 10 min, ≈ year
      // 3000) closes every real session, so the answer is ALL
      // gap-600s sessions over the real events
      Op("sg6_stream_session", sessionStream,
        """WITH a AS (SELECT user_id AS cell, epoch_ms(ts) AS tms FROM events),
          |g AS (SELECT cell, tms,
          |    tms - lag(tms) OVER (PARTITION BY cell ORDER BY tms) AS gap FROM a),
          |s AS (SELECT cell, tms,
          |    sum(CASE WHEN gap IS NULL OR gap > 600000 THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY cell ORDER BY tms
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g)
          |SELECT cell, make_timestamp(min(tms) * 1000) AS start_ts,
          |  make_timestamp(max(tms) * 1000) AS end_ts, count(*)::BIGINT AS alerts
          |FROM s GROUP BY cell, sid""".stripMargin),
      // sg7: every real (epoch-aligned hour, cell) window finalizes
      // behind the sentinel watermark; Spark's window(ts, '1 hour')
      // start equals date_trunc('hour') for post-epoch timestamps
      Op("sg7_stream_window", windowStream,
        """SELECT date_trunc('hour', ts) AS window_start, user_id AS cell,
          |  count(*)::BIGINT AS alert_count
          |FROM events GROUP BY 1, 2""".stripMargin),
      // sg8: the bloom-independent truth (the d10 convention) over
      // the staged stream — StreamPred docs plus the injected corpus
      // duplicates (re-keyed +1e6), minus exact corpus text matches;
      // every injected row must be DROPPED, every fixture stream row
      // passes (no cross-split dups exist)
      Op("sg8_stream_bloom", bloomStream,
        s"""WITH corp AS (SELECT text FROM documents WHERE $CorpusPred),
           |inc AS (SELECT doc_id, text FROM documents WHERE $StreamPred
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
           |  WHERE $CorpusPred AND doc_id % 35 = 0)
           |SELECT doc_id, md5(text) AS text_md5 FROM inc
           |WHERE NOT EXISTS (SELECT 1 FROM corp WHERE corp.text = inc.text)""".stripMargin),
      // sg9: the stream chunker must produce EXACTLY the batch t19
      // answer — same kernel, same oracle (one chunk definition,
      // two execution modes)
      Op("sg9_stream_chunk", chunkStream, graft.textops.TextQueries.oracles("t19_chunk")),
      // sg10: the PiiShape regex replay over the aug-injected stream
      // (the t11 dialect-portable patterns), with the gate's
      // quarantine rule (> 2 hits) and the kept-row text swap
      Op("sg10_stream_pii", piiStream, {
        val shape = graft.textops.TextQueries.PiiShape
        s"""WITH aug AS (SELECT doc_id, $piiAugDuck AS text FROM documents),
           |sc AS (SELECT doc_id, text,
           |  ${shape.redactSql("text", identity, ", 'g'")} AS redacted,
           |  len(regexp_extract_all(text, '${shape.email}'))::INT AS n_emails,
           |  len(regexp_extract_all(text, '${shape.ipv4}'))::INT AS n_ips,
           |  len(regexp_extract_all(text, '${shape.phone}'))::INT AS n_phones
           |  FROM aug)
           |SELECT doc_id, n_emails, n_ips, n_phones,
           |  (n_emails + n_ips + n_phones > 2) AS quarantined,
           |  md5(CASE WHEN n_emails + n_ips + n_phones > 2
           |      THEN text ELSE redacted END) AS text_md5
           |FROM sc""".stripMargin
      }),
      // sg11: the m5 aHash replay (shared phashOracleCtes — one hash
      // definition with the m5/m6 oracles): stream-side lake items
      // surviving iff NO corpus item lies within Hamming ≤ 3
      Op("sg11_stream_media", mediaStream,
        s"""WITH ${graft.multimodal.MultimodalQueries.phashOracleCtes},
           |c AS (SELECT phash FROM h WHERE $CorpusPred),
           |i AS (SELECT doc_id, phash FROM h WHERE $StreamPred)
           |SELECT doc_id,
           |  CASE WHEN doc_id % 4 = 3 THEN 'jpg' ELSE 'png' END AS fmt
           |FROM i WHERE NOT EXISTS (SELECT 1 FROM c
           |  WHERE bit_count(xor(c.phash, i.phash)) <= 3)""".stripMargin),
      // sg12: the m10 energy-dHash replay (shared afpOracleCtes),
      // same survivor predicate on the WAV lake
      Op("sg12_stream_audio", audioStream,
        s"""WITH ${graft.multimodal.MultimodalQueries.afpOracleCtes},
           |c AS (SELECT afp FROM h WHERE $CorpusPred),
           |i AS (SELECT doc_id, afp FROM h WHERE $StreamPred)
           |SELECT doc_id FROM i WHERE NOT EXISTS (SELECT 1 FROM c
           |  WHERE bit_count(xor(c.afp, i.afp)) <= 3)""".stripMargin),
      // sg13: the t16 replay with the gate's split — quartile
      // thresholds from the CORPUS slice only (the snapshot-versioned
      // statistics the stream literals carry), the coin keep-rule
      // over the STREAM slice
      Op("sg13_stream_temperature", temperatureStream, {
        val mix = graft.textops.TextQueries.TemperatureMix
        s"""WITH s AS (SELECT doc_id, ${mix.duckQualityExpr("text")} AS q
           |  FROM documents WHERE $CorpusPred),
           |hist AS (SELECT q, count(*) AS c FROM s GROUP BY q),
           |cum AS (SELECT q, sum(c) OVER (ORDER BY q) AS cm,
           |    CAST((SELECT count(*) FROM s) AS BIGINT) AS n FROM hist),
           |thr AS (SELECT min(CASE WHEN cm * 4 >= n THEN q END) AS q1,
           |    min(CASE WHEN cm * 2 >= n THEN q END) AS q2,
           |    min(CASE WHEN cm * 4 >= 3 * n THEN q END) AS q3 FROM cum),
           |st AS (SELECT doc_id, lang, ${mix.duckQualityExpr("text")} AS q
           |  FROM documents WHERE $StreamPred),
           |b AS (SELECT doc_id, lang,
           |    CASE WHEN q <= thr.q1 THEN 1 WHEN q <= thr.q2 THEN 2
           |      WHEN q <= thr.q3 THEN 3 ELSE 4 END AS bucket
           |  FROM st CROSS JOIN thr)
           |SELECT doc_id, lang FROM b
           |WHERE ${mix.duckCoinExpr("doc_id")} <
           |  CASE bucket WHEN 4 THEN 100 WHEN 3 THEN 50 WHEN 2 THEN 25 ELSE 10 END""".stripMargin
      }))
  }
}
