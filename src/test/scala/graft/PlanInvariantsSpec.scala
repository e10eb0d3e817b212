package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{ExplainMode, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The plan PROPERTIES the 100 TB story depends on, pinned as tests so
  * a refactor that silently loses one (a filter that stops reaching
  * the scan, a broadcast that becomes a shuffle join, partition
  * pruning that stops firing, an expression that re-evaluates) fails
  * loudly instead of only showing up in the bench. `graft.Dev plan`
  * prints the full plans (PLANS.md has the command); these assert
  * just the load-bearing fragments. */
class PlanInvariantsSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  // no silent fallback to interpreted execution: a generated class that
  // does not compile fails the test that runs it
  private lazy val spark = LocalTuning.session(2, "spark.sql.codegen.fallback" -> "false")

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("p3: every predicate reaches the parquet scan; columns prune") {
    val p = plan("p3_where_like")
    assert(p.contains("PushedFilters: [IsNotNull(p_name)"), p.take(400))
    assert(p.contains("StringContains(p_name,a)"), "LIKE did not push")
    // projection pruning: the scan must NOT read all 9 part columns
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).get.group(1)
    assert(readSchema.split(",").length <= 5, readSchema)
  }

  test("d7/m21: cluster_size is a partial aggregate, never a window") {
    // a `count(*) OVER (PARTITION BY cluster_id)` window funnels every
    // row of a cluster through ONE task — the mega-cluster skew the
    // operators exist to survive; the groupBy+join rewrite must keep
    // partial (map-side) aggregation and no Window node anywhere
    for (q <- Seq("d7_dup_clusters", "m21_frame_clusters")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q plans a window:\n${p.take(400)}")
      assert(p.contains("partial_count") || p.contains("partial"),
        s"$q cluster count is not a partial aggregate")
    }
  }

  test("j1: small dimension broadcasts; aggregation is partial-final") {
    val p = plan("j1_catalog_join")
    assert(p.contains("BroadcastHashJoin"), p.take(300))
    assert(p.contains("partial_count"), "no map-side partial aggregation")
  }

  test("r9: AOI prunes tile partitions BEFORE I/O") {
    val p = plan("r9_tile_lake_zonal")
    assert("PartitionFilters: \\[.*tile_id.*INSET".r.findFirstIn(p).isDefined,
      p.take(600))
  }

  test("rs1: the fused zonal scan reads only the referenced bands") {
    val p = plan("rs1_otf_payload")
    val readSchema = "ReadSchema: struct<(.*)".r
      .findFirstMatchIn(p).get.group(1)
    // the payload references 3 of the lake's 6 px_ bands
    val bands = "px_".r.findAllIn(readSchema).length
    assert(bands == 3, s"expected 3 pruned bands, scan reads $bands: $readSchema")
    assert(p.contains("zonal_partial"), "fused kernel missing from the plan")
  }

  test("e4: signatures enter from the persisted sidecar; no rph_sig in serving") {
    // the LSH signature table is an INGEST ARTIFACT since round 11
    // (SimQueries.ensureSigs — the e11 codes pattern): serving
    // FileScans the signature parquet; the n × tables × bits
    // hyperplane pass must NOT run per query
    val p = plan("e4_ann_lsh_pairs")
    assert(p.contains("graft_e4sig"),
      s"signatures do not enter from the persisted sidecar:\n${p.take(800)}")
    assert(!p.contains("rph_sig"),
      s"hyperplane pass ran inside the serving query:\n${p.take(800)}")
  }

  test("r36: polyconic serving scans the persisted warped lake, pruned") {
    // the warp is an INGEST step: the serving query must FileScan the
    // lake sidecar (never re-warp per query), read only the referenced
    // band, and aggregate partial→final
    val p = plan("r36_polyconic_ingest")
    assert(p.contains("FileScan parquet") && p.contains("graft_r36"),
      s"serving does not scan the persisted lake:\n${p.take(600)}")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).get.group(1)
    assert(!readSchema.contains("tile_id"),
      s"scan reads more than the referenced band: $readSchema")
    assert(p.contains("partial_count"), "no map-side partial aggregation")
  }

  test("d3: signatures stay in the scan projection; verify side broadcasts") {
    val p = plan("d3_minhash_lsh_pairs")
    assert(p.contains("minhash36"), p.take(300))
    assert(p.contains("BroadcastExchange"), "candidate verify no longer broadcasts")
  }

  test("t7: the benchmark shingle side broadcasts — the corpus never shuffles") {
    val p = plan("t7_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(300))
  }

  test("t10: top-1-per-doc collapses BELOW the shuffle; df side broadcasts") {
    val p = plan("t10_keywords")
    // WindowGroupLimit Partial before the doc_id exchange: each map
    // task ships ~1 candidate row per doc, not the scored vocabulary
    assert(p.contains("WindowGroupLimit"), p.take(400))
    assert(p.contains("BroadcastHashJoin"),
      "df join no longer broadcasts the vocabulary side")
  }

  test("t8: the prefix sum is distributed — no SinglePartition exchange") {
    // the partition-less window formulation planned
    // `Exchange SinglePartition` (every document through one task);
    // the two-pass shape range-partitions instead
    val pass0 = graft.textops.TextQueries
      .t8RangePartitioned(spark, sf).queryExecution.executedPlan.toString
    assert(pass0.toLowerCase.contains("rangepartitioning"), pass0.take(400))
    assert(!pass0.contains("SinglePartition"), pass0.take(400))
    val full = plan("t8_sequence_pack")
    assert(!full.contains("SinglePartition"), full.take(400))
    assert(!full.contains("Window"), "t8 regressed to a window formulation")
  }

  /** Exchanges other than the narrow-input spread: Tables.register
    * round-robins a single-row-group testdata scan across the
    * session's cores (r16; scale-guarded — absent once the scan has
    * ≥ cores partitions, so the 100 TB plan stays truly map-only).
    * The pinned property is the absence of any OTHER shuffle. Only a
    * round-robin exchange whose CHILD is a parquet scan (possibly
    * behind a filter/project) counts as the spread (r16 advice: an
    * unbounded subtraction would let a future query-side round-robin
    * repartition pass the map-only invariant unnoticed). */
  private def nonSpreadExchanges(p: String): Int = {
    val all = "Exchange ".r.findAllIn(p).length
    // formatted plans are indented trees; a spread exchange's subtree
    // contains no other operator class than filter/project/scan
    val spread =
      ("(?s)Exchange RoundRobinPartitioning\\(\\d+\\), REPARTITION_BY_NUM" +
        "[^\\n]*\\n(?:[^\\n]*(?:Filter|Project|ColumnarToRow|InputAdapter|" +
        "WholeStageCodegen|FileScan|Scan parquet)[^\\n]*\\n?)*?" +
        "[^\\n]*(?:FileScan|Scan parquet)").r
        .findAllIn(p).length
    all - spread
  }

  test("t19: the chunker is a narrow generate — zero exchanges") {
    // chunking is per-document fan-out; any shuffle here (beyond the
    // narrow-input spread, see nonSpreadExchanges) would be a planner
    // regression (at 100 TB the chunker must stay map-only so the
    // downstream embedding job picks its own partitioning)
    val p = plan("t19_chunk")
    assert(nonSpreadExchanges(p) == 0, p.take(600))
    assert(p.contains("Generate"), "expected the explode fan-out")
  }

  test("t20: shard export sorts per shard, never globally") {
    // the within-shard row_number must plan as a window over
    // hashpartitioning(shard…) — a global sort or SinglePartition
    // exchange is the anti-shape the operator exists to avoid
    val p = plan("t20_shard_export")
    assert(p.contains("hashpartitioning(shard"), p.take(600))
    assert(!p.contains("SinglePartition"), p.take(600))
    assert(!p.toLowerCase.contains("rangepartitioning"), "global sort planned")
  }

  test("t21: the BPE token table broadcasts; the corpus never shuffles") {
    // tokenizing the corpus is a broadcast join of the
    // vocabulary-sized token table against the exploded word stream —
    // a shuffled join here would move the whole corpus at 100 TB
    val p = plan("t21_bpe_tokenize")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("e17: the BQ pipeline never sorts the corpus — all joins broadcast") {
    // candidate generation is a broadcast nested-loop of 5 query
    // codes against the (two-integer-column) codes scan; shortlist
    // re-rank joins hint BROADCAST on the vector sides (the e15
    // trade) — a SortMergeJoin anywhere here would sort corpus-sized
    // input at 100 TB
    val p = plan("e17_bq_rerank")
    assert(!p.contains("SortMergeJoin"), p.take(600))
    assert(p.contains("vec_signbits"), "code build missing from plan")
  }

  test("t22: benchmark bands and the candidate sliver broadcast; no corpus sort") {
    val p = plan("t22_fuzzy_decontam")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("d9: span dedup is join-free — one window shuffle + one rebuild shuffle") {
    val p = plan("d9_span_dedup")
    // keep-first is a window over md5(span), NOT a groupBy+self-join:
    // a join formulation would shuffle the span stream twice more
    assert(!p.contains("Join"), p.take(600))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 2,
      s"expected 2 hash exchanges (window on md5(span), rebuild on doc_id), got $shuffles")
  }

  test("rs1: scan → zonal partials is ONE whole-stage-codegen span") {
    // the fused raster hot path: FileScan → ColumnarToRow → Project →
    // Generate(explode(zonal_partial)) → partial HashAggregate must
    // all sit in the SAME codegen span (TileKernelCodegen's doGenCode
    // keeps the kernel call fusable); a regression to CodegenFallback
    // would split the span and re-introduce per-row interpretation
    val df = SparkEntry.queries("rs1_otf_payload")(spark, sf)
    df.collect() // AQE finalizes spans only at execution
    val p = df.queryExecution.executedPlan.toString
    def span(marker: String): String =
      s"\\*\\((\\d+)\\) $marker".r.findFirstMatchIn(p).map(_.group(1))
        .getOrElse(fail(s"$marker not in any codegen span:\n${p.take(1200)}"))
    val gen = span("Generate")
    val c2r = span("ColumnarToRow")
    // the PARTIAL aggregate (map side, below the exchange) — the
    // final aggregate naturally lives in the post-shuffle span
    val agg = span("HashAggregate\\(keys=[^\\n]*partial_")
    assert(gen == c2r && gen == agg,
      s"span split: ColumnarToRow *($c2r), Generate *($gen), HashAggregate *($agg)")
  }

  test("d10: literal blob, probe prefilters the anti-join, no blob join") {
    val p = plan("d10_bloom_gate")
    // the blob enters as a constant-folded literal — there must be NO
    // join fanning it out (the old cross-join shape deserialized the
    // filter per row because row values surface as fresh byte[] copies)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "blob regressed to a cross-join fan-out")
    // the bloom probe sits in a Filter BEFORE the exact anti-join —
    // the no-false-negative branch skips the join entirely
    assert(p.contains("bloom_might_contain"), "bloom prefilter missing")
    assert(p.contains("LeftAnti"), "exact confirm anti-join missing")
  }

  test("e11: probed-cell equality join; distance tables broadcast, no cartesian") {
    // inspect the FINALIZED plan — the query-side frames (probe, the
    // 4 distance tables) are tiny by construction and hinted
    // BROADCAST, so the corpus-sized codes stream must never shuffle
    // for them
    val df = SparkEntry.queries("e11_ivfpq")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "cartesian in the ADC assembly")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 5,
      s"expected ≥5 broadcast joins (cand + 4 distance tables), got $bhj:\n${p.take(800)}")
    // the candidate selection must hit the codes stream by CELL
    // equality (the IVF contract: a probe touches ~probes/k of the
    // corpus, never all of it)
    assert("BroadcastHashJoin \\[cell".r.findFirstIn(p).isDefined ||
      "BroadcastHashJoin \\[c#".r.findFirstIn(p).isDefined,
      s"no broadcast equality join on the cell column:\n${p.take(800)}")
    // the codes are an INGEST ARTIFACT: the serving plan reads them
    // from parquet and contains NO corpus-wide quantization stage
    assert(p.contains("/codes") || p.toLowerCase.contains("e11_codes"),
      s"codes do not enter from the persisted sidecar:\n${p.take(800)}")
    // every window in the serving plan is per-QUERY (partitioned by
    // qid — 5 rows × k cells; the probe ranking inlines per distance
    // table, all tiny); the code build's signature is a window
    // partitioned by the corpus vec_id, which must be absent
    assert(!p.contains("windowspecdefinition(vec_id"),
      "corpus-wide code-build window leaked into the serving query")
    assert(!p.contains("vec_sqdist(rv"),
      "corpus-residual quantization ran inside the serving query")
  }

  test("m9: image tower enters from the persisted sidecar; no decode in serving") {
    // the tower is an INGEST ARTIFACT (MediaLake.ensureTower — the
    // e11 codes pattern): the serving plan FileScans the tower
    // parquet and must contain NO per-query decode kernel (the
    // mapPartitions decode shows up as an object de/serialize pair)
    val df = SparkEntry.queries("m9_clip_retrieve")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_img_tower"),
      s"tower does not enter from the persisted sidecar:\n${p.take(800)}")
    assert(!p.contains("DeserializeToObject") && !p.contains("SerializeFromObject"),
      s"decode kernel ran inside the serving query:\n${p.take(800)}")
    // m7 serves from the same sidecar
    val p7 = SparkEntry.queries("m7_clip_align")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p7.contains("graft_img_tower") && !p7.contains("SerializeFromObject"),
      s"m7 not on the sidecar:\n${p7.take(400)}")
  }

  test("m5/m10: fingerprints enter from persisted sidecars; no decode in mining") {
    for ((q, sidecar) <- Seq("m5_phash_pairs" -> "graft_phash",
        "m10_audio_fingerprint" -> "graft_afp")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains(sidecar),
        s"$q does not read the persisted sidecar:\n${p.take(800)}")
      assert(!p.contains("DeserializeToObject") && !p.contains("SerializeFromObject"),
        s"decode kernel ran inside $q:\n${p.take(800)}")
    }
  }

  test("d4/d8: the posting stream shuffles once, then both read the buckets") {
    // the grouped posting lists are materialized (localCheckpoint)
    // exactly once and shared: each query's own plan reads the
    // checkpointed RDD and contains NO h-shuffle at all (before this,
    // CTE inlining materialized the 270M-row exchange three times)
    for (q <- Seq("d4_ngram_jaccard_pairs", "d8_containment_pairs")) {
      val p = plan(q)
      assert(p.contains("ExistingRDD"), s"$q no longer reads the checkpointed buckets")
      val postingExchanges = "hashpartitioning\\(h#".r.findAllIn(p).length
      assert(postingExchanges == 0,
        s"$q re-shuffles the posting stream $postingExchanges times")
    }
  }

  test("t26/m18: per-row extraction kernels are map-only — zero exchanges") {
    // HTML extraction and the WAV resample are pure per-row work; any
    // shuffle is a planner regression (at 100 TB these must stay
    // narrow so the downstream stage picks its own partitioning).
    // m18's one narrow decode map is expected; what's pinned is the
    // absence of any exchange.
    for (q <- Seq("t26_html_extract", "m18_audio_resample")) {
      val p = plan(q)
      assert(nonSpreadExchanges(p) == 0, s"$q planned a shuffle:\n${p.take(600)}")
    }
  }

  test("g12: the Morton key is one codegen'd projection — zero exchanges") {
    // the interleave is 32 inlined shift terms, not a HOF; any
    // shuffle or codegen fallback here would poison the write-time
    // sort this key exists to feed
    val p = plan("g12_zorder_layout")
    assert(!p.contains("Exchange"), s"g12 planned a shuffle:\n${p.take(600)}")
    // codegen spans render as `*(n)` prefixes in the plan string
    assert(p.contains("*(1) Project"), "key derivation fell out of codegen")
  }

  test("e21: mutuality is a window, not an edge-table self-join") {
    // the first draft LEFT-JOINed the edge CTE against itself on the
    // reversed key — CTE inlining re-ran the whole cell-blocked
    // candidate pipeline for the probe side and shuffled it twice.
    // The shipped shape counts over the unordered pair key: one
    // window shuffle, no join after edge construction, and the top-k
    // prunes below the shuffle via WindowGroupLimit.
    // r16: the assignment is a checkpointed view (the inline plan
    // re-evaluated the centroid argmax per reference AND broadcast
    // the whole corpus side — fixture-only); the per-cell self-join
    // is now an explicit ShuffledHashJoin on the cell key, the
    // corpus-scale shape, adding its two hash exchanges to the pin
    val p = plan("e21_knn_graph")
    assert(!p.contains("SortMergeJoin"), p.take(600))
    assert(p.contains("ShuffledHashJoin"), "per-cell join lost the hash-join shape")
    assert(p.contains("WindowGroupLimit"), "top-k did not push below the shuffle")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 5,
      s"expected <= 5 hash exchanges (cell join x2, top-k, pair window, final agg), got $exchanges")
  }

  test("e22: centroid table broadcasts; one per-cell window shuffle") {
    val p = plan("e22_proto_prune")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"centroid join did not broadcast:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"), p.take(600))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected 1 hash exchange (cell window), got $exchanges")
  }

  test("m17: CLIP filter serves from the tower sidecar and aggregates map-side") {
    val df = SparkEntry.queries("m17_clip_filter")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_img_tower"),
      s"m17 does not read the persisted tower:\n${p.take(800)}")
    assert(!p.contains("SerializeFromObject"),
      s"decode kernel ran inside m17:\n${p.take(800)}")
    assert(p.contains("partial_count"), "bucket aggregate lost its partial phase")
  }

  test("API-shaped queries that differ only in constants compile on the first run only") {
    assert(spark.conf.get("spark.sql.codegen.fallback") == "false")
    Tables.register(spark, sf)
    val lookup = (k: Int) =>
      s"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = $k"
    val agg = (k: Int) =>
      s"SELECT l_returnflag, count(*) AS n, max(l_extendedprice) AS mx FROM lineitem " +
        s"WHERE l_quantity >= ${10 + k}.0 AND l_discount <= 0.0$k " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    for (shape <- Seq(lookup, agg)) {
      assert(spark.sql(shape(1)).collect().nonEmpty, shape(1))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (2 to 5).foreach(k => assert(spark.sql(shape(k)).collect().nonEmpty, shape(k)))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"$compiled classes compiled for new constants of ${shape(1)}")
    }
  }

  test("filter constants bind in FilterExec only: the scan still pushes the " +
    "literal and the formatted plan prints it as before") {
    Tables.register(spark, sf)
    val df = spark.sql("SELECT c_custkey, c_name FROM customer WHERE c_custkey = 7")
    assert(df.collect().length == 1)
    val plan = df.queryExecution.executedPlan
    val p = plan.toString
    assert(p.contains("EqualTo(c_custkey,7)"), s"the scan lost its pushed literal:\n$p")
    val bound = collect(plan) { case f: FilterExec => f.condition }
      .flatMap(_.collect { case b: graft.functions.BoundLiteral => b })
    assert(bound == Seq(graft.functions.BoundLiteral(7L, org.apache.spark.sql.types.LongType)),
      s"FilterExec does not hold the bound constant:\n$p")
    val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("Condition : .*\\(c_custkey#\\d+L = 7\\)".r.findFirstIn(formatted).isDefined &&
      !formatted.toLowerCase.contains("boundliteral"), formatted)
  }
}
