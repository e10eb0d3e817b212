package graft.simsearch

import graft.{CkptUtil, Op, QueryModule, ScaleCheck, Sql, SqlQ, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Similarity search over the `embeddings` table (`Array[Float]` 64-d
  * vectors): brute-force cosine top-k as the exactness baseline, a
  * blocked near-duplicate pair scan, and an IVF (inverted-file)
  * variant as the scale path.
  *
  * Determinism contract (driver compares doubles exactly): every dot
  * product is an index-ordered sum of `double` products — Spark runs it
  * through the codegen'd `vec_dot` expression, the DuckDB oracle
  * through an index-ordered `list_reduce`; IEEE-754 per-op rounding
  * makes the results bit-identical. Centroids fold vectors in `vec_id`
  * order for the same reason.
  *
  * Scale notes: top-k per query is a crossJoin(Q, N) — fine when Q is
  * small/broadcast; for all-pairs work use IVF cells (or LSH buckets)
  * as the blocking key so the shuffle is per-cell, not n². The IVF
  * centroid build is one groupBy(label); assignment/probe joins
  * broadcast the (tiny) centroid table.
  */
object SimQueries extends QueryModule {

  /** Spark: vectors as array<double> with norms. The element cast is a
    * native `CAST(array<float> AS array<double>)` — bit-identical to
    * the per-element HOF cast it replaces, but codegen'd (HOF lambdas
    * evaluate interpreted and would gate every sim query's scan). */
  private val sparkVecs =
    """WITH v AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(vec_dot(v, v)) AS nrm FROM v)""".stripMargin

  /** DuckDB mirror: index-ordered folds reproduce vec_dot exactly. */
  private val duckVecs =
    """WITH v AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_reduce([y*y for y in v], (a,b) -> a+b)) AS nrm FROM v)""".stripMargin

  private val duckDot =
    "list_reduce([QA[k] * QB[k] for k in generate_series(1, len(QA))], (a,b) -> a+b)"
  private def dDot(a: String, b: String): String =
    duckDot.replace("QA", a).replace("QB", b)

  /** The ADC pipeline CTEs (codes + per-query distance tables +
    * asymmetric distances), shared VERBATIM by e10 (top-5 by ADC) and
    * e15 (ADC shortlist → exact re-rank): seed codebook, per-vector
    * 4-subspace codes, 4×8 broadcast distance tables per query, and
    * `adc(qid, nid, adist)`. Every d² is the same index-ordered fold
    * as e7's, so engine/oracle parity holds to the ulp. */
  private lazy val adcSparkCtes: String =
    """seed AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 8),
      |sub AS (SELECT /*+ BROADCAST(seed) */ n.vec_id, seed.cid, s,
      |    vec_sqdist(n.v, seed.cv, s*16, 16) AS d2
      |  FROM n CROSS JOIN seed LATERAL VIEW explode(sequence(0, 3)) t AS s),
      |best AS (SELECT vec_id, s, cid, d2,
      |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM sub),
      |codes AS (SELECT vec_id,
      |    max(CASE WHEN s=0 THEN cid END) AS code0,
      |    max(CASE WHEN s=1 THEN cid END) AS code1,
      |    max(CASE WHEN s=2 THEN cid END) AS code2,
      |    max(CASE WHEN s=3 THEN cid END) AS code3
      |  FROM best WHERE r = 1 GROUP BY vec_id),
      |q AS (SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id < 5),
      |dt AS (SELECT /*+ BROADCAST(seed) */ qid, seed.cid, s,
      |    vec_sqdist(qv, seed.cv, s*16, 16) AS d2
      |  FROM q CROSS JOIN seed LATERAL VIEW explode(sequence(0, 3)) t AS s),
      |adc AS (SELECT /*+ BROADCAST(d0), BROADCAST(d1), BROADCAST(d2t), BROADCAST(d3) */
      |    d0.qid, codes.vec_id AS nid,
      |    d0.d2 + d1.d2 + d2t.d2 + d3.d2 AS adist
      |  FROM codes
      |  JOIN dt d0 ON d0.s = 0 AND d0.cid = codes.code0
      |  JOIN dt d1 ON d1.s = 1 AND d1.cid = codes.code1 AND d1.qid = d0.qid
      |  JOIN dt d2t ON d2t.s = 2 AND d2t.cid = codes.code2 AND d2t.qid = d0.qid
      |  JOIN dt d3 ON d3.s = 3 AND d3.cid = codes.code3 AND d3.qid = d0.qid
      |  WHERE codes.vec_id != d0.qid)""".stripMargin
  // the dt sides are |queries| × 8 rows per subspace — broadcast them
  // explicitly so the CODES stream (corpus-sized) never sorts: an SMJ
  // here sorts all n codes 4× (the 100 TB anti-shape; observed in the
  // unhinted plan dump)

  /** DuckDB mirror of [[adcSparkCtes]] (index-ordered list folds). */
  private lazy val adcDuckCtes: String =
    """seed AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 8),
      |sub AS (SELECT n.vec_id, seed.cid, s,
      |    list_reduce([(n.v[s*16+k] - seed.cv[s*16+k]) * (n.v[s*16+k] - seed.cv[s*16+k])
      |                 for k in generate_series(1, 16)], (acc, x) -> acc + x) AS d2
      |  FROM n CROSS JOIN seed CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
      |best AS (SELECT vec_id, s, cid, d2,
      |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM sub),
      |codes AS (SELECT vec_id,
      |    max(CASE WHEN s=0 THEN cid END) AS code0,
      |    max(CASE WHEN s=1 THEN cid END) AS code1,
      |    max(CASE WHEN s=2 THEN cid END) AS code2,
      |    max(CASE WHEN s=3 THEN cid END) AS code3
      |  FROM best WHERE r = 1 GROUP BY vec_id),
      |q AS (SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id < 5),
      |dt AS (SELECT qid, seed.cid, s,
      |    list_reduce([(qv[s*16+k] - seed.cv[s*16+k]) * (qv[s*16+k] - seed.cv[s*16+k])
      |                 for k in generate_series(1, 16)], (acc, x) -> acc + x) AS d2
      |  FROM q CROSS JOIN seed CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
      |adc AS (SELECT d0.qid, codes.vec_id AS nid,
      |    d0.d2 + d1.d2 + d2t.d2 + d3.d2 AS adist
      |  FROM codes
      |  JOIN dt d0 ON d0.s = 0 AND d0.cid = codes.code0
      |  JOIN dt d1 ON d1.s = 1 AND d1.cid = codes.code1 AND d1.qid = d0.qid
      |  JOIN dt d2t ON d2t.s = 2 AND d2t.cid = codes.code2 AND d2t.qid = d0.qid
      |  JOIN dt d3 ON d3.s = 3 AND d3.cid = codes.code3 AND d3.qid = d0.qid
      |  WHERE codes.vec_id != d0.qid)""".stripMargin

  /** The binary-quantization pipeline CTEs (sign-bit code words +
    * Hamming shortlist + exact re-rank), shared VERBATIM by e17 (the
    * retrieval listing) and e18 (its recall audit): 64 dims → two
    * BIGINT words of sign bits (`vec_signbits`; 8 bytes/vector, 32×
    * under float32 at rest — and plain columns, so columnar pruning
    * serves a code-only scan, the thing e13 notes an array cannot
    * give), Hamming = XOR+popcount per word (both codegen'd
    * built-ins), 20-deep shortlist per query by (hamming, id), exact
    * cosine re-rank. The query side broadcasts; the corpus side is
    * one scan of two integer columns. `bqtop` ends (qid, nid,
    * hamming, cosine, rnk). */
  private lazy val bqSparkCtes: String =
    """bq AS (SELECT vec_id, v, nrm,
      |    vec_signbits(v, 0, 32) AS c0, vec_signbits(v, 32, 32) AS c1 FROM n),
      |qb AS (SELECT vec_id AS qid, c0 AS qc0, c1 AS qc1 FROM bq WHERE vec_id < 5),
      |ham AS (SELECT /*+ BROADCAST(qb) */ qb.qid, b.vec_id AS nid,
      |    CAST(bit_count(qb.qc0 ^ b.c0) + bit_count(qb.qc1 ^ b.c1) AS INT) AS hamming
      |  FROM bq b CROSS JOIN qb WHERE b.vec_id != qb.qid),
      |bshort AS (SELECT qid, nid, hamming FROM (
      |    SELECT qid, nid, hamming,
      |      row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rs
      |    FROM ham) t WHERE rs <= 20),
      |brr AS (SELECT /*+ BROADCAST(qv), BROADCAST(nv) */
      |    bshort.qid, bshort.nid, bshort.hamming,
      |    vec_dot(qv.v, nv.v) / (qv.nrm * nv.nrm) AS cosine
      |  FROM bshort JOIN n qv ON qv.vec_id = bshort.qid
      |  JOIN n nv ON nv.vec_id = bshort.nid),
      |bqtop AS (SELECT qid, nid, hamming, cosine,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY cosine DESC, nid) AS INT) AS rnk
      |  FROM brr)""".stripMargin
  // the re-rank joins take the e15 trade (documented there): the
  // vector sides hint BROADCAST so the corpus-sized table never
  // enters a sort under any threshold setting

  /** DuckDB mirror of [[bqSparkCtes]]: codes as non-negative
    * 32-bit-word sums (`1::BIGINT << k`, k < 32 — no sign-bit
    * wraparound in either engine), `xor()`+`bit_count`, the same
    * deterministic shortlist and index-ordered cosine fold. */
  private lazy val bqDuckCtes: String =
    s"""bq AS (SELECT vec_id, v, nrm,
       |    list_sum([CASE WHEN v[k+1] > 0 THEN (1::BIGINT << k) ELSE 0 END
       |              for k in generate_series(0, 31)])::BIGINT AS c0,
       |    list_sum([CASE WHEN v[k+33] > 0 THEN (1::BIGINT << k) ELSE 0 END
       |              for k in generate_series(0, 31)])::BIGINT AS c1 FROM n),
       |qb AS (SELECT vec_id AS qid, c0 AS qc0, c1 AS qc1 FROM bq WHERE vec_id < 5),
       |ham AS (SELECT qb.qid, b.vec_id AS nid,
       |    CAST(bit_count(xor(qb.qc0, b.c0)) + bit_count(xor(qb.qc1, b.c1)) AS INT) AS hamming
       |  FROM bq b CROSS JOIN qb WHERE b.vec_id != qb.qid),
       |bshort AS (SELECT qid, nid, hamming FROM (
       |    SELECT qid, nid, hamming,
       |      row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rs
       |    FROM ham) t WHERE rs <= 20),
       |brr AS (SELECT bshort.qid, bshort.nid, bshort.hamming,
       |    ${dDot("qv.v", "nv.v")} / (qv.nrm * nv.nrm) AS cosine
       |  FROM bshort JOIN n qv ON qv.vec_id = bshort.qid
       |  JOIN n nv ON nv.vec_id = bshort.nid),
       |bqtop AS (SELECT qid, nid, hamming, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, nid) AS INT) AS rnk
       |  FROM brr)""".stripMargin

  /** e4's oracle: the global brute-force pair scan. Equality holds
    * because the table count (a function of the band width — `bandBits`
    * is THE scale knob of random-hyperplane LSH: per-band bucket count
    * is 2^bits, so occupancy and candidate pairs stay flat only if
    * bits grows ~log₂ of the corpus) is tuned for full recall at this
    * τ on the fixture corpus; the oracle-checked e4 pins 6 bits.
    * [[e4Recall]] measures the recall at other widths/sizes and
    * [[graft.ScaleProbe]] shows the widened variant restores linear
    * scaling at 10×. */
  private lazy val e4Oracle: String =
    s"""$duckVecs
       |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       |  ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
       |FROM n a, n b WHERE a.vec_id < b.vec_id
       |  AND ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4""".stripMargin

  private def e4Ctes(bandBits: Int, sigFrom: Option[String] = None): String =
    // The verify join BROADCAST-hints the VECTOR side, explicitly —
    // not via the broadcast threshold. The alternatives were measured
    // and rejected at the 100× probe: (a) sort-merge (the default
    // under a 10 MB threshold) drags two 512 B arrays per candidate
    // through a ~1e8-row sort (~200 GB spill, disk death); (b)
    // SHUFFLE_HASH co-partitioning looks bounded but its SECOND join
    // must re-exchange the candidate stream WITH the first side's
    // vector attached (~520 B × 1e8 ≈ 80 GB of shuffle — round-10
    // probe re-measured the disk death). Broadcast ships n ONCE
    // (n × ~600 B; both join sides reuse the same exchange), and the
    // candidate stream never leaves its map task. When n itself
    // outgrows broadcast (≫10⁸ vectors), the serving answer is the
    // IVF family (e3/e11) — bucketed candidates with per-cell joins —
    // not a bigger pair-verify.
    //
    // rph_sig(v, TABLES, bits): the table (band) count scales with
    // the width as 8×bits — widening a band cuts its collision
    // probability p^bits, so growing the table count partially
    // compensates recall = 1-(1-p^bits)^tables (measured at 10×:
    // 0.844 with 64 tables of 8 bits vs 0.756 holding 48 tables).
    // 6 bits ⇒ 48 tables, the oracle-pinned configuration exactly.
    s"""sig AS (${sigFrom.map(v => s"SELECT vec_id, sg FROM $v")
        .getOrElse(s"SELECT vec_id, rph_sig(v, ${8 * bandBits}, $bandBits) AS sg FROM n")}),
       |b AS (SELECT vec_id, t, bv FROM sig LATERAL VIEW posexplode(sg) x AS t, bv),
       |cand AS (SELECT DISTINCT a.vec_id AS i, b2.vec_id AS j
       |  FROM b a JOIN b b2 ON a.t = b2.t AND a.bv = b2.bv AND a.vec_id < b2.vec_id),
       |ver AS (SELECT /*+ BROADCAST(x), BROADCAST(y) */
       |    i, j, vec_dot(x.v, y.v) / (x.nrm * y.nrm) AS cosine
       |  FROM cand JOIN n x ON x.vec_id = cand.i JOIN n y ON y.vec_id = cand.j)""".stripMargin

  private def e4SparkSql(bandBits: Int, sigFrom: Option[String] = None): String =
    s"""$sparkVecs,
       |${e4Ctes(bandBits, sigFrom)}
       |SELECT i AS vec_id_a, j AS vec_id_b, cosine FROM ver WHERE cosine >= 0.4""".stripMargin

  /** The PERSISTED LSH signature table: `rph_sig` per vector at a
    * given band width, built ONCE per (embeddings source, width) as a
    * parquet ingest sidecar — the e11-codes pattern applied to e4.
    * Serving queries (e4_pairs, e4_auto, m6's cosine signal)
    * FileScan the signatures instead of re-running the n × tables ×
    * bits hyperplane pass per query; at 100 TB that pass is the
    * dominant map cost and belongs at ingest, not per query. The memo
    * path carries the embeddings file's source tag (mtime+size — a
    * regenerated corpus invalidates it), the width (each width is its
    * own sidecar; the auto rule picks ONE per corpus size) and the
    * kernel version of `rph_sig`. */
  private[graft] def ensureSigs(spark: SparkSession, sfDir: String,
                                bandBits: Int): String = {
    Tables.register(spark, sfDir)
    val tag = s"${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
      Tables.sourceTag(s"$sfDir/embeddings.parquet")
    // v2: built SPREAD across the session's cores (guide §2.5 — the
    // single-row-group embeddings parquet made the n × tables × bits
    // hyperplane pass ONE task, and the single-file sidecar made every
    // serving query's band explode one task too; the repartition costs
    // one tiny exchange once per corpus and parallelizes both sides)
    val side = s"${sys.props("java.io.tmpdir")}/graft_e4sig2_b${bandBits}_$tag"
    graft.Sidecar.ensure(side) { tmp =>
      spark.sql(s"$sparkVecs SELECT vec_id, v FROM n")
        .repartition(spark.sparkContext.defaultParallelism)
        .selectExpr("vec_id", s"rph_sig(v, ${8 * bandBits}, $bandBits) AS sg")
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** e4 served from the persisted signature sidecar (see
    * [[ensureSigs]]); the verify join's vector side still comes from
    * the live `n` CTE (vectors are not duplicated into the sidecar —
    * the signature is the derived artifact, the corpus is the lake). */
  private[graft] def e4Banded(spark: SparkSession, sfDir: String,
                              bandBits: Int): DataFrame = {
    Sql.bound(spark, e4SparkSql(bandBits, Some("e4_sigs")),
      "e4_sigs" -> spark.read.parquet(ensureSigs(spark, sfDir, bandBits)))
  }

  /** Auto-sized band width: the smallest width keeping expected
    * per-band bucket occupancy (n / 2^bits) at or under ~100 vectors —
    * `bits = ⌈log₂(n/100)⌉`, floor 6. OPEN-ENDED by design (a capped
    * ladder would quietly return to superlinear occupancy past the
    * cap, the exact failure the knob exists to prevent); the ceiling
    * is the 62-bit overflow guard, far past any corpus (2⁶² buckets).
    * The calibration points are measured (`BENCH_sf1.md`): 6 bits is
    * full recall at the 2k-vector fixture, 8 bits restores linear
    * scaling at 10× (20k). Candidate pairs grow with occupancy², so a
    * pinned width is superlinear in corpus size — this is THE scale
    * knob; the table count grows with it as 8×bits so recall holds. */
  /** THE scale knob, auto-sized on a CANDIDATE BUDGET: smallest width
    * whose expected verify work per vector — bucket occupancy
    * (n/2^bits) × table count (8·bits) — stays ≤ ~1600, i.e. total
    * candidates ∝ n BY CONSTRUCTION. Round 7's occupancy-only rule
    * (occupancy ≤ 100) was falsified by the round-8 100× probe: with
    * occupancy pinned near its cap, candidates grew as occ × tables
    * (measured 10×→100× exponent 1.91, 4 s → 335 s, recall 0.485);
    * the budget rule re-measured 1.17 / 40 s, recall 0.201 at the
    * fixture's τ = 0.4 (BENCH_sf1.md). The recall ladder is the
    * PUBLISHED LSH trade, not a defect: at τ = 0.4, p₁ = 1 − θ/π =
    * 0.63 gives ρ = ln p₁ / ln p₂ ≈ 0.67, so CONSTANT recall
    * inherently costs n^1.67 total — no knob escapes it; at the
    * realistic near-dup thresholds this op serves (τ ≥ 0.9,
    * p₁ = 0.86) the same budget holds recall ≈ 1, and m6's
    * multi-signal union exists precisely because one bucketed signal
    * is allowed to miss. At the oracle fixture sizes (n ≤ 2000) both
    * rules choose 6 bits, so `e4_ann_lsh_auto`'s brute-force-oracle
    * equality is unchanged. */
  private[graft] def e4AutoBits(n: Long): Int = {
    val budget = 1600.0
    var bits = 6
    while (bits < 62 &&
      (n.toDouble / math.pow(2.0, bits)) * (8.0 * bits) > budget) bits += 1
    bits
  }

  /** e4 with the band width derived from the corpus size — the
    * production default. At the oracle fixture sizes the auto choice
    * is 6 bits (identical to the pinned `e4_ann_lsh_pairs`), so the
    * brute-force oracle checks this path too. */
  def e4Auto(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val n = spark.table("embeddings").count()
    e4Banded(spark, sfDir, e4AutoBits(n))
  }

  /** Measured recall of the banded candidate generator at `bandBits`
    * against the exact cosine≥τ pair set, restricted to the 1-in-
    * `sampleMod` query sample (sample×corpus stays linear in n, a
    * full exact pair scan would not). Returns (found, total). */
  private[graft] def e4Recall(spark: SparkSession, sfDir: String,
                              bandBits: Int, sampleMod: Int): (Long, Long) = {
    Tables.register(spark, sfDir)
    val row = spark.sql(
      s"""$sparkVecs,
         |${e4Ctes(bandBits)},
         |got AS (SELECT i, j FROM ver WHERE cosine >= 0.4),
         |q AS (SELECT * FROM n WHERE vec_id % $sampleMod = 0),
         |exact AS (SELECT DISTINCT least(q.vec_id, m.vec_id) AS i,
         |    greatest(q.vec_id, m.vec_id) AS j
         |  FROM q JOIN n m ON q.vec_id <> m.vec_id
         |    AND vec_dot(q.v, m.v) / (q.nrm * m.nrm) >= 0.4)
         |SELECT count(*) AS total, count(g.i) AS found
         |FROM exact LEFT JOIN got g ON exact.i = g.i AND exact.j = g.j
         |""".stripMargin).collect()(0)
    (row.getLong(1), row.getLong(0))
  }

  /** Chunk width for the centroid fold: vectors are summed per
    * `vec_id DIV KmChunk` chunk in vec_id order, then the chunk
    * partials are summed in chunk order. The chunk boundary is a pure
    * function of vec_id, so both engines reproduce the identical
    * floating-point op sequence regardless of physical partitioning —
    * Spark aligns one chunk per RDD partition, DuckDB groups on the
    * same expression. (At larger scale the constant grows so the
    * driver-side merge stays k×chunks×dim doubles, not data-sized.) */
  private val KmChunk = 512L

  private val duckElemAdd =
    "(a,b) -> [a[k] + b[k] for k in generate_series(1, len(a))]"

  /** Unrolled Lloyd iterations for the DuckDB oracles (e2/e3/e5b):
    * `cn0` = seed centroids (vectors 0..9), then per iteration an
    * assignment by max cosine (deterministic tie-break on cluster id),
    * a chunked vec_id-ordered centroid fold (see [[KmChunk]] — the op
    * sequence the Spark loop's per-partition partials reproduce
    * bitwise), and re-norm. Lloyd is idempotent at its fixed point, so
    * running a fixed iteration count on both engines sidesteps "did it
    * converge at the same step" while `KmeansConvergenceSpec`
    * separately asserts the fixed point IS reached within the unroll
    * (assignments at N and N−1 identical). Emits `cn0..cn$n` and
    * assignments `asg1..asg$n`. CTEs are MATERIALIZED: DuckDB inlines
    * referenced-once CTEs, and optimizer passes over a 40-level
    * inlined nest go exponential past ~depth 15 (measured: 22 iters =
    * 24s inlined, 41 iters = 5s materialized). */
  private def kmeansCtes(n: Int, seedPred: String = "vec_id < 10"): String = {
    val sb = new StringBuilder(
      s"cn0 AS (SELECT vec_id AS c, v AS cv, nrm AS cnrm FROM n WHERE $seedPred)")
    for (i <- 1 to n) {
      val p = i - 1
      val dot = dDot("n.v", s"cn$p.cv")
      sb ++= s""",
         |a$i AS MATERIALIZED (SELECT n.vec_id, n.v, cn$p.c,
         |        row_number() OVER (PARTITION BY n.vec_id
         |          ORDER BY $dot / (n.nrm * cn$p.cnrm) DESC, cn$p.c) AS r
         |       FROM n CROSS JOIN cn$p),
         |asg$i AS MATERIALIZED (SELECT vec_id, v, c FROM a$i WHERE r = 1),
         |g$i AS MATERIALIZED (SELECT c, vec_id // $KmChunk AS ch,
         |        list_reduce(list(v ORDER BY vec_id), $duckElemAdd) AS pv, count(*) AS cnt
         |      FROM asg$i GROUP BY c, vec_id // $KmChunk),
         |cen$i AS MATERIALIZED (SELECT c, [x / cnt for x in sv] AS cv FROM (
         |      SELECT c, list_reduce(list(pv ORDER BY ch), $duckElemAdd) AS sv,
         |             CAST(sum(cnt) AS BIGINT) AS cnt
         |      FROM g$i GROUP BY c) t$i),
         |cn$i AS MATERIALIZED (SELECT c, cv, sqrt(list_reduce([y*y for y in cv], (a,b) -> a+b)) AS cnrm FROM cen$i)"""
    }
    sb.result().stripMargin
  }

  /** Centroid-update budget shared by the Spark driver loop and the
    * unrolled DuckDB oracle. Lloyd is idempotent at its fixed point,
    * so Spark's early-stopped result equals the oracle's
    * exactly-`KmMaxIter`-updates result whenever the fixed point lands
    * inside the budget (KmeansConvergenceSpec asserts it does; if it
    * ever didn't, the loop runs the full budget and parity still
    * holds). */
  private val KmMaxIter = 40

  /** e21's own budget. Its k grows with the corpus (`e21AutoK` =
    * n/50), so the fixture-tuned 40 is NOT a convergence bound at
    * scale: the round-16 sf1 gate caught the build stopping at the
    * cap a few membership flips short of the fixed point, which made
    * the served state violate the centroid-fixedpoint contract
    * (centroid == chunk-ordered mean of its cells — true only at the
    * bitwise fixed point). Extra budget is free at fixture scale
    * (the loop still stops at the same fixed point, bitwise-identical
    * to the 41-update unrolled oracle by idempotence) and costs
    * ~50 ms/iter at the sf1 corpus (router assignment is
    * n·(√k+branch)·d; the build converged at iter 167 there). A
    * build that exhausts even this budget logs loudly and the
    * contract fails rather than silently certifying. */
  private val E21MaxIter = 1000

  final case class KmResult(centroids: Seq[(Long, Array[Double])],
                            iters: Int, fixedPoint: Boolean)

  private val kmMemo =
    new java.util.concurrent.ConcurrentHashMap[String, KmResult]()

  private def fmtD(d: Double): String = {
    val s = java.lang.Double.toString(d) // shortest repr — exact round trip
    s + "D"
  }

  /** Driver-loop Lloyd (the idiomatic Spark shape, cf. MLlib's
    * KMeans): the vectors live in a cached RDD partitioned once by
    * `vec_id DIV KmChunk` (one chunk per partition, sorted by vec_id
    * inside), centroids live on the driver as k×dim doubles broadcast
    * each iteration. Each iteration is ONE narrow mapPartitions job —
    * per-row argmax against the broadcast centroids (the identical
    * op sequence as [[graft.functions.KmArgmax]]) and a per-(cluster,
    * chunk) zeros-init fold in vec_id order — and the driver receives
    * only k×chunks×dim partial doubles, merging them per cluster in
    * chunk order. That two-level fold is exactly the oracle's
    * `GROUP BY c, vec_id // KmChunk` + chunk-ordered reduce, so
    * centroids are bitwise equal across engines; the loop stops at the
    * BITWISE centroid fixed point (double literals round-trip exactly
    * through shortest-repr formatting). vs the previous per-iteration
    * Catalyst job (shuffle + analysis every iteration, ~130 ms/iter at
    * sf0.1): ~10 ms/iter, and nothing driver-side ever scales with the
    * table — only with k×chunks. Memoized per scale-factor dir: e2, e3
    * and e5b share one build. */
  private[simsearch] def convergedKmeans(spark: SparkSession, sfDir: String,
                                         k: Int = 10): KmResult =
    lloyd(spark, sfDir, KmMaxIter, k)

  /** The driver-loop Lloyd body, parameterized on the iteration budget
    * so e5 (exactly ONE centroid update — the pedagogical
    * demonstration) and e2/e3/e5b (the converged build) share one
    * implementation. Memo key includes the budget: the one-iteration
    * and converged builds coexist without clobbering each other. */
  private def lloyd(spark: SparkSession, sfDir: String, maxIter: Int,
                    k: Int = 10): KmResult = {
    // fingerprint the source file into the memo key: a path alone
    // would serve stale centroids after the parquet under sfDir is
    // regenerated (the groupedPostings hazard), silently breaking
    // oracle parity for e2/e3/e5b
    val key = s"$sfDir#$maxIter#$k#${Tables.sourceTag(s"$sfDir/embeddings.parquet")}"
    kmMemo.computeIfAbsent(key, { _ =>
      Tables.register(spark, sfDir)
      val raw = spark.sql(s"$sparkVecs SELECT vec_id, v, nrm FROM n").rdd
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      val nChunks = (raw.map(_._1).max() / KmChunk + 1).toInt
      val byChunk = new org.apache.spark.Partitioner {
        override def numPartitions: Int = nChunks
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      }
      val chunked = raw.map(t => ((t._1 / KmChunk).toInt, t))
        .partitionBy(byChunk)
        .mapPartitions(it => it.map(_._2).toArray.sortBy(_._1).iterator,
          preservesPartitioning = true)
        .persist()
      try {
        var cents: Seq[(Long, Array[Double])] = chunked
          .filter(_._1 < k).map(t => (t._1, t._2)).collect().sortBy(_._1).toSeq
        var iter = 0
        var fixed = false
        while (iter < maxIter && !fixed) {
          iter += 1
          val cArr = cents.toArray
          val cNrm = cArr.map { case (_, a) => math.sqrt(dotScala(a, a)) }
          // corpus-sized k: per-iteration two-level routing (rebuild
          // the coarse level from THIS iteration's centroids — driver
          // cost k·√k·d·10, distributed saving n·(k − 2√k)·d)
          val router = if (cArr.length > HierK) Some(buildRouter(cArr)) else None
          val bc = spark.sparkContext.broadcast((cArr, cNrm, router))
          // (chunk, cluster, partial sum, member count) — zeros-init
          // vec_id-ordered fold inside the chunk, same per-op rounding
          // as the oracle's in-chunk reduce
          val partials: Array[(Int, Long, Array[Double], Long)] =
            chunked.mapPartitionsWithIndex { (pid, it) =>
              val (cs, cn, rt) = bc.value
              val k = cs.length
              val sums = new Array[Array[Double]](k)
              val cnts = new Array[Long](k)
              it.foreach { case (_, v, nrm) =>
                val bestI = rt match {
                  case Some(r) => r.assign(v, nrm, cs, cn)
                  case None =>
                    var bI = 0
                    var bestS = -1.0e308
                    var ci = 0
                    while (ci < k) {
                      val cv = cs(ci)._2
                      var dot = 0.0
                      var j = 0
                      while (j < cv.length) { dot += v(j) * cv(j); j += 1 }
                      val s = dot / (nrm * cn(ci))
                      if (s > bestS) { bestS = s; bI = ci }
                      ci += 1
                    }
                    bI
                }
                if (sums(bestI) == null) sums(bestI) = new Array[Double](v.length)
                val acc = sums(bestI)
                var j = 0
                while (j < v.length) { acc(j) += v(j); j += 1 }
                cnts(bestI) += 1
              }
              (0 until k).iterator.filter(cnts(_) > 0)
                .map(i => (pid, cs(i)._1, sums(i), cnts(i)))
            }.collect()
          val next: Seq[(Long, Array[Double])] = partials.groupBy(_._2).toSeq
            .map { case (c, ps) =>
              val ordered = ps.sortBy(_._1)
              val dim = ordered.head._3.length
              val acc = new Array[Double](dim)
              var cnt = 0L
              ordered.foreach { p =>
                var j = 0
                while (j < dim) { acc(j) += p._3(j); j += 1 }
                cnt += p._4
              }
              var j = 0
              while (j < dim) { acc(j) /= cnt.toDouble; j += 1 }
              c -> acc
            }.sortBy(_._1)
          bc.destroy()
          fixed = next.length == cents.length &&
            next.zip(cents).forall { case ((c1, a1), (c2, a2)) =>
              c1 == c2 && java.util.Arrays.equals(a1, a2) }
          cents = next
        }
        KmResult(cents, iter, fixed)
      } finally {
        chunked.unpersist()
      }
    })
  }

  /** Literal centroid table CTE `cn(c, cv, cnrm)`. */
  private def centroidCte(cents: Seq[(Long, Array[Double])]): String = {
    val rows = cents.map { case (c, arr) =>
      s"(${c}L, array(${arr.map(fmtD).mkString(",")}))"
    }.mkString(",\n    ")
    s"""cn AS (SELECT col1 AS c, col2 AS cv, sqrt(vec_dot(col2, col2)) AS cnrm
       |  FROM VALUES
       |    $rows)""".stripMargin
  }

  /** Index-ordered dot (the vec_dot fold order — bit-identical). */
  private def dotScala(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Above this centroid count, assignment routes HIERARCHICALLY
    * (two-level: nearest of ~√k coarse centroids, then exhaustive
    * among that branch's fine centroids) instead of exhaustively over
    * all k. Exhaustive argmax is O(k·d) per point — with e21's
    * corpus-sized k (cells ∝ n/50) that made assignment O(n²d/50),
    * the quadratic stage the round-14 100× probe surfaced (measured
    * exponent 1.46; round-13's 0.92 was a steal-skewed pair). Routing
    * costs O((√k + branch)·d) ≈ O(2√k·d) per point — ~50× less at
    * k = 10 000 — at the price of approximate assignment near branch
    * boundaries (the standard IVF two-level trade; HierAssignSpec
    * MEASURES the agreement rate against exhaustive at sf0.1). Every
    * oracle fixture runs k ≤ 64 and keeps the exhaustive bit-exact
    * path, so the DuckDB replays are untouched — the e4AutoBits
    * precedent: the scale knob is inactive at oracle sizes. */
  private val HierK = 64

  /** Two-level routing structure: coarse centroids (a small k-means
    * over the FINE centroids, seeded by the first √k in c order, 10
    * deterministic Lloyd iterations) plus, per coarse branch, the
    * indices of the fine centroids assigned to it. Branches that end
    * up empty are dropped so no data row can strand. */
  private[simsearch] final case class Router(
      coarse: Array[Array[Double]], coarseNrm: Array[Double],
      branches: Array[Array[Int]]) {
    /** Route + branch argmax, self-contained (the case class ships to
      * executors; no reference back to the enclosing module). Same
      * dot/compare op sequence as the exhaustive kernel; ties go to
      * the lowest-index (lowest fine c) candidate via strict `>`. */
    def assign(v: Array[Double], nrm: Double,
               cs: Array[(Long, Array[Double])], cn: Array[Double]): Int = {
      var b = 0
      var bS = -1.0e308
      var i = 0
      while (i < coarse.length) {
        val cv = coarse(i)
        var dot = 0.0
        var j = 0
        while (j < cv.length) { dot += v(j) * cv(j); j += 1 }
        val s = dot / (nrm * coarseNrm(i))
        if (s > bS) { bS = s; b = i }
        i += 1
      }
      val branch = branches(b)
      var best = branch(0)
      var bestS = -1.0e308
      var bi = 0
      while (bi < branch.length) {
        val ci = branch(bi)
        val cv = cs(ci)._2
        var dot = 0.0
        var j = 0
        while (j < cv.length) { dot += v(j) * cv(j); j += 1 }
        val s = dot / (nrm * cn(ci))
        if (s > bestS) { bestS = s; best = ci }
        bi += 1
      }
      best
    }
  }

  private def routeIdx(v: Array[Double], nrm: Double,
                       coarse: Array[Array[Double]],
                       cn: Array[Double]): Int = {
    var best = 0
    var bestS = -1.0e308
    var i = 0
    while (i < coarse.length) {
      val s = dotScala(v, coarse(i)) / (nrm * cn(i))
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    best
  }

  private[simsearch] def buildRouter(
      cents: Array[(Long, Array[Double])]): Router = {
    val k = cents.length
    val dim = cents(0)._2.length
    val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val pts = cents.map(_._2)
    val nrm = pts.map(a => math.sqrt(dotScala(a, a)))
    var coarse = Array.tabulate(k1)(i => pts(i).clone())
    var iter = 0
    while (iter < 10) {
      val cn = coarse.map(a => math.sqrt(dotScala(a, a)))
      val sums = Array.fill(k1)(new Array[Double](dim))
      val cnts = new Array[Long](k1)
      var i = 0
      while (i < k) {
        val b = routeIdx(pts(i), nrm(i), coarse, cn)
        val acc = sums(b)
        var j = 0
        while (j < dim) { acc(j) += pts(i)(j); j += 1 }
        cnts(b) += 1
        i += 1
      }
      coarse = Array.tabulate(k1) { b =>
        if (cnts(b) == 0) coarse(b) // empty branch keeps its centroid
        else {
          val a = sums(b)
          val out = new Array[Double](dim)
          var j = 0
          while (j < dim) { out(j) = a(j) / cnts(b); j += 1 }
          out
        }
      }
      iter += 1
    }
    val cn = coarse.map(a => math.sqrt(dotScala(a, a)))
    val assign = Array.tabulate(k)(i => routeIdx(pts(i), nrm(i), coarse, cn))
    val keep = (0 until k1).filter(b => assign.contains(b)).toArray
    Router(
      keep.map(coarse(_)), keep.map(cn(_)),
      keep.map(b => (0 until k).filter(assign(_) == b).toArray))
  }


  /** Per-row argmax assignment over a LITERAL centroid array — no
    * cross join, no window shuffle: the 50k-row sort per Lloyd
    * iteration was the loop's dominant cost. Ascending-c array order +
    * strict `>` reproduce the window's `DESC, c` tie-break inside the
    * fused [[graft.functions.KmArgmax]] kernel (same index-ordered dot
    * and per-op rounding as vec_dot — assignments are bit-identical to
    * the windowed / oracle formulation, ~20× faster than the
    * interpreted-HOF fold it replaces). */
  private def argmaxAssign(cents: Seq[(Long, Array[Double])]): String = {
    val elems = cents.sortBy(_._1).map { case (c, arr) =>
      val cnrm = fmtD(math.sqrt(dotScala(arr, arr)))
      s"named_struct('c', ${c}L, 'cv', array(${arr.map(fmtD).mkString(",")}), 'cnrm', $cnrm)"
    }.mkString(",\n      ")
    s"""km_argmax(v, nrm, array(
       |      $elems))""".stripMargin
  }

  /** e5b Spark side: final assignment from the converged centroids. */
  private def kmeansAssignments(spark: SparkSession, sfDir: String): DataFrame = {
    val km = convergedKmeans(spark, sfDir)
    spark.sql(
      s"""$sparkVecs
         |SELECT vec_id, ${argmaxAssign(km.centroids)} AS cluster_id FROM n""".stripMargin)
  }

  /** e5 Spark side: assignment after exactly ONE centroid update —
    * the same driver loop with the budget pinned at 1, so the update
    * uses the bounded per-(cluster, chunk) partial fold (never a
    * whole-cluster buffer) and the assignment is the fused
    * [[graft.functions.KmArgmax]] scan. */
  private def oneIterAssignments(spark: SparkSession, sfDir: String): DataFrame = {
    val km = lloyd(spark, sfDir, maxIter = 1)
    spark.sql(
      s"""$sparkVecs
         |SELECT vec_id, ${argmaxAssign(km.centroids)} AS cluster_id FROM n""".stripMargin)
  }

  /** e5 oracle: seeds → one chunked centroid update (cn1) → re-assign
    * (asg2). `kmeansCtes(2)` computes an unused second update; its
    * cost is noise and reusing the shared unroll keeps the op
    * sequence identical to the Spark loop's by construction. */
  private def e5Oracle: String =
    s"""$duckVecs,
       |${kmeansCtes(2)}
       |SELECT vec_id, c AS cluster_id FROM asg2""".stripMargin

  /** e3 Spark side: IVF probe over the converged cells. */
  /** `filter` is an optional metadata predicate over the candidate
    * row alias `n` (e.g. `AND n.label % 3 = 0`) — empty for plain e3,
    * non-empty for e19's filtered search. The predicate is applied
    * INSIDE the probed-cell candidate scan (pre-filtering: every
    * non-matching row is dropped before its distance is computed, and
    * the top-k ranks only matching rows), which is the vector-store
    * "filtered search" contract — post-filtering a fixed top-k would
    * silently return < k rows and lose recall against the filtered
    * ground truth. The index itself is the UNfiltered IVF: one
    * structure serves every predicate. */
  private def ivfTopK(spark: SparkSession, sfDir: String,
                      filter: String = "", qSel: String = ""): DataFrame = {
    val km = convergedKmeans(spark, sfDir)
    spark.sql(
      s"""$sparkVecs,
         |${centroidCte(km.centroids)},
         |asg AS (SELECT vec_id, ${argmaxAssign(km.centroids)} AS c FROM n),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn$qSel FROM n WHERE vec_id < 5),
         |pc AS (SELECT qid, cn.c AS cell,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY vec_dot(qv, cn.cv) / (qn * cn.cnrm) DESC, cn.c) AS cr
         |       FROM q CROSS JOIN cn),
         |probe AS (SELECT qid, cell FROM pc WHERE cr <= 2),
         |s AS (SELECT q.qid, n.vec_id AS nid, vec_dot(q.qv, n.v) / (q.qn * n.nrm) AS sim
         |      FROM q JOIN probe ON probe.qid = q.qid
         |             JOIN asg m ON m.c = probe.cell
         |             JOIN n ON n.vec_id = m.vec_id AND n.vec_id != q.qid$filter)
         |SELECT qid AS query_id, nid AS neighbor_id, sim AS cosine, rnk
         |FROM (SELECT qid, nid, sim,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
         |WHERE rnk <= 5""".stripMargin)
  }

  /** The e19/e20 metadata predicate (candidate alias `n`): labels
    * divisible by 3, ~1/3 of the corpus — selective enough that the
    * filtered and unfiltered top-5 genuinely differ, dense enough
    * that every probed cell still holds candidates. */
  private val FilterPred = " AND n.label % 3 = 0"

  /** The e25/e26 hard-negative predicate: candidates must carry a
    * DIFFERENT label than the query — the contrastive-training miner
    * (each anchor's most-similar wrong-class neighbors are the batch
    * negatives that actually move the loss). Unlike e19's static
    * predicate this one is PER-QUERY, which is why the q CTE exports
    * the query's own label (`qSel`). */
  private val HardNegPred = " AND n.label != q.qlabel"
  private val QLabelSel = ", label AS qlabel"

  private val sqls: Seq[Op] = Seq(

    // E1: brute-force cosine top-10 for 5 query vectors — the exact
    // baseline every ANN variant is judged against (e8 measures e3's
    // recall against it). Query side is tiny => broadcast; the scan
    // side streams once. SCOPE: the crossJoin is the exactness
    // baseline and recall yardstick, valid only while the query side
    // stays small enough to broadcast — for all-pairs or large-Q work
    // the scale paths are e3 (IVF cells) / e4 (LSH buckets), which
    // block candidates before any pairwise work.
    SqlQ.split("e1_knn_bruteforce",
      s"""$sparkVecs,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         |s AS (SELECT qid, n.vec_id AS nid, vec_dot(qv, n.v) / (qn * n.nrm) AS sim
         |      FROM q CROSS JOIN n WHERE n.vec_id != qid)
         |SELECT qid AS query_id, nid AS neighbor_id, sim AS cosine, rnk
         |FROM (SELECT qid, nid, sim,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
         |WHERE rnk <= 10""".stripMargin,
      s"""$duckVecs,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         |s AS (SELECT qid, n.vec_id AS nid, ${dDot("qv", "n.v")} / (qn * n.nrm) AS sim
         |      FROM q CROSS JOIN n WHERE n.vec_id != qid)
         |SELECT qid AS query_id, nid AS neighbor_id, sim AS cosine, rnk
         |FROM (SELECT qid, nid, sim,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
         |WHERE rnk <= 10""".stripMargin),

    // E16: maximum-inner-product search (MIPS) — the retrieval
    // scoring used by un-normalized two-tower models — via the
    // norm-augmentation reduction to cosine (Bachrach et al. 2014 /
    // Neyshabur & Srebro 2015): append sqrt(M² − ‖v‖²) to every
    // corpus vector (M² = max ‖v‖², so augmented norms are all
    // exactly M) and a literal 0 to every query; the augmented
    // cosine is then ip/(M·‖q‖) — monotone in the inner product —
    // so ALL of the cosine serving machinery (e3 IVF cells, e4 LSH
    // buckets, e11 IVFADC) serves MIPS unchanged, which is the
    // point of the operator. The engine ranks by the augmented
    // cosine (the reduction path); the oracle ranks by the raw
    // inner product (the definition). The two orders coincide BY
    // CONSTRUCTION, including under FP rounding: division by the
    // positive constant M·‖q‖ is monotone non-strict, so (cos, ip)
    // pairs are consistently ordered and each side's secondary key
    // is the other's primary — any rounding-induced cosine tie
    // breaks on the exact ip in both engines. The fixture embeddings
    // are unit-normalized (MIPS would degenerate to cosine), so the
    // corpus side is rescaled in-query by exact dyadic factors
    // 1 + (vec_id % 7)/4 — the d11/t11 constructed-fixture move —
    // which makes the ip and cosine orders genuinely differ while
    // queries keep their raw unit vectors.
    SqlQ.split("e16_mips",
      s"""$sparkVecs,
         |sv AS (SELECT vec_id,
         |        transform(v, x -> x * (CAST(1 AS DOUBLE)
         |          + CAST(vec_id % 7 AS DOUBLE) / 4.0)) AS v
         |      FROM n),
         |m AS (SELECT max(vec_dot(v, v)) AS m2 FROM sv),
         |a AS (SELECT /*+ BROADCAST(m) */ vec_id, v,
         |        concat(v, array(sqrt(m.m2 - vec_dot(v, v)))) AS av
         |      FROM sv CROSS JOIN m),
         |an AS (SELECT vec_id, v, av, sqrt(vec_dot(av, av)) AS anrm FROM a),
         |q AS (SELECT vec_id AS qid, v AS qv,
         |        concat(v, array(CAST(0 AS DOUBLE))) AS aqv
         |      FROM n WHERE vec_id < 5),
         |q2 AS (SELECT qid, qv, aqv, sqrt(vec_dot(aqv, aqv)) AS aqn FROM q),
         |s AS (SELECT /*+ BROADCAST(q2) */ qid, an.vec_id AS nid,
         |        vec_dot(qv, an.v) AS ip,
         |        vec_dot(aqv, an.av) / (aqn * an.anrm) AS aug_cos
         |      FROM q2 CROSS JOIN an WHERE an.vec_id != qid)
         |SELECT qid AS query_id, nid AS neighbor_id, ip, aug_cos, rnk
         |FROM (SELECT qid, nid, ip, aug_cos,
         |        CAST(row_number() OVER (PARTITION BY qid
         |          ORDER BY aug_cos DESC, ip DESC, nid) AS INT) AS rnk FROM s) t
         |WHERE rnk <= 10""".stripMargin,
      s"""$duckVecs,
         |sv AS (SELECT vec_id,
         |        [x * (1.0::DOUBLE + (vec_id % 7)::DOUBLE / 4.0) for x in v] AS v
         |      FROM n),
         |m AS (SELECT max(${dDot("v", "v")}) AS m2 FROM sv),
         |a AS (SELECT vec_id, v,
         |        v || [sqrt(m.m2 - ${dDot("v", "v")})] AS av
         |      FROM sv CROSS JOIN m),
         |an AS (SELECT vec_id, v, av, sqrt(${dDot("av", "av")}) AS anrm FROM a),
         |q AS (SELECT vec_id AS qid, v AS qv,
         |        v || [0.0::DOUBLE] AS aqv
         |      FROM n WHERE vec_id < 5),
         |q2 AS (SELECT qid, qv, aqv, sqrt(${dDot("aqv", "aqv")}) AS aqn FROM q),
         |s AS (SELECT qid, an.vec_id AS nid,
         |        ${dDot("qv", "an.v")} AS ip,
         |        ${dDot("aqv", "an.av")} / (aqn * an.anrm) AS aug_cos
         |      FROM q2 CROSS JOIN an WHERE an.vec_id != qid)
         |SELECT qid AS query_id, nid AS neighbor_id, ip, aug_cos, rnk
         |FROM (SELECT qid, nid, ip, aug_cos,
         |        CAST(row_number() OVER (PARTITION BY qid
         |          ORDER BY ip DESC, aug_cos DESC, nid) AS INT) AS rnk FROM s) t
         |WHERE rnk <= 10""".stripMargin),

    // E17: binary-quantization retrieval (sign-bit codes + Hamming
    // shortlist + exact re-rank) — the 1-bit compression serving
    // path modern vector stores ship alongside PQ (e10/e15's ADC is
    // the multi-bit sibling): 64 dims → two BIGINT sign-bit words
    // (vec_signbits), candidate generation is XOR+popcount over a
    // scan that touches ONLY those two integer columns (8
    // bytes/vector — and true columnar pruning applies, which e13 shows
    // an array slice cannot get), then the 20-deep shortlist
    // re-ranks by exact cosine. At 100 TB the codes are an ingest
    // sidecar like e11's (same ensure pattern); in-query build here
    // keeps the oracle one pass. CTEs shared VERBATIM with e18's
    // recall audit (bqSparkCtes/bqDuckCtes above).
    SqlQ.split("e17_bq_rerank",
      s"""$sparkVecs,
         |$bqSparkCtes
         |SELECT qid AS query_id, nid AS neighbor_id, hamming, cosine, rnk
         |FROM bqtop WHERE rnk <= 5""".stripMargin,
      s"""$duckVecs,
         |$bqDuckCtes
         |SELECT qid AS query_id, nid AS neighbor_id, hamming, cosine, rnk
         |FROM bqtop WHERE rnk <= 5""".stripMargin),

    // E18: recall@5 of the binary-quantization path against the
    // exact brute-force top-5 — the e8/e12/e13 accounting contract:
    // every approximate serving path ships with its measured loss.
    SqlQ.split("e18_bq_recall",
      s"""$sparkVecs,
         |$bqSparkCtes,
         |qx AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         |sx AS (SELECT qid, n.vec_id AS nid, vec_dot(qv, n.v) / (qn * n.nrm) AS sim
         |       FROM qx CROSS JOIN n WHERE n.vec_id != qid),
         |exact AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
         |    FROM sx) t WHERE r <= 5)
         |SELECT exact.qid AS query_id, count(b.nid) AS hits,
         |  CAST(count(b.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM exact LEFT JOIN (SELECT qid, nid FROM bqtop WHERE rnk <= 5) b
         |  ON b.qid = exact.qid AND b.nid = exact.nid
         |GROUP BY exact.qid""".stripMargin,
      s"""$duckVecs,
         |$bqDuckCtes,
         |qx AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         |sx AS (SELECT qid, n.vec_id AS nid, ${dDot("qv", "n.v")} / (qn * n.nrm) AS sim
         |       FROM qx CROSS JOIN n WHERE n.vec_id != qid),
         |exact AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
         |    FROM sx) t WHERE r <= 5)
         |SELECT exact.qid AS query_id, count(b.nid) AS hits,
         |  CAST(count(b.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM exact LEFT JOIN (SELECT qid, nid FROM bqtop WHERE rnk <= 5) b
         |  ON b.qid = exact.qid AND b.nid = exact.nid
         |GROUP BY exact.qid""".stripMargin),

    // E2 is programmatic (near-dup pairs blocked on the COMPUTED
    // k-means cell, not a given key) — see `queries` below.

    // E4 is programmatic since round 11 (it serves from the persisted
    // signature sidecar — see `ensureSigs`): bucket-join candidates
    // from 48 tables × 6 sign bits (rph_sig), exact-cosine
    // verification. The oracle is the global brute-force pair scan:
    // equality holds because the table count is tuned for full recall
    // at this τ on this dataset (verified empirically; recall is
    // tunable, the candidate join is the scale path). See `queries`.

    // E5 is programmatic (ONE Lloyd iteration from the seeds — the
    // pedagogical single-update demonstration; the converged build is
    // e5b). It runs on the SAME chunked two-level fold as e5b, so no
    // aggregation buffer ever holds more than one KmChunk of vectors
    // — the former SQL formulation's whole-cluster
    // `collect_list(struct(vec_id, v))` was an executor OOM at scale.
    // See `queries` below; the oracle unrolls the identical update.

    // E6: int8 scalar quantization — the embedding-compression storage
    // path (4× smaller vectors at rest). Per-vector max-abs scale,
    // floor quantization (floor, not round: round ties differ between
    // engines), index-ordered reconstruction-error fold.
    SqlQ.split("e6_scalar_quantize",
      s"""$sparkVecs,
         |s AS (SELECT vec_id, v,
         |        aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x))) AS scale FROM v),
         |q AS (SELECT vec_id, v, scale,
         |        transform(v, x -> CAST(floor(CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE) ELSE x / scale * 127.0 END) AS INT)) AS qv FROM s)
         |SELECT vec_id, scale,
         |  aggregate(qv, 0, (a, b) -> a + b) AS q_sum,
         |  aggregate(zip_with(v, qv, (x, qq) ->
         |      (x - CAST(qq AS DOUBLE) * scale / 127.0) * (x - CAST(qq AS DOUBLE) * scale / 127.0)),
         |    CAST(0 AS DOUBLE), (a, b) -> a + b) AS recon_err
         |FROM q""".stripMargin,
      s"""$duckVecs,
         |s AS (SELECT vec_id, v,
         |        list_reduce([abs(x) for x in v], (a, b) -> greatest(a, b)) AS scale FROM v),
         |q AS (SELECT vec_id, v, scale,
         |        [CAST(floor(CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE) ELSE x / scale * 127.0 END) AS INT) for x in v] AS qv FROM s)
         |SELECT vec_id, scale,
         |  list_reduce(qv, (a, b) -> a + b) AS q_sum,
         |  list_reduce([(v[k] - CAST(qv[k] AS DOUBLE) * scale / 127.0)
         |               * (v[k] - CAST(qv[k] AS DOUBLE) * scale / 127.0)
         |               for k in generate_series(1, len(v))], (a, b) -> a + b) AS recon_err
         |FROM q""".stripMargin),

    // E7: product quantization — the other standard ANN compression
    // (e6 is scalar): 64 dims → 4 subspaces × 16 dims, 8-entry
    // codebook per subspace seeded from vectors 0..7 (codebook FROM
    // seeds keeps the oracle one pass; iterative training is already
    // proven by the e5 family). Code = L2²-nearest centroid per
    // subspace with deterministic tie-break; recon_err adds the four
    // subspace minima in FIXED textual order (no aggregation-order FP
    // drift). Scale shape: codebook broadcasts (8 rows), one scan.
    SqlQ.split("e7_pq_code",
      s"""$sparkVecs,
         |seed AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 8),
         |sub AS (SELECT /*+ BROADCAST(seed) */ n.vec_id, seed.cid, s,
         |    vec_sqdist(n.v, seed.cv, s*16, 16) AS d2
         |  FROM n CROSS JOIN seed LATERAL VIEW explode(sequence(0, 3)) t AS s),
         |best AS (SELECT vec_id, s, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM sub)
         |SELECT vec_id,
         |  max(CASE WHEN s=0 THEN cid END) AS code0,
         |  max(CASE WHEN s=1 THEN cid END) AS code1,
         |  max(CASE WHEN s=2 THEN cid END) AS code2,
         |  max(CASE WHEN s=3 THEN cid END) AS code3,
         |  max(CASE WHEN s=0 THEN d2 END) + max(CASE WHEN s=1 THEN d2 END)
         |    + max(CASE WHEN s=2 THEN d2 END) + max(CASE WHEN s=3 THEN d2 END) AS recon_err
         |FROM best WHERE r = 1 GROUP BY vec_id""".stripMargin,
      s"""$duckVecs,
         |seed AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 8),
         |sub AS (SELECT n.vec_id, seed.cid, s,
         |    list_reduce([(n.v[s*16+k] - seed.cv[s*16+k]) * (n.v[s*16+k] - seed.cv[s*16+k])
         |                 for k in generate_series(1, 16)], (acc, x) -> acc + x) AS d2
         |  FROM n CROSS JOIN seed CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
         |best AS (SELECT vec_id, s, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM sub)
         |SELECT vec_id,
         |  max(CASE WHEN s=0 THEN cid END) AS code0,
         |  max(CASE WHEN s=1 THEN cid END) AS code1,
         |  max(CASE WHEN s=2 THEN cid END) AS code2,
         |  max(CASE WHEN s=3 THEN cid END) AS code3,
         |  max(CASE WHEN s=0 THEN d2 END) + max(CASE WHEN s=1 THEN d2 END)
         |    + max(CASE WHEN s=2 THEN d2 END) + max(CASE WHEN s=3 THEN d2 END) AS recon_err
         |FROM best WHERE r = 1 GROUP BY vec_id""".stripMargin),

    // E10: PQ search by ASYMMETRIC distance computation (Jégou et al.
    // — ADC CTEs shared with e15's two-stage re-rank: adcSparkCtes /
    // adcDuckCtes, defined with the module fragments ABOVE this list.
    // 2011, "Product Quantization for Nearest Neighbor Search" §IV):
    // per query, a tiny distance table d²(q_sub, centroid) per
    // (subspace, centroid) — 4×8 entries here — then the corpus scan
    // touches only the CODES (4 small ints per vector, the
    // memory-compressed representation; at 100 TB the full vectors
    // never leave the ingest job). The table side broadcasts; the
    // sum is 4 lookups per candidate. Top-5 per query, ties to the
    // smaller id — exact-arithmetic parity with the oracle because
    // every d² is the same index-ordered fold as e7's.
    SqlQ.split("e10_pq_adc",
      s"""$sparkVecs,
         |$adcSparkCtes
         |SELECT qid AS query_id, nid AS neighbor_id, adist AS adc_dist, rnk
         |FROM (SELECT qid, nid, adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk FROM adc) t
         |WHERE rnk <= 5""".stripMargin,
      s"""$duckVecs,
         |$adcDuckCtes
         |SELECT qid AS query_id, nid AS neighbor_id, adist AS adc_dist, rnk
         |FROM (SELECT qid, nid, adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk FROM adc) t
         |WHERE rnk <= 5""".stripMargin),

    // E15: TWO-STAGE retrieval — ADC shortlist, exact re-rank (Jégou
    // et al. 2011 §IV-D; the DiskANN/FAISS serving recipe): stage 1
    // scans only the compressed CODES and keeps a 20-deep shortlist
    // per query by asymmetric distance; stage 2 re-ranks the
    // shortlist by exact cosine, top-5. Stage 2 takes the e4
    // verify-join trade (documented at e4Ctes): the vector sides hint
    // BROADCAST — threshold-independent, so the corpus-sized vector
    // table never enters a sort and the tiny shortlist streams
    // without an exchange. When n outgrows broadcast the serving
    // answer is e11's probed-cell join, not a bigger re-rank. ADC
    // CTEs are
    // shared VERBATIM with e10 (adcSparkCtes/adcDuckCtes, defined
    // with the module fragments ABOVE this list).
    SqlQ.split("e15_pq_rerank",
      s"""$sparkVecs,
         |$adcSparkCtes,
         |short AS (SELECT qid, nid, adist FROM (
         |    SELECT qid, nid, adist,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rs
         |    FROM adc) t WHERE rs <= 20),
         |rr AS (SELECT /*+ BROADCAST(qv), BROADCAST(nv) */
         |    short.qid, short.nid, short.adist,
         |    vec_dot(qv.v, nv.v) / (qv.nrm * nv.nrm) AS cosine
         |  FROM short JOIN n qv ON qv.vec_id = short.qid
         |  JOIN n nv ON nv.vec_id = short.nid)
         |SELECT qid AS query_id, nid AS neighbor_id, adist AS adc_dist,
         |  cosine, rnk
         |FROM (SELECT qid, nid, adist, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INT) AS rnk FROM rr) t
         |WHERE rnk <= 5""".stripMargin,
      s"""$duckVecs,
         |$adcDuckCtes,
         |short AS (SELECT qid, nid, adist FROM (
         |    SELECT qid, nid, adist,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rs
         |    FROM adc) t WHERE rs <= 20),
         |rr AS (SELECT short.qid, short.nid, short.adist,
         |    ${dDot("qv.v", "nv.v")} / (qv.nrm * nv.nrm) AS cosine
         |  FROM short JOIN n qv ON qv.vec_id = short.qid
         |  JOIN n nv ON nv.vec_id = short.nid)
         |SELECT qid AS query_id, nid AS neighbor_id, adist AS adc_dist,
         |  cosine, rnk
         |FROM (SELECT qid, nid, adist, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INT) AS rnk FROM rr) t
         |WHERE rnk <= 5""".stripMargin),

    // E13: dimension-truncation quality — the Matryoshka-style
    // question "how much recall do the first 16 of 64 dims keep?",
    // answered as a measured number (the e8 pattern): per query,
    // recall@5 of the truncated-cosine top-5 against the full-dim
    // exact top-5. At scale, truncated search reads a quarter of the
    // vector bytes (column pruning cannot split an array, but a
    // truncated SIDECAR column written at ingest would — this
    // measures whether that sidecar is worth writing). Both engines
    // fold the 16-dim dot in index order.
    SqlQ.split("e13_trunc_recall",
      s"""$sparkVecs,
         |pre AS (SELECT vec_id, v, nrm, slice(v, 1, 16) AS tv FROM n),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, tv AS qtv,
         |         sqrt(vec_dot(tv, tv)) AS tn
         |      FROM pre WHERE vec_id < 5),
         |base AS (SELECT vec_id, v, nrm, tv, sqrt(vec_dot(tv, tv)) AS tnrm FROM pre),
         |exact AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY vec_dot(q.qv, b.v) / (q.qn * b.nrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 5),
         |trunc AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY vec_dot(q.qtv, b.tv) / (q.tn * b.tnrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 5)
         |SELECT exact.qid AS query_id, count(trunc.nid) AS hits,
         |  CAST(count(trunc.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM exact LEFT JOIN trunc
         |  ON trunc.qid = exact.qid AND trunc.nid = exact.nid
         |GROUP BY exact.qid""".stripMargin,
      s"""$duckVecs,
         |pre AS (SELECT vec_id, v, nrm, v[1:16] AS tv FROM n),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, tv AS qtv,
         |         sqrt(${dDot("tv", "tv")}) AS tn
         |      FROM pre WHERE vec_id < 5),
         |base AS (SELECT vec_id, v, nrm, tv, sqrt(${dDot("tv", "tv")}) AS tnrm FROM pre),
         |exact AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dDot("q.qv", "b.v")} / (q.qn * b.nrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 5),
         |trunc AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dDot("q.qtv", "b.tv")} / (q.tn * b.tnrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 5)
         |SELECT exact.qid AS query_id, count(trunc.nid) AS hits,
         |  CAST(count(trunc.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM exact LEFT JOIN trunc
         |  ON trunc.qid = exact.qid AND trunc.nid = exact.nid
         |GROUP BY exact.qid""".stripMargin),

    // E24: Matryoshka two-stage serving (Kusupati et al. 2022's
    // deployment recipe, the truncation sibling of e15's PQ
    // shortlist): stage 1 ranks by the FIRST-16-dims cosine (the
    // cheap prefix an MRL-trained embedding makes meaningful) and
    // keeps a 20-deep shortlist; stage 2 re-ranks only the shortlist
    // at full dimension. The output is the recall accounting against
    // the exact full-dim top-5 — e13 measures what raw truncation
    // loses AT k; this measures what the shortlist+re-rank recovers
    // (at sf0.01: mean recall rises vs e13's direct-truncation row).
    // Scale shape: stage 1 is the corpus scan at 1/4 the dot-product
    // cost (or an index over the prefix); stage 2 touches 20 rows per
    // query — the re-rank join keys on vec_id, broadcastable at any
    // corpus size.
    SqlQ.split("e24_mrl_rerank",
      s"""$sparkVecs,
         |pre AS (SELECT vec_id, v, nrm, slice(v, 1, 16) AS tv FROM n),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, tv AS qtv,
         |         sqrt(vec_dot(tv, tv)) AS tn
         |      FROM pre WHERE vec_id < 5),
         |base AS (SELECT vec_id, v, nrm, tv, sqrt(vec_dot(tv, tv)) AS tnrm FROM pre),
         |exact AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY vec_dot(q.qv, b.v) / (q.qn * b.nrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 5),
         |short AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY vec_dot(q.qtv, b.tv) / (q.tn * b.tnrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 20),
         |rr AS (SELECT qid, nid FROM (
         |  SELECT s.qid, s.nid,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY vec_dot(q.qv, b.v) / (q.qn * b.nrm) DESC, s.nid) AS r
         |  FROM short s JOIN q ON q.qid = s.qid
         |              JOIN base b ON b.vec_id = s.nid) t WHERE r <= 5)
         |SELECT exact.qid AS query_id, count(rr.nid) AS hits,
         |  CAST(count(rr.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM exact LEFT JOIN rr
         |  ON rr.qid = exact.qid AND rr.nid = exact.nid
         |GROUP BY exact.qid""".stripMargin,
      s"""$duckVecs,
         |pre AS (SELECT vec_id, v, nrm, v[1:16] AS tv FROM n),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, tv AS qtv,
         |         sqrt(${dDot("tv", "tv")}) AS tn
         |      FROM pre WHERE vec_id < 5),
         |base AS (SELECT vec_id, v, nrm, tv, sqrt(${dDot("tv", "tv")}) AS tnrm FROM pre),
         |exact AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dDot("q.qv", "b.v")} / (q.qn * b.nrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 5),
         |short AS (SELECT qid, nid FROM (
         |  SELECT q.qid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dDot("q.qtv", "b.tv")} / (q.tn * b.tnrm) DESC, b.vec_id) AS r
         |  FROM q CROSS JOIN base b WHERE b.vec_id != q.qid) t WHERE r <= 20),
         |rr AS (SELECT qid, nid FROM (
         |  SELECT s.qid, s.nid,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY ${dDot("q.qv", "b.v")} / (q.qn * b.nrm) DESC, s.nid) AS r
         |  FROM short s JOIN q ON q.qid = s.qid
         |              JOIN base b ON b.vec_id = s.nid) t WHERE r <= 5)
         |SELECT exact.qid AS query_id, count(rr.nid) AS hits,
         |  CAST(count(rr.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM exact LEFT JOIN rr
         |  ON rr.qid = exact.qid AND rr.nid = exact.nid
         |GROUP BY exact.qid""".stripMargin),

    // E5b / E3 are programmatic (driver-loop Lloyd + IVF probe over
    // the converged cells) — see `queries` below; their oracles unroll
    // the same updates in DuckDB (materialized CTEs keep that linear).
  )

  /** THE near-dup cosine threshold, shared by e2 (pair listing) and
    * e9 (SemDedup retention) in BOTH dialects — one constant so the
    * four SQL sites cannot drift apart. */
  private val NearDupCosine = "0.35"

  /** e2 Spark side: near-dup pairs blocked by the CONVERGED k-means
    * cell — a fully self-contained near-dup path (candidate generation
    * needs no pre-existing key; the per-cell self-join is the blocked
    * shape that never goes globally n²). */
  private def cellNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val km = convergedKmeans(spark, sfDir)
    spark.sql(
      s"""$sparkVecs,
         |asg AS (SELECT vec_id, v, nrm, ${argmaxAssign(km.centroids)} AS c FROM n)
         |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.c AS cell,
         |  vec_dot(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |FROM asg a JOIN asg b ON a.c = b.c AND a.vec_id < b.vec_id
         |WHERE vec_dot(a.v, b.v) / (a.nrm * b.nrm) >= $NearDupCosine""".stripMargin)
  }

  private def e2Oracle: String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1)},
       |fin AS (SELECT asg.vec_id, asg.v, n.nrm, asg.c
       |  FROM asg${KmMaxIter + 1} asg JOIN n ON n.vec_id = asg.vec_id)
       |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.c AS cell,
       |  ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
       |FROM fin a JOIN fin b ON a.c = b.c AND a.vec_id < b.vec_id
       |WHERE ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) >= $NearDupCosine""".stripMargin

  /** e9 SemDedup (Abbas et al. 2023, "SemDedup: Data-efficient
    * learning at web-scale through semantic deduplication"): within
    * each CONVERGED k-means cell, drop every embedding that has a
    * lower-id cell-mate above the cosine threshold — the retained
    * corpus is the output. Reuses e2's blocked per-cell self-join for
    * candidate generation (never globally n²; the cell bound is the
    * published algorithm's own scale argument), then one anti-join
    * back to the assignment. */
  private def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val km = convergedKmeans(spark, sfDir)
    spark.sql(
      s"""$sparkVecs,
         |asg AS (SELECT vec_id, v, nrm, ${argmaxAssign(km.centroids)} AS c FROM n),
         |drp AS (SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b ON a.c = b.c AND a.vec_id < b.vec_id
         |  WHERE vec_dot(a.v, b.v) / (a.nrm * b.nrm) >= $NearDupCosine)
         |SELECT asg.vec_id, asg.c AS cell
         |FROM asg LEFT ANTI JOIN drp ON drp.vec_id = asg.vec_id""".stripMargin)
  }

  private def e9Oracle: String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1)},
       |fin AS (SELECT asg.vec_id, asg.v, n.nrm, asg.c
       |  FROM asg${KmMaxIter + 1} asg JOIN n ON n.vec_id = asg.vec_id),
       |drp AS (SELECT DISTINCT b.vec_id
       |  FROM fin a JOIN fin b ON a.c = b.c AND a.vec_id < b.vec_id
       |  WHERE ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) >= $NearDupCosine)
       |SELECT fin.vec_id, fin.c AS cell
       |FROM fin WHERE fin.vec_id NOT IN (SELECT vec_id FROM drp)""".stripMargin

  private def e5bOracle: String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1)}
       |SELECT vec_id, c AS cluster_id FROM asg${KmMaxIter + 1}""".stripMargin

  /** Neighbors kept per node in the e21 kNN graph. */
  private val KnnGraphK = 3

  /** e21's cell-count rule — the e4AutoBits move applied to the
    * clustering knob: at FIXED cell count the within-cell pair join
    * grows as n²/k (100×-measured exponent 2.67, 1384 s — the one
    * superlinear stage the probe found in the round-12 ops), so the
    * cell count scales with the corpus to keep per-cell membership
    * ~50 and total candidate pairs ~50·n — linear by construction.
    * At the oracle fixture (n = 500) the rule yields exactly the
    * canonical 10 cells, so the DuckDB replay (which unrolls k = 10
    * Lloyd) checks this path unchanged. */
  private[graft] def e21AutoK(n: Long): Int = math.max(10L, n / 50L).toInt

  /** E21: mutual-kNN graph construction — the neighborhood graph
    * behind graph-based semantic dedup, diversity analysis and label
    * propagation (the structure NN-descent approximates at scale;
    * here exact within IVF cells): each node's top-k cosine
    * neighbors AMONG ITS CELL-MATES form the out-edges, and an edge
    * is mutual when its reverse edge also survives the top-k cut —
    * the symmetric core is the high-precision signal. Per-node
    * output: degree, mutual count, the rank-1 neighbor, and the
    * micro-quantized edge-weight sum (t13's integer trick — a raw
    * double sum over k edges would be order-dependent across
    * engines). Scale shape: the candidate join is cell-blocked
    * (e2/e9's contract — never global n²), the top-k window
    * partitions by source node with cell-bounded groups
    * (WindowGroupLimit prunes below the shuffle), and mutuality is
    * ONE count window over the unordered pair key — an edge table
    * self-join on the reversed key would re-run the whole candidate
    * pipeline for the probe side and shuffle it twice (the shape the
    * first draft planned; plan-pinned against regression). */
  /** The shared e21 CTE chain (vectors → assignment → cell-blocked
    * top-k edges → mutuality flag) — consumed by knnGraph's per-node
    * aggregate tail AND e27's edge extraction so the graph definition
    * cannot drift between them (the m15/m21 shared-kernel rule). */
  /** The e21 chain's converged clustering — exposed so the scale-
    * contract sidecars ([[auxDumps]]) dump exactly the state the
    * chain serves from. */
  private[simsearch] def e21Kmeans(spark: SparkSession, sfDir: String): KmResult = {
    Tables.register(spark, sfDir)
    val k = e21AutoK(spark.table("embeddings").count())
    val km = lloyd(spark, sfDir, E21MaxIter, k)
    if (!km.fixedPoint)
      System.err.println(s"[e21] WARNING: Lloyd exhausted $E21MaxIter " +
        s"iterations without reaching the bitwise fixed point (k=$k) — " +
        "the served clustering is NOT converged and the " +
        "centroid-fixedpoint scale contract will fail")
    km
  }

  /** `(vec_id, v, nrm, c)` — the e21 chain's assignment, shared by
    * [[e21Asg]] and the `e21_cells` sidecar dump so the contract
    * anchors to the exact served assignment. */
  private def e21Assignment(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val k = e21AutoK(spark.table("embeddings").count())
    val km = e21Kmeans(spark, sfDir)
    // Corpus-sized k: the per-query assignment routes hierarchically
    // too (same Router as the build loop) as a DataFrame — inlining
    // 10k 64-dim centroid literals into the SQL text would cost MBs of
    // parse per call on top of the O(n·k·d) argmax.
    // At k <= HierK (every oracle fixture) the inline exhaustive
    // argmax below keeps the DuckDB replay bit-exact.
    if (k <= HierK)
      spark.sql(s"""$sparkVecs,
        |asg AS (SELECT vec_id, v, nrm, ${argmaxAssign(km.centroids)} AS c FROM n)
        |SELECT vec_id, v, nrm, c FROM asg""".stripMargin)
    else {
      val cArr = km.centroids.toArray
      val cNrm = cArr.map { case (_, a) => math.sqrt(dotScala(a, a)) }
      val bc = spark.sparkContext.broadcast((cArr, cNrm, buildRouter(cArr)))
      import spark.implicits._
      spark.sql(s"$sparkVecs SELECT vec_id, v, nrm FROM n")
        .as[(Long, Array[Double], Double)]
        .mapPartitions { it =>
          val (cs, cn, r) = bc.value
          it.map { case (id, v, nrm) => (id, v, nrm, cs(r.assign(v, nrm, cs, cn))._1) }
        }.toDF("vec_id", "v", "nrm", "c")
    }
  }

  /** The nn→r→e→m graph tail over an `asg(vec_id, v, nrm, c)` CTE —
    * factored out (r16) so e28/e29 can run it over a CHECKPOINTED
    * assignment view instead of re-parsing the inlined-centroid
    * argmax text (k×d double literals) once per consumer. */
  private def e21GraphTail: String =
    // SHUFFLE_HASH (guide §3.1): the per-cell self-join's sides are
    // corpus-sized, so broadcast is the fixture-only shape (the old
    // inline plan broadcast the whole corpus AND re-evaluated the
    // centroid argmax per reference); hash-partitioning both sides by
    // the ~50-member cell key with a per-partition hash build is the
    // 100 TB shape, and skips the sort an SMJ would pay on every row
    s"""nn AS (SELECT /*+ SHUFFLE_HASH(b) */
       |    a.vec_id AS src, a.c AS cell, b.vec_id AS dst,
       |    vec_dot(a.v, b.v) / (a.nrm * b.nrm) AS sim
       |  FROM asg a JOIN asg b ON b.c = a.c AND b.vec_id != a.vec_id),
       |r AS (SELECT src, cell, dst, sim,
       |    CAST(row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst) AS INT) AS rnk FROM nn),
       |e AS (SELECT src, cell, dst, sim, rnk FROM r WHERE rnk <= $KnnGraphK),
       |m AS (SELECT src, cell, dst, sim, rnk,
       |    CASE WHEN count(*) OVER (PARTITION BY least(src, dst),
       |      greatest(src, dst)) = 2 THEN 1 ELSE 0 END AS mutual
       |  FROM e)""".stripMargin

  /** The e21 assignment pinned as a checkpoint (r16,
    * guide §7.3): at fixture k ≤ HierK the asg CTE inlines k×d double
    * literals (~50 KB of SQL at sf0.1), and Catalyst re-parsed and
    * re-analyzed that text once per consuming query (e21, e27, and
    * e28/e29 before their own pin). One materialization job replaces
    * it; values are bitwise the inline CTE's. */
  private def e21Asg(spark: SparkSession, sfDir: String): DataFrame =
    // each invocation re-materializes (never cached across invocations
    // — that would be result re-use the bench forbids); the consuming
    // query's result still reads these blocks, so they go when that
    // result is dropped, and a concurrent consumer (e27 next to e29)
    // holds its own
    CkptUtil.fresh(e21Assignment(spark, sfDir))

  private def knnGraph(spark: SparkSession, sfDir: String): DataFrame =
    Sql.bound(spark,
      s"""WITH $e21GraphTail
         |SELECT src AS vec_id, cell, CAST(count(*) AS INT) AS out_degree,
         |  CAST(sum(mutual) AS INT) AS n_mutual,
         |  min(CASE WHEN rnk = 1 THEN dst END) AS nn_id,
         |  CAST(sum(CAST(round(sim * 1000000.0) AS BIGINT)) AS BIGINT) AS sim_u_sum
         |FROM m GROUP BY src, cell""".stripMargin,
      "asg" -> e21Asg(spark, sfDir))

  /** E27: PageRank over the mutual-kNN graph — graph-centrality data
    * curation (a document embedded in a dense semantic neighborhood
    * accumulates rank; isolated points keep the teleport floor):
    * damping 0.85, 10 power iterations, EXACT integer arithmetic in
    * micro-units — each node starts at 1 000 000, a round sends
    * `rank div deg` along every mutual edge and settles at
    * `150000 + (850 · Σ inbound) div 1000`. Integer sums are
    * order-independent, so both engines agree bit-for-bit with no
    * float accumulation anywhere (the t13 trick applied to an
    * iterative fixpoint); dangling mass evaporates by definition
    * (documented, matching the oracle). Scale shape: the classic
    * Pregel workload — the edge table (with degrees attached) is
    * checkpointed ONCE and each of the 10 fixed rounds is one
    * edge⋈rank join + a combinable sum keyed on dst; iterates are
    * checkpoint-rebased (the GraphOps lesson: plan + stats must not
    * compound across rounds). At cluster scale the edge table would
    * be bucketed by src so every round's join is shuffle-free on the
    * edge side. */
  private def e27Query(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val em0 = Sql.bound(spark,
      s"""WITH $e21GraphTail
         |SELECT src, dst FROM m WHERE mutual = 1""".stripMargin,
      "asg" -> e21Asg(spark, sfDir))
    pagerankKernel(spark, CkptUtil.fresh(em0),
      CkptUtil.fresh(spark.table("embeddings").select(col("vec_id"))))
  }

  /** e27's PageRank kernel over an arbitrary directed edge table
    * `em(src, dst)` and node table `nodes(vec_id)` — factored out so
    * the ScaleProbe can drive the SAME gate + driver-fold + isolated-
    * node join with a synthetic nodes ≫ edges graph (the round-12
    * gate-hole shape: driver state must stay ≤ 2·edges no matter how
    * large `nodes` is). Inputs should be checkpointed by the caller
    * (both paths re-read them). */
  private[graft] def pagerankKernel(spark: SparkSession,
                                    em: DataFrame,
                                    nodes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // Size gate, the ccMinLabelAuto pattern: the fixpoint is pure
    // integer arithmetic (sum order irrelevant), so below the edge
    // threshold the driver loop computes the IDENTICAL result without
    // paying ~3 Spark jobs × 10 rounds of scheduling on a one-heap
    // graph; the distributed loop below is the >20M-edge path.
    // Driver state is ENDPOINT-keyed only (≤ 2·edges ids — bounded by
    // the same gate that bounds the edge collect; the round-12 hole
    // collected EVERY embedding id, which the edge gate does not
    // bound). A node with no mutual edge neither sends nor receives
    // mass, so its fixpoint is the closed form `150000` from round 1
    // on — isolated nodes get (mdeg 0, rank 150000) through a
    // distributed left join, never a driver collect.
    if (em.limit(20000001).count() <= 20000000L) {
      import spark.implicits._
      val es = em.as[(Long, Long)].collect()
      val degM = new java.util.HashMap[Long, Long]()
      val ids = new java.util.LinkedHashSet[Long]()
      es.foreach { case (s, d) =>
        degM.merge(s, 1L, (a, b) => a + b); ids.add(s); ids.add(d)
      }
      var rank = new java.util.HashMap[Long, Long]()
      ids.iterator().asScala.foreach(id => rank.put(id, 1000000L))
      for (_ <- 1 to 10) {
        val contrib = new java.util.HashMap[Long, Long]()
        es.foreach { case (s, d) =>
          contrib.merge(d, rank.get(s) / degM.get(s), (a, b) => a + b)
        }
        val next = new java.util.HashMap[Long, Long]()
        ids.iterator().asScala.foreach(id =>
          next.put(id, 150000L + 850L * contrib.getOrDefault(id, 0L) / 1000L))
        rank = next
      }
      val ep = spark.createDataset(ids.iterator().asScala.map(id =>
          (id, degM.getOrDefault(id, 0L).toInt, rank.get(id): Long)).toSeq)
        .toDF("ep_id", "ep_deg", "ep_rank")
      return nodes.join(ep, nodes("vec_id") === ep("ep_id"), "left")
        .selectExpr("vec_id", "CAST(coalesce(ep_deg, 0) AS INT) AS mdeg",
          "CAST(coalesce(ep_rank, 150000) AS BIGINT) AS rank_micro")
    }
    val deg = em.groupBy("src").count().withColumnRenamed("count", "deg")
    val edges = CkptUtil.fresh(em.join(deg, "src"))
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (_ <- 1 to 10) {
      val contrib = edges.join(ranks, edges("src") === ranks("vec_id"))
        .selectExpr("dst", "rank div deg AS c")
        .groupBy("dst").sum("c").withColumnRenamed("sum(c)", "s")
      // `div`, not `/`: Column `/` is DOUBLE division — the whole
      // point is exact BIGINT floor arithmetic on both engines
      ranks = CkptUtil.fresh(nodes.join(contrib, nodes("vec_id") === contrib("dst"), "left")
        .selectExpr("vec_id",
          "CAST(150000 + (850 * coalesce(s, 0)) div 1000 AS BIGINT) AS rank"))
    }
    ranks.join(deg, ranks("vec_id") === deg("src"), "left")
      .selectExpr("vec_id", "CAST(coalesce(deg, 0) AS INT) AS mdeg",
        "rank AS rank_micro")
  }

  /** Beam width / hop budget for e28's graph search. Small on
    * purpose: the point is the OPERATOR (deterministic best-first
    * expansion over the kNN graph), and e29 MEASURES what the budget
    * buys in recall instead of hiding it. */
  private val BeamWidth = 8
  private val BeamHops = 3

  /** E28: graph-based ANN serving — best-first beam search over the
    * e21 kNN graph, the serving primitive of the HNSW / DiskANN
    * family (Malkov & Yashunin 2016; Subramanya et al. 2019) and the
    * one ANN style the suite lacked next to IVF (e3), PQ/ADC
    * (e10/e11), LSH (e4) and BQ (e17): seed every query's beam with
    * ONE ENTRY PER CELL (each cell's minimum vec_id — e21's graph is
    * the union of per-cell kNN graphs, so it is DISCONNECTED across
    * cells and a single global entry would strand the search in the
    * entry's own cell: measured recall 0.12 single-entry vs the
    * multi-entry number e29 reports; the entry set is the flat,
    * deterministic substitute for HNSW's upper layers), then for
    * each of [[BeamHops]] rounds expand the beam's out-edges (the
    * directed top-k edges, k = 3), score candidates by exact cosine
    * against the query, and keep the best [[BeamWidth]] per query
    * (ties → lowest id). The final top-5 (self excluded) is the
    * answer.
    *
    * Scale shape: the graph is built ONCE (e21's machinery — cell-
    * blocked, never n²); seeding scores one node per cell (n/50
    * entries — the same O(n/50 · d) a query already pays for the IVF
    * coarse scan), and every hop after is one equi-join of the beam
    * against the edge table plus a per-query top-B window over
    * ≤ B·(k+1) candidate rows — O(hops · beam · k · d) per query,
    * independent of corpus size. At cluster scale the edge table is
    * bucketed by src so every hop's probe join is shuffle-free on
    * the graph side. Determinism: every sim is the index-ordered
    * vec_dot / dDot fold; every cut is (sim DESC, id) — both engines
    * replay bit-identical frontiers. Oracle: the full chain (graph
    * build + unrolled hops) in DuckDB. */
  /** Spark side of the beam search: the graph edges are pinned ONCE
    * (localCheckpoint) and each hop runs as its own materialized step
    * against bound checkpoints. The pure-CTE formulation the oracle
    * replays would INLINE: every hop's UNION references the previous
    * beam twice, so Catalyst copies the whole graph-build pipeline
    * ~2^hops times into one plan (measured 4.8 s vs ~1 s pinned at
    * sf0.1) — the e27/GraphOps iterate-materialization lesson applied
    * to a fixed-depth loop. Returns the frontier `fr(qid, nid, sim,
    * rr)` shared by e28's top-5 tail and e29's recall join, with the
    * query side `q(qid, qv, qn)` and vector side `n(vec_id, v, nrm)`
    * e29's exact top-5 reads. */
  private def e28Frontier(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    Tables.register(spark, sfDir)
    // Pin the ASSIGNMENT once (r16, guide §7.3 "very large plans"):
    // the inlined-centroid argmax text (k×d double literals) was
    // re-parsed/analyzed for BOTH the edge build and the entry set —
    // and per e28Frontier call (so twice again inside e29) — while
    // the hop loop additionally re-computed the sparkVecs casts+norms
    // per hop through the un-materialized vector side. One checkpointed
    // assignment feeds the vector side, the query side, the
    // edge build and the entry set; values are bitwise those of the
    // inline CTE (same expression over the same rows).
    val asg = e21Asg(spark, sfDir)
    val n = asg.select("vec_id", "v", "nrm")
    val q = n.where("vec_id < 5").selectExpr("vec_id AS qid", "v AS qv", "nrm AS qn")
    val edges = CkptUtil.fresh(Sql.bound(spark,
      s"""WITH $e21GraphTail
         |SELECT src, dst FROM e""".stripMargin, "asg" -> asg))
    // Hops UNROLLED into one statement with LINEAR plan growth (r17,
    // verdict ask #3): the r16 unroll referenced each hop's
    // predecessor TWICE (UNION branch + edge-expansion branch), so
    // Catalyst copied the beam subtree 2^hops times — 2 027 formatted
    // plan lines / 136 Exchanges, and parse/analyze/codegen of that
    // text was over half the query's warm time (build 1.0 s vs 0.6 s
    // stage wall). A per-hop localCheckpoint was measured FIRST and
    // rejected: the 4 extra materialization jobs cost more than the
    // duplicated analysis they removed (warm 1.85 → 2.08 s). Instead
    // each hop now reads its predecessor ONCE — keep-or-expand as a
    // LEFT JOIN to the edge table, explode(array(beam node, dst)),
    // DISTINCT — which is set-identical to `c_p UNION expand(c_p)`
    // (explode emits the beam node even when no edge matches; the
    // NULL dst of unmatched rows is filtered; DISTINCT is the UNION
    // dedup). Plan: 2 027 → 304 lines, 136 → 26 Exchanges; same
    // recurrence the DuckDB oracle unrolls, hop for hop.
    val sb = new StringBuilder(
      s"""WITH ent AS (SELECT min(vec_id) AS eid FROM asg GROUP BY c),
         |c0 AS (SELECT q.qid, ent.eid AS nid FROM qs q CROSS JOIN ent)""".stripMargin)
    for (i <- 1 to BeamHops) {
      val p = i - 1
      sb ++= s""",
         |x$i AS (SELECT DISTINCT qid, n AS nid FROM (
         |  SELECT c.qid, explode(array(c.nid, e.dst)) AS n
         |  FROM c$p c LEFT JOIN edges e ON e.src = c.nid) u
         |  WHERE n IS NOT NULL),
         |s$i AS (SELECT x.qid, x.nid,
         |    vec_dot(q.qv, n2.v) / (q.qn * n2.nrm) AS sim
         |  FROM x$i x JOIN qs q ON q.qid = x.qid
         |    JOIN vecs n2 ON n2.vec_id = x.nid),
         |c$i AS (SELECT qid, nid FROM (SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rr
         |  FROM s$i) t WHERE rr <= $BeamWidth)"""
    }
    sb ++= s"""
         |SELECT qid, nid, sim,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rr
         |FROM (SELECT c.qid, c.nid,
         |    vec_dot(q.qv, n2.v) / (q.qn * n2.nrm) AS sim
         |  FROM c$BeamHops c JOIN qs q ON q.qid = c.qid
         |    JOIN vecs n2 ON n2.vec_id = c.nid
         |  WHERE c.nid != c.qid) fs"""
    (Sql.bound(spark, sb.result().stripMargin,
      "asg" -> asg, "qs" -> q, "vecs" -> n, "edges" -> edges), q, n)
  }

  private def e28Query(spark: SparkSession, sfDir: String): DataFrame =
    e28Frontier(spark, sfDir)._1
      .where("rr <= 5")
      .selectExpr("qid AS query_id", "nid AS neighbor_id", "sim",
        "CAST(rr AS INT) AS rnk")

  /** E29: e28's measured recall vs the exact top-5 (the e8/e12/e20
    * convention: every approximate structure ships with its measured
    * answer quality, not an asserted one). */
  private def e29Query(spark: SparkSession, sfDir: String): DataFrame = {
    val (fr, q, n) = e28Frontier(spark, sfDir)
    Sql.bound(spark,
      """WITH got AS (SELECT qid, nid FROM fr WHERE rr <= 5),
        |-- BROADCAST(q): both sides are checkpointed RDD scans whose
        |-- stats no longer mark the 5-row query side broadcastable, so
        |-- the unhinted plan degraded to a 32×32-task CartesianProduct
        |-- (r16 measured: 1024 tasks re-reading the corpus checkpoint)
        |ex0 AS (SELECT /*+ BROADCAST(q) */ q.qid, n2.vec_id AS nid,
        |    vec_dot(q.qv, n2.v) / (q.qn * n2.nrm) AS sim
        |  FROM qs q CROSS JOIN vecs n2 WHERE n2.vec_id != q.qid),
        |ex AS (SELECT qid, nid FROM (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rr
        |  FROM ex0) t WHERE rr <= 5)
        |SELECT ex.qid AS query_id, count(got.nid) AS hits,
        |  CAST(count(got.nid) AS DOUBLE) / 5 AS recall_at_5
        |FROM ex LEFT JOIN got ON got.qid = ex.qid AND got.nid = ex.nid
        |GROUP BY ex.qid""".stripMargin,
      "fr" -> CkptUtil.fresh(fr), "qs" -> q, "vecs" -> n)
  }

  /** DuckDB replay of [[e28Ctes]] (shared by the e28/e29 oracles and,
    * with the sidecar base, by their scale contracts). `base` must
    * provide `n(vec_id, v, nrm)`, `fin(vec_id, v, nrm, c)` and
    * `e(src, dst, …)`. */
  private def e28OracleCtes(base: String): String = {
    val sb = new StringBuilder(
      s"""$base,
         |nn2 AS (SELECT n.vec_id, n.v, n.nrm FROM n),
         |q28 AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         |ent AS (SELECT min(vec_id) AS eid FROM fin GROUP BY c),
         |c0 AS (SELECT q28.qid, ent.eid AS nid FROM q28 CROSS JOIN ent)""".stripMargin)
    for (i <- 1 to BeamHops) {
      val p = i - 1
      sb ++= s""",
         |x$i AS (SELECT qid, nid FROM c$p
         |  UNION
         |  SELECT c.qid, e.dst AS nid FROM c$p c JOIN e ON e.src = c.nid),
         |s$i AS (SELECT x.qid, x.nid,
         |    ${dDot("q28.qv", "n2.v")} / (q28.qn * n2.nrm) AS sim
         |  FROM x$i x JOIN q28 ON q28.qid = x.qid JOIN nn2 n2 ON n2.vec_id = x.nid),
         |r$i AS (SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rr
         |  FROM s$i),
         |c$i AS (SELECT qid, nid FROM r$i WHERE rr <= $BeamWidth)"""
    }
    sb ++= s""",
         |fs AS (SELECT c.qid, c.nid,
         |    ${dDot("q28.qv", "n2.v")} / (q28.qn * n2.nrm) AS sim
         |  FROM c$BeamHops c JOIN q28 ON q28.qid = c.qid
         |    JOIN nn2 n2 ON n2.vec_id = c.nid
         |  WHERE c.nid != c.qid),
         |fr AS (SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rr
         |  FROM fs)"""
    sb.result().stripMargin
  }

  private val e28OracleTail: String =
    """SELECT qid AS query_id, nid AS neighbor_id, sim,
      |  CAST(rr AS INT) AS rnk
      |FROM fr WHERE rr <= 5""".stripMargin

  private def e28Oracle: String =
    s"${e28OracleCtes(e21OracleCtes)}\n$e28OracleTail"

  private val e29OracleTail: String =
    s"""got AS (SELECT qid, nid FROM fr WHERE rr <= 5),
       |ex0 AS (SELECT q28.qid, n2.vec_id AS nid,
       |    ${dDot("q28.qv", "n2.v")} / (q28.qn * n2.nrm) AS sim
       |  FROM q28 CROSS JOIN nn2 n2 WHERE n2.vec_id != q28.qid),
       |ex AS (SELECT qid, nid FROM (SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rr
       |  FROM ex0) t WHERE rr <= 5)
       |SELECT ex.qid AS query_id, count(got.nid) AS hits,
       |  CAST(count(got.nid) AS DOUBLE) / 5 AS recall_at_5
       |FROM ex LEFT JOIN got ON got.qid = ex.qid AND got.nid = ex.nid
       |GROUP BY ex.qid""".stripMargin

  private def e29Oracle: String =
    s"${e28OracleCtes(e21OracleCtes)},\n$e29OracleTail"

  /** E21b: the HIERARCHICAL assignment path, oracle-grade (round-12
    * verdict ask #3) — e21's production route above [[HierK]] was
    * spec-only because every oracle fixture yields k ≤ 64 and stays
    * on the exhaustive argmax. This query expands the corpus 8×
    * deterministically (replica r of a vector is the vector ROTATED
    * by r positions, `vid = vec_id·8 + r` — both engines replay the
    * identical expansion), so [[e21AutoK]] yields 80 > HierK at the
    * sf0.01 oracle fixture, then assigns EVERY expanded vector
    * through the REAL router kernel — [[buildRouter]] +
    * [[Router.assign]], the exact executor code e21Assignment ships
    * above HierK — and the DuckDB oracle replays the same two-level
    * routing end to end: the router's own 10-iteration Lloyd over
    * the fine centroids (c-ordered element folds, the kmeansCtes
    * machinery), empty branches keeping their centroid, the kept-
    * branch filter, coarse argmax then branch argmax with the same
    * `DESC, id` tie-breaks. Fine centroids are the first-k expanded
    * vectors (the seed rule, not a converged Lloyd build): replaying
    * Lloyd-with-nested-router would need a 40×10 unrolled CTE nest,
    * and the ROUTING code — the path real corpora take — is what
    * this gate hash-checks; centroid provenance is already covered
    * by e21's own oracle (k ≤ 64, exhaustive, bit-exact). */
  private val E21bReps = 8

  private def e21bQuery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    import spark.implicits._
    val x = spark.sql(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings)
         |SELECT vec_id * $E21bReps + r AS vid,
         |  transform(sequence(0, size(v) - 1), j -> v[(j + r) % size(v)]) AS v
         |FROM v LATERAL VIEW explode(sequence(0, ${E21bReps - 1})) t AS r""".stripMargin)
    val xs = x.as[(Long, Array[Double])]
    val k = e21AutoK(x.count())
    require(k > HierK,
      s"e21b exists to drive the hierarchical path; k=$k (fixture too small)")
    // fine centroids: the k lowest-vid expanded vectors, ascending —
    // the array index IS the centroid ordinal the router branches on
    val fine = xs.filter(_._1 < k).collect().sortBy(_._1)
    val fNrm = fine.map { case (_, a) => math.sqrt(dotScala(a, a)) }
    val bc = spark.sparkContext.broadcast((fine, fNrm, buildRouter(fine)))
    xs.mapPartitions { it =>
      val (cs, cn, r) = bc.value
      it.map { case (vid, v) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (vid, cs(r.assign(v, math.sqrt(s), cs, cn))._1)
      }
    }.toDF("vec_id", "cell")
  }

  /** DuckDB replay of [[e21bQuery]] — see its scaladoc. */
  private def e21bOracle: String = {
    val elemAdd = duckElemAdd
    val sb = new StringBuilder(
      s"""WITH v0 AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
         |x AS (SELECT vec_id * $E21bReps + r AS vid,
         |    [v[((j + r) % len(v)) + 1] for j in generate_series(0, len(v) - 1)] AS v
         |  FROM v0, range($E21bReps) t(r)),
         |xn AS MATERIALIZED (SELECT vid, v,
         |    sqrt(list_reduce([y*y for y in v], (a,b) -> a+b)) AS nrm FROM x),
         |ks AS (SELECT greatest(10, count(*) // 50) AS k,
         |    greatest(1, CAST(ceil(sqrt(greatest(10, count(*) // 50))) AS BIGINT)) AS k1
         |  FROM xn),
         |f AS MATERIALIZED (SELECT vid AS c, v, nrm FROM xn WHERE vid < (SELECT k FROM ks)),
         |co0 AS (SELECT CAST(row_number() OVER (ORDER BY c) - 1 AS BIGINT) AS b, v AS cv,
         |    nrm AS cnrm
         |  FROM f QUALIFY row_number() OVER (ORDER BY c) <= (SELECT k1 FROM ks))""".stripMargin)
    for (i <- 1 to 10) {
      val p = i - 1
      sb ++= s""",
         |aR$i AS MATERIALIZED (SELECT f.c, f.v, cb.b,
         |    row_number() OVER (PARTITION BY f.c
         |      ORDER BY ${dDot("f.v", "cb.cv")} / (f.nrm * cb.cnrm) DESC, cb.b) AS rr
         |  FROM f CROSS JOIN co$p cb),
         |su$i AS MATERIALIZED (SELECT b, list_reduce(list(v ORDER BY c), $elemAdd) AS sv,
         |    count(*) AS cnt
         |  FROM aR$i WHERE rr = 1 GROUP BY b),
         |ce$i AS MATERIALIZED (SELECT cb.b,
         |    CASE WHEN su.cnt IS NULL THEN cb.cv ELSE [e / su.cnt for e in su.sv] END AS cv
         |  FROM co$p cb LEFT JOIN su$i su ON su.b = cb.b),
         |co$i AS MATERIALIZED (SELECT b, cv,
         |    sqrt(list_reduce([y*y for y in cv], (a,b) -> a+b)) AS cnrm FROM ce$i)"""
    }
    sb ++= s""",
         |brR AS (SELECT f.c, cb.b,
         |    row_number() OVER (PARTITION BY f.c
         |      ORDER BY ${dDot("f.v", "cb.cv")} / (f.nrm * cb.cnrm) DESC, cb.b) AS rr
         |  FROM f CROSS JOIN co10 cb),
         |br AS MATERIALIZED (SELECT c, b FROM brR WHERE rr = 1),
         |keptc AS MATERIALIZED (SELECT co10.b, co10.cv, co10.cnrm
         |  FROM co10 JOIN (SELECT DISTINCT b FROM br) kb ON kb.b = co10.b),
         |rt AS (SELECT xn.vid, cb.b,
         |    row_number() OVER (PARTITION BY xn.vid
         |      ORDER BY ${dDot("xn.v", "cb.cv")} / (xn.nrm * cb.cnrm) DESC, cb.b) AS rr
         |  FROM xn CROSS JOIN keptc cb),
         |r1 AS MATERIALIZED (SELECT vid, b FROM rt WHERE rr = 1),
         |fin AS (SELECT r1.vid, f2.c,
         |    row_number() OVER (PARTITION BY r1.vid
         |      ORDER BY ${dDot("xn.v", "f2.v")} / (xn.nrm * f2.nrm) DESC, f2.c) AS rr
         |  FROM r1 JOIN br ON br.b = r1.b JOIN f f2 ON f2.c = br.c
         |    JOIN xn ON xn.vid = r1.vid)
         |SELECT vid AS vec_id, c AS cell FROM fin WHERE rr = 1"""
    sb.result().stripMargin
  }

  /** e21's replay derives its SEED COUNT from the fixture itself —
    * `greatest(10, n // 50)` is [[e21AutoK]] verbatim — so the oracle
    * tracks knnGraph's corpus-sized k at ANY scale factor instead of
    * hardwiring the k=10 the canonical sf0.01 fixture happens to
    * yield (a larger-sf oracle run would otherwise false-fail e21
    * with no hint why). The unrolled Lloyd CTEs are k-agnostic
    * beyond the seed predicate: assignment cross-joins whatever cn
    * holds, and the chunked fold groups by c. */
  /** The shared e21 oracle chain (DuckDB twin of [[e21Assignment]] + [[e21GraphTail]]). */
  private def e21OracleCtes: String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1,
          "vec_id < greatest(10, (SELECT count(*) FROM n) // 50)")},
       |fin AS (SELECT asg.vec_id, asg.v, n.nrm, asg.c
       |  FROM asg${KmMaxIter + 1} asg JOIN n ON n.vec_id = asg.vec_id),
       |nn AS (SELECT a.vec_id AS src, a.c AS cell, b.vec_id AS dst,
       |    ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) AS sim
       |  FROM fin a, fin b WHERE b.c = a.c AND b.vec_id != a.vec_id),
       |r AS (SELECT src, cell, dst, sim,
       |    CAST(row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst) AS INT) AS rnk FROM nn),
       |e AS (SELECT src, cell, dst, sim, rnk FROM r WHERE rnk <= $KnnGraphK),
       |m AS (SELECT src, cell, dst, sim, rnk,
       |    CASE WHEN count(*) OVER (PARTITION BY least(src, dst),
       |      greatest(src, dst)) = 2 THEN 1 ELSE 0 END AS mutual
       |  FROM e)""".stripMargin

  private val e21OracleTail: String =
    """SELECT src AS vec_id, cell, count(*)::INT AS out_degree,
      |  sum(mutual)::INT AS n_mutual,
      |  min(CASE WHEN rnk = 1 THEN dst END) AS nn_id,
      |  sum(CAST(round(sim * 1000000.0) AS BIGINT))::BIGINT AS sim_u_sum
      |FROM m GROUP BY src, cell""".stripMargin

  private def e21Oracle: String =
    s"$e21OracleCtes\n$e21OracleTail"

  /** e27 oracle: the shared e21 graph chain → mutual edges → ten
    * unrolled integer power-iteration CTEs (the kmeansCtes unroll
    * pattern applied to PageRank). */
  private def e27Oracle: String = e27OracleFrom(e21OracleCtes)

  private def e27OracleFrom(base: String): String = {
    val sb = new StringBuilder(
      s"""$base,
         |em AS (SELECT src, dst FROM m WHERE mutual = 1),
         |dg AS (SELECT src, count(*)::BIGINT AS deg FROM em GROUP BY src),
         |em2 AS (SELECT em.src, em.dst, dg.deg FROM em JOIN dg ON dg.src = em.src),
         |pr0 AS (SELECT vec_id, 1000000::BIGINT AS rank FROM n)""".stripMargin)
    for (i <- 1 to 10) {
      val p = i - 1
      sb ++= s""",
         |pr$i AS (SELECT n.vec_id,
         |    (150000 + (850 * coalesce(s.s, 0)) // 1000)::BIGINT AS rank
         |  FROM n LEFT JOIN (
         |    SELECT dst, sum(pr$p.rank // em2.deg)::BIGINT AS s
         |    FROM em2 JOIN pr$p ON pr$p.vec_id = em2.src GROUP BY dst) s
         |  ON s.dst = n.vec_id)"""
    }
    sb ++= s"""
         |SELECT n.vec_id, coalesce(dg.deg, 0)::INT AS mdeg,
         |  pr10.rank AS rank_micro
         |FROM n JOIN pr10 ON pr10.vec_id = n.vec_id
         |LEFT JOIN dg ON dg.src = n.vec_id"""
    sb.result().stripMargin
  }

  /** E22: prototypicality pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws"): rank each embedding by cosine to its own
    * cluster centroid — the self-supervised prototypicality metric —
    * and, data being abundant, PRUNE THE EASIEST (most prototypical)
    * 30% of every cell; the hard band carries the marginal training
    * signal. Output is the per-vector verdict (rank, cell size, the
    * micro-quantized score, kept flag) a selection step joins on.
    * Scale shape: the centroid table is k rows — broadcast by
    * construction (inlined literals here); the only shuffle is the
    * per-cell rank window, whose partitions are corpus/k-sized —
    * beyond memory-bounded cells the standard move is sub-clustering
    * first (the paper's own setup: k grows with n). */
  private def protoPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val km = convergedKmeans(spark, sfDir)
    spark.sql(
      s"""$sparkVecs,
         |${centroidCte(km.centroids)},
         |asg AS (SELECT vec_id, v, nrm, ${argmaxAssign(km.centroids)} AS c FROM n),
         |p AS (SELECT asg.vec_id, asg.c AS cell,
         |    vec_dot(asg.v, cn.cv) / (asg.nrm * cn.cnrm) AS proto_cos
         |  FROM asg JOIN cn ON cn.c = asg.c),
         |r AS (SELECT vec_id, cell, proto_cos,
         |    CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY proto_cos DESC, vec_id) AS INT) AS proto_rank,
         |    CAST(count(*) OVER (PARTITION BY cell) AS INT) AS cell_n
         |  FROM p)
         |SELECT vec_id, cell, proto_rank, cell_n,
         |  CAST(round(proto_cos * 1000000.0) AS BIGINT) AS proto_u,
         |  CASE WHEN proto_rank * 10 > 3 * cell_n THEN 1 ELSE 0 END AS kept
         |FROM r""".stripMargin)
  }

  private def e22Oracle: String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1)},
       |fin AS (SELECT asg.vec_id, asg.v, n.nrm, asg.c
       |  FROM asg${KmMaxIter + 1} asg JOIN n ON n.vec_id = asg.vec_id),
       |p AS (SELECT fin.vec_id, fin.c AS cell,
       |    ${dDot("fin.v", "cn.cv")} / (fin.nrm * cn.cnrm) AS proto_cos
       |  FROM fin JOIN cn$KmMaxIter cn ON cn.c = fin.c),
       |r AS (SELECT vec_id, cell, proto_cos,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY proto_cos DESC, vec_id) AS INT) AS proto_rank,
       |    CAST(count(*) OVER (PARTITION BY cell) AS INT) AS cell_n
       |  FROM p)
       |SELECT vec_id, cell, proto_rank, cell_n,
       |  CAST(round(proto_cos * 1000000.0) AS BIGINT) AS proto_u,
       |  (CASE WHEN proto_rank * 10 > 3 * cell_n THEN 1 ELSE 0 END)::INT AS kept
       |FROM r""".stripMargin

  /** E23: probe-budget recall sweep — the tuning measurement an IVF
    * deployment runs before fixing nprobe (Jégou et al. 2011 §V.A's
    * recall-vs-probe curves): recall@5 against the exact top-5 at
    * nprobe ∈ {1, 2, 4} in ONE query, per query vector. e8 checks the
    * shipped 2-probe point; this measures the curve around it, so the
    * cost/recall trade is a table, not a guess. Scale shape: the
    * probe fan-out multiplies only the CANDIDATE scan (each probe
    * level touches ~nprobe/k of the corpus — the IVF contract); the
    * probe table is 3 literal rows (broadcast), cells route by one
    * equality join, and the per-(probe, query) top-k windows are
    * candidate-bounded. */
  private def probeSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val km = convergedKmeans(spark, sfDir)
    spark.sql(
      s"""$sparkVecs,
         |${centroidCte(km.centroids)},
         |asg AS (SELECT vec_id, ${argmaxAssign(km.centroids)} AS c FROM n),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         |pc AS (SELECT qid, cn.c AS cell,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY vec_dot(qv, cn.cv) / (qn * cn.cnrm) DESC, cn.c) AS cr
         |       FROM q CROSS JOIN cn),
         |pr AS (SELECT explode(array(1, 2, 4)) AS n_probes),
         |probe AS (SELECT pr.n_probes, pc.qid, pc.cell
         |  FROM pc JOIN pr ON pc.cr <= pr.n_probes),
         |s AS (SELECT probe.n_probes, q.qid, n.vec_id AS nid,
         |        vec_dot(q.qv, n.v) / (q.qn * n.nrm) AS sim
         |      FROM q JOIN probe ON probe.qid = q.qid
         |             JOIN asg m ON m.c = probe.cell
         |             JOIN n ON n.vec_id = m.vec_id AND n.vec_id != q.qid),
         |ivf AS (SELECT n_probes, qid, nid FROM (
         |    SELECT n_probes, qid, nid, row_number() OVER (
         |      PARTITION BY n_probes, qid ORDER BY sim DESC, nid) AS rnk FROM s) t
         |  WHERE rnk <= 5),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT q.qid, n.vec_id AS nid, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY vec_dot(q.qv, n.v) / (q.qn * n.nrm) DESC, n.vec_id) AS rnk
         |    FROM q CROSS JOIN n WHERE n.vec_id != q.qid) t WHERE rnk <= 5),
         |pe AS (SELECT pr.n_probes, ex.qid, ex.nid FROM pr CROSS JOIN ex)
         |SELECT pe.n_probes, pe.qid AS query_id,
         |  CAST(count(ivf.nid) AS BIGINT) AS hits,
         |  CAST(count(ivf.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM pe LEFT JOIN ivf ON ivf.n_probes = pe.n_probes
         |  AND ivf.qid = pe.qid AND ivf.nid = pe.nid
         |GROUP BY pe.n_probes, pe.qid""".stripMargin)
  }

  private def e23Oracle: String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1)},
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
       |pc AS (SELECT qid, cn$KmMaxIter.c AS cell,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY ${dDot("qv", s"cn$KmMaxIter.cv")} / (qn * cn$KmMaxIter.cnrm) DESC, cn$KmMaxIter.c) AS cr
       |       FROM q CROSS JOIN cn$KmMaxIter),
       |pr AS (SELECT unnest([1, 2, 4]) AS n_probes),
       |probe AS (SELECT pr.n_probes, pc.qid, pc.cell
       |  FROM pc JOIN pr ON pc.cr <= pr.n_probes),
       |s AS (SELECT probe.n_probes, q.qid, n.vec_id AS nid,
       |        ${dDot("q.qv", "n.v")} / (q.qn * n.nrm) AS sim
       |      FROM q JOIN probe ON probe.qid = q.qid
       |             JOIN asg${KmMaxIter + 1} m ON m.c = probe.cell
       |             JOIN n ON n.vec_id = m.vec_id AND n.vec_id != q.qid),
       |ivf AS (SELECT n_probes, qid, nid FROM (
       |    SELECT n_probes, qid, nid, row_number() OVER (
       |      PARTITION BY n_probes, qid ORDER BY sim DESC, nid) AS rnk FROM s) t
       |  WHERE rnk <= 5),
       |ex AS (SELECT qid, nid FROM (
       |    SELECT q.qid, n.vec_id AS nid, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${dDot("q.qv", "n.v")} / (q.qn * n.nrm) DESC, n.vec_id) AS rnk
       |    FROM q CROSS JOIN n WHERE n.vec_id != q.qid) t WHERE rnk <= 5),
       |pe AS (SELECT pr.n_probes, ex.qid, ex.nid FROM pr CROSS JOIN ex)
       |SELECT pe.n_probes, pe.qid AS query_id,
       |  count(ivf.nid)::BIGINT AS hits,
       |  CAST(count(ivf.nid) AS DOUBLE) / 5 AS recall_at_5
       |FROM pe LEFT JOIN ivf ON ivf.n_probes = pe.n_probes
       |  AND ivf.qid = pe.qid AND ivf.nid = pe.nid
       |GROUP BY pe.n_probes, pe.qid""".stripMargin

  private def e3Oracle: String = ivfOracle("")

  /** DuckDB replay of [[ivfTopK]] (k-means CTE chain + 2-probe scan);
    * `filter` mirrors the engine's candidate predicate verbatim. */
  private def ivfOracle(filter: String, qSel: String = ""): String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1)},
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn$qSel FROM n WHERE vec_id < 5),
       |pc AS (SELECT qid, cn$KmMaxIter.c AS cell,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY ${dDot("qv", s"cn$KmMaxIter.cv")} / (qn * cn$KmMaxIter.cnrm) DESC, cn$KmMaxIter.c) AS cr
       |       FROM q CROSS JOIN cn$KmMaxIter),
       |probe AS (SELECT qid, cell FROM pc WHERE cr <= 2),
       |s AS (SELECT q.qid, n.vec_id AS nid, ${dDot("q.qv", "n.v")} / (q.qn * n.nrm) AS sim
       |      FROM q JOIN probe ON probe.qid = q.qid
       |             JOIN asg${KmMaxIter + 1} m ON m.c = probe.cell
       |             JOIN n ON n.vec_id = m.vec_id AND n.vec_id != q.qid$filter)
       |SELECT qid AS query_id, nid AS neighbor_id, sim AS cosine, rnk
       |FROM (SELECT qid, nid, sim,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
       |WHERE rnk <= 5""".stripMargin

  /** e8: recall accounting for the ANN path — "measure, don't guess":
    * recall@5 of the 2-probe IVF (e3) against the exact brute-force
    * top-5 (e1's pipeline), per query. hits is an integer count and
    * recall one IEEE division, so the oracle hash-matches. The join
    * is 25 rows × 25 rows — the measurement costs nothing next to the
    * pipelines it audits. */
  private def exactTop5Sql(nQ: Int = 5, filter: String = "",
                           qSel: String = ""): String =
    s"""$sparkVecs,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn$qSel FROM n WHERE vec_id < $nQ),
       |s AS (SELECT qid, n.vec_id AS nid, vec_dot(qv, n.v) / (qn * n.nrm) AS sim
       |      FROM q CROSS JOIN n WHERE n.vec_id != qid$filter)
       |SELECT qid AS query_id, nid AS neighbor_id
       |FROM (SELECT qid, nid, sim,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
       |WHERE rnk <= 5""".stripMargin

  private def ivfRecall(spark: SparkSession, sfDir: String,
                        candFilter: String = "", qSel: String = ""): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.register(spark, sfDir)
    val exact = spark.sql(exactTop5Sql(filter = candFilter, qSel = qSel)).as("e")
    // both sides are |queries|·5 rows; hint the probe side so the
    // recall join broadcasts regardless of threshold/stats (the
    // static planner SMJ'd it — 2 sorts + an exchange for 25 rows)
    val ivf = broadcast(ivfTopK(spark, sfDir, candFilter, qSel)
      .select(col("query_id"), col("neighbor_id"))).as("i")
    exact.join(ivf,
        col("e.query_id") === col("i.query_id") &&
          col("e.neighbor_id") === col("i.neighbor_id"), "left")
      .groupBy(col("e.query_id").as("query_id"))
      .agg(count(col("i.neighbor_id")).as("hits"),
        (count(col("i.neighbor_id")).cast("double") / 5).as("recall_at_5"))
  }

  /** e11 Spark side: IVFADC (Jégou et al. 2011 §V, "Product
    * Quantization for Nearest Neighbor Search") — the composed
    * at-scale ANN serving shape: a coarse IVF quantizer (the
    * converged k-means cells, broadcast as literals like e3) routes
    * each query to its 2 best cells; within a cell, vectors are
    * represented ONLY by PQ codes of their RESIDUAL v − centroid
    * (residuals concentrate near 0, so the same codebook budget
    * quantizes them far better than raw vectors — the paper's central
    * trick); the query builds one tiny per-(probed cell, subspace)
    * distance table of its own residual against the codebook and the
    * scan sums 4 table lookups per candidate. 100 TB story: the full
    * vectors never leave the ingest job (codes are 4 small ints), the
    * distance tables broadcast, and a probe touches ~2/k of the
    * corpus; the codes carry their cell so candidate selection is one
    * equality join on the probed cell, no second shuffle. Codebook =
    * the 8 seed vectors' residuals (fixture-sized like e7's seeds;
    * k-means-trained codebooks drop in without changing the shape).
    *
    * The codes and codebook are an INGEST ARTIFACT, not a query
    * stage: [[ensurePqArtifacts]] builds them once per corpus version
    * into parquet sidecars (memoized under /tmp like the raster lakes
    * and the k-means fixed point), and the serving query reads them
    * back — at 100 TB the corpus-wide quantization pass runs exactly
    * once per ingest, and a query's executed plan contains NO
    * corpus-wide window/aggregate (pinned in PlanInvariantsSpec: the
    * codes enter from a FileScan, the code-build window is absent). */
  private def ensurePqArtifacts(spark: SparkSession, sfDir: String): (String, String) = {
    // fingerprint the source parquet into the sidecar path (the
    // shared Tables.sourceTag scheme — see its doc for the staleness
    // hazard)
    val base = s"${sys.props("java.io.tmpdir")}/graft_e11_v2_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}_${Tables.sourceTag(s"$sfDir/embeddings.parquet")}"
    val codesDir = s"$base/codes"
    val bookDir = s"$base/codebook"
    // atomic staged build of BOTH artifacts under one base (the
    // graft.Sidecar contract — a root _SUCCESS marks the pair
    // complete; concurrent drivers serialize on the base lock)
    graft.Sidecar.ensure(base) { tmp =>
      Tables.register(spark, sfDir)
      val km = convergedKmeans(spark, sfDir)
      // v2: the assignment/residual pass runs SPREAD across the
      // session's cores (guide §2.5 — the single-row-group embeddings
      // parquet made the corpus-wide argmax/quantize pass ONE task;
      // parallelism now comes from Tables.register's scale-guarded
      // spread of the embeddings view), and the sidecar lands
      // multi-part so serving scans parallelize
      val resCtes =
        s"""$sparkVecs,
           |${centroidCte(km.centroids)},
           |asg AS (SELECT vec_id, v, ${argmaxAssign(km.centroids)} AS c FROM n),
           |res AS (SELECT asg.vec_id, asg.c,
           |    zip_with(asg.v, cn.cv, (a, b) -> a - b) AS rv
           |  FROM asg JOIN cn ON cn.c = asg.c),
           |seed AS (SELECT vec_id AS cid, rv AS cv FROM res WHERE vec_id < 8)""".stripMargin
      spark.sql(s"$resCtes SELECT cid, cv FROM seed")
        .write.mode("overwrite").parquet(s"$tmp/codebook")
      spark.sql(
        s"""$resCtes,
           |sub AS (SELECT /*+ BROADCAST(seed) */ res.vec_id, res.c, seed.cid, s,
           |    vec_sqdist(res.rv, seed.cv, s*16, 16) AS d2
           |  FROM res CROSS JOIN seed LATERAL VIEW explode(sequence(0, 3)) t AS s),
           |best AS (SELECT vec_id, c, s, cid, d2,
           |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM sub)
           |SELECT vec_id, c,
           |    max(CASE WHEN s=0 THEN cid END) AS code0,
           |    max(CASE WHEN s=1 THEN cid END) AS code1,
           |    max(CASE WHEN s=2 THEN cid END) AS code2,
           |    max(CASE WHEN s=3 THEN cid END) AS code3
           |FROM best WHERE r = 1 GROUP BY vec_id, c""".stripMargin)
        .write.mode("overwrite").parquet(s"$tmp/codes")
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(tmp, "_SUCCESS")): Unit
    }
    (codesDir, bookDir)
  }

  private def ivfPqTopK(spark: SparkSession, sfDir: String,
                        nQ: Int = 5): DataFrame = {
    val (codesDir, bookDir) = ensurePqArtifacts(spark, sfDir)
    Tables.register(spark, sfDir)
    val km = convergedKmeans(spark, sfDir)
    Sql.bound(spark,
      s"""$sparkVecs,
         |${centroidCte(km.centroids)},
         |seed AS (SELECT cid, cv FROM e11_book),
         |codes AS (SELECT vec_id, c, code0, code1, code2, code3 FROM e11_codes),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < $nQ),
         |pc AS (SELECT qid, cn.c AS cell,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY vec_dot(qv, cn.cv) / (qn * cn.cnrm) DESC, cn.c) AS cr
         |       FROM q CROSS JOIN cn),
         |probe AS (SELECT qid, cell FROM pc WHERE cr <= 2),
         |qres AS (SELECT probe.qid, probe.cell,
         |    zip_with(q.qv, cn.cv, (a, b) -> a - b) AS qrv
         |  FROM probe JOIN q ON q.qid = probe.qid JOIN cn ON cn.c = probe.cell),
         |dt AS (SELECT /*+ BROADCAST(seed) */ qres.qid, qres.cell, seed.cid, s,
         |    vec_sqdist(qres.qrv, seed.cv, s*16, 16) AS d2
         |  FROM qres CROSS JOIN seed LATERAL VIEW explode(sequence(0, 3)) t AS s),
         |cand AS (SELECT /*+ BROADCAST(probe) */
         |    probe.qid, codes.vec_id AS nid, probe.cell,
         |    codes.code0, codes.code1, codes.code2, codes.code3
         |  FROM probe JOIN codes ON codes.c = probe.cell
         |  WHERE codes.vec_id != probe.qid),
         |adc AS (SELECT /*+ BROADCAST(d0, d1, d2t, d3) */
         |    cand.qid, cand.nid,
         |    d0.d2 + d1.d2 + d2t.d2 + d3.d2 AS adist
         |  FROM cand
         |  JOIN dt d0 ON d0.qid = cand.qid AND d0.cell = cand.cell
         |    AND d0.s = 0 AND d0.cid = cand.code0
         |  JOIN dt d1 ON d1.qid = cand.qid AND d1.cell = cand.cell
         |    AND d1.s = 1 AND d1.cid = cand.code1
         |  JOIN dt d2t ON d2t.qid = cand.qid AND d2t.cell = cand.cell
         |    AND d2t.s = 2 AND d2t.cid = cand.code2
         |  JOIN dt d3 ON d3.qid = cand.qid AND d3.cell = cand.cell
         |    AND d3.s = 3 AND d3.cid = cand.code3)
         |SELECT qid AS query_id, nid AS neighbor_id, adist AS adc_dist, rnk
         |FROM (SELECT qid, nid, adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk FROM adc) t
         |WHERE rnk <= 5""".stripMargin,
      "e11_book" -> spark.read.parquet(bookDir), "e11_codes" -> spark.read.parquet(codesDir))
  }

  /** e11 oracle: the identical pipeline with the k-means fixed point
    * unrolled (kmeansCtes) and index-ordered folds for every d² — the
    * same-arithmetic contract as e3/e7/e10. */
  private def e11Oracle: String =
    s"""$duckVecs,
       |${kmeansCtes(KmMaxIter + 1)},
       |res AS (SELECT asg.vec_id, asg.c,
       |    [asg.v[k] - cn.cv[k] for k in generate_series(1, len(asg.v))] AS rv
       |  FROM asg${KmMaxIter + 1} asg JOIN cn$KmMaxIter cn ON cn.c = asg.c),
       |seed AS (SELECT vec_id AS cid, rv AS cv FROM res WHERE vec_id < 8),
       |sub AS (SELECT res.vec_id, res.c, seed.cid, s,
       |    list_reduce([(res.rv[s*16+k] - seed.cv[s*16+k]) * (res.rv[s*16+k] - seed.cv[s*16+k])
       |                 for k in generate_series(1, 16)], (acc, x) -> acc + x) AS d2
       |  FROM res CROSS JOIN seed CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
       |best AS (SELECT vec_id, c, s, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS r FROM sub),
       |codes AS (SELECT vec_id, c,
       |    max(CASE WHEN s=0 THEN cid END) AS code0,
       |    max(CASE WHEN s=1 THEN cid END) AS code1,
       |    max(CASE WHEN s=2 THEN cid END) AS code2,
       |    max(CASE WHEN s=3 THEN cid END) AS code3
       |  FROM best WHERE r = 1 GROUP BY vec_id, c),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
       |pc AS (SELECT qid, cn$KmMaxIter.c AS cell,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY ${dDot("qv", s"cn$KmMaxIter.cv")} / (qn * cn$KmMaxIter.cnrm) DESC, cn$KmMaxIter.c) AS cr
       |       FROM q CROSS JOIN cn$KmMaxIter),
       |probe AS (SELECT qid, cell FROM pc WHERE cr <= 2),
       |qres AS (SELECT probe.qid, probe.cell,
       |    [q.qv[k] - cn.cv[k] for k in generate_series(1, len(q.qv))] AS qrv
       |  FROM probe JOIN q ON q.qid = probe.qid
       |       JOIN cn$KmMaxIter cn ON cn.c = probe.cell),
       |dt AS (SELECT qres.qid, qres.cell, seed.cid, s,
       |    list_reduce([(qres.qrv[s*16+k] - seed.cv[s*16+k]) * (qres.qrv[s*16+k] - seed.cv[s*16+k])
       |                 for k in generate_series(1, 16)], (acc, x) -> acc + x) AS d2
       |  FROM qres CROSS JOIN seed CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
       |cand AS (SELECT probe.qid, codes.vec_id AS nid, probe.cell,
       |    codes.code0, codes.code1, codes.code2, codes.code3
       |  FROM probe JOIN codes ON codes.c = probe.cell
       |  WHERE codes.vec_id != probe.qid),
       |adc AS (SELECT cand.qid, cand.nid,
       |    d0.d2 + d1.d2 + d2t.d2 + d3.d2 AS adist
       |  FROM cand
       |  JOIN dt d0 ON d0.qid = cand.qid AND d0.cell = cand.cell
       |    AND d0.s = 0 AND d0.cid = cand.code0
       |  JOIN dt d1 ON d1.qid = cand.qid AND d1.cell = cand.cell
       |    AND d1.s = 1 AND d1.cid = cand.code1
       |  JOIN dt d2t ON d2t.qid = cand.qid AND d2t.cell = cand.cell
       |    AND d2t.s = 2 AND d2t.cid = cand.code2
       |  JOIN dt d3 ON d3.qid = cand.qid AND d3.cell = cand.cell
       |    AND d3.s = 3 AND d3.cid = cand.code3)
       |SELECT qid AS query_id, nid AS neighbor_id, adist AS adc_dist, rnk
       |FROM (SELECT qid, nid, adist,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk FROM adc) t
       |WHERE rnk <= 5""".stripMargin

  /** e12: recall accounting for the IVFADC path (e8's
    * measure-don't-guess check applied to e11): per-query recall@5 of
    * the code-quantized probed search against the exact brute-force
    * top-5. Quantifies BOTH losses at once — cell routing (e8's
    * subject) and the PQ residual codes. */
  private[graft] def ivfPqRecall(spark: SparkSession, sfDir: String,
                                 nQ: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.register(spark, sfDir)
    val exact = spark.sql(exactTop5Sql(nQ)).as("e")
    val adc = ivfPqTopK(spark, sfDir, nQ)
      .select(col("query_id"), col("neighbor_id")).as("i")
    exact.join(adc,
        col("e.query_id") === col("i.query_id") &&
          col("e.neighbor_id") === col("i.neighbor_id"), "left")
      .groupBy(col("e.query_id").as("query_id"))
      .agg(count(col("i.neighbor_id")).as("hits"),
        (count(col("i.neighbor_id")).cast("double") / 5).as("recall_at_5"))
  }

  private def e12Oracle: String =
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM (
       |  $duckVecs,
       |  q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
       |  s AS (SELECT qid, n.vec_id AS nid, ${dDot("qv", "n.v")} / (qn * n.nrm) AS sim
       |        FROM q CROSS JOIN n WHERE n.vec_id != qid)
       |  SELECT qid AS query_id, nid AS neighbor_id
       |  FROM (SELECT qid, nid, sim,
       |          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
       |  WHERE rnk <= 5)),
       |adc AS (SELECT query_id, neighbor_id FROM ($e11Oracle))
       |SELECT e.query_id, count(i.neighbor_id) AS hits,
       |  CAST(count(i.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
       |FROM exact e LEFT JOIN adc i
       |  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id""".stripMargin

  /** e14's trained-codebook ADC CTE chain + final top-5 SELECT, one
    * generator for both dialects (they cannot drift apart). Expects
    * `n` (vectors) and `res` (residuals `rv` + cell `c`) CTEs in
    * scope, with the centroid table named `cnName`.
    *
    * Training: per-subspace k-means (the PQ paper's real codebook
    * construction, vs e11's seed-residual stand-in) — `TrainIter`
    * Lloyd rounds over the 4 × 16-dim residual subvectors, k = 8,
    * seeded by the seed residuals. Cross-engine parity without the
    * chunked-fold machinery the main k-means needs: residuals
    * QUANTIZE to integer-valued doubles (×2²⁰, exact — |rv| < 2 so
    * round(x·2²⁰) < 2²², and 500 of them sum < 2³¹), so centroid
    * sums are exact integers in ANY aggregation order and the mean is
    * one deterministic IEEE division; every subsequent distance is an
    * index-ordered fold of deterministic doubles. ADC distances
    * assemble in the fixed d0+d1+d2+d3 association like e11. */
  private val TrainIter = 3

  /** @param sub0From Spark side: read the quantized subspace slices
    *                  from a checkpointed view instead of inlining the
    *                  vecs→argmax→residual pipeline (r16).
    * @param cbFrom    Spark side: read the TRAINED codebook from a
    *                  checkpointed view instead of inlining the
    *                  training chain (r17, verdict ask #3): the ADC
    *                  tail joins `dtT` four times (one per subspace
    *                  code), and each copy re-analyzed the full
    *                  TrainIter chain — 2 928 formatted plan lines for
    *                  a 32-row codebook. Values are bitwise the same.
    * @param trainOnly emit just sub0→cb$TrainIter and select the
    *                  trained codebook (the statement [[pqTrainedRecall]]
    *                  checkpoints; Spark side only). */
  private def e14Body(sparkD: Boolean, cnName: String, nQ: Int = 5,
                      sub0From: Option[String] = None,
                      cbFrom: Option[String] = None,
                      trainOnly: Boolean = false): String = {
    def slice(arr: String, s: String): String =
      if (sparkD) s"slice($arr, $s*16+1, 16)"
      else s"list_slice($arr, $s*16+1, $s*16+16)"
    def sq(x: String, c: String): String =
      if (sparkD) s"vec_sqdist($x, $c, 0, 16)"
      else s"list_reduce([($x[k] - $c[k]) * ($x[k] - $c[k]) " +
        s"for k in generate_series(1, 16)], (acc, y) -> acc + y)"
    def quant(arr: String): String =
      if (sparkD) s"transform($arr, x -> round(x * 1048576.0))"
      else s"[round(x * 1048576.0) for x in $arr]"
    val explodeS =
      if (sparkD) "LATERAL VIEW explode(sequence(0, 3)) t AS s"
      else "CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)"
    val explodeK =
      if (sparkD) "LATERAL VIEW explode(sequence(0, 15)) tk AS k"
      else "CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k)"
    val assemble =
      if (sparkD) "transform(array_sort(collect_list(named_struct('k', k, 'm', sx / cnt))), p -> p.m)"
      else "list(sx / cnt ORDER BY k)"
    val routeSim =
      if (sparkD) s"vec_dot(qv, $cnName.cv) / (qn * $cnName.cnrm)"
      else s"${dDot("qv", s"$cnName.cv")} / (qn * $cnName.cnrm)"
    val qresDiff =
      if (sparkD) s"zip_with(q.qv, $cnName.cv, (a, b) -> a - b)"
      else s"[q.qv[k] - $cnName.cv[k] for k in generate_series(1, len(q.qv))]"
    val sb = new StringBuilder
    // sub0From (r16, Spark side only): the quantized subspace-slice
    // table enters from a CHECKPOINTED view instead of being re-
    // analyzed (with the whole vecs→argmax→residual pipeline inlined
    // under it) once per training iteration + the final assignment —
    // the driver spent ~4× the query's execution time in Catalyst on
    // the duplicated subtrees. Values are bitwise the same rows.
    val sub0Cte = sub0From.map(v =>
        s"sub0 AS (SELECT vec_id, c, s, x FROM $v)")
      .getOrElse(s"""rq AS (SELECT vec_id, c, ${quant("rv")} AS rvq FROM res),
       |sub0 AS (SELECT vec_id, c, s, ${slice("rvq", "s")} AS x FROM rq $explodeS)""".stripMargin)
    cbFrom match {
      case Some(v) =>
        sb ++= s"""$sub0Cte,
           |cb$TrainIter AS (SELECT s, cid, cv FROM $v)""".stripMargin
      case None =>
        sb ++= s"""$sub0Cte,
           |cb0 AS (SELECT s, vec_id AS cid, x AS cv FROM sub0 WHERE vec_id < 8)""".stripMargin
        for (i <- 1 to TrainIter) {
          val p = i - 1
          sb ++= s""",
             |a_$i AS (SELECT sub0.vec_id, sub0.s, sub0.x, cb$p.cid,
             |    row_number() OVER (PARTITION BY sub0.vec_id, sub0.s
             |      ORDER BY ${sq("sub0.x", s"cb$p.cv")}, cb$p.cid) AS r
             |  FROM sub0 JOIN cb$p ON cb$p.s = sub0.s),
             |asg_$i AS (SELECT vec_id, s, x, cid FROM a_$i WHERE r = 1),
             |g_$i AS (SELECT s, cid, k, SUM(${if (sparkD) "element_at(x, k + 1)" else "x[k + 1]"}) AS sx, COUNT(*) AS cnt
             |  FROM asg_$i $explodeK GROUP BY s, cid, k),
             |cb$i AS (SELECT s, cid, $assemble AS cv FROM g_$i GROUP BY s, cid)""".stripMargin
        }
    }
    if (trainOnly) {
      sb ++= s"\nSELECT s, cid, cv FROM cb$TrainIter"
      return sb.result()
    }
    sb ++= s""",
       |aF AS (SELECT sub0.vec_id, sub0.c, sub0.s, cb$TrainIter.cid,
       |    row_number() OVER (PARTITION BY sub0.vec_id, sub0.s
       |      ORDER BY ${sq("sub0.x", s"cb$TrainIter.cv")}, cb$TrainIter.cid) AS r
       |  FROM sub0 JOIN cb$TrainIter ON cb$TrainIter.s = sub0.s),
       |codesT AS (SELECT vec_id, c,
       |    max(CASE WHEN s=0 THEN cid END) AS code0,
       |    max(CASE WHEN s=1 THEN cid END) AS code1,
       |    max(CASE WHEN s=2 THEN cid END) AS code2,
       |    max(CASE WHEN s=3 THEN cid END) AS code3
       |  FROM aF WHERE r = 1 GROUP BY vec_id, c),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < $nQ),
       |pc AS (SELECT qid, $cnName.c AS cell,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY $routeSim DESC, $cnName.c) AS cr
       |       FROM q CROSS JOIN $cnName),
       |probe AS (SELECT qid, cell FROM pc WHERE cr <= 2),
       |qres AS (SELECT probe.qid, probe.cell, $qresDiff AS qrv
       |  FROM probe JOIN q ON q.qid = probe.qid
       |       JOIN $cnName ON $cnName.c = probe.cell),
       |qsub AS (SELECT qid, cell, s, ${slice(quant("qrv"), "s")} AS qx
       |  FROM qres $explodeS),
       |dtT AS (SELECT qsub.qid, qsub.cell, qsub.s, cb$TrainIter.cid,
       |    ${sq("qsub.qx", s"cb$TrainIter.cv")} AS d2
       |  FROM qsub JOIN cb$TrainIter ON cb$TrainIter.s = qsub.s),
       |candT AS (SELECT probe.qid, codesT.vec_id AS nid, probe.cell,
       |    codesT.code0, codesT.code1, codesT.code2, codesT.code3
       |  FROM probe JOIN codesT ON codesT.c = probe.cell
       |  WHERE codesT.vec_id != probe.qid),
       |adcT AS (SELECT candT.qid, candT.nid,
       |    d0.d2 + d1.d2 + d2t.d2 + d3.d2 AS adist
       |  FROM candT
       |  JOIN dtT d0 ON d0.qid = candT.qid AND d0.cell = candT.cell
       |    AND d0.s = 0 AND d0.cid = candT.code0
       |  JOIN dtT d1 ON d1.qid = candT.qid AND d1.cell = candT.cell
       |    AND d1.s = 1 AND d1.cid = candT.code1
       |  JOIN dtT d2t ON d2t.qid = candT.qid AND d2t.cell = candT.cell
       |    AND d2t.s = 2 AND d2t.cid = candT.code2
       |  JOIN dtT d3 ON d3.qid = candT.qid AND d3.cell = candT.cell
       |    AND d3.s = 3 AND d3.cid = candT.code3)
       |SELECT qid AS query_id, nid AS neighbor_id
       |FROM (SELECT qid, nid, adist,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk FROM adcT) t
       |WHERE rnk <= 5""".stripMargin
    sb.result()
  }

  /** e14: recall@5 of IVFADC with the per-subspace k-means TRAINED
    * codebook — the measured answer to "how much does real codebook
    * training buy over the seed stand-in" (compare e12, the verdict's
    * round-7 ask #5). A MEASUREMENT query: it replays the (ingest-
    * time) training inline the way e12 replays the search, because
    * the measurement must see the whole pipeline. */
  private[graft] def pqTrainedRecall(spark: SparkSession, sfDir: String,
                                     nQ: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.register(spark, sfDir)
    val km = convergedKmeans(spark, sfDir)
    val sub0 = CkptUtil.fresh(spark.sql(
      s"""$sparkVecs,
         |${centroidCte(km.centroids)},
         |asg AS (SELECT vec_id, v, ${argmaxAssign(km.centroids)} AS c FROM n),
         |res AS (SELECT asg.vec_id, asg.c,
         |    zip_with(asg.v, cn.cv, (a, b) -> a - b) AS rv
         |  FROM asg JOIN cn ON cn.c = asg.c),
         |rq AS (SELECT vec_id, c, transform(rv, x -> round(x * 1048576.0)) AS rvq FROM res)
         |SELECT vec_id, c, s, slice(rvq, s*16+1, 16) AS x
         |FROM rq LATERAL VIEW explode(sequence(0, 3)) t AS s""".stripMargin))
    // the trained codebook is checkpointed once (32 rows) so the ADC
    // tail's four dtT joins reference a tiny scan instead of four
    // copies of the TrainIter chain (r17 — see e14Body.cbFrom)
    val cb = CkptUtil.fresh(Sql.bound(spark,
      s"""WITH ${e14Body(sparkD = true, cnName = "cn", nQ = nQ,
             sub0From = Some("e14_sub0"), trainOnly = true)}""".stripMargin,
      "e14_sub0" -> sub0))
    val adcSql =
      s"""$sparkVecs,
         |${centroidCte(km.centroids)},
         |${e14Body(sparkD = true, cnName = "cn", nQ = nQ,
             sub0From = Some("e14_sub0"), cbFrom = Some("e14_cb"))}""".stripMargin
    val exact = spark.sql(exactTop5Sql(nQ)).as("e")
    val adc = Sql.bound(spark, adcSql, "e14_sub0" -> sub0, "e14_cb" -> cb).as("i")
    exact.join(adc,
        col("e.query_id") === col("i.query_id") &&
          col("e.neighbor_id") === col("i.neighbor_id"), "left")
      .groupBy(col("e.query_id").as("query_id"))
      .agg(count(col("i.neighbor_id")).as("hits"),
        (count(col("i.neighbor_id")).cast("double") / 5).as("recall_at_5"))
  }

  private def e14Oracle: String =
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM (
       |  $duckVecs,
       |  q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
       |  s AS (SELECT qid, n.vec_id AS nid, ${dDot("qv", "n.v")} / (qn * n.nrm) AS sim
       |        FROM q CROSS JOIN n WHERE n.vec_id != qid)
       |  SELECT qid AS query_id, nid AS neighbor_id
       |  FROM (SELECT qid, nid, sim,
       |          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
       |  WHERE rnk <= 5)),
       |adc AS (SELECT query_id, neighbor_id FROM (
       |  $duckVecs,
       |  ${kmeansCtes(KmMaxIter + 1)},
       |  res AS (SELECT asg.vec_id, asg.c,
       |      [asg.v[k] - cn.cv[k] for k in generate_series(1, len(asg.v))] AS rv
       |    FROM asg${KmMaxIter + 1} asg JOIN cn$KmMaxIter cn ON cn.c = asg.c),
       |  ${e14Body(sparkD = false, cnName = s"cn$KmMaxIter")}))
       |SELECT e.query_id, count(i.neighbor_id) AS hits,
       |  CAST(count(i.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
       |FROM exact e LEFT JOIN adc i
       |  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id""".stripMargin

  private def e8Oracle: String = recallOracle("")

  /** DuckDB replay of [[ivfRecall]]: exact filtered top-5 vs the
    * (same-filtered) 2-probe IVF; `filter` mirrors the engine's. */
  private def recallOracle(filter: String, qSel: String = ""): String =
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM (
       |  $duckVecs,
       |  q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn$qSel FROM n WHERE vec_id < 5),
       |  s AS (SELECT qid, n.vec_id AS nid, ${dDot("qv", "n.v")} / (qn * n.nrm) AS sim
       |        FROM q CROSS JOIN n WHERE n.vec_id != qid$filter)
       |  SELECT qid AS query_id, nid AS neighbor_id
       |  FROM (SELECT qid, nid, sim,
       |          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk FROM s) t
       |  WHERE rnk <= 5)),
       |ivf AS (SELECT query_id, neighbor_id FROM (${ivfOracle(filter, qSel)}))
       |SELECT e.query_id, count(i.neighbor_id) AS hits,
       |  CAST(count(i.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
       |FROM exact e LEFT JOIN ivf i
       |  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id""".stripMargin

  /** E30: top principal component by INTEGER-EXACT power iteration —
    * the dimensionality-reduction classic next to e27's PageRank (the
    * same "numerical linear algebra as a deterministic integer
    * program" shape). Embeddings quantize to 2^20 fixed point (the
    * SQ convention, round both engines share); the centered scatter
    * enters through the expansion n²·Σqqᵀ − n·SSᵀ so the DISTRIBUTED
    * pass accumulates only Σ q_i·q_j — plain Long partials
    * (|q|² ≈ 2^40, safe to ~2^23 rows per partition), one 64×64
    * array per partition, merged on the driver in BigInt. Eight
    * power-iteration steps run driver-side on the 64×64 matrix
    * (trivial state, like Lloyd's centroids), each re-normalized to
    * milli units by sign·(|u|·1000 div max|u|) — sign-split so Spark
    * BigInt truncation and DuckDB HUGEINT floor-division agree on
    * negatives. Orientation fixes to the largest-|component| being
    * positive (lowest index on ties) so the eigenvector sign is
    * deterministic. The projection pass is one distributed
    * zip_with/aggregate fold against the broadcast integer component
    * — nothing driver-side ever scales with the table, only with
    * dim² × partitions. The oracle replays ALL of it — quantize,
    * scatter, eight unrolled iterate CTEs, orientation, projection,
    * top-20 — in HUGEINT, so the hash compare pins every integer.
    */
  private def e30Query(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val qdf = spark.sql(
      """SELECT vec_id, transform(CAST(embedding AS ARRAY<DOUBLE>),
        |  x -> CAST(round(x * 1048576.0) AS BIGINT)) AS q FROM embeddings""".stripMargin)
    val dim = qdf.selectExpr("size(q) AS d").head().getInt(0)
    // pass A: n and per-dim sums (combinable; 64 groups)
    val sRows = qdf.selectExpr("posexplode(q) AS (i, qi)")
      .groupBy("i").agg(org.apache.spark.sql.functions.sum("qi").as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = BigInt(qdf.count())
    val s = Array.tabulate(dim)(i => BigInt(sRows(i)))
    // pass B: raw second-moment partials, one Long[dim*dim] per
    // partition — hot loop stays in primitive Longs (safe to ~2^23
    // rows/partition at the 2^20 quantization) — then TREE-reduced in
    // BigInt so (a) the driver receives ONE dim² array, never
    // #partitions × 32 KB (at 100 TB ≈ 800k partitions that collect
    // is a ~26 GB driver cliff), and (b) the cross-partition sums
    // cannot overflow at any corpus size
    val mSum = qdf.rdd.map(_.getSeq[Long](1).toArray).mapPartitions { it =>
      val m = new Array[Long](dim * dim)
      it.foreach { q =>
        var i = 0
        while (i < dim) {
          val qi = q(i); val base = i * dim
          var j = 0
          while (j < dim) { m(base + j) += qi * q(j); j += 1 }
          i += 1
        }
      }
      Iterator.single(m.map(BigInt(_)))
    }.treeReduce({ (a, b) =>
      val out = new Array[BigInt](a.length)
      var k = 0
      while (k < a.length) { out(k) = a(k) + b(k); k += 1 }
      out
    }, depth = 2)
    // truncating (toward-zero) integer division == the oracle's
    // sign-split floor division; BigInt / already truncates
    def idiv(a: BigInt, b: BigInt): BigInt = a / b
    // centered scatter scaled back by one n: c = (n·M − S·Sᵀ) div n
    val c = Array.tabulate(dim, dim)((i, j) => idiv(n * mSum(i * dim + j) - s(i) * s(j), n))
    var v = Array.fill(dim)(BigInt(1000))
    for (_ <- 1 to 8) {
      val u = Array.tabulate(dim)(i => (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val m = u.map(_.abs).max.max(BigInt(1))
      v = u.map(ui => (if (ui.signum < 0) -BigInt(1) else BigInt(1)) * idiv(ui.abs * 1000, m))
    }
    val p = (0 until dim).maxBy(i => (v(i).abs, -i))
    if (v(p).signum < 0) v = v.map(-_)
    val dotSV = (0 until dim).map(i => s(i) * v(i)).sum
    val vLit = v.mkString("array(", "L,", "L)")
    // n·dot − S·v in DECIMAL(38,0) (the t33 convention), matching the
    // oracle's HUGEINT: the per-row fold itself is Long-safe
    // (|dot| ≲ 2^36 at dim 64), but n·dot wraps Long near n ≈ 2^27
    // rows, and dotSV ≈ n·2^36 exceeds a Long LITERAL at the same
    // point — so both the product and the constant go through
    // decimal, and only the n-divided projection (back ≲ 2^36)
    // returns to BIGINT
    Sql.bound(spark,
      s"""SELECT vec_id, CAST(rnk AS INT) AS rnk, proj_q FROM (
         |  SELECT vec_id, proj_q,
         |    row_number() OVER (ORDER BY abs(proj_q) DESC, vec_id) AS rnk
         |  FROM (SELECT vec_id,
         |      CAST(CASE WHEN pn < 0 THEN -((-pn) DIV ${n}L)
         |           ELSE pn DIV ${n}L END AS BIGINT) AS proj_q
         |    FROM (SELECT vec_id,
         |        CAST(${n} AS DECIMAL(38,0))
         |          * aggregate(zip_with(q, $vLit, (a, b) -> a * b),
         |                      0L, (acc, x) -> acc + x)
         |          - CAST('${dotSV}' AS DECIMAL(38,0)) AS pn
         |      FROM e30_q) raw) ctr) rk
         |WHERE rnk <= 20""".stripMargin,
      "e30_q" -> qdf)
  }

  /** Full HUGEINT replay of e30: quantize → scatter (double lateral)
    * → 8 unrolled iterate CTEs → orientation → projection → top-20. */
  private def e30Oracle: String = {
    // AS MATERIALIZED on every chain CTE: u_t is referenced twice
    // (by m_t and v_t), so DuckDB's textual inlining would otherwise
    // double the plan per iteration — 2^8 copies of the 2M-row
    // scatter subtree (the Mollweide-oracle lesson, round 12)
    val iters = (1 to 8).map { t =>
      val prev = if (t == 1) "v0" else s"v${t - 1}"
      s"""u$t AS MATERIALIZED (SELECT cp.i, sum(cp.c * v.val)::HUGEINT AS u
         |  FROM cp JOIN $prev v ON v.i = cp.j GROUP BY cp.i),
         |m$t AS MATERIALIZED (SELECT greatest(max(abs(u)), 1)::HUGEINT AS m FROM u$t),
         |v$t AS MATERIALIZED (SELECT i, (CASE WHEN u < 0 THEN -(((-u) * 1000) // m)
         |    ELSE (u * 1000) // m END)::HUGEINT AS val
         |  FROM u$t CROSS JOIN m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id,
       |    [round(x::DOUBLE * 1048576.0)::BIGINT for x in embedding] AS q
       |  FROM embeddings),
       |nn AS MATERIALIZED (SELECT count(*)::HUGEINT AS n FROM q),
       |s AS MATERIALIZED (SELECT i, sum(q[i])::HUGEINT AS s
       |  FROM q, LATERAL unnest(generate_series(1, len(q))) t(i) GROUP BY i),
       |mm AS MATERIALIZED (SELECT i, j, sum(q[i] * q[j])::HUGEINT AS m
       |  FROM q, LATERAL unnest(generate_series(1, len(q))) t(i),
       |       LATERAL unnest(generate_series(1, len(q))) u(j)
       |  GROUP BY i, j),
       |cp AS MATERIALIZED (SELECT mm.i, mm.j,
       |    (CASE WHEN nn.n * mm.m - s1.s * s2.s < 0
       |      THEN -((-(nn.n * mm.m - s1.s * s2.s)) // nn.n)
       |      ELSE (nn.n * mm.m - s1.s * s2.s) // nn.n END)::HUGEINT AS c
       |  FROM mm JOIN s s1 ON s1.i = mm.i JOIN s s2 ON s2.i = mm.j CROSS JOIN nn),
       |v0 AS (SELECT i, 1000::HUGEINT AS val FROM s),
       |$iters,
       |sgn AS (SELECT (CASE WHEN (SELECT val FROM v8 ORDER BY abs(val) DESC, i LIMIT 1) < 0
       |    THEN -1 ELSE 1 END)::HUGEINT AS sg),
       |vf AS (SELECT i, (val * sg)::HUGEINT AS val FROM v8 CROSS JOIN sgn),
       |vl AS (SELECT list(val ORDER BY i) AS v FROM vf),
       |dsv AS (SELECT sum(s.s * vf.val)::HUGEINT AS d
       |  FROM s JOIN vf ON vf.i = s.i),
       |pr AS (SELECT q.vec_id,
       |    (nn.n * list_reduce([q.q[k] * vl.v[k]
       |        for k in generate_series(1, len(q.q))], (a, b) -> a + b)
       |     - dsv.d)::HUGEINT AS pn
       |  FROM q CROSS JOIN nn CROSS JOIN vl CROSS JOIN dsv),
       |ctr AS (SELECT vec_id,
       |    (CASE WHEN pn < 0 THEN -((-pn) // nn.n) ELSE pn // nn.n END)::BIGINT AS proj_q
       |  FROM pr CROSS JOIN nn)
       |SELECT vec_id, rnk::INT AS rnk, proj_q FROM (
       |  SELECT vec_id, proj_q,
       |    row_number() OVER (ORDER BY abs(proj_q) DESC, vec_id) AS rnk
       |  FROM ctr) rk
       |WHERE rnk <= 20""".stripMargin
  }

  override def ops: Seq[Op] = sqls ++ Seq(
    Op("e30_pca_power", e30Query, e30Oracle),
    Op("e5b_kmeans_converged", kmeansAssignments, e5bOracle),
    Op("e5_kmeans_assign", oneIterAssignments, e5Oracle),
    Op("e3_ann_ivf", (s, d) => ivfTopK(s, d), e3Oracle),
    // E19: filtered vector search — the vector-store contract every
    // retrieval stack needs (metadata predicate + ANN in one query):
    // the UNfiltered IVF index serves the query, the predicate
    // prunes candidates inside the probed-cell scan (pre-filter;
    // see ivfTopK's doc for why post-filtering a fixed top-k is
    // wrong), and the top-5 ranks only matching rows. E20 measures
    // what the predicate costs in recall against the exact filtered
    // scan — at this fixture the 2-probe cells keep full recall on
    // the ~1/3-selective predicate.
    Op("e19_filtered_ann", (s, d) => ivfTopK(s, d, FilterPred),
      ivfOracle(FilterPred)),
    Op("e20_filtered_recall", (s, d) => ivfRecall(s, d, FilterPred),
      recallOracle(FilterPred)),
    // E25/E26: hard-negative mining for contrastive training — the
    // same IVF serving path with the per-query wrong-label
    // predicate, plus its measured recall against the exact
    // wrong-label brute force (the e19/e20 pairing).
    Op("e25_hard_negatives", (s, d) => ivfTopK(s, d, HardNegPred, QLabelSel),
      ivfOracle(HardNegPred, QLabelSel)),
    Op("e26_hardneg_recall", (s, d) => ivfRecall(s, d, HardNegPred, QLabelSel),
      recallOracle(HardNegPred, QLabelSel)),
    Op("e2_cosine_neardup", cellNearDup, e2Oracle),
    Op("e8_ivf_recall", (s, d) => ivfRecall(s, d), e8Oracle),
    Op("e4_ann_lsh_auto", e4Auto, e4Oracle),
    Op("e4_ann_lsh_pairs", (s, d) => e4Banded(s, d, bandBits = 6), e4Oracle),
    Op("e9_semdedup", semDedup, e9Oracle),
    Op("e21_knn_graph", knnGraph, e21Oracle),
    Op("e21b_hier_route", e21bQuery, e21bOracle),
    Op("e28_graph_search", e28Query, e28Oracle),
    Op("e29_graph_recall", e29Query, e29Oracle),
    Op("e27_pagerank", e27Query, e27Oracle),
    Op("e22_proto_prune", protoPrune, e22Oracle),
    Op("e23_probe_sweep", probeSweep, e23Oracle),
    Op("e11_ivfpq", (s, d) => ivfPqTopK(s, d), e11Oracle),
    Op("e12_ivfpq_recall", (s, d) => ivfPqRecall(s, d), e12Oracle),
    Op("e14_pq_trained_recall", (s, d) => pqTrainedRecall(s, d), e14Oracle))

  // ------------------------------------------------------ scale contracts
  //
  // The e21/e27/e28/e29 full oracles replay the UNROLLED Lloyd build —
  // n·k·(41 iters) list-lambda dot products, k ∝ n/50, so the replay is
  // quadratic in the corpus and ORATIMEs at the sf1 gate while the
  // engine side is linear (round-15 verdict ask #2). The contracts
  // below keep sf1 verification EXACT at linear oracle cost by
  // anchoring on two engine sidecars (`_aux/e21_cells`,
  // `_aux/e21_centroids` — the served converged state) that are
  // themselves verified in place:
  //  - centroid-fixedpoint (full, linear): Lloyd stops at the BITWISE
  //    centroid fixed point, where each centroid equals the
  //    chunk-ordered mean of its assigned members — recomputable from
  //    the cells sidecar with the exact kmeansCtes fold;
  //  - assignment-sampled (exact on a 1-in-PinMod pin): each pinned
  //    vector's dumped cell equals the replayed assignment — the
  //    exhaustive argmax at k ≤ HierK, the full Router replay (the
  //    validated e21b oracle machinery) above it;
  //  - output-from-cells (full, exact, linear): the entire downstream
  //    chain — per-cell kNN (cells are ~50-sized by e21AutoK), mutual
  //    marks, PageRank / beam search — replayed from the sidecar and
  //    hash-compared against the complete dumped result.
  // What stays sampled is ONLY the Lloyd provenance of the sidecar;
  // the sf0.01 gate keeps replaying that in full.

  /** [[e21OracleCtes]]' downstream twin anchored on the cells sidecar
    * (same CTE names, so the e21/e27/e28/e29 tails compose onto it). */
  private def sidecarGraphCtes: String =
    s"""$duckVecs,
       |cel AS (SELECT vec_id, cell FROM '{aux}/e21_cells/*.parquet'),
       |fin AS (SELECT n.vec_id, n.v, n.nrm, cel.cell AS c
       |  FROM n JOIN cel ON cel.vec_id = n.vec_id),
       |nn AS (SELECT a.vec_id AS src, a.c AS cell, b.vec_id AS dst,
       |    ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) AS sim
       |  FROM fin a, fin b WHERE b.c = a.c AND b.vec_id != a.vec_id),
       |r AS (SELECT src, cell, dst, sim,
       |    CAST(row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst) AS INT) AS rnk FROM nn),
       |e AS (SELECT src, cell, dst, sim, rnk FROM r WHERE rnk <= $KnnGraphK),
       |m AS (SELECT src, cell, dst, sim, rnk,
       |    CASE WHEN count(*) OVER (PARTITION BY least(src, dst),
       |      greatest(src, dst)) = 2 THEN 1 ELSE 0 END AS mutual
       |  FROM e)""".stripMargin

  private def e21CentroidCheck: ScaleCheck = ScaleCheck(
    name = "centroid-fixedpoint", kind = "exact",
    spark = "SELECT c, cv FROM '{aux}/e21_centroids/*.parquet'",
    oracle =
      s"""$duckVecs,
         |cel AS (SELECT vec_id, cell FROM '{aux}/e21_cells/*.parquet'),
         |mem AS (SELECT cel.cell AS c, n.vec_id, n.v
         |  FROM n JOIN cel ON cel.vec_id = n.vec_id),
         |g AS (SELECT c, vec_id // $KmChunk AS ch,
         |    list_reduce(list(v ORDER BY vec_id), $duckElemAdd) AS pv, count(*) AS cnt
         |  FROM mem GROUP BY c, vec_id // $KmChunk),
         |t AS (SELECT c, list_reduce(list(pv ORDER BY ch), $duckElemAdd) AS sv,
         |    CAST(sum(cnt) AS BIGINT) AS cnt FROM g GROUP BY c)
         |SELECT c, [x / cnt for x in sv] AS cv FROM t""".stripMargin)

  /** 1-in-PinMod deterministic pin for the sampled checks (~1% of
    * vec_ids at any scale; ~200 vectors at the sf1 corpus). */
  private val PinMod = 97

  private def e21AssignCheck(k: Int): ScaleCheck = ScaleCheck(
    name = "assignment-sampled", kind = "exact",
    spark = s"SELECT vec_id, cell FROM '{aux}/e21_cells/*.parquet' " +
      s"WHERE vec_id % $PinMod = 0",
    oracle =
      if (k <= HierK)
        s"""$duckVecs,
           |cn AS (SELECT c, cv,
           |    sqrt(list_reduce([y*y for y in cv], (a,b) -> a+b)) AS cnrm
           |  FROM '{aux}/e21_centroids/*.parquet'),
           |p AS (SELECT n.vec_id, cn.c,
           |    row_number() OVER (PARTITION BY n.vec_id
           |      ORDER BY ${dDot("n.v", "cn.cv")} / (n.nrm * cn.cnrm) DESC, cn.c) AS rr
           |  FROM n CROSS JOIN cn WHERE n.vec_id % $PinMod = 0)
           |SELECT vec_id, c AS cell FROM p WHERE rr = 1""".stripMargin
      else routerAssignReplay(PinMod))

  /** DuckDB replay of [[Router.assign]] over the DUMPED centroids for
    * the pinned sample — the validated e21b-oracle router machinery
    * with `f` anchored on the sidecar: coarse seeds = the first √k
    * centroids in c order, 10 coarse Lloyd iterations (empty branches
    * keep their centroid), kept-branch filter, coarse-then-fine argmax
    * with the `DESC, id` tie-breaks. */
  private def routerAssignReplay(pinMod: Int): String = {
    val elemAdd = duckElemAdd
    val sb = new StringBuilder(
      s"""$duckVecs,
         |f AS MATERIALIZED (SELECT c, cv AS v,
         |    sqrt(list_reduce([y*y for y in cv], (a,b) -> a+b)) AS nrm
         |  FROM '{aux}/e21_centroids/*.parquet'),
         |ks AS (SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k1 FROM f),
         |co0 AS (SELECT CAST(row_number() OVER (ORDER BY c) - 1 AS BIGINT) AS b, v AS cv,
         |    nrm AS cnrm
         |  FROM f QUALIFY row_number() OVER (ORDER BY c) <= (SELECT k1 FROM ks))""".stripMargin)
    for (i <- 1 to 10) {
      val p = i - 1
      sb ++= s""",
         |aR$i AS MATERIALIZED (SELECT f.c, f.v, cb.b,
         |    row_number() OVER (PARTITION BY f.c
         |      ORDER BY ${dDot("f.v", "cb.cv")} / (f.nrm * cb.cnrm) DESC, cb.b) AS rr
         |  FROM f CROSS JOIN co$p cb),
         |su$i AS MATERIALIZED (SELECT b, list_reduce(list(v ORDER BY c), $elemAdd) AS sv,
         |    count(*) AS cnt
         |  FROM aR$i WHERE rr = 1 GROUP BY b),
         |ce$i AS MATERIALIZED (SELECT cb.b,
         |    CASE WHEN su.cnt IS NULL THEN cb.cv ELSE [e / su.cnt for e in su.sv] END AS cv
         |  FROM co$p cb LEFT JOIN su$i su ON su.b = cb.b),
         |co$i AS MATERIALIZED (SELECT b, cv,
         |    sqrt(list_reduce([y*y for y in cv], (a,b) -> a+b)) AS cnrm FROM ce$i)"""
    }
    sb ++= s""",
         |brR AS (SELECT f.c, cb.b,
         |    row_number() OVER (PARTITION BY f.c
         |      ORDER BY ${dDot("f.v", "cb.cv")} / (f.nrm * cb.cnrm) DESC, cb.b) AS rr
         |  FROM f CROSS JOIN co10 cb),
         |br AS MATERIALIZED (SELECT c, b FROM brR WHERE rr = 1),
         |keptc AS MATERIALIZED (SELECT co10.b, co10.cv, co10.cnrm
         |  FROM co10 JOIN (SELECT DISTINCT b FROM br) kb ON kb.b = co10.b),
         |pin AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % $pinMod = 0),
         |rt AS (SELECT pin.vec_id, cb.b,
         |    row_number() OVER (PARTITION BY pin.vec_id
         |      ORDER BY ${dDot("pin.v", "cb.cv")} / (pin.nrm * cb.cnrm) DESC, cb.b) AS rr
         |  FROM pin CROSS JOIN keptc cb),
         |r1 AS MATERIALIZED (SELECT vec_id, b FROM rt WHERE rr = 1),
         |rf AS (SELECT r1.vec_id, f2.c,
         |    row_number() OVER (PARTITION BY r1.vec_id
         |      ORDER BY ${dDot("pin.v", "f2.v")} / (pin.nrm * f2.nrm) DESC, f2.c) AS rr
         |  FROM r1 JOIN br ON br.b = r1.b JOIN f f2 ON f2.c = br.c
         |    JOIN pin ON pin.vec_id = r1.vec_id)
         |SELECT vec_id, c AS cell FROM rf WHERE rr = 1"""
    sb.result().stripMargin
  }

  /** e4's recall-aware scale contract (round-15 verdict ask #3): the
    * fixture-scale equality oracle reads FAIL forever at sf1 by
    * construction (the documented LSH candidate-recall trade), so at
    * scale the gate asserts (a) everything emitted is TRUE — each
    * dumped pair recomputes to cosine ≥ τ with the identical stored
    * value (subset, linear in |banded|) — and (b) the verified count
    * clears the documented recall floor of the exact pair set. */
  private def e4RecallCheck(bound: Double): ScaleCheck = ScaleCheck(
    name = "lsh-recall-floor", kind = "recall",
    spark =
      s"""$duckVecs,
         |got AS (SELECT vec_id_a, vec_id_b, cosine FROM '{q}/*.parquet'),
         |ok AS (SELECT DISTINCT g.vec_id_a, g.vec_id_b
         |  FROM got g JOIN n x ON x.vec_id = g.vec_id_a
         |    JOIN n y ON y.vec_id = g.vec_id_b
         |  WHERE g.vec_id_a < g.vec_id_b
         |    AND ${dDot("x.v", "y.v")} / (x.nrm * y.nrm) >= 0.4
         |    AND ${dDot("x.v", "y.v")} / (x.nrm * y.nrm) = g.cosine)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM got) AS n_got,
         |  CAST(count(*) AS BIGINT) AS n_matched FROM ok""".stripMargin,
    oracle =
      s"""$duckVecs
         |SELECT CAST(count(*) AS BIGINT) AS n_exact FROM n a, n b
         |WHERE a.vec_id < b.vec_id
         |  AND ${dDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4""".stripMargin,
    bound = bound)

  override def auxDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e21_cells" -> ((s: SparkSession, d: String) =>
      e21Assignment(s, d).selectExpr("vec_id", "c AS cell")),
    "e21_centroids" -> ((s: SparkSession, d: String) => {
      val km = e21Kmeans(s, d)
      import s.implicits._
      km.centroids.map { case (c, a) => (c, a.toSeq) }.toDF("c", "cv")
    })
  )

  override def scaleContracts(spark: SparkSession,
                              sfDir: String): Map[String, Seq[ScaleCheck]] = {
    Tables.register(spark, sfDir)
    val k = e21AutoK(spark.table("embeddings").count())
    val anchor = Seq(e21CentroidCheck, e21AssignCheck(k))
    Map(
      "e21_knn_graph" -> (anchor :+ ScaleCheck("output-from-cells", "exact",
        "SELECT * FROM '{q}/*.parquet'", s"$sidecarGraphCtes\n$e21OracleTail")),
      "e27_pagerank" -> (anchor :+ ScaleCheck("output-from-cells", "exact",
        "SELECT * FROM '{q}/*.parquet'", e27OracleFrom(sidecarGraphCtes))),
      "e28_graph_search" -> (anchor :+ ScaleCheck("output-from-cells", "exact",
        "SELECT * FROM '{q}/*.parquet'",
        s"${e28OracleCtes(sidecarGraphCtes)}\n$e28OracleTail")),
      "e29_graph_recall" -> (anchor :+ ScaleCheck("output-from-cells", "exact",
        "SELECT * FROM '{q}/*.parquet'",
        s"${e28OracleCtes(sidecarGraphCtes)},\n$e29OracleTail")),
      "e4_ann_lsh_auto" -> Seq(e4RecallCheck(0.55)),
      "e4_ann_lsh_pairs" -> Seq(e4RecallCheck(0.95))
    )
  }
}
