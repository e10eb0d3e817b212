package graft.textops

import graft.{QueryModule, Sql, SqlQ, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data pipeline operators over the `documents` table:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard) and
  * text analysis (quality scoring, token counting, language-ID,
  * document fingerprinting).
  *
  * These extend the reference's surface (which has no text pipeline)
  * with the operations a 100 TB LLM-data pipeline needs. Design rules:
  *
  *   - All hashing is `polyhash` (graft.functions.PolyHash): integer
  *     arithmetic mod 2^31-1, bit-reproducible in the DuckDB oracle via
  *     a code-point fold (ASCII text ⇒ code point == UTF-8 byte).
  *   - Every double in an output is produced by a single division of
  *     exact integers, or an index-ordered fold — deterministic across
  *     engines, so the driver's exact-value compare holds.
  *   - Scale path: no O(n²) cross joins. Near-dup candidates come from
  *     LSH band buckets (MinHash, SimHash) or a document-frequency-
  *     pruned inverted shingle index; only candidates are verified
  *     exactly. At 1000 executors each stage is one shuffle on a
  *     well-distributed key (band hash / shingle hash / doc_id).
  */
object TextQueries extends QueryModule {

  private val P = "2147483647" // 2^31 - 1

  // ------------------------------------------------------------ fragments

  /** t14's bucket-LM + selection tail, shared VERBATIM by the Spark
    * SQL and the DuckDB oracle (only the leading gram CTE `g`
    * differs) — a one-sided edit to the smoothing/quantization/top-k
    * logic would otherwise read as an engine bug. */
  private val t14Tail: String =
    """b AS (SELECT doc_id, h % 10007 AS bkt FROM g),
      |tc AS (SELECT bkt, count(*) AS ct FROM b WHERE doc_id % 10 = 0 GROUP BY bkt),
      |rc AS (SELECT bkt, count(*) AS cr FROM b WHERE doc_id % 10 != 0 GROUP BY bkt),
      |tt AS (SELECT CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t,
      |    CAST(sum(CASE WHEN doc_id % 10 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS r FROM b),
      |lm AS (SELECT k.bkt,
      |    CAST(round((ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE) / (tt.t + 10007))
      |              - ln(CAST(coalesce(rc.cr, 0) + 1 AS DOUBLE) / (tt.r + 10007))) * 1000000.0) AS BIGINT) AS lw_u
      |  FROM (SELECT DISTINCT bkt FROM b) k
      |  LEFT JOIN tc ON tc.bkt = k.bkt LEFT JOIN rc ON rc.bkt = k.bkt
      |  CROSS JOIN tt),
      |agg AS (SELECT b.doc_id, CAST(sum(lm.lw_u) AS BIGINT) AS logw_u,
      |    count(*) AS n_grams
      |  FROM b JOIN lm ON lm.bkt = b.bkt WHERE b.doc_id % 10 != 0
      |  GROUP BY b.doc_id)
      |SELECT doc_id, n_grams, logw_u,
      |  CAST(logw_u AS DOUBLE) / 1000000.0 AS log_weight
      |FROM agg ORDER BY logw_u DESC, doc_id LIMIT 100""".stripMargin

  /** U+0301 COMBINING ACUTE ACCENT — kept as an escape so the source
    * file stays ASCII; interpolated into the t24 SQL (both dialects
    * share the literal by construction). */
  private val CombAcute = "\u0301"

  /** THE URL canonicalization chain, shared with the streaming gate
    * ([[graft.streaming.UrlDedupStream]] reuses this so stream and
    * batch canonical keys agree BY CONSTRUCTION): lowercase, strip
    * scheme + www., drop fragment + tracking params, re-normalize the
    * first surviving separator back to '?', trim the trailing slash.
    * Returns the Spark-SQL expression text over column/expr `c`; the
    * d11 DuckDB oracle mirrors it with the 'g' flag and `\1`
    * backreference syntax. */
  object UrlCanon {
    def expr(c: String): String =
      ("""regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(%s),
        |      '^https?://', ''),
        |      '^www\\.', ''),
        |      '#.*$', ''),
        |      '[?&](utm_[a-z]+|ref)=[^&#]*', ''),
        |      '^([^?]*)&', '$1?'),
        |      '/$', '')""").stripMargin.format(c)

    /** The DuckDB mirror of [[expr]] ('g' flag, `\1` backreference)
      * — one definition shared by the d11 and t25 oracles so the
      * dialect copies cannot drift. */
    def duckExpr(c: String): String =
      ("""regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(%s),
        |      '^https?://', '', 'g'),
        |      '^www\.', '', 'g'),
        |      '#.*$', '', 'g'),
        |      '[?&](utm_[a-z]+|ref)=[^&#]*', '', 'g'),
        |      '^([^?]*)&', '\1?', 'g'),
        |      '/$', '', 'g')""").stripMargin.format(c)
  }

  /** THE quality-temperature mixing kernel, shared with the streaming
    * gate ([[graft.streaming.TemperatureSampleStream]] reuses these so
    * stream and batch keep-decisions agree BY CONSTRUCTION): the
    * integer per-mille uniqueness proxy, the deterministic coin, and
    * the per-quartile keep rates (bucket 4 = highest quality keeps
    * the most — the flattened-distribution recipe). */
  object TemperatureMix {
    /** Spark SQL: integer quality proxy over a text column/expr. */
    def qualityExpr(text: String): String =
      s"(1000 * CAST(size(array_distinct(split($text, ' '))) AS BIGINT))" +
        s" div CAST(size(split($text, ' ')) AS BIGINT)"
    /** Spark SQL: the t6-style deterministic coin in 0..99. */
    def coinExpr(docId: String): String =
      s"polyhash(concat('mix:', CAST($docId AS STRING))) % 100"
    /** Spark SQL: keep-rate per quartile bucket (percent). */
    def rateCase(bucket: String): String =
      s"CASE $bucket WHEN 4 THEN 100 WHEN 3 THEN 50 WHEN 2 THEN 25 ELSE 10 END"
    /** Spark SQL: quartile bucket of a quality value against three
      * threshold exprs (columns in the batch CTE, literals in the
      * streaming gate). */
    def bucketCase(q: String, q1: String, q2: String, q3: String): String =
      s"CASE WHEN $q <= $q1 THEN 1 WHEN $q <= $q2 THEN 2" +
        s" WHEN $q <= $q3 THEN 3 ELSE 4 END"
    /** Spark SQL: THE keep decision — coin under the bucket's rate.
      * Batch t16 and the streaming gate both evaluate exactly this. */
    def keepPredicate(docId: String, bucket: String): String =
      s"${coinExpr(docId)} < ${rateCase(bucket)}"
    /** DuckDB replay of [[qualityExpr]], shared by the t16 and
      * streaming-gate oracles so the proxy cannot drift. */
    def duckQualityExpr(text: String): String =
      s"(1000 * len(list_distinct(string_split($text, ' ')))::BIGINT)" +
        s" // len(string_split($text, ' '))::BIGINT"
    /** DuckDB replay of [[coinExpr]] (the polyhash code-point fold). */
    def duckCoinExpr(docId: String): String =
      s"""list_reduce([ascii(c)::BIGINT for c in
         |        string_split('mix:' || CAST($docId AS VARCHAR), '')],
         |      (a,h) -> (a*131+h) % $P) % 100""".stripMargin
  }

  /** THE chunking shape (window/stride constants + the chunk
    * arithmetic as Spark SQL fragments), shared with the streaming
    * twin ([[graft.streaming.ChunkStream]] builds its select chain
    * from exactly these), so batch and ingestion-time chunks agree
    * BY CONSTRUCTION: window 32 tokens, stride 24, final ragged
    * chunk kept, closed-form integer chunk count. */
  object ChunkShape {
    val window = 32
    val stride = 24
    /** Spark SQL: non-empty token array of a text column/expr. */
    def tokensExpr(text: String): String =
      s"filter(split($text, ' '), x -> x != '')"
    /** Spark SQL: highest chunk index for a token-count expr `n`. */
    def hiExpr(n: String): String =
      s"CASE WHEN $n <= $window THEN 0 ELSE ($n - $window + ${stride - 1}) DIV $stride END"
    /** Spark SQL select list for one chunk row over cols (w, n, i). */
    def chunkCols: Seq[String] = Seq(
      "CAST(i AS INT) AS chunk_idx",
      s"CAST(i * $stride AS INT) AS tok_start",
      s"CAST(least($window, n - i * $stride) AS INT) AS n_tok",
      s"array_join(slice(w, CAST(i * $stride + 1 AS INT), " +
        s"CAST(least($window, n - i * $stride) AS INT)), ' ') AS chunk_text")
  }

  /** THE dedup LSH shape, shared with every consumer (the streaming
    * gate [[graft.streaming.DedupStream]] reuses these so stream and
    * batch verdicts agree BY CONSTRUCTION): word-`shingleK` shingles,
    * 36-permutation MinHash, `bands` bands of `rowsPerBand` rows. */
  object LshShape {
    val shingleK = 3
    val bands = 12
    val modulus: Long = 2147483647L
    /** Spark SQL: distinct shingle hashes of a `text` column. */
    def shinglesSql: String = s"array_distinct(shingle_hashes(text, $shingleK))"
    /** Spark SQL: ONE band's bucket hash from a signature column —
      * the single source of the formula every consumer derives from. */
    def bandHashSql(sg: String, b: String): String =
      s"(((($sg[$b*3] * 131 + $sg[$b*3+1]) % $modulus) * 131 + $sg[$b*3+2]) % $modulus)"
    /** Spark SQL: the per-band bucket hash over a signature column. */
    def bandStructsSql(sg: String): String =
      s"""explode(transform(sequence(0, ${bands - 1}, 1), b -> struct(b AS band,
         |  ${bandHashSql(sg, "b")} AS bh))) AS e""".stripMargin
    /** The batch queries' band CTE over `sigs(doc_id, sg)` — same
      * formula, LATERAL VIEW form. */
    def bandCteSql: String =
      s"""band AS (SELECT doc_id, band,
         |  ${bandHashSql("sg", "band")} AS bh
         |  FROM sigs LATERAL VIEW explode(sequence(0, ${bands - 1})) t AS band)""".stripMargin
  }

  /** THE span shape of the C4-style span dedup (d9), shared with the
    * streaming gate [[graft.streaming.SpanDedupStream]] so stream and
    * batch span boundaries (and hashes) agree BY CONSTRUCTION:
    * non-overlapping `words`-word chunks, md5 of the joined chunk. */
  /** THE d11 URL fixture (doc_id-derived crawl URLs with scheme/www/
    * trailing-slash/tracking/fragment variants), exported so sg5's
    * stream prep and oracle build the same rows the batch d11 text
    * inlines. */
  private[graft] object UrlFixture {
    val spark: String =
      """concat(
        |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |    'site', CAST(doc_id % 7 AS STRING), '.example.com/page/',
        |    CAST(doc_id % 13 AS STRING),
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=rss'
        |         WHEN doc_id % 5 = 1 THEN '?ref=rss' ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)""".stripMargin
    val duck: String = spark.replace("AS STRING", "AS VARCHAR")
    /** The t25-style 3-domain variant — sg5 uses this one because its
      * canonical cell depends on the d%10 bucket the corpus/stream
      * split also uses, so the stream carries BOTH verdicts (cells the
      * corpus owns → dropped; archive.net cells only the stream's
      * d%10 ∈ {8,9} rows produce → passed). */
    val sparkMulti: String =
      """concat(
        |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |    'site', CAST(doc_id % 7 AS STRING), '.',
        |    CASE WHEN doc_id % 10 < 5 THEN 'example.com'
        |         WHEN doc_id % 10 < 8 THEN 'datahub.org'
        |         ELSE 'archive.net' END,
        |    '/page/', CAST(doc_id % 13 AS STRING))""".stripMargin
    val duckMulti: String = sparkMulti.replace("AS STRING", "AS VARCHAR")
  }

  object SpanShape {
    val words = 10
    /** Spark SQL: chunk `$i` (0-based) of word array `$w`. */
    def chunkSql(w: String, i: String): String =
      s"array_join(slice($w, $i * $words + 1, $words), ' ')"
    /** Spark SQL: chunk count of word array `$w` (ceil division). */
    def countSql(w: String): String =
      s"CAST(ceil(size($w) / $words.0) AS INT)"
  }

  /** THE PII shapes (t11), shared with the streaming scrub gate
    * ([[graft.streaming.PiiStream]]) so stream and batch redactions
    * agree BY CONSTRUCTION. Raw Java/RE2-portable regexes —
    * leftmost-greedy, no lookaround, no backreferences. `sqlLit`
    * doubles backslashes for engines that process escapes inside
    * string literals (Spark SQL); DuckDB takes the raw form. */
  /** THE t30 classifier scorer, shared with the streaming gate
    * ([[graft.streaming.ClassifierGateStream]]) so batch and stream
    * verdicts agree BY CONSTRUCTION: exact integer features over a
    * text column, fixed micro-unit weights, the logit as one
    * dialect-generated expression (keep ⇔ logit ≥ 0 ⇔ p ≥ ½). */
  object ClassifierShape {
    val (wUniq, wAwl, wNw) = (4000L, 300L, 10000L)
    val (bUniq, bAwl, bNw) = (500L, 4500L, 50L)
    def nw(c: String, spark: Boolean): String =
      if (spark) s"CAST(size(split($c, ' ')) AS BIGINT)"
      else s"CAST(len(string_split($c, ' ')) AS BIGINT)"
    def nu(c: String, spark: Boolean): String =
      if (spark) s"CAST(size(array_distinct(split($c, ' '))) AS BIGINT)"
      else s"CAST(len(list_distinct(string_split($c, ' '))) AS BIGINT)"
    def nc(c: String, spark: Boolean): String =
      if (spark) s"CAST(length($c) AS BIGINT)" else s"CAST(len($c) AS BIGINT)"
    /** distinct-word permille of `nwE` words. */
    def uniqPm(c: String, nwE: String, spark: Boolean): String =
      s"(${nu(c, spark)} * 1000)${if (spark) " DIV " else " // "}$nwE"
    /** mean-word-length permille (single-space corpus: word chars =
      * length − (n_words − 1)). */
    def awlPm(c: String, nwE: String, spark: Boolean): String =
      s"((${nc(c, spark)} - $nwE + 1) * 1000)${if (spark) " DIV " else " // "}$nwE"
    def logit(c: String, nwE: String, spark: Boolean): String =
      s"((${uniqPm(c, nwE, spark)} - $bUniq) * $wUniq" +
        s" + (${awlPm(c, nwE, spark)} - $bAwl) * $wAwl" +
        s" + ($nwE - $bNw) * $wNw)"
  }

  object PiiShape {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val phone = "[0-9]{3}-[0-9]{4}"
    def sqlLit(re: String): String = re.replace("\\", "\\\\")
    /** The redaction: email → ip → phone, in that order (later
      * patterns cannot match inside earlier tags). `esc` is the
      * dialect's literal escaper; `g` appends DuckDB's global flag. */
    def redactSql(col: String, esc: String => String,
                  g: String = ""): String =
      s"""regexp_replace(regexp_replace(regexp_replace($col,
         |    '${esc(email)}', '<EMAIL>'$g),
         |    '${esc(ipv4)}', '<IP>'$g),
         |    '${esc(phone)}', '<PHONE>'$g)""".stripMargin
  }

  /** Spark: distinct word-3-shingle polyhashes per doc, via the
    * single-pass native `shingle_hashes` (one loop per document). */
  private val sparkShingles =
    s"""WITH sh AS (
       |  SELECT doc_id, array_distinct(shingle_hashes(text, 3)) AS hs
       |  FROM documents WHERE size(split(text, ' ')) >= 3)""".stripMargin

  /** DuckDB mirror: same shingle hashes via a code-point fold. */
  private val duckShingles =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct([list_reduce(
       |      [ascii(c)::BIGINT for c in string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], '')],
       |      (h,c) -> (h*131+c) % $P) for i in generate_series(1, len(w)-2)]) AS hs
       |  FROM w WHERE len(w) >= 3)""".stripMargin

  /** MinHash permutation: h_i(x) = (a_i*x + b_i) mod P, i = 0..35.
    * All intermediates < 2^52 — safe 64-bit integer math both engines. */
  private val minhashSig =
    s"min(((1 + 40503*perm) * h + (12345 + 104729*perm)) % $P) AS sig"

  /** Spark-side signature CTE: the 36-permutation signature is
    * computed inside the document row by the codegen'd `minhash36`
    * expression — zero shuffle, one fused loop. (The naive
    * explode(shingles)×perms groupBy shuffles |docs|·|shingles|·36
    * rows; a higher-order-function formulation runs interpreted and is
    * ~20× slower than the native loop.) The oracle keeps the explicit
    * relational formulation; both are the same function. */
  private val sparkSigs =
    "sigs AS (SELECT doc_id, hs, minhash36(hs) AS sg FROM sh)"

  /** d18's fingerprint pipeline (Spark dialect) up to `f(doc_id,
    * fp)` — shared by the d18 query and [[winnowCapAudit]] so the
    * audit counts postings of exactly the operator's fingerprints. */
  private val winnowFpCtes: String =
    """WITH w0 AS (SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w
      |  FROM documents),
      |g AS (SELECT doc_id, i AS pos,
      |    CAST(conv(substring(md5(concat_ws(' ', slice(w, i+1, 3))), 1, 10), 16, 10) AS BIGINT) AS gh
      |  FROM w0 LATERAL VIEW explode(sequence(0, size(w) - 3)) t AS i
      |  WHERE size(w) >= 3),
      |s AS (SELECT doc_id, pos,
      |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      |  FROM g),
      |f AS (SELECT DISTINCT doc_id, fp
      |  FROM s WHERE pos >= 3)""".stripMargin

  /** d18's df-cap accounting (round-13 verdict ask #7 — the
    * no-silent-caps rule): the pair join discards every fingerprint
    * class past df 50 (boilerplate grams carry no pair signal but
    * would fan out quadratically), and this makes the discarded mass
    * VISIBLE — ScaleProbe logs it next to the pair count. Returns
    * (droppedPostings, keptPostings). */
  private[graft] def winnowCapAudit(spark: SparkSession,
                                    sfDir: String): (Long, Long) = {
    Tables.register(spark, sfDir)
    val r = spark.sql(
      s"""$winnowFpCtes,
         |dfc AS (SELECT fp, count(*) AS df FROM f GROUP BY fp)
         |SELECT CAST(coalesce(sum(CASE WHEN df > 50 THEN df END), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN df <= 50 THEN df END), 0) AS BIGINT)
         |FROM dfc""".stripMargin).head()
    (r.getLong(0), r.getLong(1))
  }

  /** SimHash bit sums s0..s30 + fingerprint assembly, identical text in
    * both dialects (built by one loop so the formulas cannot diverge). */
  private val simhashBitSums: String = (0 to 30)
    .map(j => s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS s$j")
    .mkString(",\n    ")
  private val simhashAssemble: String = (0 to 30)
    .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
    .mkString(" + ")

  /** Language marker lists for the stopword-count language-ID heuristic;
    * tie-break priority is list order. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "de", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "une", "dans"))

  /** Count of words from `set` — per-engine array containment. */
  private def hitCount(spark: Boolean, set: Seq[String]): String = {
    val lit = set.map(s => s"'$s'").mkString(", ")
    if (spark) s"size(filter(w, x -> array_contains(array($lit), x)))"
    else s"len(list_filter(w, x -> list_contains([$lit], x)))"
  }

  private val langPredCase: String = {
    val langs = langMarkers.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      val conds = rest.map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${langs.last}' END"
  }

  // -------------------------------------------------------------- queries

  private val sqls: Seq[SqlQ] = Seq(

    // D1: exact deduplication — hash-groupBy on content. At scale this
    // is one shuffle on md5(text); keeps the lowest doc_id per group
    // (the reference's ON-CONFLICT-DO-NOTHING keep-first semantics, S2).
    SqlQ.shared("d1_dedup_exact",
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin),

    // D2: MinHash signatures (36 perms = 12 bands x 3 rows). Shape
    // (doc_id, perm, sig) — the oracle recomputes every signature value.
    SqlQ.split("d2_minhash_sig",
      s"""$sparkShingles,
         |$sparkSigs
         |SELECT doc_id, perm, sig
         |FROM sigs LATERAL VIEW posexplode(sg) t AS perm, sig""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |p AS (SELECT CAST(unnest(generate_series(0, 35)) AS INT) AS perm)
         |SELECT doc_id, perm, $minhashSig
         |FROM e CROSS JOIN p GROUP BY doc_id, perm""".stripMargin),

    // D3: MinHash+LSH near-dup pairs. Spark side: band-bucket join
    // proposes candidates (no O(n^2)), exact Jaccard verifies >= 0.5.
    // Oracle: exact Jaccard via inverted shingle index — equal because
    // 12x3 banding has ~1-1.6e-7 recall at j >= 0.9 (this dataset's
    // near-dup pairs all sit above 0.9).
    SqlQ.split("d3_minhash_lsh_pairs",
      s"""$sparkShingles,
         |$sparkSigs,
         |${LshShape.bandCteSql},
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |ver AS (SELECT i, j, size(array_intersect(x.hs, y.hs)) AS shared,
         |               size(x.hs) AS na, size(y.hs) AS nb
         |  FROM cand JOIN sh x ON x.doc_id = cand.i JOIN sh y ON y.doc_id = cand.j)
         |SELECT i AS doc_id_a, j AS doc_id_b,
         |  CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         |FROM ver WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |cnt AS (SELECT doc_id, len(hs) AS n FROM sh),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
         |SELECT pr.i AS doc_id_a, pr.j AS doc_id_b,
         |  CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) AS jaccard
         |FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
         |WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.5""".stripMargin),



    // D17: INCREMENTAL dedup — the index-update contract a live lake
    // runs every ingest cycle (FineWeb-style rolling dedup): a new
    // batch (doc_id % 10 >= 7, the d10 split) joins an already-indexed
    // corpus, and the answer is ONLY the pairs the batch introduces —
    // batch×corpus and batch×batch, never corpus×corpus re-pairs.
    // Scale shape — the whole point of the operator: the probing side
    // of the band join is BATCH-sized, so per-cycle cost is
    // batch_bands × bucket_occupancy instead of the full corpus
    // re-pairing itself (d3 re-run from scratch); the corpus band
    // index is the persisted structure the probe hits. Candidates
    // canonicalize through least/greatest (a batch×batch pair is
    // found from both endpoints) and verify exactly like d3. Oracle:
    // the exact inverted-index pair enumeration with the
    // both-endpoints-in-corpus pairs excluded.
    SqlQ.split("d17_incremental_pairs",
      s"""$sparkShingles,
         |$sparkSigs,
         |${LshShape.bandCteSql},
         |inc AS (SELECT * FROM band WHERE doc_id % 10 >= 7),
         |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS i,
         |    greatest(a.doc_id, b.doc_id) AS j
         |  FROM inc a JOIN band b ON a.band = b.band AND a.bh = b.bh
         |    AND a.doc_id != b.doc_id),
         |ver AS (SELECT i, j, size(array_intersect(x.hs, y.hs)) AS shared,
         |               size(x.hs) AS na, size(y.hs) AS nb
         |  FROM cand JOIN sh x ON x.doc_id = cand.i JOIN sh y ON y.doc_id = cand.j)
         |SELECT i AS doc_id_a, j AS doc_id_b,
         |  CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         |FROM ver WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |cnt AS (SELECT doc_id, len(hs) AS n FROM sh),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
         |SELECT pr.i AS doc_id_a, pr.j AS doc_id_b,
         |  CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) AS jaccard
         |FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
         |WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.5
         |  AND NOT (pr.i % 10 < 7 AND pr.j % 10 < 7)""".stripMargin),

    // D14: MinHash ESTIMATOR audit — "measure the sketch" (the
    // recall-accounting contract e8/e12/e18 apply to ANN, applied to
    // the dedup sketch): for every verified near-dup pair, the
    // Jaccard the 36-coordinate signature ESTIMATES (matching
    // coordinates / 36 — the unbiased MinHash estimator) next to the
    // exact Jaccard the verify computed anyway. The estimate is what
    // a sketch-only pipeline (no shingle sets retained — the 100 TB
    // storage posture) would act on; this query is the measured
    // error of that posture. est_permille is integer (matches·1000
    // DIV 36), so only the already-exact jaccard division is FP.
    // Scale shape: identical to d3 (the pair sliver pays a 36-term
    // fold). Oracle: exact pairs via the inverted index + the d2
    // permutation replay, coordinates compared per pair.
    SqlQ.split("d14_minhash_estimate",
      s"""$sparkShingles,
         |$sparkSigs,
         |${LshShape.bandCteSql},
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |pv AS (SELECT i, j, x.hs AS ha, y.hs AS hb, x.sg AS sa, y.sg AS sb
         |  FROM cand JOIN sigs x ON x.doc_id = cand.i
         |  JOIN sigs y ON y.doc_id = cand.j),
         |o AS (SELECT i, j,
         |    size(array_intersect(ha, hb)) AS shared, size(ha) AS na, size(hb) AS nb,
         |    CAST(aggregate(sequence(0, 35), 0,
         |      (acc, k) -> acc + IF(sa[k] = sb[k], 1, 0)) AS INT) AS sig_matches
         |  FROM pv)
         |SELECT i AS doc_id_a, j AS doc_id_b, sig_matches,
         |  CAST(sig_matches * 1000 DIV 36 AS BIGINT) AS est_permille,
         |  CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         |FROM o WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |cnt AS (SELECT doc_id, len(hs) AS n FROM sh),
         |p AS (SELECT CAST(unnest(generate_series(0, 35)) AS INT) AS perm),
         |sigr AS (SELECT doc_id, perm, $minhashSig
         |  FROM e CROSS JOIN p GROUP BY doc_id, perm),
         |sg AS (SELECT doc_id, list(sig ORDER BY perm) AS sg FROM sigr GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |o AS (SELECT pr.i, pr.j, pr.shared, ca.n AS na, cb.n AS nb,
         |    list_sum([CASE WHEN sx.sg[k] = sy.sg[k] THEN 1 ELSE 0 END
         |              for k in generate_series(1, 36)])::INT AS sig_matches
         |  FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
         |  JOIN sg sx ON sx.doc_id = pr.i JOIN sg sy ON sy.doc_id = pr.j)
         |SELECT i AS doc_id_a, j AS doc_id_b, sig_matches,
         |  ((sig_matches * 1000) // 36)::BIGINT AS est_permille,
         |  CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         |FROM o WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5""".stripMargin),

    // D5: 31-bit SimHash fingerprints over shingle hashes (one shuffle:
    // explode -> groupBy(doc_id) with 31 codegen'd conditional sums).
    SqlQ.split("d5_simhash",
      s"""$sparkShingles
         |SELECT doc_id, simhash31(hs) AS simhash FROM sh""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |b AS (SELECT doc_id,
         |    $simhashBitSums
         |  FROM e GROUP BY doc_id)
         |SELECT doc_id, ($simhashAssemble)::BIGINT AS simhash FROM b""".stripMargin),

    // D6: SimHash near-dup pairs, Hamming distance <= 3. Spark side
    // uses 4-band candidate generation: distance <= 3 touches at most 3
    // of the 4 bands, so at least one band matches exactly (pigeonhole
    // — recall 1.0 by construction), then verifies the distance.
    // Oracle brute-forces all pairs from the same fingerprints.
    SqlQ.split("d6_simhash_pairs",
      s"""$sparkShingles,
         |f AS (SELECT doc_id, simhash31(hs) AS simhash FROM sh),
         |bands AS (SELECT doc_id, simhash, k, (simhash >> (8 * k)) & 255 AS bv
         |  FROM f LATERAL VIEW explode(sequence(0, 3)) t AS k),
         |cand AS (SELECT DISTINCT a.doc_id AS i, a.simhash AS ha, b.doc_id AS j, b.simhash AS hb
         |  FROM bands a JOIN bands b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT i AS doc_id_a, j AS doc_id_b, bit_count(ha ^ hb) AS hamming
         |FROM cand WHERE bit_count(ha ^ hb) <= 3""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |b AS (SELECT doc_id,
         |    $simhashBitSums
         |  FROM e GROUP BY doc_id),
         |f AS (SELECT doc_id, $simhashAssemble AS simhash FROM b)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT))::INT AS hamming
         |FROM f a, f b WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) <= 3""".stripMargin),

    // D9: C4-style cross-document SPAN dedup (Raffel et al. 2020 §2.2
    // "we discarded all but one of any three-sentence span occurring
    // more than once"): non-overlapping 10-word spans, global
    // keep-first on the span hash, documents rebuilt from their
    // surviving spans (docs losing every span drop out — the
    // whole-doc-duplicate case). Distinct from d1 (whole-doc hash)
    // and d4 (pair scoring): the unit is the span and the output is
    // REWRITTEN text. Scale shape: explode is linear, the keep-first
    // is ONE window shuffle on md5(span) (well-distributed — spans
    // are near-unique), the rebuild one groupBy(doc_id) — no joins,
    // no O(n²) stage. The 1048576 pack bounds spans/doc at 2^20
    // (a 10M-word doc), far past any training document — ENFORCED in
    // both dialects (a lazy CASE raises instead of silently aliasing
    // the keep-first key into the next doc_id's space).
    SqlQ.split("d9_span_dedup",
      s"""WITH w AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
         |ch AS (SELECT doc_id,
         |  CASE WHEN i < 1048576 THEN i
         |       ELSE CAST(assert_true(false, 'd9: document exceeds 2^20 spans — keep-first key would alias') AS INT) END AS idx,
         |  ${SpanShape.chunkSql("w", "i")} AS span
         |  FROM w LATERAL VIEW explode(sequence(0, ${SpanShape.countSql("w")} - 1)) t AS i),
         |k AS (SELECT doc_id, idx, span,
         |    min(doc_id * 1048576 + idx) OVER (PARTITION BY md5(span)) AS fk
         |  FROM ch),
         |kept AS (SELECT doc_id, idx, span FROM k WHERE doc_id * 1048576 + idx = fk)
         |SELECT doc_id,
         |  array_join(transform(array_sort(collect_list(struct(idx, span))), s -> s.span), ' ') AS kept_text,
         |  count(*) AS n_kept
         |FROM kept GROUP BY doc_id""".stripMargin,
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sp AS (SELECT doc_id,
         |    [array_to_string(w[(i-1)*${SpanShape.words}+1:(i-1)*${SpanShape.words}+${SpanShape.words}], ' ')
         |     for i in generate_series(1, CAST(ceil(len(w) / ${SpanShape.words}.0) AS BIGINT))] AS spans
         |  FROM w),
         |ch AS (SELECT doc_id,
         |  CASE WHEN i - 1 < 1048576 THEN i - 1
         |       ELSE error('d9: document exceeds 2^20 spans') END AS idx,
         |  spans[i] AS span
         |  FROM sp, unnest(generate_series(1, len(spans))) AS t(i)),
         |k AS (SELECT doc_id, idx, span,
         |    min(doc_id * 1048576 + idx) OVER (PARTITION BY md5(span)) AS fk
         |  FROM ch),
         |kept AS (SELECT doc_id, idx, span FROM k WHERE doc_id * 1048576 + idx = fk)
         |SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS kept_text, count(*) AS n_kept
         |FROM kept GROUP BY doc_id""".stripMargin),

    // T12: the published Gopher quality rules (Rae et al. 2021,
    // "Scaling Language Models", table A1) as a per-document keep/drop
    // verdict — the hard-filter stage a real pre-training pipeline
    // runs before dedup. Every rule is an EXACT integer comparison
    // (mean word length 3..10 becomes sum_len within [3n, 10n] — no
    // division), so the oracle hash-matches. One codegen'd per-row
    // scan, no shuffle; rules over lines are N/A on the single-line
    // corpus and documented out.
    SqlQ.split("t12_gopher_filters",
      """WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(size(ws) AS BIGINT) AS n_words,
        |    aggregate(transform(ws, x -> length(x)), 0L, (a, b) -> a + CAST(b AS BIGINT)) AS sum_len,
        |    CAST(size(filter(ws, x -> x rlike '[a-zA-Z]')) AS BIGINT) AS alpha_words,
        |    CAST(size(array_intersect(ws, array('the','a','of','and','to','is','in','that'))) AS BIGINT) AS stop_hits,
        |    CAST(size(filter(ws, x -> x = '#' OR x LIKE '%...%')) AS BIGINT) AS symbol_words
        |  FROM w)
        |SELECT doc_id, n_words,
        |  CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS ok_words,
        |  CAST(sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS BIGINT) AS ok_mean_len,
        |  CAST(10 * symbol_words <= n_words AS BIGINT) AS ok_symbols,
        |  CAST(10 * alpha_words >= 8 * n_words AS BIGINT) AS ok_alpha,
        |  CAST(stop_hits >= 2 AS BIGINT) AS ok_stop,
        |  CAST(n_words >= 50 AND n_words <= 100000
        |    AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
        |    AND 10 * symbol_words <= n_words
        |    AND 10 * alpha_words >= 8 * n_words
        |    AND stop_hits >= 2 AS BIGINT) AS keep
        |FROM m""".stripMargin,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |    len(ws)::BIGINT AS n_words,
        |    list_sum(list_transform(ws, x -> length(x)))::BIGINT AS sum_len,
        |    len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT AS alpha_words,
        |    len(list_intersect(ws, ['the','a','of','and','to','is','in','that']))::BIGINT AS stop_hits,
        |    len(list_filter(ws, x -> x = '#' OR x LIKE '%...%'))::BIGINT AS symbol_words
        |  FROM w)
        |SELECT doc_id, n_words,
        |  CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS ok_words,
        |  CAST(sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS BIGINT) AS ok_mean_len,
        |  CAST(10 * symbol_words <= n_words AS BIGINT) AS ok_symbols,
        |  CAST(10 * alpha_words >= 8 * n_words AS BIGINT) AS ok_alpha,
        |  CAST(stop_hits >= 2 AS BIGINT) AS ok_stop,
        |  CAST(n_words >= 50 AND n_words <= 100000
        |    AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
        |    AND 10 * symbol_words <= n_words
        |    AND 10 * alpha_words >= 8 * n_words
        |    AND stop_hits >= 2 AS BIGINT) AS keep
        |FROM m""".stripMargin),

    // D11: URL canonicalization + dedup — the CommonCrawl-pipeline
    // step that runs BEFORE any content dedup (C4 dedups at the URL
    // level first; tracking parameters and scheme/www/fragment
    // variants make one page look like many). The fixture corpus has
    // no URLs, so each doc gets one CONSTRUCTED in-query from its id
    // (t11's injection pattern — both engines replay the identical
    // concat), with scheme/www/tracking-query/fragment variation
    // baked in; canonicalization lowercases, strips scheme + www.,
    // drops the fragment and the tracking params, re-normalizes the
    // first surviving separator back to '?' (stripping '?utm_x=2'
    // from '?utm_x=2&keep=1' leaves '&keep=1' — the '^([^?]*)&'
    // rewrite turns that dangling '&' into '?'; a no-op when a '?'
    // survives or no params remain), trims the trailing slash;
    // dedup is d1's keep-first groupBy on the canonical URL. Scale
    // shape: per-row codegen'd regex chain + ONE shuffle on the
    // canonical key.
    SqlQ.split("d11_url_dedup",
      """WITH u AS (SELECT doc_id, concat(
        |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |    'site', CAST(doc_id % 7 AS STRING), '.example.com/page/',
        |    CAST(doc_id % 13 AS STRING),
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=rss'
        |         WHEN doc_id % 5 = 1 THEN '?ref=rss' ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |norm AS (SELECT doc_id, url,
        |    """.stripMargin + UrlCanon.expr("url") + """ AS canon
        |  FROM u)
        |SELECT canon, min(doc_id) AS keep_doc_id, count(*) AS n_variants
        |FROM norm GROUP BY canon""".stripMargin,
      """WITH u AS (SELECT doc_id, concat(
        |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |    'site', CAST(doc_id % 7 AS VARCHAR), '.example.com/page/',
        |    CAST(doc_id % 13 AS VARCHAR),
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=rss'
        |         WHEN doc_id % 5 = 1 THEN '?ref=rss' ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |norm AS (SELECT doc_id, url,
        |    """.stripMargin + UrlCanon.duckExpr("url") + """ AS canon
        |  FROM u)
        |SELECT canon, min(doc_id) AS keep_doc_id, count(*) AS n_variants
        |FROM norm GROUP BY canon""".stripMargin),

    // T14: DSIR — Data Selection via Importance Resampling (Xie et
    // al. 2023): pick raw-corpus documents whose hashed-n-gram
    // distribution looks like a TARGET domain sample. Per bucket
    // (hashed bigram mod 10007), estimate add-1-smoothed unigram LMs
    // of the target (t7's doc_id%10=0 stand-in) and the raw rest;
    // each raw document's log importance weight is the sum of its
    // grams' ln(p_target/p_raw); keep the top-100. The paper samples
    // with Gumbel noise; the deterministic variant ranks by weight
    // with a doc_id tie-break (reproducible corpus mixing, like t6).
    // Cross-engine parity: each bucket's log-ratio quantizes ONCE to
    // integer micro-nats (t13's trick — round() is away-from-zero in
    // both engines, including the negative ratios here) and the
    // per-doc sum is an order-independent BIGINT sum. Scale shape:
    // the bucket LM table is ≤10007 rows — broadcast — so selection
    // costs the gram scan + one per-doc aggregation, and the top-k is
    // ORDER BY+LIMIT (TakeOrdered — per-partition top-k merged on the
    // driver, no single-partition window).
    SqlQ.split("t14_dsir_select",
      s"""WITH g AS (SELECT doc_id, explode(shingle_hashes(text, 2)) AS h
         |  FROM documents WHERE size(split(text, ' ')) >= 2),
         |$t14Tail""".stripMargin,
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, unnest([list_reduce(
         |    [ascii(c)::BIGINT for c in string_split(w[i] || ' ' || w[i+1], '')],
         |    (h,c) -> (h*131+c) % $P) for i in generate_series(1, len(w)-1)]) AS h
         |  FROM w WHERE len(w) >= 2),
         |$t14Tail""".stripMargin),

    // T15: dataset profiling — the "dataset card" pass a pipeline
    // runs before/after every filter stage (per-shard doc counts,
    // token totals, length quantiles; shard skew is the thing this
    // surfaces). Quantiles are HISTOGRAM quantiles: lengths have a
    // bounded integer domain, so group by (shard, len) — map-side
    // combinable, the aggregate is ≤ shards × |len domain| rows — and
    // take the smallest len whose cumulative count crosses q·n (the
    // discrete quantile; rank-based, no interpolated doubles to
    // diverge between engines). At 100 TB this is one combinable
    // aggregate + a window over a tiny table — never a global sort,
    // never per-row windows.
    SqlQ.split("t15_profile",
      """WITH d AS (SELECT CAST(doc_id % 10 AS INT) AS shard,
        |    CAST(length(text) AS BIGINT) AS len,
        |    CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |n AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |    min(len) AS len_min, max(len) AS len_max
        |  FROM d GROUP BY shard),
        |hist AS (SELECT shard, len, count(*) AS c FROM d GROUP BY shard, len),
        |cum AS (SELECT shard, len,
        |    sum(c) OVER (PARTITION BY shard ORDER BY len) AS cm FROM hist),
        |q AS (SELECT cum.shard,
        |    min(CASE WHEN cm * 4 >= n.n_docs THEN len END) AS len_p25,
        |    min(CASE WHEN cm * 2 >= n.n_docs THEN len END) AS len_p50,
        |    min(CASE WHEN cm * 4 >= 3 * n.n_docs THEN len END) AS len_p75
        |  FROM cum JOIN n ON n.shard = cum.shard GROUP BY cum.shard)
        |SELECT n.shard, n.n_docs, n.total_tokens, n.len_min,
        |  q.len_p25, q.len_p50, q.len_p75, n.len_max
        |FROM n JOIN q ON q.shard = n.shard""".stripMargin,
      """WITH d AS (SELECT CAST(doc_id % 10 AS INT) AS shard,
        |    len(text)::BIGINT AS len,
        |    len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n_tok
        |  FROM documents),
        |n AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |    min(len) AS len_min, max(len) AS len_max
        |  FROM d GROUP BY shard),
        |hist AS (SELECT shard, len, count(*) AS c FROM d GROUP BY shard, len),
        |cum AS (SELECT shard, len,
        |    sum(c) OVER (PARTITION BY shard ORDER BY len) AS cm FROM hist),
        |q AS (SELECT cum.shard,
        |    min(CASE WHEN cm * 4 >= n.n_docs THEN len END) AS len_p25,
        |    min(CASE WHEN cm * 2 >= n.n_docs THEN len END) AS len_p50,
        |    min(CASE WHEN cm * 4 >= 3 * n.n_docs THEN len END) AS len_p75
        |  FROM cum JOIN n ON n.shard = cum.shard GROUP BY cum.shard)
        |SELECT n.shard, n.n_docs, n.total_tokens, n.len_min,
        |  q.len_p25, q.len_p50, q.len_p75, n.len_max
        |FROM n JOIN q ON q.shard = n.shard""".stripMargin),

    // T16: quality-temperature sampling — the corpus-mixing move that
    // keeps MORE of the high-quality tail and progressively less of
    // the low end (the flattened-distribution recipe behind "sample
    // high-quality sources at >1 epoch"): documents bucket into
    // quality quartiles and each bucket keeps a different share via
    // the t6 deterministic-coin predicate, so the same doc lands in
    // the same split on every run at any cluster size. The quality
    // proxy is integer per-mille uniqueness (distinct words / words —
    // word-soup scores low); quartile thresholds come from the t15
    // histogram-quantile pattern (bounded domain 0..1000, one
    // combinable aggregate — never a global NTILE sort), broadcast
    // back as a 1-row cross join.
    SqlQ.split("t16_temperature_sample",
      s"""WITH s AS (SELECT doc_id,
         |    ${TemperatureMix.qualityExpr("text")} AS q
         |  FROM documents),
         |hist AS (SELECT q, count(*) AS c FROM s GROUP BY q),
         |cum AS (SELECT q, sum(c) OVER (ORDER BY q) AS cm,
         |    CAST((SELECT count(*) FROM s) AS BIGINT) AS n FROM hist),
         |thr AS (SELECT min(CASE WHEN cm * 4 >= n THEN q END) AS q1,
         |    min(CASE WHEN cm * 2 >= n THEN q END) AS q2,
         |    min(CASE WHEN cm * 4 >= 3 * n THEN q END) AS q3 FROM cum),
         |b AS (SELECT doc_id, q,
         |    ${TemperatureMix.bucketCase("q", "thr.q1", "thr.q2", "thr.q3")} AS bucket
         |  FROM s CROSS JOIN thr),
         |coin AS (SELECT doc_id, q, bucket,
         |    ${TemperatureMix.coinExpr("doc_id")} AS toss FROM b)
         |SELECT doc_id, q AS uniq_permille, bucket, toss
         |FROM coin WHERE ${TemperatureMix.keepPredicate("doc_id", "bucket")}""".stripMargin,
      s"""WITH s AS (SELECT doc_id,
         |    ${TemperatureMix.duckQualityExpr("text")} AS q
         |  FROM documents),
         |hist AS (SELECT q, count(*) AS c FROM s GROUP BY q),
         |cum AS (SELECT q, sum(c) OVER (ORDER BY q) AS cm,
         |    CAST((SELECT count(*) FROM s) AS BIGINT) AS n FROM hist),
         |thr AS (SELECT min(CASE WHEN cm * 4 >= n THEN q END) AS q1,
         |    min(CASE WHEN cm * 2 >= n THEN q END) AS q2,
         |    min(CASE WHEN cm * 4 >= 3 * n THEN q END) AS q3 FROM cum),
         |b AS (SELECT doc_id, q,
         |    CASE WHEN q <= thr.q1 THEN 1 WHEN q <= thr.q2 THEN 2
         |      WHEN q <= thr.q3 THEN 3 ELSE 4 END AS bucket
         |  FROM s CROSS JOIN thr),
         |coin AS (SELECT doc_id, q, bucket,
         |    ${TemperatureMix.duckCoinExpr("doc_id")} AS toss FROM b)
         |SELECT doc_id, q AS uniq_permille, bucket, toss
         |FROM coin WHERE toss <
         |  CASE bucket WHEN 4 THEN 100 WHEN 3 THEN 50 WHEN 2 THEN 25 ELSE 10 END""".stripMargin),

    // T23: corpus-mixture accounting — the data-mixing table every
    // pretraining run publishes (the LLaMA/Pile "sampling prop ×
    // epochs" bookkeeping): per language domain, its document/token
    // counts, natural share, the target share the mixture declares
    // (literal policy weights: en 50%, de 20%, es 20%, rest 10%),
    // the token quota that share buys, and the implied epochs —
    // epochs_ppm > 1e6 means the domain REPEATS (upsampled), < 1e6
    // means it is subsampled. Everything is integer arithmetic
    // (parts-per-million quantization, the t13/t17 trick), so the
    // ratios are exact in both engines. Scale shape: one map-side-
    // combinable aggregate over the corpus + a 4-row broadcast total
    // — the accounting costs one scan no matter the corpus size.
    SqlQ.split("t23_mixture_weights",
      """WITH tok AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(size(filter(split(text, ' '), x -> x != ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM tok),
        |w AS (SELECT lang, n_docs, n_tokens,
        |    CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20
        |      WHEN 'es' THEN 20 ELSE 10 END AS target_pct FROM tok)
        |SELECT w.lang, n_docs, n_tokens,
        |  (n_tokens * 1000000) DIV tot.total AS natural_ppm,
        |  target_pct,
        |  (target_pct * tot.total) DIV 100 AS quota_tokens,
        |  (((target_pct * tot.total) DIV 100) * 1000000) DIV n_tokens AS epochs_ppm
        |FROM w CROSS JOIN tot""".stripMargin,
      """WITH tok AS (SELECT lang, count(*) AS n_docs,
        |    sum(len(list_filter(string_split(text, ' '), x -> x != '')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS total FROM tok),
        |w AS (SELECT lang, n_docs, n_tokens,
        |    CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20
        |      WHEN 'es' THEN 20 ELSE 10 END AS target_pct FROM tok)
        |SELECT w.lang, n_docs, n_tokens,
        |  (n_tokens * 1000000) // tot.total AS natural_ppm,
        |  target_pct,
        |  (target_pct * tot.total) // 100 AS quota_tokens,
        |  (((target_pct * tot.total) // 100) * 1000000) // n_tokens AS epochs_ppm
        |FROM w CROSS JOIN tot""".stripMargin),

    // T24: Unicode NFC canonicalization — the text-normalization pass
    // every web-corpus pipeline runs before hashing/dedup (the same
    // glyph arrives precomposed or as base + combining mark; without
    // canonicalization the d1/d2 hashes treat them as different
    // documents). Engine side is the native nfc_normalize Catalyst
    // expression (graft.functions.NfcNormalize — codegen'd, with an
    // isNormalized fast path for the overwhelmingly-ASCII common
    // case); DuckDB mirrors with its built-in nfc_normalize — both
    // implement published UAX #15, so outputs are byte-identical.
    // The fixture text is pure ASCII (already NFC), so the query
    // derives a decomposed column first — every 'e' gains a U+0301
    // combining acute, which NFC must re-compose to the single
    // codepoint U+00E9 — making the normalizer's work observable:
    // n_composed counts the marks absorbed, and head carries actual
    // normalized text into the cross-engine hash compare. Scale
    // shape: a pure per-row codegen map, no shuffle at all.
    SqlQ.split("t24_unicode_nfc",
      s"""WITH c AS (SELECT doc_id,
         |    replace(text, 'e', 'e$CombAcute') AS corrupted
         |  FROM documents),
         |n AS (SELECT doc_id, corrupted, nfc_normalize(corrupted) AS nfc FROM c)
         |SELECT doc_id,
         |  CAST(length(corrupted) AS INT) AS n_raw_cp,
         |  CAST(length(nfc) AS INT) AS n_nfc_cp,
         |  CAST(length(corrupted) - length(nfc) AS INT) AS n_composed,
         |  substring(nfc, 1, 24) AS head
         |FROM n""".stripMargin,
      s"""WITH c AS (SELECT doc_id,
         |    replace(text, 'e', 'e$CombAcute') AS corrupted
         |  FROM documents),
         |n AS (SELECT doc_id, corrupted, nfc_normalize(corrupted) AS nfc FROM c)
         |SELECT doc_id,
         |  length(corrupted)::INT AS n_raw_cp,
         |  length(nfc)::INT AS n_nfc_cp,
         |  (length(corrupted) - length(nfc))::INT AS n_composed,
         |  substring(nfc, 1, 24) AS head
         |FROM n""".stripMargin),

    // T25: domain-level corpus accounting with a per-domain cap — the
    // C4/Dolma "domain balancing" bookkeeping: web corpora are
    // dominated by a few mega-domains, so pipelines cap any single
    // registered domain at a fixed share of the corpus and record
    // what the cap discards. URLs run the SAME canonicalization
    // chain as d11 (UrlCanon both dialects — shared by construction),
    // hosts come off the canonical form, the registered domain is
    // the last two labels, and the accounting is exact integer ppm
    // (the t23 pattern). The fixture skews deliberately (50/30/20 by
    // doc_id decile) so the 40% cap binds on exactly one domain and
    // the kept/discarded arithmetic is exercised, not vacuous.
    // Scale shape: per-row codegen'd regex chain, ONE combinable
    // groupBy(domain), and a single-row total broadcast — the
    // accounting costs one scan at any corpus size.
    SqlQ.split("t25_domain_cap",
      """WITH u AS (SELECT doc_id, concat(
        |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |    'site', CAST(doc_id % 7 AS STRING), '.',
        |    CASE WHEN doc_id % 10 < 5 THEN 'example.com'
        |         WHEN doc_id % 10 < 8 THEN 'datahub.org'
        |         ELSE 'archive.net' END,
        |    '/page/', CAST(doc_id % 13 AS STRING)) AS url
        |  FROM documents),
        |norm AS (SELECT doc_id,
        |    """.stripMargin + UrlCanon.expr("url") + """ AS canon
        |  FROM u),
        |h AS (SELECT doc_id, regexp_extract(canon, '^[^/?]+', 0) AS host FROM norm),
        |r AS (SELECT doc_id, host,
        |    regexp_extract(host, '[^.]+\\.[^.]+$', 0) AS domain FROM h),
        |d AS (SELECT domain, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM r GROUP BY domain),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM d)
        |SELECT domain, n_hosts, n_docs,
        |  (n_docs * 1000000) DIV total AS natural_ppm,
        |  (total * 40) DIV 100 AS cap_docs,
        |  least(n_docs, (total * 40) DIV 100) AS kept_docs,
        |  CASE WHEN n_docs > (total * 40) DIV 100 THEN 1 ELSE 0 END AS over_cap
        |FROM d CROSS JOIN tot""".stripMargin,
      """WITH u AS (SELECT doc_id, concat(
        |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        |    'site', CAST(doc_id % 7 AS VARCHAR), '.',
        |    CASE WHEN doc_id % 10 < 5 THEN 'example.com'
        |         WHEN doc_id % 10 < 8 THEN 'datahub.org'
        |         ELSE 'archive.net' END,
        |    '/page/', CAST(doc_id % 13 AS VARCHAR)) AS url
        |  FROM documents),
        |norm AS (SELECT doc_id,
        |    """.stripMargin + UrlCanon.duckExpr("url") + """ AS canon
        |  FROM u),
        |h AS (SELECT doc_id, regexp_extract(canon, '^[^/?]+') AS host FROM norm),
        |r AS (SELECT doc_id, host,
        |    regexp_extract(host, '[^.]+\.[^.]+$') AS domain FROM h),
        |d AS (SELECT domain, count(DISTINCT host)::BIGINT AS n_hosts,
        |    count(*)::BIGINT AS n_docs
        |  FROM r GROUP BY domain),
        |tot AS (SELECT sum(n_docs)::BIGINT AS total FROM d)
        |SELECT domain, n_hosts, n_docs,
        |  ((n_docs * 1000000) // total)::BIGINT AS natural_ppm,
        |  ((total * 40) // 100)::BIGINT AS cap_docs,
        |  least(n_docs, (total * 40) // 100)::BIGINT AS kept_docs,
        |  (CASE WHEN n_docs > (total * 40) // 100 THEN 1 ELSE 0 END)::INT AS over_cap
        |FROM d CROSS JOIN tot""".stripMargin),

    // T17: count-based n-gram LM build — the trigram statistics pass
    // behind decontamination suffix checks, Kneser-Ney baselines and
    // infini-gram-style lookups: per (bigram prefix → next word)
    // counts, the prefix totals, the conditional probability
    // (quantized to integer micro-units — the t13 trick, so the
    // engines' identical exact division rounds identically) and the
    // top-3 continuations per prefix. Scale shape: both aggregations
    // are map-side-combinable groupBys on well-distributed keys; the
    // per-prefix top-k is a window PARTITIONED BY prefix (per-prefix
    // cardinality is vocabulary-bounded — never a global sort). At
    // 100 TB the standard extra is count-1 pruning before the join;
    // the fixture keeps every trigram so the oracle is exact.
    SqlQ.split("t17_ngram_lm",
      """WITH w AS (SELECT filter(split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g AS (SELECT concat(w[i], ' ', w[i+1]) AS prefix, w[i+2] AS next_w
        |  FROM w LATERAL VIEW explode(sequence(0, size(w) - 3)) t AS i
        |  WHERE size(w) >= 3),
        |c AS (SELECT prefix, next_w, CAST(count(*) AS BIGINT) AS c
        |  FROM g GROUP BY prefix, next_w),
        |p AS (SELECT prefix, CAST(sum(c) AS BIGINT) AS pt FROM c GROUP BY prefix),
        |r AS (SELECT c.prefix, c.next_w, c.c, p.pt,
        |    CAST(row_number() OVER (PARTITION BY c.prefix
        |      ORDER BY c.c DESC, c.next_w) AS INT) AS rnk
        |  FROM c JOIN p ON p.prefix = c.prefix)
        |SELECT prefix, next_w, c, pt,
        |  CAST(round(1000000.0 * c / pt) AS BIGINT) AS p_micro, rnk
        |FROM r WHERE rnk <= 3""".stripMargin,
      """WITH w AS (SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |t0 AS (SELECT unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |    for i in generate_series(1, len(w) - 2)]) AS tri
        |  FROM w WHERE len(w) >= 3),
        |g AS (SELECT string_split(tri, ' ') AS p3 FROM t0),
        |g2 AS (SELECT p3[1] || ' ' || p3[2] AS prefix, p3[3] AS next_w FROM g),
        |c AS (SELECT prefix, next_w, CAST(count(*) AS BIGINT) AS c
        |  FROM g2 GROUP BY prefix, next_w),
        |p AS (SELECT prefix, CAST(sum(c) AS BIGINT) AS pt FROM c GROUP BY prefix),
        |r AS (SELECT c.prefix, c.next_w, c.c, p.pt,
        |    CAST(row_number() OVER (PARTITION BY c.prefix
        |      ORDER BY c.c DESC, c.next_w) AS INT) AS rnk
        |  FROM c JOIN p ON p.prefix = c.prefix)
        |SELECT prefix, next_w, c, pt,
        |  CAST(round(1000000.0 * c / pt) AS BIGINT) AS p_micro, rnk
        |FROM r WHERE rnk <= 3""".stripMargin),

    // T31: interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the
    // smoothing behind the KenLM 5-grams CCNet filters with) — t17
    // gives raw conditional counts; this gives the SMOOTHED model:
    //   p_kn(w2|w1) = max(c12 - d, 0)/c1 + d·N1+(w1,·)/c1 · N1+(·,w2)/N1+(·,·)
    // with d = 3/4. Everything is EXACT integer arithmetic: the
    // discount rides as quarters (4·c12 − 3), the whole probability
    // is ONE 128-bit integer division to micro-units (DECIMAL(38,0)
    // DIV on Spark ≡ HUGEINT // on the oracle — verified equal), so
    // both engines round identically AND the numerator 1e6·c12·nbi
    // cannot overflow before c12·nbi ≈ 4e31, far past any corpus (a
    // BIGINT numerator wrapped at c12·nbi ≈ 2.3e12 — inside the
    // web-scale range this operator targets). Scale shape: bigram counts, left/right
    // continuation counts and the type total are all map-side-
    // combinable groupBys on well-distributed keys; the final join
    // keys on w1/w2 (vocabulary-bounded sides) and the type total is
    // a broadcast scalar. The c12 >= 5 cut bounds the output to the
    // model head (the full table would be the vocab² tail).
    SqlQ.split("t31_kn_bigram",
      """WITH w AS (SELECT filter(split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g AS (SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM w LATERAL VIEW explode(sequence(0, size(w) - 2)) t AS i
        |  WHERE size(w) >= 2),
        |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM g GROUP BY w1, w2),
        |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS n1_fwd FROM c GROUP BY w1),
        |r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_back FROM c GROUP BY w2),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS nbi FROM c)
        |SELECT c.w1, c.w2, c.c12, l.c1, l.n1_fwd, r.n1_back,
        |  CAST((CAST(1000000 AS DECIMAL(38,0)) * (CAST(greatest(4*c.c12 - 3, 0) AS DECIMAL(38,0)) * nb.nbi
        |      + CAST(3 AS DECIMAL(38,0)) * l.n1_fwd * r.n1_back))
        |    DIV (CAST(4 AS DECIMAL(38,0)) * l.c1 * nb.nbi) AS BIGINT) AS p_kn_micro
        |FROM c JOIN l ON l.w1 = c.w1 JOIN r ON r.w2 = c.w2 CROSS JOIN nb
        |WHERE c.c12 >= 5""".stripMargin,
      """WITH w AS (SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g0 AS (SELECT unnest([w[i] || ' ' || w[i+1]
        |    for i in generate_series(1, len(w) - 1)]) AS bg
        |  FROM w WHERE len(w) >= 2),
        |g AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
        |  FROM g0),
        |c AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM g GROUP BY w1, w2),
        |l AS (SELECT w1, sum(c12)::BIGINT AS c1,
        |    count(*)::BIGINT AS n1_fwd FROM c GROUP BY w1),
        |r AS (SELECT w2, count(*)::BIGINT AS n1_back FROM c GROUP BY w2),
        |nb AS (SELECT count(*)::BIGINT AS nbi FROM c)
        |SELECT c.w1, c.w2, c.c12, l.c1, l.n1_fwd, r.n1_back,
        |  ((1000000::HUGEINT * (greatest(4*c.c12 - 3, 0)::HUGEINT * nb.nbi
        |      + 3::HUGEINT * l.n1_fwd * r.n1_back))
        |    // (4::HUGEINT * l.c1 * nb.nbi))::BIGINT AS p_kn_micro
        |FROM c JOIN l ON l.w1 = c.w1 JOIN r ON r.w2 = c.w2 CROSS JOIN nb
        |WHERE c.c12 >= 5""".stripMargin),

    // T19: sliding-window chunking — the retrieval/embedding prep
    // step (split every document into overlapping fixed-token windows
    // so each chunk fits an encoder's context and boundary sentences
    // appear in two chunks): window 32 tokens, stride 24, so chunk i
    // covers tokens [24i, 24i+32) and the final chunk is the ragged
    // tail. Chunk count is the closed integer form 1 + ceil((n-32)/24)
    // (exact integer arithmetic — no float chunk math to diverge).
    // Scale shape: a narrow generate with fan-out ∝ n_tok/stride per
    // document and no shuffle — the chunker is embarrassingly parallel
    // at any corpus size, and the chunk id (doc_id, chunk_idx) is the
    // downstream embedding job's natural partition key.
    SqlQ.split("t19_chunk",
      s"""WITH w AS (SELECT doc_id, ${ChunkShape.tokensExpr("text")} AS w
         |  FROM documents),
         |c AS (SELECT doc_id, w, size(w) AS n FROM w WHERE size(w) > 0),
         |k AS (SELECT doc_id, w, n, i
         |  FROM c LATERAL VIEW explode(sequence(0, ${ChunkShape.hiExpr("n")})) t AS i),
         |s AS (SELECT doc_id,
         |    ${ChunkShape.chunkCols.mkString(",\n    ")}
         |  FROM k)
         |SELECT doc_id, chunk_idx, tok_start, n_tok, chunk_text,
         |  md5(chunk_text) AS chunk_md5
         |FROM s""".stripMargin,
      s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
         |  FROM documents),
         |c AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) > 0),
         |k AS (SELECT doc_id, w, n, unnest(generate_series(0,
         |    CASE WHEN n <= ${ChunkShape.window} THEN 0
         |      ELSE (n - ${ChunkShape.window} + ${ChunkShape.stride - 1}) // ${ChunkShape.stride} END)) AS i
         |  FROM c),
         |s AS (SELECT doc_id, i::INT AS chunk_idx,
         |    (i * ${ChunkShape.stride})::INT AS tok_start,
         |    least(${ChunkShape.window}, n - i * ${ChunkShape.stride})::INT AS n_tok,
         |    array_to_string(list_slice(w, i * ${ChunkShape.stride} + 1,
         |      i * ${ChunkShape.stride} + least(${ChunkShape.window}, n - i * ${ChunkShape.stride})), ' ') AS chunk_text
         |  FROM k)
         |SELECT doc_id, chunk_idx, tok_start, n_tok, chunk_text,
         |  md5(chunk_text) AS chunk_md5
         |FROM s""".stripMargin),

    // T20: deterministic shard export — the "global shuffle" a
    // training run wants (examples spread pseudo-randomly across
    // output shards, each shard internally ordered, same layout on
    // every run at any cluster size) WITHOUT a global sort: shard =
    // polyhash % 8 spreads documents, the within-shard position is a
    // row_number ordered by an independent hash (the shuffle key) —
    // a per-shard sort, which is exactly the work of writing that
    // shard's file, never a single global ordering. At 100 TB the
    // shard count scales with the cluster (1024+) so each per-shard
    // sort stays executor-sized; the two hashes are independent
    // salts of the same polyhash kernel, so assignment and order
    // don't correlate.
    SqlQ.split("t20_shard_export",
      """WITH h AS (SELECT doc_id,
        |    CAST(polyhash(concat('shard:', CAST(doc_id AS STRING))) % 8 AS INT) AS shard,
        |    polyhash(concat('order:', CAST(doc_id AS STRING))) AS ord
        |  FROM documents),
        |p AS (SELECT doc_id, shard, ord,
        |    CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
        |  FROM h)
        |SELECT doc_id, shard, pos,
        |  CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_docs
        |FROM p""".stripMargin,
      s"""WITH h AS (SELECT doc_id,
         |    (list_reduce([ascii(c)::BIGINT for c in
         |        string_split('shard:' || CAST(doc_id AS VARCHAR), '')],
         |      (a,b) -> (a*131+b) % $P) % 8)::INT AS shard,
         |    list_reduce([ascii(c)::BIGINT for c in
         |        string_split('order:' || CAST(doc_id AS VARCHAR), '')],
         |      (a,b) -> (a*131+b) % $P) AS ord
         |  FROM documents),
         |p AS (SELECT doc_id, shard, ord,
         |    CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
         |  FROM h)
         |SELECT doc_id, shard, pos,
         |  CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_docs
         |FROM p""".stripMargin),

    // T5: the end-to-end training-corpus selection this pipeline
    // exists for — keep documents that pass quality heuristics AND are
    // not the duplicate side of a near-dup pair (keep-lowest-doc_id).
    // Spark side: LSH candidates + verify → anti-join; oracle:
    // inverted-index exact pairs → anti-join.
    SqlQ.split("t5_corpus_select",
      s"""$sparkShingles,
         |$sparkSigs,
         |${LshShape.bandCteSql},
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |dup AS (SELECT DISTINCT j AS doc_id FROM cand
         |  JOIN sh x ON x.doc_id = cand.i JOIN sh y ON y.doc_id = cand.j
         |  WHERE CAST(size(array_intersect(x.hs, y.hs)) AS DOUBLE)
         |        / (size(x.hs) + size(y.hs) - size(array_intersect(x.hs, y.hs))) >= 0.5),
         |q AS (SELECT doc_id, size(split(text, ' ')) AS n_words,
         |        CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / size(split(text, ' ')) AS uniq_ratio
         |      FROM documents)
         |SELECT q.doc_id, q.n_words, q.uniq_ratio
         |FROM q LEFT ANTI JOIN dup ON q.doc_id = dup.doc_id
         |WHERE q.n_words >= 20 AND q.n_words <= 100 AND q.uniq_ratio >= 0.2""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |cnt AS (SELECT doc_id, len(hs) AS n FROM sh),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
         |dup AS (SELECT DISTINCT pr.j AS doc_id
         |  FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
         |  WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.5),
         |q AS (SELECT doc_id, len(string_split(text, ' '))::INT AS n_words,
         |        len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) AS uniq_ratio
         |      FROM documents)
         |SELECT q.doc_id, q.n_words, q.uniq_ratio
         |FROM q ANTI JOIN dup ON q.doc_id = dup.doc_id
         |WHERE q.n_words >= 20 AND q.n_words <= 100 AND q.uniq_ratio >= 0.2""".stripMargin),

    // T1: quality scoring — length / uniqueness / stopword-ratio
    // heuristics. Ratios are single divisions of exact ints.
    SqlQ.split("t1_quality_score",
      s"""WITH w AS (SELECT doc_id, n_chars, split(text, ' ') AS w FROM documents)
         |SELECT doc_id, n_chars,
         |  size(w) AS n_words,
         |  size(array_distinct(w)) AS n_uniq_words,
         |  CAST(aggregate(transform(w, x -> length(x)), 0, (a,b) -> a+b) AS DOUBLE) / size(w) AS avg_word_len,
         |  CAST(size(array_distinct(w)) AS DOUBLE) / size(w) AS uniq_ratio,
         |  CAST(${hitCount(spark = true, langMarkers.head._2)} AS DOUBLE) / size(w) AS stopword_ratio
         |FROM w""".stripMargin,
      s"""WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id, n_chars,
         |  len(w)::INT AS n_words,
         |  len(list_distinct(w))::INT AS n_uniq_words,
         |  list_reduce([len(x) for x in w], (a,b) -> a+b)::DOUBLE / len(w) AS avg_word_len,
         |  len(list_distinct(w))::DOUBLE / len(w) AS uniq_ratio,
         |  ${hitCount(spark = false, langMarkers.head._2)}::DOUBLE / len(w) AS stopword_ratio
         |FROM w""".stripMargin),

    // T2: token counting — whitespace tokens and a BPE-ish regex pass.
    SqlQ.split("t2_token_count",
      """SELECT doc_id,
        |  size(filter(split(text, ' '), x -> x != '')) AS ws_tokens,
        |  size(regexp_extract_all(text, '[a-z]+', 0)) AS alpha_tokens,
        |  size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS bpe_tokens,
        |  length(text) AS n_chars_measured
        |FROM documents""".stripMargin,
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x != ''))::INT AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+'))::INT AS alpha_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::INT AS bpe_tokens,
        |  len(text)::INT AS n_chars_measured
        |FROM documents""".stripMargin),

    // T3: language-ID via stopword-marker counts, deterministic
    // tie-break by marker-list priority.
    SqlQ.split("t3_langid",
      s"""WITH w AS (SELECT doc_id, lang, split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, lang,
         |  ${langMarkers.map { case (l, ms) => s"${hitCount(spark = true, ms)} AS s_$l" }.mkString(",\n  ")}
         |FROM w)
         |SELECT doc_id, lang, ${langMarkers.map(m => "s_" + m._1).mkString(", ")},
         |  $langPredCase AS lang_pred
         |FROM s""".stripMargin,
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, lang,
         |  ${langMarkers.map { case (l, ms) => s"${hitCount(spark = false, ms)}::INT AS s_$l" }.mkString(",\n  ")}
         |FROM w)
         |SELECT doc_id, lang, ${langMarkers.map(m => "s_" + m._1).mkString(", ")},
         |  $langPredCase AS lang_pred
         |FROM s""".stripMargin),

    // T4: document fingerprinting — whole-content rolling hash plus
    // shingle-set min/max sketch.
    SqlQ.split("t4_fingerprint",
      s"""$sparkShingles
         |SELECT d.doc_id, polyhash(d.text) AS content_hash,
         |  array_min(sh.hs) AS min_shingle_hash,
         |  array_max(sh.hs) AS max_shingle_hash,
         |  size(sh.hs) AS n_shingles
         |FROM documents d JOIN sh ON sh.doc_id = d.doc_id""".stripMargin,
      s"""$duckShingles
         |SELECT d.doc_id, list_reduce([ascii(c)::BIGINT for c in string_split(d.text, '')],
         |    (h,c) -> (h*131+c) % $P) AS content_hash,
         |  list_aggregate(sh.hs, 'min') AS min_shingle_hash,
         |  list_aggregate(sh.hs, 'max') AS max_shingle_hash,
         |  len(sh.hs)::INT AS n_shingles
         |FROM documents d JOIN sh ON sh.doc_id = d.doc_id""".stripMargin),

    // T6: stratified corpus sampling — per-language quotas applied by
    // a DETERMINISTIC content hash (`polyhash(lang:doc_id) % 100 <
    // quota`), the reproducible corpus-mixing primitive: the same
    // document lands in the same split on every run, on any cluster
    // size, with no shared RNG state — a pure per-row predicate that
    // scales as a scan filter.
    SqlQ.split("t6_stratified_sample",
      s"""SELECT doc_id, lang,
         |  polyhash(concat(lang, ':', CAST(doc_id AS STRING))) % 100 AS bucket
         |FROM documents
         |WHERE polyhash(concat(lang, ':', CAST(doc_id AS STRING))) % 100 <
         |  CASE lang WHEN 'en' THEN 35 WHEN 'de' THEN 70 WHEN 'es' THEN 70 ELSE 100 END""".stripMargin,
      s"""WITH h AS (SELECT doc_id, lang,
         |    list_reduce([ascii(c)::BIGINT for c in
         |        string_split(lang || ':' || CAST(doc_id AS VARCHAR), '')],
         |      (a,b) -> (a*131+b) % $P) % 100 AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, bucket FROM h
         |WHERE bucket < CASE lang WHEN 'en' THEN 35 WHEN 'de' THEN 70
         |  WHEN 'es' THEN 70 ELSE 100 END""".stripMargin),

    // T7: benchmark decontamination — flag corpus documents sharing
    // any 4-word shingle with a held-out "benchmark" subset (doc_id %
    // 10 = 0 stands in for the eval suite). The at-scale shape is the
    // whole point: the benchmark side is tiny relative to the corpus
    // (MBs of eval data vs TBs of training text), so its distinct
    // shingle hashes BROADCAST and the corpus side never shuffles —
    // decontamination costs one scan. Hits count the distinct
    // contaminated shingles per document (the triage signal real
    // pipelines sort by).
    SqlQ.split("t7_decontaminate",
      s"""WITH g AS (SELECT doc_id, array_distinct(shingle_hashes(text, 4)) AS hs
         |  FROM documents WHERE size(split(text, ' ')) >= 4),
         |bh AS (SELECT DISTINCT explode(hs) AS h FROM g WHERE doc_id % 10 = 0),
         |corpus AS (SELECT doc_id, explode(hs) AS h FROM g WHERE doc_id % 10 != 0)
         |SELECT corpus.doc_id, count(*) AS contaminated_grams
         |FROM corpus JOIN bh ON corpus.h = bh.h
         |GROUP BY corpus.doc_id""".stripMargin,
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, list_distinct([list_reduce(
         |    [ascii(c)::BIGINT for c in string_split(
         |       w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3], '')],
         |    (h,c) -> (h*131+c) % $P) for i in generate_series(1, len(w)-3)]) AS hs
         |  FROM w WHERE len(w) >= 4),
         |bh AS (SELECT DISTINCT unnest(hs) AS h FROM g WHERE doc_id % 10 = 0),
         |corpus AS (SELECT doc_id, unnest(hs) AS h FROM g WHERE doc_id % 10 != 0)
         |SELECT corpus.doc_id, count(*) AS contaminated_grams
         |FROM corpus JOIN bh ON corpus.h = bh.h
         |GROUP BY corpus.doc_id""".stripMargin),

    // T22: FUZZY benchmark decontamination — the near-dup upgrade of
    // t7: exact n-gram overlap misses eval data that was lightly
    // edited before it leaked into the crawl (punctuation changes,
    // re-wrapped lines, paraphrased fragments), so production
    // decontamination ALSO runs a MinHash-LSH pass between the
    // corpus and the benchmark (the GPT-3 appendix-C shape at
    // document level). Reuses the d3 machinery wholesale — THE
    // LshShape band formula, the minhash36 signature, the exact
    // Jaccard verify at τ=0.5 — restricted to corpus × benchmark
    // pairs. Scale shape: the benchmark side is MBs against TBs, so
    // its band table BROADCASTS (hinted; the t7 argument) and the
    // corpus stream never shuffles — candidates fall out of a
    // broadcast equality join, and only the candidate sliver pays
    // the verify (the sliver and the benchmark shingle side both
    // hint BROADCAST there, so the corpus-sized shingle table never
    // enters a sort — the e4 verify-join trade, documented at
    // e4Ctes). The INGESTION-TIME twin is DedupStream.lshGate
    // pointed at the benchmark index (corpusIndex over the benchmark
    // split) — same LshShape kernel, so gate and batch verdicts
    // agree by construction; DedupStreamSpec pins the parity on this
    // fixture. Oracle = the d3 contract: brute-force exact
    // Jaccard over corpus × benchmark (the band config is tuned for
    // full recall at this τ — d3 proves it corpus-wide on this
    // fixture, and these pairs are a subset).
    SqlQ.split("t22_fuzzy_decontam",
      s"""$sparkShingles,
         |$sparkSigs,
         |${LshShape.bandCteSql},
         |bb AS (SELECT DISTINCT band, bh, doc_id AS bench_id
         |  FROM band WHERE doc_id % 10 = 0),
         |cand AS (SELECT /*+ BROADCAST(bb) */ DISTINCT c.doc_id, bb.bench_id
         |  FROM band c JOIN bb ON c.band = bb.band AND c.bh = bb.bh
         |  WHERE c.doc_id % 10 != 0),
         |ver AS (SELECT /*+ BROADCAST(cand), BROADCAST(y) */
         |    cand.doc_id, cand.bench_id,
         |    size(array_intersect(x.hs, y.hs)) AS shared,
         |    size(x.hs) AS na, size(y.hs) AS nb
         |  FROM cand JOIN sh x ON x.doc_id = cand.doc_id
         |  JOIN sh y ON y.doc_id = cand.bench_id)
         |SELECT doc_id, bench_id,
         |  CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         |FROM ver WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |cnt AS (SELECT doc_id, len(hs) AS n FROM sh),
         |pr AS (SELECT a.doc_id, b.doc_id AS bench_id, count(*) AS shared
         |  FROM e a JOIN e b ON a.h = b.h
         |  WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT pr.doc_id, pr.bench_id,
         |  CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) AS jaccard
         |FROM pr JOIN cnt ca ON ca.doc_id = pr.doc_id
         |JOIN cnt cb ON cb.doc_id = pr.bench_id
         |WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.5""".stripMargin),

    // T8 is programmatic (distributed two-pass prefix sum — a
    // partition-less window would plan Exchange SinglePartition and
    // route every document through ONE task) — see t8Query below.

    // T9: intra-document repetition scoring (the Gopher repetition
    // rules, Rae et al. 2021 §A1.1): the fraction of characters
    // covered by the most frequent word 2-gram, and the fraction of
    // 2-gram occurrences that are repeats — the signals used to drop
    // boilerplate/spam before training. Scale shape: one explode →
    // one (doc_id, gram) hash aggregate (map-side combine eats the
    // heavy repeats) → one doc_id-partitioned window; nothing global.
    // Most-frequent tie-break is (count DESC, gram) — deterministic
    // binary string order on both engines.
    SqlQ.split("t9_repetition",
      """WITH w AS (SELECT doc_id, n_chars, split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, n_chars,
        |        explode(transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))) AS gram
        |      FROM w WHERE size(w) >= 2),
        |c AS (SELECT doc_id, n_chars, gram, count(*) AS cnt
        |      FROM g GROUP BY doc_id, n_chars, gram),
        |top AS (SELECT doc_id, n_chars, gram, cnt,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS r,
        |        SUM(cnt) OVER (PARTITION BY doc_id) AS total_grams,
        |        COUNT(*) OVER (PARTITION BY doc_id) AS distinct_grams
        |        FROM c)
        |SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_count,
        |  CAST(cnt * length(gram) AS DOUBLE) / n_chars AS top_bigram_char_frac,
        |  CAST(total_grams - distinct_grams AS DOUBLE) / total_grams AS dup_bigram_frac
        |FROM top WHERE r = 1""".stripMargin,
      """WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, n_chars,
        |        unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]) AS gram
        |      FROM w WHERE len(w) >= 2),
        |c AS (SELECT doc_id, n_chars, gram, count(*) AS cnt
        |      FROM g GROUP BY doc_id, n_chars, gram),
        |top AS (SELECT doc_id, n_chars, gram, cnt,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS r,
        |        SUM(cnt) OVER (PARTITION BY doc_id) AS total_grams,
        |        COUNT(*) OVER (PARTITION BY doc_id) AS distinct_grams
        |        FROM c)
        |SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_count,
        |  (cnt * len(gram))::DOUBLE / n_chars AS top_bigram_char_frac,
        |  (total_grams - distinct_grams)::DOUBLE / total_grams AS dup_bigram_frac
        |FROM top WHERE r = 1""".stripMargin),

    // T10: per-document keyword extraction — the top rarity-weighted
    // term (TF-IDF with a LINEAR inverse document frequency:
    // score = tf × N/df). ln() is deliberately avoided: tf×N is an
    // exact integer < 2^53 and one IEEE division is bit-identical on
    // both engines, so the oracle hash-matches; the ranking is
    // idf-monotone either way. Scale shape: one explode feeding two
    // hash aggregates (tf keyed by (doc, word) — map-side combine;
    // df keyed by word — vocabulary-sized result, broadcast back),
    // then one doc_id-partitioned window. No global sort, no join of
    // two big sides.
    SqlQ.split("t10_keywords",
      """WITH w AS (SELECT doc_id, explode(split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        |-- df from tf, not from w (r16): tf already holds one row per
        |-- (doc, word), so count(*) equals count(DISTINCT doc_id) over
        |-- w — and the tf exchange is REUSED where the w formulation
        |-- re-ran the corpus explode for the df branch
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |        CAST(tf.tf * n.n AS DOUBLE) / df.df AS score
        |      FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
        |top AS (SELECT doc_id, word, tf, df, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS r
        |        FROM s)
        |SELECT doc_id, word AS keyword, tf, df, score
        |FROM top WHERE r = 1""".stripMargin,
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |        (tf.tf * n.n)::DOUBLE / df.df AS score
        |      FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
        |top AS (SELECT doc_id, word, tf, df, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS r
        |        FROM s)
        |SELECT doc_id, word AS keyword, tf, df, score
        |FROM top WHERE r = 1""".stripMargin),

    // T11: PII detection + redaction (the Dolma/CCNet-style scrub
    // every released training corpus runs): emails, IPv4s, and
    // phone-shaped numbers detected by dialect-portable regexes
    // (leftmost-greedy in both engines; no lookaround, no
    // backreferences — RE2-safe) and replaced with type tags. The
    // fixture corpus is PII-free word soup, so a deterministic third
    // of the documents get PII INJECTED in-query (both engines replay
    // the identical construction) — the other two thirds pin the
    // no-false-positive path: their redaction must be the identity.
    // Scale shape: one per-row codegen'd regex scan, no shuffle.
    SqlQ.split("t11_pii_scrub",
      s"""WITH aug AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN concat(text,
         |      ' contact user', CAST(doc_id % 97 AS STRING),
         |      '@example.com or 10.', CAST(doc_id % 256 AS STRING),
         |      '.0.', CAST(doc_id % 7 AS STRING), ' phone 555-',
         |      lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
         |    ELSE text END AS text FROM documents),
         |scrub AS (SELECT doc_id, text,
         |  ${PiiShape.redactSql("text", PiiShape.sqlLit)} AS redacted
         |  FROM aug)
         |SELECT doc_id,
         |  size(regexp_extract_all(text, '${PiiShape.sqlLit(PiiShape.email)}', 0)) AS n_emails,
         |  size(regexp_extract_all(text, '${PiiShape.sqlLit(PiiShape.ipv4)}', 0)) AS n_ips,
         |  CAST(length(text) - length(redacted) AS BIGINT) AS removed_chars,
         |  md5(redacted) AS redacted_md5
         |FROM scrub""".stripMargin,
      s"""WITH aug AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN concat(text,
         |      ' contact user', CAST(doc_id % 97 AS VARCHAR),
         |      '@example.com or 10.', CAST(doc_id % 256 AS VARCHAR),
         |      '.0.', CAST(doc_id % 7 AS VARCHAR), ' phone 555-',
         |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
         |    ELSE text END AS text FROM documents),
         |scrub AS (SELECT doc_id, text,
         |  ${PiiShape.redactSql("text", identity, ", 'g'")} AS redacted
         |  FROM aug)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '${PiiShape.email}'))::INT AS n_emails,
         |  len(regexp_extract_all(text, '${PiiShape.ipv4}'))::INT AS n_ips,
         |  CAST(len(text) - len(redacted) AS BIGINT) AS removed_chars,
         |  md5(redacted) AS redacted_md5
         |FROM scrub""".stripMargin),

    // T26: HTML main-text extraction — the boilerplate-removal pass
    // every web-crawl pipeline runs FIRST (C4 strips markup before
    // its filters; FineWeb/RefinedWeb run trafilatura): drop chrome
    // regions (head/nav/footer), strip the remaining tags, collapse
    // whitespace, and score link density (anchor-text share — the
    // classic boilerplate signal from Kohlschütter's boilerpipe).
    // The fixture wraps each document in a deterministic page frame
    // (title/nav/links/footer built from its own columns) so the
    // extractor's work is observable: chrome must vanish, anchor
    // text inside the body must SURVIVE tag-stripping, and the
    // accounting (n_links, anchor chars, link ppm) is exact integer.
    // Cross-engine: Java regex and RE2 agree on these patterns ((?s)
    // non-greedy region strip, '<[^>]*>' tag strip, ' +' collapse);
    // DuckDB needs the explicit 'g' flag where Spark replaces
    // globally by default. Extracted text enters the hash via an
    // md5 + a head substring (the t24 convention). Scale shape: a
    // pure per-row codegen'd regex chain — no shuffle at all.
    SqlQ.split("t26_html_extract",
      """WITH page AS (SELECT doc_id, concat(
        |    '<html><head><title>doc ', CAST(doc_id AS STRING),
        |    '</title><style>p{margin:0}</style></head><body>',
        |    '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>',
        |    '<p>', text, '</p>',
        |    '<a href="http://site', CAST(doc_id % 7 AS STRING),
        |    '.example.com/next">read part ', CAST(doc_id % 5 AS STRING),
        |    '</a><footer>(c) example.com crawl</footer></body></html>')
        |    AS html FROM documents),
        |main AS (SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(html,
        |      '(?s)<head>.*?</head>', ''),
        |      '(?s)<nav>.*?</nav>', ''),
        |      '(?s)<footer>.*?</footer>', '') AS body_html
        |  FROM page),
        |ext AS (SELECT doc_id, html,
        |    trim(regexp_replace(regexp_replace(body_html, '<[^>]*>', ' '),
        |      '  +', ' ')) AS main_text,
        |    CAST(size(regexp_extract_all(body_html,
        |      '<a [^>]*>([^<]*)</a>', 1)) AS INT) AS n_links,
        |    CAST(length(concat_ws('', regexp_extract_all(body_html,
        |      '<a [^>]*>([^<]*)</a>', 1))) AS BIGINT) AS anchor_chars
        |  FROM main)
        |SELECT doc_id, n_links, anchor_chars,
        |  CAST(length(main_text) AS BIGINT) AS extracted_chars,
        |  CASE WHEN length(main_text) = 0 THEN 0
        |       ELSE (anchor_chars * 1000000) DIV length(main_text) END
        |    AS link_ppm,
        |  CASE WHEN length(main_text) >= 100
        |        AND (anchor_chars * 1000000) DIV length(main_text) < 500000
        |       THEN 1 ELSE 0 END AS kept,
        |  substring(main_text, 1, 24) AS head,
        |  md5(main_text) AS text_md5
        |FROM ext""".stripMargin,
      """WITH page AS (SELECT doc_id, concat(
        |    '<html><head><title>doc ', CAST(doc_id AS VARCHAR),
        |    '</title><style>p{margin:0}</style></head><body>',
        |    '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>',
        |    '<p>', text, '</p>',
        |    '<a href="http://site', CAST(doc_id % 7 AS VARCHAR),
        |    '.example.com/next">read part ', CAST(doc_id % 5 AS VARCHAR),
        |    '</a><footer>(c) example.com crawl</footer></body></html>')
        |    AS html FROM documents),
        |main AS (SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(html,
        |      '(?s)<head>.*?</head>', '', 'g'),
        |      '(?s)<nav>.*?</nav>', '', 'g'),
        |      '(?s)<footer>.*?</footer>', '', 'g') AS body_html
        |  FROM page),
        |ext AS (SELECT doc_id, html,
        |    trim(regexp_replace(regexp_replace(body_html, '<[^>]*>', ' ', 'g'),
        |      '  +', ' ', 'g')) AS main_text,
        |    len(regexp_extract_all(body_html,
        |      '<a [^>]*>([^<]*)</a>', 1))::INT AS n_links,
        |    len(array_to_string(regexp_extract_all(body_html,
        |      '<a [^>]*>([^<]*)</a>', 1), ''))::BIGINT AS anchor_chars
        |  FROM main)
        |SELECT doc_id, n_links, anchor_chars,
        |  len(main_text)::BIGINT AS extracted_chars,
        |  (CASE WHEN len(main_text) = 0 THEN 0
        |       ELSE (anchor_chars * 1000000) // len(main_text) END)::BIGINT
        |    AS link_ppm,
        |  (CASE WHEN len(main_text) >= 100
        |        AND (anchor_chars * 1000000) // len(main_text) < 500000
        |       THEN 1 ELSE 0 END)::INT AS kept,
        |  substring(main_text, 1, 24) AS head,
        |  md5(main_text) AS text_md5
        |FROM ext""".stripMargin),

    // T28: blocklist word filter — C4 §2.2's page-level rule: drop
    // any page containing a word from the blocklist (the "Dirty,
    // Naughty…" list in the paper; a benign stand-in here). Matching
    // is TOKEN membership, not substring (C4's documented regret:
    // substring matching removed medical pages for embedded
    // fragments). The stand-in list exercises both rule sides on
    // this corpus: 'dup' marks exactly 5% of documents (the
    // generator's near-dup families), 'spill' matches nothing (pins
    // the no-false-positive path). Scale shape: one per-row
    // codegen'd scan — the blocklist is a literal predicate; a
    // real-sized list broadcasts as a lookup the same way t7's
    // benchmark shingles do. No shuffle.
    SqlQ.split("t28_badword_filter",
      """SELECT doc_id,
        |  CAST(size(filter(split(text, ' '),
        |    x -> x = 'dup' OR x = 'spill')) AS INT) AS n_hits,
        |  CASE WHEN size(filter(split(text, ' '),
        |    x -> x = 'dup' OR x = 'spill')) = 0 THEN 1 ELSE 0 END AS kept
        |FROM documents""".stripMargin,
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '),
        |    x -> x = 'dup' OR x = 'spill'))::INT AS n_hits,
        |  (CASE WHEN len(list_filter(string_split(text, ' '),
        |    x -> x = 'dup' OR x = 'spill')) = 0 THEN 1 ELSE 0 END)::INT AS kept
        |FROM documents""".stripMargin),

    // T30: classifier-score curation — the FineWeb-Edu/Llama-era
    // move: a trained quality classifier scores every page and a
    // probability threshold decides the corpus (Penedo et al. 2024
    // keep edu-score ≥ 3; the classifier here is a fixed-weight
    // linear model over exact integer features, the shape such a
    // distilled scorer has after export). Features are closed-form
    // integers (no HOF: on the single-space corpus the word-char
    // total is length − (n_words − 1)); the logit is an integer dot
    // in micro-units; only the sigmoid touches FP, and the
    // probability quantizes ONCE to ppm (round() absorbs the
    // engines' exp() last-ulp differences — the t13 discretization
    // argument). Scale shape: one per-row codegen'd scan, no
    // shuffle; a real exported classifier broadcasts its weight
    // vector the same way.
    SqlQ.split("t30_classifier_filter",
      s"""WITH f AS (SELECT doc_id, text,
         |    ${ClassifierShape.nw("text", spark = true)} AS nw FROM documents),
         |s AS (SELECT doc_id,
         |    CAST(nw AS INT) AS n_words,
         |    ${ClassifierShape.uniqPm("text", "nw", spark = true)} AS uniq_pm,
         |    ${ClassifierShape.awlPm("text", "nw", spark = true)} AS awl_pm,
         |    ${ClassifierShape.logit("text", "nw", spark = true)} AS logit_u
         |  FROM f)
         |SELECT doc_id, n_words, uniq_pm, awl_pm, logit_u,
         |  CAST(round(1000000.0 / (1.0 + exp(-CAST(logit_u AS DOUBLE) / 1000000.0))) AS BIGINT) AS prob_ppm,
         |  CASE WHEN logit_u >= 0 THEN 1 ELSE 0 END AS kept
         |FROM s""".stripMargin,
      s"""WITH f AS (SELECT doc_id, text,
         |    ${ClassifierShape.nw("text", spark = false)} AS nw FROM documents),
         |s AS (SELECT doc_id,
         |    nw::INT AS n_words,
         |    (${ClassifierShape.uniqPm("text", "nw", spark = false)})::BIGINT AS uniq_pm,
         |    (${ClassifierShape.awlPm("text", "nw", spark = false)})::BIGINT AS awl_pm,
         |    (${ClassifierShape.logit("text", "nw", spark = false)})::BIGINT AS logit_u
         |  FROM f)
         |SELECT doc_id, n_words, uniq_pm, awl_pm, logit_u,
         |  CAST(round(1000000.0 / (1.0 + exp(-CAST(logit_u AS DOUBLE) / 1000000.0))) AS BIGINT) AS prob_ppm,
         |  (CASE WHEN logit_u >= 0 THEN 1 ELSE 0 END)::INT AS kept
         |FROM s""".stripMargin),

    // D15: cross-source duplication matrix — the mixing diagnostic a
    // multi-source corpus build reads before weighting sources
    // (RefinedWeb/Dolma report exactly this between CommonCrawl
    // snapshots: how much of source A is also in source B): d3's
    // VERIFIED near-dup pairs, each labeled with its endpoints'
    // source columns (canonicalized least/greatest so the matrix is
    // upper-triangular), counted per source pair with the quantized
    // Jaccard mass (t13's integer trick) alongside. Scale shape:
    // rides d3's pair sliver unchanged; the source labels join on
    // doc_id (co-partitionable with the corpus); the output is
    // ≤ |sources|² rows at any corpus size.
    SqlQ.split("d15_cross_source",
      s"""$sparkShingles,
         |$sparkSigs,
         |${LshShape.bandCteSql},
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |ver AS (SELECT i, j, size(array_intersect(x.hs, y.hs)) AS shared,
         |               size(x.hs) AS na, size(y.hs) AS nb
         |  FROM cand JOIN sh x ON x.doc_id = cand.i JOIN sh y ON y.doc_id = cand.j),
         |pairs AS (SELECT i, j,
         |    CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         |  FROM ver WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5),
         |src AS (SELECT doc_id, source FROM documents),
         |lab AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b, p.jaccard
         |  FROM pairs p JOIN src sa ON sa.doc_id = p.i
         |               JOIN src sb ON sb.doc_id = p.j)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CAST(round(jaccard * 1000.0) AS BIGINT)) AS BIGINT) AS jacc_milli_sum
         |FROM lab GROUP BY source_a, source_b""".stripMargin,
      s"""$duckShingles,
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |cnt AS (SELECT doc_id, len(hs) AS n FROM sh),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT pr.i, pr.j,
         |    CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) AS jaccard
         |  FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
         |  WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.5),
         |src AS (SELECT doc_id, source FROM documents),
         |lab AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b, p.jaccard
         |  FROM pairs p JOIN src sa ON sa.doc_id = p.i
         |               JOIN src sb ON sb.doc_id = p.j)
         |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
         |  sum(CAST(round(jaccard * 1000.0) AS BIGINT))::BIGINT AS jacc_milli_sum
         |FROM lab GROUP BY source_a, source_b""".stripMargin),

    // T29: mixing-plan quota allocation — the table a corpus build
    // publishes before rendering (the Pile/Dolma mixing tables):
    // given a token BUDGET and per-source weights (natural token
    // share here; any weight vector works), allocate integer
    // per-source quotas that sum EXACTLY to the budget via largest-
    // remainder apportionment (floor everyone, hand the leftovers to
    // the largest remainders — the deterministic method that cannot
    // over- or under-allocate, unlike independent rounding). All
    // integer arithmetic; the remainder rank tie-breaks on source.
    // Scale shape: the per-source aggregate map-side combines; the
    // apportionment window runs over ≤ |sources| rows — a
    // SinglePartition over 20 rows at ANY corpus size (the t15
    // bounded-domain argument), never over the corpus.
    SqlQ.split("t29_mix_quota",
      """WITH tok AS (SELECT source,
        |    CAST(sum(size(filter(split(text, ' '), x -> x != ''))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM tok),
        |a AS (SELECT source, n_tok,
        |    (1000000 * n_tok) DIV t AS base,
        |    (1000000 * n_tok) % t AS rem
        |  FROM tok CROSS JOIN tot),
        |l AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS extra FROM a),
        |r AS (SELECT source, n_tok, base, rem,
        |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS INT) AS rk
        |  FROM a)
        |SELECT source, n_tok, base, rem,
        |  CASE WHEN rk <= extra THEN base + 1 ELSE base END AS quota_tokens,
        |  CASE WHEN rk <= extra THEN 1 ELSE 0 END AS got_remainder
        |FROM r CROSS JOIN l""".stripMargin,
      """WITH tok AS (SELECT source,
        |    CAST(sum(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM tok),
        |a AS (SELECT source, n_tok,
        |    ((1000000 * n_tok) // t)::BIGINT AS base,
        |    ((1000000 * n_tok) % t)::BIGINT AS rem
        |  FROM tok CROSS JOIN tot),
        |l AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS extra FROM a),
        |r AS (SELECT source, n_tok, base, rem,
        |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS INT) AS rk
        |  FROM a)
        |SELECT source, n_tok, base, rem,
        |  (CASE WHEN rk <= extra THEN base + 1 ELSE base END)::BIGINT AS quota_tokens,
        |  (CASE WHEN rk <= extra THEN 1 ELSE 0 END)::INT AS got_remainder
        |FROM r CROSS JOIN l""".stripMargin),

    // T33: BM25 lexical retrieval (Robertson & Walker 1994; the
    // Okapi BM25 the reference has no analogue for, but every
    // retrieval-augmented training pipeline runs): rank documents
    // for a query set by sum over query terms of
    // idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), k1=1.2
    // b=0.75. INTEGER-EXACT variant: idf is the raw Robertson odds
    // (N-df+0.5)/(df+0.5) in micro-units WITHOUT the log (monotone
    // in the odds, so per-term ranking is preserved; the sum is our
    // documented scoring variant), and the tf component multiplies
    // through by 1e6*L so everything is one 128-bit DECIMAL(38,0)
    // DIV per (query,term,doc) — the t31 convention, replayed as
    // HUGEINT // in the oracle. The query set derives from the
    // corpus itself — the top-7 words by (frequency desc, word),
    // split into 3 queries — a DISTRIBUTED top-k
    // (TakeOrderedAndProject), NOT a full-vocab window, so the
    // derivation holds at any vocabulary size; it also keeps the
    // probe corpora meaningful (a fixed literal term list matches
    // NOTHING on the word-suffixed scale replicas — rows_10x was 0,
    // the vacuous-scale-row trap the probe's own no-silent-caps rule
    // exists to catch). Scale shape: the corpus postings stream is
    // pruned to QUERY TERMS by a broadcast join before any shuffle
    // (7 rows — a query batch's term dictionary is always
    // broadcastable); dl/N/L are map-side-combinable aggregates
    // whose shuffle is #docs rows, not tokens; df comes off the
    // pruned tf table; the final top-k windows over ONE query's
    // candidate postings (bounded by the df of its terms, the
    // textbook inverted-index bound). No document text ever
    // shuffles. DECIMAL(38) headroom: the largest intermediate is
    // the numerator idf_micro·tf·2.2e6·L ≲ 2e12·N·tf·L at fixed
    // micro scales — under Spark's non-ANSI decimals an overflow
    // would NULL the term out of sum() silently, so the bound
    // matters: at N=1e6 docs, tf=1e4, L=1e9 corpus tokens it is
    // ~2e31, seven orders inside the 38-digit limit; it would take
    // N·tf·L ≳ 5e25 (e.g. a 1e9-doc, 1e12-token corpus with
    // tf=1e4 repeated-term docs) to wrap — at which point split the
    // idf factor out of the product (ranking only needs the
    // per-term ratio).
    SqlQ.split("t33_bm25",
      """WITH w AS (SELECT doc_id, explode(filter(split(text, ' '), x -> x != '')) AS word
        |  FROM documents),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM w
        |  GROUP BY word ORDER BY f DESC, word LIMIT 7),
        |q AS (SELECT concat('q', CAST((rn + 2) DIV 3 AS STRING)) AS query_id,
        |    word AS term
        |  FROM (SELECT word, row_number() OVER (ORDER BY f DESC, word) AS rn
        |        FROM wf) x),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS l FROM dl),
        |tf AS (SELECT /*+ BROADCAST(q) */ q.query_id, q.term, w.doc_id,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM w JOIN q ON q.term = w.word GROUP BY q.query_id, q.term, w.doc_id),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |sc AS (SELECT tf.query_id, tf.doc_id,
        |    CAST(sum(
        |      (CAST((2*nl.n - 2*df.df + 1) * 1000000 DIV (2*df.df + 1) AS DECIMAL(38,0))
        |         * (CAST(tf.tf AS DECIMAL(38,0)) * 2200000 * nl.l))
        |      DIV (CAST(tf.tf AS DECIMAL(38,0)) * 1000000 * nl.l
        |           + CAST(300000 AS DECIMAL(38,0)) * nl.l
        |           + CAST(900000 AS DECIMAL(38,0)) * dl.dl * nl.n)
        |    ) AS BIGINT) AS score_micro
        |  FROM tf JOIN df ON df.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN nl
        |  GROUP BY tf.query_id, tf.doc_id)
        |SELECT query_id, CAST(rnk AS INT) AS rnk, doc_id, score_micro FROM (
        |  SELECT query_id, doc_id, score_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rnk
        |  FROM sc) ranked WHERE rnk <= 5""".stripMargin,
      """WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
        |    AS word FROM documents),
        |wf AS (SELECT word, count(*)::BIGINT AS f FROM w
        |  GROUP BY word ORDER BY f DESC, word LIMIT 7),
        |q AS (SELECT 'q' || ((rn + 2) // 3)::VARCHAR AS query_id, word AS term
        |  FROM (SELECT word, row_number() OVER (ORDER BY f DESC, word) AS rn
        |        FROM wf) x),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM w GROUP BY doc_id),
        |nl AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS l FROM dl),
        |tf AS (SELECT q.query_id, q.term, w.doc_id, count(*)::BIGINT AS tf
        |  FROM w JOIN q ON q.term = w.word GROUP BY q.query_id, q.term, w.doc_id),
        |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
        |  FROM tf GROUP BY term),
        |sc AS (SELECT tf.query_id, tf.doc_id,
        |    sum(
        |      ((((2*nl.n - 2*df.df + 1) * 1000000) // (2*df.df + 1))::HUGEINT
        |         * (tf.tf::HUGEINT * 2200000 * nl.l))
        |      // (tf.tf::HUGEINT * 1000000 * nl.l
        |           + 300000::HUGEINT * nl.l
        |           + 900000::HUGEINT * dl.dl * nl.n)
        |    )::BIGINT AS score_micro
        |  FROM tf JOIN df ON df.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN nl
        |  GROUP BY tf.query_id, tf.doc_id)
        |SELECT query_id, rnk::INT AS rnk, doc_id, score_micro FROM (
        |  SELECT query_id, doc_id, score_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rnk
        |  FROM sc) ranked WHERE rnk <= 5""".stripMargin),

    // D18: winnowing fingerprints (Schleimer, Wilkerson & Aiken
    // 2003, SIGMOD — the MOSS algorithm; the guarantee-backed
    // alternative to d9's disjoint blocks: any shared run of
    // k+w-1 = 6 words is CAUGHT by construction, because both docs
    // select the same minimum inside the shared window). Per doc:
    // overlapping 3-word grams hashed through md5 (the w9 portable
    // 40-bit hash), then each 4-gram window keeps its minimum hash.
    // The paper's positional tie-break (basic winnowing: rightmost;
    // robust winnowing: prefer the previous selection) only decides
    // WHICH OCCURRENCE is recorded — a tie means an EQUAL hash, so
    // the DISTINCT fingerprint set per document is the same under
    // any tie rule. Since the operator keeps exactly that set, the
    // window min is a plain min(gh): no packed (hash, pos) integer
    // arithmetic, hence no document-length bound (the packed form
    // silently corrupted past 2^20 grams). Pinned by WinnowSpec's
    // packed-vs-plain equivalence test. The fingerprint density is
    // 2/(w+1); the text never shuffles — only 8-byte selected
    // hashes do. Pair detection joins fingerprint postings with a
    // document-frequency cap (df <= 50 — boilerplate grams that
    // appear in more docs carry no pair signal but would fan the
    // join out quadratically; the m22 lesson), so the shuffle is
    // bounded by true shared-fingerprint mass at any corpus size.
    // The cap's discard mass is not silent: ScaleProbe logs the
    // dropped-posting count next to the pair count.
    SqlQ.split("d18_winnow",
      s"""$winnowFpCtes,
        |dfc AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
        |fk AS (SELECT f.doc_id, f.fp FROM f JOIN dfc ON dfc.fp = f.fp)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(count(*) AS BIGINT) AS shared_fp
        |FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3""".stripMargin,
      """WITH w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    list_reduce([(strpos('0123456789abcdef', c) - 1)::BIGINT
        |        for c in string_split(substring(md5(
        |          array_to_string(list_slice(w, i+1, i+3), ' ')), 1, 10), '')],
        |      (a, b) -> a * 16 + b)::BIGINT AS gh
        |  FROM w0, LATERAL unnest(generate_series(0, len(w) - 3)) t(i)
        |  WHERE len(w) >= 3),
        |s AS (SELECT doc_id, pos,
        |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM g),
        |f AS (SELECT DISTINCT doc_id, fp
        |  FROM s WHERE pos >= 3),
        |dfc AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
        |fk AS (SELECT f.doc_id, f.fp FROM f JOIN dfc ON dfc.fp = f.fp)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  count(*)::BIGINT AS shared_fp
        |FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3""".stripMargin)
  )

  /** t33's tokenize-stage materialization: per-(doc, word) counts of
    * the NON-EMPTY tokens (t33 filters empty strings, unlike the
    * shared [[tokCounts]] — one definition per tokenizer), eagerly
    * checkpointed so the BM25 chain's three consumers (vocabulary
    * top-k, doc lengths, query-term postings) read one corpus pass. */
  private def t33Query(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val tok = spark.sql(
      """SELECT doc_id, word, CAST(count(*) AS BIGINT) AS k
        |FROM documents
        |LATERAL VIEW explode(filter(split(text, ' '), x -> x != '')) t AS word
        |GROUP BY doc_id, word""".stripMargin).localCheckpoint()
    val res = Sql.bound(spark,
      """WITH wf AS (SELECT word, CAST(sum(k) AS BIGINT) AS f FROM tok
        |  GROUP BY word ORDER BY f DESC, word LIMIT 7),
        |q AS (SELECT concat('q', CAST((rn + 2) DIV 3 AS STRING)) AS query_id,
        |    word AS term
        |  FROM (SELECT word, row_number() OVER (ORDER BY f DESC, word) AS rn
        |        FROM wf) x),
        |dl AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS l FROM dl),
        |tf AS (SELECT /*+ BROADCAST(q) */ q.query_id, q.term, v.doc_id,
        |    CAST(sum(v.k) AS BIGINT) AS tf
        |  FROM tok v JOIN q ON q.term = v.word GROUP BY q.query_id, q.term, v.doc_id),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |sc AS (SELECT tf.query_id, tf.doc_id,
        |    CAST(sum(
        |      (CAST((2*nl.n - 2*df.df + 1) * 1000000 DIV (2*df.df + 1) AS DECIMAL(38,0))
        |         * (CAST(tf.tf AS DECIMAL(38,0)) * 2200000 * nl.l))
        |      DIV (CAST(tf.tf AS DECIMAL(38,0)) * 1000000 * nl.l
        |           + CAST(300000 AS DECIMAL(38,0)) * nl.l
        |           + CAST(900000 AS DECIMAL(38,0)) * dl.dl * nl.n)
        |    ) AS BIGINT) AS score_micro
        |  FROM tf JOIN df ON df.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN nl
        |  GROUP BY tf.query_id, tf.doc_id)
        |SELECT query_id, CAST(rnk AS INT) AS rnk, doc_id, score_micro FROM (
        |  SELECT query_id, doc_id, score_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rnk
        |  FROM sc) ranked WHERE rnk <= 5""".stripMargin,
      "tok" -> tok).localCheckpoint()
    graft.CkptUtil.unpersist(tok)
    res
  }

  /** D7: duplicate-cluster resolution — the dedup end-game: the
    * verified near-dup PAIRS (d3's LSH → exact-Jaccard pipeline) form
    * a graph whose connected components are the duplicate clusters; a
    * real pipeline keeps one survivor per cluster, so the operator
    * every pair-generator feeds is distributed connectivity.
    *
    * Spark side: min-label propagation to the fixed point — each
    * round every node takes the min label among itself and its
    * neighbors (one join + one groupBy per round). Converges in
    * O(diameter) rounds (≤ O(log n) with doubling variants); the
    * driver checks the changed-count each round, so the result is the
    * exact component minimum regardless of round count. Nothing
    * driver-side scales with the data — only the convergence counter.
    *
    * Oracle: the same pairs via the inverted-index formulation, then
    * a recursive-CTE transitive closure and `min` over reachable
    * nodes — a different algorithm arriving at the same fixed point,
    * which is the point of the check. */
  private def d7Query(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    import org.apache.spark.sql.functions._
    val pairs = spark.sql(
      s"""$sparkShingles,
         |$sparkSigs,
         |${LshShape.bandCteSql},
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
         |SELECT i, j FROM cand
         |  JOIN sh x ON x.doc_id = cand.i JOIN sh y ON y.doc_id = cand.j
         |  WHERE CAST(size(array_intersect(x.hs, y.hs)) AS DOUBLE)
         |        / (size(x.hs) + size(y.hs) - size(array_intersect(x.hs, y.hs))) >= 0.5""".stripMargin)
    // CC by min-label propagation + pointer jumping — the shared
    // kernel ([[graft.GraphOps.ccMinLabel]]; see its scaladoc for the
    // localCheckpoint lineage-truncation and O(log diameter) story).
    // The verified-pair pipeline is checkpointed ONCE up front: edges,
    // nodes and the kernel's gate/iteration all re-read it, and the
    // LSH → exact-Jaccard upstream is the expensive part.
    val p = graft.CkptUtil.fresh(pairs)
    val edges = p.selectExpr("i AS a", "j AS b")
      .union(p.selectExpr("j AS a", "i AS b"))
    val nodes = edges.selectExpr("a AS id").distinct()
    val lbl = graft.CkptUtil.fresh(
      graft.GraphOps.ccMinLabelAuto(spark, edges, nodes)
        .selectExpr("id AS doc_id", "lbl AS cluster_id"))
    // cluster_size via groupBy + join, not a window over cluster_id: a
    // window forces each cluster through one task (the m21 mega-cluster
    // skew); the groupBy runs with combinable partials and the join
    // back is AQE-skew-splittable — same answer at any cluster size.
    val cs = lbl.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    lbl.join(cs, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  private def d7Oracle: String =
    s"""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct([list_reduce(
       |      [ascii(c)::BIGINT for c in string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], '')],
       |      (h,c) -> (h*131+c) % $P) for i in generate_series(1, len(w)-2)]) AS hs
       |  FROM w WHERE len(w) >= 3),
       |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
       |cnt AS (SELECT doc_id, len(hs) AS n FROM sh),
       |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
       |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
       |pairs AS (SELECT pr.i, pr.j
       |  FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
       |  WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.5),
       |bidir AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM bidir
       |  UNION SELECT r.a, e2.b FROM reach r JOIN bidir e2 ON r.b = e2.a),
       |cl AS (SELECT n.a AS doc_id, least(n.a, min(r.b)) AS cluster_id
       |  FROM (SELECT DISTINCT a FROM bidir) n
       |  JOIN reach r ON r.a = n.a GROUP BY n.a)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cl""".stripMargin

  /** D13: quality-aware canonical selection — WHICH copy of a
    * duplicate cluster survives (d7 finds the clusters; this decides
    * the keeper). Keep-first-by-id (d1/d9/d11's rule) is cheap but
    * arbitrary; production pipelines keep the BEST member — here the
    * published keep-longest convention (RefinedWeb §3.3 / the C4
    * lineage: the longest member usually carries the least-truncated
    * content), tie-broken by smaller doc_id. The ordering keys are
    * INTEGERS (token count, id), so the argmax is exact in both
    * engines — no FP-score comparison enters the keep decision.
    * Scale shape: the cluster table is the dup SLIVER (docs in
    * size-≥2 clusters only), so it broadcasts into the corpus-side
    * length scan, and the per-cluster argmax window shuffles only
    * the sliver. Oracle: the d7 recursive-reachability chain as a
    * subquery, same window. */
  private def d13Query(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val clusters = d7Query(spark, sfDir)
    val nw = spark.sql(
      """SELECT doc_id, size(filter(split(text, ' '), x -> x != '')) AS n_words
        |FROM documents""".stripMargin)
    val rk = row_number().over(
      Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_words").desc, col("doc_id")))
    broadcast(clusters).join(nw, "doc_id")
      .withColumn("rk", rk).where(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("cluster_size"), col("n_words").as("kept_n_words"))
  }

  private def d13Oracle: String =
    s"""WITH c AS (SELECT * FROM ($d7Oracle)),
       |nw AS (SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x != ''))::INT AS n_words
       |  FROM documents),
       |r AS (SELECT c.cluster_id, c.doc_id, c.cluster_size, nw.n_words,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY nw.n_words DESC, c.doc_id) AS rk
       |  FROM c JOIN nw ON nw.doc_id = c.doc_id)
       |SELECT cluster_id, doc_id AS kept_doc_id, cluster_size,
       |  n_words AS kept_n_words
       |FROM r WHERE rk = 1""".stripMargin

  // ---- t13/t27: one materialization of the tokenize output --------
  //
  // Both LM-scoring queries need the corpus token stream TWICE: once
  // to build the unigram LM (the vocabulary counts) and once to score
  // every document against it. As CTEs those two consumers re-ran the
  // corpus explode per reference (the round-11 100× probe measured the
  // residual: t27 exponent 1.30 — the fix below re-measured 1.01/0.98,
  // BENCH_sf1.md round-12), so the tokenize output is materialized
  // ONCE here: per-(doc, lang, word) occurrence counts — the parquet
  // an upstream tokenize stage writes at a real cluster; eager
  // `localCheckpoint` is the single-JVM stand-in (d7's lifetime rule:
  // not memoized, each call re-materializes). Two wins compound:
  // the corpus text is exploded exactly once, and everything
  // downstream — the LM aggregation AND the scoring join — moves the
  // per-doc DISTINCT-word stream (duplicates collapse map-side in the
  // groupBy partial), not the raw token stream.

  /** Tokenize-stage output: per-(doc, lang, word) counts, checkpointed. */
  private def tokCounts(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    spark.sql(
      """SELECT doc_id, lang, word, CAST(count(*) AS BIGINT) AS k
        |FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word
        |GROUP BY doc_id, lang, word""".stripMargin)
      .localCheckpoint()
  }

  /** Runs `tail` with `tok` bound to the checkpointed token counts,
    * eagerly checkpoints the RESULT, and frees the token blocks — the result is doc-count
    * sized while the token table is corpus-sized, and leaking the
    * latter across a bench run causes eviction/writeback stalls in
    * unrelated queries ([[graft.CkptUtil]]). */
  private def overTokCounts(spark: SparkSession, sfDir: String,
                           tail: String): DataFrame = {
    val tok = tokCounts(spark, sfDir)
    val res = Sql.bound(spark, tail, "tok" -> tok).localCheckpoint()
    graft.CkptUtil.unpersist(tok)
    res
  }

  /** T13: language-model quality scoring, the CCNet move (Wenzek et
    * al. 2020 §3.3: rank documents by LM perplexity; low = fluent,
    * high = noise) with the LM simplified to the corpus's own
    * unigram distribution — per-doc mean negative log-probability,
    * so rare-vocabulary word-soup scores high. Cross-engine float
    * parity: a raw ln() sum would hang the hash compare on the last
    * ulp of two different libm implementations (the reason t10
    * avoids ln), so each word's −ln(c/t) is QUANTIZED once to
    * integer micro-nats — round() half-away-from-zero agrees across
    * engines for the non-negative nll, and a last-ulp ln difference
    * flips the grid only within an ulp of a .5 boundary — and the
    * per-doc sum folds the quantized integers exactly: an occurrence
    * sum over tokens equals `nll_u * k` summed over distinct words.
    * Scale shape: ONE corpus explode (the [[tokCounts]]
    * materialization); the LM aggregate and the scoring join both
    * move the distinct-word stream (broadcast under the threshold,
    * hash-join on word beyond); the only other shuffle is the
    * per-doc aggregation. */
  private def t13Query(spark: SparkSession, sfDir: String): DataFrame =
    overTokCounts(spark, sfDir,
      """WITH cnt AS (SELECT word, CAST(sum(k) AS BIGINT) AS c
        |  FROM tok GROUP BY word),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
        |per AS (SELECT v.doc_id, v.k,
        |    CAST(round(-ln(CAST(cnt.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) * 1000000.0) AS BIGINT) AS nll_u
        |  FROM tok v JOIN cnt ON cnt.word = v.word CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(nll_u * k) AS BIGINT) AS sum_u,
        |    CAST(sum(k) AS BIGINT) AS n_tokens
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST(sum_u AS DOUBLE) / (n_tokens * 1000000.0) AS avg_nll FROM agg""".stripMargin)

  private val t13Oracle: String =
    """WITH w AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS word FROM documents),
      |cnt AS (SELECT word, count(*) AS c FROM w GROUP BY word),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
      |per AS (SELECT w.doc_id,
      |    CAST(round(-ln(CAST(cnt.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) * 1000000.0) AS BIGINT) AS nll_u
      |  FROM w JOIN cnt ON cnt.word = w.word CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(sum(nll_u) AS BIGINT) AS sum_u,
      |    count(*) AS n_tokens
      |  FROM per GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  CAST(sum_u AS DOUBLE) / (n_tokens * 1000000.0) AS avg_nll FROM agg""".stripMargin

  /** T27: CCNet perplexity bucketing (Wenzek et al. 2020 §4.3): per
    * LANGUAGE, rank documents by LM perplexity and cut the corpus
    * into head/middle/tail TERCILES — the quality tiers CCNet ships
    * as separate subsets (head trains the model, tail gets dropped
    * or down-weighted). The LM is t13's corpus unigram simplification
    * but trained PER LANGUAGE (CCNet's actual setup: one LM per
    * language); each doc's mean nll in integer micro-nats (t13's
    * quantization, floor-divided once — exact in both engines since
    * sum_u >= 0), tercile thresholds via the t15 histogram-quantile
    * pattern over the discrete avg_u domain (rank-based, never an
    * interpolated double), and the output is the per-(lang, bucket)
    * accounting a mixing step consumes. Scale shape: t13's — ONE
    * corpus explode via [[tokCounts]], distinct-word streams from
    * there on — plus a second materialization: the per-doc score
    * table feeds TWO branches (the tercile-threshold subtree and the
    * bucket-label join), and as a CTE each reference re-ran the
    * whole scoring pipeline (the round-11 100× residual, exponent
    * 1.30: ~16 s of join+agg executed twice); checkpointed it is
    * n_docs rows computed once (re-measured 0.98/1.01, BENCH_sf1.md
    * round-12). The LM join is left to AQE (it broadcasts the vocab
    * side when its runtime size permits); `tot` and `q` are
    * <= |langs| rows keyed on LANG — a handful of distinct values a
    * shuffled join would collapse to |langs| partitions — so they
    * carry explicit BROADCAST hints; the histogram is map-side
    * combinable and the tercile window runs over <= |langs| x
    * |distinct avg_u| rows; the final accounting is one combinable
    * groupBy. */
  private def t27Query(spark: SparkSession, sfDir: String): DataFrame = {
    val score = overTokCounts(spark, sfDir,
      """WITH cnt AS (SELECT lang, word, CAST(sum(k) AS BIGINT) AS c
        |  FROM tok GROUP BY lang, word),
        |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY lang),
        |per AS (SELECT /*+ BROADCAST(tot) */ v.doc_id, v.lang, v.k,
        |    CAST(round(-ln(CAST(cnt.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) * 1000000.0) AS BIGINT) AS nll_u
        |  FROM tok v JOIN cnt ON cnt.lang = v.lang AND cnt.word = v.word
        |         JOIN tot ON tot.lang = v.lang),
        |agg AS (SELECT doc_id, lang, CAST(sum(nll_u * k) AS BIGINT) AS sum_u,
        |    CAST(sum(k) AS BIGINT) AS n_tokens
        |  FROM per GROUP BY doc_id, lang)
        |SELECT doc_id, lang, n_tokens, sum_u DIV n_tokens AS avg_u FROM agg""".stripMargin)
    Sql.bound(spark,
      """WITH hist AS (SELECT lang, avg_u, count(*) AS c FROM score GROUP BY lang, avg_u),
        |n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs FROM hist GROUP BY lang),
        |cum AS (SELECT lang, avg_u,
        |    sum(c) OVER (PARTITION BY lang ORDER BY avg_u) AS cm FROM hist),
        |q AS (SELECT cum.lang,
        |    min(CASE WHEN cm * 3 >= n.n_docs THEN avg_u END) AS p33,
        |    min(CASE WHEN cm * 3 >= 2 * n.n_docs THEN avg_u END) AS p66
        |  FROM cum JOIN n ON n.lang = cum.lang GROUP BY cum.lang),
        |b AS (SELECT /*+ BROADCAST(q) */ a2.doc_id, a2.lang, a2.n_tokens, a2.avg_u,
        |    CASE WHEN avg_u <= p33 THEN 'head'
        |         WHEN avg_u <= p66 THEN 'middle' ELSE 'tail' END AS bucket
        |  FROM score a2 JOIN q ON q.lang = a2.lang)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(avg_u) AS min_avg_u, max(avg_u) AS max_avg_u
        |FROM b GROUP BY lang, bucket""".stripMargin,
      "score" -> score)
  }

  private val t27Oracle: String =
    """WITH w AS (SELECT doc_id, lang,
      |    unnest(string_split(text, ' ')) AS word FROM documents),
      |cnt AS (SELECT lang, word, count(*) AS c FROM w GROUP BY lang, word),
      |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY lang),
      |per AS (SELECT w.doc_id, w.lang,
      |    CAST(round(-ln(CAST(cnt.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) * 1000000.0) AS BIGINT) AS nll_u
      |  FROM w JOIN cnt ON cnt.lang = w.lang AND cnt.word = w.word
      |         JOIN tot ON tot.lang = w.lang),
      |agg AS (SELECT doc_id, lang, CAST(sum(nll_u) AS BIGINT) AS sum_u,
      |    CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM per GROUP BY doc_id, lang),
      |a2 AS (SELECT doc_id, lang, n_tokens, (sum_u // n_tokens)::BIGINT AS avg_u FROM agg),
      |hist AS (SELECT lang, avg_u, count(*) AS c FROM a2 GROUP BY lang, avg_u),
      |n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs FROM hist GROUP BY lang),
      |cum AS (SELECT lang, avg_u,
      |    sum(c) OVER (PARTITION BY lang ORDER BY avg_u) AS cm FROM hist),
      |q AS (SELECT cum.lang,
      |    min(CASE WHEN cm * 3 >= n.n_docs THEN avg_u END) AS p33,
      |    min(CASE WHEN cm * 3 >= 2 * n.n_docs THEN avg_u END) AS p66
      |  FROM cum JOIN n ON n.lang = cum.lang GROUP BY cum.lang),
      |b AS (SELECT a2.doc_id, a2.lang, a2.n_tokens, a2.avg_u,
      |    CASE WHEN avg_u <= p33 THEN 'head'
      |         WHEN avg_u <= p66 THEN 'middle' ELSE 'tail' END AS bucket
      |  FROM a2 JOIN q ON q.lang = a2.lang)
      |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  min(avg_u) AS min_avg_u, max(avg_u) AS max_avg_u
      |FROM b GROUP BY lang, bucket""".stripMargin

  // ---- d4/d8: one materialization of the posting buckets ----------
  //
  // Both queries consume the same df-capped grouped posting lists
  // (CTE `grp`) from several branches (pair generation + per-doc
  // counts). Physical exchange reuse does NOT collapse those branches
  // (measured: three materializations of the 270M-row h-shuffle in
  // the adaptive plan), so the buckets are shuffled ONCE here and
  // eagerly `localCheckpoint`ed — every consumer, in both queries,
  // reads the materialized buckets. Same pattern as d7's iterates.
  private val d4Oracle: String =
      s"""WITH g AS (SELECT doc_id, list_distinct([list_reduce(
         |    [ascii(c)::BIGINT for c in string_split(substr(text, i, 5), '')],
         |    (h,c) -> (h*131+c) % $P) for i in generate_series(1, len(text)-4)]) AS hs
         |  FROM documents WHERE len(text) >= 5),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM g),
         |df AS (SELECT h FROM e GROUP BY h HAVING count(*) <= 25),
         |ef AS (SELECT e.doc_id, e.h FROM e JOIN df ON e.h = df.h),
         |cnt AS (SELECT doc_id, count(*) AS n FROM ef GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM ef a JOIN ef b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
         |SELECT pr.i AS doc_id_a, pr.j AS doc_id_b,
         |  CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) AS jaccard
         |FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
         |WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.4""".stripMargin

  private val d8Oracle: String =
      s"""WITH g AS (SELECT doc_id, list_distinct([list_reduce(
         |    [ascii(c)::BIGINT for c in string_split(substr(text, i, 5), '')],
         |    (h,c) -> (h*131+c) % $P) for i in generate_series(1, len(text)-4)]) AS hs
         |  FROM documents WHERE len(text) >= 5),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM g),
         |df AS (SELECT h FROM e GROUP BY h HAVING count(*) <= 25),
         |ef AS (SELECT e.doc_id, e.h FROM e JOIN df ON e.h = df.h),
         |cnt AS (SELECT doc_id, count(*) AS n FROM ef GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM ef a JOIN ef b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
         |SELECT pr.i AS doc_id_a, pr.j AS doc_id_b,
         |  CAST(pr.shared AS DOUBLE) / ca.n AS containment_a,
         |  CAST(pr.shared AS DOUBLE) / cb.n AS containment_b
         |FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
         |WHERE greatest(CAST(pr.shared AS DOUBLE) / ca.n,
         |               CAST(pr.shared AS DOUBLE) / cb.n) >= 0.8""".stripMargin

  /** The df-capped grouped posting lists, shuffled once and eagerly
    * `localCheckpoint`ed so every consumer branch of the query reads
    * the materialized buckets (CTE inlining materialized the
    * h-shuffle three times before). NOT memoized: checkpoint blocks
    * die with executors and the table under `sfDir` can change, so
    * each query call re-materializes — the same lifetime rule as
    * d7's iterates. */
  private def groupedPostings(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    spark.sql(
      """SELECT h, sort_array(collect_list(doc_id)) AS ds FROM (
        |  SELECT doc_id, explode(array_distinct(ngram_hashes(text, 5))) AS h
        |  FROM documents WHERE length(text) >= 5)
        |GROUP BY h HAVING size(ds) <= 25""".stripMargin)
      .localCheckpoint()
  }

  /** Shared tail of d4/d8 over the checkpointed buckets: pair shared
    * counts + per-doc posting counts, then `select` normalizes. */
  private def postingPairs(spark: SparkSession, sfDir: String,
                           select: String): DataFrame =
    Sql.bound(spark,
      s"""WITH cnt AS (SELECT doc_id, count(*) AS n
         |  FROM (SELECT explode(ds) AS doc_id FROM postings) GROUP BY doc_id),
         |pr AS (SELECT i, j, count(*) AS shared FROM (
         |    SELECT x.i, y.j FROM postings
         |    LATERAL VIEW posexplode(ds) x AS pi, i
         |    LATERAL VIEW posexplode(ds) y AS pj, j
         |    WHERE x.pi < y.pj)
         |  GROUP BY i, j)
         |$select""".stripMargin,
      "postings" -> groupedPostings(spark, sfDir))

  // ---- t8: sequence packing by DISTRIBUTED prefix sum ------------
  //
  // The last step before a training run: assign documents to
  // fixed-token-budget packs (4096 here) by a prefix sum over the
  // deterministic doc_id order; pack id = floor(cum_before / budget)
  // — contiguous-fill packing. A naive `SUM() OVER (ORDER BY doc_id)`
  // has no PARTITION BY, so Spark plans `Exchange SinglePartition` +
  // one global sort — at 100 TB every document flows through ONE
  // task. Instead this is the textbook two-pass distributed scan:
  //
  //   pass 0  range-partition by doc_id + sort within partitions
  //           (ONE range exchange — the same shuffle the window
  //           would need, but into P parallel partitions), then
  //           materialize so both passes read identical data;
  //   pass 1  per-partition token totals to the driver — ONE long
  //           per partition (at 100k partitions: 800 KB);
  //   pass 2  broadcast the cumulative offsets; each partition runs
  //           its local running sum seeded at its offset — narrow,
  //           embarrassingly parallel.
  //
  // Exact integer sums make the result independent of how the total
  // is associated, so oracle parity is untouched. Token count is the
  // whitespace tokenizer (t2's semantics).

  /** d9's Spark SQL, exposed for the streaming span gate's
    * batch-parity spec ([[graft.streaming.SpanDedupStream]]). */
  private[graft] def d9SparkSqlForTest: String =
    sqls.find(_.name == "d9_span_dedup").get.sparkSql

  private val t8Budget = 4096L

  /** Pass 0 of [[packByPrefix]] — the SHARED stage (the packer calls
    * exactly this), exposed so `PlanInvariantsSpec` can pin the plan
    * shape the serving path executes: range partitioning present, no
    * `SinglePartition` exchange. */
  private[graft] def packPass0(in: DataFrame): DataFrame =
    in.repartitionByRange(org.apache.spark.sql.functions.col("doc_id"))
      .sortWithinPartitions("doc_id")

  private val t8TokensSql =
    "SELECT doc_id, size(split(text, ' ')) AS n_tokens FROM documents"

  /** t8's pass 0 over the real input, for the plan pin. */
  private[graft] def t8RangePartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    packPass0(spark.sql(t8TokensSql))
  }

  /** THE distributed concat-and-chunk packer, shared by t8 and the
    * multimodal batch assembly (m12): range-partition by `doc_id`,
    * then the two-pass prefix sum — pass 1 collects one partial per
    * partition (bounded driver state: one long per partition), pass 2
    * seeds each partition's running sum at its offset. Input must
    * carry `doc_id BIGINT` and `n_tokens INT`; all input columns pass
    * through, `pack_id`/`pack_offset` append. Never a SinglePartition
    * exchange — pass 0 IS [[packPass0]], the stage the plan pin
    * exercises. */
  private[graft] def packByPrefix(spark: SparkSession, in: DataFrame,
                                  budget: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val t = packPass0(in).localCheckpoint()
    val idx = t.schema.fieldIndex("n_tokens")
    val rows = t.rdd
    // pass 1: one partial per partition (empty partitions contribute 0)
    val totals: Array[Long] = {
      val byPid = rows.mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(r => s += r.getInt(idx))
        Iterator((pid, s))
      }.collect().toMap
      Array.tabulate(rows.getNumPartitions)(byPid.getOrElse(_, 0L))
    }
    val offsets = totals.scanLeft(0L)(_ + _) // offsets(pid) = tokens before pid
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 2: per-partition running sum seeded at the partition offset
    val packed = rows.mapPartitionsWithIndex { (pid, it) =>
      var cum = bc.value(pid)
      it.map { r =>
        val n = r.getInt(idx)
        val before = cum
        cum += n
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ (before / budget) :+ (before % budget))
      }
    }
    spark.createDataFrame(packed, StructType(t.schema.fields ++ Seq(
      StructField("pack_id", LongType, nullable = false),
      StructField("pack_offset", LongType, nullable = false))))
  }

  private def t8Query(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    packByPrefix(spark, spark.sql(t8TokensSql), t8Budget)
  }

  private val t8Oracle: String =
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' '))::INT AS n_tokens FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |  COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST(cum_before // $t8Budget AS BIGINT) AS pack_id,
       |  CAST(cum_before % $t8Budget AS BIGINT) AS pack_offset
       |FROM c""".stripMargin

  /** d10: Bloom-gated INCREMENTAL dedup — the append-time shape of d1
    * (reference S2's constraint dedup checks new rows against the
    * EXISTING table, not within-batch; within-batch is d1's job).
    * Corpus = doc_id%10<7, incoming = the rest; incoming docs whose
    * text already exists in the corpus are dropped.
    *
    * The Bloom filter ([[graft.functions.BloomAgg]], sized from the
    * measured corpus count like e4's auto band width) is a
    * SEMANTICS-PRESERVING accelerator: might_contain=false proves
    * absence, so those rows skip the join entirely; only the
    * might_contain=true sliver (true dups + ~1% false positives)
    * reaches the exact anti-join confirm. The result is therefore
    * bloom-independent — the oracle is the plain anti-join. 100 TB
    * story: one corpus scan builds the filter with bounded
    * per-partition state (bit arrays OR-merge), the blob broadcasts,
    * and the incoming-side shuffle shrinks from |incoming| to
    * |candidates| — the win whenever dups are sparse, which is the
    * append-ingest common case. BloomGateSpec pins the plan (blob
    * broadcast, anti-join probe side prefiltered) and the
    * no-false-negative property. */
  private def d10Query(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val n = spark.sql(
      "SELECT count(*) FROM documents WHERE doc_id % 10 < 7").head().getLong(0)
    // the blob is built on the driver and enters the query as a
    // FOLDABLE literal (`unbase64('…')` constant-folds): the probe
    // expression deserializes it once per task instead of per row —
    // the deployment shape (a corpus-version artifact next to the
    // corpus snapshot), and what BloomGateStream does with lit()
    val blob = spark.sql(
      s"""SELECT bloom_agg(xxhash64(text), ${math.max(1L, n)}L,
         |  CAST(0.01 AS DOUBLE)) AS b
         |FROM documents WHERE doc_id % 10 < 7""".stripMargin)
      .head().getAs[Array[Byte]](0)
    val b64 = java.util.Base64.getEncoder.encodeToString(blob)
    spark.sql(
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 7),
         |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 7),
         |safe AS (SELECT doc_id, text FROM inc
         |  WHERE NOT bloom_might_contain(unbase64('$b64'), xxhash64(text))),
         |cand AS (SELECT doc_id, text FROM inc
         |  WHERE bloom_might_contain(unbase64('$b64'), xxhash64(text))),
         |conf AS (SELECT cand.doc_id, cand.text FROM cand
         |  LEFT ANTI JOIN corpus ON corpus.text = cand.text)
         |SELECT doc_id, md5(text) AS text_md5
         |FROM (SELECT * FROM safe UNION ALL SELECT * FROM conf)""".stripMargin)
  }

  /** d10 oracle: the bloom-independent truth — incoming minus exact
    * corpus text matches. NOT EXISTS, not NOT IN: a NULL corpus text
    * would turn NOT IN into the empty set (three-valued logic) while
    * the engine's LEFT ANTI ignores it — the anti-join formulation
    * keeps both sides' NULL semantics aligned. */
  private val d10Oracle: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 7),
      |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 7)
      |SELECT doc_id, md5(text) AS text_md5 FROM inc
      |WHERE NOT EXISTS (SELECT 1 FROM corpus WHERE corpus.text = inc.text)""".stripMargin

  /** D16: corpus-wide line-level dedup — the RefinedWeb/MassiveText
    * boilerplate pass: segment every document into fixed 10-word
    * "lines", drop each line whose text occurs in >= 2 DISTINCT
    * documents (nav bars, cookie banners, licence blurbs), and
    * rebuild the surviving document in original line order.
    *
    * Scale shape (the d12 lesson — token text must not ride the
    * frequency shuffle): the counting path explodes (doc_id, lineno,
    * xxhash64(line)) — 24 bytes a row — so both the distinct-doc
    * count and the anti-join shuffle HASHES; line text itself only
    * moves once, in the final doc_id-keyed rebuild join. Fan-out is
    * 1 row per 10 words, and every aggregate is map-side combinable.
    * The oracle groups by the line TEXT itself (hash-free), so a
    * collision-masking bug on the engine side cannot hide.
    */
  private def d16Query(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, collect_list, countDistinct, expr, posexplode, sort_array}
    val docs = Tables.load(spark, sfDir, "documents")
    val docLines = docs
      .selectExpr("doc_id", "filter(split(text, ' '), x -> x != '') AS w")
      .where("size(w) > 0")
      .selectExpr("doc_id",
        "transform(sequence(0, (size(w)-1) div 10), i -> array_join(slice(w, i*10+1, 10), ' ')) AS lines")
    val hashes = docLines
      .select(col("doc_id"), posexplode(expr("transform(lines, l -> xxhash64(l))")))
      .toDF("doc_id", "lineno", "h")
    val boiler = hashes.groupBy("h")
      .agg(countDistinct("doc_id").as("nd")).where("nd >= 2").select("h")
    val kept = hashes.join(boiler, Seq("h"), "left_anti")
      .groupBy("doc_id").agg(sort_array(collect_list(col("lineno"))).as("keep"))
    docLines.join(kept, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "cast(size(lines) as int) AS n_lines",
        "cast(coalesce(size(keep), 0) as int) AS n_kept",
        "cast(size(lines) - coalesce(size(keep), 0) as int) AS n_dropped",
        "coalesce(array_join(transform(keep, i -> lines[i]), ' '), '') AS clean_text")
  }

  private val d16Oracle: String =
    """WITH w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      |  FROM documents),
      |dl AS (SELECT doc_id, w, len(w) AS n FROM w0 WHERE len(w) > 0),
      |l AS (SELECT doc_id, i AS lineno,
      |    array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ') AS line
      |  FROM dl, LATERAL unnest(generate_series(0, (n-1)//10)) t(i)),
      |b AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
      |k AS (SELECT doc_id, lineno, line FROM l ANTI JOIN b USING (line)),
      |agg AS (SELECT doc_id, count(*) AS n_kept,
      |    string_agg(line, ' ' ORDER BY lineno) AS clean_text
      |  FROM k GROUP BY doc_id)
      |SELECT dl.doc_id, ((dl.n - 1)//10 + 1)::INT AS n_lines,
      |  coalesce(agg.n_kept, 0)::INT AS n_kept,
      |  ((dl.n - 1)//10 + 1 - coalesce(agg.n_kept, 0))::INT AS n_dropped,
      |  coalesce(agg.clean_text, '') AS clean_text
      |FROM dl LEFT JOIN agg ON agg.doc_id = dl.doc_id""".stripMargin

  /** T32: exact heavy hitters via a Misra–Gries candidate pass — the
    * "novel sketch with an exact answer" shape: pass 1 builds a
    * bounded 127-counter [[graft.functions.MisraGries]] summary PER
    * PARTITION (plus the partition's token count) and merges the
    * k·#partitions counters on the driver — nothing shuffles, and the
    * merged candidate set provably contains every word with frequency
    * > N/128; pass 2 broadcast-joins the candidates and counts them
    * EXACTLY, keeping words at >= N/64 — safely inside the sketch's
    * guarantee, so the output equals the oracle's full group-by even
    * though the engine never aggregated the full vocabulary. At 100 TB
    * the full-vocab groupBy shuffles the corpus's entire token stream;
    * this shape shuffles only candidate matches (pass 2's combiner
    * output is #candidates rows per partition).
    */
  private def t32Query(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    import spark.implicits._
    val k = 127
    val words = Tables.load(spark, sfDir, "documents")
      .selectExpr("explode(filter(split(text, ' '), x -> x != '')) AS word")
    // TREE-merged, not collected: MG summaries are mergeable (their
    // defining guarantee — GraphOpsSpec-style adversarial merge
    // pinned in MisraGriesSpec), so the driver receives ONE k-entry
    // summary instead of k × #partitions entries (at 100 TB ≈ 800k
    // partitions the collect is a multi-GB driver cliff of exactly
    // the class the brief disqualifies)
    val (merged, total) = words.as[String].mapPartitions { it =>
      var n = 0L
      val counted = it.map { w => n += 1; w }
      val m = graft.functions.MisraGries.summarize(counted, k)
      Iterator.single((m, n))
    }.rdd.treeReduce({ case ((ma, na), (mb, nb)) =>
      (graft.functions.MisraGries.merge(Seq(ma, mb), k), na + nb)
    }, depth = 2)
    val cand = merged.keys.toSeq
    words.join(broadcast(cand.toDF("word")), Seq("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .where(col("n") * 64 >= total)
      .selectExpr("word", "n", s"CAST(n * 1000000 DIV ${total}L AS BIGINT) AS ppm")
  }

  private val t32Oracle: String =
    """WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
      |    AS word FROM documents),
      |tot AS (SELECT count(*)::BIGINT AS total FROM w),
      |c AS (SELECT word, count(*)::BIGINT AS n FROM w GROUP BY word)
      |SELECT c.word, c.n, ((c.n * 1000000) // tot.total)::BIGINT AS ppm
      |FROM c CROSS JOIN tot WHERE c.n * 64 >= tot.total""".stripMargin

  private def d4Query(spark: SparkSession, sfDir: String): DataFrame =
    postingPairs(spark, sfDir,
      """SELECT pr.i AS doc_id_a, pr.j AS doc_id_b,
        |  CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) AS jaccard
        |FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
        |WHERE CAST(pr.shared AS DOUBLE) / (ca.n + cb.n - pr.shared) >= 0.4""".stripMargin)

  private def d8Query(spark: SparkSession, sfDir: String): DataFrame =
    postingPairs(spark, sfDir,
      """SELECT pr.i AS doc_id_a, pr.j AS doc_id_b,
        |  CAST(pr.shared AS DOUBLE) / ca.n AS containment_a,
        |  CAST(pr.shared AS DOUBLE) / cb.n AS containment_b
        |FROM pr JOIN cnt ca ON ca.doc_id = pr.i JOIN cnt cb ON cb.doc_id = pr.j
        |WHERE greatest(CAST(pr.shared AS DOUBLE) / ca.n,
        |               CAST(pr.shared AS DOUBLE) / cb.n) >= 0.8""".stripMargin)

  /** D12: exact-substring dedup in the Lee et al. 2021 shape
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): any substring duplicated ANYWHERE in the corpus
    * (other docs or the same doc) is removed from every occurrence
    * position — where d9 (C4) hashes disjoint 10-word blocks and
    * keeps one global copy, this detects OVERLAPPING 10-gram matches
    * so duplicated passages are caught at any offset. The suffix
    * array of the paper is replaced by hashed overlapping shingles
    * (`shingle_hashes`, collision odds ~n²/2³¹ on gram counts here).
    *
    * Scale shape (the round-10 rework — the old formulation shuffled
    * the full token stream twice and was the steepest text op at the
    * 100× probe): (1) the overlapping-gram stream shuffles ONCE on
    * the hash, pruned to the 8-byte hash column, to find duplicated
    * hashes; (2) the duplicated-hash set — tiny when dups are sparse,
    * the training-corpus common case — becomes a driver-built Bloom
    * blob (the d10 pattern) that prefilters the gram stream down to
    * candidates before the exact dup semi-join, so the singleton
    * grams (the overwhelming majority) never re-shuffle; (3) dup
    * START POSITIONS group per doc (rows ∝ duplicated grams, not
    * tokens) and join the documents scan by id; (4) coverage + text
    * rebuild run per ROW in a two-pointer sweep over (sorted dup
    * starts × token positions) — a token is covered when any dup
    * start lies in [pos−9, pos]; O(tokens + dup starts) per doc —
    * replacing the token explode + join + window + collect_list
    * pipeline. The token text never shuffles at all. */
  private def d12Query(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val gSql =
      """SELECT doc_id, s, h FROM
        |  (SELECT doc_id, shingle_hashes(text, 10) AS hs FROM documents
        |   WHERE size(split(text, ' ')) >= 10) x
        |  LATERAL VIEW posexplode(hs) t AS s, h""".stripMargin
    // duplicated hashes, materialized once (h-only shuffle; the
    // downstream count/bloom/semi-join reuse the checkpoint instead
    // of re-aggregating)
    val dup = spark.sql(s"SELECT h FROM ($gSql) g GROUP BY h HAVING count(*) > 1")
      .localCheckpoint()
    val nDup = dup.count()
    // no duplicated gram anywhere: nothing is covered — skip the
    // bloom (bloom_agg over zero rows yields NULL)
    val prefilter =
      if (nDup == 0) "FALSE"
      else {
        val blob = dup.selectExpr(s"bloom_agg(h, ${nDup}L, CAST(0.01 AS DOUBLE)) AS b")
          .head().getAs[Array[Byte]](0)
        val b64 = java.util.Base64.getEncoder.encodeToString(blob)
        s"bloom_might_contain(unbase64('$b64'), h)"
      }
    val joined = Sql.bound(spark,
      s"""WITH cand AS (SELECT doc_id, s, h FROM ($gSql) g WHERE $prefilter),
         |ds AS (SELECT cand.doc_id, cand.s
         |  FROM cand LEFT SEMI JOIN d12_dup dup ON dup.h = cand.h),
         |dp AS (SELECT doc_id, sort_array(collect_list(s)) AS dups
         |  FROM ds GROUP BY doc_id),
         |w AS (SELECT doc_id, split(text, ' ') AS w FROM documents)
         |SELECT w.doc_id, w.w, coalesce(dp.dups, array()) AS dups
         |FROM w LEFT JOIN dp ON dp.doc_id = w.doc_id""".stripMargin,
      "d12_dup" -> dup)
    // coverage + rebuild: a two-pointer sweep over (sorted dup
    // starts, token positions) — O(tokens + dup starts) per doc. A
    // declarative `filter(…, pos -> NOT exists(dups, …))` form is
    // O(tokens × dup starts), quadratic exactly on the
    // heavily-duplicated documents this op exists to trim, so the
    // genuinely-imperative kernel is the right scale shape here.
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("kept_text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_kept",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_removed",
        org.apache.spark.sql.types.LongType)))
    import org.apache.spark.sql.{Encoders, Row}
    joined.mapPartitions { it =>
      it.flatMap { row =>
        if (row.isNullAt(1)) Iterator.empty // null text: no tokens
        else {
          val words = row.getSeq[String](1)
          val dups = row.getSeq[Int](2)
          val n = words.length
          val sb = new StringBuilder
          var kept = 0L
          var lo = 0 // first dup start with s >= pos - 9
          var pos = 0
          while (pos < n) {
            while (lo < dups.length && dups(lo) < pos - 9) lo += 1
            val covered = lo < dups.length && dups(lo) <= pos
            if (!covered) {
              if (kept > 0) sb.append(' ')
              sb.append(words(pos))
              kept += 1
            }
            pos += 1
          }
          if (kept == 0) Iterator.empty
          else Iterator.single(Row(row.getLong(0), sb.toString, kept, n - kept))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** d12 oracle: the straightforward replay — duplicated-hash
    * detection over the same overlapping grams, sliding-window
    * coverage, per-doc rebuild (bloom-independent: the blob only
    * prefilters; every candidate passes the exact dup join). */
  private val d12Oracle: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |toks AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM w),
       |g AS (SELECT doc_id, s, list_reduce(
       |    [ascii(c)::BIGINT for c in string_split(${(0 until 10).map(j => if (j == 0) "w[s]" else s"w[s+$j]").mkString(" || ' ' || ")}, '')],
       |    (h,c) -> (h*131+c) % $P) AS h
       |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-9)) AS s
       |        FROM w WHERE len(w) >= 10) x),
       |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |ds AS (SELECT g.doc_id, g.s,
       |    CASE WHEN dup.h IS NULL THEN 0 ELSE 1 END AS isdup
       |  FROM g LEFT JOIN dup ON dup.h = g.h),
       |cov AS (SELECT t.doc_id, t.pos, t.word,
       |    max(coalesce(ds.isdup, 0)) OVER (PARTITION BY t.doc_id ORDER BY t.pos
       |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS covered
       |  FROM toks t LEFT JOIN ds ON ds.doc_id = t.doc_id AND ds.s = t.pos),
       |agg AS (SELECT doc_id,
       |    string_agg(word, ' ' ORDER BY pos) FILTER (WHERE covered = 0) AS kept_text,
       |    CAST(count(*) FILTER (WHERE covered = 0) AS BIGINT) AS n_kept,
       |    CAST(sum(covered) AS BIGINT) AS n_removed
       |  FROM cov GROUP BY doc_id)
       |SELECT doc_id, kept_text, n_kept, n_removed FROM agg WHERE n_kept > 0""".stripMargin

  // ---- t18: distributed BPE merge training -----------------------

  /** THE left-to-right BPE merge, as a SQL expression over a
    * space-joined token string `s`: greedy fold token-by-token — if
    * the accumulator's LAST token equals `a` and the incoming token
    * equals `b`, replace that last token with `a||b`, else append.
    * A greedy left fold IS the BPE merge semantics (non-overlapping,
    * left-to-right: after [a,a] merges in a run [a,a,a], the new last
    * token `aa` no longer equals `a`, so the third `a` appends — the
    * same skip a scanning implementation makes). The last-token test
    * is exact string surgery (suffix equals `a` AND the char before
    * it is the separator), never LIKE — merge tokens may contain
    * pattern metacharacters. The DuckDB oracle replays the identical
    * fold via `list_reduce`; both engines seed the fold with the
    * first token.
    *
    * `a`/`b` arrive as SQL literal text (see [[sqlLit]]) because the
    * engine loop inlines each round's argmax pair. */
  private[graft] def bpeMergeExpr(aLit: String, bLit: String): String = {
    val la = s"length($aLit)"
    s"""aggregate(slice(t, 2, size(t) - 1), element_at(t, 1),
       |  (acc, x) -> CASE WHEN x = $bLit AND length(acc) >= $la
       |      AND substr(acc, length(acc) - $la + 1) = $aLit
       |      AND (length(acc) = $la OR substr(acc, length(acc) - $la, 1) = ' ')
       |    THEN concat(substr(acc, 1, length(acc) - $la), $aLit, $bLit)
       |    ELSE concat(acc, ' ', x) END)""".stripMargin
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private val bpeRounds = 4

  /** T18: BPE vocabulary training (Sennrich et al. 2016), the
    * tokenizer-building pass of a training-data pipeline, in the
    * shape the real trainers (sentencepiece, HF tokenizers) use at
    * corpus scale: the CORPUS is touched exactly once — one map-side
    * combinable word-frequency aggregation — and every training
    * round then runs over the VOCABULARY table (distinct words ≪
    * corpus), which is where BPE's cost lives. Each round: (1) count
    * adjacent token pairs weighted by word frequency (combinable
    * groupBy over the vocab table), (2) take the argmax pair with a
    * deterministic tie-break (count DESC, then lexicographic — a
    * 1-row collect, the k-means-centroid pattern: driver state is
    * one merge rule per round, never data-sized), (3) rewrite every
    * word's token string through [[bpeMergeExpr]] with the pair
    * inlined as literals, `localCheckpoint`ed so the iterate's
    * lineage stays constant-size (the d7 lesson). Output: the merge
    * table (rank, pair, weighted count, corpus tokens after the
    * merge) — K rows, the artifact a tokenizer ships.
    *
    * Oracle: the same K rounds statically unrolled as one DuckDB CTE
    * chain (pair counts → argmax → `list_reduce` fold), a different
    * evaluation strategy arriving at the same fixed point. */
  /** The shared training loop behind t18 (the merge table) and t21
    * (applying it corpus-wide): returns the FINAL tokenized
    * vocabulary `(word, f, s)` — `s` the space-joined token string
    * after all rounds — and the per-round merge records. Training
    * cost is vocabulary-bounded (see [[t18Query]]); callers that
    * only need the merges ignore the vocab frame. */
  private def bpeTrain(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    Tables.register(spark, sfDir)
    // pass 1 — the only corpus-touching stage: word frequencies,
    // then each word as a space-joined character-token string
    var vocab = spark.sql(
      """SELECT word, CAST(count(*) AS BIGINT) AS f,
        |  trim(regexp_replace(word, '(.)', '$1 ')) AS s
        |FROM (SELECT explode(filter(split(text, ' '), x -> x != '')) AS word
        |      FROM documents)
        |GROUP BY word""".stripMargin).localCheckpoint()
    val out = Seq.newBuilder[(Int, String, String, Long, Long)]
    for (k <- 1 to bpeRounds) {
      val top = Sql.bound(spark,
        """SELECT element_at(t, j) AS a, element_at(t, j + 1) AS b,
          |  CAST(sum(f) AS BIGINT) AS cnt
          |FROM (SELECT f, split(s, ' ') AS t FROM vocab
          |      WHERE instr(s, ' ') > 0)
          |LATERAL VIEW explode(sequence(1, size(t) - 1)) tx AS j
          |GROUP BY a, b
          |ORDER BY cnt DESC, a, b LIMIT 1""".stripMargin, "vocab" -> vocab).collect()
      require(top.nonEmpty, s"BPE round $k: no adjacent pairs left")
      val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      vocab = vocab.selectExpr("word", "f", "split(s, ' ') AS t")
        .selectExpr("word", "f", s"${bpeMergeExpr(sqlLit(a), sqlLit(b))} AS s")
        .selectExpr("word", "f", "s", "size(split(s, ' ')) AS n")
        .localCheckpoint()
      val tokAfter = vocab.selectExpr("CAST(sum(f * n) AS BIGINT)")
        .collect()(0).getLong(0)
      vocab = vocab.select("word", "f", "s")
      out += ((k, a, b, cnt, tokAfter))
    }
    (vocab, out.result())
  }

  private def t18Query(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, merges) = bpeTrain(spark, sfDir)
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "pair_count", "tokens_after")
  }

  /** T21: BPE tokenization APPLIED corpus-wide — the token-counting
    * pass a pipeline runs with the tokenizer t18 just trained (data
    * budgeting, sequence packing and billing all count BPE tokens,
    * not words). The scale-correct shape is NOT per-document merge
    * folds: the vocabulary already carries each word's final token
    * string, so tokenizing the corpus is one broadcast hash join of
    * the (vocabulary-sized) token table against the exploded word
    * stream plus a combinable per-document aggregation — the corpus
    * is scanned once and never folds a merge itself. Output per doc:
    * word/char/BPE-token counts (chars-per-token is the compression
    * diagnostic tokenizer pipelines track). Oracle: the t18 chain
    * (same CTE text, word key carried) joined back to the exploded
    * document words. */
  private def t21Query(spark: SparkSession, sfDir: String): DataFrame = {
    val (vocab, _) = bpeTrain(spark, sfDir)
    Sql.bound(spark,
      """SELECT /*+ BROADCAST(tk) */ dw.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
        |  CAST(sum(tk.n_bpe) AS BIGINT) AS n_bpe
        |FROM (SELECT doc_id, explode(filter(split(text, ' '), x -> x != '')) AS word
        |      FROM documents) dw
        |JOIN bpe_tokens tk ON tk.word = dw.word
        |GROUP BY dw.doc_id""".stripMargin,
      "bpe_tokens" -> vocab.selectExpr("word", "CAST(size(split(s, ' ')) AS BIGINT) AS n_bpe"))
  }

  /** The statically-unrolled DuckDB training chain (pair counts →
    * argmax → `list_reduce` fold, per round), SHARED by the t18 and
    * t21 oracles so the two replays cannot drift: emits CTEs up to
    * `s<bpeRounds>` (the final per-word tokenization, word key
    * carried) plus `m<k>`/`n<k>` per round. */
  private def bpeOracleChain: String = {
    val sb = new StringBuilder
    sb ++=
      """WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
        |        FROM documents)
        |  GROUP BY word),
        |s0 AS (SELECT word, f, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS s FROM w)""".stripMargin
    for (k <- 0 until bpeRounds) {
      val m = s"m${k + 1}"
      def fold =
        s"""list_reduce(t, (acc, x) -> CASE WHEN x = $m.b AND length(acc) >= length($m.a)
           |      AND substr(acc, length(acc) - length($m.a) + 1) = $m.a
           |      AND (length(acc) = length($m.a) OR substr(acc, length(acc) - length($m.a), 1) = ' ')
           |    THEN substr(acc, 1, length(acc) - length($m.a)) || $m.a || $m.b
           |    ELSE acc || ' ' || x END)""".stripMargin
      sb ++= s""",
        |tok$k AS (SELECT word, f, string_split(s, ' ') AS t FROM s$k),
        |p$k AS (SELECT t[j] AS a, t[j + 1] AS b, CAST(sum(f) AS BIGINT) AS cnt
        |  FROM (SELECT f, t, unnest(generate_series(1, len(t) - 1)) AS j
        |        FROM tok$k WHERE len(t) >= 2)
        |  GROUP BY a, b),
        |$m AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
        |s${k + 1} AS (SELECT word, f, $fold AS s FROM tok$k CROSS JOIN $m),
        |n${k + 1} AS (SELECT CAST(sum(f * len(string_split(s, ' '))) AS BIGINT) AS tok_total
        |  FROM s${k + 1})""".stripMargin
    }
    sb.result()
  }

  /** The statically-unrolled DuckDB replay of [[t18Query]]. */
  private def t18Oracle: String =
    bpeOracleChain + "\n" + (1 to bpeRounds).map { k =>
      s"""SELECT $k::INT AS merge_rank, m$k.a AS lhs, m$k.b AS rhs,
         |  m$k.cnt AS pair_count, n$k.tok_total AS tokens_after
         |FROM m$k CROSS JOIN n$k""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The DuckDB replay of [[t21Query]]: the shared training chain's
    * final per-word tokenization joined back to the exploded
    * document words. */
  private def t21Oracle: String =
    s"""$bpeOracleChain,
       |tk AS (SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_bpe
       |  FROM s$bpeRounds),
       |dw AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
       |    AS word FROM documents)
       |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(tk.n_bpe) AS BIGINT) AS n_bpe
       |FROM dw JOIN tk ON tk.word = dw.word
       |GROUP BY dw.doc_id""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    sqls.map { q =>
      q.name -> ((spark: SparkSession, sfDir: String) => {
        Tables.register(spark, sfDir)
        spark.sql(q.sparkSql)
      })
    }.toMap +
      ("d7_dup_clusters" -> (d7Query _)) +
      ("d13_quality_keep" -> (d13Query _)) +
      ("d4_ngram_jaccard_pairs" -> (d4Query _)) +
      ("d16_line_dedup" -> (d16Query _)) +
      ("t32_heavy_hitters" -> (t32Query _)) +
      ("d8_containment_pairs" -> (d8Query _)) +
      ("t8_sequence_pack" -> (t8Query _)) +
      ("d10_bloom_gate" -> (d10Query _)) +
      ("d12_exact_substr" -> (d12Query _)) +
      ("t18_bpe_train" -> (t18Query _)) +
      ("t21_bpe_tokenize" -> (t21Query _)) +
      ("t13_lm_score" -> (t13Query _)) +
      ("t27_ccnet_buckets" -> (t27Query _)) +
      // t33 overrides its SqlQ text (r16): the single-statement form
      // read the corpus token explode THREE times (wf, dl, tf); the
      // function form materializes per-(doc, word) counts once (the
      // t13/t27 tokCounts move, with t33's own empty-token-filtering
      // tokenizer) — every downstream count is an integer sum(k),
      // value-identical. Oracle unchanged.
      ("t33_bm25" -> (t33Query _))

  override def oracles: Map[String, String] =
    sqls.flatMap(q => q.oracleSql.map(q.name -> _)).toMap +
      ("d7_dup_clusters" -> d7Oracle) +
      ("d13_quality_keep" -> d13Oracle) +
      ("d4_ngram_jaccard_pairs" -> d4Oracle) +
      ("d16_line_dedup" -> d16Oracle) +
      ("t32_heavy_hitters" -> t32Oracle) +
      ("d8_containment_pairs" -> d8Oracle) +
      ("t8_sequence_pack" -> t8Oracle) +
      ("d10_bloom_gate" -> d10Oracle) +
      ("d12_exact_substr" -> d12Oracle) +
      ("t18_bpe_train" -> t18Oracle) +
      ("t21_bpe_tokenize" -> t21Oracle) +
      ("t13_lm_score" -> t13Oracle) +
      ("t27_ccnet_buckets" -> t27Oracle)
}
