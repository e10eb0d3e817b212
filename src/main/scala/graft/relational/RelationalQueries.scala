package graft.relational

import graft.{Op, QueryModule, SqlQ, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The relational query surface of SURVEY §2.2–§2.5: projection /
  * predicate passthrough (P1, P3, P5), catalog-style joins (J1, J2),
  * constraint-dedup append (S2), aggregation passthrough (A1, A5, A6,
  * A9), windows / sorts / limits / set ops (§2.5).
  *
  * User-dialect queries (single table, no joins) run through the SQL
  * gate in `graft.sqlgate`; internal queries (joins, windows) use
  * Catalyst directly — matching the reference, whose *user* dialect
  * forbids joins (`query_helpers.py:100-118`) while internal code joins
  * freely (`raster_assets.py:1-22`).
  */
object RelationalQueries extends QueryModule {

  /** w9's linear-counting table: lc(V) = m.ln(m/V) for V = 1..64 zero
    * buckets, in milli-units, PRECOMPUTED as integer literals embedded
    * in BOTH engine SQLs - the small-range correction needs ln, and a
    * last-ulp libm divergence between engines could flip the milli
    * rounding; baking the 64 possible values removes cross-engine
    * floats entirely (V is the only input). */
  private val hllLcCase: String =
    (1 to 64).map(v =>
      s"WHEN $v THEN ${Math.round(64000.0 * Math.log(64.0 / v))}")
      .mkString(" ")

  /** Shared-SQL entries: same text runs on Spark and DuckDB. */
  private val sqls: Seq[Op] = Seq(
    // A1: aggregate passthrough (reference routes user GROUP BY SQL whole
    // to PG, queries.py:506-525). Decimal-cast sums are order-independent.
    SqlQ.shared("a1_agg_groupby",
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity as decimal(30,2))) as double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice as decimal(30,2))) as double) AS sum_base_price,
        |  cast(sum(cast(l_discount as decimal(30,2))) as double) AS sum_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // P1: arbitrary select-list expressions + aliases (query_helpers.py:274-381).
    // Per-row double arithmetic is IEEE-identical across engines.
    SqlQ.shared("p1_projection",
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS discounted,
        |  upper(l_returnflag) || '-' || l_linestatus AS flag_status,
        |  1 AS bar
        |FROM lineitem WHERE l_orderkey <= 100""".stripMargin),

    // P3: WHERE passthrough with LIKE / BETWEEN / comparisons.
    SqlQ.shared("p3_where_like",
      """SELECT p_partkey, p_name, p_brand, p_size
        |FROM part
        |WHERE p_name LIKE '%a%' AND p_size BETWEEN 5 AND 15 AND p_retailprice > 900""".stripMargin),

    // P5: date-range filter (features.py:131-137 TO_TIMESTAMP between).
    SqlQ.shared("p5_date_range",
      """SELECT event_id, event_type, cast(ts as date) AS event_date
        |FROM events
        |WHERE ts BETWEEN timestamp '2024-01-02 00:00:00' AND timestamp '2024-01-05 00:00:00'""".stripMargin),

    // P7: admin-style equality + escaped-LIKE filter (crud/geostore.py:330-367).
    SqlQ.shared("p7_admin_filter",
      """SELECT o_orderkey, o_orderpriority, o_orderstatus
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_orderpriority LIKE '1%'""".stripMargin),

    // J1: catalog join (assets⋈versions-style, raster_assets.py:1-22).
    SqlQ.shared("j1_catalog_join",
      """SELECT n_name,
        |  count(*) AS num_customers,
        |  cast(sum(cast(c_acctbal as decimal(30,2))) as double) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // J2: geostore point lookup by hashed id (crud/geostore.py:42-58).
    SqlQ.shared("j2_key_lookup",
      """SELECT o_orderkey, o_custkey, o_totalprice, cast(o_orderdate as date) AS order_date
        |FROM orders WHERE o_orderkey = 0""".stripMargin),

    // A5: deprecated sum(alert__count) -> count(*) rewrite (analysis.py:147).
    SqlQ.shared("a5_count_rewrite",
      """SELECT event_type, count(*) AS alert_count
        |FROM events WHERE event_type = 'error' GROUP BY event_type""".stripMargin),

    // A6: second-level grouping (datamart.py:155-210 per-driver totals).
    SqlQ.shared("a6_two_level_agg",
      """SELECT event_type,
        |  cast(sum(cast(value as decimal(30,2))) as double) AS total_value,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // A9: DISTINCT-ish admin listing ordered by id (crud/geostore.py:137-178).
    SqlQ.shared("a9_distinct_order",
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"),

    // §2.5: window functions pass through the dialect (PG would execute
    // them; Catalyst gives them natively).
    SqlQ.shared("w_window_rank",
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 2""".stripMargin),

    // §2.5 pagination: offset/limit catalog listing (app/utils/paginate.py).
    SqlQ.shared("sort_limit_offset",
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 10 OFFSET 20"),

    // §2.5 set ops: UNION ALL file-part concatenation (export_1x1_grid.sh:28-30).
    SqlQ.shared("set_union_all",
      """SELECT c_custkey AS id, 'customer' AS src FROM customer WHERE c_custkey < 50
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS src FROM supplier
        |ORDER BY src, id""".stripMargin),

    // P3+: WHERE-clause subqueries pass the gate (the reference only
    // forbids subqueries in FROM, query_helpers.py:112-118; pglast
    // passes WHERE subselects through to PG).
    SqlQ.shared("p9_where_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |  AND o_totalprice > 300000""".stripMargin),

    // A1+: HAVING passes through the dialect like GROUP BY tails.
    SqlQ.shared("a10_having",
      """SELECT o_custkey, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 20
        |ORDER BY o_custkey""".stripMargin),

    // P1+: scalar-function battery — the common PG functions the
    // dialect passes through (string/date/conditional/numeric), all
    // deterministic across engines (no round(): HALF_UP vs HALF_EVEN).
    SqlQ.shared("p10_scalar_funcs",
      """SELECT o_orderkey,
        |  upper(substr(o_orderpriority, 1, 1)) AS pri_initial,
        |  CAST(length(o_orderpriority) AS INT) AS pri_len,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' WHEN o_totalprice > 50000 THEN 'mid' ELSE 'small' END AS size_class,
        |  abs(o_totalprice - 100000) AS dist_from_100k,
        |  greatest(o_custkey, 100) AS cust_floor,
        |  CAST(year(cast(o_orderdate as date)) AS INT) AS order_year,
        |  CAST(month(cast(o_orderdate as date)) AS INT) AS order_month
        |FROM orders WHERE o_orderkey < 200""".stripMargin),

    // §2.5+: analytic windows beyond row_number — lag and a cumulative
    // decimal sum per user session (exact running totals).
    SqlQ.shared("w2_window_analytics",
      """SELECT user_id, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |  cast(sum(cast(value as decimal(30,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_value
        |FROM events WHERE user_id < 5""".stripMargin),

    // jsonb-style opaque JSON columns (§1.2: jsonb → StringType):
    // field extraction in the dialect. The oracle mirrors with a
    // regex since its engine may lack a JSON extension.
    SqlQ.split("p11_json_extract",
      """SELECT event_id, CAST(get_json_object(props, '$.k') AS BIGINT) AS k_value
        |FROM events WHERE event_id < 100""".stripMargin,
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_value
        |FROM events WHERE event_id < 100""".stripMargin),

    // Sessionization: split each user's event stream on >10-minute
    // gaps via lag + a cumulative boundary count — the windowed
    // incremental pattern alert feeds need (§2.7 adjacent).
    // Gaps are computed in MICROSECONDS on both engines: Spark
    // unix_timestamp truncates sub-second parts where DuckDB
    // epoch()::BIGINT rounds, so second-resolution gap math can flip a
    // boundary; unix_micros/epoch_us are exact. The oracle's window sum
    // is cast to BIGINT (DuckDB bare integer sum() is HUGEINT and the
    // driver's hash is type-sensitive).
    SqlQ.split("w3_sessionize",
      """WITH g AS (SELECT user_id, event_id, ts,
        |  unix_micros(ts) - lag(unix_micros(ts))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events WHERE user_id < 10)
        |SELECT user_id, event_id,
        |  sum(CASE WHEN gap IS NULL OR gap > 600000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |FROM g""".stripMargin,
      """WITH g AS (SELECT user_id, event_id, ts,
        |  epoch_us(ts) - lag(epoch_us(ts))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events WHERE user_id < 10)
        |SELECT user_id, event_id,
        |  (sum(CASE WHEN gap IS NULL OR gap > 600000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_idx
        |FROM g""".stripMargin),

    // §2.5+: ordered-sequence funnel over the event stream — the
    // classic product-analytics operator (signup → view → purchase,
    // each stage within 7 days of the previous): per user, the first
    // signup, the first view after it, the first purchase after that,
    // then the 3-row conversion table with exact ppm rates. All
    // timestamps compare in microseconds (the w3 lesson: second-
    // resolution epoch math rounds differently across engines).
    // Scale shape: three combinable min-aggregates keyed on user_id —
    // the stage joins co-partition on the same key, so the whole
    // funnel is one shuffle of the event stream plus per-user-sized
    // joins; the final counts are scalar subqueries over tiny tables.
    SqlQ.split("w4_funnel",
      """WITH s AS (SELECT user_id, min(unix_micros(ts)) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |v AS (SELECT e.user_id, min(unix_micros(e.ts)) AS t2
        |  FROM events e JOIN s ON s.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND unix_micros(e.ts) > s.t1
        |    AND unix_micros(e.ts) <= s.t1 + 604800000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(unix_micros(e.ts)) AS t3
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND unix_micros(e.ts) > v.t2
        |    AND unix_micros(e.ts) <= v.t2 + 604800000000 GROUP BY e.user_id),
        |c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n1,
        |             (SELECT CAST(count(*) AS BIGINT) FROM v) AS n2,
        |             (SELECT CAST(count(*) AS BIGINT) FROM p) AS n3)
        |SELECT 1 AS stage_idx, 'signup' AS stage, n1 AS n_users,
        |  CAST(1000000 AS BIGINT) AS conv_from_prev_ppm,
        |  CAST(1000000 AS BIGINT) AS conv_from_top_ppm FROM c
        |UNION ALL SELECT 2, 'view', n2,
        |  CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) DIV n1 END,
        |  CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) DIV n1 END FROM c
        |UNION ALL SELECT 3, 'purchase', n3,
        |  CASE WHEN n2 = 0 THEN 0 ELSE (n3 * 1000000) DIV n2 END,
        |  CASE WHEN n1 = 0 THEN 0 ELSE (n3 * 1000000) DIV n1 END FROM c""".stripMargin,
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |v AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN s ON s.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) > s.t1
        |    AND epoch_us(e.ts) <= s.t1 + 604800000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t2
        |    AND epoch_us(e.ts) <= v.t2 + 604800000000 GROUP BY e.user_id),
        |c AS (SELECT (SELECT count(*)::BIGINT FROM s) AS n1,
        |             (SELECT count(*)::BIGINT FROM v) AS n2,
        |             (SELECT count(*)::BIGINT FROM p) AS n3)
        |SELECT 1 AS stage_idx, 'signup' AS stage, n1 AS n_users,
        |  1000000::BIGINT AS conv_from_prev_ppm,
        |  1000000::BIGINT AS conv_from_top_ppm FROM c
        |UNION ALL SELECT 2, 'view', n2,
        |  (CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) // n1 END)::BIGINT,
        |  (CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) // n1 END)::BIGINT FROM c
        |UNION ALL SELECT 3, 'purchase', n3,
        |  (CASE WHEN n2 = 0 THEN 0 ELSE (n3 * 1000000) // n2 END)::BIGINT,
        |  (CASE WHEN n1 = 0 THEN 0 ELSE (n3 * 1000000) // n1 END)::BIGINT FROM c""".stripMargin),

    // §2.5+: cohort retention matrix — the other canonical
    // product-analytics operator next to w4's funnel: users cohort by
    // their FIRST event's calendar week (exact integer week index
    // from microseconds — the w3/w4 lesson), and each later active
    // week counts them once at that (cohort, offset) cell; rates are
    // exact integer ppm against the cohort size. Scale shape: two
    // combinable aggregates keyed on user_id (first-event min, then
    // the distinct-active-week dedup rides the same shuffle key); the
    // cohort-size side is |weeks| rows — broadcast — and the output
    // matrix is |weeks|² cells regardless of corpus size.
    SqlQ.split("w5_retention_cohorts",
      """WITH f AS (SELECT user_id,
        |    min(unix_micros(ts)) DIV 604800000000 AS cohort_w
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_w,
        |    unix_micros(e.ts) DIV 604800000000 - f.cohort_w AS offset_w
        |  FROM events e JOIN f ON f.user_id = e.user_id),
        |cs AS (SELECT cohort_w, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY cohort_w)
        |SELECT CAST(a.cohort_w AS INT) AS cohort_week,
        |  CAST(a.offset_w AS INT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users, cs.cohort_size,
        |  (count(*) * 1000000) DIV cs.cohort_size AS retention_ppm
        |FROM a JOIN cs ON cs.cohort_w = a.cohort_w
        |GROUP BY a.cohort_w, a.offset_w, cs.cohort_size""".stripMargin,
      """WITH f AS (SELECT user_id,
        |    min(epoch_us(ts)) // 604800000000 AS cohort_w
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_w,
        |    epoch_us(e.ts) // 604800000000 - f.cohort_w AS offset_w
        |  FROM events e JOIN f ON f.user_id = e.user_id),
        |cs AS (SELECT cohort_w, count(*)::BIGINT AS cohort_size
        |  FROM f GROUP BY cohort_w)
        |SELECT a.cohort_w::INT AS cohort_week,
        |  a.offset_w::INT AS week_offset,
        |  count(*)::BIGINT AS n_users, cs.cohort_size,
        |  ((count(*) * 1000000) // cs.cohort_size)::BIGINT AS retention_ppm
        |FROM a JOIN cs ON cs.cohort_w = a.cohort_w
        |GROUP BY a.cohort_w, a.offset_w, cs.cohort_size""".stripMargin),

    // §2.5+: rolling 7-day active users — the DAU/WAU pair every
    // event-stream dashboard serves. A sliding DISTINCT cannot ride
    // a plain window frame (distinct-over-range isn't incremental),
    // so the scale shape is the bounded fan-out: each (day, user)
    // support row replicates to the ≤7 report days it backs — a
    // constant-factor explode, NOT a range join — and both counts
    // are combinable aggregates on the day key. Day indices are
    // exact integers from microseconds (the w3/w5 lesson). Report
    // days are the days that themselves have events (an empty day
    // inside a window is a presentation concern, not an operator
    // one — documented choice).
    SqlQ.split("w6_rolling_active",
      """WITH d AS (SELECT DISTINCT
        |    unix_micros(ts) DIV 86400000000 AS day, user_id
        |  FROM events),
        |f AS (SELECT day + off AS report_day, user_id
        |  FROM d LATERAL VIEW explode(sequence(0, 6)) t AS off),
        |wau AS (SELECT report_day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS wau_7d
        |  FROM f GROUP BY report_day),
        |dau AS (SELECT day AS report_day,
        |    CAST(count(*) AS BIGINT) AS dau FROM d GROUP BY day)
        |SELECT CAST(dau.report_day AS INT) AS report_day,
        |  dau.dau, wau.wau_7d
        |FROM dau JOIN wau ON wau.report_day = dau.report_day""".stripMargin,
      """WITH d AS (SELECT DISTINCT
        |    epoch_us(ts) // 86400000000 AS day, user_id
        |  FROM events),
        |f AS (SELECT day + off AS report_day, user_id
        |  FROM d, LATERAL unnest(generate_series(0, 6)) t(off)),
        |wau AS (SELECT report_day,
        |    count(DISTINCT user_id)::BIGINT AS wau_7d
        |  FROM f GROUP BY report_day),
        |dau AS (SELECT day AS report_day,
        |    count(*)::BIGINT AS dau FROM d GROUP BY day)
        |SELECT dau.report_day::INT AS report_day,
        |  dau.dau, wau.wau_7d
        |FROM dau JOIN wau ON wau.report_day = dau.report_day""".stripMargin),

    // W9: HyperLogLog approximate distinct count (Flajolet, Fusy,
    // Gandouet & Meunier 2007) — the classic cardinality sketch
    // (Spark's own approx_count_distinct is this algorithm, but its
    // registers aren't replayable in the oracle, so the sketch runs
    // from first principles on a PORTABLE hash): each row hashes
    // through md5 of the id's decimal string — the repo's established
    // cross-engine hash (the d9 convention); an LCG-mod-prime mix was
    // measured UNUSABLE here (its lattice structure starves max(ρ),
    // the one statistic HLL reads, saturating the estimate at ~4.5k)
    // — takes 60 bits via base-16 conv (a c-ordered fold on the
    // oracle side), splits into 64 buckets × a 25-bit tail, and each
    // bucket keeps max(ρ) where ρ = 25 − floor(log2(tail)) (tail 0 →
    // 26); floor(log2) over exact small integers cannot straddle an
    // ulp (only exact powers of two hit integer log2, and those are
    // exact doubles in both libms). The estimate stays INTEGER all
    // the way: Σ 2^(−Mⱼ) scaled by 2²⁶ is a BIGINT register sum, and
    // est_milli = α₆₄-scaled numerator DIV that sum (α₆₄ = 0.709 as
    // the exact rational 709/1000) — no float crosses engines. The
    // small-range regime (raw est <= 2.5m and empty buckets remain)
    // switches to LINEAR COUNTING m.ln(m/V) - Flajolet et al. SS4 -
    // via the precomputed 64-entry integer table [[hllLcCase]]. The
    // exact distinct and the per-mille error ride along, so the
    // sketch's accuracy is MEASURED, not asserted (the d14/t32
    // convention). Scale shape: the ONLY state is 64 integers per
    // group — max-mergeable registers (map-side combinable; the
    // HllSpec pins merge = whole), so the operator's memory is
    // independent of cardinality at any corpus size, which is the
    // entire reason HLL exists at 100 TB.
    SqlQ.split("w9_hll_distinct",
      s"""WITH h1 AS (SELECT event_type,
        |    CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h
        |  FROM events),
        |b AS (SELECT event_type, CAST(h % 64 AS INT) AS bkt,
        |    CAST((h DIV 64) % 33554432 AS BIGINT) AS w FROM h1),
        |r AS (SELECT event_type, bkt,
        |    max(CASE WHEN w = 0 THEN 26
        |        ELSE 25 - CAST(floor(log2(w)) AS INT) END) AS mj
        |  FROM b GROUP BY event_type, bkt),
        |s AS (SELECT event_type,
        |    CAST(sum(shiftleft(CAST(1 AS BIGINT), 26 - mj)) AS BIGINT) AS sreg,
        |    CAST(count(*) AS INT) AS nonzero
        |  FROM r GROUP BY event_type),
        |e AS (SELECT event_type,
        |    sreg + shiftleft(CAST(1 AS BIGINT), 26) * (64 - nonzero) AS stot,
        |    CAST(64 - nonzero AS INT) AS zero_buckets FROM s),
        |er AS (SELECT event_type, zero_buckets,
        |    CAST((CAST(709 AS BIGINT) * 4096 * 67108864) DIV stot AS BIGINT) AS est_raw
        |  FROM e),
        |c AS (SELECT event_type, zero_buckets,
        |    CAST(CASE WHEN est_raw <= 160000 AND zero_buckets > 0
        |      THEN CASE zero_buckets $hllLcCase END
        |      ELSE est_raw END AS BIGINT) AS est_milli FROM er),
        |x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT c.event_type, c.est_milli, c.zero_buckets, x.exact_distinct,
        |  CAST(abs(c.est_milli - 1000 * x.exact_distinct)
        |    DIV x.exact_distinct AS BIGINT) AS err_pml
        |FROM c JOIN x ON x.event_type = c.event_type""".stripMargin,
      s"""WITH h1 AS (SELECT event_type,
        |    list_reduce([(strpos('0123456789abcdef', c) - 1)::BIGINT
        |        for c in string_split(substring(md5(user_id::VARCHAR), 1, 15), '')],
        |      (a, b) -> a * 16 + b)::BIGINT AS h
        |  FROM events),
        |b AS (SELECT event_type, (h % 64)::INT AS bkt,
        |    ((h // 64) % 33554432)::BIGINT AS w FROM h1),
        |r AS (SELECT event_type, bkt,
        |    max(CASE WHEN w = 0 THEN 26
        |        ELSE 25 - floor(log2(w))::INT END) AS mj
        |  FROM b GROUP BY event_type, bkt),
        |s AS (SELECT event_type,
        |    sum(1::BIGINT << (26 - mj))::BIGINT AS sreg,
        |    count(*)::INT AS nonzero
        |  FROM r GROUP BY event_type),
        |e AS (SELECT event_type,
        |    sreg + (1::BIGINT << 26) * (64 - nonzero) AS stot,
        |    (64 - nonzero)::INT AS zero_buckets FROM s),
        |er AS (SELECT event_type, zero_buckets,
        |    ((709::BIGINT * 4096 * 67108864) // stot)::BIGINT AS est_raw
        |  FROM e),
        |c AS (SELECT event_type, zero_buckets,
        |    (CASE WHEN est_raw <= 160000 AND zero_buckets > 0
        |      THEN CASE zero_buckets $hllLcCase END
        |      ELSE est_raw END)::BIGINT AS est_milli FROM er),
        |x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT c.event_type, c.est_milli, c.zero_buckets, x.exact_distinct,
        |  (abs(c.est_milli - 1000 * x.exact_distinct)
        |    // x.exact_distinct)::BIGINT AS err_pml
        |FROM c JOIN x ON x.event_type = c.event_type""".stripMargin),

    // W10: Count-Min sketch point queries (Cormode & Muthukrishnan
    // 2005) — the frequency companion to w9's cardinality sketch:
    // depth 4 × width 128 counters, row j's column drawn from 7-bit
    // slices of the same portable 60-bit md5 hash (the w9
    // convention), estimate = min over rows — never an UNDERcount,
    // overcount bounded by row collisions. The sketch is measured,
    // not asserted: the output carries the exact count and the
    // overcount per key for the top-20 true-heaviest users. Scale
    // shape: the ONLY state is 512 integers per sketch — plain
    // combinable count aggregates (map-side combine reduces each
    // partition to <= 512 rows before the one tiny shuffle), so
    // memory is independent of both stream length and key
    // cardinality; the top-20 probe side is a broadcast-sized join
    // against those 512 counters. Everything is BIGINT end to end.
    SqlQ.split("w10_count_min",
      """WITH h1 AS (SELECT user_id,
        |    CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h
        |  FROM events),
        |cells AS (SELECT j,
        |    CAST((h DIV (CASE j WHEN 0 THEN 1L WHEN 1 THEN 128L
        |                        WHEN 2 THEN 16384L ELSE 2097152L END)) % 128 AS INT) AS col
        |  FROM h1 LATERAL VIEW explode(sequence(0, 3)) t AS j),
        |cms AS (SELECT j, col, CAST(count(*) AS BIGINT) AS ct
        |  FROM cells GROUP BY j, col),
        |tc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_n FROM events
        |  GROUP BY user_id),
        |top AS (SELECT user_id, true_n FROM (SELECT user_id, true_n,
        |    row_number() OVER (ORDER BY true_n DESC, user_id) AS rn FROM tc) r
        |  WHERE rn <= 20),
        |probe AS (SELECT t.user_id, t.true_n, s.j,
        |    CAST((CAST(conv(substring(md5(CAST(t.user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)
        |      DIV (CASE s.j WHEN 0 THEN 1L WHEN 1 THEN 128L
        |                    WHEN 2 THEN 16384L ELSE 2097152L END)) % 128 AS INT) AS col
        |  FROM top t LATERAL VIEW explode(sequence(0, 3)) s AS j),
        |est AS (SELECT p.user_id, p.true_n, CAST(min(c.ct) AS BIGINT) AS cms_est
        |  FROM probe p JOIN cms c ON c.j = p.j AND c.col = p.col
        |  GROUP BY p.user_id, p.true_n)
        |SELECT user_id, true_n, cms_est,
        |  CAST(cms_est - true_n AS BIGINT) AS overcount
        |FROM est""".stripMargin,
      """WITH h1 AS (SELECT user_id,
        |    list_reduce([(strpos('0123456789abcdef', c) - 1)::BIGINT
        |        for c in string_split(substring(md5(user_id::VARCHAR), 1, 15), '')],
        |      (a, b) -> a * 16 + b)::BIGINT AS h
        |  FROM events),
        |cells AS (SELECT j,
        |    ((h // (CASE j WHEN 0 THEN 1 WHEN 1 THEN 128
        |                   WHEN 2 THEN 16384 ELSE 2097152 END)) % 128)::INT AS col
        |  FROM h1, LATERAL unnest(generate_series(0, 3)) t(j)),
        |cms AS (SELECT j, col, count(*)::BIGINT AS ct
        |  FROM cells GROUP BY j, col),
        |tc AS (SELECT user_id, count(*)::BIGINT AS true_n FROM events
        |  GROUP BY user_id),
        |top AS (SELECT user_id, true_n FROM (SELECT user_id, true_n,
        |    row_number() OVER (ORDER BY true_n DESC, user_id) AS rn FROM tc) r
        |  WHERE rn <= 20),
        |ph AS (SELECT t.user_id, t.true_n,
        |    list_reduce([(strpos('0123456789abcdef', c) - 1)::BIGINT
        |        for c in string_split(substring(md5(t.user_id::VARCHAR), 1, 15), '')],
        |      (a, b) -> a * 16 + b)::BIGINT AS h
        |  FROM top t),
        |probe AS (SELECT user_id, true_n, j,
        |    ((h // (CASE j WHEN 0 THEN 1 WHEN 1 THEN 128
        |                   WHEN 2 THEN 16384 ELSE 2097152 END)) % 128)::INT AS col
        |  FROM ph, LATERAL unnest(generate_series(0, 3)) s(j)),
        |est AS (SELECT p.user_id, p.true_n, min(c.ct)::BIGINT AS cms_est
        |  FROM probe p JOIN cms c ON c.j = p.j AND c.col = p.col
        |  GROUP BY p.user_id, p.true_n)
        |SELECT user_id, true_n, cms_est,
        |  (cms_est - true_n)::BIGINT AS overcount
        |FROM est""".stripMargin),

    // W11: EXACT distributed quantiles WITHOUT a global sort — the
    // at-scale shape for percentile reporting over bounded-domain
    // measures (scores, prices, latencies in fixed units): quantize
    // the value to its exact cent grid, aggregate FREQUENCIES per
    // value (combinable; the shuffle is the value DOMAIN, ~10k rows,
    // not the row count), one cumulative window over that bounded
    // frequency table, and the p-th quantile is the first value whose
    // cumulative count covers index (n−1)·p/100 — the lower-quantile
    // definition, all integer. A full-sort quantile shuffles the
    // corpus; this shuffles the histogram. The oracle computes the
    // SAME answer by the OTHER algorithm (row_number over the full
    // sort), so a definition bug on either side cannot cancel out.
    SqlQ.split("w11_exact_quantile",
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY cents),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM f),
        |cum AS (SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cum FROM f),
        |pl AS (SELECT * FROM VALUES (50),(90),(99) AS t(p))
        |SELECT CAST(pl.p AS INT) AS p, min(cum.cents) AS q_cents,
        |  CAST(min(cum.cents) AS DOUBLE) / 100.0 AS q_value
        |FROM cum CROSS JOIN n CROSS JOIN pl
        |WHERE cum.cum >= ((n.n - 1) * pl.p) DIV 100 + 1
        |GROUP BY pl.p""".stripMargin,
      """WITH s AS (SELECT round(value * 100)::BIGINT AS cents,
        |    row_number() OVER (ORDER BY round(value * 100)::BIGINT) - 1 AS rn
        |  FROM events),
        |n AS (SELECT count(*)::BIGINT AS n FROM events),
        |pl AS (SELECT * FROM (VALUES (50),(90),(99)) t(p))
        |SELECT pl.p::INT AS p, s.cents AS q_cents,
        |  s.cents::DOUBLE / 100.0 AS q_value
        |FROM pl CROSS JOIN n JOIN s ON s.rn = ((n.n - 1) * pl.p) // 100""".stripMargin),

    // OTF dialect's isoweek(date) (analysis.py:143-145) →
    // weekofyear, ISO semantics in both engines.
    SqlQ.shared("a11_isoweek",
      """SELECT CAST(weekofyear(cast(ts as date)) AS INT) AS iso_week, count(*) AS n_events
        |FROM events GROUP BY weekofyear(cast(ts as date))
        |ORDER BY iso_week""".stripMargin),

    // J5: latest-unless-overridden version resolution over an inline
    // catalog (queries.py:790-813 semantics as one join).
    SqlQ.split("j5_version_override",
      """WITH versions AS (SELECT * FROM VALUES
        |    ('trees','v1',false),('trees','v2',true),
        |    ('cover','v2019',false),('cover','v2020',true),
        |    ('alerts','v3',true) AS t(dataset, version, is_latest)),
        |overrides AS (SELECT * FROM VALUES ('trees','v1') AS t(dataset, version)),
        |want AS (SELECT * FROM VALUES ('trees'),('cover'),('alerts') AS t(dataset))
        |SELECT w.dataset, coalesce(o.version, l.version) AS resolved
        |FROM want w
        |LEFT JOIN overrides o ON o.dataset = w.dataset
        |LEFT JOIN (SELECT dataset, version FROM versions WHERE is_latest) l
        |  ON l.dataset = w.dataset
        |ORDER BY w.dataset""".stripMargin,
      """WITH versions AS (SELECT * FROM (VALUES
        |    ('trees','v1',false),('trees','v2',true),
        |    ('cover','v2019',false),('cover','v2020',true),
        |    ('alerts','v3',true)) t(dataset, version, is_latest)),
        |overrides AS (SELECT * FROM (VALUES ('trees','v1')) t(dataset, version)),
        |want AS (SELECT * FROM (VALUES ('trees'),('cover'),('alerts')) t(dataset)),
        |l AS (SELECT dataset, version FROM versions WHERE is_latest)
        |SELECT w.dataset, coalesce(o.version, l.version) AS resolved
        |FROM want w
        |LEFT JOIN overrides o ON o.dataset = w.dataset
        |LEFT JOIN l ON l.dataset = w.dataset
        |ORDER BY w.dataset""".stripMargin)
  )

  /** W7: strict as-of join — last-touch attribution over the event
    * stream (each purchase attached to the user's latest strictly
    * earlier view). The Spark side is [[TemporalJoins.asofStrict]]
    * (one shuffle, union + running window — see its doc for the
    * at-scale argument); the oracle is a DIFFERENT algorithm, a
    * DuckDB LATERAL argmax per purchase, so a window-frame bug on
    * either side cannot cancel out. */
  private def asofAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("asof_key"),
        unix_micros(col("ts")).as("asof_t"),
        col("event_id").as("purchase_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("asof_key"),
        unix_micros(col("ts")).as("asof_t"),
        col("event_id").as("asof_tb"),
        struct(
          col("event_id").as("view_id"),
          unix_micros(col("ts")).as("view_us"),
          col("value").as("view_value")).as("asof_payload"))
    TemporalJoins.asofStrict(purchases, views)
      .select(col("purchase_id"),
        col("asof_key").as("user_id"),
        col("asof_t").as("purchase_us"),
        col("asof_match.view_id").as("view_id"),
        col("asof_match.view_us").as("view_us"),
        (col("asof_t") - col("asof_match.view_us")).as("gap_us"),
        col("asof_match.view_value").as("view_value"))
  }

  private val asofOracle: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id,
      |    epoch_us(ts) AS purchase_us
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id AS view_id, user_id AS v_user,
      |    epoch_us(ts) AS view_us, value AS view_value
      |  FROM events WHERE event_type = 'view')
      |SELECT p.purchase_id, p.user_id, p.purchase_us, m.view_id, m.view_us,
      |  p.purchase_us - m.view_us AS gap_us, m.view_value
      |FROM p LEFT JOIN LATERAL (
      |  SELECT view_id, view_us, view_value FROM v
      |  WHERE v.v_user = p.user_id AND v.view_us < p.purchase_us
      |  ORDER BY v.view_us DESC, v.view_id DESC LIMIT 1) m ON true""".stripMargin

  /** W8: range (interval containment) join — 48-hour report windows
    * centered on each active day, each event counted into every
    * window containing it (overlapping windows, so this is a genuine
    * interval join, not an equi-bucketing). The Spark side is
    * [[TemporalJoins.bucketRangeJoin]] at day granularity (fan-out 3
    * buckets per window); the oracle is the naive BETWEEN join. */
  private def rangeWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    val pts = ev.select(unix_micros(col("ts")).as("rj_t"), col("value"))
    val iv = ev.select(expr("unix_micros(ts) div 86400000000").as("day")).distinct()
      .select(col("day"),
        (col("day") * 86400000000L - 43200000000L).as("rj_lo"),
        (col("day") * 86400000000L + 129600000000L).as("rj_hi"))
    TemporalJoins.bucketRangeJoin(pts, iv, 86400000000L)
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,2)")).cast("double").as("total_value"))
      .select(col("day").cast("int").as("window_day"),
        col("n_events"), col("total_value"))
  }

  private val rangeOracle: String =
    """WITH e AS (SELECT epoch_us(ts) AS t, value FROM events),
      |d AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day FROM events),
      |i AS (SELECT day, day * 86400000000 - 43200000000 AS lo,
      |    day * 86400000000 + 129600000000 AS hi FROM d)
      |SELECT i.day::INT AS window_day, count(*)::BIGINT AS n_events,
      |  (sum(CAST(e.value AS DECIMAL(30,2))))::DOUBLE AS total_value
      |FROM i JOIN e ON e.t >= i.lo AND e.t < i.hi
      |GROUP BY i.day""".stripMargin

  /** S2: constraint-dedup append (`load_tabular_data.sh:59-73`
    * `INSERT … ON CONFLICT DO NOTHING` ≡ left-anti on the unique key
    * then append). Incoming batch = a slice of orders (all conflicting)
    * plus nothing new → result must equal the existing table.
    * At 100 TB the anti-join shuffles on the unique key; with the lake
    * bucketed by that key it is shuffle-free on the existing side. */
  private def dedupAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val existing = Tables.load(spark, sfDir, "orders")
    val incoming = existing.filter(col("o_orderkey") % 10 === 0)
    val fresh = incoming.join(existing, Seq("o_orderkey"), "left_anti")
    existing.unionByName(fresh)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("order_date"))
  }

  override def ops: Seq[Op] = sqls ++ Seq(
    Op("s2_dedup_append", dedupAppend,
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  cast(o_orderdate as date) AS order_date FROM orders""".stripMargin),
    Op("w7_asof_join", asofAttribution, asofOracle),
    Op("w8_range_join", rangeWindows, rangeOracle))
}
