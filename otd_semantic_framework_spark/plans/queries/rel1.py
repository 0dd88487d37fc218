"""Driver queries: `rel` domain (part 1)."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ._shared import *  # noqa: F401,F403


def q_rel_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bounded-memory heavy hitters over the documents token
    stream (operators/skew.py:heavy_hitters — per-partition Misra-Gries
    candidates + exact recount). The RESULT is exact (integer
    cross-multiplied threshold), so it pairs even though the candidate
    superset is partitioning-dependent."""
    from ...operators.skew import heavy_hitters
    toks = (_docs(spark, sf_dir)
            .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
            .filter(F.col("tok") != ""))
    return heavy_hitters(toks, "tok", HH_PHI_INV)


SQL_REL_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT tok, count(*) AS freq
FROM toks, tot
GROUP BY tok, tot.n
HAVING count(*) * {HH_PHI_INV} >= tot.n
"""


SQL_REL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_rel_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "lineitem")
    return spark.sql(SQL_REL_PRICING)


SQL_REL_NATION_REVENUE = """
SELECT n.n_name AS nation, r.r_name AS region,
       count(DISTINCT o.o_orderkey) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
"""


def q_rel_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders", "customer", "nation", "region")
    return spark.sql(SQL_REL_NATION_REVENUE)


SQL_REL_SEMI_ANTI = """
SELECT c.c_mktsegment AS segment,
       CAST(sum(CASE WHEN o.has_order THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
       CAST(sum(CASE WHEN o.has_order THEN 0 ELSE 1 END) AS BIGINT) AS without_orders
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey, true AS has_order FROM orders) o
  ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


def q_rel_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame path: real left_semi / left_anti joins (SURVEY.md §2B),
    # result reconciled to the portable SQL shape above.
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders").select(F.col("o_custkey")).distinct()
    semi = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("with_orders")))
    anti = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("without_orders")))
    return (c.select("c_mktsegment").distinct()
            .join(semi, "c_mktsegment", "left").join(anti, "c_mktsegment", "left")
            .select(F.col("c_mktsegment").alias("segment"),
                    F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
                    F.coalesce("without_orders", F.lit(0)).alias("without_orders")))


SQL_REL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_rel_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders")
    return spark.sql(SQL_REL_WINDOW_TOPK)


SQL_REL_ROLLUP = """
SELECT coalesce(l_returnflag, '<all>') AS returnflag,
       coalesce(l_linestatus, '<all>') AS linestatus,
       grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "lineitem")
    return spark.sql(SQL_REL_ROLLUP)


SQL_REL_SETOPS = """
SELECT src, cnt FROM (
  SELECT 'both' AS src, count(*) AS cnt FROM (
    SELECT p_brand FROM part WHERE p_size > 25
    INTERSECT
    SELECT p_brand FROM part WHERE p_retailprice > 1500
  )
  UNION ALL
  SELECT 'only_large' AS src, count(*) AS cnt FROM (
    SELECT p_brand FROM part WHERE p_size > 25
    EXCEPT
    SELECT p_brand FROM part WHERE p_retailprice > 1500
  )
  UNION ALL
  SELECT 'all_brands' AS src, count(*) AS cnt FROM (
    SELECT DISTINCT p_brand FROM part
  )
)
"""


def q_rel_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "part")
    return spark.sql(SQL_REL_SETOPS)


SQL_REL_STRINGS = """
SELECT p_brand,
       count(*) AS n,
       min(length(p_name)) AS min_name_len,
       max(upper(substring(p_type, 1, 5))) AS max_type_prefix,
       min(levenshtein(p_brand, 'Brand#11')) AS lev_to_b11,
       max(concat_ws('|', p_brand, cast(p_size AS STRING))) AS max_concat
FROM part
GROUP BY p_brand
"""


def q_rel_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "part")
    return spark.sql(SQL_REL_STRINGS)


def q_rel_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _tbl(spark, sf_dir, "orders")
    return (o.groupBy(F.unix_micros(F.date_trunc("month", "o_orderdate")).alias("month_us"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count_distinct("o_custkey").alias("n_customers")))


SQL_REL_MONTHLY_ORDERS = """
SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       count(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1
"""


def q_rel_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _tbl(spark, sf_dir, "events")
    return (e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("k"), 6).alias("avg_k"),
                 F.max("k").alias("max_k"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


SQL_REL_JSON = """
SELECT event_type,
       count(*) AS n,
       round(avg(cast(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
       max(cast(json_extract_string(props, '$.k') AS INT)) AS max_k,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY event_type
"""


def q_rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native session_window (batch mode) vs DuckDB gaps-and-islands."""
    e = _tbl(spark, sf_dir, "events")
    return (e.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("session_value"))
            .select("user_id",
                    F.unix_micros(F.col("w.start").cast("timestamp")).alias("session_start_us"),
                    "n_events", "session_value"))


SQL_REL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events, round(sum(value), 4) AS session_value
FROM sessions GROUP BY user_id, session_id
"""


# 200k day buckets = a 547-year calendar span, a hard physical bound on
# the carry table's cardinality (it is keyed by distinct DAYS, not rows —
# 10^12 rows still yield only span-many buckets).
def q_rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY.md §2B): for each event, the latest order ts at
    or before it — no native as-of in Spark SQL, so: deterministic
    day-bucketed two-pass union+window (VERDICT r4 item 2 replaced the
    sampled repartitionByRange + eager localCheckpoint pin + pid
    collect: range identity now comes from `datediff(ts, epoch)` — a
    pure calendar column function (no unix conversion: the input is
    TIMESTAMP_NTZ and must stay timezone-free) — so the carry pass and
    the window pass agree
    on partition identity BY CONSTRUCTION — nothing to pin, nothing to
    collect, zero extra materialization of the input).

    Shape at scale: unionByName -> running last(o_ts) window partitioned
    by epoch-day bucket (equal ts never straddles a bucket boundary, and
    each day runs as an independent parallel task). Cross-bucket carry:
    per-bucket max(o_ts) is one tiny hash agg (≤ calendar-span rows —
    the explicit .limit(ASOF_MAX_BUCKETS) states that invariant in the
    plan itself, which also lets the repo-wide plan gate PROVE the
    prefix-max window's input bounded), prefix-maxed over bucket order
    with an exclusive frame, broadcast back; coalesce(local_last,
    carry_ts) is exact because buckets are ts-ordered."""
    e = _tbl(spark, sf_dir, "events").select(
        "event_id", "ts", F.lit(1).alias("is_event"),
        F.lit(None).cast("timestamp").alias("o_ts"))
    o = _tbl(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("ts"), F.lit(0).alias("is_event"),
        F.col("o_orderdate").alias("o_ts"))
    raw = F.datediff(F.to_date("ts"),
                     F.to_date(F.lit("1970-01-01"))).cast("long")
    # Loud envelope guard (r5 review): the downstream
    # .limit(ASOF_MAX_BUCKETS) would SILENTLY drop buckets — and with
    # them every event they hold — if the 547-year day-span invariant
    # were ever violated (think year-9999 sentinel dates across a
    # 600-year spread). raise_error on any out-of-envelope day makes the
    # violation fail the job instead, and proves the limit inert: at
    # most ASOF_MAX_BUCKETS distinct in-envelope days exist. One scalar
    # comparison per row, no extra shuffle.
    bkt = F.when(
        (raw >= ASOF_BUCKET_MIN)
        & (raw < ASOF_BUCKET_MIN + ASOF_MAX_BUCKETS), raw) \
        .otherwise(F.raise_error(F.concat(
            F.lit("rel_asof_join: ts outside the bucket envelope "
                  "(day offset "), raw.cast("string"), F.lit(")"))))
    u = e.unionByName(o).withColumn("bkt", bkt)
    # carry[b] = max o_ts over all buckets strictly before b
    per = (u.groupBy("bkt").agg(F.max("o_ts").alias("bkt_max"))
           .limit(ASOF_MAX_BUCKETS))
    wc = (Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    carry = per.select(
        "bkt", F.max("bkt_max").over(wc).alias("carry_ts"))
    w = (Window.partitionBy("bkt").orderBy("ts", "is_event")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (u
            .withColumn("local_last",
                        F.last("o_ts", ignorenulls=True).over(w))
            .filter(F.col("is_event") == 1)
            .join(F.broadcast(carry), "bkt")
            .select("event_id",
                    F.unix_micros(F.coalesce("local_last", "carry_ts"))
                    .alias("asof_order_us")))


SQL_REL_ASOF = """
SELECT e.event_id,
       epoch_us((SELECT max(o.o_orderdate) FROM orders o
                 WHERE o.o_orderdate <= e.ts)) AS asof_order_us
FROM events e
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators over documents / embeddings
# ---------------------------------------------------------------------------

def q_rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (DataFrame.unpivot / melt): per-returnflag
    aggregate metrics unpivoted to (l_returnflag, metric, value)."""
    li = _tbl(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"))
    return wide.unpivot(["l_returnflag"],
                        ["sum_qty", "sum_price", "avg_disc"],
                        "metric", "value")


SQL_REL_UNPIVOT = """
WITH wide AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(avg(l_discount), 6) AS avg_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide
UNION ALL
SELECT l_returnflag, 'avg_disc' AS metric, avg_disc AS value FROM wide
"""


SQL_REL_PERCENTILES = """
SELECT l_returnflag,
  round(median(l_quantity), 6) AS med_qty,
  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
  round(quantile_cont(l_extendedprice, 0.25), 6) AS q1_price,
  round(quantile_cont(l_discount, 0.75), 6) AS q3_disc
FROM lineitem GROUP BY l_returnflag
"""


def q_rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles / median (SURVEY §2B aggregations).
    Spark's exact `percentile` matches DuckDB's `quantile_cont` (linear
    interpolation); at 10^12 rows you'd switch to `approx_percentile`
    (t-digest, one pass, mergeable) — paired here via the exact form."""
    li = _tbl(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("med_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("q1_price"),
        F.round(F.expr("percentile(l_discount, 0.75)"), 6).alias("q3_disc")))


# One SQL string serves BOTH engines (Spark temp views + DuckDB views):
# scalar subquery (avg benchmark), correlated EXISTS, uncorrelated IN —
# Catalyst decorrelates these into joins (SURVEY §4 "subquery
# decorrelation: free").
SQL_REL_SUBQUERIES = """
WITH tot AS (
  SELECT o_custkey, sum(o_totalprice) AS total
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, round(t.total, 2) AS total_spend
FROM customer c JOIN tot t ON c.c_custkey = t.o_custkey
WHERE t.total > (SELECT 1.5 * avg(total) FROM tot)
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey < 3)
"""


def q_rel_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(SQL_REL_SUBQUERIES)


def q_rel_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 two-phase salted aggregation, driver-paired: the oracle is
    the plain single-phase GROUP BY — salting must be result-invariant
    (partial by (key, salt), merge by key; counts merge by summing)."""
    from ...operators.skew import salted_agg
    o = _tbl(spark, sf_dir, "orders")
    out = salted_agg(o, ["o_orderstatus"], {
        "n_orders": ("count", "o_orderkey"),
        "max_price": ("max", "o_totalprice"),
        "sum_price": ("sum", "o_totalprice"),
    }, n_salt=16)
    return out.select(
        F.col("o_orderstatus").alias("status"), "n_orders",
        F.round("max_price", 2).alias("max_price"),
        F.round("sum_price", 2).alias("sum_price"))


SQL_REL_SALTED_AGG = """
SELECT o_orderstatus AS status,
       count(o_orderkey) AS n_orders,
       round(max(o_totalprice), 2) AS max_price,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY o_orderstatus
"""


SQL_REL_STATS_AGG = """
SELECT l_returnflag AS flag,
       round(corr(l_discount, l_tax), 6) + 0.0 AS corr_disc_tax,
       round(covar_samp(l_discount, l_tax), 6) + 0.0 AS covar_disc_tax,
       round(stddev_samp(l_discount), 6) + 0.0 AS sd_disc,
       round(var_samp(l_tax), 6) + 0.0 AS var_tax,
       round(regr_slope(l_discount, l_tax), 6) + 0.0 AS slope,
       round(regr_intercept(l_discount, l_tax), 6) + 0.0 AS intercept,
       round(regr_r2(l_discount, l_tax), 6) + 0.0 AS r2
FROM lineitem GROUP BY l_returnflag
"""


def q_rel_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (correlation, sample covariance/stddev/
    variance, linear-regression slope/intercept/R²) — shared SQL, both
    engines implement the textbook definitions."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(SQL_REL_STATS_AGG)


SQL_REL_GROUPING_SETS = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_prio,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize)
    with grouping() indicators — shared SQL in both dialects."""
    _views(spark, sf_dir, "orders")
    return spark.sql(SQL_REL_GROUPING_SETS)


SQL_REL_LATERAL = """
SELECT c.c_custkey, t.o_orderkey AS top_order,
       round(t.o_totalprice, 2) AS top_price
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1) t
WHERE c.c_custkey < 100
"""


def q_rel_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table (top order per customer) —
    Catalyst decorrelates it into a ranked join; the bounded customer
    subset keeps the query small while exercising the operator. At
    scale the equivalent per-group top-k is the window-rank pattern
    (rel_window_topk), which this must agree with semantically."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(SQL_REL_LATERAL)


# The windowed sum runs over integer cents: double sums over sliding
# windows associate differently per engine (Spark running-accumulate vs
# DuckDB segment tree), which flipped 6dp rounding on ~0.01% of rows at
# sf0.1. Integer addition is associative, so the window math is exact
# and sum/avg derive from one stable quantity.
SQL_REL_RANGE_FRAME = """
SELECT event_id,
       count(*) OVER w AS n_last_hour,
       round(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w
             / CAST(100 AS DOUBLE), 2) AS sum_last_hour,
       round(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w
             / (CAST(100 AS DOUBLE) * count(*) OVER w), 6) AS avg_last_hour
FROM events
WINDOW w AS (PARTITION BY date_trunc('day', ts) ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def q_rel_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE window frame (trailing 1 hour per event) —
    the window-frame flavor rel_window_analytics doesn't cover. Day
    partitioning keeps the sort partition-local at scale (the trailing
    window truncates at day boundaries by design — a scale-sane
    convention; the exact cross-boundary variant is rel_range_join)."""
    _views(spark, sf_dir, "events")
    return spark.sql(SQL_REL_RANGE_FRAME)


def q_rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() — DuckDB oracle uses conditional aggregation."""
    o = _tbl(spark, sf_dir, "orders")
    piv = (o.groupBy("o_orderstatus")
           .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
           .agg(F.count(F.lit(1))))
    return piv.select(
        F.col("o_orderstatus").alias("status"),
        F.coalesce(F.col("`1-URGENT`"), F.lit(0)).alias("urgent_n"),
        F.coalesce(F.col("`2-HIGH`"), F.lit(0)).alias("high_n"),
        F.coalesce(F.col("`3-MEDIUM`"), F.lit(0)).alias("medium_n"))


SQL_REL_PIVOT = """
SELECT o_orderstatus AS status,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_n,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_n,
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium_n
FROM orders GROUP BY o_orderstatus
"""


SQL_REL_WINDOW_ANALYTICS = """
SELECT o_custkey, o_orderkey,
       dense_rank() OVER w AS drk,
       ntile(4) OVER w AS quartile,
       round(o_totalprice - lag(o_totalprice, 1, 0.0) OVER w, 2) + 0.0 AS diff_prev,
       round(nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS second_price,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q_rel_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders")
    return spark.sql(SQL_REL_WINDOW_ANALYTICS)


def q_rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/interval join at scale (SURVEY §2B; VERDICT r1 #6): for
    each event, count the OTHER events in the preceding hour — the full
    table, no row bound. The epoch-hour equi-conjunct (probe side
    exploded to its 2 covering buckets; each prior event lands in
    exactly one, so no double counting) lets Spark plan a shuffled HASH
    join with the range predicate as residual instead of a
    broadcast-nested-loop over the whole table (plan-asserted in
    tests/test_plans.py). The DuckDB oracle runs its native IEJoin on
    the pure range predicate — same result, independent plan."""
    e = _tbl(spark, sf_dir, "events").select("event_id", "ts")
    hour = F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("long")
    probe = e.select(
        "event_id", "ts",
        F.explode(F.array(hour, hour - 1)).alias("bkt"))
    build = e.select(F.col("event_id").alias("p_id"),
                     F.col("ts").alias("p_ts"), hour.alias("p_bkt"))
    joined = probe.join(
        build,
        (F.col("bkt") == F.col("p_bkt"))
        & (F.col("p_ts") <= F.col("ts"))
        & (F.col("p_ts") > F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_id") != F.col("event_id")),
        "left")
    return (joined.groupBy("event_id")
            .agg(F.count("p_id").alias("n_prior_1h")))


SQL_REL_RANGE_JOIN = """
SELECT e.event_id, count(p.event_id) AS n_prior_1h
FROM events e
LEFT JOIN events p
  ON p.ts <= e.ts AND p.ts > e.ts - INTERVAL 1 HOUR
 AND p.event_id != e.event_id
GROUP BY e.event_id
"""


def q_rel_datefns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.datediff(F.lit("2025-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days_to_2025"),
        F.unix_micros(F.date_trunc("week", "o_orderdate")).alias("week_us"),
    )


SQL_REL_DATEFNS = """
SELECT o_orderkey,
       year(o_orderdate) AS yr,
       month(o_orderdate) AS mo,
       day(o_orderdate) AS dom,
       date_diff('day', cast(o_orderdate AS DATE), DATE '2025-01-01') AS days_to_2025,
       epoch_us(date_trunc('week', o_orderdate)) AS week_us
FROM orders
"""


def q_rel_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _tbl(spark, sf_dir, "customer")
    n = _tbl(spark, sf_dir, "nation")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|")
                 .alias("segments"),
                 F.count(F.lit(1)).alias("n_customers")))


SQL_REL_COLLECT_LIST = """
SELECT n.n_name, array_to_string(list_sort(list(DISTINCT c.c_mktsegment)), '|') AS segments,
       count(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


SQL_REL_CUBE = """
SELECT coalesce(l_returnflag, '<all>') AS returnflag,
       coalesce(l_linestatus, '<all>') AS linestatus,
       grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
       count(*) AS n,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "lineitem")
    return spark.sql(SQL_REL_CUBE)


SQL_REL_MISC_FNS = """
SELECT p_partkey,
       format_string('%s/%02d', p_brand, cast(p_size AS INT)) AS brand_size,
       repeat(substring(p_brand, 1, 2), 2) AS rep2,
       reverse(p_brand) AS rev,
       position('#' IN p_brand) AS hash_pos,
       greatest(p_size, 25) AS size_floor,
       least(cast(floor(p_retailprice) AS INT), 1500) AS price_cap,
       round(log(2.0, cast(p_size + 1 AS DOUBLE)), 6) AS log2_size,
       round(pow(p_size, 0.5), 6) AS sqrt_size,
       cast(p_size % 5 AS INT) AS size_mod
FROM part
"""

# DuckDB dialect variant: format_string -> printf, position syntax shared
def q_rel_misc_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "part")
    return spark.sql(SQL_REL_MISC_FNS)


SQL_REL_ARRAY_FNS = """
SELECT doc_id,
       element_at(toks, 1) AS first_tok,
       element_at(toks, len) AS last_tok,
       len AS n_toks,
       array_contains(toks, 'the') AS has_the,
       size(filter(toks, t -> length(t) > 5)) AS n_long
FROM (
  SELECT doc_id, toks, size(toks) AS len
  FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents)
) WHERE len > 0
"""

def q_rel_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "documents")
    return spark.sql(SQL_REL_ARRAY_FNS)


# ---------------------------------------------------------------------------
# Round-3 tail: graph analytics over the KG (PageRank, concept lift),
# retrieval + LM curation scoring (BM25, bigram perplexity), and
# streaming incremental KG construction.
# ---------------------------------------------------------------------------

def q_rel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (operators/profile.py): one
    aggregation over one scan computes n / nulls / distinct / min /
    max / exact median for every requested column, unpivoted
    driver-free. Oracle: per-column UNION ALL of the same aggregates."""
    from ...operators.profile import profile_columns
    return profile_columns(_tbl(spark, sf_dir, "lineitem"), PROFILE_COLS)


def _sql_rel_profile() -> str:
    parts = [f"""
SELECT '{c}' AS col_name, count(*) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       round(CAST(min({c}) AS DOUBLE), 6) AS min_v,
       round(CAST(max({c}) AS DOUBLE), 6) AS max_v,
       round(quantile_cont({c}, 0.5), 6) AS median_v
FROM lineitem""" for c in PROFILE_COLS]
    return "\nUNION ALL\n".join(parts)


def q_rel_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD dimension history from the events change stream
    (operators/agentstats.py:scd2_history): gaps-and-islands collapse of
    consecutive identical event_type per user, half-open validity
    intervals via lead(), deterministic (ts, event_id) tiebreak."""
    from ...operators.agentstats import scd2_history
    return scd2_history(_tbl(spark, sf_dir, "events"),
                        key_col="user_id", attr_col="event_type",
                        ts_col="ts", tiebreak_col="event_id")


SQL_REL_SCD2 = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       epoch_us(ts) AS eff_from_us,
       epoch_us(lead(ts) OVER w) AS eff_to_us,
       CAST(row_number() OVER w AS BIGINT) AS version,
       CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_rel_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic over the mention surfaces — the naturally
    skewed key in this corpus (operators/skew.py:skew_profile)."""
    from ...operators.skew import skew_profile
    return skew_profile(_mentions_df(spark, sf_dir), "surface")


SQL_REL_SKEW_PROFILE = f"""
WITH {_MENTIONS_CTE},
counts AS (SELECT surface AS key, count(*) AS n_rows
           FROM mentions GROUP BY surface),
total AS (SELECT count(*) AS _total FROM mentions),
top AS (
  SELECT key, n_rows,
         CAST(row_number() OVER (ORDER BY n_rows DESC, key ASC) AS INT)
           AS rank
  FROM counts
  ORDER BY n_rows DESC, key ASC LIMIT 10
)
SELECT t.key, t.n_rows, t.rank,
       CAST(floor((t.n_rows * 1000000) / tt._total) AS BIGINT) AS share_ppm
FROM top t, total tt
"""


def q_rel_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of-version) join: each event looks up the SCD2
    dimension version (rel_scd2) valid AT its timestamp — the
    training-data / feature-store correctness join that prevents
    leakage from future attribute values. Equi-join on the key plus a
    half-open interval predicate; the per-key version list is small, so
    the range conjunct filters a handful of candidate rows after the
    hash join (never a BNL: the equi key carries the join).

    Each event matches EXACTLY one version by construction (the
    intervals partition [first_event_ts, inf) per user), pinned in
    tests/test_agentstats.py."""
    from ...operators.agentstats import scd2_history
    ev = _tbl(spark, sf_dir, "events")
    dim = scd2_history(ev, key_col="user_id", attr_col="event_type",
                       ts_col="ts", tiebreak_col="event_id")
    e = ev.select("event_id", "user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("ts_us"))
    return (e.join(dim, (e.user_id == dim.user_id)
                   & (e.ts_us >= dim.eff_from_us)
                   & (dim.eff_to_us.isNull()
                      | (e.ts_us < dim.eff_to_us)))
            .select("event_id", e.user_id.alias("user_id"), "ts_us",
                    F.col("event_type").alias("type_at_ts"), "version",
                    "eff_from_us"))


SQL_REL_PIT_JOIN = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
dim AS (
  SELECT user_id, event_type,
         epoch_us(ts) AS eff_from_us,
         epoch_us(lead(ts) OVER w) AS eff_to_us,
         CAST(row_number() OVER w AS BIGINT) AS version
  FROM changes
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       d.event_type AS type_at_ts, d.version, d.eff_from_us
FROM events e
JOIN dim d ON e.user_id = d.user_id
          AND epoch_us(e.ts) >= d.eff_from_us
          AND (d.eff_to_us IS NULL OR epoch_us(e.ts) < d.eff_to_us)
"""


def q_rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: earliest view,
    first click strictly after it, first purchase strictly after that —
    per-step user counts + exact-integer conversion ratios. All steps
    are keyed equi-joins + hash aggs on user_id (map-side partial);
    the final combine is a grouping-free Aggregate (exactly one row),
    so no window and nothing partitionless touches unbounded data."""
    e = _tbl(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") > F.col("t2"))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    funnel = (v.join(c.select("user_id", "t2"), "user_id", "left")
              .join(p.select("user_id", "t3"), "user_id", "left")
              .agg(F.count("t1").alias("n_view"),
                   F.count("t2").alias("n_click"),
                   F.count("t3").alias("n_purchase")))
    return funnel.select(
        "n_view", "n_click", "n_purchase",
        F.expr("CASE WHEN n_view > 0 THEN (n_click * 1000000) DIV n_view"
               " ELSE 0 END").cast("long").alias("click_conv_ppm"),
        F.expr("CASE WHEN n_click > 0 THEN (n_purchase * 1000000) DIV"
               " n_click ELSE 0 END").cast("long").alias("purchase_conv_ppm"),
        F.expr("CASE WHEN n_view > 0 THEN (n_purchase * 1000000) DIV n_view"
               " ELSE 0 END").cast("long").alias("overall_conv_ppm"))


SQL_REL_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
),
j AS (
  SELECT v.user_id, v.t1, c.t2, p.t3
  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
),
agg AS (
  SELECT count(t1) AS n_view, count(t2) AS n_click,
         count(t3) AS n_purchase
  FROM j
)
SELECT n_view, n_click, n_purchase,
       CAST(CASE WHEN n_view > 0 THEN (n_click * 1000000) // n_view
                 ELSE 0 END AS BIGINT) AS click_conv_ppm,
       CAST(CASE WHEN n_click > 0 THEN (n_purchase * 1000000) // n_click
                 ELSE 0 END AS BIGINT) AS purchase_conv_ppm,
       CAST(CASE WHEN n_view > 0 THEN (n_purchase * 1000000) // n_view
                 ELSE 0 END AS BIGINT) AS overall_conv_ppm
FROM agg
"""


def q_rel_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution functions per nation: rank, quartile
    (ntile), and exact-integer percent-rank / cume-dist in ppm over
    customers ordered by balance. The ordering key is made total with
    the custkey tiebreak, so pct/cume reduce to pure rank arithmetic —
    identical BIGINT math on both engines, no float window funcs. All
    windows are PARTITIONED BY nation (bounded per key)."""
    c = _tbl(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    wn = Window.partitionBy("c_nationkey")
    return (c.select("c_custkey", "c_nationkey", "c_acctbal")
            .withColumn("rnk", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .withColumn("quartile", F.ntile(4).over(w))
            .select("c_custkey", "c_nationkey", "c_acctbal",
                    F.col("rnk").cast("long").alias("rnk"),
                    F.col("quartile").cast("long").alias("quartile"),
                    F.expr("CASE WHEN n > 1 THEN (rnk - 1) * 1000000"
                           " DIV (n - 1) ELSE 0 END").cast("long")
                    .alias("pct_rank_ppm"),
                    F.expr("rnk * 1000000 DIV n").cast("long")
                    .alias("cume_ppm")))


SQL_REL_WINDOW_DIST = """
WITH r AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         row_number() OVER w AS rnk,
         count(*) OVER (PARTITION BY c_nationkey) AS n,
         ntile(4) OVER w AS quartile
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC)
)
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(quartile AS BIGINT) AS quartile,
       CAST(CASE WHEN n > 1 THEN (rnk - 1) * 1000000 // (n - 1)
                 ELSE 0 END AS BIGINT) AS pct_rank_ppm,
       CAST(rnk * 1000000 // n AS BIGINT) AS cume_ppm
FROM r
"""


def q_rel_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert histogram for the view->click->purchase funnel:
    per-user end-to-end latency in 10-minute bands (capped at 48),
    band counts, and the cumulative converted share in exact ppm. The
    cumulative window is partitionless BUT runs after orderBy+limit
    over the band table (<= 49 rows by construction) — the
    GlobalLimit proves the input bounded, same shape the repo-wide
    plan gate requires."""
    e = _tbl(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id").filter(F.col("ts") > F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2"),
                                 F.first("t1").alias("t1")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id").filter(F.col("ts") > F.col("t2"))
         .groupBy("user_id").agg(F.min("ts").alias("t3"),
                                 F.first("t1").alias("t1")))
    lat = p.select(
        (F.unix_timestamp("t3") - F.unix_timestamp("t1")).alias("secs"))
    bands = (lat.select(F.least(F.expr("secs DIV 600"), F.lit(48))
                        .cast("int").alias("band"))
             .groupBy("band").agg(F.count(F.lit(1)).alias("n_users"))
             .orderBy("band").limit(49))
    wcum = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    total = bands.agg(F.sum("n_users").alias("total"))
    return (bands
            .withColumn("cum_users", F.sum("n_users").over(wcum))
            .crossJoin(F.broadcast(total))
            .select("band", "n_users",
                    F.col("cum_users").cast("long").alias("cum_users"),
                    F.expr("cum_users * 1000000 DIV total").cast("long")
                    .alias("cum_share_ppm")))


SQL_REL_FUNNEL_LATENCY = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2, any_value(v.t1) AS t1
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3, any_value(c.t1) AS t1
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
),
bands AS (
  SELECT least(CAST(epoch(t3) - epoch(t1) AS BIGINT) // 600, 48) AS band,
         count(*) AS n_users
  FROM p GROUP BY 1
),
tot AS (SELECT sum(n_users) AS total FROM bands)
SELECT CAST(band AS INTEGER) AS band, n_users,
       CAST(sum(n_users) OVER (ORDER BY band
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
       CAST(sum(n_users) OVER (ORDER BY band ROWS UNBOUNDED PRECEDING)
            * 1000000 // total AS BIGINT) AS cum_share_ppm
FROM bands, tot
"""


def q_rel_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    retained share at each week offset in exact ppm — the standard
    cohort triangle. Two hash aggs + one broadcast-able join on the
    cohort key; window-free, shuffle keys are (user) then
    (cohort_week, offset)."""
    e = _tbl(spark, sf_dir, "events")
    wk = (F.floor(F.unix_timestamp("ts") / (7 * 86400))).cast("long")
    act = (e.select("user_id", wk.alias("week")).distinct())
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    ret = (act.join(first, "user_id")
           .groupBy("cohort_week",
                    (F.col("week") - F.col("cohort_week"))
                    .cast("int").alias("week_offset"))
           .agg(F.count(F.lit(1)).alias("n_active")))
    return (ret.join(F.broadcast(sizes), "cohort_week")
            .select("cohort_week", "week_offset", "n_active",
                    "cohort_size",
                    F.expr("n_active * 1000000 DIV cohort_size")
                    .cast("long").alias("retained_ppm")))


SQL_REL_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
),
first AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM first GROUP BY 1
),
ret AS (
  SELECT f.cohort_week,
         CAST(a.week - f.cohort_week AS INTEGER) AS week_offset,
         count(*) AS n_active
  FROM act a JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
       CAST(r.n_active * 1000000 // s.cohort_size AS BIGINT)
         AS retained_ppm
FROM ret r JOIN sizes s USING (cohort_week)
"""


def q_rel_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (lang, source) quasi-identifier pair:
    group sizes, at-risk flag (n < k), and the share of DOCUMENTS whose
    equivalence class is below k in exact ppm — the governance read
    that must precede any per-group release of a corpus. Two hash aggs
    (group sizes, then the one-row risk rollup exploded back as a
    constant-size summary join); no windows."""
    g = (_docs(spark, sf_dir)
         .groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n")))
    tot = g.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("n") < KANON_K, F.col("n")).otherwise(0))
        .alias("n_risky"))
    return (g.crossJoin(F.broadcast(tot))
            .select("lang", "source", F.col("n").cast("long").alias("n"),
                    (F.col("n") < KANON_K).alias("is_risky"),
                    F.expr("n_risky * 1000000L DIV n_docs")
                    .cast("long").alias("risky_share_ppm")))


SQL_REL_KANON = f"""
WITH g AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
tot AS (
  SELECT sum(n) AS n_docs,
         sum(CASE WHEN n < {KANON_K} THEN n ELSE 0 END) AS n_risky
  FROM g)
SELECT g.lang, g.source, CAST(g.n AS BIGINT) AS n,
       g.n < {KANON_K} AS is_risky,
       CAST(t.n_risky * 1000000 // t.n_docs AS BIGINT) AS risky_share_ppm
FROM g, tot t
"""


# ---------------------------------------------------------------------------
# Wave 3: IC-similarity family completion, HITS, Bloom decontamination,
# SPARQL ASK, hash split audit, streaming windowed top-k.
# ---------------------------------------------------------------------------


def q_rel_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user runs of consecutive ACTIVE DAYS (the
    retention streak read). The classic date-minus-row_number trick —
    distinct (user, day), rank days within user, group by the
    island anchor day_sub(day, rn); every window is PARTITIONED BY
    user_id so the shape scales with users, never serializing one
    task. Output: per-user streak count, longest/total days, and the
    longest streak's start day (epoch days, exact integers)."""
    e = _tbl(spark, sf_dir, "events")
    days = (e.select("user_id", F.to_date("ts").alias("day")).distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    isl = (days.withColumn("rn", F.row_number().over(w))
           .withColumn("anchor", F.date_sub(F.col("day"), F.col("rn")))
           .groupBy("user_id", "anchor")
           .agg(F.count(F.lit(1)).alias("len"),
                F.min("day").alias("start")))
    best = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("start"))
    return (isl.withColumn("rk", F.row_number().over(best))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_streaks"),
                 F.max("len").cast("long").alias("longest_streak"),
                 F.sum("len").cast("long").alias("total_active_days"),
                 F.max(F.when(F.col("rk") == 1,
                              F.datediff(F.col("start"),
                                         F.lit("1970-01-01"))))
                 .cast("long").alias("longest_start_epoch_day")))


SQL_REL_ISLANDS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
isl AS (
  SELECT user_id, anch, count(*) AS len, min(day) AS start
  FROM (SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                 AS anch
        FROM days)
  GROUP BY user_id, anch),
rk AS (
  SELECT user_id, len, start,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start ASC) AS rk
  FROM isl)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS total_active_days,
       CAST(max(CASE WHEN rk = 1
                     THEN date_diff('day', DATE '1970-01-01', start) END)
            AS BIGINT) AS longest_start_epoch_day
FROM rk GROUP BY user_id
"""


def q_rel_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the value
    distributions of every event-type pair — the data-drift gate a
    training pipeline runs before trusting a new slice. Exact KS needs
    a global ordered scan (one partition at 10^12 rows), so this is
    the scale-correct binned variant: values map into 256 fixed
    min-max bins, per-(type, bin) counts aggregate map-side, the
     256-row-per-type cumulative window is PARTITIONED BY type, and
    D = max |cdf_a − cdf_b| in exact ppm over an equi-join of the two
    bounded cdf tables. Bin edges use one double multiply + divide in
    the same order on both engines, so IEEE bit-parity holds."""
    e = _tbl(spark, sf_dir, "events")
    rng = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = (e.crossJoin(F.broadcast(rng))
              .select("event_type",
                      F.least(F.lit(KS_BINS - 1),
                              F.floor((F.col("value") - F.col("lo"))
                                      * KS_BINS
                                      / (F.col("hi") - F.col("lo"))))
                      .cast("long").alias("bin")))
    cnt = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c"))
    w = (Window.partitionBy("event_type").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy("event_type")
    cdf = cnt.select("event_type", "bin",
                     F.sum("c").over(w).alias("cum"),
                     F.sum("c").over(tot).alias("n"))
    # bins with no rows for a type are absent from its cdf table; the
    # step function must still carry the previous cumulative value, so
    # densify against the full (type, bin) grid and forward-fill with
    # a max-over-prefix (cum is nondecreasing).
    types = cdf.select("event_type", "n").distinct()
    grid = types.crossJoin(
        spark.range(KS_BINS).select(F.col("id").alias("bin")))
    dense = (grid.join(cdf.select("event_type", "bin", "cum"),
                       ["event_type", "bin"], "left")
             .select("event_type", "bin", "n",
                     F.max("cum").over(w).alias("cum")))
    a = dense.select(F.col("event_type").alias("type_a"), "bin",
                     F.col("cum").alias("cum_a"), F.col("n").alias("n_a"))
    b = dense.select(F.col("event_type").alias("type_b"), "bin",
                     F.col("cum").alias("cum_b"), F.col("n").alias("n_b"))
    return (a.join(b, "bin")
            .filter(F.col("type_a") < F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(F.max(F.abs(F.expr("coalesce(cum_a, 0L) * 1000000 DIV n_a")
                             - F.expr("coalesce(cum_b, 0L) * 1000000"
                                      " DIV n_b")))
                 .cast("long").alias("ks_d_ppm"),
                 F.max("n_a").cast("long").alias("n_a"),
                 F.max("n_b").cast("long").alias("n_b")))


def _sql_rel_ks_drift() -> str:
    return f"""
WITH rng AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
binned AS (
  SELECT event_type,
         least({KS_BINS} - 1,
               CAST(floor((value - r.lo) * {KS_BINS} / (r.hi - r.lo))
                    AS BIGINT)) AS bin
  FROM events, rng r),
cnt AS (SELECT event_type, bin, count(*) AS c FROM binned GROUP BY 1, 2),
cdf AS (
  SELECT event_type, bin,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM cnt),
types AS (SELECT DISTINCT event_type, n FROM cdf),
grid AS (SELECT t.event_type, t.n, g.bin
         FROM types t CROSS JOIN
              (SELECT unnest(range(0, {KS_BINS})) AS bin) g),
dense AS (
  SELECT g.event_type, g.bin, g.n,
         max(c.cum) OVER (PARTITION BY g.event_type ORDER BY g.bin
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM grid g LEFT JOIN cdf c
    ON c.event_type = g.event_type AND c.bin = g.bin)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(max(abs(coalesce(a.cum, 0) * 1000000 // a.n
                    - coalesce(b.cum, 0) * 1000000 // b.n)) AS BIGINT)
         AS ks_d_ppm,
       CAST(max(a.n) AS BIGINT) AS n_a,
       CAST(max(b.n) AS BIGINT) AS n_b
FROM dense a JOIN dense b ON a.bin = b.bin
WHERE a.event_type < b.event_type
GROUP BY 1, 2
"""


def q_rel_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit per event type — the
    fraud/data-generation forensics read: observed digit shares in
    exact ppm against the Benford expectation (inlined as shared
    integer literals), with the absolute deviation. First digit =
    value / 10^floor(log10(value)) — both engines run the identical
    IEEE double ops in the same order. One hash agg + a per-type
    window over ≤9 rows; map-everything-else."""
    e = _tbl(spark, sf_dir, "events").filter(F.col("value") > 0)
    digit = F.floor(F.col("value")
                    / F.pow(F.lit(10.0),
                            F.floor(F.log10("value")))).cast("long")
    cnt = (e.select("event_type", digit.alias("digit"))
           .groupBy("event_type", "digit")
           .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("event_type")
    bexp = F.create_map(*[x for d, p in BENFORD_PPM.items()
                          for x in (F.lit(d), F.lit(p))])
    return (cnt.select("event_type", "digit",
                       F.col("n").cast("long").alias("n"),
                       F.expr("n * 1000000 DIV sum(n) OVER"
                              " (PARTITION BY event_type)")
                       .cast("long").alias("share_ppm"),
                       bexp[F.col("digit")].cast("long")
                       .alias("benford_ppm"))
            .withColumn("abs_dev_ppm",
                        F.abs(F.col("share_ppm")
                              - F.col("benford_ppm")).cast("long")))


def _sql_rel_benford() -> str:
    cases = " ".join(f"WHEN {d} THEN {p}"
                     for d, p in BENFORD_PPM.items())
    return f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(value / pow(10.0, floor(log10(value)))) AS BIGINT)
           AS digit
  FROM events WHERE value > 0),
cnt AS (SELECT event_type, digit, count(*) AS n FROM e GROUP BY 1, 2)
SELECT event_type, digit, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // sum(n) OVER (PARTITION BY event_type)
            AS BIGINT) AS share_ppm,
       CAST(CASE digit {cases} END AS BIGINT) AS benford_ppm,
       CAST(abs(n * 1000000 // sum(n) OVER (PARTITION BY event_type)
                - CASE digit {cases} END) AS BIGINT) AS abs_dev_ppm
FROM cnt
"""


def q_rel_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densify + gap-fill + linear interpolation — the
    resample step every metrics/feature pipeline needs before a model
    sees regularly-spaced input. Per user: daily observations (last
    event value of the day, arg-max by event_id — deterministic), a
    dense daily grid spanning the user's own observed range
    (sequence+explode — grid size is bounded by the span, never by the
    event count), forward-fill, and exact-integer linear
    interpolation: the blend weight is ppm integer
    (day−prev)·1e6 DIV (next−prev), interp = (prev·(1e6−w) +
    next·w) DIV 1e6 — no float arithmetic after the single
    floor(value·1e6) quantization both engines share, so distributed
    aggregation order can't perturb the hash.

    Scale shape: every window is PARTITIONED BY user_id (per-key
    series are the natural partition unit; hot users bound the task,
    not the stage), the grid explode is map-side, and the obs⋈grid
    join is keyed on (user_id, day). No global sorts, no driver state."""
    e = _tbl(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    obs = (e.groupBy("user_id", day.cast("long").alias("day"))
           .agg(F.floor(F.max_by("value", "event_id") * GAPFILL_PPM)
                .cast("long").alias("obs_ppm")))
    span = obs.groupBy("user_id").agg(F.min("day").alias("d0"),
                                      F.max("day").alias("d1"))
    grid = span.select("user_id",
                       F.explode(F.sequence("d0", "d1")).alias("day"))
    j = grid.join(obs, ["user_id", "day"], "left")
    wp = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_day = F.when(F.col("obs_ppm").isNotNull(), F.col("day"))
    f = j.select(
        "user_id", "day", "obs_ppm",
        F.last("obs_ppm", ignorenulls=True).over(wp).alias("ffill_ppm"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("prev_day"),
        F.first("obs_ppm", ignorenulls=True).over(wn).alias("next_ppm"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("next_day"))
    f = f.withColumn(
        "frac_ppm",
        F.when(F.col("next_day") == F.col("prev_day"),
               F.lit(0).cast("long"))
        .otherwise(F.expr(
            "(day - prev_day) * 1000000 DIV (next_day - prev_day)")))
    return f.select(
        "user_id",
        F.col("day").cast("long").alias("day"),
        "obs_ppm", "ffill_ppm",
        F.expr("(ffill_ppm * (1000000 - frac_ppm) + next_ppm * frac_ppm)"
               " DIV 1000000").alias("interp_ppm"),
        F.col("obs_ppm").isNull().cast("long").alias("is_gap"))


SQL_REL_GAPFILL = f"""
WITH obs AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         CAST(floor(arg_max(value, event_id) * {GAPFILL_PPM}) AS BIGINT)
           AS obs_ppm
  FROM events GROUP BY 1, 2),
span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
         FROM obs GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span),
j AS (SELECT g.user_id, g.day, o.obs_ppm
      FROM grid g LEFT JOIN obs o USING (user_id, day)),
f AS (
  SELECT user_id, day, obs_ppm,
         last_value(obs_ppm IGNORE NULLS) OVER wp AS ffill_ppm,
         last_value(CASE WHEN obs_ppm IS NOT NULL THEN day END
                    IGNORE NULLS) OVER wp AS prev_day,
         first_value(obs_ppm IGNORE NULLS) OVER wn AS next_ppm,
         first_value(CASE WHEN obs_ppm IS NOT NULL THEN day END
                     IGNORE NULLS) OVER wn AS next_day
  FROM j
  WINDOW wp AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, CAST(day AS BIGINT) AS day, obs_ppm, ffill_ppm,
       CAST((ffill_ppm * ({GAPFILL_PPM} - frac_ppm)
             + next_ppm * frac_ppm) // {GAPFILL_PPM} AS BIGINT)
         AS interp_ppm,
       CAST(CASE WHEN obs_ppm IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_gap
FROM (SELECT *,
             CASE WHEN next_day = prev_day THEN 0
                  ELSE (day - prev_day) * {GAPFILL_PPM}
                       // (next_day - prev_day) END AS frac_ppm
      FROM f)
"""


def q_rel_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type — where did this
    metric's level shift? Daily means in exact ppm (integer DIV of the
    per-day floor(value·1e6) sum), deviations from the type's mean of
    daily means, cumulative-sum under a type-partitioned window, and
    the changepoint is the day of max |CUSUM| (ties → earliest day).
    The textbook offline CUSUM estimator, integer end to end; every
    window partitions by event_type, so the per-type series is the
    task unit at any scale."""
    e = _tbl(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    daily = (e.groupBy("event_type", day.cast("long").alias("day"))
             .agg(F.expr("sum(cast(floor(value * 1000000) AS BIGINT))"
                         " DIV count(*)").alias("mean_ppm")))
    wt = Window.partitionBy("event_type")
    wc = (Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (daily
         .withColumn("gm_ppm", F.expr(
             "sum(mean_ppm) OVER (PARTITION BY event_type)"
             " DIV count(*) OVER (PARTITION BY event_type)"))
         .withColumn("cusum", F.sum(F.col("mean_ppm") - F.col("gm_ppm"))
                     .over(wc))
         .withColumn("n_days", F.count(F.lit(1)).over(wt)))
    wr = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), F.asc("day"))
    return (c.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") == 1)
            .select("event_type", F.col("day").alias("cp_day"),
                    F.col("cusum").cast("long").alias("cusum_at_cp"),
                    F.abs(F.col("cusum")).cast("long")
                    .alias("max_abs_cusum"),
                    F.col("n_days").cast("long").alias("n_days")))


SQL_REL_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         sum(CAST(floor(value * 1000000) AS BIGINT)) // count(*)
           AS mean_ppm
  FROM events GROUP BY 1, 2),
c AS (
  SELECT event_type, day, mean_ppm,
         sum(mean_ppm) OVER (PARTITION BY event_type)
           // count(*) OVER (PARTITION BY event_type) AS gm_ppm,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily),
cs AS (
  SELECT event_type, day, n_days,
         sum(mean_ppm - gm_ppm) OVER (PARTITION BY event_type
                                      ORDER BY day
                                      ROWS UNBOUNDED PRECEDING) AS cusum
  FROM c)
SELECT event_type, day AS cp_day,
       CAST(cusum AS BIGINT) AS cusum_at_cp,
       CAST(abs(cusum) AS BIGINT) AS max_abs_cusum,
       CAST(n_days AS BIGINT) AS n_days
FROM (SELECT event_type, day, cusum, n_days,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, day ASC) AS rk
      FROM cs)
WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Round-4 wave 9: concurrency profile, deterministic walk corpus,
# canonical doc per dup-cluster
# ---------------------------------------------------------------------------

def q_rel_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency profile per event type — "how many sessions
    were active at once, and when?", the capacity-planning read. Each
    event is active for a 10-minute TTL; concurrency is evaluated at
    minute resolution, which makes this the SCALE-CORRECT variant: the
    textbook sweep-line (+1/−1 ordered scan) is a total order per type
    — one task per type at 10^12 rows — whereas the minute grid is a
    map-side ×10 explode into a (type, minute) keyed agg, bounded by
    the time span, and the per-type argmax window runs over at most
    span-minutes rows. Earliest-minute tie-break keeps the peak
    deterministic."""
    e = _tbl(spark, sf_dir, "events")
    # tz-free epoch minutes: NTZ timestamps decompose into date + clock
    # parts identically on both engines (no session-timezone coupling)
    m0 = (F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
          .cast("long") * 1440
          + F.hour("ts").cast("long") * 60 + F.minute("ts").cast("long"))
    act = e.select(
        "event_type",
        F.explode(F.sequence(m0, m0 + F.lit(CONC_TTL_MIN - 1)))
        .alias("minute"))
    cnt = (act.groupBy("event_type", "minute")
           .agg(F.count(F.lit(1)).alias("active")))
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("active"), F.asc("minute"))
    return (cnt.withColumn("n_minutes", F.count(F.lit(1)).over(wt))
            .withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") == 1)
            .select("event_type",
                    F.col("minute").cast("long").alias("peak_minute"),
                    F.col("active").cast("long").alias("peak_active"),
                    F.col("n_minutes").cast("long").alias("n_minutes")))


SQL_REL_CONCURRENCY = f"""
WITH act AS (
  SELECT event_type,
         unnest(generate_series(m0, m0 + {CONC_TTL_MIN - 1})) AS minute
  FROM (SELECT event_type,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) * 1440
               + CAST(hour(ts) AS BIGINT) * 60
               + CAST(minute(ts) AS BIGINT) AS m0
        FROM events)),
cnt AS (SELECT event_type, minute, count(*) AS active
        FROM act GROUP BY 1, 2)
SELECT event_type, CAST(minute AS BIGINT) AS peak_minute,
       CAST(active AS BIGINT) AS peak_active,
       CAST(n_minutes AS BIGINT) AS n_minutes
FROM (SELECT event_type, minute, active,
             count(*) OVER (PARTITION BY event_type) AS n_minutes,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY active DESC, minute ASC) AS rk
      FROM cnt)
WHERE rk = 1
"""


def q_rel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection (median / MAD, the textbook
    3-sigma-equivalent rule |x - med| > 3·1.4826·MAD) on event values.
    Exact integers end to end: values in doubled micro-units so both
    engines' linear-interpolated medians land on integers (midpoint of
    two even bigints), and the outlier predicate cross-multiplies
    (dev2·10000 > 22239·mad4) instead of dividing. Three passes over
    events (median, MAD, flag) — each a hash agg + broadcast join of a
    type-cardinality-sized table back onto the scan; at 100 TB swap
    the exact percentile for approx_percentile and keep the shape."""
    e = _tbl(spark, sf_dir, "events")
    v = e.select("event_type", F.expr(
        "2 * CAST(floor(value * 1000000) AS BIGINT)").alias("v2"))
    g1 = v.groupBy("event_type").agg(
        F.expr("CAST(percentile(v2, 0.5) AS BIGINT)").alias("med2"),
        F.count(F.lit(1)).alias("n"))
    d = (v.join(F.broadcast(g1), "event_type")
         .withColumn("dev2", F.abs(F.col("v2") - F.col("med2"))))
    g2 = d.groupBy("event_type").agg(
        F.expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)").alias("mad4"))
    return (d.join(F.broadcast(g2), "event_type")
            .groupBy("event_type")
            .agg(F.max("n").cast("long").alias("n"),
                 F.max("med2").cast("long").alias("med2_micro"),
                 F.max("mad4").cast("long").alias("mad4_micro"),
                 F.sum(F.expr(
                     "CASE WHEN dev2 * 10000 > 22239 * mad4"
                     " THEN 1 ELSE 0 END")).cast("long")
                 .alias("n_outliers"))
            .withColumn("outlier_ppm", F.expr(
                "n_outliers * 1000000 DIV n").cast("long")))


SQL_REL_OUTLIERS = """
WITH v AS (
  SELECT event_type,
         2 * CAST(floor(value * 1000000) AS BIGINT) AS v2
  FROM events),
g1 AS (
  SELECT event_type, CAST(quantile_cont(v2, 0.5) AS BIGINT) AS med2,
         count(*) AS n
  FROM v GROUP BY 1),
d AS (
  SELECT v.event_type, abs(v2 - med2) AS dev2, n, med2
  FROM v JOIN g1 USING (event_type)),
g2 AS (
  SELECT event_type,
         CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
  FROM d GROUP BY 1)
SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
       CAST(max(d.med2) AS BIGINT) AS med2_micro,
       CAST(max(g2.mad4) AS BIGINT) AS mad4_micro,
       CAST(sum(CASE WHEN dev2 * 10000 > 22239 * mad4
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN dev2 * 10000 > 22239 * mad4
                THEN 1 ELSE 0 END) * 1000000 // max(d.n) AS BIGINT)
         AS outlier_ppm
FROM d JOIN g2 USING (event_type)
GROUP BY 1
"""


def q_rel_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-3 sequential pattern mining over per-user event streams
    (the contiguous-trigram special case of PrefixSpan [K: Pei 2001]):
    lead() twice under a user-partitioned window, hash-agg support and
    distinct-user counts, floor at SEQ_MIN_SUPPORT. The window
    partitions by user_id, so the per-user history is the task unit at
    any scale; the pattern table is |types|^3-bounded."""
    e = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (e.select("user_id", F.col("event_type").alias("e1"),
                  F.lead("event_type", 1).over(w).alias("e2"),
                  F.lead("event_type", 2).over(w).alias("e3"))
         .filter(F.col("e2").isNotNull() & F.col("e3").isNotNull()))
    return (t.groupBy("e1", "e2", "e3")
            .agg(F.count(F.lit(1)).cast("long").alias("support"),
                 F.countDistinct("user_id").cast("long").alias("n_users"))
            .filter(F.col("support") >= SEQ_MIN_SUPPORT))


SQL_REL_SEQ_PATTERNS = f"""
WITH t AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS support,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1, 2, 3
HAVING count(*) >= {SEQ_MIN_SUPPORT}
"""


def q_rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 2-D skyline (Pareto front) over documents, maximizing
    (n_chars, distinct whitespace tokens): a doc survives unless some
    other doc in its source is >= on both dimensions and > on one.
    No quadratic self-join: sorted running aggregates decide dominance
    exactly — a RANGE frame bounded at 1 PRECEDING on n_chars DESC
    captures 'strictly longer' dominators' best token count, and a
    (source, n_chars) group max captures equal-length dominators; ties
    on both dimensions are co-skyline (no strict edge). Both windows
    partition by source, so the per-source frontier is the task unit
    at any scale."""
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.array_distinct(
            F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long").alias("distinct_toks"))
    w_strict = (Window.partitionBy("source")
                .orderBy(F.desc("n_chars"))
                .rangeBetween(Window.unboundedPreceding, -1))
    w_equal = Window.partitionBy("source", "n_chars")
    x = (base
         .withColumn("best_dt_longer", F.max("distinct_toks").over(w_strict))
         .withColumn("best_dt_equal", F.max("distinct_toks").over(w_equal)))
    return (x.filter(
        (F.col("best_dt_longer").isNull()
         | (F.col("best_dt_longer") < F.col("distinct_toks")))
        & (F.col("best_dt_equal") <= F.col("distinct_toks")))
        .select("source", "doc_id", "n_chars", "distinct_toks"))


SQL_REL_SKYLINE = r"""
WITH base AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(list_distinct(list_filter(
             string_split_regex(trim(text), '\s+'), t -> t <> '')))
           AS BIGINT) AS distinct_toks
  FROM documents),
x AS (
  SELECT *,
         max(distinct_toks) OVER (
             PARTITION BY source ORDER BY n_chars DESC
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_dt_longer,
         max(distinct_toks) OVER (PARTITION BY source, n_chars)
           AS best_dt_equal
  FROM base)
SELECT source, doc_id, n_chars, distinct_toks
FROM x
WHERE (best_dt_longer IS NULL OR best_dt_longer < distinct_toks)
  AND best_dt_equal <= distinct_toks
"""


def q_rel_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event temporal join (pandas merge_asof
    direction='nearest', distributed): each click pairs with the SAME
    user's closest purchase in absolute time — backward carry via
    last(ignorenulls) over the preceding frame, forward via
    first(ignorenulls) over the following frame, nearer one wins, tie
    to the earlier purchase. Both windows partition by user_id (the
    task unit), so unlike the global as-of this never needs a range
    repartition: per-user event streams are the natural shard."""
    ev = _tbl(spark, sf_dir, "events")
    x = (ev.filter(F.col("event_type").isin("click", "purchase"))
         .select("event_id", "user_id", "event_type",
                 F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
         .withColumn("pid", F.when(F.col("event_type") == "purchase",
                                   F.col("event_id")))
         .withColumn("pts", F.when(F.col("event_type") == "purchase",
                                   F.col("ts_us"))))
    order = [F.col("ts_us"), F.col("event_id")]
    w_prev = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, 0))
    w_next = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(0, Window.unboundedFollowing))
    y = (x.withColumn("prev_pid", F.last("pid", True).over(w_prev))
         .withColumn("prev_pts", F.last("pts", True).over(w_prev))
         .withColumn("next_pid", F.first("pid", True).over(w_next))
         .withColumn("next_pts", F.first("pts", True).over(w_next)))
    clicks = y.filter(F.col("event_type") == "click")
    d_prev = F.col("ts_us") - F.col("prev_pts")
    d_next = F.col("next_pts") - F.col("ts_us")
    take_prev = F.col("prev_pid").isNotNull() & (
        F.col("next_pid").isNull() | (d_prev <= d_next))
    return (clicks
            .withColumn("purchase_id",
                        F.when(take_prev, F.col("prev_pid"))
                        .otherwise(F.col("next_pid")))
            .withColumn("purchase_ts_us",
                        F.when(take_prev, F.col("prev_pts"))
                        .otherwise(F.col("next_pts")))
            .filter(F.col("purchase_id").isNotNull())
            .select("event_id", "user_id", "ts_us",
                    "purchase_id", "purchase_ts_us",
                    F.abs(F.col("purchase_ts_us") - F.col("ts_us"))
                    .alias("delta_us"),
                    F.when(take_prev, F.lit("backward"))
                    .otherwise(F.lit("forward")).alias("direction")))


SQL_REL_NEAREST_EVENT = """
WITH x AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         CASE WHEN event_type = 'purchase' THEN event_id END AS pid,
         CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pts
  FROM events WHERE event_type IN ('click', 'purchase')),
y AS (
  SELECT *,
         last_value(pid IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_pid,
         last_value(pts IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_pts,
         first_value(pid IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pid,
         first_value(pts IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pts
  FROM x),
clicks AS (
  SELECT *,
         (prev_pid IS NOT NULL AND (next_pid IS NULL
              OR ts_us - prev_pts <= next_pts - ts_us)) AS take_prev
  FROM y WHERE event_type = 'click')
SELECT event_id, user_id, ts_us,
       CASE WHEN take_prev THEN prev_pid ELSE next_pid END AS purchase_id,
       CASE WHEN take_prev THEN prev_pts ELSE next_pts END AS purchase_ts_us,
       abs(CASE WHEN take_prev THEN prev_pts ELSE next_pts END - ts_us)
         AS delta_us,
       CASE WHEN take_prev THEN 'backward' ELSE 'forward' END AS direction
FROM clicks
WHERE CASE WHEN take_prev THEN prev_pid ELSE next_pid END IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Wave 19: concept transition graph, KMV distinct sketch, FK discovery.
# ---------------------------------------------------------------------------

def q_rel_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency mining (the FK-discovery profile a
    relational-to-KG direct mapping runs first [K]): for each candidate
    (child.col → parent.col) pair, the fraction of DISTINCT child
    values contained in the parent — containment 10^6 ppm == a foreign
    key holds. Each pair is a distinct-project + one left-semi equi
    join (shuffle O(distinct values), the profiling lower bound); the
    per-pair outputs are 1-row aggregates unioned together. The last
    candidate is a deliberate negative control so the report proves it
    can reject."""
    from functools import reduce
    rows = []
    for ct, cc, pt, pc in FK_CANDIDATES:
        child = (_tbl(spark, sf_dir, ct)
                 .select(F.col(cc).cast("long").alias("v")).distinct())
        parent = (_tbl(spark, sf_dir, pt)
                  .select(F.col(pc).cast("long").alias("v")).distinct())
        contained = child.join(parent, "v", "left_semi")
        stats = (child.agg(F.count(F.lit(1)).alias("n_child"))
                 .join(contained.agg(
                     F.count(F.lit(1)).alias("n_contained"))))
        rows.append(stats.select(
            F.lit(f"{ct}.{cc}").alias("child_col"),
            F.lit(f"{pt}.{pc}").alias("parent_col"),
            F.col("n_child").cast("long").alias("n_child"),
            F.col("n_contained").cast("long").alias("n_contained"),
            F.expr("n_contained * 1000000 DIV n_child").cast("long")
            .alias("containment_ppm"),
            (F.col("n_contained") == F.col("n_child")).cast("long")
            .alias("is_fk")))
    return reduce(lambda x, y: x.unionByName(y), rows)


def _sql_rel_fk_discovery() -> str:
    parts = []
    for ct, cc, pt, pc in FK_CANDIDATES:
        parts.append(f"""
SELECT '{ct}.{cc}' AS child_col, '{pt}.{pc}' AS parent_col,
       CAST(n_child AS BIGINT) AS n_child,
       CAST(n_contained AS BIGINT) AS n_contained,
       CAST(n_contained * 1000000 // n_child AS BIGINT)
         AS containment_ppm,
       CAST(CASE WHEN n_contained = n_child THEN 1 ELSE 0 END AS BIGINT)
         AS is_fk
FROM (
  SELECT (SELECT count(DISTINCT {cc}) FROM {ct}) AS n_child,
         (SELECT count(*) FROM (SELECT DISTINCT {cc} FROM {ct}) c
          WHERE c.{cc} IN (SELECT {pc} FROM {pt})) AS n_contained)""")
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# Wave 20: per-concept entity cards, contrastive training triplets.
# ---------------------------------------------------------------------------


def q_rel_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence profile of event_type ×
    day-of-week — the categorical drift test next to rel_ks_drift's
    numeric one. Emits the full contingency diagnostics per cell
    (observed, expected, contribution), so the analyst sees WHERE
    independence breaks, not just the statistic. One hash agg for the
    cells; the two marginals are broadcast-sized rejoins. Day-of-week
    via epoch-day mod 7 (engine-neutral — Spark and DuckDB disagree on
    dayofweek numbering). Doubles follow the repo round(x,6)+0.0
    convention (rel_stats_agg precedent)."""
    ev = _tbl(spark, sf_dir, "events")
    cells = (ev.select(
        "event_type",
        (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")
                    .cast("date")) % 7).cast("long").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("long").alias("o")))
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("t"))
    e = (F.col("r") * F.col("c") / F.col("t"))
    contrib = (F.col("o") - e) * (F.col("o") - e) / e
    return (cells.join(F.broadcast(rows), "event_type")
            .join(F.broadcast(cols), "dow")
            .join(F.broadcast(tot))
            .select("event_type", "dow", "o",
                    (F.round(e, 6) + 0.0).alias("expected"),
                    (F.round(contrib, 6) + 0.0).alias("chi2_contrib")))
