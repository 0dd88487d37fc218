"""Driver queries: `rel` domain (part 2)."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ._shared import *  # noqa: F401,F403


SQL_REL_CHISQ = """
WITH cells AS (
  SELECT event_type,
         CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
           AS dow,
         count(*) AS o
  FROM events GROUP BY 1, 2),
r AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
c AS (SELECT dow, sum(o) AS c FROM cells GROUP BY 1),
t AS (SELECT sum(o) AS t FROM cells)
SELECT cells.event_type, cells.dow, CAST(cells.o AS BIGINT) AS o,
       round(CAST(r.r AS DOUBLE) * c.c / t.t, 6) + 0.0 AS expected,
       round((cells.o - CAST(r.r AS DOUBLE) * c.c / t.t)
             * (cells.o - CAST(r.r AS DOUBLE) * c.c / t.t)
             / (CAST(r.r AS DOUBLE) * c.c / t.t), 6) + 0.0
         AS chi2_contrib
FROM cells
JOIN r ON r.event_type = cells.event_type
JOIN c ON c.dow = cells.dow
CROSS JOIN t
"""


def q_rel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution [K] over the
    events stream: each purchase's value is attributed to the same
    user's PRECEDING non-purchase touches — 40% to the first touch,
    40% to the last, the middle 20% split evenly (exact ppm; integer
    remainder goes to the first touch; 1 touch takes 100%, 2 take
    50/50). Conversion value enters as exact cents and every weight is
    BIGINT ppm, so the per-channel rollup is bit-exact cross-engine.

    Shape: the touch-to-conversion match is a user-keyed equi-join
    with a timestamp predicate (per-user interval join — the same
    shape as sessionized attribution at warehouse scale); position
    and touch-count windows partition BY CONVERSION (keyed, bounded by
    a user's history, never global); the rollup is one hash agg."""
    ev = _tbl(spark, sf_dir, "events")
    conv = (ev.filter(F.col("event_type") == ATTR_CONV_TYPE)
            .select(F.col("event_id").alias("conv_id"),
                    F.col("user_id"), F.col("ts").alias("conv_ts"),
                    F.round(F.col("value") * 100, 0).cast("long")
                    .alias("conv_cents")))
    touch = (ev.filter(F.col("event_type") != ATTR_CONV_TYPE)
             .select("user_id", F.col("event_id").alias("touch_id"),
                     F.col("event_type"), F.col("ts").alias("touch_ts")))
    pairs = conv.join(touch, "user_id").filter(
        (F.col("touch_ts") < F.col("conv_ts"))
        | ((F.col("touch_ts") == F.col("conv_ts"))
           & (F.col("touch_id") < F.col("conv_id"))))
    wp = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    wn = Window.partitionBy("conv_id")
    mid = 1_000_000 - 2 * ATTR_U_END_PPM
    weighted = (pairs
                .withColumn("pos", F.row_number().over(wp))
                .withColumn("n", F.count(F.lit(1)).over(wn))
                .withColumn("w_ppm", F.expr(f"""
        CASE WHEN n = 1 THEN 1000000
             WHEN n = 2 THEN 500000
             WHEN pos = 1 THEN {ATTR_U_END_PPM} + {mid} % (n - 2)
             WHEN pos = n THEN {ATTR_U_END_PPM}
             ELSE {mid} DIV (n - 2) END""")))
    return (weighted.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("touches"),
                 F.countDistinct("conv_id").alias("conversions"),
                 F.sum(F.col("conv_cents") * F.col("w_ppm"))
                 .alias("attr_micro"))
            .withColumn("attr_cents",
                        F.expr("attr_micro DIV 1000000")))


def _sql_rel_attribution() -> str:
    mid = 1_000_000 - 2 * ATTR_U_END_PPM
    return f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts,
         CAST(round(value * 100, 0) AS BIGINT) AS conv_cents
  FROM events WHERE event_type = '{ATTR_CONV_TYPE}'),
touch AS (
  SELECT user_id, event_id AS touch_id, event_type, ts AS touch_ts
  FROM events WHERE event_type <> '{ATTR_CONV_TYPE}'),
pairs AS (
  SELECT c.conv_id, c.conv_cents, t.touch_id, t.event_type,
         row_number() OVER (PARTITION BY c.conv_id
                            ORDER BY t.touch_ts, t.touch_id) AS pos,
         count(*) OVER (PARTITION BY c.conv_id) AS n
  FROM conv c JOIN touch t ON t.user_id = c.user_id
       AND (t.touch_ts < c.conv_ts
            OR (t.touch_ts = c.conv_ts AND t.touch_id < c.conv_id))),
weighted AS (
  SELECT conv_id, conv_cents, event_type,
         CASE WHEN n = 1 THEN 1000000
              WHEN n = 2 THEN 500000
              WHEN pos = 1 THEN {ATTR_U_END_PPM} + {mid} % (n - 2)
              WHEN pos = n THEN {ATTR_U_END_PPM}
              ELSE {mid} // (n - 2) END AS w_ppm
  FROM pairs)
SELECT event_type,
       count(*) AS touches,
       count(DISTINCT conv_id) AS conversions,
       CAST(sum(conv_cents * w_ppm) AS BIGINT) AS attr_micro,
       CAST(sum(conv_cents * w_ppm) // 1000000 AS BIGINT) AS attr_cents
FROM weighted GROUP BY 1
"""


def q_rel_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the order line items
    (Agrawal-Srikant support/confidence/lift [K]): baskets are the
    distinct parts of an order; every co-bought part pair with support
    >= BASKET_MIN_SUP emits both directed rules with confidence =
    sup*1e6//sup(antecedent) and lift = sup*N*1e6//(sup_a*sup_c) in
    exact ppm — the classic cross-sell read, and the relational twin
    of the KG's concept-lift operator.

    Shape: the pair generation is a self-join keyed on the order key,
    quadratic only in BASKET SIZE (TPC-H-shaped orders hold <= ~10
    parts — the same bounded-key argument as the concept-lift join);
    item supports join back part-keyed; the order count enters as a
    broadcast 1-row aggregate. No windows, nothing global."""
    li = _tbl(spark, sf_dir, "lineitem")
    b = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct()
    n_orders = b.select("o").distinct().agg(
        F.count(F.lit(1)).alias("n_orders"))
    item = b.groupBy("p").agg(F.count(F.lit(1)).alias("sup_item"))
    pa = b.select(F.col("o"), F.col("p").alias("pa"))
    pb = b.select(F.col("o"), F.col("p").alias("pb"))
    pairs = (pa.join(pb, "o").filter(F.col("pa") < F.col("pb"))
             .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("support"))
             .filter(F.col("support") >= BASKET_MIN_SUP))
    rules = (pairs.select(F.col("pa").alias("antecedent"),
                          F.col("pb").alias("consequent"), "support")
             .unionByName(
                 pairs.select(F.col("pb").alias("antecedent"),
                              F.col("pa").alias("consequent"), "support")))
    return (rules
            .join(item.select(F.col("p").alias("antecedent"),
                              F.col("sup_item").alias("sup_a")),
                  "antecedent")
            .join(item.select(F.col("p").alias("consequent"),
                              F.col("sup_item").alias("sup_c")),
                  "consequent")
            .crossJoin(F.broadcast(n_orders))
            .select("antecedent", "consequent", "support",
                    F.expr("support * 1000000 DIV sup_a")
                    .alias("conf_ppm"),
                    F.expr("support * n_orders * 1000000"
                           " DIV (sup_a * sup_c)").alias("lift_ppm")))


def _sql_rel_basket_rules() -> str:
    return f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
n AS (SELECT count(DISTINCT o) AS n_orders FROM b),
item AS (SELECT p, count(*) AS sup_item FROM b GROUP BY p),
pairs AS (
  SELECT a.p AS pa, c.p AS pb, count(*) AS support
  FROM b a JOIN b c ON c.o = a.o AND a.p < c.p
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUP}),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, support FROM pairs
  UNION ALL
  SELECT pb, pa, support FROM pairs)
SELECT r.antecedent, r.consequent, r.support,
       CAST(r.support * 1000000 // ia.sup_item AS BIGINT) AS conf_ppm,
       CAST(r.support * n.n_orders * 1000000
            // (ia.sup_item * ic.sup_item) AS BIGINT) AS lift_ppm
FROM rules r
JOIN item ia ON ia.p = r.antecedent
JOIN item ic ON ic.p = r.consequent
CROSS JOIN n
"""


def q_rel_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation [K: recency/frequency/monetary] over
    the orders table — days since last order (vs the corpus max date),
    order count, lifetime spend in exact cents, each scored 1..5 on
    FIXED documented breakpoints (rank-free on purpose: quantile
    scoring would need a partitionless ntile over every customer — the
    exact window shape this repo bans — and fixed breaks are what a
    production scorecard pins anyway), plus the classic named segment.

    Shape: one customer-keyed hash agg, the corpus max date as a
    broadcast 1-row aggregate, then pure map-side CASE scoring. All
    arithmetic integer (days, counts, cents)."""
    o = _tbl(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("corpus_max"))
    per_c = (o.groupBy("o_custkey")
             .agg(F.max("o_orderdate").alias("last_order"),
                  F.count(F.lit(1)).alias("frequency"),
                  F.sum(F.round(F.col("o_totalprice") * 100, 0)
                        .cast("long")).alias("monetary_cents")))
    scored = (per_c.crossJoin(F.broadcast(maxd))
              .withColumn("recency_days",
                          F.datediff("corpus_max", "last_order"))
              .withColumn("r_score", F.expr(
                  _rfm_case("recency_days", RFM_R_DAYS, asc=True)))
              .withColumn("f_score", F.expr(
                  _rfm_case("frequency", RFM_F_ORDERS, asc=False)))
              .withColumn("m_score", F.expr(
                  _rfm_case("monetary_cents", RFM_M_CENTS, asc=False))))
    return scored.select(
        F.col("o_custkey").alias("custkey"), "recency_days",
        "frequency", "monetary_cents", "r_score", "f_score", "m_score",
        F.expr("""
            CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                 WHEN r_score >= 4 THEN 'recent'
                 WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                 WHEN r_score <= 2 AND f_score <= 2 THEN 'lost'
                 ELSE 'regular' END""").alias("segment"))


def _sql_rel_rfm() -> str:
    return f"""
WITH maxd AS (SELECT max(o_orderdate) AS corpus_max FROM orders),
per_c AS (
  SELECT o_custkey AS custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM orders GROUP BY 1),
scored AS (
  SELECT custkey,
         CAST(date_diff('day', last_order, corpus_max) AS INT)
           AS recency_days,
         frequency, monetary_cents
  FROM per_c CROSS JOIN maxd),
s2 AS (
  SELECT *,
         {_rfm_case("recency_days", RFM_R_DAYS, asc=True)} AS r_score,
         {_rfm_case("frequency", RFM_F_ORDERS, asc=False)} AS f_score,
         {_rfm_case("monetary_cents", RFM_M_CENTS, asc=False)} AS m_score
  FROM scored)
SELECT custkey, recency_days, frequency, monetary_cents,
       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 4 THEN 'recent'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'lost'
            ELSE 'regular' END AS segment
FROM s2
"""


def q_rel_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B experiment readout [K: Deng et al.'s
    controlled-experiment variance reduction — adjust the metric by a
    pre-experiment covariate, Y' = Y - theta*(X - mean(X)) with
    theta = cov(X,Y)/var(X), shrinking the variance by the squared
    X-Y correlation at zero bias]: unit = customer (units with no
    orders are unexposed and excluded, documented), variant = md5
    parity of the customer key (the deterministic hash assignment a
    real experiment platform uses), metric Y = the customer's total
    order value in floored dollars, covariate X = the pre-experiment
    account balance in floored dollars. All SUMS (n, Sx, Sy, Sxx,
    Sxy, Syy) are exact BIGINTs; theta and the adjusted means are
    computed from those sums through an IDENTICAL double expression
    tree on both engines, so the rounded outputs replay bit-identically
    (the drift_cos convention). Per variant: unit count, raw mean,
    CUPED-adjusted mean, the pooled theta, and the pooled variance
    reduction rho^2 — the fraction of metric variance the covariate
    removes.

    Shape: one orders hash agg (map-side partial) + one broadcast-able
    customer join -> one global 1-row agg crossJoined back + one
    2-row variant agg. No windows, no driver state; the 1-row global
    is the only barrier and it is O(1)."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    bucket = F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")),
                                1, 2), 16, 10).cast("long")
    units = (o.groupBy("o_custkey")
             .agg(F.sum(F.floor("o_totalprice")).cast("long").alias("y"))
             .join(c.select(
                 "c_custkey",
                 F.floor("c_acctbal").cast("long").alias("x"),
                 (bucket % 2).cast("int").alias("variant")),
                 F.col("o_custkey") == F.col("c_custkey")))
    gl = units.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))
    pv = units.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("x").cast("long").alias("sx_v"),
        F.sum("y").cast("long").alias("sy_v"))
    d = F.col  # noqa: E741 - local alias for the double expression tree
    num = (d("n").cast("double") * d("sxy").cast("double")
           - d("sx").cast("double") * d("sy").cast("double"))
    den = (d("n").cast("double") * d("sxx").cast("double")
           - d("sx").cast("double") * d("sx").cast("double"))
    vy = (d("n").cast("double") * d("syy").cast("double")
          - d("sy").cast("double") * d("sy").cast("double"))
    theta = num / den
    j = pv.crossJoin(F.broadcast(gl))
    return (j.select(
        "variant", "n_units",
        F.round(d("sy_v").cast("double") / d("n_units").cast("double"), 6)
        .alias("mean_y"),
        F.round(d("sy_v").cast("double") / d("n_units").cast("double")
                - theta * (d("sx_v").cast("double")
                           / d("n_units").cast("double")
                           - d("sx").cast("double")
                           / d("n").cast("double")), 6)
        .alias("mean_y_adj"),
        F.round(theta, 6).alias("theta"),
        F.round(num * num / (den * vy), 6).alias("var_reduction")))


def _sql_rel_abtest() -> str:
    bucket = ("(strpos('0123456789abcdef',"
              " substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) * 16"
              " + strpos('0123456789abcdef',"
              " substr(md5(CAST(c_custkey AS VARCHAR)), 2, 1)) - 1")
    return f"""
WITH ou AS (
  SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                         AS BIGINT) AS y
  FROM orders GROUP BY 1),
units AS (
  SELECT CAST(floor(c_acctbal) AS BIGINT) AS x, ou.y,
         CAST(({bucket}) % 2 AS INT) AS variant
  FROM ou JOIN customer ON c_custkey = o_custkey),
gl AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM units),
pv AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(x) AS BIGINT) AS sx_v, CAST(sum(y) AS BIGINT) AS sy_v
  FROM units GROUP BY 1)
SELECT variant, n_units,
       round(CAST(sy_v AS DOUBLE) / CAST(n_units AS DOUBLE), 6) AS mean_y,
       round(CAST(sy_v AS DOUBLE) / CAST(n_units AS DOUBLE)
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * (CAST(sx_v AS DOUBLE) / CAST(n_units AS DOUBLE)
                  - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS mean_y_adj,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS theta,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS var_reduction
FROM pv CROSS JOIN gl
"""


def q_rel_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve [K: the (cohort, age) -> cumulative
    revenue triangle behind every retention-economics dashboard;
    rel_retention's revenue twin]: cohort = calendar month of the
    customer's FIRST order (min-agg, no window), age = exact integer
    month index delta (year*12+month arithmetic, no date subtraction
    semantics to disagree on), revenue in floored dollars. Emits per
    (cohort, age): active customers, period revenue, exact cumulative
    revenue (triangular self-join over the tiny cohort-age agg — never
    over raw orders), and cumulative revenue per cohort customer in
    exact ppm-free integer division (whole dollars).

    Shape: one orders hash agg for first-order months (map-side
    partial), one broadcast-able join back, one (cohort, age) hash
    agg, then the triangular join + final agg over the agg's ~(months
    x ages) rows. At 100 TB only the first two steps touch data; the
    triangle is always tiny."""
    o = _tbl(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("m"),
        F.floor("o_totalprice").cast("long").alias("rev"))
    first = om.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    j = om.join(first, "o_custkey")
    g = (j.groupBy(F.col("cohort_m"),
                   (F.col("m") - F.col("cohort_m")).alias("age_months"))
         .agg(F.count_distinct("o_custkey").cast("long")
              .alias("n_active"),
              F.sum("rev").cast("long").alias("revenue")))
    cohort_n = (first.groupBy("cohort_m")
                .agg(F.count(F.lit(1)).cast("long").alias("n_cohort")))
    cum = (g.alias("a")
           .join(F.broadcast(g.alias("c")),
                 (F.col("c.cohort_m") == F.col("a.cohort_m"))
                 & (F.col("c.age_months") <= F.col("a.age_months")))
           .groupBy(F.col("a.cohort_m").alias("cohort_m"),
                    F.col("a.age_months").alias("age_months"))
           .agg(F.max(F.col("a.n_active")).cast("long").alias("n_active"),
                F.max(F.col("a.revenue")).cast("long").alias("revenue"),
                F.sum(F.col("c.revenue")).cast("long")
                .alias("cum_revenue")))
    return (cum.join(F.broadcast(cohort_n), "cohort_m")
            .select(F.col("cohort_m").cast("long").alias("cohort_month"),
                    F.col("age_months").cast("long").alias("age_months"),
                    "n_active", "revenue", "cum_revenue", "n_cohort",
                    F.expr("cum_revenue DIV n_cohort").cast("long")
                    .alias("cum_rev_per_customer")))


def _sql_rel_ltv() -> str:
    return """
WITH om AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS m,
         CAST(floor(o_totalprice) AS BIGINT) AS rev
  FROM orders),
first AS (SELECT o_custkey, min(m) AS cohort_m FROM om GROUP BY 1),
g AS (
  SELECT f.cohort_m, om.m - f.cohort_m AS age_months,
         CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS n_active,
         CAST(sum(om.rev) AS BIGINT) AS revenue
  FROM om JOIN first f ON f.o_custkey = om.o_custkey
  GROUP BY 1, 2),
cohort_n AS (SELECT cohort_m, CAST(count(*) AS BIGINT) AS n_cohort
             FROM first GROUP BY 1),
cum AS (
  SELECT a.cohort_m, a.age_months,
         max(a.n_active) AS n_active, max(a.revenue) AS revenue,
         CAST(sum(c.revenue) AS BIGINT) AS cum_revenue
  FROM g a JOIN g c
    ON c.cohort_m = a.cohort_m AND c.age_months <= a.age_months
  GROUP BY 1, 2)
SELECT CAST(cum.cohort_m AS BIGINT) AS cohort_month,
       CAST(cum.age_months AS BIGINT) AS age_months,
       cum.n_active, cum.revenue, cum.cum_revenue, cn.n_cohort,
       CAST(cum.cum_revenue // cn.n_cohort AS BIGINT)
         AS cum_rev_per_customer
FROM cum JOIN cohort_n cn ON cn.cohort_m = cum.cohort_m
"""


def q_rel_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse FK surface
    [K: the orphan scan every DQ framework ships — an orphaned fact
    row silently vanishes from every inner-join report, so the audit
    quantifies the blast radius BEFORE analysts hit it]: for each
    declared child->parent relation, the child row count, orphan
    count (left-anti against the parent key), and orphan share in
    exact ppm. A 0-orphan table is the PASS record, not a skipped
    check.

    Shape: per relation one map-side child projection + one anti-join
    against the (usually broadcast-able) parent key set + one 1-row
    count agg; the union of the per-relation rows is constant-sized.
    At 100 TB each anti-join shuffles only the child keys (project
    first), and dimension parents broadcast."""
    o = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem")
    c = _tbl(spark, sf_dir, "customer")
    su = _tbl(spark, sf_dir, "supplier")
    pa = _tbl(spark, sf_dir, "part")
    na = _tbl(spark, sf_dir, "nation")

    def audit(name, child, ck, parent, pk):
        ch = child.select(F.col(ck).alias("k"))
        orphans = ch.join(F.broadcast(parent.select(
            F.col(pk).alias("k")).distinct()), "k", "left_anti")
        return (ch.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
                .crossJoin(orphans.agg(F.count(F.lit(1)).cast("long")
                                       .alias("n_orphans")))
                .select(F.lit(name).alias("relation"), "n_child",
                        "n_orphans",
                        F.expr("n_orphans * 1000000L DIV n_child")
                        .cast("long").alias("orphan_ppm")))

    parts = [
        audit("orders->customer", o, "o_custkey", c, "c_custkey"),
        audit("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        audit("lineitem->part", li, "l_partkey", pa, "p_partkey"),
        audit("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"),
        audit("customer->nation", c, "c_nationkey", na, "n_nationkey"),
        audit("supplier->nation", su, "s_nationkey", na, "n_nationkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_rel_ri_audit() -> str:
    def block(name, child, ck, parent, pk):
        return f"""
SELECT '{name}' AS relation,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM {child}
             WHERE {ck} NOT IN (SELECT {pk} FROM {parent})) AS BIGINT)
         AS n_orphans,
       CAST((SELECT count(*) FROM {child}
             WHERE {ck} NOT IN (SELECT {pk} FROM {parent}))
            * 1000000 // (SELECT count(*) FROM {child}) AS BIGINT)
         AS orphan_ppm"""
    blocks = [
        block("orders->customer", "orders", "o_custkey",
              "customer", "c_custkey"),
        block("lineitem->orders", "lineitem", "l_orderkey",
              "orders", "o_orderkey"),
        block("lineitem->part", "lineitem", "l_partkey",
              "part", "p_partkey"),
        block("lineitem->supplier", "lineitem", "l_suppkey",
              "supplier", "s_suppkey"),
        block("customer->nation", "customer", "c_nationkey",
              "nation", "n_nationkey"),
        block("supplier->nation", "supplier", "s_nationkey",
              "nation", "n_nationkey"),
    ]
    return "\nUNION ALL\n".join(blocks)


def q_rel_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly new-vs-returning customer mix [K: the acquisition-vs-
    retention read on every growth dashboard — a month's demand is
    healthy only if returning demand holds while new demand adds]:
    an order is NEW iff its calendar month equals its customer's
    first-order month (exact integer month index, min-agg — no
    window), per month: order counts and distinct-customer counts on
    both sides plus the new share in exact ppm.

    Shape: one per-customer min-agg (map-side partial), one broadcast-
    able join back, one per-month hash agg. Nothing sorted, nothing
    single-partition."""
    o = _tbl(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("m"))
    first = om.groupBy("o_custkey").agg(F.min("m").alias("first_m"))
    j = om.join(first, "o_custkey") \
        .withColumn("is_new", (F.col("m") == F.col("first_m"))
                    .cast("int"))
    return (j.groupBy(F.col("m").alias("month_idx"))
            .agg(F.sum("is_new").cast("long").alias("new_orders"),
                 F.sum(1 - F.col("is_new")).cast("long")
                 .alias("returning_orders"),
                 F.count_distinct(
                     F.when(F.col("is_new") == 1, F.col("o_custkey")))
                 .cast("long").alias("new_customers"),
                 F.count_distinct(
                     F.when(F.col("is_new") == 0, F.col("o_custkey")))
                 .cast("long").alias("returning_customers"),
                 F.expr("sum(is_new) * 1000000L DIV count(1)")
                 .cast("long").alias("new_share_ppm")))


def _sql_rel_new_returning() -> str:
    return """
WITH om AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS m
  FROM orders),
first AS (SELECT o_custkey, min(m) AS first_m FROM om GROUP BY 1),
j AS (
  SELECT om.m, om.o_custkey,
         CASE WHEN om.m = f.first_m THEN 1 ELSE 0 END AS is_new
  FROM om JOIN first f ON f.o_custkey = om.o_custkey)
SELECT m AS month_idx,
       CAST(sum(is_new) AS BIGINT) AS new_orders,
       CAST(sum(1 - is_new) AS BIGINT) AS returning_orders,
       CAST(count(DISTINCT CASE WHEN is_new = 1 THEN o_custkey END)
            AS BIGINT) AS new_customers,
       CAST(count(DISTINCT CASE WHEN is_new = 0 THEN o_custkey END)
            AS BIGINT) AS returning_customers,
       CAST(sum(is_new) * 1000000 // count(*) AS BIGINT)
         AS new_share_ppm
FROM j GROUP BY 1
"""


def q_rel_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy per user [K: the user-segmentation signal —
    a user whose events are all one type (a bot hammering 'view', a
    crawler looping 'error') has entropy ~0 bits, an organic user
    mixes types; fraud/abuse triage ranks by exactly this]: per user
    the event count, distinct-type count, Shannon entropy over the
    type distribution, and the dominant type with its share in exact
    ppm. The entropy sum folds over the user's per-type counts in
    DETERMINISTIC event_type order (Spark: aggregate over
    sort_array(collect_list(struct)); DuckDB: list_reduce over
    list(... ORDER BY type)) — per-user type cardinality is bounded
    by the tiny type vocabulary, and the fixed fold order removes the
    cross-engine float-sum-order hazard.

    Shape: one (user, type) hash agg (map-side partial), one per-user
    agg over <=|type| element arrays. Shuffles only by user key."""
    e = _tbl(spark, sf_dir, "events")
    c = (e.groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("c")))
    per = (c.groupBy("user_id")
           .agg(F.sum("c").cast("long").alias("n_events"),
                F.count(F.lit(1)).cast("long").alias("n_types"),
                F.aggregate(
                    F.sort_array(F.collect_list(
                        F.struct(F.col("event_type").alias("t"),
                                 F.col("c").alias("c")))),
                    F.lit(0.0),
                    lambda acc, s: acc + s.c.cast("double")
                    * F.log2(s.c.cast("double"))).alias("clogc"),
                F.min(F.struct((-F.col("c")).alias("nc"),
                               F.col("event_type").alias("t")))
                .alias("dom")))
    return per.select(
        "user_id", "n_events", "n_types",
        F.round(F.log2(F.col("n_events").cast("double"))
                - F.col("clogc") / F.col("n_events").cast("double"), 6)
        .alias("entropy"),
        F.col("dom.t").alias("dominant_type"),
        F.expr("(-dom.nc) * 1000000 DIV n_events").cast("long")
        .alias("dom_ppm"))


def _sql_rel_user_entropy() -> str:
    return """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
per AS (
  SELECT user_id,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         coalesce(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list(c ORDER BY event_type),
                            x -> CAST(x AS DOUBLE)
                                 * log2(CAST(x AS DOUBLE)))),
           (a, b) -> a + b), 0.0) AS clogc,
         first(event_type ORDER BY c DESC, event_type ASC) AS dom_t,
         CAST(max(c) AS BIGINT) AS dom_c
  FROM c GROUP BY user_id)
SELECT user_id, n_events, n_types,
       round(log2(CAST(n_events AS DOUBLE))
             - clogc / CAST(n_events AS DOUBLE), 6) AS entropy,
       dom_t AS dominant_type,
       CAST(dom_c * 1000000 // n_events AS BIGINT) AS dom_ppm
FROM per
"""


def q_rel_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity fence per user [K: the rate-based abuse check every
    fraud/abuse system runs — 'more than N events inside any sliding
    10-minute window' catches card-testing runs, scraping loops and
    credential stuffing that per-day totals smear out]: per user the
    event count, the MAXIMUM number of events inside any trailing
    600-second window (an exact sliding count via a RANGE frame over
    epoch seconds — every event is its own window anchor, which is
    exactly the set of maxima candidates), and the fence flag.

    Shape: one user-partitioned range-frame window (bounded by the
    user's own event count — the gate-safe shape; hot users are the
    skew to salt at 10^12 events) and one per-user agg. No self-join,
    no explode."""
    e = _tbl(spark, sf_dir, "events")
    s = e.select("user_id",
                 F.unix_timestamp("ts").cast("long").alias("es"))
    w = (Window.partitionBy("user_id").orderBy("es")
         .rangeBetween(-(VELOCITY_WINDOW_S - 1), 0))
    burst = s.withColumn("b", F.count(F.lit(1)).over(w))
    return (burst.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.max("b").cast("long").alias("max_burst_10m"))
            .withColumn("is_velocity_suspect",
                        (F.col("max_burst_10m") >= VELOCITY_FENCE)
                        .cast("int")))


def _sql_rel_velocity() -> str:
    return f"""
WITH s AS (
  SELECT user_id,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
  FROM events),
burst AS (
  SELECT user_id,
         CAST(count(*) OVER (PARTITION BY user_id ORDER BY es
                             RANGE BETWEEN {VELOCITY_WINDOW_S - 1}
                             PRECEDING AND CURRENT ROW) AS BIGINT)
           AS b
  FROM s)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(b) AS BIGINT) AS max_burst_10m,
       CAST(CASE WHEN max(b) >= {VELOCITY_FENCE} THEN 1 ELSE 0 END
            AS INT) AS is_velocity_suspect
FROM burst GROUP BY user_id
"""


def q_rel_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU stickiness per day [K: the product-analytics
    engagement headline — what share of the week's actives showed up
    today; the standard scale trick is that COUNT(DISTINCT user) over
    a sliding 7-day frame is NOT window-computable, so each (user,
    day) activity contributes itself to the 7 forward window anchors
    via a bounded explode and the distinct lands in an ordinary hash
    agg]: per day (full-history days only, gap-filled calendar) the
    DAU, trailing-7-day WAU, and stickiness in exact ppm.

    Shape: one (user, day) distinct hash agg on the corpus, a 7x
    bounded explode, one per-day distinct agg, a calendar-bounded
    gap-fill left join. The explode factor IS the window length —
    at 10^12 events the dedup agg dominates and partial-aggregates
    map-side."""
    e = _tbl(spark, sf_dir, "events")
    ud = (e.select("user_id", F.to_date("ts").alias("day"))
          .distinct())
    span = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dau = ud.groupBy("day").agg(F.countDistinct("user_id")
                                .cast("long").alias("dau"))
    wau = (ud.select("user_id", F.explode(F.expr(
        "sequence(day, date_add(day, 6))")).alias("wday"))
        .groupBy("wday")
        .agg(F.countDistinct("user_id").cast("long").alias("wau")))
    cal = span.select(
        F.explode(F.expr("sequence(date_add(d0, 6), d1)")).alias("day"))
    return (cal.join(dau, "day", "left")
            .join(wau, cal["day"] == wau["wday"], "left")
            .select(F.date_format(cal["day"], "yyyy-MM-dd")
                    .alias("day"),
                    F.coalesce("dau", F.lit(0)).cast("long")
                    .alias("dau"),
                    F.coalesce("wau", F.lit(0)).cast("long")
                    .alias("wau"))
            .withColumn("stickiness_ppm",
                        F.when(F.col("wau") > 0,
                               F.expr("dau * 1000000 DIV wau"))
                        .otherwise(F.lit(0)).cast("long")))


def _sql_rel_stickiness() -> str:
    return """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
dau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ud GROUP BY 1),
contrib AS (
  SELECT user_id, day + CAST(o AS INT) AS wday
  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o)),
wau AS (
  SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM contrib GROUP BY 1),
cal AS (
  SELECT CAST(unnest(generate_series(d0 + 6, d1, INTERVAL 1 DAY))
              AS DATE) AS day
  FROM span)
SELECT strftime(cal.day, '%Y-%m-%d') AS day,
       CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau,
       CAST(coalesce(wau.wau, 0) AS BIGINT) AS wau,
       CAST(CASE WHEN coalesce(wau.wau, 0) > 0
                 THEN coalesce(dau.dau, 0) * 1000000 // wau.wau
                 ELSE 0 END AS BIGINT) AS stickiness_ppm
FROM cal LEFT JOIN dau ON dau.day = cal.day
         LEFT JOIN wau ON wau.wday = cal.day
"""


def q_rel_dormancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy / resurrection profile per user [K: lifecycle
    analytics beyond monthly new-vs-returning — the gap structure of
    a user's active days tells retention teams who churned silently
    (long trailing dormancy), who resurrects (gap > 14 days then
    returns), and who is steady]: per user the active-day count,
    span, maximum inter-activity gap, resurrection count (gaps >
    14 days), and the currently-dormant flag against the corpus-wide
    last observed day.

    Shape: one (user, day) distinct agg, one user-partitioned lag
    window (bounded by the user's own active days), one per-user agg,
    a 1-row global-max broadcast. Exact integers throughout."""
    e = _tbl(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = (ud.withColumn("gap",
                       F.datediff(F.col("day"),
                                  F.lag("day").over(w)).cast("long")))
    per = (g.groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_active_days"),
                F.min("day").alias("first_day"),
                F.max("day").alias("last_day"),
                F.max(F.coalesce("gap", F.lit(0))).cast("long")
                .alias("max_gap_days"),
                F.sum((F.coalesce("gap", F.lit(0))
                       > PSI_DORMANT_DAYS).cast("long")).cast("long")
                .alias("n_resurrections")))
    gmax = ud.agg(F.max("day").alias("gday"))
    return (per.crossJoin(F.broadcast(gmax))
            .select("user_id", "n_active_days",
                    F.datediff("last_day", "first_day").cast("long")
                    .alias("span_days"),
                    "max_gap_days", "n_resurrections",
                    (F.datediff("gday", "last_day")
                     > PSI_DORMANT_DAYS).cast("int")
                    .alias("currently_dormant")))


def _sql_rel_dormancy() -> str:
    return f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (
  SELECT user_id, day,
         CAST(datediff('day',
                       lag(day) OVER (PARTITION BY user_id
                                      ORDER BY day), day) AS BIGINT)
           AS gap
  FROM ud),
per AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_active_days,
         min(day) AS first_day, max(day) AS last_day,
         CAST(max(coalesce(gap, 0)) AS BIGINT) AS max_gap_days,
         CAST(sum(CASE WHEN coalesce(gap, 0) > {PSI_DORMANT_DAYS}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrections
  FROM g GROUP BY 1),
gmax AS (SELECT max(day) AS gday FROM ud)
SELECT user_id, n_active_days,
       CAST(datediff('day', first_day, last_day) AS BIGINT)
         AS span_days,
       max_gap_days, n_resurrections,
       CAST(CASE WHEN datediff('day', last_day, gday)
                      > {PSI_DORMANT_DAYS}
            THEN 1 ELSE 0 END AS INT) AS currently_dormant
FROM per CROSS JOIN gmax
"""


def q_rel_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting over the event user base [K: the
    standard MAU decomposition (popularized by Social Capital) every
    growth team reports — this month's actives split into NEW (first
    month ever), RETAINED (active last month too) and RESURRECTED
    (returning after a gap), churn counted against the month the user
    went missing, and the quick ratio (new+resurrected)/churned that
    summarizes whether growth outruns leakage]: per month the four
    counts, MAU, and quick ratio in exact ppm (churn floor 1,
    documented). Months carry as exact integers y*12+(m-1); the last
    observed month cannot yet churn anyone later, handled by joining
    churn events only into observed months.

    Shape: one (user, month) distinct agg, one user-partitioned
    lag/lead window (bounded by a user's active months), two monthly
    hash aggs and a tiny month-keyed join. Exact integers
    throughout."""
    e = _tbl(spark, sf_dir, "events")
    um = (e.select("user_id",
                   (F.year("ts") * 12 + F.month("ts") - 1)
                   .cast("long").alias("mn"))
          .distinct())
    w = Window.partitionBy("user_id").orderBy("mn")
    s = (um.withColumn("prev", F.lag("mn").over(w))
         .withColumn("nxt", F.lead("mn").over(w)))
    status = s.select(
        "mn",
        F.when(F.col("prev").isNull(), F.lit("new"))
        .when(F.col("prev") == F.col("mn") - 1, F.lit("retained"))
        .otherwise(F.lit("resurrected")).alias("st"),
        # the user churns OUT of month mn+1 unless next month is mn+1
        (F.col("nxt").isNull() | (F.col("nxt") > F.col("mn") + 1))
        .cast("int").alias("churns_after"))
    monthly = (status.groupBy("mn")
               .agg(F.count(F.lit(1)).cast("long").alias("mau"),
                    F.sum((F.col("st") == "new").cast("long"))
                    .cast("long").alias("n_new"),
                    F.sum((F.col("st") == "retained").cast("long"))
                    .cast("long").alias("n_retained"),
                    F.sum((F.col("st") == "resurrected").cast("long"))
                    .cast("long").alias("n_resurrected")))
    churn = (status.filter(F.col("churns_after") == 1)
             .select((F.col("mn") + 1).alias("mn"))
             .groupBy("mn")
             .agg(F.count(F.lit(1)).cast("long").alias("n_churned")))
    out = (monthly.join(churn, "mn", "left")
           .select("mn", "mau", "n_new", "n_retained", "n_resurrected",
                   F.coalesce("n_churned", F.lit(0)).cast("long")
                   .alias("n_churned")))
    return out.select(
        F.format_string("%04d-%02d", F.expr("mn DIV 12").cast("int"),
                        (F.col("mn") % 12 + 1).cast("int"))
        .alias("month"),
        "mau", "n_new", "n_retained", "n_resurrected", "n_churned",
        F.expr("(n_new + n_resurrected) * 1000000"
               " DIV greatest(n_churned, 1)").cast("long")
        .alias("quick_ratio_ppm"))


def _sql_rel_growth_accounting() -> str:
    return """
WITH um AS (
  SELECT DISTINCT user_id,
         CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS mn
  FROM events),
s AS (
  SELECT user_id, mn,
         lag(mn) OVER (PARTITION BY user_id ORDER BY mn) AS prev,
         lead(mn) OVER (PARTITION BY user_id ORDER BY mn) AS nxt
  FROM um),
status AS (
  SELECT mn,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN prev = mn - 1 THEN 'retained'
              ELSE 'resurrected' END AS st,
         CAST(CASE WHEN nxt IS NULL OR nxt > mn + 1
              THEN 1 ELSE 0 END AS INT) AS churns_after
  FROM s),
monthly AS (
  SELECT mn, CAST(count(*) AS BIGINT) AS mau,
         CAST(sum(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN st = 'retained' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
         CAST(sum(CASE WHEN st = 'resurrected' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
  FROM status GROUP BY 1),
churn AS (
  SELECT mn + 1 AS mn, CAST(count(*) AS BIGINT) AS n_churned
  FROM status WHERE churns_after = 1 GROUP BY 1)
SELECT printf('%04d-%02d', CAST(monthly.mn // 12 AS INT),
              CAST(monthly.mn % 12 + 1 AS INT)) AS month,
       mau, n_new, n_retained, n_resurrected,
       CAST(coalesce(churn.n_churned, 0) AS BIGINT) AS n_churned,
       CAST((n_new + n_resurrected) * 1000000
            // greatest(coalesce(churn.n_churned, 0), 1) AS BIGINT)
         AS quick_ratio_ppm
FROM monthly LEFT JOIN churn ON churn.mn = monthly.mn
"""


def q_rel_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way variance decomposition (eta-squared) of order value by
    categorical factors [K: the 'which dimension explains the
    variance' triage — eta^2 = SS_between/SS_total tells an analyst
    whether priority or status structure order values before any
    modeling; the ANOVA F follows but eta^2 is the effect size that
    matters at 10^9 rows where everything is 'significant']: per
    factor the group count, exact integer cent sums, and eta^2 in
    round-6 — the between-group term folds S_g^2/n_g in
    DETERMINISTIC group-label order (bounded factor cardinality, the
    rel_user_entropy idiom).

    Shape: per factor one (group) hash agg + one O(1) fold — the
    corpus is scanned once per factor (a union keeps it one logical
    scan; Catalyst reuses the exchange). Exact integers until the
    final division."""
    o = _tbl(spark, sf_dir, "orders")
    outs = []
    for fac in ANOVA_FACTORS:
        # whole DOLLARS, not cents: sum(x^2) must stay in BIGINT at
        # sf0.1+ (cents^2 sums overflow); dollar resolution shifts
        # eta2 by < 1e-6 on this price scale and is the documented
        # trade (a 10^12-row build would move to DECIMAL(38) sums).
        dollars = F.expr("CAST(round(o_totalprice, 0) AS BIGINT)")
        g = (o.select(F.col(fac).alias("grp"), dollars.alias("c"))
             .groupBy("grp")
             .agg(F.count(F.lit(1)).cast("long").alias("ng"),
                  F.sum("c").cast("long").alias("sg"),
                  F.sum(F.col("c") * F.col("c")).cast("long")
                  .alias("ssg")))
        agg = g.agg(
            F.lit(fac).alias("factor"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("ng").cast("long").alias("n"),
            F.sum("sg").cast("long").alias("s"),
            F.sum("ssg").cast("long").alias("ss"),
            F.aggregate(
                F.sort_array(F.collect_list(F.struct(
                    F.col("grp").alias("g"), F.col("sg").alias("sg"),
                    F.col("ng").alias("ng")))),
                F.lit(0.0),
                lambda a, x: a + x.sg.cast("double")
                * x.sg.cast("double") / x.ng.cast("double"))
            .alias("between_raw"))
        outs.append(agg.select(
            "factor", "n_groups", "n",
            F.round((F.col("between_raw")
                     - F.col("s").cast("double")
                     * F.col("s").cast("double")
                     / F.col("n").cast("double"))
                    / (F.col("ss").cast("double")
                       - F.col("s").cast("double")
                       * F.col("s").cast("double")
                       / F.col("n").cast("double")), 6)
            .alias("eta2")))
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def _sql_rel_anova() -> str:
    parts = []
    for fac in ANOVA_FACTORS:
        parts.append(f"""
SELECT '{fac}' AS factor,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(ng) AS BIGINT) AS n,
       round((coalesce(list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(
                    list(struct_pack(g := grp, sg := sg, ng := ng)
                         ORDER BY grp),
                    x -> CAST(x.sg AS DOUBLE) * CAST(x.sg AS DOUBLE)
                         / CAST(x.ng AS DOUBLE))),
                (a, b) -> a + b), 0.0)
              - CAST(sum(sg) AS DOUBLE) * CAST(sum(sg) AS DOUBLE)
                / CAST(sum(ng) AS DOUBLE))
             / (CAST(sum(ssg) AS DOUBLE)
                - CAST(sum(sg) AS DOUBLE) * CAST(sum(sg) AS DOUBLE)
                  / CAST(sum(ng) AS DOUBLE)), 6) AS eta2
FROM (
  SELECT {fac} AS grp, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT))
              AS BIGINT) AS sg,
         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)
                  * CAST(round(o_totalprice, 0) AS BIGINT))
              AS BIGINT) AS ssg
  FROM orders GROUP BY 1)""")
    return "\nUNION ALL\n".join(parts)


def q_rel_error_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error probability conditioned on the PRECEDING event [K: the
    cascade read — errors cluster behind specific prior actions;
    P(error | prev=purchase) >> P(error) means the payment path is
    the fault line, and the lift column ranks exactly that]: per
    preceding event type the transition count, how many transitioned
    INTO an error, the conditional error rate in exact ppm, the
    corpus base error rate, and the lift in exact ppm (rate/base,
    both exact rationals cross-multiplied into one DIV).

    Shape: one user-partitioned lag window (bounded per user), one
    per-prev-type hash agg, a 1-row base-rate agg broadcast back.
    Exact integers end to end."""
    e = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (e.select("user_id", "ts", "event_id", "event_type")
         .withColumn("prev", F.lag("event_type").over(w))
         .filter(F.col("prev").isNotNull()))
    per = (s.groupBy("prev")
           .agg(F.count(F.lit(1)).cast("long").alias("n_trans"),
                F.sum((F.col("event_type") == "error").cast("long"))
                .cast("long").alias("n_err")))
    base = per.agg(F.sum("n_trans").cast("long").alias("n_all"),
                   F.sum("n_err").cast("long").alias("e_all"))
    return (per.crossJoin(F.broadcast(base))
            .select(F.col("prev").alias("prev_type"), "n_trans",
                    "n_err",
                    F.expr("n_err * 1000000 DIV n_trans").cast("long")
                    .alias("err_rate_ppm"),
                    F.expr("e_all * 1000000 DIV n_all").cast("long")
                    .alias("base_rate_ppm"),
                    F.expr("CASE WHEN e_all > 0 THEN"
                           " n_err * n_all * 1000000"
                           " DIV (n_trans * e_all) ELSE 0 END")
                    .cast("long").alias("lift_ppm")))


def _sql_rel_error_cascade() -> str:
    return """
WITH s AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
per AS (
  SELECT prev, CAST(count(*) AS BIGINT) AS n_trans,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM s WHERE prev IS NOT NULL GROUP BY 1),
base AS (
  SELECT CAST(sum(n_trans) AS BIGINT) AS n_all,
         CAST(sum(n_err) AS BIGINT) AS e_all
  FROM per)
SELECT prev AS prev_type, n_trans, n_err,
       CAST(n_err * 1000000 // n_trans AS BIGINT) AS err_rate_ppm,
       CAST(e_all * 1000000 // n_all AS BIGINT) AS base_rate_ppm,
       CAST(CASE WHEN e_all > 0
                 THEN n_err * n_all * 1000000 // (n_trans * e_all)
                 ELSE 0 END AS BIGINT) AS lift_ppm
FROM per CROSS JOIN base
"""


def q_rel_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per month [K: the fulfillment
    SLA readout — how long after ordering do line items actually
    ship, tracked monthly so a slipping warehouse shows as a rising
    median]: per order month the line count, exact doubled-integer
    MEDIAN ship-delay days, exact mean (DIV), max, and the share
    shipping within 30/90 days in exact ppm.

    Shape: the orders-lineitem equi-join (the canonical big-fact
    join — shuffle on orderkey; at 10^12 rows bucket both sides),
    map-side day arithmetic, one per-month agg. Exact integers end
    to end."""
    o = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem")
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .select((F.year("o_orderdate") * 12
                  + F.month("o_orderdate") - 1).cast("long")
                 .alias("mn"),
                 F.datediff(F.to_date("l_shipdate"),
                            F.to_date("o_orderdate")).cast("long")
                 .alias("delay")))
    agg = (j.groupBy("mn")
           .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.expr("CAST(percentile(delay * 2, 0.5) AS BIGINT)")
                .alias("med2_days"),
                F.sum("delay").cast("long").alias("s_delay"),
                F.max("delay").cast("long").alias("max_days"),
                F.sum((F.col("delay") <= 30).cast("long")).cast("long")
                .alias("n_30"),
                F.sum((F.col("delay") <= 90).cast("long")).cast("long")
                .alias("n_90")))
    return agg.select(
        F.format_string("%04d-%02d", F.expr("mn DIV 12").cast("int"),
                        (F.col("mn") % 12 + 1).cast("int"))
        .alias("month"),
        "n_lines", "med2_days",
        F.expr("s_delay DIV n_lines").cast("long").alias("mean_days"),
        "max_days",
        F.expr("n_30 * 1000000 DIV n_lines").cast("long")
        .alias("within_30d_ppm"),
        F.expr("n_90 * 1000000 DIV n_lines").cast("long")
        .alias("within_90d_ppm"))


def _sql_rel_fulfillment() -> str:
    return """
WITH j AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS mn,
         CAST(datediff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) AS BIGINT) AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
agg AS (
  SELECT mn, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(quantile_cont(delay * 2, 0.5) AS BIGINT) AS med2_days,
         CAST(sum(delay) AS BIGINT) AS s_delay,
         CAST(max(delay) AS BIGINT) AS max_days,
         CAST(sum(CASE WHEN delay <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_30,
         CAST(sum(CASE WHEN delay <= 90 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_90
  FROM j GROUP BY 1)
SELECT printf('%04d-%02d', CAST(mn // 12 AS INT),
              CAST(mn % 12 + 1 AS INT)) AS month,
       n_lines, med2_days,
       CAST(s_delay // n_lines AS BIGINT) AS mean_days, max_days,
       CAST(n_30 * 1000000 // n_lines AS BIGINT) AS within_30d_ppm,
       CAST(n_90 * 1000000 // n_lines AS BIGINT) AS within_90d_ppm
FROM agg
"""


def q_rel_hhi_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue-concentration trend (Herfindahl-Hirschman
    index over customers) [K: the account-concentration risk read —
    a rising HHI means revenue consolidates into a few whales (churn
    risk), a falling one means broadening; antitrust thresholds
    (0.15/0.25) give the standard bands]: per month the customer
    count, total revenue in whole dollars, the HHI in ppm computed as
    sq DIV (R^2 DIV 1e6) — the multiplier inverted into the
    denominator because sq*1e6 overflows BIGINT (observed at sf0.01;
    the floor-of-denominator rounding is mirrored in the oracle) —
    the top-customer share in
    exact ppm, and the HHI band.

    Shape: one (month, customer) hash agg on the corpus, one
    per-month agg of squares. Dollars not cents so the square-sums
    stay in BIGINT at sf0.1+ (the rel_anova trade, documented)."""
    o = _tbl(spark, sf_dir, "orders")
    mc = (o.select((F.year("o_orderdate") * 12
                    + F.month("o_orderdate") - 1).cast("long")
                   .alias("mn"),
                   "o_custkey",
                   F.expr("CAST(round(o_totalprice, 0) AS BIGINT)")
                   .alias("d"))
          .groupBy("mn", "o_custkey")
          .agg(F.sum("d").cast("long").alias("r")))
    agg = (mc.groupBy("mn")
           .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                F.sum("r").cast("long").alias("rev"),
                F.sum(F.col("r") * F.col("r")).cast("long")
                .alias("sq"),
                F.max("r").cast("long").alias("top_r")))
    return agg.select(
        F.format_string("%04d-%02d", F.expr("mn DIV 12").cast("int"),
                        (F.col("mn") % 12 + 1).cast("int"))
        .alias("month"),
        "n_customers", "rev",
        F.expr("sq DIV greatest(rev * rev DIV 1000000, 1)")
        .cast("long").alias("hhi_ppm"),
        F.expr("top_r * 1000000 DIV rev").cast("long")
        .alias("top_share_ppm"),
        F.expr("CASE WHEN sq DIV greatest(rev * rev DIV 1000000, 1)"
               " >= 250000 THEN 'high'"
               " WHEN sq DIV greatest(rev * rev DIV 1000000, 1)"
               " >= 150000 THEN 'moderate' ELSE 'low' END")
        .alias("band"))


def _sql_rel_hhi_trend() -> str:
    return """
WITH mc AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS mn,
         o_custkey,
         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
           AS r
  FROM orders GROUP BY 1, 2),
agg AS (
  SELECT mn, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(r) AS BIGINT) AS rev,
         CAST(sum(r * r) AS BIGINT) AS sq,
         CAST(max(r) AS BIGINT) AS top_r
  FROM mc GROUP BY 1)
SELECT printf('%04d-%02d', CAST(mn // 12 AS INT),
              CAST(mn % 12 + 1 AS INT)) AS month,
       n_customers, rev,
       CAST(sq // greatest(rev * rev // 1000000, 1) AS BIGINT)
         AS hhi_ppm,
       CAST(top_r * 1000000 // rev AS BIGINT) AS top_share_ppm,
       CASE WHEN sq // greatest(rev * rev // 1000000, 1) >= 250000
            THEN 'high'
            WHEN sq // greatest(rev * rev // 1000000, 1) >= 150000
            THEN 'moderate' ELSE 'low' END AS band
FROM agg
"""


def q_rel_sla_inversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-inversion audit on fulfillment latency [K: the SLA
    fairness check — URGENT orders must not ship SLOWER than
    LOW-priority ones; when the medians invert between adjacent
    priority classes, the scheduler (or the warehouse) is ignoring
    priority and ops wants the exact pair]: per priority class its
    urgency rank (the leading digit of the TPC-H priority string),
    line count, exact doubled-median and mean ship delay, and the
    inversion flag against the NEXT-less-urgent class.

    Shape: the orders-lineitem join, one per-priority agg (5 rows),
    a broadcast self-join on adjacent ranks. Exact integers."""
    o = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem")
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .select(F.col("o_orderpriority").alias("prio"),
                 F.datediff(F.to_date("l_shipdate"),
                            F.to_date("o_orderdate")).cast("long")
                 .alias("delay")))
    per = (j.groupBy("prio")
           .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.expr("CAST(percentile(delay * 2, 0.5) AS BIGINT)")
                .alias("med2_days"),
                F.expr("sum(delay) DIV count(1)").cast("long")
                .alias("mean_days"))
           .withColumn("rank", F.expr(
               "CAST(substring(prio, 1, 1) AS INT)")))
    nxt = per.select(F.col("rank").alias("nrank"),
                     F.col("med2_days").alias("next_med2"))
    return (per.join(F.broadcast(nxt),
                     per["rank"] + 1 == nxt["nrank"], "left")
            .select("prio", "rank", "n_lines", "med2_days",
                    "mean_days",
                    F.coalesce("next_med2", F.lit(None)).cast("long")
                    .alias("next_med2_days"),
                    F.coalesce(F.col("med2_days") > F.col("next_med2"),
                               F.lit(False)).cast("int")
                    .alias("inverted_vs_next")))


def _sql_rel_sla_inversion() -> str:
    return """
WITH j AS (
  SELECT o_orderpriority AS prio,
         CAST(datediff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) AS BIGINT) AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
per AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(quantile_cont(delay * 2, 0.5) AS BIGINT) AS med2_days,
         CAST(sum(delay) // count(*) AS BIGINT) AS mean_days,
         CAST(substring(prio, 1, 1) AS INT) AS rank
  FROM j GROUP BY 1)
SELECT p.prio, p.rank, p.n_lines, p.med2_days, p.mean_days,
       CAST(n.med2_days AS BIGINT) AS next_med2_days,
       CAST(CASE WHEN n.med2_days IS NOT NULL
                  AND p.med2_days > n.med2_days
            THEN 1 ELSE 0 END AS INT) AS inverted_vs_next
FROM per p LEFT JOIN per n ON n.rank = p.rank + 1
"""


# cos/sin of 2*pi*h/24 in exact nano-units, h = 0..23 — ONE Python
# source of truth injected verbatim into both engines so the circular
# sums are exact BIGINT arithmetic (no per-engine libm trig).
def q_rel_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector [K: the aggregation trap —
    'weekends have a higher high-value rate' can hold overall yet
    REVERSE inside every event-type stratum when the mix differs;
    any metrics team comparing two populations must run exactly this
    check before shipping the headline]: per stratum (and a pooled
    __overall__ row) the weekend/weekday trial and success counts,
    the rate-difference SIGN from exact cross-multiplication
    (s_we*n_wd vs s_wd*n_we — no division), and on every row the
    paradox flag: the overall sign is nonzero and every nonzero
    stratum sign opposes it.

    Shape: one conditional hash agg per stratum + pooled, a tiny
    broadcast of the overall sign, one bounded agg for the flag.
    Zero floats."""
    e = _tbl(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("stratum"),
        (F.expr("weekday(CAST(ts AS DATE))") >= 5).cast("int")
        .alias("we"),
        (F.col("value") >= SIMPSON_VALUE_FENCE).cast("long")
        .alias("hit"))
    per = (base.groupBy("stratum")
           .agg(F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
                .cast("long").alias("n_we"),
                F.sum(F.when(F.col("we") == 1, F.col("hit"))
                      .otherwise(0)).cast("long").alias("s_we"),
                F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
                .cast("long").alias("n_wd"),
                F.sum(F.when(F.col("we") == 0, F.col("hit"))
                      .otherwise(0)).cast("long").alias("s_wd")))
    overall = (per.agg(F.sum("n_we").cast("long").alias("n_we"),
                       F.sum("s_we").cast("long").alias("s_we"),
                       F.sum("n_wd").cast("long").alias("n_wd"),
                       F.sum("s_wd").cast("long").alias("s_wd"))
               .select(F.lit("__overall__").alias("stratum"),
                       "n_we", "s_we", "n_wd", "s_wd"))
    allr = per.unionByName(overall)
    sign = F.expr("CASE WHEN s_we * n_wd > s_wd * n_we THEN 1"
                  " WHEN s_we * n_wd < s_wd * n_we THEN -1"
                  " ELSE 0 END")
    signed = allr.withColumn("sign", sign.cast("int"))
    osign = (signed.filter(F.col("stratum") == "__overall__")
             .select(F.col("sign").alias("o_sign")))
    flag = (signed.filter(F.col("stratum") != "__overall__")
            .crossJoin(F.broadcast(osign))
            .agg(F.min(F.when(F.col("sign") != 0,
                              (F.col("sign") == -F.col("o_sign"))
                              .cast("int")))
                 .alias("all_opposed"),
                 F.max(F.abs(F.col("o_sign"))).alias("o_nonzero")))
    paradox = flag.select(
        ((F.col("all_opposed") == 1) & (F.col("o_nonzero") == 1))
        .cast("int").alias("paradox"))
    return (signed.crossJoin(F.broadcast(paradox))
            .select("stratum", "n_we", "s_we", "n_wd", "s_wd",
                    "sign", "paradox"))


def _sql_rel_simpson() -> str:
    return f"""
WITH base AS (
  SELECT event_type AS stratum,
         CAST(CASE WHEN isodow(CAST(ts AS DATE)) >= 6
              THEN 1 ELSE 0 END AS INT) AS we,
         CAST(CASE WHEN value >= {SIMPSON_VALUE_FENCE}
              THEN 1 ELSE 0 END AS BIGINT) AS hit
  FROM events),
per AS (
  SELECT stratum,
         CAST(sum(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_we,
         CAST(sum(CASE WHEN we = 1 THEN hit ELSE 0 END) AS BIGINT)
           AS s_we,
         CAST(sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_wd,
         CAST(sum(CASE WHEN we = 0 THEN hit ELSE 0 END) AS BIGINT)
           AS s_wd
  FROM base GROUP BY 1),
allr AS (
  SELECT * FROM per
  UNION ALL
  SELECT '__overall__', CAST(sum(n_we) AS BIGINT),
         CAST(sum(s_we) AS BIGINT), CAST(sum(n_wd) AS BIGINT),
         CAST(sum(s_wd) AS BIGINT)
  FROM per),
signed AS (
  SELECT *, CAST(CASE WHEN s_we * n_wd > s_wd * n_we THEN 1
                 WHEN s_we * n_wd < s_wd * n_we THEN -1
                 ELSE 0 END AS INT) AS sign
  FROM allr),
osign AS (SELECT sign AS o_sign FROM signed
          WHERE stratum = '__overall__'),
flag AS (
  SELECT CAST(CASE WHEN min(CASE WHEN sign <> 0 THEN
                     CASE WHEN sign = -o_sign THEN 1 ELSE 0 END
                   END) = 1
               AND max(abs(o_sign)) = 1
              THEN 1 ELSE 0 END AS INT) AS paradox
  FROM signed CROSS JOIN osign
  WHERE stratum <> '__overall__')
SELECT stratum, n_we, s_we, n_wd, s_wd, sign, paradox
FROM signed CROSS JOIN flag
"""


def q_rel_pvm_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix revenue bridge, month over month [K: the
    finance-standard explanation of 'why did revenue move' — price
    effect (old volumes at new prices), volume effect (old prices on
    volume change), the cross term, plus new/retired assortment —
    computed at part grain and rolled up]: per month the previous
    and current revenue in exact cents, the five effect components
    in cents, and the residual (nonzero only because per-part unit
    prices are quantized to integer micro-cents before the bridge —
    DIV on both engines, documented; the residual SIZE is the
    honesty meter of that quantization).

    Shape: the orders-lineitem join, one (month, part) agg, a
    month-shifted self-join on part (equi-join), per-month rollup.
    Exact integers end to end."""
    o = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem")
    mp = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
          .select((F.year("o_orderdate") * 12
                   + F.month("o_orderdate") - 1).cast("long")
                  .alias("mn"),
                  F.col("l_partkey").alias("pk"),
                  F.expr("CAST(round(l_extendedprice * 100, 0)"
                         " AS BIGINT)").alias("c"),
                  F.expr("CAST(round(l_quantity, 0) AS BIGINT)")
                  .alias("q"))
          .groupBy("mn", "pk")
          .agg(F.sum("c").cast("long").alias("c"),
               F.sum("q").cast("long").alias("q")))
    cur = mp.select(F.col("mn"), F.col("pk"),
                    F.col("c").alias("c1"), F.col("q").alias("q1"))
    prv = mp.select((F.col("mn") + 1).alias("mn"), F.col("pk"),
                    F.col("c").alias("c0"), F.col("q").alias("q0"))
    j = (cur.join(prv, ["mn", "pk"], "full")
         .select("mn", "pk",
                 F.coalesce("c1", F.lit(0)).cast("long").alias("c1"),
                 F.coalesce("q1", F.lit(0)).cast("long").alias("q1"),
                 F.coalesce("c0", F.lit(0)).cast("long").alias("c0"),
                 F.coalesce("q0", F.lit(0)).cast("long").alias("q0")))
    # integer micro-cent unit prices; effects in exact micro-cents
    eff = j.select(
        "mn", "c0", "c1",
        F.expr("CASE WHEN q0 > 0 AND q1 > 0 THEN"
               " (c1 * 1000000 DIV q1 - c0 * 1000000 DIV q0) * q0"
               " ELSE 0 END").alias("price_u"),
        F.expr("CASE WHEN q0 > 0 AND q1 > 0 THEN"
               " (c0 * 1000000 DIV q0) * (q1 - q0) ELSE 0 END")
        .alias("vol_u"),
        F.expr("CASE WHEN q0 > 0 AND q1 > 0 THEN"
               " (c1 * 1000000 DIV q1 - c0 * 1000000 DIV q0)"
               " * (q1 - q0) ELSE 0 END").alias("cross_u"),
        F.expr("CASE WHEN q0 = 0 AND q1 > 0 THEN c1 * 1000000"
               " ELSE 0 END").alias("new_u"),
        F.expr("CASE WHEN q1 = 0 AND q0 > 0 THEN c0 * 1000000"
               " ELSE 0 END").alias("retired_u"))
    per = (eff.groupBy("mn")
           .agg(F.sum("c0").cast("long").alias("rev0_c"),
                F.sum("c1").cast("long").alias("rev1_c"),
                F.expr("CAST(sum(price_u) DIV 1000000 AS BIGINT)")
                .alias("price_eff_c"),
                F.expr("CAST(sum(vol_u) DIV 1000000 AS BIGINT)")
                .alias("vol_eff_c"),
                F.expr("CAST(sum(cross_u) DIV 1000000 AS BIGINT)")
                .alias("cross_eff_c"),
                F.expr("CAST(sum(new_u) DIV 1000000 AS BIGINT)")
                .alias("new_eff_c"),
                F.expr("CAST(sum(retired_u) DIV 1000000 AS BIGINT)")
                .alias("retired_eff_c")))
    # bound to OBSERVED months: the +1-shifted side would otherwise
    # emit a phantom all-retired month after the series end
    first = mp.agg(F.min("mn").alias("mn0"),
                   F.max("mn").alias("mn_max"))
    return (per.crossJoin(F.broadcast(first))
            .filter((F.col("mn") > F.col("mn0"))
                    & (F.col("mn") <= F.col("mn_max")))
            .select(
                F.format_string("%04d-%02d",
                                F.expr("mn DIV 12").cast("int"),
                                (F.col("mn") % 12 + 1).cast("int"))
                .alias("month"),
                "rev0_c", "rev1_c",
                (F.col("rev1_c") - F.col("rev0_c")).cast("long")
                .alias("delta_c"),
                "price_eff_c", "vol_eff_c", "cross_eff_c",
                "new_eff_c", "retired_eff_c",
                (F.col("rev1_c") - F.col("rev0_c")
                 - F.col("price_eff_c") - F.col("vol_eff_c")
                 - F.col("cross_eff_c") - F.col("new_eff_c")
                 + F.col("retired_eff_c")).cast("long")
                .alias("residual_c")))


def _sql_rel_pvm_bridge() -> str:
    return """
WITH mp AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS mn,
         l_partkey AS pk,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
           AS q
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
j AS (
  SELECT coalesce(cur.mn, prv.mn) AS mn,
         CAST(coalesce(cur.c, 0) AS BIGINT) AS c1,
         CAST(coalesce(cur.q, 0) AS BIGINT) AS q1,
         CAST(coalesce(prv.c, 0) AS BIGINT) AS c0,
         CAST(coalesce(prv.q, 0) AS BIGINT) AS q0
  FROM mp cur
  FULL JOIN (SELECT mn + 1 AS mn, pk, c, q FROM mp) prv
    ON prv.mn = cur.mn AND prv.pk = cur.pk),
eff AS (
  SELECT mn, c0, c1,
         CASE WHEN q0 > 0 AND q1 > 0 THEN
           (c1 * 1000000 // q1 - c0 * 1000000 // q0) * q0
         ELSE 0 END AS price_u,
         CASE WHEN q0 > 0 AND q1 > 0 THEN
           (c0 * 1000000 // q0) * (q1 - q0) ELSE 0 END AS vol_u,
         CASE WHEN q0 > 0 AND q1 > 0 THEN
           (c1 * 1000000 // q1 - c0 * 1000000 // q0) * (q1 - q0)
         ELSE 0 END AS cross_u,
         CASE WHEN q0 = 0 AND q1 > 0 THEN c1 * 1000000
         ELSE 0 END AS new_u,
         CASE WHEN q1 = 0 AND q0 > 0 THEN c0 * 1000000
         ELSE 0 END AS retired_u
  FROM j),
per AS (
  SELECT mn, CAST(sum(c0) AS BIGINT) AS rev0_c,
         CAST(sum(c1) AS BIGINT) AS rev1_c,
         CAST(sum(price_u) // 1000000 AS BIGINT) AS price_eff_c,
         CAST(sum(vol_u) // 1000000 AS BIGINT) AS vol_eff_c,
         CAST(sum(cross_u) // 1000000 AS BIGINT) AS cross_eff_c,
         CAST(sum(new_u) // 1000000 AS BIGINT) AS new_eff_c,
         CAST(sum(retired_u) // 1000000 AS BIGINT) AS retired_eff_c
  FROM eff GROUP BY 1),
first AS (SELECT min(mn) AS mn0, max(mn) AS mn_max FROM mp)
SELECT printf('%04d-%02d', CAST(mn // 12 AS INT),
              CAST(mn % 12 + 1 AS INT)) AS month,
       rev0_c, rev1_c,
       CAST(rev1_c - rev0_c AS BIGINT) AS delta_c,
       price_eff_c, vol_eff_c, cross_eff_c, new_eff_c, retired_eff_c,
       CAST(rev1_c - rev0_c - price_eff_c - vol_eff_c - cross_eff_c
            - new_eff_c + retired_eff_c AS BIGINT) AS residual_c
FROM per CROSS JOIN first
WHERE mn > mn0 AND mn <= mn_max
"""


def q_rel_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way variance decomposition with INTERACTION [K: one-way
    eta^2 (rel_anova) misses the cases where a factor only matters
    inside another's levels — weekend orders may price differently
    ONLY for urgent priorities; SS_interaction = SS_cells - SS_A -
    SS_B is the classic detection]: one row per component (factor_a
    = weekend flag, factor_b = order priority, interaction, cells)
    with the exact integer sum bookkeeping and the eta^2 share of
    total variance (round 6). Between-group terms fold S^2/n in
    DETERMINISTIC group order (bounded cells: 2 x 5).

    Shape: ONE (cell) hash agg on the corpus; every SS derives from
    the 10-cell table via ordered folds. Whole-dollar integers (the
    rel_anova overflow trade)."""
    o = _tbl(spark, sf_dir, "orders")
    cells = (o.select(
        (F.expr("weekday(CAST(o_orderdate AS DATE))") >= 5)
        .cast("int").alias("a"),
        F.col("o_orderpriority").alias("b"),
        F.expr("CAST(round(o_totalprice, 0) AS BIGINT)").alias("d"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("ng"),
             F.sum("d").cast("long").alias("sg"),
             F.sum(F.col("d") * F.col("d")).cast("long")
             .alias("ssg")))

    def fold(groupcols):
        # sum of S^2/n over groups defined by groupcols, ordered fold
        g = (cells.groupBy(*groupcols)
             .agg(F.sum("sg").cast("long").alias("s"),
                  F.sum("ng").cast("long").alias("n")))
        key = F.concat_ws("|", *[F.col(c).cast("string")
                                 for c in groupcols])
        return (g.agg(F.aggregate(
            F.sort_array(F.collect_list(F.struct(
                key.alias("k"), F.col("s"), F.col("n")))),
            F.lit(0.0),
            lambda acc, x: acc + x.s.cast("double")
            * x.s.cast("double") / x.n.cast("double"))
            .alias("v")))

    tot = cells.agg(F.sum("ng").cast("long").alias("n"),
                    F.sum("sg").cast("long").alias("s"),
                    F.sum("ssg").cast("long").alias("ss"))
    fa = fold(["a"]).select(F.col("v").alias("fa"))
    fb = fold(["b"]).select(F.col("v").alias("fb"))
    fc = fold(["a", "b"]).select(F.col("v").alias("fc"))
    j = (tot.crossJoin(F.broadcast(fa)).crossJoin(F.broadcast(fb))
         .crossJoin(F.broadcast(fc)))
    grand = (F.col("s").cast("double") * F.col("s").cast("double")
             / F.col("n").cast("double"))
    sst = F.col("ss").cast("double") - grand
    ss_a = F.col("fa") - grand
    ss_b = F.col("fb") - grand
    ss_cells = F.col("fc") - grand
    ss_int = ss_cells - ss_a - ss_b
    rows = [
        ("factor_weekend", ss_a), ("factor_priority", ss_b),
        ("interaction", ss_int), ("cells_total", ss_cells),
    ]
    outs = []
    for name, expr in rows:
        outs.append(j.select(
            F.lit(name).alias("component"),
            F.col("n"),
            F.round(expr, 6).alias("ss"),
            F.round(expr / sst, 6).alias("eta2")))
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def _sql_rel_interaction() -> str:
    fold = ("coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            " list_transform(list(struct_pack(k := {key}, s := s,"
            " n := n) ORDER BY {key}), x -> CAST(x.s AS DOUBLE)"
            " * CAST(x.s AS DOUBLE) / CAST(x.n AS DOUBLE))),"
            " (a, b) -> a + b), 0.0)")
    return f"""
WITH cells AS (
  SELECT CAST(CASE WHEN isodow(CAST(o_orderdate AS DATE)) >= 6
              THEN 1 ELSE 0 END AS INT) AS a,
         o_orderpriority AS b,
         CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
           AS sg,
         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)
                  * CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
           AS ssg
  FROM orders GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s,
         CAST(sum(ssg) AS BIGINT) AS ss
  FROM cells),
fa AS (
  SELECT {fold.format(key="CAST(a AS VARCHAR)")} AS v
  FROM (SELECT a, CAST(sum(sg) AS BIGINT) AS s,
               CAST(sum(ng) AS BIGINT) AS n FROM cells GROUP BY 1)),
fb AS (
  SELECT {fold.format(key="b")} AS v
  FROM (SELECT b, CAST(sum(sg) AS BIGINT) AS s,
               CAST(sum(ng) AS BIGINT) AS n FROM cells GROUP BY 1)),
fc AS (
  SELECT {fold.format(key="CAST(a AS VARCHAR) || '|' || b")} AS v
  FROM (SELECT a, b, CAST(sum(sg) AS BIGINT) AS s,
               CAST(sum(ng) AS BIGINT) AS n FROM cells GROUP BY 1, 2)),
j AS (
  SELECT n, s, ss, fa.v AS fa, fb.v AS fb, fc.v AS fc
  FROM tot CROSS JOIN fa CROSS JOIN fb CROSS JOIN fc),
base AS (
  SELECT 'factor_weekend' AS component, n,
         fa - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / CAST(n AS DOUBLE) AS ssv,
         ss, s, fa, fb, fc FROM j
  UNION ALL
  SELECT 'factor_priority', n,
         fb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / CAST(n AS DOUBLE), ss, s, fa, fb, fc FROM j
  UNION ALL
  SELECT 'interaction', n,
         (fc - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n AS DOUBLE))
         - (fa - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE))
         - (fb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)), ss, s, fa, fb, fc FROM j
  UNION ALL
  SELECT 'cells_total', n,
         fc - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / CAST(n AS DOUBLE), ss, s, fa, fb, fc FROM j)
SELECT component, n, round(ssv, 6) AS ss,
       round(ssv / (CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE)), 6) AS eta2
FROM base
"""


def q_rel_calendar_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-month calendar-effect profile [K: billing cycles,
    payday spikes and month-end batch jobs all show as day-of-month
    structure that day-of-week seasonality misses]: per day-of-month
    the order count, share in exact ppm, lift vs the uniform
    expectation (days 29-31 occur in fewer months — the expectation
    weights by how often each dom EXISTS in the observed span,
    computed from the gap-filled calendar), and a MAD-fenced spike
    flag on the lift.

    Shape: one daily hash agg, a calendar-bounded gap-fill for the
    dom-frequency weights, one 31-row profile, the doubled-integer
    MAD fence. Exact integers."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(F.explode(F.expr("sequence(d0, d1)"))
                      .alias("day"))
    domc = (cal.select(F.dayofmonth("day").cast("int").alias("dom"))
            .groupBy("dom")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days")))
    per = (daily.select(F.dayofmonth("day").cast("int").alias("dom"),
                        "x")
           .groupBy("dom")
           .agg(F.sum("x").cast("long").alias("n_orders")))
    tot = per.agg(F.sum("n_orders").cast("long").alias("n_tot"))
    caltot = domc.agg(F.sum("n_days").cast("long").alias("cal_tot"))
    j = (per.join(F.broadcast(domc), "dom")
         .crossJoin(F.broadcast(tot))
         .crossJoin(F.broadcast(caltot))
         # lift ppm = (n_orders/n_tot) / (n_days/cal_tot)
         .withColumn("lift_ppm", F.expr(
             "n_orders * cal_tot * 1000000 DIV (n_tot * n_days)")
             .cast("long")))
    m1 = j.agg(F.expr("CAST(percentile(lift_ppm * 2, 0.5) AS BIGINT)")
               .alias("med2"))
    dv = (j.crossJoin(F.broadcast(m1))
          .withColumn("dev2", F.abs(2 * F.col("lift_ppm")
                                    - F.col("med2"))))
    m2 = dv.agg(F.expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)")
                .alias("mad4"))
    return (dv.crossJoin(F.broadcast(m2))
            .select("dom", "n_orders", "n_days",
                    F.expr("n_orders * 1000000 DIV n_tot")
                    .cast("long").alias("share_ppm"),
                    "lift_ppm",
                    F.expr("CASE WHEN dev2 * 10000 > 22239 * mad4"
                           " THEN 1 ELSE 0 END").cast("int")
                    .alias("is_spike")))


def _sql_rel_calendar_effects() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
cal AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
              AS DATE) AS day
  FROM span),
domc AS (
  SELECT CAST(day(day) AS INT) AS dom,
         CAST(count(*) AS BIGINT) AS n_days
  FROM cal GROUP BY 1),
per AS (
  SELECT CAST(day(day) AS INT) AS dom,
         CAST(sum(x) AS BIGINT) AS n_orders
  FROM daily GROUP BY 1),
tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_tot FROM per),
caltot AS (SELECT CAST(sum(n_days) AS BIGINT) AS cal_tot FROM domc),
j AS (
  SELECT per.dom, n_orders, n_days,
         CAST(n_orders * cal_tot * 1000000 // (n_tot * n_days)
              AS BIGINT) AS lift_ppm,
         n_tot
  FROM per JOIN domc USING (dom)
  CROSS JOIN tot CROSS JOIN caltot),
m1 AS (SELECT CAST(quantile_cont(lift_ppm * 2, 0.5) AS BIGINT)
         AS med2 FROM j),
dv AS (
  SELECT j.*, abs(2 * lift_ppm - med2) AS dev2, med2
  FROM j CROSS JOIN m1),
m2 AS (SELECT CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
       FROM dv)
SELECT dom, n_orders, n_days,
       CAST(n_orders * 1000000 // n_tot AS BIGINT) AS share_ppm,
       lift_ppm,
       CAST(CASE WHEN dev2 * 10000 > 22239 * mad4
            THEN 1 ELSE 0 END AS INT) AS is_spike
FROM dv CROSS JOIN m2
"""
