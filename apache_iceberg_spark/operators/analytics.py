"""Headline analytics queries: TPC-H-style aggregations/joins, window
functions, and scalar-function coverage (SURVEY.md §2.7/§2.8 headroom).

These are the bench workload. Determinism across engines (registry rules):
money aggregates run on exact integer cents and are scaled back by an
identical final division, so Spark and DuckDB agree bitwise.

Scale notes:
- q1/q5/q6 are single-shuffle partial+final hash aggs over the fact table.
- q3/q5 join small filtered sides to lineitem; dims broadcast explicitly.
- Window queries shuffle once on the partition key; the sort within
  partitions is local.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from apache_iceberg_spark.registry import register
from apache_iceberg_spark.tables import load_table


def _cents(col: F.Column, scale: int = 100) -> F.Column:
    """Exact integer representation of a fixed-decimal double."""
    return F.round(col * scale).cast("long")


# ---------------------------------------------------------------------------
# TPC-H-style headline queries
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0 AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: the classic scan-heavy partial+final "
    "hash agg. At 100 TB: one shuffle of ~6 groups; everything else is "
    "map-side. Money math on exact cents (registry determinism rules).",
    tags=("bench", "aggregate", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    qty_c = _cents(F.col("l_quantity"))
    base_c = _cents(F.col("l_extendedprice"))
    disc_c = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
    charge_c = _cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
        1000000,
    )
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(base_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(disc_c).cast("double") / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_c).cast("double") / 1000000.0).alias("sum_charge"),
            (F.sum(qty_c).cast("double") / F.count("*") / 100.0).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_orders",
    oracle="""
        SELECT l_orderkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
               o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1996-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    doc="TPC-H Q3-style top revenue orders: filtered dims join the fact, "
    "top-k via TakeOrderedAndProject. The filtered customer side is small "
    "→ broadcast; lineitem never moves until the final 10-row sort.",
    tags=("bench", "join", "topk"),
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    rev_c = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
    return (
        l.join(
            F.broadcast(
                o.join(
                    F.broadcast(c), o["o_custkey"] == c["c_custkey"]
                ).select("o_orderkey", "o_orderdate")
            ),
            l["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(rev_c).cast("double") / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_revenue_by_nation",
    oracle="""
        SELECT n_name AS nation,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY n_name
        ORDER BY revenue DESC, nation
    """,
    doc="TPC-H Q5-style revenue rollup by customer nation. nation broadcasts; "
    "orders⋈customer then lineitem⋈orders shuffle on their keys — AQE "
    "coalesces the post-shuffle partitions.",
    tags=("bench", "join", "aggregate"),
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    rev_c = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(rev_c).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.02 AND 0.09
          AND l_quantity < 24.0
    """,
    doc="TPC-H Q6-style forecasting query: pure pushed-down range filters + "
    "one scalar aggregate. The ideal plan is a single map stage; all four "
    "predicates appear in PushedFilters.",
    tags=("bench", "filter", "aggregate"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rev_c = _cents(F.col("l_extendedprice") * F.col("l_discount"), 10000)
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.09)
        & (F.col("l_quantity") < 24.0)
    ).agg((F.sum(rev_c).cast("double") / 10000.0).alias("revenue"))


# ---------------------------------------------------------------------------
# Window functions (SURVEY.md §2.8 — absent from the reference, added as
# first-class headroom)
# ---------------------------------------------------------------------------


@register(
    "w1_rank_orders",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    doc="Top-3 orders per customer via ROW_NUMBER. One shuffle on o_custkey, "
    "local sort inside partitions; unique o_orderkey tiebreak keeps it "
    "deterministic.",
    tags=("window",),
)
def w1_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "w2_running_total",
    oracle="""
        SELECT user_id, event_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS running_cents
        FROM events
    """,
    doc="Running total per user (cumulative frame). Summed on exact cents: "
    "window-aggregation trees differ between engines, so float running "
    "sums would not be bitwise stable.",
    tags=("window",),
)
def w2_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(_cents(F.col("value"))).over(w).alias("running_cents"),
    )


@register(
    "w3_lag_delta",
    oracle="""
        SELECT user_id, event_id,
               CAST(EPOCH(ts) * 1000000 AS BIGINT)
                 - LAG(CAST(EPOCH(ts) * 1000000 AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS micros_since_prev
        FROM events
    """,
    doc="Inter-event gap per user via LAG on microsecond epochs (integer — "
    "exact).",
    tags=("window",),
)
def w3_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)).alias(
            "micros_since_prev"
        ),
    )


# ---------------------------------------------------------------------------
# Scalar-function coverage (SURVEY.md §2.7: none used by the reference —
# exposed as engine surface)
# ---------------------------------------------------------------------------


@register(
    "f1_string_funcs",
    oracle="""
        SELECT c_custkey,
               UPPER(c_name) AS name_upper,
               LOWER(c_mktsegment) AS seg_lower,
               LENGTH(c_name) AS name_len,
               SUBSTR(c_name, 1, 8) AS name_prefix,
               CONCAT(c_name, ':', c_mktsegment) AS name_seg,
               REPLACE(c_name, '#', '-') AS name_dash,
               TRIM(c_name) AS name_trim
        FROM customer
    """,
    doc="String function surface: upper/lower/length/substr/concat/replace/"
    "trim — all whole-stage-codegen JVM expressions.",
    tags=("functions",),
)
def f1_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "c_name", "c_mktsegment").alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dash"),
        F.trim("c_name").alias("name_trim"),
    )


@register(
    "f2_date_funcs",
    oracle="""
        SELECT o_orderkey,
               YEAR(o_orderdate) AS order_year,
               MONTH(o_orderdate) AS order_month,
               DAY(o_orderdate) AS order_day,
               CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
        FROM orders
    """,
    doc="Date/time function surface: year/month/day/date_trunc/cast-to-date. "
    "The DATE column is emitted as its ISO string: pandas materializes "
    "Spark dates as object-dtype datetime.date but DuckDB dates as "
    "datetime64, a dtype gap in pandas-based differential harnesses.",
    tags=("functions",),
)
def f2_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_date"),
    )


@register(
    "f3_math_funcs",
    oracle="""
        SELECT c_custkey,
               ABS(c_acctbal) AS bal_abs,
               CAST(CEIL(c_acctbal) AS BIGINT) AS bal_ceil,
               CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_floor,
               SQRT(ABS(c_acctbal)) AS bal_sqrt,
               CAST(c_custkey % 7 AS BIGINT) AS key_mod
        FROM customer
    """,
    doc="Math function surface restricted to IEEE-exact ops (abs/ceil/floor/"
    "sqrt/mod) so both engines agree bitwise.",
    tags=("functions",),
)
def f3_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.abs("c_acctbal").alias("bal_abs"),
        F.ceil("c_acctbal").alias("bal_ceil"),
        F.floor("c_acctbal").alias("bal_floor"),
        F.sqrt(F.abs("c_acctbal")).alias("bal_sqrt"),
        (F.col("c_custkey") % 7).cast("long").alias("key_mod"),
    )


@register(
    "f4_case_expr",
    oracle="""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'mid'
                    ELSE 'high' END AS bal_bucket
        FROM customer
    """,
    doc="CASE WHEN bucketing.",
    tags=("functions",),
)
def f4_case_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_bucket"),
    )


@register(
    "f5_null_handling",
    oracle="""
        SELECT o_orderkey,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
               (o_orderstatus IS NULL) AS status_is_null
        FROM orders
    """,
    doc="NULL-handling surface: coalesce/nullif/is-null.",
    tags=("functions",),
)
def f5_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_or_open"),
        F.isnull("o_orderstatus").alias("status_is_null"),
    )


@register(
    "w8_distribution_ranks",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               ntile(4) OVER w AS balance_quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT),
                              c_custkey)
    """,
    doc="Distribution-rank windows — ntile / percent_rank / cume_dist "
    "per market segment over account balance, the remaining §2.8 "
    "ranking family beyond w1's rank/dense_rank. Total order via "
    "(exact-cents balance, custkey) so quartile boundaries and the "
    "rank fractions are engine-identical; the fractions themselves are "
    "small-integer ratios, bitwise-equal as doubles. One shuffle on "
    "the segment, one sort — the same plan shape at any scale.",
    tags=("window", "ranking"),
)
def w8_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.round(F.col("c_acctbal") * 100).cast("long"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --- a21: exact-moment correlation ------------------------------------------


@register(
    "a21_correlation",
    oracle="""
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
                        AS HUGEINT) AS sx,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS HUGEINT) AS sy,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
                        * CAST(ROUND(l_quantity * 100) AS BIGINT))
                        AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS HUGEINT) AS syy,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
                        * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS HUGEINT) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                   AS corr_qty_price
        FROM m
    """,
    doc="Pearson CORRELATION from exact integer moments — the "
    "determinism recipe for second-order statistics: F.corr's running "
    "float accumulation is partition-order-dependent, so instead the "
    "five moments (n, Sx, Sy, Sxx, Syy, Sxy) accumulate EXACTLY in "
    "cent units — Spark sums into DECIMAL(38,0), DuckDB into HUGEINT, "
    "both exact integers that agree digit-for-digit — and the corr "
    "formula runs as per-row float math on those exact inputs "
    "(correctly-rounded casts + sqrt, identical op order on both "
    "engines, so bitwise-equal results). One shuffle (the group-by); "
    "moments merge associatively so map-side partial aggregation does "
    "most of the work. Digit budget: Syy sums (1e7 cents)^2 per row — "
    "~1e14/row — so int64 dies at ~1e4 rows while DECIMAL(38,0) holds "
    "to ~1e24 rows; the cross products n*Syy peak ~10^33 at 100 TB "
    "scale, still inside the 38-digit envelope.",
    tags=("aggregate", "statistics"),
)
def a21_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    xc = F.round(F.col("l_quantity") * 100).cast("long")
    yc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = "decimal(38,0)"
    m = l.select(
        "l_returnflag",
        xc.alias("x"),
        yc.alias("y"),
    ).groupBy("l_returnflag").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast(dec).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast(dec).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast(dec).alias("sxy"),
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        (
            F.expr("CAST(n * sxy - sx * sy AS DOUBLE)")
            / (
                F.expr("sqrt(CAST(n * sxx - sx * sx AS DOUBLE))")
                * F.expr("sqrt(CAST(n * syy - sy * sy AS DOUBLE))")
            )
        ).alias("corr_qty_price"),
    )


# --- a22: count-min sketch heavy hitters ------------------------------------

CM_DEPTH = 4   # independent hash rows
CM_WIDTH = 64  # buckets per row

#: One-digest lane mixing for the count-min family (round 14, VERDICT
#: r13 ask #2 — a43's §one-digest-lanes recipe applied to a22/a23): the
#: r7 spelling evaluated md5('cm' || d || ':' || key) per (row, depth) —
#: 4 md5 + 15-hex folds PER ROW, the bench's two slowest stat AUX
#: entries. Now: ONE md5 per row, three 32-bit coefficients off the
#: digest (the a43 windows), and depth d's bucket comes from the
#: degree-2 polynomial (ca + cb*d + cc*d^2) mod P — 3-wise independent
#: across depths, every intermediate < 2^36, bitwise-identical on Spark
#: and DuckDB. P = 2^31 - 1 (Mersenne), same as A43_MIX_PRIME.
CM_MIX_PRIME = 2_147_483_647

#: The per-(row, depth) lane value BEFORE width reduction. Width
#: nesting: A23_WIDTHS are all powers of two dividing 128, so
#: bucket_w = (lane % 128) % w — one corpus pass serves every width.
_CM_LANE = f"((ca + cb * d + cc * d * d) % {CM_MIX_PRIME})"


def _cm_coef_duck(off: int) -> str:
    return (
        "list_reduce([strpos('0123456789abcdef', x) - 1 "
        f"for x in regexp_extract_all(substr(h, {off}, 8), '.')], "
        "(a, b) -> a * 16 + b)"
    )


def _cm_coef_spark(off: int) -> str:
    return f"CAST(CONV(SUBSTRING(h, {off}, 8), 16, 10) AS BIGINT)"


_CM_COEF_DUCK = (
    f"{_cm_coef_duck(1)} AS ca, {_cm_coef_duck(9)} AS cb, "
    f"{_cm_coef_duck(17)} AS cc"
)
_CM_COEF_SPARK = [
    f"{_cm_coef_spark(1)} AS ca",
    f"{_cm_coef_spark(9)} AS cb",
    f"{_cm_coef_spark(17)} AS cc",
]


def _cm_oracle() -> str:
    # Cell count = SUM of exact per-key counts over keys hashing to the
    # cell — identical to the per-row stream build (hashing is
    # key-functional), so the sketch assembles from the keyed partial
    # aggregate: #keys md5 evaluations, not #rows.
    return f"""
        WITH keys AS (
            SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM lineitem GROUP BY l_suppkey
        ),
        kb AS (
            SELECT l_suppkey, exact_cnt, d,
                   {_CM_LANE} % {CM_WIDTH} AS bucket
            FROM (
                SELECT l_suppkey, exact_cnt, {_CM_COEF_DUCK}
                FROM (
                    SELECT l_suppkey, exact_cnt,
                           md5(CAST(l_suppkey AS VARCHAR)) AS h
                    FROM keys
                )
            ), generate_series(0, {CM_DEPTH - 1}) AS g(d)
        ),
        cells AS (
            SELECT d, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS cnt
            FROM kb GROUP BY 1, 2
        ),
        est AS (
            SELECT kb.l_suppkey, kb.exact_cnt,
                   CAST(MIN(cc.cnt) AS BIGINT) AS cm_estimate
            FROM kb
            JOIN cells cc ON cc.d = kb.d AND cc.bucket = kb.bucket
            GROUP BY kb.l_suppkey, kb.exact_cnt
        )
        SELECT l_suppkey, exact_cnt, cm_estimate,
               cm_estimate - exact_cnt AS overestimate
        FROM est
    """


@register(
    "a22_countmin_heavy_hitters",
    oracle=_cm_oracle(),
    doc=f"COUNT-MIN sketch frequency estimation — the classic streaming "
    f"sketch, built distributed: {CM_DEPTH} independent hash rows x "
    f"{CM_WIDTH} buckets accumulate per-cell counts in one group-by "
    "(map-side partial aggregation does the heavy lifting; the sketch "
    "is CONSTANT-SIZE and mergeable by cell-wise addition, which is "
    "the whole point — at 100 TB every executor folds its partitions "
    "into a 256-cell grid and the merge is free), then every key's "
    "estimate = min over rows of its bucket's count. The output joins "
    "estimates against exact per-key counts, exposing the sketch's "
    "one-sided error (overestimate >= 0 always — collisions only ADD; "
    "pytest pins the guarantee). Hash budget (round 14, VERDICT r13 "
    "ask #2): a cell's count is the SUM of exact counts over the keys "
    "hashing into it — identical to the per-row stream build, because "
    "the hash is key-functional — so the sketch assembles from the "
    "keyed partial aggregate: ONE md5 per DISTINCT KEY (not 4 per "
    "row, the r7 spelling), with the 4 depth lanes counter-mixed off "
    "that digest via a43's degree-2 polynomial family (SCALE_NOTES "
    "§one-digest-lanes). The corpus is touched exactly once, by the "
    "exact-count group-by it needed anyway.",
    tags=("aggregate", "sketch", "streaming"),
)
def a22_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    keys = l.groupBy("l_suppkey").agg(F.count("*").alias("exact_cnt"))
    return _countmin_estimates(keys, "l_suppkey")


def _countmin_estimates(keys: DataFrame, key_col: str) -> DataFrame:
    """The count-min sketch + estimates from a (key, exact_cnt) frame —
    shared by batch a22 and streaming st33 (the per-key counts are the
    mergeable sufficient statistic; the sketch assembles from them
    because the hash is key-functional). One md5 per key, lanes
    counter-mixed (SCALE_NOTES §hash-budget)."""
    kb = (
        keys.select(
            key_col, "exact_cnt",
            F.md5(F.col(key_col).cast("string")).alias("h"),
        )
        .selectExpr(key_col, "exact_cnt", *_CM_COEF_SPARK)
        .select(
            key_col, "exact_cnt",
            F.explode(F.expr(f"sequence(0, {CM_DEPTH - 1})")).alias("d"),
            F.col("ca"), F.col("cb"), F.col("cc"),
        )
        .select(
            key_col, "exact_cnt", "d",
            F.expr(f"{_CM_LANE} % {CM_WIDTH}").alias("bucket"),
        )
    )
    cells = kb.groupBy("d", "bucket").agg(
        F.sum("exact_cnt").alias("cnt")
    )
    return (
        kb.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy(key_col, "exact_cnt")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            key_col,
            "exact_cnt",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_cnt")).alias(
                "overestimate"
            ),
        )
    )


# --- a23: count-min width tuning curve --------------------------------------

A23_WIDTHS = [16, 32, 64, 128]


A23_MAXW = max(A23_WIDTHS)


def _a23_oracle() -> str:
    # ONE corpus pass: the 128-bucket grid is exact for every narrower
    # power-of-two width (bucket_w = b128 % w — nested buckets), so the
    # per-width cells are 512-row rollups, not corpus rescans.
    parts = []
    for w in A23_WIDTHS:
        parts.append(f"""
        SELECT {w} AS width, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(est - exact_cnt) AS BIGINT) AS total_overestimate,
               CAST(MAX(est - exact_cnt) AS BIGINT) AS max_overestimate,
               CAST(SUM(CASE WHEN est = exact_cnt THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact
        FROM (
            SELECT kb.l_suppkey, kb.exact_cnt, MIN(cw.cnt) AS est
            FROM kb
            JOIN (
                SELECT d, b128 % {w} AS bucket, SUM(cnt) AS cnt
                FROM c128 GROUP BY 1, 2
            ) cw ON cw.d = kb.d AND cw.bucket = kb.b128 % {w}
            GROUP BY kb.l_suppkey, kb.exact_cnt
        )""")
    body = " UNION ALL ".join(parts)
    return f"""
        WITH keys AS (
            SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM lineitem GROUP BY l_suppkey
        ),
        kb AS (
            SELECT l_suppkey, exact_cnt, d,
                   {_CM_LANE} % {A23_MAXW} AS b128
            FROM (
                SELECT l_suppkey, exact_cnt, {_CM_COEF_DUCK}
                FROM (
                    SELECT l_suppkey, exact_cnt,
                           md5(CAST(l_suppkey AS VARCHAR)) AS h
                    FROM keys
                )
            ), generate_series(0, {CM_DEPTH - 1}) AS g(d)
        ),
        c128 AS (
            SELECT d, b128, CAST(SUM(exact_cnt) AS BIGINT) AS cnt
            FROM kb GROUP BY 1, 2
        )
        {body}
    """


@register(
    "a23_countmin_width_curve",
    oracle=_a23_oracle(),
    doc="COUNT-MIN width TUNING CURVE — dd18's measure-don't-guess "
    f"methodology applied to a22's sketch: for widths {A23_WIDTHS} "
    f"(all at depth {CM_DEPTH}), the total/max overestimate and the "
    "count of exactly-estimated keys against ground truth. The "
    "epsilon ~ corpus_size/width theory says error halves per width "
    "doubling — this measures where THIS key distribution actually "
    "lands, which is the evidence behind a22's 64-bucket operating "
    "point (pytest asserts the monotone improvement). Hash budget "
    "(round 14, VERDICT r13 ask #2): the widths are nested powers of "
    "two, so ONE corpus pass builds the 128-bucket grid (one md5 per "
    "row, a43's counter-mixed depth lanes) and every narrower width's "
    "cells are 512-row rollups of it (bucket_w = b128 %% w) — the r7 "
    "spelling rescanned the corpus per width with 4 md5s per row, "
    "16 corpus-width hash passes where this does one.",
    tags=("aggregate", "sketch", "evaluation", "report"),
)
def a23_countmin_width_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    keys = l.groupBy("l_suppkey").agg(
        F.count("*").alias("exact_cnt")
    )
    kb = (
        keys.select(
            "l_suppkey", "exact_cnt",
            F.md5(F.col("l_suppkey").cast("string")).alias("h"),
        )
        .selectExpr("l_suppkey", "exact_cnt", *_CM_COEF_SPARK)
        .select(
            "l_suppkey", "exact_cnt",
            F.explode(F.expr(f"sequence(0, {CM_DEPTH - 1})")).alias("d"),
            F.col("ca"), F.col("cb"), F.col("cc"),
        )
        .select(
            "l_suppkey", "exact_cnt", "d",
            F.expr(f"{_CM_LANE} % {A23_MAXW}").alias("b128"),
        )
        .persist()  # plan-cache: keys x depths after the ONE corpus
        # pass; tiny, referenced by every width's branch of the
        # returned lazy union (released via release_plan_caches)
    )
    c128 = kb.groupBy("d", "b128").agg(F.sum("exact_cnt").alias("cnt"))
    out = None
    for w in A23_WIDTHS:
        cells = (
            c128.groupBy("d", (F.col("b128") % w).alias("bucket"))
            .agg(F.sum("cnt").alias("cnt"))
        )
        est = (
            kb.select(
                "l_suppkey", "exact_cnt", "d",
                (F.col("b128") % w).alias("bucket"),
            )
            .join(F.broadcast(cells), ["d", "bucket"])
            .groupBy("l_suppkey", "exact_cnt")
            .agg(F.min("cnt").alias("est"))
        )
        row = est.agg(
            F.lit(w).alias("width"),
            F.count("*").alias("n_keys"),
            F.sum(F.col("est") - F.col("exact_cnt")).alias(
                "total_overestimate"
            ),
            F.max(F.col("est") - F.col("exact_cnt")).alias(
                "max_overestimate"
            ),
            F.sum(
                F.when(F.col("est") == F.col("exact_cnt"), 1).otherwise(0)
            ).alias("n_exact"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- w10: gaps and islands --------------------------------------------------


@register(
    "w10_gap_islands",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events
        ),
        grp AS (
            SELECT user_id, day,
                   day - CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY day
                   ) AS INT) AS island_key
            FROM days
        ),
        islands AS (
            SELECT user_id, island_key,
                   CAST(COUNT(*) AS BIGINT) AS streak_days,
                   MIN(day) AS streak_start
            FROM grp GROUP BY user_id, island_key
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX(streak_days) AS BIGINT) AS longest_streak,
               CAST(MIN(streak_start) AS VARCHAR) AS first_active_day
        FROM islands GROUP BY user_id
    """,
    doc="GAPS-AND-ISLANDS — the canonical consecutive-run grouping "
    "(login-streak analytics) the window family lacked: distinct "
    "active days per user, then the date-minus-row_number trick maps "
    "every maximal run of consecutive days to one constant island "
    "key (both sequences advance by 1 inside a run, so their "
    "difference is invariant — and jumps at every gap), one group-by "
    "per island, one rollup per user. Two shuffles total on user_id "
    "— the window and both aggregates reuse the same partitioning, "
    "which AQE keeps co-located; contrast ts2's time-gap "
    "sessionization, which islands by arbitrary inactivity gaps "
    "where this islands by calendar adjacency.",
    tags=("window", "timeseries", "analytics"),
)
def w10_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"), F.row_number().over(w)
        ).alias("island_key"),
    )
    islands = grp.groupBy("user_id", "island_key").agg(
        F.count("*").alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    return islands.groupBy("user_id").agg(
        F.count("*").alias("n_streaks"),
        F.max("streak_days").alias("longest_streak"),
        # ISO string: the driver's hasher canonicalizes dates differently
        # per engine (datetime64 vs object) — serialize on both sides
        F.min("streak_start").cast("string").alias("first_active_day"),
    )


# --- a24: exact Gini impurity / diversity report ------------------------------

A24_MICRO = 1_000_000


@register(
    "a24_gini_diversity",
    oracle=f"""
        WITH cells AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
            FROM documents GROUP BY source, lang
        ),
        g AS (
            SELECT source,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * c) AS BIGINT) AS ss,
                   CAST(COUNT(*) AS BIGINT) AS n_langs
            FROM cells GROUP BY source
        )
        SELECT source, n AS n_docs, n_langs,
               CAST((CAST(n AS HUGEINT) * n - ss) * {A24_MICRO}
                    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gini_micro,
               CAST(CAST(ss AS HUGEINT) * {A24_MICRO}
                    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS hhi_micro
        FROM g
    """,
    doc="Per-source language-diversity report: EXACT Gini impurity "
    "1 − Σp² and Herfindahl concentration Σp² in BIGINT micro-units — "
    "the log-free substitutes for Shannon entropy (libm ln is banned "
    "by the repo's bitwise-parity rules; Gini is the standard "
    "impurity stand-in, cf. CART vs ID3) for monitoring corpus "
    "mixture balance per source. Integer form: (n² − Σc²)·1e6 // n², "
    "computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — n²·1e6 "
    "overflows BIGINT at just n ≈ 3e6 docs/source (round-8 review: the "
    "first cut's BIGINT math and its 'n ≤ 3e9' doc both missed the 1e6 "
    "factor); the 38-digit types hold to n ≈ 1e16. Only the final "
    "micro quotients (≤ 1e6) cast back to BIGINT. Scale: one "
    "partial+final agg to "
    "(source, lang) cells, then a cell-level fold — the corpus "
    "shuffles once and the second agg touches ≤ |sources|·|langs| "
    "rows.",
    tags=("analytics", "llm", "report"),
)
def a24_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c")
    )
    g = cells.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        F.count("*").cast("long").alias("n_langs"),
    )
    nd = "CAST(n AS DECIMAL(38,0))"
    sd_ = "CAST(ss AS DECIMAL(38,0))"
    return g.select(
        "source",
        F.col("n").alias("n_docs"),
        "n_langs",
        F.expr(
            f"CAST(({nd} * n - ss) * {A24_MICRO} DIV ({nd} * n) AS BIGINT)"
        ).alias("gini_micro"),
        F.expr(
            f"CAST({sd_} * {A24_MICRO} DIV ({nd} * n) AS BIGINT)"
        ).alias("hhi_micro"),
    )


# --- a25: exact two-sample KS drift statistic ---------------------------------

A25_SPLIT_NUM, A25_SPLIT_DEN = 4, 5  # reference = first 80% of event ids
A25_MICRO = 1_000_000
A25_ALARM_MICRO = 100_000  # drift alarm at D > 0.1
#: Support-size ceiling for the exact branch: the CDF cumsum is a
#: deliberately unpartitioned window over DISTINCT support cells, so a
#: high-cardinality metric must not funnel its full support through one
#: task. Above this, values pre-quantize to a fixed A25_GRID-cell grid.
A25_MAX_SUPPORT = 2_000_000
A25_GRID = 65_536


def _a25_quantize_if_needed(v: DataFrame) -> tuple[DataFrame, int]:
    """The pre-quantization GUARD the a25 docstring used to leave as
    advice (round-8 review): one cheap pre-pass measures the support
    (approx_count_distinct + min/max ride the same map-side job); if the
    distinct-value support exceeds A25_MAX_SUPPORT, values snap to the
    left edge of a fixed {A25_GRID}-cell grid before the cumsum, bounding
    the single-task window at A25_GRID cells at ANY cardinality.

    Returns (values frame, step). step == 1 ⇒ exact branch (the driver
    fixture's centi-value support is bounded, so its oracle is untouched).
    Error bound for the quantized branch: the grid CDF is the true CDF
    evaluated at grid edges, so D_grid <= D <= D_grid + max over cells of
    (cell_mass_ref/n_ref + cell_mass_new/n_new) — for each side, moving
    the evaluation point to the cell edge changes F by at most the cell's
    own mass (test_round9_ops proves the bound on a 10M-distinct input)."""
    stats = v.agg(
        F.approx_count_distinct("v").alias("ndv"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()[0]
    if stats["ndv"] is None or stats["ndv"] <= A25_MAX_SUPPORT:
        return v, 1
    span = int(stats["hi"]) - int(stats["lo"]) + 1
    step = -(-span // A25_GRID)  # ceil
    lo = int(stats["lo"])
    vq = v.select(
        F.expr(f"{lo} + ((v - {lo}) DIV {step}) * {step}").alias("v"),
        "is_ref",
    )
    return vq, step


def bound_int_support(
    per_v: DataFrame,
    value_col: str = "v",
    cnt_col: str = "cnt",
    group_cols: tuple[str, ...] = (),
    extra_sum_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, int]:
    """The a25/a27 quantization gate as a SHARED guard for every
    distinct-value cumsum recipe (VERDICT r10 ask #5): any operator
    funneling a per-value frame through an ``orderBy(value)`` window —
    w12's weighted median, w15's MAD, ts22's slope median — caps the
    single-task (or single-task-per-group) window at A25_GRID cells.
    One cheap pre-pass (approx_count_distinct + min/max in one map-side
    job) measures the INTEGER support; at or under A25_MAX_SUPPORT the
    frame passes through untouched (step 1 — every registered oracle
    rides this exact branch), above it values snap to the left edge of
    a fixed A25_GRID-cell grid and the counts re-aggregate. Error
    bound, same edge-evaluation argument as a25: a median/percentile
    moves by at most one grid cell's width, step = ceil(span/GRID)."""
    stats = per_v.agg(
        F.approx_count_distinct(value_col).alias("ndv"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    ).collect()[0]
    if stats["ndv"] is None or stats["ndv"] <= A25_MAX_SUPPORT:
        return per_v, 1
    span = int(stats["hi"]) - int(stats["lo"]) + 1
    step = -(-span // A25_GRID)  # ceil
    lo = int(stats["lo"])
    vq = per_v.select(
        *group_cols,
        F.expr(
            f"{lo} + (({value_col} - {lo}) DIV {step}) * {step}"
        ).alias(value_col),
        cnt_col,
        *extra_sum_cols,
    )
    return (
        vq.groupBy(*group_cols, value_col).agg(
            F.sum(cnt_col).alias(cnt_col),
            *[F.sum(c).alias(c) for c in extra_sum_cols],
        ),
        step,
    )


@register(
    "a25_ks_drift",
    oracle=f"""
        WITH t AS (
            SELECT (MAX(event_id) * {A25_SPLIT_NUM}) // {A25_SPLIT_DEN} AS t0
            FROM events
        ),
        v AS (
            SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
                   CASE WHEN event_id < t.t0 THEN 1 ELSE 0 END AS is_ref
            FROM events CROSS JOIN t
        ),
        cells AS (
            SELECT v,
                   CAST(SUM(is_ref) AS BIGINT) AS c_ref,
                   CAST(SUM(1 - is_ref) AS BIGINT) AS c_new
            FROM v GROUP BY v
        ),
        cum AS (
            SELECT v,
                   SUM(c_ref) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS f_ref,
                   SUM(c_new) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS f_new
            FROM cells
        ),
        n AS (
            SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_new) AS BIGINT) AS n_new
            FROM cells
        )
        SELECT n_ref, n_new,
               CAST(d * {A25_MICRO} // (CAST(n_ref AS HUGEINT) * n_new)
                    AS BIGINT) AS ks_micro,
               CAST(d * {A25_MICRO} // (CAST(n_ref AS HUGEINT) * n_new)
                    AS BIGINT) > {A25_ALARM_MICRO} AS drifted
        FROM (
            SELECT n.n_ref, n.n_new,
                   MAX(abs(CAST(f_ref AS HUGEINT) * n.n_new
                           - CAST(f_new AS HUGEINT) * n.n_ref)) AS d
            FROM cum CROSS JOIN n
            GROUP BY n.n_ref, n.n_new
        )
    """,
    doc="EXACT two-sample Kolmogorov–Smirnov drift test between the "
    "reference slice (first 80% of event ids — pp14's split convention) "
    "and the refresh slice, on the value distribution: D = max_x "
    "|F_ref(x) − F_new(x)| computed as the BIGINT cross-multiplication "
    "max|f_ref·n_new − f_new·n_ref| over the merged support, reported "
    "in exact micro-units with a 0.1 alarm — the distributional "
    "complement of pp14's categorical composition diff (pp14 catches "
    "source-mix shifts; a25 catches a shifted VALUE distribution at "
    "unchanged mix). Scale: one partial+final agg collapses the corpus "
    "to its distinct centi-value support (bounded domain ⇒ bounded "
    "cells; unbounded metrics hit the REAL pre-quantization guard — "
    "_a25_quantize_if_needed snaps >2M-distinct supports to a 65,536-"
    "cell grid with a provable error bound), then the CDF cumsum "
    "runs over support cells only. That cumsum is a deliberately "
    "UNPARTITIONED window like w4's — correct because it touches "
    "support cells, never corpus rows; at 100 TB the support frame is "
    "KBs while the corpus stays distributed in the first agg. The "
    "cross-multiplied statistic is DECIMAL(38,0)/HUGEINT end to end — "
    "d·1e6 can reach n_ref·n_new·1e6, which wraps BIGINT at ~3e6 "
    "events per side (round-8 review); only the ≤1e6 micro quotient "
    "casts back.",
    tags=("analytics", "timeseries", "report", "llm"),
)
def a25_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t = e.agg(
        F.expr(
            f"(MAX(event_id) * {A25_SPLIT_NUM}) DIV {A25_SPLIT_DEN}"
        ).alias("t0")
    )
    v = e.crossJoin(F.broadcast(t)).select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_id") < F.col("t0"), 1).otherwise(0).alias("is_ref"),
    )
    return _a25_ks_core(v)


def _a25_ks_core(v: DataFrame) -> DataFrame:
    """KS statistic over a (v, is_ref) frame, behind the support guard —
    factored so the guard's quantized branch is testable on synthetic
    high-cardinality input."""
    from pyspark.sql import Window

    v, _step = _a25_quantize_if_needed(v)
    cells = v.groupBy("v").agg(
        F.sum("is_ref").cast("long").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("c_new"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = cells.select(
        "v",
        F.sum("c_ref").over(w).alias("f_ref"),
        F.sum("c_new").over(w).alias("f_new"),
    )
    n = cells.agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_new").cast("long").alias("n_new"),
    )
    dec = "decimal(38,0)"
    d = F.max(
        F.abs(
            F.col("f_ref").cast(dec) * F.col("n_new")
            - F.col("f_new").cast(dec) * F.col("n_ref")
        )
    )
    ks = F.expr(
        f"CAST(d * {A25_MICRO} DIV (CAST(n_ref AS DECIMAL(38,0)) * n_new) "
        "AS BIGINT)"
    )
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy("n_ref", "n_new")
        .agg(d.alias("d"))
        .select(
            "n_ref",
            "n_new",
            ks.alias("ks_micro"),
            (ks > A25_ALARM_MICRO).alias("drifted"),
        )
    )


# ---------------------------------------------------------------------------
# w12: exact weighted median per group
# ---------------------------------------------------------------------------


@register(
    "w12_weighted_median",
    oracle="""
        WITH w AS (
            SELECT l_returnflag,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS wt
            FROM lineitem
            GROUP BY 1, 2
        ),
        c AS (
            SELECT l_returnflag, price_c, wt,
                   SUM(wt) OVER (PARTITION BY l_returnflag
                                 ORDER BY price_c) AS cum,
                   SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
            FROM w
        )
        SELECT l_returnflag,
               CAST(MIN(tot) AS BIGINT) AS total_weight_centi,
               CAST(MIN(price_c) AS BIGINT) AS median_price_c
        FROM c
        WHERE 2 * cum >= tot
        GROUP BY l_returnflag
    """,
    doc="Exact weighted (lower) median per group: smallest price whose "
    "cumulative quantity-weight reaches half the group total — the "
    "robust location statistic quality dashboards want when rows carry "
    "unequal mass. Spark shape: the distinct-value pre-aggregate "
    "(group, price) collapses the fact table FIRST with full map-side "
    "combine — at 100 TB the window scan that follows runs over "
    "distinct prices (bounded by the value domain, centi-cents here), "
    "not rows; the running-sum window then shuffles once on the group "
    "key alone. All arithmetic in exact BIGINT centi-units so the "
    "half-total comparison (2·cum ≥ tot, no division) is bitwise "
    "identical across engines. Generalizes to any weighted percentile "
    "by replacing the factor 2.",
    tags=("window", "aggregate", "analytics"),
)
def w12_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.tables import load_table as _lt

    l = _lt(spark, sf_dir, "lineitem")
    w = (
        l.select(
            "l_returnflag",
            _cents(F.col("l_extendedprice")).alias("price_c"),
            _cents(F.col("l_quantity")).alias("wt_c"),
        )
        .groupBy("l_returnflag", "price_c")
        .agg(F.sum("wt_c").alias("wt"))
        # plan-cache (r16): three consumers evaluate this fact-table
        # aggregate — the support-gate probe below (an eager collect),
        # the group-totals aggregate, and the cumsum window — and
        # without the persist each re-ran the 600k-row shuffle agg.
        .persist()
    )
    # Distinct-price support gate (VERDICT r10 ask #5): the per-group
    # cumsum window below buffers one group's full distinct-value frame
    # in one task; above 2M distinct prices the gate snaps to the
    # A25_GRID grid (exact branch untouched for this fixture's bounded
    # centi-cent domain).
    w, _step = bound_int_support(
        w, value_col="price_c", cnt_col="wt", group_cols=("l_returnflag",)
    )
    # Group totals as a 3-row broadcast join, NOT a second unbounded
    # window: the partition-only window re-buffers the full distinct-
    # value frame per group (measured 2.83 s at sf0.1; this form 1.9 s)
    # while the totals aggregate is map-side-combined and tiny.
    totals = w.groupBy("l_returnflag").agg(
        F.sum("wt").alias("tot")
    )
    win = Window.partitionBy("l_returnflag").orderBy("price_c")
    c = w.join(F.broadcast(totals), "l_returnflag").select(
        "l_returnflag",
        "price_c",
        "tot",
        F.sum("wt").over(win).alias("cum"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("tot").alias("total_weight_centi"),
            F.min("price_c").alias("median_price_c"),
        )
    )


# ---------------------------------------------------------------------------
# a26: Benford first-digit profile (data-quality / fraud screen)
# ---------------------------------------------------------------------------

#: log10(1 + 1/d) in exact micro-units — Benford's law as pinned integer
#: literals (the registry's log-free convention: no transcendental is
#: evaluated on either engine).
A26_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}

_A26_CASE = "CASE d " + " ".join(
    f"WHEN {d} THEN {m}" for d, m in A26_BENFORD_MICRO.items()
) + " END"


@register(
    "a26_benford_profile",
    oracle=f"""
        WITH v AS (
            SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                               AS VARCHAR), 1, 1) AS BIGINT) AS d
            FROM orders
            WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= 1
        ),
        c AS (
            SELECT d, COUNT(*) AS n,
                   SUM(COUNT(*)) OVER () AS total
            FROM v GROUP BY d
        )
        SELECT d, CAST(n AS BIGINT) AS n,
               CAST(n * 1000000 // total AS BIGINT) AS observed_micro,
               CAST({_A26_CASE} AS BIGINT) AS benford_micro,
               CAST(ABS(n * 1000000 // total - ({_A26_CASE})) AS BIGINT)
                   AS abs_dev_micro
        FROM c
    """,
    doc="Benford first-digit profile of order totals — the classic "
    "data-quality / fraud screen (synthetic or fabricated amounts "
    "deviate from log-uniform leading digits; so do unit-priced "
    "fixtures, which is exactly what this surfaces on the test data). "
    "Expected shares are PINNED integer micro-literals (log10(1+1/d) "
    "precomputed), so no transcendental runs on either engine — the "
    "registry's log-free determinism rule. Spark shape: leading digit "
    "by decimal-string head of the exact cents value (no float log10 "
    "bucketing), one partial+final count over ≤9 groups, the total via "
    "a window over those 9 cells. Map-side combine does all the work; "
    "the exchange carries 9 rows.",
    tags=("analytics", "quality", "aggregate"),
)
def a26_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.tables import load_table as _lt

    # Guard on the cents value itself: amounts in (0, 0.005) round to 0
    # cents and would produce a leading digit 0 with no Benford CASE
    # branch — the invariant the query needs is cents >= 1, not price > 0.
    o = _lt(spark, sf_dir, "orders").filter(
        _cents(F.col("o_totalprice")) >= F.lit(1)
    )
    v = o.select(
        F.substring(_cents(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("long")
        .alias("d")
    )
    c = v.groupBy("d").agg(F.count("*").alias("n"))
    obs = F.expr("n * 1000000 DIV SUM(n) OVER ()")
    return c.select(
        "d",
        "n",
        obs.alias("observed_micro"),
        F.expr(_A26_CASE).cast("long").alias("benford_micro"),
        F.abs(obs - F.expr(_A26_CASE)).cast("long").alias("abs_dev_micro"),
    )


# ---------------------------------------------------------------------------
# a27: exact balanced range-partition boundaries (equi-depth histogram)
# ---------------------------------------------------------------------------

A27_BUCKETS = 8


def _a27_bound_support(per_v: DataFrame) -> tuple[DataFrame, int]:
    """a25's quantization gate applied to a27's input (VERDICT r9 ask
    #7, turning the docstring's advice into code): the cumulative window
    runs over the DISTINCT-VALUE frame in a single task, so a metric
    whose support exceeds A25_MAX_SUPPORT must not funnel it through one
    partition. One cheap pre-pass measures the support; above the
    ceiling, values snap to the left edge of a fixed A25_GRID-cell grid
    of days and the counts re-aggregate — the window is then bounded at
    A25_GRID cells at ANY cardinality. Returns (per-value frame,
    step_days); step == 1 ⇒ exact branch (o_orderdate's ~2.4k-day domain
    never triggers it, so the registered oracle is untouched). Error
    bound: a grid bucket boundary moves by at most one cell's mass —
    the same edge-evaluation argument as _a25_quantize_if_needed."""
    stats = per_v.agg(
        F.approx_count_distinct("v").alias("ndv"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()[0]
    if stats["ndv"] is None or stats["ndv"] <= A25_MAX_SUPPORT:
        return per_v, 1
    span = (stats["hi"] - stats["lo"]).days + 1
    step = -(-span // A25_GRID)  # ceil
    vq = per_v.select(
        F.expr(
            f"date_add(DATE'{stats['lo']}', "
            f"CAST((datediff(v, DATE'{stats['lo']}') DIV {step}) * {step} "
            "AS INT))"
        ).alias("v"),
        "cnt",
    )
    return vq.groupBy("v").agg(F.sum("cnt").alias("cnt")), step


@register(
    "a27_range_partition_bounds",
    oracle=f"""
        WITH per_v AS (
            SELECT o_orderdate AS v, COUNT(*) AS cnt
            FROM orders GROUP BY o_orderdate
        ),
        cum AS (
            SELECT v, cnt,
                   SUM(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - cnt AS cum_before,
                   SUM(cnt) OVER () AS n
            FROM per_v
        )
        SELECT CAST((cum_before * {A27_BUCKETS}) // n AS BIGINT) AS bucket,
               MIN(v) AS lo_date,
               MAX(v) AS hi_date,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_values
        FROM cum
        GROUP BY 1
    """,
    doc=f"EXACT balanced range-partition boundaries — the equi-depth "
    "dual of a18's equi-width histogram, and the computation behind "
    "every balanced range write (Spark's RangePartitioner does this "
    "with SAMPLED quantiles; ANALYZE equi-height stats and Iceberg "
    "sort-order split planning want it exact): the o_orderdate "
    f"timeline splits into {A27_BUCKETS} value-contiguous buckets of "
    "(as-equal-as-possible) row mass, each reported with its "
    "[lo, hi] bounds, row count and distinct-value count. Assignment "
    "is bucket(v) = cum_before(v)·B DIV N — pure integers, ties keep "
    "all copies of a value in one bucket (value-contiguity is what "
    "makes the bounds usable as partition split points; a hot value "
    "therefore bulges its bucket, the documented semantics). Scale "
    "shape: ONE map-side-combined count per distinct value, then the "
    "cumulative window runs over the DISTINCT-VALUE frame only — "
    "w12's pre-aggregate trick: o_orderdate's domain is bounded "
    "(~2.4k days at ANY scale factor), so the single-task window is "
    "bounded at the domain size, never the row count — and since "
    "round 10 that bound is ENFORCED: _a27_bound_support routes a "
    ">2M-distinct support through a25's quantization grid before the "
    "cumsum (VERDICT r9 ask #7; the exact branch is untouched).",
    tags=("analytics", "histogram", "partitioning"),
)
def a27_range_partition_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_v = o.groupBy(F.col("o_orderdate").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_v, _step = _a27_bound_support(per_v)
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_v.select(
        "v",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    return (
        cum.groupBy(
            F.expr(f"(cum_before * {A27_BUCKETS}) DIV n").alias("bucket")
        )
        .agg(
            F.min("v").alias("lo_date"),
            F.max("v").alias("hi_date"),
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_values"),
        )
    )


@register(
    "a28_higher_moments",
    oracle="""
        WITH s AS (
            SELECT o_orderpriority,
                   COUNT(*) AS n,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s1,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s2,
                   SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       AS HUGEINT)
                       * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s3,
                   SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       AS HUGEINT)
                       * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s4
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority,
               CAST(n AS BIGINT) AS n,
               (CAST(s3 AS DOUBLE) / n
                - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                  * (CAST(s1 AS DOUBLE) / n))
               / ((CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                  * sqrt(CAST(s2 AS DOUBLE) / n
                         - (CAST(s1 AS DOUBLE) / n)
                           * (CAST(s1 AS DOUBLE) / n))) AS skewness,
               (CAST(s4 AS DOUBLE) / n
                - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                  * (CAST(s2 AS DOUBLE) / n)
                - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                  * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
               / ((CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                  * (CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n))) - 3 AS excess_kurtosis
        FROM s
        ORDER BY o_orderpriority
    """,
    doc="Per-group skewness + excess kurtosis from EXACT integer power "
    "sums — a21's determinism recipe extended to the 3rd/4th moments: "
    "raw sums of cents^k accumulate as integers (s3/s4 in "
    "DECIMAL(38,0)/HUGEINT — cents^4 overflows BIGINT at ONE row of a "
    "10^5-cent value), so the distributed aggregation is "
    "order-insensitive and bitwise; the standardized-moment formulas "
    "then run as per-row float arithmetic on identical exact inputs "
    "(the registry's per-row-float rule), where Spark's built-in "
    "skewness/kurtosis use running float accumulation whose result "
    "depends on partition order. One map-side-combined pass; 5 output "
    "rows. Bound: cents^4 x n must fit 38 digits — ~10^38/10^28 = "
    "10^10 rows per group at 10^5-cent values; past that, a25's "
    "quantization (or a centered two-pass) applies.",
    tags=("analytics", "statistics"),
)
def a28_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select(
        "o_orderpriority",
        c.alias("v"),
        (c * c).alias("v2"),
    )
    s = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum("v2").alias("s2"),
        F.sum((F.col("v2").cast("decimal(38,0)") * F.col("v"))).alias("s3"),
        F.sum(
            F.col("v2").cast("decimal(38,0)") * F.col("v") * F.col("v")
        ).alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    m4 = F.col("s4").cast("double") / F.col("n")
    var = m2 - m1 * m1
    # var * sqrt(var) instead of pow(var, 1.5): sqrt is IEEE correctly
    # rounded on both engines, pow is a last-ulp-divergent transcendental
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / (var * F.sqrt(var))
    kurt = (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1) / (
        var * var
    ) - 3
    return s.select(
        "o_orderpriority",
        "n",
        skew.alias("skewness"),
        kurt.alias("excess_kurtosis"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# a29: chi-square independence profile on exact counts
# ---------------------------------------------------------------------------

# Shared TEXTUALLY between engines (a21's recipe): every input is an
# exact BIGINT (cell/row/column/grand counts), floats appear only in
# this per-cell formula, so both engines round identically.
_A29_EXP = "(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
_A29_TERM = (
    f"((CAST(obs AS DOUBLE) - {_A29_EXP}) * "
    f"(CAST(obs AS DOUBLE) - {_A29_EXP}) / {_A29_EXP})"
)


@register(
    "a29_chi_square_independence",
    oracle=f"""
        WITH cells AS (
            SELECT o_orderpriority AS pri, o_orderstatus AS st,
                   CAST(COUNT(*) AS BIGINT) AS obs
            FROM orders GROUP BY 1, 2
        ),
        w AS (
            SELECT pri, st, obs,
                   CAST(SUM(obs) OVER (PARTITION BY pri) AS BIGINT) AS r,
                   CAST(SUM(obs) OVER (PARTITION BY st) AS BIGINT) AS c,
                   CAST(SUM(obs) OVER () AS BIGINT) AS n
            FROM cells
        )
        SELECT pri AS o_orderpriority, st AS o_orderstatus,
               obs AS observed, r AS row_total, c AS col_total,
               {_A29_EXP} AS expected, {_A29_TERM} AS chi2_term
        FROM w
    """,
    doc="Chi-square INDEPENDENCE profile of the priority x status "
    "contingency table — the categorical complement of a25's KS drift "
    "test (KS compares numeric distributions; chi-square asks whether "
    "two categorical factors are associated, the go-to gate for 'did "
    "the label mix shift across sources' in a curation pipeline): "
    "observed cell counts, row/column marginals, the independence-"
    "expected count r*c/n and each cell's (O-E)^2/E contribution — "
    "the statistic is the sum, and emitting per-cell terms makes the "
    "drivers of a rejection readable, which is what the report is "
    "for. Determinism: all counts are exact BIGINTs from ONE grouped "
    "pass over orders; marginals are window sums over the tiny cell "
    "frame (|priorities| x |statuses| = 15 rows — never a second "
    "table scan), and the one float formula runs per cell on exact "
    "inputs with textually identical expressions in both engines "
    "(a21's recipe). Scale shape: one map-side-combined aggregation, "
    "then windows over a frame bounded by the category-domain "
    "product at ANY row count.",
    tags=("analytics", "statistics", "drift"),
)
def a29_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    w = cells.select(
        "pri",
        "st",
        "obs",
        F.sum("obs").over(Window.partitionBy("pri")).alias("r"),
        F.sum("obs").over(Window.partitionBy("st")).alias("c"),
        F.sum("obs").over(
            Window.partitionBy()
        ).alias("n"),
    )
    return w.select(
        F.col("pri").alias("o_orderpriority"),
        F.col("st").alias("o_orderstatus"),
        F.col("obs").alias("observed"),
        F.col("r").alias("row_total"),
        F.col("c").alias("col_total"),
        F.expr(_A29_EXP).alias("expected"),
        F.expr(_A29_TERM).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# a30: Cramér's V effect size — integer chi-square in micro-units
# ---------------------------------------------------------------------------

# chi2 = n * (S - 1) with S = sum over cells of O^2/(r*c). S is computed
# as exact integer micro-units via per-cell integer division (the
# g4/g8 micro-unit convention) — a float per-cell term SUMMED across
# cells would be partition-order-dependent, the exact failure a21
# exists to avoid. The single float formula (one divide + the
# correctly-rounded sqrt, a28's argument) is shared textually.
_A30_V = (
    "sqrt(CAST(chi2_micro AS DOUBLE) "
    "/ (1000000.0 * CAST(n AS DOUBLE) * CAST(dof AS DOUBLE)))"
)


@register(
    "a30_cramers_v",
    oracle=f"""
        WITH cells AS (
            SELECT o_orderpriority AS pri, o_orderstatus AS st,
                   CAST(COUNT(*) AS BIGINT) AS obs
            FROM orders GROUP BY 1, 2
        ),
        w AS (
            SELECT pri, st, obs,
                   CAST(SUM(obs) OVER (PARTITION BY pri) AS BIGINT) AS r,
                   CAST(SUM(obs) OVER (PARTITION BY st) AS BIGINT) AS c,
                   CAST(SUM(obs) OVER () AS BIGINT) AS n
            FROM cells
        ),
        agg AS (
            SELECT CAST(COUNT(DISTINCT pri) AS BIGINT) AS n_cat_a,
                   CAST(COUNT(DISTINCT st) AS BIGINT) AS n_cat_b,
                   MAX(n) AS n,
                   CAST(SUM(CAST(obs AS HUGEINT) * obs * 1000000
                            // (r * c)) AS BIGINT) AS s_micro
            FROM w
        )
        SELECT n_cat_a, n_cat_b, n,
               CAST(n * (s_micro - 1000000) AS BIGINT) AS chi2_micro,
               CASE WHEN n_cat_a < n_cat_b THEN n_cat_a - 1
                    ELSE n_cat_b - 1 END AS dof_min,
               {_A30_V.replace("dof", "(CASE WHEN n_cat_a < n_cat_b "
                               "THEN n_cat_a - 1 "
                               "ELSE n_cat_b - 1 END)")} AS cramers_v
        FROM agg
    """,
    doc="CRAMÉR'S V — the normalized effect size a29's chi-square "
    "profile feeds ([0,1], comparable across table shapes where raw "
    "chi-square grows with n): V = sqrt(chi2 / (n * min(r-1, c-1))) "
    "over the priority x status contingency table. The statistic "
    "itself is computed WITHOUT any cross-row float accumulation via "
    "the identity chi2 = n*(S-1), S = sum O^2/(r_i*c_j): each cell's "
    "term lands as exact integer micro-units (O^2*1e6 // (r*c), "
    "accumulated in DECIMAL(38,0)/HUGEINT so a billion-row cell "
    "cannot wrap — a24's lesson), so the sum is order-insensitive "
    "and both engines agree digit-for-digit; the one float formula "
    "(a divide and the correctly-rounded sqrt) runs once on exact "
    "inputs. Scale shape: identical to a29 — one map-side-combined "
    "grouped pass, windows over the category-product-bounded cell "
    "frame, a single-row result.",
    tags=("analytics", "statistics", "drift"),
)
def a30_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    w = cells.select(
        "pri",
        "st",
        "obs",
        F.sum("obs").over(Window.partitionBy("pri")).alias("r"),
        F.sum("obs").over(Window.partitionBy("st")).alias("c"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    agg = w.agg(
        F.countDistinct("pri").alias("n_cat_a"),
        F.countDistinct("st").alias("n_cat_b"),
        F.max("n").alias("n"),
        F.sum(
            F.expr(
                "CAST(obs AS DECIMAL(38,0)) * obs * 1000000 DIV (r * c)"
            )
        ).cast("long").alias("s_micro"),
    )
    return agg.select(
        "n_cat_a",
        "n_cat_b",
        "n",
        F.expr("CAST(n * (s_micro - 1000000) AS BIGINT)").alias(
            "chi2_micro"
        ),
        F.expr(
            "CASE WHEN n_cat_a < n_cat_b THEN n_cat_a - 1 "
            "ELSE n_cat_b - 1 END"
        ).alias("dof_min"),
        F.expr(
            _A30_V.replace(
                "dof",
                "(CASE WHEN n_cat_a < n_cat_b THEN n_cat_a - 1 "
                "ELSE n_cat_b - 1 END)",
            )
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# a31: total-variation distance — exact categorical drift
# ---------------------------------------------------------------------------


@register(
    "a31_tv_distance",
    oracle=f"""
        WITH t AS (
            SELECT (MAX(event_id) * {A25_SPLIT_NUM}) // {A25_SPLIT_DEN} AS t0
            FROM events
        ),
        cells AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN event_id < t.t0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c_ref,
                   CAST(SUM(CASE WHEN event_id < t.t0 THEN 0 ELSE 1 END)
                        AS BIGINT) AS c_new
            FROM events CROSS JOIN t
            GROUP BY event_type
        ),
        g AS (
            SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                   CAST(SUM(c_new) AS BIGINT) AS n_new,
                   CAST(SUM(ABS(CAST(c_ref AS HUGEINT)
                                * (SELECT SUM(c_new) FROM cells)
                                - CAST(c_new AS HUGEINT)
                                * (SELECT SUM(c_ref) FROM cells)))
                        AS BIGINT) AS cross_abs
            FROM cells
        )
        SELECT n_ref, n_new,
               CAST((SELECT COUNT(*) FROM cells) AS BIGINT) AS n_categories,
               cross_abs,
               CAST(cross_abs AS DOUBLE)
                   / (2.0 * CAST(n_ref AS DOUBLE)
                      * CAST(n_new AS DOUBLE)) AS tv_distance
        FROM g
    """,
    doc="TOTAL-VARIATION distance between the reference (first 80% of "
    "event ids, a25's split convention) and incoming event-type "
    "distributions — THE categorical drift metric, completing the "
    "drift toolkit: a25 KS (numeric), a29/a30 association (two "
    "factors), pp14 per-slice composition flags, a31 the single "
    "[0,1] distance between two categorical mixes (and the metric "
    "Nguyen et al.-style data-mix monitors alarm on). TVD = "
    "(1/2)·sum|p_i − q_i| is computed EXACTLY: per category, "
    "|c_ref·N_new − c_new·N_ref| in HUGEINT/DECIMAL(38,0) cross-"
    "multiplication (tx16's trick — no per-category float division "
    "to accumulate), summed order-insensitively; the one float "
    "division runs once on exact integers. Scale shape: one grouped "
    "pass with conditional sums (map-side combined), then a "
    "category-domain-bounded aggregate — no second scan, no window, "
    "no join.",
    tags=("analytics", "statistics", "drift"),
)
def a31_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t0 = e.agg(
        F.expr(
            f"(MAX(event_id) * {A25_SPLIT_NUM}) DIV {A25_SPLIT_DEN}"
        ).alias("t0")
    )
    cells = (
        e.crossJoin(F.broadcast(t0))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("event_id") < F.col("t0"), 1).otherwise(0)
            ).alias("c_ref"),
            F.sum(
                F.when(F.col("event_id") < F.col("t0"), 0).otherwise(1)
            ).alias("c_new"),
        )
    )
    w = Window.partitionBy()
    per = cells.select(
        "c_ref",
        "c_new",
        F.sum("c_ref").over(w).alias("n_ref"),
        F.sum("c_new").over(w).alias("n_new"),
    )
    g = per.agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_new").alias("n_new"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(
            F.abs(
                F.col("c_ref").cast("decimal(38,0)") * F.col("n_new")
                - F.col("c_new").cast("decimal(38,0)") * F.col("n_ref")
            )
        ).cast("long").alias("cross_abs"),
    )
    return g.select(
        "n_ref",
        "n_new",
        "n_categories",
        "cross_abs",
        F.expr(
            "CAST(cross_abs AS DOUBLE) "
            "/ (2.0 * CAST(n_ref AS DOUBLE) * CAST(n_new AS DOUBLE))"
        ).alias("tv_distance"),
    )


# ---------------------------------------------------------------------------
# a33: one-way ANOVA F — exact sums of squares via quotient/remainder split
# ---------------------------------------------------------------------------

# SSB needs sum over groups of s1_g^2 / n_g: s1_g^2 is ~1e21+ (DECIMAL
# territory) and integer-dividing a DECIMAL overflows Spark's DIV (it
# returns BIGINT). The split s1 = q*n + r (q, r are BIGINT-safe: q is
# the group MEAN in cents, r < n) gives s1^2/n = q^2*n + 2qr + r^2/n —
# every term exact with only one small division (r^2 DIV n), and the
# q^2*n product accumulates in DECIMAL(38,0)/HUGEINT. Truncation is
# bounded by 1 cent^2 per group, deterministic on both engines.
_A33_TERM = (
    "CAST({q} AS {big}) * {q} * {n} + 2 * {q} * {r} + {r} * {r} {div} {n}"
)
_A33_F = (
    "(ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))"
)
_A33_ETA = "ssb / (ssb + ssw)"


@register(
    "a33_anova_f",
    oracle=f"""
        WITH g AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS ng,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS s1,
                   SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            AS HUGEINT)) AS s2
            FROM orders GROUP BY o_orderpriority
        ),
        gq AS (
            SELECT ng, s1, s2, s1 // ng AS q, s1 % ng AS r FROM g
        ),
        t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(SUM(s1) AS BIGINT) AS s1_all,
                   SUM(s2) AS s2_all,
                   SUM({_A33_TERM.format(q="q", r="r", n="ng",
                                         big="HUGEINT", div="//")})
                       AS group_term
            FROM gq
        ),
        w AS (
            SELECT k, n, s2_all, group_term,
                   s1_all // n AS qa, s1_all % n AS ra
            FROM t
        )
        SELECT k, n,
               CAST(group_term
                    - ({_A33_TERM.format(q="qa", r="ra", n="n",
                                         big="HUGEINT", div="//")})
                    AS DOUBLE) AS ssb,
               CAST(s2_all - group_term AS DOUBLE) AS ssw,
               {_A33_F} AS f_stat,
               {_A33_ETA} AS eta_squared
        FROM w
    """,
    doc="One-way ANOVA F over order price (cents) by priority — the "
    "categorical-to-NUMERIC association test completing the triple "
    "(a21 Pearson numeric-numeric, a29/a30 chi-square cat-cat): does "
    "the group factor explain the metric's variance, with eta^2 "
    "(SSB/SST) as the effect size. Exactness: per-group (n, sum, "
    "sum-of-squares) are integer aggregates; the s1^2/n terms use the "
    "quotient/remainder split s1 = q*n + r so s1^2/n = q^2*n + 2qr + "
    "r^2//n — every term exact (DECIMAL(38,0)/HUGEINT for the q^2*n "
    "product; the only division is the BIGINT-safe r^2//n, truncation "
    "<= 1 cent^2 per group, identical on both engines) — so the "
    "CROSS-GROUP accumulation is integer and order-insensitive where "
    "a float n_g*(mean_g - mean)^2 sum would be partition-order-"
    "dependent; F and eta^2 run once on exact inputs (shared text). "
    "Scale shape: ONE map-side-combined grouped pass + a category-"
    "bounded aggregate, no window, no join.",
    tags=("analytics", "statistics", "drift"),
)
def a33_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(cents).alias("s1"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("s2"),
    )
    gq = g.select(
        "ng",
        "s1",
        "s2",
        F.expr("s1 DIV ng").alias("q"),
        F.expr("s1 % ng").alias("r"),
    )
    term = _A33_TERM.format(
        q="q", r="r", n="ng", big="DECIMAL(38,0)", div="DIV"
    )
    t = gq.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s1").alias("s1_all"),
        F.sum("s2").alias("s2_all"),
        F.sum(F.expr(term)).alias("group_term"),
    )
    w = t.select(
        "k",
        "n",
        "s2_all",
        "group_term",
        F.expr("s1_all DIV n").alias("qa"),
        F.expr("s1_all % n").alias("ra"),
    )
    term_all = _A33_TERM.format(
        q="qa", r="ra", n="n", big="DECIMAL(38,0)", div="DIV"
    )
    return w.select(
        "k",
        "n",
        F.expr(f"CAST(group_term - ({term_all}) AS DOUBLE)").alias("ssb"),
        F.expr("CAST(s2_all - group_term AS DOUBLE)").alias("ssw"),
        F.expr(_A33_F).alias("f_stat"),
        F.expr(_A33_ETA).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# a34: Kruskal-Wallis H (rank-based one-way ANOVA)
# ---------------------------------------------------------------------------

# Exact rank machinery in DOUBLE-RANK integer units: the average rank of
# a tied value v is cum_before(v) + (cnt+1)/2, a half-integer — so both
# engines carry dr(v) = 2*cum_before + cnt + 1 (always an integer) and a
# group's doubled rank-sum 2R_g = sum(cnt_gv * dr(v)) stays exact BIGINT
# arithmetic until the one shared float formula at the end.
_A34_TERM = (
    "CAST({q} AS {big}) * {q} * {n} + 2 * {q} * {r} + {r} * {r} {div} {n}"
)
# H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1), with R^2 = (2R)^2/4 folded
# into the 12/4 = 3 factor; tie correction divides by 1 - T/(N^3-N).
_A34_H = (
    "(3.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1)) "
    "- 3.0 * (CAST(n AS DOUBLE) + 1)) "
    "/ (1.0 - CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n))"
)


@register(
    "a34_kruskal_wallis",
    oracle=f"""
        WITH v AS (
            SELECT o_orderpriority AS g,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        per_gv AS (
            SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM v GROUP BY g, v
        ),
        per_v AS (
            SELECT v, CAST(SUM(cnt) AS BIGINT) AS cv
            FROM per_gv GROUP BY v
        ),
        ranked AS (
            SELECT v, cv,
                   2 * (SUM(cv) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) - cv) + cv + 1 AS dr
            FROM per_v
        ),
        grp AS (
            SELECT g, CAST(SUM(cnt) AS BIGINT) AS ng,
                   SUM(CAST(cnt AS HUGEINT) * dr) AS r2
            FROM per_gv JOIN ranked USING (v)
            GROUP BY g
        ),
        gq AS (
            SELECT ng, r2, r2 // ng AS q, r2 % ng AS r FROM grp
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(ng) AS BIGINT) AS n,
                   SUM({_A34_TERM.format(q='q', r='r', n='ng',
                                         big='HUGEINT', div='//')})
                       AS s4
            FROM gq
        ),
        ties AS (
            SELECT CAST(SUM(CAST(cv AS HUGEINT) * cv * cv - cv)
                        AS HUGEINT) AS t
            FROM per_v
        )
        SELECT k, n,
               CAST(s4 // 4 AS BIGINT) AS s,
               CAST(t AS BIGINT) AS t,
               {_A34_H} AS h_stat
        FROM agg CROSS JOIN ties
    """,
    doc="Kruskal-Wallis H — the RANK-based one-way ANOVA completing "
    "the association-test family (a21 Pearson, a29/a30 chi-square/"
    "Cramer's V, a33 ANOVA F): does order price DISTRIBUTION differ "
    "across priorities without a33's normality assumption? Exactness "
    "recipe: mid-ranks of tied values are half-integers, so both "
    "engines carry DOUBLE-ranks dr = 2*cum_before + cnt + 1 (always "
    "integer) through the distinct-value cumsum; a group's doubled "
    "rank-sum and the tie-correction term are exact BIGINT/HUGEINT "
    "sums, the per-group (2R)^2/n split is a33's quotient/remainder "
    "identity (only r*r DIV n floors, identically on both engines), "
    "and the single float H formula is shared textually. Spark shape: "
    "the cumsum runs over the DISTINCT-value frame (bound_int_support-"
    "gated above 2M distinct — the a25/a27 guard), ranks join back by "
    "value, everything else is map-side-combined aggregation; at "
    "100 TB the only ordered structure is the bounded support frame, "
    "never the fact table.",
    tags=("aggregate", "analytics", "statistics"),
)
def a34_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_gv = (
        o.select(F.col("o_orderpriority").alias("g"), cents.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_gv, _step = bound_int_support(per_gv, group_cols=("g",))
    # plan-cache: per_gv feeds BOTH the global per-value frame and the
    # rank-sum join — unpersisted, each consumer re-scans orders
    per_gv = per_gv.persist()
    # plan-cache: per_v feeds BOTH the rank window and the tie-correction
    # aggregate in the returned lazy plan (released by the caller via
    # session.release_plan_caches)
    per_v = per_gv.groupBy("v").agg(F.sum("cnt").alias("cv")).persist()
    ranked = per_v.select(
        "v",
        "cv",
        (
            2
            * (
                F.sum("cv")
                .over(
                    Window.orderBy("v").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("cv")
            )
            + F.col("cv")
            + 1
        ).alias("dr"),
    )
    grp = (
        per_gv.join(ranked.select("v", "dr"), "v")
        .groupBy("g")
        .agg(
            F.sum("cnt").alias("ng"),
            # DECIMAL widening: cnt*dr rank-sums pass 9.2e18 around
            # ~2e9 rows/group; the q/r split then runs in DECIMAL
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * dr")).alias("r2"),
        )
    )
    gq = grp.select(
        "ng", "r2",
        F.expr("r2 DIV ng").alias("q"),
        F.expr("r2 % ng").alias("r"),
    )
    term = _A34_TERM.format(
        q="q", r="r", n="ng", big="DECIMAL(38,0)", div="DIV"
    )
    agg = gq.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum(F.expr(term)).alias("s4"),
    )
    ties = per_v.agg(
        F.sum(
            F.expr("CAST(cv AS DECIMAL(38,0)) * cv * cv - cv")
        ).alias("t_raw")
    )
    out = agg.crossJoin(F.broadcast(ties)).select(
        "k",
        "n",
        F.expr("CAST(s4 DIV 4 AS BIGINT)").alias("s"),
        F.col("t_raw").cast("long").alias("t"),
    )
    return out.select("k", "n", "s", "t", F.expr(_A34_H).alias("h_stat"))


# ---------------------------------------------------------------------------
# a35: Brown-Forsythe (median-centered Levene) variance-homogeneity test
# ---------------------------------------------------------------------------

# Median in DOUBLED units (lo + up, always integer) so deviations
# |2v - dm| stay exact integers even when the true median is a .5.
_A35_DMED = (
    "(MIN(CASE WHEN cum >= (nt + 1) {div} 2 THEN v END) "
    "+ MIN(CASE WHEN cum >= (nt + 2) {div} 2 THEN v END))"
)
_A35_F = (
    "(CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) "
    "/ (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))"
)


@register(
    "a35_brown_forsythe",
    oracle=f"""
        WITH x AS (
            SELECT event_type AS g,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
        ),
        pv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM x GROUP BY 1, 2),
        cum AS (
            SELECT g, v, cnt,
                   SUM(cnt) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(cnt) OVER (PARTITION BY g) AS nt
            FROM pv
        ),
        med AS (
            SELECT g, {_A35_DMED.format(div='//')} AS dm
            FROM cum GROUP BY g
        ),
        dev AS (
            SELECT x.g, ABS(2 * x.v - m.dm) AS d
            FROM x JOIN med m ON m.g = x.g
        ),
        grp AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                   CAST(SUM(d) AS BIGINT) AS s1,
                   SUM(CAST(d AS HUGEINT) * d) AS s2
            FROM dev GROUP BY g
        ),
        gq AS (
            SELECT ng, s1, s2, s1 // ng AS q, s1 % ng AS r FROM grp
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(ng) AS BIGINT) AS n,
                   CAST(SUM(s1) AS BIGINT) AS s1_all,
                   SUM(s2) AS s2_all,
                   SUM({_A33_TERM.format(q='q', r='r', n='ng',
                                         big='HUGEINT', div='//')})
                       AS group_term
            FROM gq
        ),
        w AS (
            SELECT k, n, s2_all, group_term,
                   s1_all // n AS qa, s1_all % n AS ra
            FROM agg
        ),
        f AS (
            SELECT k, n,
                   CAST(group_term - ({_A33_TERM.format(
                       q='qa', r='ra', n='n', big='HUGEINT', div='//')})
                       AS BIGINT) AS ssb,
                   CAST(s2_all - group_term AS BIGINT) AS ssw
            FROM w
        )
        SELECT k, n, ssb, ssw, {_A35_F} AS bf_stat FROM f
    """,
    doc="Brown-Forsythe test — variance HOMOGENEITY across groups, the "
    "assumption a33's ANOVA F rests on (and the robust Levene variant: "
    "deviations from the group MEDIAN, not the outlier-sensitive "
    "mean): one-way ANOVA on |v - median_g|. Exactness recipe: group "
    "medians come from w15's distinct-value cumsum in DOUBLED units "
    "(lo+up is always an integer, so |2v - dm| deviations are exact "
    "BIGINT even for .5 medians — the whole pipeline is a33's "
    "quotient/remainder machinery over integer deviations, floats only "
    "in the final shared F formula). Spark shape: the median cumsum "
    "runs per-group over the DISTINCT-value frame (bound_int_support-"
    "gated above 2M distinct), medians broadcast back (|groups| rows), "
    "deviations re-aggregate map-side — two passes over the fact "
    "table, zero row explosion, no global sort anywhere.",
    tags=("aggregate", "analytics", "statistics"),
)
def a35_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).persist()  # plan-cache: feeds the median pass AND the deviation pass
    pv = x.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    pv, _step = bound_int_support(pv, group_cols=("g",))
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pv.select(
        "g",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("g")).alias("nt"),
    )
    med = cum.groupBy("g").agg(
        F.expr(_A35_DMED.format(div="DIV")).alias("dm")
    )
    dev = x.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("v") - F.col("dm")).alias("d")
    )
    grp = dev.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("d").alias("s1"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d")).alias("s2"),
    )
    gq = grp.select(
        "ng", "s1", "s2",
        F.expr("s1 DIV ng").alias("q"),
        F.expr("s1 % ng").alias("r"),
    )
    term = _A33_TERM.format(
        q="q", r="r", n="ng", big="DECIMAL(38,0)", div="DIV"
    )
    agg = gq.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s1").alias("s1_all"),
        F.sum("s2").alias("s2_all"),
        F.sum(F.expr(term)).alias("group_term"),
    )
    w = agg.select(
        "k", "n", "s2_all", "group_term",
        F.expr("s1_all DIV n").alias("qa"),
        F.expr("s1_all % n").alias("ra"),
    )
    term_all = _A33_TERM.format(
        q="qa", r="ra", n="n", big="DECIMAL(38,0)", div="DIV"
    )
    f = w.select(
        "k",
        "n",
        F.expr(f"CAST(group_term - ({term_all}) AS BIGINT)").alias("ssb"),
        F.expr("CAST(s2_all - group_term AS BIGINT)").alias("ssw"),
    )
    return f.select("k", "n", "ssb", "ssw", F.expr(_A35_F).alias("bf_stat"))


# ---------------------------------------------------------------------------
# a36: Mann-Whitney U (two-sample rank test)
# ---------------------------------------------------------------------------

A36_GROUP_A = "purchase"
A36_GROUP_B = "view"
A36_MICRO = 1_000_000

# z with tie-corrected variance, from exact integer inputs (u2 = 2U):
# z = (U - nA*nB/2) / sqrt(nA*nB/12 * ((n+1) - T/(n(n-1))))
_A36_Z = (
    "(CAST(u2 AS DOUBLE) / 2.0 "
    "- CAST(na AS DOUBLE) * nb / 2.0) "
    "/ sqrt(CAST(na AS DOUBLE) * nb / 12.0 "
    "* ((CAST(na + nb AS DOUBLE) + 1) "
    "- CAST(t AS DOUBLE) / (CAST(na + nb AS DOUBLE) "
    "* (na + nb - 1))))"
)


@register(
    "a36_mann_whitney",
    oracle=f"""
        WITH v AS (
            SELECT CASE WHEN event_type = '{A36_GROUP_A}' THEN 1
                        ELSE 0 END AS is_a,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
            WHERE event_type IN ('{A36_GROUP_A}', '{A36_GROUP_B}')
        ),
        per_v AS (
            SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
                   CAST(COUNT(*) AS BIGINT) AS cv
            FROM v GROUP BY v
        ),
        ranked AS (
            SELECT v, ca, cv,
                   2 * (SUM(cv) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) - cv) + cv + 1 AS dr
            FROM per_v
        ),
        agg AS (
            SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cv) - SUM(ca) AS BIGINT) AS nb,
                   SUM(CAST(ca AS HUGEINT) * dr) AS r2a,
                   SUM(CAST(cv AS HUGEINT) * cv * cv - cv) AS t
            FROM ranked
        )
        SELECT na, nb,
               CAST(r2a - na * (na + 1) AS DOUBLE) AS u2,
               CAST(t AS DOUBLE) AS t,
               CAST((CAST(na AS HUGEINT) * nb
                     - (r2a - na * (na + 1)) {'//'} 2)
                    * {A36_MICRO} // (CAST(na AS HUGEINT) * nb)
                   AS BIGINT) AS rank_biserial_micro,
               {_A36_Z} AS z_score
        FROM agg
    """,
    doc=f"Mann-Whitney U — the TWO-sample rank test ('{A36_GROUP_A}' vs "
    f"'{A36_GROUP_B}' event values): does one distribution "
    "stochastically dominate, without any normality assumption — the "
    "A/B-test workhorse when the metric is skewed (latencies, spend). "
    "a34's double-rank machinery specialized to two groups: mid-ranks "
    "of ties as exact dr = 2*cum_before + cnt + 1 integers over the "
    "distinct-value cumsum, U in DOUBLED units u2 = 2R_A - na(na+1) "
    "accumulated in DECIMAL(38,0)/HUGEINT (BIGINT dies past ~3e9 rows "
    "since u2 <= 2*na*nb; round-12 ask-#7 audit), the tie term "
    "sum(t^3 - t) exact in the same decimal (BIGINT dies at one "
    "~2.1M-row tie, n^3 > 2^63; property-tested at a 3M tie). The "
    "u2/t DIAGNOSTIC columns project as DOUBLE — one correctly-"
    "rounded cast of the exact value on both engines, since int128/"
    "decimal downgrades engine-dependently across the driver's "
    "Arrow/pandas boundary — while the decision statistics are "
    "computed from the exact decimals BEFORE any cast: the rank-"
    "biserial effect size in micro-units by HUGEINT/DECIMAL integer "
    "DIV (2U folds into the doubled numerator so nothing floats), and "
    "only the z-score formula is shared float text. Spark shape: one "
    "filtered scan -> per-value counts (map-side combined) -> the "
    "gated distinct-value cumsum -> one aggregate; at 100 TB the "
    "ordered structure is the bounded support frame, never the rows.",
    tags=("aggregate", "analytics", "statistics"),
)
def a36_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    v = e.filter(
        F.col("event_type").isin(A36_GROUP_A, A36_GROUP_B)
    ).select(
        F.when(F.col("event_type") == A36_GROUP_A, 1)
        .otherwise(0)
        .alias("is_a"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    per_v = v.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("cv")
    )
    # the gate carries ca through the quantized regroup as a second
    # summed measure, so both branches expose the same columns
    per_v, _step = bound_int_support(
        per_v, cnt_col="cv", extra_sum_cols=("ca",)
    )
    ranked = per_v.select(
        "v",
        "ca",
        "cv",
        (
            2
            * (
                F.sum("cv")
                .over(
                    Window.orderBy("v").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("cv")
            )
            + F.col("cv")
            + 1
        ).alias("dr"),
    )
    # DECIMAL-overflow audit (VERDICT r11 ask #7): t = sum(cv^3 - cv)
    # exceeds BIGINT at one value group of ~2.1M tied rows (n^3 > 2^63),
    # and u2 <= 2*na*nb exceeds it past ~3e9 total rows — both real at
    # 100 TB event scale. Both ACCUMULATE in DECIMAL(38,0)/HUGEINT
    # (exact to ~1e12 tied rows / ~1e19 total rows) and the decision
    # statistics (rank-biserial integer DIV, the z-score's single
    # exact->double cast) are computed FROM those exact values. The
    # projected u2/t columns cross the driver's Arrow/pandas boundary,
    # where int128/decimal downgrades engine-dependently — so they
    # project as DOUBLE on both engines (one correctly-rounded cast of
    # the exact value; exact below 2^53, 1-ulp honest above). The
    # property test drives a synthetic 3M-row tie past int64 and checks
    # both doubles against Python-exact arithmetic.
    agg = ranked.agg(
        F.sum("ca").alias("na"),
        (F.sum("cv") - F.sum("ca")).alias("nb"),
        F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * dr")).alias("r2a"),
        F.sum(
            F.expr("CAST(cv AS DECIMAL(38,0)) * cv * cv - cv")
        ).alias("t_dec"),
    )
    return agg.select(
        "na",
        "nb",
        F.expr("CAST(r2a - na * (na + 1) AS DOUBLE)").alias("u2"),
        F.expr("CAST(t_dec AS DOUBLE)").alias("t"),
        F.expr(
            f"CAST((CAST(na AS DECIMAL(38,0)) * nb "
            f"- (r2a - na * (na + 1)) DIV 2) "
            f"* {A36_MICRO} DIV (CAST(na AS DECIMAL(38,0)) * nb) "
            "AS BIGINT)"
        ).alias("rank_biserial_micro"),
        F.expr(_A36_Z.replace("CAST(t AS DOUBLE)", "CAST(t_dec AS DOUBLE)"))
        .alias("z_score"),
    )


# ---------------------------------------------------------------------------
# a39: Gini coefficient (round 12)
# ---------------------------------------------------------------------------

A39_PPM = 1_000_000


@register(
    "a39_gini_concentration",
    oracle=f"""
        WITH x AS (
            SELECT event_type AS g,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
        ),
        pv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
               FROM x GROUP BY 1, 2),
        cum AS (
            SELECT g, v, c,
                   SUM(c) OVER w - c AS cum_c,
                   SUM(CAST(c AS HUGEINT) * v) OVER w
                     - CAST(c AS HUGEINT) * v AS cum_s
            FROM pv
            WINDOW w AS (PARTITION BY g ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        agg AS (
            SELECT g, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CAST(c AS HUGEINT) * v) AS BIGINT)
                       AS total_cents,
                   SUM(CAST(c AS HUGEINT)
                       * (CAST(v AS HUGEINT) * cum_c - cum_s)) AS num
            FROM cum GROUP BY g
        )
        SELECT g AS event_type, n, total_cents,
               CAST(2 * num * {A39_PPM}
                    // (CAST(n AS HUGEINT) * total_cents) AS BIGINT)
                   AS gini_ppm
        FROM agg
        ORDER BY event_type
    """,
    doc="Gini coefficient of the per-group VALUE distribution — the "
    "Lorenz-curve inequality of a numeric column (a24's gini is the "
    "OTHER gini: categorical share concentration over (source, lang) "
    "cells; this one asks how unevenly the value MASS itself is "
    "spread, the income-inequality estimator): gini_ppm "
    "near 0 says spend/tokens spread evenly, near 1e6 says a handful "
    "of rows dominate (and stratified sampling or dedup must act "
    "before training). ENTIRELY exact integers on the w12-style "
    "distinct-value machinery: the mean-absolute-difference numerator "
    "sum_{{i<j}} c_i c_j (v_j - v_i) folds into ONE cumulative pass — "
    "each distinct value contributes c * (v * cum_count_below - "
    "cum_sum_below), DECIMAL(38,0)/HUGEINT throughout (<= n^2 * max_v "
    "~ 1e32 at 1e12 rows against the envelope) — and "
    "G = 2*num/(n*total) is emitted by integer DIV in ppm. The cumsum "
    "window runs over the bound_int_support-gated distinct-value "
    "frame, never the rows; one map-side-combined fact groupBy is the "
    "whole 100 TB cost.",
    tags=("aggregate", "analytics", "statistics", "quality"),
)
def a39_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    pv = x.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    pv, _step = bound_int_support(pv, cnt_col="c", group_cols=("g",))
    wcum = (
        W.partitionBy("g")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = pv.select(
        "g",
        "v",
        "c",
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_c"),
        (
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * v")).over(wcum)
            - F.expr("CAST(c AS DECIMAL(38,0)) * v")
        ).alias("cum_s"),
    )
    agg = cum.groupBy("g").agg(
        F.sum("c").alias("n"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * v"))
        .cast("long")
        .alias("total_cents"),
        F.sum(
            F.expr(
                "CAST(c AS DECIMAL(38,0)) "
                "* (CAST(v AS DECIMAL(38,0)) * cum_c - cum_s)"
            )
        ).alias("num"),
    )
    return agg.select(
        F.col("g").alias("event_type"),
        "n",
        "total_cents",
        F.expr(
            f"CAST(2 * num * {A39_PPM} "
            "DIV (CAST(n AS DECIMAL(38,0)) * total_cents) AS BIGINT)"
        ).alias("gini_ppm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# a40/a41: rank correlation (round 12b)
# ---------------------------------------------------------------------------


def _snap_cell_axis(
    cells: DataFrame,
    col: str,
    cnt_col: str = "cnt",
    max_support: int = A25_MAX_SUPPORT,
    grid: int = A25_GRID,
) -> tuple[DataFrame, int]:
    """The bound_int_support gate for ONE axis of a joint-cell frame.

    a40/a41 operate on (x, y) contingency cells, so the quantization
    must snap the CELL keys (every marginal, rank, and prefix frame
    derives from the snapped cells — keys stay consistent by
    construction, unlike gating a marginal after the fact).  One cheap
    agg measures the axis's integer support; at or under
    ``max_support`` the frame passes through untouched (step 1 — every
    registered oracle rides this exact branch), above it the axis
    snaps to the left edge of a fixed ``grid``-cell grid and the cells
    re-aggregate.  Error bound: Spearman/Kendall move by at most the
    mass that changes rank order, which the a25 edge argument bounds
    at one grid cell's mass per axis.
    """
    stats = cells.agg(
        F.approx_count_distinct(col).alias("ndv"),
        F.min(col).alias("lo"),
        F.max(col).alias("hi"),
    ).collect()[0]
    if stats["ndv"] is None or stats["ndv"] <= max_support:
        return cells, 1
    span = int(stats["hi"]) - int(stats["lo"]) + 1
    step = -(-span // grid)  # ceil
    lo = int(stats["lo"])
    keep = [c for c in cells.columns if c not in (col, cnt_col)]
    snapped = cells.select(
        *keep,
        F.expr(f"{lo} + (({col} - {lo}) DIV {step}) * {step}").alias(col),
        cnt_col,
    )
    return (
        snapped.groupBy(*keep, col).agg(F.sum(cnt_col).alias(cnt_col)),
        step,
    )


def _snap_cell_axes(
    cells: DataFrame,
    axes: tuple[str, ...],
    cnt_col: str = "cnt",
    max_support: int = A25_MAX_SUPPORT,
    grid: int = A25_GRID,
) -> DataFrame:
    """One-job multi-axis variant of ``_snap_cell_axis`` (round 13): a
    SINGLE agg measures every axis's support and extent, then each
    over-budget axis snaps as in the per-axis gate. The common ungated
    path costs ONE stats job instead of one per axis (the r12 spelling
    ran two sequential blocking collects over the cell frame — half of
    a40's gate cost at sf0.1). Snapping an axis leaves the other axes'
    distinct-value sets and extents unchanged (values are untouched,
    only co-occurrence rows merge), so measuring all axes up front is
    equivalent to the sequential per-axis measurement."""
    aggs = []
    for col in axes:
        aggs += [
            F.approx_count_distinct(col).alias(f"ndv_{col}"),
            F.min(col).alias(f"lo_{col}"),
            F.max(col).alias(f"hi_{col}"),
        ]
    stats = cells.agg(*aggs).collect()[0]
    for col in axes:
        ndv = stats[f"ndv_{col}"]
        if ndv is None or ndv <= max_support:
            continue
        span = int(stats[f"hi_{col}"]) - int(stats[f"lo_{col}"]) + 1
        step = -(-span // grid)  # ceil
        lo = int(stats[f"lo_{col}"])
        keep = [c for c in cells.columns if c not in (col, cnt_col)]
        snapped = cells.select(
            *keep,
            F.expr(f"{lo} + (({col} - {lo}) DIV {step}) * {step}").alias(col),
            cnt_col,
        )
        cells = snapped.groupBy(*keep, col).agg(
            F.sum(cnt_col).alias(cnt_col)
        )
    return cells


# Pearson-on-doubled-midranks: the one shared float formula applied to
# exact DECIMAL sums (a21's recipe), so Spark and DuckDB agree bitwise.
_A40_RHO = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
    "/ (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) "
    "* sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
)

# Doubled mid-rank of a distinct value from its group's cumulative
# counts: 2*(rows strictly below) + (ties + 1) — always an integer,
# even when the true average rank is a .5 (a34's trick).
_A40_DR = "2 * (cum - c) + c + 1"


def _a40_finish(
    cells: DataFrame, group_out: str, precached: bool = False
) -> DataFrame:
    """Spearman rho from a (g, xv, yv, cnt) contingency frame.

    Shared by batch a40 (lineitem cells from one shuffle) and streaming
    st24 (cells ARE the mergeable micro-batch state), so the stream's
    answer is bitwise-equal to the batch recompute. Gates both axes,
    ranks the marginals with doubled mid-ranks, and applies the one
    shared float formula to exact DECIMAL(38,0) sums.

    JOIN-FREE (round 13, VERDICT r12 ask #3): the doubled mid-rank
    attaches to each cell directly — a RANGE window gives the cumulative
    mass up to and including the cell's axis value and a per-(g, value)
    window gives the tie mass, so 'rows strictly below' = cum - tie and
    dr = 2*(cum - tie) + tie + 1 per cell. The r12 spelling built two
    per-value marginal frames and shuffle-joined them back onto cells;
    this is ONE exchange on g plus two sorted window passes (the tie
    windows reuse the g-partitioning — hash(g) satisfies the (g, value)
    clustering), identical arithmetic, identical oracle.

    ``precached``: the caller's cells frame is already materialized (a
    streaming memory-sink table) — skip the persist, since re-scanning
    it for the stats job and the final pass is cheaper than a caching
    pass over it.
    """
    if not precached:
        # plan-cache: cells feeds the fused axis-gate stats job and the
        # final window pass (released via release_plan_caches) — without
        # it the fact shuffle into cells would run twice
        cells = cells.persist()
    cells = _snap_cell_axes(cells, ("xv", "yv"))

    def dr(axis: str) -> F.Column:
        cum = F.sum("cnt").over(
            Window.partitionBy("g")
            .orderBy(axis)
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        tie = F.sum("cnt").over(Window.partitionBy("g", axis))
        # same integer doubled mid-rank as _A40_DR, per cell
        return F.lit(2) * (cum - tie) + tie + F.lit(1)

    s = (
        cells.withColumn("dx", dr("xv"))
        .withColumn("dy", dr("yv"))
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("decimal(38,0)").alias("n"),
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * dx")).alias("sx"),
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * dy")).alias("sy"),
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * dx * dx")).alias("sxx"),
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * dy * dy")).alias("syy"),
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * dx * dy")).alias("sxy"),
        )
    )
    return s.select(
        F.col("g").alias(group_out),
        F.col("n").cast("long").alias("n_rows"),
        F.expr(_A40_RHO).alias("spearman_rho"),
    ).orderBy(group_out)


@register(
    "a40_spearman_rho",
    oracle=f"""
        WITH x AS (
            SELECT l_returnflag AS g,
                   CAST(ROUND(l_quantity * 100) AS BIGINT) AS xv,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yv
            FROM lineitem
        ),
        cells AS (
            SELECT g, xv, yv, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM x GROUP BY 1, 2, 3
        ),
        rx AS (
            SELECT g, xv, {_A40_DR} AS dr FROM (
                SELECT g, xv, c,
                       SUM(c) OVER (PARTITION BY g ORDER BY xv
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM (SELECT g, xv, CAST(SUM(cnt) AS BIGINT) AS c
                      FROM cells GROUP BY 1, 2)
            )
        ),
        ry AS (
            SELECT g, yv, {_A40_DR} AS dr FROM (
                SELECT g, yv, c,
                       SUM(c) OVER (PARTITION BY g ORDER BY yv
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM (SELECT g, yv, CAST(SUM(cnt) AS BIGINT) AS c
                      FROM cells GROUP BY 1, 2)
            )
        ),
        s AS (
            SELECT c.g,
                   CAST(SUM(cnt) AS HUGEINT) AS n,
                   SUM(CAST(cnt AS HUGEINT) * rx.dr) AS sx,
                   SUM(CAST(cnt AS HUGEINT) * ry.dr) AS sy,
                   SUM(CAST(cnt AS HUGEINT) * rx.dr * rx.dr) AS sxx,
                   SUM(CAST(cnt AS HUGEINT) * ry.dr * ry.dr) AS syy,
                   SUM(CAST(cnt AS HUGEINT) * rx.dr * ry.dr) AS sxy
            FROM cells c
            JOIN rx ON rx.g = c.g AND rx.xv = c.xv
            JOIN ry ON ry.g = c.g AND ry.yv = c.yv
            GROUP BY c.g
        )
        SELECT g AS l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               {_A40_RHO} AS spearman_rho
        FROM s
        ORDER BY l_returnflag
    """,
    doc="Spearman rank correlation of quantity vs extended price per "
    "return flag — the monotone-association counterpart of a21's "
    "Pearson (rank-space is robust to the price column's heavy right "
    "tail; the two disagreeing is the classic nonlinearity signal). "
    "Exactness: doubled mid-ranks (a34's integer-rank trick, ties "
    "averaged without ever leaving integers) come from per-value "
    "cumulative counts, every cross-row sum is exact DECIMAL(38,0)/"
    "HUGEINT, and the one shared float formula (a21's) runs on those "
    "exact sums — bitwise-equal across engines. Scale: the fact table "
    "shuffles ONCE into (g, x, y) cells; both rank frames are "
    "distinct-value-sized re-aggs of the persisted cells (gated to "
    "A25_GRID cells per axis by _snap_cell_axis above 2M distinct, so "
    "the rank windows and the rank joins stay bounded — AQE broadcasts "
    "them in practice). Digit budget: sum(cnt*dr^2) <= 4n^3 stays "
    "inside DECIMAL(38,0) to n~2e12 rows/group; rho computes FROM the "
    "exact decimals in one shared float expression.",
    tags=("aggregate", "statistics"),
)
def a40_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rows = l.select(
        F.col("l_returnflag").alias("g"),
        _cents(F.col("l_quantity")).alias("xv"),
        _cents(F.col("l_extendedprice")).alias("yv"),
    )
    cells = rows.groupBy("g", "xv", "yv").agg(F.count(F.lit(1)).alias("cnt"))
    return _a40_finish(cells, "l_returnflag")


# a41: Kendall tau-b via 2D dominance prefix sums on the dense
# contingency grid — concordant/discordant PAIR counts fall out of the
# joint (x, y) distribution, so the O(n^2) pair space never
# materializes: work is O(|X|*|Y|) cells after ONE fact shuffle.
A41_MAX_AXIS = 1_024  # dense grid stays <= 1M cells ungated
A41_AXIS_GRID = 256

_A41_TAU = (
    "CAST(c - d AS DOUBLE) "
    "/ (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE)))"
)


@register(
    "a41_kendall_tau_b",
    oracle=f"""
        WITH x AS (
            SELECT CAST(ROUND(l_quantity) AS BIGINT) AS xv,
                   CAST(l_linenumber AS BIGINT) AS yv
            FROM lineitem
        ),
        cells AS (
            SELECT xv, yv, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM x GROUP BY 1, 2
        ),
        xs AS (SELECT DISTINCT xv FROM cells),
        ys AS (SELECT DISTINCT yv FROM cells),
        dense AS (
            SELECT xs.xv, ys.yv, COALESCE(c.cnt, 0) AS nf
            FROM xs CROSS JOIN ys
            LEFT JOIN cells c ON c.xv = xs.xv AND c.yv = ys.yv
        ),
        pref AS (
            SELECT xv, yv, nf,
                   SUM(CAST(nf AS HUGEINT)) OVER (
                       PARTITION BY xv ORDER BY yv
                       ROWS UNBOUNDED PRECEDING) AS rowcum
            FROM dense
        ),
        pref2 AS (
            SELECT xv, yv, nf,
                   SUM(rowcum) OVER (PARTITION BY yv ORDER BY xv
                       ROWS UNBOUNDED PRECEDING) AS fcum
            FROM pref
        ),
        pref3 AS (
            SELECT xv, yv, nf,
                   LAG(fcum, 1, 0) OVER (
                       PARTITION BY yv ORDER BY xv) AS gleft
            FROM pref2
        ),
        pref4 AS (
            SELECT xv, yv, nf, gleft,
                   LAG(gleft, 1, 0) OVER (
                       PARTITION BY xv ORDER BY yv) AS p
            FROM pref3
        ),
        colm AS (SELECT xv, CAST(SUM(nf) AS HUGEINT) AS cx
                 FROM dense GROUP BY xv),
        colc AS (
            SELECT xv, cx,
                   SUM(cx) OVER (ORDER BY xv ROWS UNBOUNDED PRECEDING)
                       - cx AS lx
            FROM colm
        ),
        rowm AS (SELECT yv, CAST(SUM(nf) AS HUGEINT) AS cy
                 FROM dense GROUP BY yv),
        cd AS (
            SELECT CAST(SUM(nf) AS HUGEINT) AS n,
                   SUM(CAST(nf AS HUGEINT) * p) AS c,
                   SUM(CAST(nf AS HUGEINT) * (lx - gleft)) AS d
            FROM pref4 JOIN colc USING (xv)
        ),
        tx_ AS (SELECT SUM((cx * (cx - 1)) // 2) AS tx FROM colm),
        ty_ AS (SELECT SUM((cy * (cy - 1)) // 2) AS ty FROM rowm),
        f AS (
            SELECT n, c, d, tx, ty, (n * (n - 1)) // 2 AS n0
            FROM cd CROSS JOIN tx_ CROSS JOIN ty_
        )
        SELECT CAST(n AS BIGINT) AS n_rows,
               CAST(c AS DOUBLE) AS concordant,
               CAST(d AS DOUBLE) AS discordant,
               {_A41_TAU} AS tau_b
        FROM f
    """,
    doc="Kendall tau-b between line number and quantity — the ordinal-"
    "pair association test (a40's Spearman needs rank arithmetic; "
    "tau-b is the standard when both axes are small ordinal scales). "
    "The O(n^2) pair space NEVER materializes. The oracle counts "
    "concordant pairs as sum(n_xy * F(x-1, y-1)) over the joint "
    "contingency, F the 2D dominance prefix (two chained window "
    "cumsums plus two LAGs on the dense |X|x|Y| grid); Spark runs "
    "a53's `_kendall_pair_counts` kernel on the same cells — two "
    "window suffix-sums over the dense grid (axis supports cross "
    "joined, zero-filled) count pairs increasing in both axes "
    "(concordant) or opposed (discordant), ties from the marginals; "
    "the counts are identical integers. 100 TB shape: ONE fact "
    "shuffle into cells, everything after is grid-sized — "
    "_snap_cell_axis caps each axis at 256 grid cells above 1,024 "
    "distinct (dense grid <= 65,536 rows gated, <= 1M ungated), the "
    "cell frame broadcasts into the densify join, and every window "
    "partition is one grid line. Digit budget: pair products and the "
    "concordant/discordant sums run in DECIMAL(38,0)/HUGEINT; n0 = "
    "n(n-1)/2 and the tie counts are integral DIVs (BIGINT on the Spark "
    "side, which ANSI mode makes raise rather than wrap past n ~ 4.3e9 "
    "rows); the pair counts project as one correctly-rounded DOUBLE "
    "cast and tau_b computes FROM the exact counts in the shared float "
    "formula.",
    tags=("aggregate", "statistics"),
)
def a41_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rows = l.select(
        F.round(F.col("l_quantity")).cast("long").alias("xv"),
        F.col("l_linenumber").cast("long").alias("yv"),
    )
    cells = rows.groupBy("xv", "yv").agg(F.count(F.lit(1)).alias("c"))
    for axis in ("xv", "yv"):
        cells, _step = _snap_cell_axis(
            cells, axis, "c", max_support=A41_MAX_AXIS, grid=A41_AXIS_GRID
        )
    # plan-cache: cells feeds the dense grid, both axis supports, and
    # both tie marginals (released via session.release_plan_caches)
    k = _kendall_pair_counts(cells.persist())
    return k.select(
        F.col("n").alias("n_rows"),
        F.col("conc").cast("double").alias("concordant"),
        F.col("disc").cast("double").alias("discordant"),
        # _A41_TAU's IEEE tree over the kernel's column names
        F.expr(_A53_TAU).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# a42: Welch's t-test, each event type vs the complement (round 12b)
# ---------------------------------------------------------------------------

# Shared float formulas applied once per group to exact DECIMAL/HUGEINT
# moment sums (a21's determinism recipe). Every cast is explicit so the
# expression text — and therefore the float op order — is identical on
# both engines.
_A42_VAR = (
    "(CAST({s2} AS DOUBLE) - CAST({s1} AS DOUBLE) * CAST({s1} AS DOUBLE)"
    " / CAST({n} AS DOUBLE)) / (CAST({n} AS DOUBLE) - 1.0)"
)
_A42_T = (
    "(CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) "
    "- CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE)) / sqrt(sea + seb)"
)
_A42_DF = (
    "((sea + seb) * (sea + seb)) "
    "/ (sea * sea / (CAST(na AS DOUBLE) - 1.0) "
    "+ seb * seb / (CAST(nb AS DOUBLE) - 1.0))"
)


def _a42_se_guarded(s2: str, s1: str, n: str) -> str:
    """Standard error of one side, NULL-guarded (ADVICE r12): a
    singleton group (n = 1 zeroes the variance denominator) or an
    empty complement (nb = 0) must yield NULL, not Inf/NaN — and since
    t_stat/welch_df arithmetic propagates NULL identically on both
    engines, guarding the two SEs guards every downstream output."""
    inner = _A42_VAR.format(s2=s2, s1=s1, n=n) + f" / CAST({n} AS DOUBLE)"
    return f"CASE WHEN na > 1 AND nb > 1 THEN {inner} ELSE NULL END"


@register(
    "a42_welch_t",
    oracle=f"""
        WITH x AS (
            SELECT event_type AS g,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
        ),
        m AS (
            SELECT g,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS HUGEINT) AS s1,
                   SUM(CAST(v AS HUGEINT) * v) AS s2
            FROM x GROUP BY g
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(SUM(s1) AS HUGEINT) AS s1t,
                   CAST(SUM(s2) AS HUGEINT) AS s2t
            FROM m
        ),
        j AS (
            SELECT g, n AS na, s1 AS s1a, s2 AS s2a,
                   nt - n AS nb, s1t - s1 AS s1b, s2t - s2 AS s2b
            FROM m CROSS JOIN tot
        ),
        v AS (
            SELECT g, na, s1a, nb, s1b,
                   {_a42_se_guarded('s2a', 's1a', 'na')} AS sea,
                   {_a42_se_guarded('s2b', 's1b', 'nb')} AS seb
            FROM j
        )
        SELECT g AS event_type,
               na AS n_rows,
               CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) AS mean_cents,
               {_A42_T} AS t_stat,
               {_A42_DF} AS welch_df
        FROM v
        ORDER BY event_type
    """,
    doc="Welch's unequal-variance t-test of EACH event type's value "
    "against the complement of the other types — the parametric "
    "two-sample slot in the inference shelf (a33's ANOVA F pools "
    "variances across k groups; a36's Mann-Whitney is the rank "
    "alternative; Welch is the textbook default when spread differs, "
    "and one-vs-rest makes it the per-segment outlier screen). "
    "Exactness: per-group moment sums (n, sum v, sum v^2 on integer "
    "cents) in DECIMAL(38,0)/HUGEINT; the complement's moments are "
    "the GLOBAL fold minus the group's — no second scan, no pairwise "
    "group join — and variance/SE/t/df are shared float formulas "
    "applied once per group to exact inputs (explicit casts pin the "
    "float op order on both engines). Welch-Satterthwaite df is "
    "reported rather than a p-value (no distribution function "
    "evaluates in-engine; the chi-square/t critical-value comparison "
    "is the consumer's one Python-side constant, st23/ts26's recipe). "
    "Scale: ONE map-side-combined shuffle to |types| moment rows, a "
    "broadcast of the 1-row total, then per-row float math. Digit "
    "budget: sum(v^2) at (1e7-cent values, 1e12 rows) peaks ~1e26 — "
    "inside the 38-digit envelope (a21's analysis); int64 dies at "
    "~1e4 rows.",
    tags=("aggregate", "statistics"),
)
def a42_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    m = (
        e.select(
            F.col("event_type").alias("g"),
            _cents(F.col("value")).alias("v"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast(dec)).cast(dec).alias("s1"),
            F.sum(F.expr(f"CAST(v AS {dec}) * v")).cast(dec).alias("s2"),
        )
    )
    tot = m.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s1").cast(dec).alias("s1t"),
        F.sum("s2").cast(dec).alias("s2t"),
    )
    j = m.crossJoin(F.broadcast(tot)).select(
        "g",
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
        F.expr("nt - n").alias("nb"),
        F.expr("s1t - s1").alias("s1b"),
        F.expr("s2t - s2").alias("s2b"),
    )
    v = j.select(
        "g",
        "na",
        "s1a",
        "nb",
        "s1b",
        F.expr(_a42_se_guarded("s2a", "s1a", "na")).alias("sea"),
        F.expr(_a42_se_guarded("s2b", "s1b", "nb")).alias("seb"),
    )
    return v.select(
        F.col("g").alias("event_type"),
        F.col("na").alias("n_rows"),
        F.expr("CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE)").alias(
            "mean_cents"
        ),
        F.expr(_A42_T).alias("t_stat"),
        F.expr(_A42_DF).alias("welch_df"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# a43: deterministic Poisson bootstrap CI (round 12b)
# ---------------------------------------------------------------------------

A43_REPLICAS = 100
A43_MICRO = 1_000_000
#: Cumulative Poisson(1) probabilities in ppm, PRE-QUANTIZED in Python
#: (st23's zero-transcendental recipe): P(K <= k) for k = 0..7; the
#: tail mass beyond 7 (1e-5) maps to weight 8. round(cumsum(e^-1/k!)
#: * 1e6) — neither engine evaluates exp/factorial.
A43_POISSON_CUM_PPM = (
    367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990,
)

#: Counter-based lane mixing (round 13, VERDICT r12 ask #1): ONE md5
#: per event, three 32-bit coefficients (ca, cb, cc) off the 128-bit
#: digest, and lane b's uniform draw is the degree-2 polynomial
#: (ca + cb*b + cc*b^2) mod P — a 3-wise-independent hash family over
#: the replica counter, so lanes decorrelate without re-hashing. The
#: previous spelling evaluated 100 md5s per event (md5(event_id || b));
#: this does the same deterministic draw at ~1/100th the hash cost.
#: P = 2^31 - 1 (Mersenne prime): every intermediate fits BIGINT
#: (max ~2^32 * (1 + 99 + 99^2) < 2^46) — no overflow on either engine.
A43_MIX_PRIME = 2_147_483_647

#: Per-lane uniform ppm from the per-event coefficients + lane counter:
#: the IDENTICAL expression text runs on Spark and DuckDB.
_A43_U = f"((ca + cb * b + cc * b * b) % {A43_MIX_PRIME}) % 1000000"

#: Order-statistic CI ranks DERIVED from the replica count (ADVICE r12:
#: hardcoded 3/98 silently broke if A43_REPLICAS changed): the 2.5/97.5%
#: type-1 bracket of B sorted replica means.
A43_RANK_LO = round(0.025 * A43_REPLICAS) + 1
A43_RANK_HI = A43_REPLICAS - A43_RANK_LO + 1

#: Coefficient extraction: 8-hex windows at 1/9/17 of the digest ``h``.
def _a43_coef_spark(off: int) -> str:
    return f"CAST(CONV(SUBSTRING(h, {off}, 8), 16, 10) AS BIGINT)"


def _a43_coef_duck(off: int) -> str:
    return (
        "list_reduce([strpos('0123456789abcdef', c) - 1 "
        f"for c in regexp_extract_all(substr(h, {off}, 8), '.')], "
        "(x, y) -> x * 16 + y)"
    )


def _a43_weight_case(u_expr: str) -> str:
    """Inverse-CDF lookup: uniform ppm -> Poisson(1) weight 0..8."""
    branches = " ".join(
        f"WHEN ({u_expr}) < {t} THEN {k}"
        for k, t in enumerate(A43_POISSON_CUM_PPM)
    )
    return f"CASE {branches} ELSE 8 END"


@register(
    "a43_poisson_bootstrap_ci",
    oracle=f"""
        WITH x AS (
            SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
                   md5(CAST(event_id AS VARCHAR)) AS h
            FROM events
        ),
        cf AS (
            SELECT v,
                   {_a43_coef_duck(1)} AS ca,
                   {_a43_coef_duck(9)} AS cb,
                   {_a43_coef_duck(17)} AS cc
            FROM x
        ),
        reps(b) AS (
            SELECT unnest(generate_series(0, {A43_REPLICAS - 1}))
        ),
        weighted AS (
            SELECT b, v, {_a43_weight_case("u")} AS k
            FROM (SELECT b, v, {_A43_U} AS u FROM cf CROSS JOIN reps)
        ),
        per_rep AS (
            SELECT b,
                   CAST(SUM(CAST(k AS HUGEINT) * v) * {A43_MICRO}
                        // SUM(k) AS BIGINT) AS mean_micro
            FROM weighted GROUP BY b
        ),
        ranked AS (
            SELECT mean_micro,
                   ROW_NUMBER() OVER (ORDER BY mean_micro) AS r
            FROM per_rep
        ),
        point AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(v AS HUGEINT)) * {A43_MICRO}
                        // COUNT(*) AS BIGINT) AS mean_micro
            FROM x
        )
        SELECT point.n_rows,
               CAST({A43_REPLICAS} AS BIGINT) AS b_replicas,
               point.mean_micro,
               MAX(CASE WHEN r = {A43_RANK_LO} THEN ranked.mean_micro END)
                   AS ci_lo_micro,
               MAX(CASE WHEN r = {A43_RANK_HI} THEN ranked.mean_micro END)
                   AS ci_hi_micro
        FROM ranked CROSS JOIN point
        GROUP BY point.n_rows, point.mean_micro
    """,
    doc=f"95% bootstrap confidence interval for the mean event value "
    f"via the DETERMINISTIC Poisson bootstrap over {A43_REPLICAS} "
    "replicas — THE distributed-bootstrap technique (resampling n rows "
    "with replacement needs global coordination; giving each row an "
    "independent Poisson(1) multiplicity per replica is one map-side "
    "pass, which is why it's the standard at cluster scale). "
    "Determinism: ONE md5 per event yields three 32-bit digest "
    "coefficients, and each replica's uniform draw is the degree-2 "
    "lane polynomial (ca + cb*b + cc*b^2) mod 2^31-1 — a 3-wise-"
    "independent counter-based mix (round 13 cut the prior 100-"
    "hashes-per-event spelling ~100x) — mapped through Python-"
    "PREQUANTIZED cumulative Poisson(1) ppm thresholds (an exact "
    "integer inverse-CDF lookup — no RNG, no exp/factorial in-engine, "
    "st23's recipe), so both engines draw the IDENTICAL bootstrap "
    "sample; replica means are exact integer micro-units by DECIMAL/"
    f"HUGEINT DIV, and the CI bounds are order statistics (ranks "
    f"{A43_RANK_LO} and {A43_RANK_HI}, DERIVED from the replica "
    "count — type-1 quantiles at 2.5/97.5%) of the replica frame. "
    "Scale shape: the "
    f"{A43_REPLICAS}x row expansion never materializes — it is "
    "map-side generate + partial aggregation, shuffling only "
    f"{A43_REPLICAS} partial rows per task; everything after the "
    "groupBy is 100 rows. Digit budget: sum(k*v)*1e6 peaks ~8e19 per "
    "replica at 1e12 rows of 1e4-cent values — DECIMAL(38,0)/HUGEINT "
    "(int64 dies at ~1e10 rows).",
    tags=("aggregate", "statistics", "sampling"),
)
def a43_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_rep = _a43_replica_sums(e)
    return _a43_finish(per_rep)


def _a43_replica_sums(e: DataFrame) -> DataFrame:
    """Per-replica bootstrap partials (b, sk, skv, n, sv) — a MERGEABLE
    100-row frame (every column is a sum/count), which is why st26 can
    hold it as streaming state: each event contributes once per replica
    via a map-side sequence explode, no stream-static join needed.

    ONE md5 per event: the digest projects to (ca, cb, cc) BELOW the
    explode (CollapseProject keeps the non-cheap md5 un-duplicated), so
    the 100 lanes cost integer polynomial evaluation only."""
    x = e.select(
        _cents(F.col("value")).alias("v"),
        F.md5(F.col("event_id").cast("string")).alias("h"),
    )
    cf = x.select(
        "v",
        F.expr(_a43_coef_spark(1)).alias("ca"),
        F.expr(_a43_coef_spark(9)).alias("cb"),
        F.expr(_a43_coef_spark(17)).alias("cc"),
    )
    weighted = (
        cf.select(
            F.explode(F.expr(f"sequence(0, {A43_REPLICAS - 1})")).alias("b"),
            "v",
            "ca",
            "cb",
            "cc",
        )
        # u hoisted to its own projection: the 8-branch CASE then reads a
        # column instead of re-evaluating the lane polynomial per branch
        .select("b", "v", F.expr(_A43_U).alias("u"))
        .select("b", "v", F.expr(_a43_weight_case("u")).alias("k"))
    )
    dec = "decimal(38,0)"
    return weighted.groupBy("b").agg(
        F.sum(F.col("k").cast(dec)).cast(dec).alias("sk"),
        F.sum(F.expr(f"CAST(k AS {dec}) * v")).cast(dec).alias("skv"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(dec)).cast(dec).alias("sv"),
    )


def _a43_finish(per_rep: DataFrame) -> DataFrame:
    """CI from the replica-partial frame — shared by batch a43 and
    streaming st26 (pytest pins bitwise equality)."""
    per_rep = per_rep.persist()  # plan-cache: feeds ranks AND the point
    ranked = per_rep.select(
        F.expr(
            f"CAST(skv * {A43_MICRO} DIV sk AS BIGINT)"
        ).alias("mean_micro"),
        F.row_number()
        .over(Window.orderBy(F.expr(f"skv * {A43_MICRO} DIV sk")))
        .alias("r"),
    )
    point = per_rep.agg(
        F.max("n").alias("n_rows"),
        F.expr(
            f"CAST(MAX(sv) * {A43_MICRO} DIV MAX(n) AS BIGINT)"
        ).alias("point_mean"),
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("n_rows", "point_mean")
        .agg(
            F.max(
                F.expr(f"CASE WHEN r = {A43_RANK_LO} THEN mean_micro END")
            ).alias("ci_lo_micro"),
            F.max(
                F.expr(f"CASE WHEN r = {A43_RANK_HI} THEN mean_micro END")
            ).alias("ci_hi_micro"),
        )
        .select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.lit(A43_REPLICAS).cast("long").alias("b_replicas"),
            F.col("point_mean").alias("mean_micro"),
            "ci_lo_micro",
            "ci_hi_micro",
        )
    )


# ---------------------------------------------------------------------------
# a44: distribution-free median CI via order statistics (round 12b)
# ---------------------------------------------------------------------------

#: z for the 95% two-sided normal approximation of the binomial rank
#: bracket — the one Python-side constant (st23/ts26's recipe).
A44_Z95 = 1.96

#: Order-statistic ranks: l = floor((n - z*sqrt(n))/2), clamped to 1;
#: u = n + 1 - l. P(X_(l) <= median <= X_(u)) >= 95% for ANY
#: distribution (binomial argument, normal-approximated). The float
#: piece is one shared expression over the exact integer n — both
#: engines compute the identical rank.
_A44_L = (
    "GREATEST(CAST(FLOOR((CAST(n AS DOUBLE) "
    f"- {A44_Z95} * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT), 1)"
)


@register(
    "a44_median_ci",
    oracle=f"""
        WITH x AS (
            SELECT event_type AS g,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
        ),
        pv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM x GROUP BY 1, 2),
        cum AS (
            SELECT g, v, cnt,
                   SUM(cnt) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(cnt) OVER (PARTITION BY g) AS n
            FROM pv
        ),
        ranks AS (
            SELECT g, v, cum, n,
                   {_A44_L} AS l,
                   n + 1 - {_A44_L} AS u,
                   (n + 1) // 2 AS md
            FROM cum
        )
        SELECT g AS event_type,
               CAST(MAX(n) AS BIGINT) AS n_rows,
               MIN(CASE WHEN cum >= md THEN v END) AS median_cents,
               MIN(CASE WHEN cum >= l THEN v END) AS ci_lo_cents,
               MIN(CASE WHEN cum >= u THEN v END) AS ci_hi_cents
        FROM ranks GROUP BY g
        ORDER BY event_type
    """,
    doc="Distribution-free 95% confidence interval for the MEDIAN "
    "event value per type, from order statistics — the robust "
    "companion to a43's bootstrap mean CI (no resampling, no "
    "normality: P(X_(l) <= median <= X_(u)) >= 95% for ANY "
    "distribution by the binomial sign argument; the classic "
    "nonparametric interval). The rank bracket l = floor((n - "
    "1.96*sqrt(n))/2), u = n+1-l is ONE shared float expression over "
    "the exact integer n (identical text both engines -> identical "
    "integer rank), and the three order statistics (lower median, lo, "
    "hi) read off the per-value cumulative-count frame with a35's "
    "MIN(CASE WHEN cum >= r) trick — values never leave exact integer "
    "cents. Scale shape: the w12/a35 recipe — one shuffle to "
    "(type, value) cells, bound_int_support gates the per-type "
    "distinct frame at A25_GRID cells before the ordered window; "
    "selection is a tiny grouped fold, no sort of raw rows anywhere.",
    tags=("aggregate", "statistics"),
)
def a44_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_v = (
        e.select(
            F.col("event_type").alias("g"),
            _cents(F.col("value")).alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _a44_finish(per_v)


def _a44_finish(per_v: DataFrame) -> DataFrame:
    """Median + order-statistic CI from a (g, v, cnt) per-value frame —
    shared by batch a44 and streaming st27 (whose per-value counts ARE
    the mergeable stream state), so the stream's bracket is
    bitwise-equal to a batch recompute."""
    per_v, _step = bound_int_support(per_v, group_cols=("g",))
    wc = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_v.select(
        "g",
        "v",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("g")).alias("n"),
    )
    ranks = cum.select(
        "g",
        "v",
        "cum",
        "n",
        F.expr(_A44_L).alias("l"),
        F.expr(f"n + 1 - {_A44_L}").alias("u"),
        F.expr("(n + 1) DIV 2").alias("md"),
    )
    return (
        ranks.groupBy("g")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.min(F.expr("CASE WHEN cum >= md THEN v END")).alias(
                "median_cents"
            ),
            F.min(F.expr("CASE WHEN cum >= l THEN v END")).alias(
                "ci_lo_cents"
            ),
            F.min(F.expr("CASE WHEN cum >= u THEN v END")).alias(
                "ci_hi_cents"
            ),
        )
        .select(
            F.col("g").alias("event_type"),
            "n_rows",
            "median_cents",
            "ci_lo_cents",
            "ci_hi_cents",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a45: mutual information / uncertainty coefficient (round 13)
# ---------------------------------------------------------------------------

A45_MICRO = 1_000_000

#: ln of an INTEGER, snapped per-row to micro-nats (tx24/tx26's recipe —
#: the 1-ulp libm divergence sits ~1e-10 inside the rounding margin).
_A45_LN = f"CAST(ROUND(ln({{k}}) * {A45_MICRO}) AS BIGINT)"


@register(
    "a45_mutual_information",
    oracle=f"""
        WITH x AS (
            SELECT event_type AS xv,
                   CAST(EXTRACT(hour FROM ts) AS BIGINT) AS yv
            FROM events
        ),
        cells AS (
            SELECT xv, yv, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY 1, 2
        ),
        mx AS (SELECT xv, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
        my AS (SELECT yv, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        s AS (
            SELECT CAST(SUM(CAST(c AS HUGEINT) * (
                       {_A45_LN.format(k='c')} + {_A45_LN.format(k='n')}
                       - {_A45_LN.format(k='cx')} - {_A45_LN.format(k='cy')}
                   )) AS HUGEINT) AS num,
                   MAX(n) AS n
            FROM cells
            JOIN mx USING (xv) JOIN my USING (yv) CROSS JOIN tot
        ),
        hy AS (
            SELECT CAST((CAST(MAX(t.n) AS HUGEINT)
                         * {_A45_LN.format(k='MAX(t.n)')}
                         - SUM(CAST(cy AS HUGEINT)
                               * {_A45_LN.format(k='cy')}))
                        // MAX(t.n) AS BIGINT) AS h_y_micro
            FROM my CROSS JOIN tot t
        )
        SELECT s.n AS n_rows,
               CAST(GREATEST(num, 0) // n AS BIGINT) AS mi_micro_nats,
               hy.h_y_micro,
               CAST(CASE WHEN hy.h_y_micro > 0 THEN
                   (GREATEST(num, 0) // n) * {A45_MICRO} // hy.h_y_micro
               ELSE 0 END AS BIGINT) AS u_ppm
        FROM s CROSS JOIN hy
    """,
    doc="Mutual information between event type and hour of day, in "
    "exact integer micro-nats, plus Theil's uncertainty coefficient "
    "U(hour|type) = MI/H(hour) in ppm — the model-free dependence "
    "measure behind feature selection and drift triage (a29's "
    "chi-square answers 'is there dependence?'; MI answers 'how many "
    "nats does knowing the type buy?', and U normalizes it to 0-1). "
    "Exactness: MI = (1/N) * sum c_xy*(ln c_xy + ln N - ln c_x - "
    "ln c_y) with every ln taking an INTEGER count and snapped "
    "per-row to micro-nats (tx26's recipe), cross-row sums in "
    "DECIMAL(38,0)/HUGEINT, the negative-rounding edge clamped by "
    "GREATEST(.,0) BEFORE the one integer DIV (keeping both engines "
    "on the agreed non-negative division semantics). Scale: ONE fact "
    "shuffle to |types|x24 cells; marginals re-agg from the cells and "
    "broadcast back; everything after is support-sized. Digit budget: "
    "c * (4 ln terms) peaks ~5e13 micro-nats per cell at 1e12 rows — "
    "the HUGEINT sum has 25 digits of headroom.",
    tags=("aggregate", "statistics"),
)
def a45_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select(
            F.col("event_type").alias("xv"),
            F.hour("ts").cast("long").alias("yv"),
        )
        .groupBy("xv", "yv")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _a45_finish(cells)


def _a45_finish(cells: DataFrame, precached: bool = False) -> DataFrame:
    """MI + Theil's U from an (xv, yv, c) contingency frame — shared by
    batch a45 and streaming st31 (the joint contingency IS the mergeable
    sufficient statistic, st24's argument), so the stream's answer is
    bitwise-equal to a batch recompute."""
    if not precached:
        # plan-cache: feeds both marginals and the joined term sum
        cells = cells.persist()
    # Fresh attribute names on the marginal frames' join keys: mx/my
    # derive from the same cells frame (a streaming memory-sink view in
    # st31's case), and Spark's self-join disambiguation rejects the
    # raw name-based join there ("conflicting references").
    mx = cells.groupBy("xv").agg(F.sum("c").alias("cx")).select(
        F.col("xv").alias("mxv"), "cx"
    )
    my = cells.groupBy("yv").agg(F.sum("c").alias("cy")).select(
        F.col("yv").alias("myv"), "cy"
    )
    tot = cells.agg(F.sum("c").alias("n"))
    dec = "decimal(38,0)"
    s = (
        cells.join(F.broadcast(mx), F.col("xv") == F.col("mxv"))
        .join(F.broadcast(my), F.col("yv") == F.col("myv"))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    f"CAST(c AS {dec}) * ({_A45_LN.format(k='c')} "
                    f"+ {_A45_LN.format(k='n')} - {_A45_LN.format(k='cx')} "
                    f"- {_A45_LN.format(k='cy')})"
                )
            ).cast(dec).alias("num"),
            F.max("n").alias("n"),
        )
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                f"CAST((CAST(MAX(n) AS {dec}) * {_A45_LN.format(k='MAX(n)')} "
                f"- SUM(CAST(cy AS {dec}) * {_A45_LN.format(k='cy')})) "
                "DIV MAX(n) AS BIGINT)"
            ).alias("h_y_micro")
        )
    )
    return s.crossJoin(F.broadcast(hy)).select(
        F.col("n").cast("long").alias("n_rows"),
        F.expr("CAST(GREATEST(num, CAST(0 AS DECIMAL(38,0))) DIV n AS BIGINT)").alias(
            "mi_micro_nats"
        ),
        "h_y_micro",
        F.expr(
            f"CAST(CASE WHEN h_y_micro > 0 THEN "
            f"(GREATEST(num, CAST(0 AS DECIMAL(38,0))) DIV n) * {A45_MICRO} "
            "DIV h_y_micro ELSE 0 END AS BIGINT)"
        ).alias("u_ppm"),
    )


# ---------------------------------------------------------------------------
# a46: Cohen's kappa — chance-corrected rule agreement (round 13)
# ---------------------------------------------------------------------------

#: Rule A's anomaly threshold in cents (a fixed monitoring constant).
A46_CENTS_THRESHOLD = 50_000

_A46_KAPPA = (
    "(CAST(n11 + n00 AS DOUBLE) / n "
    "- (CAST(a1 AS DOUBLE) * b1 + CAST(a0 AS DOUBLE) * b0) / (CAST(n AS DOUBLE) * n)) "
    "/ (1.0 "
    "- (CAST(a1 AS DOUBLE) * b1 + CAST(a0 AS DOUBLE) * b0) / (CAST(n AS DOUBLE) * n))"
)


@register(
    "a46_cohens_kappa",
    oracle=f"""
        WITH x AS (
            SELECT CASE WHEN CAST(ROUND(value * 100) AS BIGINT)
                             >= {A46_CENTS_THRESHOLD} THEN 1 ELSE 0 END AS ra,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS rb
            FROM events
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(ra * rb) AS BIGINT) AS n11,
                   CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00,
                   CAST(SUM(ra) AS BIGINT) AS a1,
                   CAST(SUM(rb) AS BIGINT) AS b1
            FROM x
        ),
        f AS (
            SELECT n, n11, n00, a1, b1, n - a1 AS a0, n - b1 AS b0 FROM c
        )
        SELECT n AS n_rows, n11, n00, a1 AS n_rule_a, b1 AS n_rule_b,
               {_A46_KAPPA} AS kappa
        FROM f
    """,
    doc="Cohen's kappa between two anomaly rules — rule A (value >= "
    f"{A46_CENTS_THRESHOLD} cents) and rule B (event_type = 'error') "
    "— the chance-corrected agreement audit: raw agreement flatters "
    "any pair of rules that both fire rarely; kappa subtracts the "
    "agreement two INDEPENDENT rules with these marginals would get "
    "(kappa ~ 0 means the value rule adds nothing beyond chance "
    "given the error rate; ~1 means it re-detects the same events). "
    "Exactness: the 2x2 contingency is four exact integer sums in "
    "ONE map-side-combined pass (no shuffle beyond the 1-row agg), "
    "and kappa is a single shared float formula over the exact "
    "counts — bitwise across engines. Output stays 1 row at any "
    "scale.",
    tags=("aggregate", "statistics", "quality"),
)
def a46_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.when(
            _cents(F.col("value")) >= A46_CENTS_THRESHOLD, 1
        ).otherwise(0).alias("ra"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("rb"),
    )
    c = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("ra * rb")).cast("long").alias("n11"),
        F.sum(F.expr("(1 - ra) * (1 - rb)")).cast("long").alias("n00"),
        F.sum("ra").cast("long").alias("a1"),
        F.sum("rb").cast("long").alias("b1"),
    )
    f = c.select(
        "n", "n11", "n00", "a1", "b1",
        F.expr("n - a1").alias("a0"),
        F.expr("n - b1").alias("b0"),
    )
    return f.select(
        F.col("n").alias("n_rows"),
        "n11",
        "n00",
        F.col("a1").alias("n_rule_a"),
        F.col("b1").alias("n_rule_b"),
        F.expr(_A46_KAPPA).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# a47: Jensen-Shannon divergence between value distributions (round 13)
# ---------------------------------------------------------------------------

A47_MICRO = 1_000_000
#: ln(2) in micro-nats, pre-quantized once in Python (st23's recipe) —
#: the JSD upper bound used for the ppm normalization.
A47_LN2_MICRO = 693_147


@register(
    "a47_js_divergence",
    oracle=f"""
        WITH x AS (
            SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_p
            FROM events
        ),
        cells AS (
            SELECT v,
                   CAST(SUM(is_p) AS BIGINT) AS cp,
                   CAST(SUM(1 - is_p) AS BIGINT) AS cq
            FROM x GROUP BY v
        ),
        tot AS (
            SELECT CAST(SUM(cp) AS BIGINT) AS np,
                   CAST(SUM(cq) AS BIGINT) AS nq
            FROM cells
        ),
        terms AS (
            SELECT
                CASE WHEN cp > 0 THEN CAST(cp AS HUGEINT) * (
                    {_A45_LN.format(k='2 * cp * nq')}
                    - {_A45_LN.format(k='cp * nq + cq * np')})
                ELSE 0 END AS tp,
                CASE WHEN cq > 0 THEN CAST(cq AS HUGEINT) * (
                    {_A45_LN.format(k='2 * cq * np')}
                    - {_A45_LN.format(k='cp * nq + cq * np')})
                ELSE 0 END AS tq,
                np, nq
            FROM cells CROSS JOIN tot
        ),
        s AS (
            SELECT CAST(GREATEST(SUM(tp), 0) // MAX(np)
                        + GREATEST(SUM(tq), 0) // MAX(nq) AS BIGINT) // 2
                       AS jsd_micro,
                   MAX(np) AS np, MAX(nq) AS nq
            FROM terms
        )
        SELECT np AS n_p_rows, nq AS n_q_rows,
               CAST(jsd_micro AS BIGINT) AS jsd_micro_nats,
               CAST(jsd_micro * {A47_MICRO} // {A47_LN2_MICRO} AS BIGINT)
                   AS jsd_ppm_of_max
        FROM s
    """,
    doc="Jensen-Shannon divergence between the value distribution of "
    "'error' events (P) and everything else (Q), in exact integer "
    "micro-nats plus ppm of the ln(2) maximum — the SYMMETRIC, "
    "always-finite drift distance (a25's KS sees only the worst CDF "
    "gap; a31's TV ignores how far mass moved; KL blows up on "
    "non-overlapping support — JSD is the metric monitoring stacks "
    "standardize on). Exactness: each term's log argument is an "
    "INTEGER product — p ln(p/m) = (cp/Np)*(ln(2*cp*Nq) - "
    "ln(cp*Nq + cq*Np)) — snapped per-row to micro-nats (tx26's "
    "recipe), summed in HUGEINT/DECIMAL(38,0), clamped non-negative "
    "per side, one integer DIV per side then the /2 — identical on "
    "both engines; zero-count sides contribute exactly 0 (the x ln x "
    "-> 0 limit as a CASE). Scale: ONE shuffle to value-support "
    "cells carrying BOTH conditional counts (no second scan, no "
    "join of two histograms), 1-row total broadcast, support-sized "
    "map math. Digit budget: cp*Nq peaks 1e24 at 1e12 rows — ln "
    "takes it as DOUBLE (exact to 1 ulp, inside the micro margin); "
    "the HUGEINT term sum holds to ~1e30.",
    tags=("aggregate", "statistics", "drift"),
)
def a47_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        _cents(F.col("value")).alias("v"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_p"),
    )
    cells = x.groupBy("v").agg(
        F.sum("is_p").cast("long").alias("cp"),
        F.sum(F.expr("1 - is_p")).cast("long").alias("cq"),
    )
    return _a47_finish(cells)


def _a47_finish(cells: DataFrame, precached: bool = False) -> DataFrame:
    """JSD from a (v, cp, cq) joint-histogram frame — shared by batch
    a47 and streaming st32 (the two conditional counts per value are
    the mergeable state), so the stream's divergence is bitwise-equal
    to a batch recompute."""
    if not precached:
        # plan-cache: cells feeds the 1-row total AND the term map —
        # unpersisted, the fact shuffle into the histogram runs twice
        # (released by the caller via release_plan_caches)
        cells = cells.persist()
    tot = cells.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cq").cast("long").alias("nq"),
    )
    dec = "decimal(38,0)"
    terms = cells.crossJoin(F.broadcast(tot)).select(
        F.expr(
            f"CASE WHEN cp > 0 THEN CAST(cp AS {dec}) * ("
            f"{_A45_LN.format(k='2 * cp * nq')} "
            f"- {_A45_LN.format(k='cp * nq + cq * np')}) "
            f"ELSE CAST(0 AS {dec}) END"
        ).alias("tp"),
        F.expr(
            f"CASE WHEN cq > 0 THEN CAST(cq AS {dec}) * ("
            f"{_A45_LN.format(k='2 * cq * np')} "
            f"- {_A45_LN.format(k='cp * nq + cq * np')}) "
            f"ELSE CAST(0 AS {dec}) END"
        ).alias("tq"),
        "np",
        "nq",
    )
    s = terms.agg(
        F.expr(
            f"CAST(GREATEST(SUM(tp), CAST(0 AS {dec})) DIV MAX(np) "
            f"+ GREATEST(SUM(tq), CAST(0 AS {dec})) DIV MAX(nq) AS BIGINT) "
            "DIV 2"
        ).alias("jsd_micro"),
        F.max("np").alias("np"),
        F.max("nq").alias("nq"),
    )
    return s.select(
        F.col("np").alias("n_p_rows"),
        F.col("nq").alias("n_q_rows"),
        F.col("jsd_micro").cast("long").alias("jsd_micro_nats"),
        F.expr(
            f"CAST(jsd_micro * {A47_MICRO} DIV {A47_LN2_MICRO} AS BIGINT)"
        ).alias("jsd_ppm_of_max"),
    )


# ---------------------------------------------------------------------------
# a48: odds ratio with Woolf CI (round 13)
# ---------------------------------------------------------------------------

#: z for the 95% two-sided interval — the one Python-side constant.
A48_Z95 = 1.96

_A48_LNOR = (
    "(CAST(ROUND(ln(CAST(n11 AS DOUBLE) * n00) * 1000000) AS BIGINT) "
    "- CAST(ROUND(ln(CAST(n10 AS DOUBLE) * n01) * 1000000) AS BIGINT))"
)
_A48_SE = (
    "sqrt(1.0 / n11 + 1.0 / n10 + 1.0 / n01 + 1.0 / n00)"
)


@register(
    "a48_odds_ratio",
    oracle=f"""
        WITH x AS (
            SELECT CASE WHEN CAST(ROUND(value * 100) AS BIGINT)
                             >= {A46_CENTS_THRESHOLD} THEN 1 ELSE 0 END AS ra,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS rb
            FROM events
        ),
        c AS (
            SELECT CAST(SUM(ra * rb) AS BIGINT) AS n11,
                   CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
                   CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
                   CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
            FROM x
        )
        SELECT n11, n10, n01, n00,
               CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0
                    THEN {_A48_LNOR} ELSE NULL END AS ln_or_micro,
               CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0
                    THEN exp(CAST({_A48_LNOR} AS DOUBLE) / 1000000.0
                             - {A48_Z95} * {_A48_SE})
                    ELSE NULL END AS or_ci_lo,
               CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0
                    THEN exp(CAST({_A48_LNOR} AS DOUBLE) / 1000000.0
                             + {A48_Z95} * {_A48_SE})
                    ELSE NULL END AS or_ci_hi
        FROM c
    """,
    doc="Odds ratio of the high-value rule vs the error-type rule with "
    "Woolf's 95% CI — a46's kappa says whether two rules AGREE; the "
    "odds ratio says how much one FLAG MULTIPLIES THE ODDS of the "
    "other, the effect-size number an incident review quotes (with "
    "the CI excluding 1.0 as the significance read). Exactness: the "
    "2x2 counts are one map-side-combined integer pass; ln(OR) is the "
    "DIFFERENCE of two micro-nat-snapped logs of INTEGER PRODUCTS "
    "(n11*n00 and n10*n01 — tx26's recipe, so the integer column "
    "hashes bitwise), and the CI endpoints are one shared float "
    "expression (exp/sqrt over exact counts, identical text both "
    "engines). Zero cells NULL-guard the ratio outputs (a42's rule) "
    "while the counts still report. Output is 1 row at any scale.",
    tags=("aggregate", "statistics"),
)
def a48_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.when(
            _cents(F.col("value")) >= A46_CENTS_THRESHOLD, 1
        ).otherwise(0).alias("ra"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("rb"),
    )
    c = x.agg(
        F.sum(F.expr("ra * rb")).cast("long").alias("n11"),
        F.sum(F.expr("ra * (1 - rb)")).cast("long").alias("n10"),
        F.sum(F.expr("(1 - ra) * rb")).cast("long").alias("n01"),
        F.sum(F.expr("(1 - ra) * (1 - rb)")).cast("long").alias("n00"),
    )
    guard = "n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0"
    return c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"CASE WHEN {guard} THEN {_A48_LNOR} ELSE NULL END"
        ).alias("ln_or_micro"),
        F.expr(
            f"CASE WHEN {guard} THEN exp(CAST({_A48_LNOR} AS DOUBLE) "
            f"/ 1000000.0 - {A48_Z95} * {_A48_SE}) ELSE NULL END"
        ).alias("or_ci_lo"),
        F.expr(
            f"CASE WHEN {guard} THEN exp(CAST({_A48_LNOR} AS DOUBLE) "
            f"/ 1000000.0 + {A48_Z95} * {_A48_SE}) ELSE NULL END"
        ).alias("or_ci_hi"),
    )


# ---------------------------------------------------------------------------
# a49: paired bootstrap CI for the difference of means (round 13)
# ---------------------------------------------------------------------------


@register(
    "a49_bootstrap_diff_ci",
    oracle=f"""
        WITH x AS (
            SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_p,
                   md5(CAST(event_id AS VARCHAR)) AS h
            FROM events
        ),
        cf AS (
            SELECT v, is_p,
                   {_a43_coef_duck(1)} AS ca,
                   {_a43_coef_duck(9)} AS cb,
                   {_a43_coef_duck(17)} AS cc
            FROM x
        ),
        reps(b) AS (
            SELECT unnest(generate_series(0, {A43_REPLICAS - 1}))
        ),
        weighted AS (
            SELECT b, v, is_p, {_a43_weight_case("u")} AS k
            FROM (SELECT b, v, is_p, {_A43_U} AS u
                  FROM cf CROSS JOIN reps)
        ),
        per_rep AS (
            SELECT b,
                   CAST(SUM(CASE WHEN is_p = 1 THEN CAST(k AS HUGEINT) * v
                            ELSE 0 END) * {A43_MICRO}
                        // SUM(CASE WHEN is_p = 1 THEN k ELSE 0 END)
                        - SUM(CASE WHEN is_p = 0 THEN CAST(k AS HUGEINT) * v
                              ELSE 0 END) * {A43_MICRO}
                          // SUM(CASE WHEN is_p = 0 THEN k ELSE 0 END)
                        AS BIGINT) AS diff_micro
            FROM weighted GROUP BY b
        ),
        ranked AS (
            SELECT diff_micro,
                   ROW_NUMBER() OVER (ORDER BY diff_micro) AS r
            FROM per_rep
        ),
        point AS (
            SELECT CAST(SUM(is_p) AS BIGINT) AS n_p,
                   CAST(SUM(1 - is_p) AS BIGINT) AS n_q,
                   CAST(SUM(CASE WHEN is_p = 1 THEN CAST(v AS HUGEINT)
                            ELSE 0 END) * {A43_MICRO} // SUM(is_p)
                        - SUM(CASE WHEN is_p = 0 THEN CAST(v AS HUGEINT)
                              ELSE 0 END) * {A43_MICRO} // SUM(1 - is_p)
                        AS BIGINT) AS diff_micro
            FROM x
        )
        SELECT point.n_p, point.n_q, point.diff_micro,
               MAX(CASE WHEN r = {A43_RANK_LO} THEN ranked.diff_micro END)
                   AS ci_lo_micro,
               MAX(CASE WHEN r = {A43_RANK_HI} THEN ranked.diff_micro END)
                   AS ci_hi_micro,
               CAST(MAX(CASE WHEN r = {A43_RANK_LO}
                             THEN ranked.diff_micro END) > 0
                    OR MAX(CASE WHEN r = {A43_RANK_HI}
                           THEN ranked.diff_micro END) < 0
                    AS BOOLEAN) AS significant_at_95
        FROM ranked CROSS JOIN point
        GROUP BY point.n_p, point.n_q, point.diff_micro
    """,
    doc="PAIRED deterministic bootstrap CI for the DIFFERENCE of mean "
    "values, error events minus the rest — a42's Welch t answers the "
    "same question parametrically; this is the distribution-free "
    "version (fat tails, no normality), and it reuses a43's whole "
    "machinery: ONE md5 per event, counter-based lane mixing, the "
    "prequantized Poisson(1) inverse-CDF — with each replica drawing "
    "BOTH groups from the same lane weights (the paired bootstrap, "
    "which cancels draw noise from the difference). Replica "
    "differences are exact integer micro-units, CI bounds are the "
    "derived order-statistic ranks, and the significance bit is 'the "
    "CI excludes 0'. Scale shape = a43's: map-side explode + "
    f"{A43_REPLICAS} mergeable partials, nothing row-scale after the "
    "groupBy; the conditional sums ride the same DECIMAL(38,0)/"
    "HUGEINT digit budget.",
    tags=("aggregate", "statistics", "sampling"),
)
def a49_bootstrap_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        _cents(F.col("value")).alias("v"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_p"),
        F.md5(F.col("event_id").cast("string")).alias("h"),
    )
    cf = x.select(
        "v",
        "is_p",
        F.expr(_a43_coef_spark(1)).alias("ca"),
        F.expr(_a43_coef_spark(9)).alias("cb"),
        F.expr(_a43_coef_spark(17)).alias("cc"),
    )
    dec = "decimal(38,0)"
    weighted = (
        cf.select(
            F.explode(F.expr(f"sequence(0, {A43_REPLICAS - 1})")).alias("b"),
            "v",
            "is_p",
            "ca",
            "cb",
            "cc",
        )
        .select("b", "v", "is_p", F.expr(_A43_U).alias("u"))
        .select("b", "v", "is_p", F.expr(_a43_weight_case("u")).alias("k"))
    )
    per_rep = weighted.groupBy("b").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN is_p = 1 THEN CAST(k AS {dec}) * v "
            f"ELSE CAST(0 AS {dec}) END) * {A43_MICRO} "
            "DIV SUM(CASE WHEN is_p = 1 THEN k ELSE 0 END) "
            f"- SUM(CASE WHEN is_p = 0 THEN CAST(k AS {dec}) * v "
            f"ELSE CAST(0 AS {dec}) END) * {A43_MICRO} "
            "DIV SUM(CASE WHEN is_p = 0 THEN k ELSE 0 END) AS BIGINT)"
        ).alias("diff_micro")
    )
    ranked = per_rep.select(
        "diff_micro",
        F.row_number().over(Window.orderBy("diff_micro")).alias("r"),
    )
    point = x.agg(
        F.sum("is_p").cast("long").alias("n_p"),
        F.sum(F.expr("1 - is_p")).cast("long").alias("n_q"),
        F.expr(
            f"CAST(SUM(CASE WHEN is_p = 1 THEN CAST(v AS {dec}) "
            f"ELSE CAST(0 AS {dec}) END) * {A43_MICRO} DIV SUM(is_p) "
            f"- SUM(CASE WHEN is_p = 0 THEN CAST(v AS {dec}) "
            f"ELSE CAST(0 AS {dec}) END) * {A43_MICRO} DIV SUM(1 - is_p) "
            "AS BIGINT)"
        ).alias("diff_micro"),
    )
    return (
        ranked.crossJoin(F.broadcast(point.select(
            "n_p", "n_q", F.col("diff_micro").alias("point_diff")
        )))
        .groupBy("n_p", "n_q", "point_diff")
        .agg(
            F.max(
                F.expr(f"CASE WHEN r = {A43_RANK_LO} THEN diff_micro END")
            ).alias("ci_lo_micro"),
            F.max(
                F.expr(f"CASE WHEN r = {A43_RANK_HI} THEN diff_micro END")
            ).alias("ci_hi_micro"),
        )
        .select(
            "n_p",
            "n_q",
            F.col("point_diff").alias("diff_micro"),
            "ci_lo_micro",
            "ci_hi_micro",
            F.expr(
                "ci_lo_micro > 0 OR ci_hi_micro < 0"
            ).alias("significant_at_95"),
        )
    )


# ---------------------------------------------------------------------------
# a50: Cliff's delta effect size (round 14)
# ---------------------------------------------------------------------------

A50_MICRO = 1_000_000


@register(
    "a50_cliffs_delta",
    oracle=f"""
        WITH v AS (
            SELECT CASE WHEN event_type = '{A36_GROUP_A}' THEN 1
                        ELSE 0 END AS is_a,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
            WHERE event_type IN ('{A36_GROUP_A}', '{A36_GROUP_B}')
        ),
        per_v AS (
            SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
                   CAST(COUNT(*) AS BIGINT) AS cv
            FROM v GROUP BY v
        ),
        ranked AS (
            SELECT v, ca, cv,
                   2 * (SUM(cv) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) - cv) + cv + 1 AS dr
            FROM per_v
        ),
        agg AS (
            SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cv) - SUM(ca) AS BIGINT) AS nb,
                   SUM(CAST(ca AS HUGEINT) * dr) AS r2a
            FROM ranked
        )
        SELECT na, nb,
               CAST((r2a - na * (na + 1))
                    * {A50_MICRO} // (CAST(na AS HUGEINT) * nb)
                   AS BIGINT) AS delta_plus1_micro,
               CAST(CASE
                   WHEN abs((r2a - na * (na + 1))
                            * {A50_MICRO} // (CAST(na AS HUGEINT) * nb)
                            - {A50_MICRO}) >= 474000 THEN 'large'
                   WHEN abs((r2a - na * (na + 1))
                            * {A50_MICRO} // (CAST(na AS HUGEINT) * nb)
                            - {A50_MICRO}) >= 330000 THEN 'medium'
                   WHEN abs((r2a - na * (na + 1))
                            * {A50_MICRO} // (CAST(na AS HUGEINT) * nb)
                            - {A50_MICRO}) >= 147000 THEN 'small'
                   ELSE 'negligible'
               END AS VARCHAR) AS magnitude
        FROM agg
    """,
    doc=f"Cliff's delta — the ordinal effect size a36's U test pairs "
    "with: delta = P(a > b) - P(a < b) over all cross-group pairs "
    f"('{A36_GROUP_A}' vs '{A36_GROUP_B}' event values), the robust "
    "'how big is the difference' companion to 'is there a "
    "difference'. Never enumerates pairs: with mid-ranks, "
    "delta + 1 = 2*U_A/(na*nb), and a36's doubled-rank machinery "
    "already yields u2a = 2*U_A exactly (distinct-value cumsum, "
    "DECIMAL/HUGEINT accumulation) — so the statistic is ONE integer "
    "DIV of exact integers, emitted as delta_plus1_micro in [0, 2e6] "
    "(the +1 offset keeps the DIV numerator non-negative, the "
    "cross-engine division-semantics rule every micro-stat here "
    "follows), plus Romano's magnitude bands (0.147/0.33/0.474) "
    "decided on the exact integer. Scale: identical to a36 — one "
    "filtered fact scan to per-value counts, the bounded-support "
    "cumsum, one aggregate; the pair count na*nb (~1e18 at 1e9 rows "
    "per group) never materializes.",
    tags=("aggregate", "statistics"),
)
def a50_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    v = e.filter(
        F.col("event_type").isin(A36_GROUP_A, A36_GROUP_B)
    ).select(
        F.when(F.col("event_type") == A36_GROUP_A, 1)
        .otherwise(0)
        .alias("is_a"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    per_v = v.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("cv")
    )
    per_v, _step = bound_int_support(
        per_v, cnt_col="cv", extra_sum_cols=("ca",)
    )
    ranked = per_v.select(
        "ca",
        "cv",
        (
            2
            * (
                F.sum("cv")
                .over(
                    Window.orderBy("v").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("cv")
            )
            + F.col("cv")
            + 1
        ).alias("dr"),
    )
    agg = ranked.agg(
        F.sum("ca").alias("na"),
        (F.sum("cv") - F.sum("ca")).alias("nb"),
        F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * dr")).alias("r2a"),
    )
    dp1 = (
        f"CAST((r2a - na * (na + 1)) * {A50_MICRO} "
        "DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
    )
    return agg.select(
        "na",
        "nb",
        F.expr(dp1).alias("delta_plus1_micro"),
        F.expr(
            f"CASE WHEN abs({dp1} - {A50_MICRO}) >= 474000 THEN 'large' "
            f"WHEN abs({dp1} - {A50_MICRO}) >= 330000 THEN 'medium' "
            f"WHEN abs({dp1} - {A50_MICRO}) >= 147000 THEN 'small' "
            "ELSE 'negligible' END"
        ).alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# a51: G-test of independence (round 14)
# ---------------------------------------------------------------------------


@register(
    "a51_g_test",
    oracle=f"""
        WITH x AS (
            SELECT event_type AS xv,
                   CAST(EXTRACT(dow FROM ts) AS BIGINT) AS yv
            FROM events
        ),
        cells AS (
            SELECT xv, yv, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY 1, 2
        ),
        mx AS (SELECT xv, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
        my AS (SELECT yv, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        s AS (
            SELECT CAST(SUM(CAST(c AS HUGEINT) * (
                       {_A45_LN.format(k='c')} + {_A45_LN.format(k='n')}
                       - {_A45_LN.format(k='cx')} - {_A45_LN.format(k='cy')}
                   )) AS HUGEINT) AS num,
                   MAX(n) AS n,
                   CAST(COUNT(DISTINCT xv) AS BIGINT) AS kx,
                   CAST(COUNT(DISTINCT yv) AS BIGINT) AS ky
            FROM cells
            JOIN mx USING (xv) JOIN my USING (yv) CROSS JOIN tot
        )
        SELECT n AS n_rows,
               CAST(2 * GREATEST(num, 0) AS DOUBLE) AS g_micro_nats,
               (kx - 1) * (ky - 1) AS dof,
               CAST(2 * GREATEST(num, 0)
                    // GREATEST((kx - 1) * (ky - 1), 1) AS BIGINT)
                   AS g_per_dof_micro
        FROM s
    """,
    doc="G-test (log-likelihood-ratio test) of independence between "
    "event type and DAY OF WEEK — the information-theoretic twin of "
    "a29's chi-square: G = 2*sum c*ln(c*N/(cx*cy)) = 2*N*MI, "
    "asymptotically chi-square(dof) but additive across partitions of "
    "the table (chi-square is not), which is why hierarchical log-"
    "linear analysis uses it. Reuses a45's exact micro-nat numerator "
    "verbatim — G_micro = 2*num needs NO division at all (the n "
    "divisor cancels), so the statistic is exact integer arithmetic "
    "end to end; it projects as DOUBLE only for the driver's Arrow "
    "boundary (HUGEINT downgrades engine-dependently), one correctly-"
    "rounded cast of the exact value. dof = (|types|-1)*(|dow|-1) "
    "comes from the same cell frame; g_per_dof (the G analogue of "
    "chi-square/dof effect gauge) is one integer DIV. Scale: ONE "
    "fact shuffle to |types|x7 cells, broadcast marginals, "
    "support-sized finish — a45's audited plan shape with a "
    "different second axis.",
    tags=("aggregate", "statistics"),
)
def a51_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select(
            F.col("event_type").alias("xv"),
            (F.dayofweek("ts") - 1).cast("long").alias("yv"),
        )
        .groupBy("xv", "yv")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # plan-cache: |types|x7 cells feed the term sum AND
        # both marginals + total — without it the fact scan runs 4x
        # (released by the caller via release_plan_caches)
    )
    mx = cells.groupBy("xv").agg(F.sum("c").alias("cx"))
    my = cells.groupBy("yv").agg(F.sum("c").alias("cy"))
    tot = cells.agg(F.sum("c").alias("n"))
    ln = _A45_LN
    s = (
        cells.join(F.broadcast(mx), "xv")
        .join(F.broadcast(my), "yv")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    "CAST(c AS DECIMAL(38,0)) * ("
                    f"{ln.format(k='c')} + {ln.format(k='n')}"
                    f" - {ln.format(k='cx')} - {ln.format(k='cy')})"
                )
            ).alias("num"),
            F.max("n").alias("n"),
            F.countDistinct("xv").cast("long").alias("kx"),
            F.countDistinct("yv").cast("long").alias("ky"),
        )
    )
    return s.select(
        F.col("n").alias("n_rows"),
        F.expr(
            "CAST(2 * GREATEST(num, CAST(0 AS DECIMAL(38,0)))"
            " AS DOUBLE)"
        ).alias("g_micro_nats"),
        ((F.col("kx") - 1) * (F.col("ky") - 1)).alias("dof"),
        # GREATEST(dof, 1): a degenerate table (single event type or
        # single day-of-week) has dof = 0 — G is 0 there too, so the
        # clamp changes nothing on real data while killing the
        # divide-by-zero (ADVICE r14); identical clamp in the oracle.
        F.expr(
            "CAST(2 * GREATEST(num, CAST(0 AS DECIMAL(38,0)))"
            " DIV GREATEST((kx - 1) * (ky - 1), 1) AS BIGINT)"
        ).alias("g_per_dof_micro"),
    )


# ---------------------------------------------------------------------------
# a52: explicit HyperLogLog (round 14)
# ---------------------------------------------------------------------------

#: Register count (2^6) and the bit split: 60-bit hash -> 6 register
#: bits + 54 rank bits. alpha_64 = 0.709 quantized to ppm so the bias
#: constant is the same integer on both engines.
A52_M = 64
A52_RANK_BITS = 54
A52_ALPHA_PPM = 709_000


def _a52_rank_case(w: str) -> str:
    """Rank of the first 1-bit from the top of a 54-bit value, as a
    branch ladder of integer comparisons — exact on both engines (a
    float log2 could mis-round at power-of-two boundaries). w == 0
    reads rank 55 (all-zeros + 1), the HLL convention."""
    branches = " ".join(
        f"WHEN ({w}) >= {1 << (A52_RANK_BITS - r)} THEN {r}"
        for r in range(1, A52_RANK_BITS + 1)
    )
    return f"CASE {branches} ELSE {A52_RANK_BITS + 1} END"


def _a52_oracle() -> str:
    from apache_iceberg_spark.operators.text import DUCK_HEX2INT

    h = DUCK_HEX2INT.format(s="CAST(l_orderkey AS VARCHAR)")
    scale = 1 << (A52_RANK_BITS + 1)  # 2^55: term = 2^(55 - M_j)
    # alpha * m^2 * 2^55 pre-folded in Python: the product (~1e26)
    # overflows BIGINT constant folding; as ONE literal both engines
    # parse it into their wide type (DECIMAL / HUGEINT)
    num = A52_ALPHA_PPM * A52_M * A52_M * scale
    return f"""
        WITH hashed AS (
            SELECT DISTINCT {h} AS h FROM lineitem
        ),
        regs AS (
            SELECT h % {A52_M} AS idx,
                   CAST(MAX({_a52_rank_case(f"h // {A52_M}")}) AS BIGINT)
                       AS mj
            FROM hashed GROUP BY 1
        ),
        s AS (
            SELECT CAST(SUM(CAST({scale} AS HUGEINT)
                            // (CAST(1 AS HUGEINT) << mj)) AS HUGEINT)
                       AS ssum,
                   CAST(COUNT(*) AS BIGINT) AS n_regs
            FROM regs
        ),
        exact AS (
            SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
            FROM lineitem
        )
        SELECT exact.n AS exact_distinct,
               CAST(CAST({num} AS HUGEINT)
                    // (1000000 * s.ssum) AS BIGINT) AS hll_estimate,
               s.n_regs AS registers_hit,
               CAST(ABS(CAST({num} AS HUGEINT) // (1000000 * s.ssum)
                        - exact.n) * 1000000 // exact.n AS BIGINT)
                   AS error_ppm
        FROM s CROSS JOIN exact
    """


@register(
    "a52_hyperloglog_distinct",
    oracle=_a52_oracle(),
    doc=f"HyperLogLog distinct count built EXPLICITLY (a11/a17 use "
    "Spark's built-in approx_count_distinct, whose sketch is opaque "
    "and engine-specific — this one is the algorithm itself, "
    "bitwise-reproducible on both engines, so the ORACLE CHECKS THE "
    f"SKETCH, not just the answer): a 60-bit key hash splits into "
    f"{A52_M} register indexes + 54 rank bits; each register keeps "
    "the max first-1-bit rank (an integer comparison ladder — a "
    "float log2 could mis-round at power boundaries); the harmonic "
    "mean folds as exact powers of two (term = 2^(55 - M_j), HUGEINT "
    "sums) and the alpha_64 bias constant is ppm-quantized, so the "
    "estimate is ONE integer DIV. The result row carries estimate, "
    "exact truth, registers hit, and the measured error in ppm — "
    "dd18's measure-don't-guess discipline applied to the cardinality "
    "sketch. Scale: registers are the mergeable state (64 ints — "
    "executors fold by MAX per register, the same mergeability as "
    "a22's sketch); the raw-estimate regime (n >> m, no small-range "
    "correction) is the one the fixture exercises and the docstring "
    "price list for production is m = 2^14 registers, same plan.",
    tags=("aggregate", "sketch"),
)
def a52_hyperloglog_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.operators.text import SPARK_HEX2INT

    l = load_table(spark, sf_dir, "lineitem")
    h = SPARK_HEX2INT.format(s="CAST(l_orderkey AS STRING)")
    hashed = l.select(F.expr(h).alias("h")).distinct()
    regs = hashed.groupBy((F.col("h") % A52_M).alias("idx")).agg(
        F.expr(
            f"CAST(MAX({_a52_rank_case(f'h DIV {A52_M}')}) AS BIGINT)"
        ).alias("mj")
    )
    exact = l.agg(F.countDistinct("l_orderkey").alias("n"))
    return _a52_finish(regs, exact)


def _a52_finish(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """HLL estimate + error from an (idx, mj) register frame and a
    1-row exact count — shared by batch a52 and streaming st35 (the
    register maxes ARE the mergeable state; MAX is commutative,
    associative, idempotent, so a stream maintains them trivially)."""
    scale = 1 << (A52_RANK_BITS + 1)
    s = regs.agg(
        F.expr(
            f"SUM(CAST({scale} AS DECIMAL(38,0)) "
            "DIV CAST(POW(2, mj) AS DECIMAL(38,0)))"
        ).alias("ssum"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    num = A52_ALPHA_PPM * A52_M * A52_M * scale
    # Spark's DIV on decimals yields BIGINT, so ssum re-widens before
    # the 1e6 scale-up (64 * 2^54 * 1e6 ~ 1.2e24 overflows long)
    est = (
        f"CAST(CAST({num} AS DECIMAL(38,0)) "
        "DIV (CAST(1000000 AS DECIMAL(38,0)) * ssum) AS BIGINT)"
    )
    return (
        s.crossJoin(F.broadcast(exact))
        .select(
            F.col("n").alias("exact_distinct"),
            F.expr(est).alias("hll_estimate"),
            F.col("n_regs").alias("registers_hit"),
            F.expr(
                f"CAST(ABS({est} - n) * 1000000 DIV n AS BIGINT)"
            ).alias("error_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# a53: Kendall tau-b from contingency cells (round 15)
# ---------------------------------------------------------------------------

#: Cents per value bucket for a53's ordinal x-axis. The events
#: generator's value range is fixed (~[0, 500] at every SF), so the
#: bucket count is bounded ~100 BY CONSTRUCTION — no support gate
#: needed (the a40/_snap_cell_axes machinery exists for unbounded
#: axes; a bounded axis skips its stats job entirely).
A53_BUCKET = 500

#: tau-b / Mann-Kendall z share one float recipe applied to exact
#: integer pair counts, so Spark and DuckDB agree bitwise (a21's rule:
#: identical IEEE expression tree on identical integer inputs).
_A53_TAU = (
    "CAST(conc - disc AS DOUBLE) / "
    "(SQRT(CAST(n2 - tx_pairs AS DOUBLE)) * "
    "SQRT(CAST(n2 - ty_pairs AS DOUBLE)))"
)


def _kendall_pair_counts(cells: DataFrame) -> DataFrame:
    """Concordant/discordant/tied pair counts over a contingency cell
    frame ``(xv, yv, c)`` — the sufficient statistics of every
    Kendall-family test (tau-b, Mann-Kendall trend), computed JOIN-FREE
    on the support-sized cell table:

    densify the observed grid (axes crossJoin is broadcast,
    support² rows), then two window suffix-sums turn the O(cells²)
    pair double-sum into O(cells log cells):
    ``s_hi(x,y) = Σ_{y'>y} c(x,y')`` per x-partition, then
    ``g(x,y) = Σ_{x'>x} s_hi(x',y)`` per y-partition — so
    ``conc = Σ c·g`` counts pairs strictly increasing in BOTH axes;
    ``h`` mirrors with y'<y for discordant. Tie pair counts come from
    the marginals. Everything is exact integers; returns one row
    ``(n, n2, conc, disc, tx_pairs, ty_pairs)``: conc and disc are
    DECIMAL(38,0) sums of DECIMAL products (a41's digit budget); n2 and
    the tie-pair counts come out of an integral DIV, which Spark types
    BIGINT (ANSI mode raises rather than wraps past int64, i.e. n ~
    4.3e9 rows). Callers whose oracle narrows the counts to BIGINT cast
    before their float formula. The one Kendall kernel: a41, a53, and
    ts32/ts34 (through the Mann-Kendall finish) all call it.

    Scale: ONE shuffle builds the cells from the fact table (the
    caller's groupBy); everything here is cell-sized — windows and
    broadcasts over the support grid regardless of fact rows (the
    cells broadcast into the densify join: every caller's cell frame
    is grid-bounded)."""
    xs = cells.select("xv").distinct()
    ys = cells.select("yv").distinct()
    dense = (
        xs.crossJoin(F.broadcast(ys))
        .join(F.broadcast(cells), ["xv", "yv"], "left")
        .select("xv", "yv", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_hi = Window.partitionBy("xv").orderBy("yv").rowsBetween(
        1, Window.unboundedFollowing
    )
    w_lo = Window.partitionBy("xv").orderBy("yv").rowsBetween(
        Window.unboundedPreceding, -1
    )
    d1 = dense.select(
        "xv",
        "yv",
        "c",
        F.coalesce(F.sum("c").over(w_hi), F.lit(0)).alias("s_hi"),
        F.coalesce(F.sum("c").over(w_lo), F.lit(0)).alias("s_lo"),
    )
    w_x = Window.partitionBy("yv").orderBy("xv").rowsBetween(
        1, Window.unboundedFollowing
    )
    d2 = d1.select(
        "c",
        F.coalesce(F.sum("s_hi").over(w_x), F.lit(0)).alias("g"),
        F.coalesce(F.sum("s_lo").over(w_x), F.lit(0)).alias("h"),
    )
    pair = d2.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * g")).alias("conc"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * h")).alias("disc"),
    )
    tx = (
        cells.groupBy("xv")
        .agg(F.sum("c").alias("cx"))
        .agg(
            F.sum(
                F.expr("CAST(cx AS DECIMAL(38,0)) * (cx - 1) DIV 2")
            ).alias("tx_pairs")
        )
    )
    ty = (
        cells.groupBy("yv")
        .agg(F.sum("c").alias("cy"))
        .agg(
            F.sum(
                F.expr("CAST(cy AS DECIMAL(38,0)) * (cy - 1) DIV 2")
            ).alias("ty_pairs")
        )
    )
    return (
        pair.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            "n",
            F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2").alias("n2"),
            "conc",
            "disc",
            "tx_pairs",
            "ty_pairs",
        )
    )


#: The oracle twin of _kendall_pair_counts, parameterized on the
#: base-projection SQL that yields (xv, yv) rows.
_A53_ORACLE_CORE = """
        cells AS (
            SELECT xv, yv, CAST(COUNT(*) AS BIGINT) AS c
            FROM base GROUP BY xv, yv
        ),
        xs AS (SELECT DISTINCT xv FROM cells),
        ys AS (SELECT DISTINCT yv FROM cells),
        dense AS (
            SELECT xs.xv, ys.yv, COALESCE(cells.c, 0) AS c
            FROM xs CROSS JOIN ys
            LEFT JOIN cells ON cells.xv = xs.xv AND cells.yv = ys.yv
        ),
        d1 AS (
            SELECT xv, yv, c,
                   COALESCE(SUM(c) OVER (
                       PARTITION BY xv ORDER BY yv
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ), 0) AS s_hi,
                   COALESCE(SUM(c) OVER (
                       PARTITION BY xv ORDER BY yv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS s_lo
            FROM dense
        ),
        d2 AS (
            SELECT c,
                   COALESCE(SUM(s_hi) OVER (
                       PARTITION BY yv ORDER BY xv
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ), 0) AS g,
                   COALESCE(SUM(s_lo) OVER (
                       PARTITION BY yv ORDER BY xv
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ), 0) AS h
            FROM d1
        ),
        pair AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CAST(c AS HUGEINT) * g) AS BIGINT) AS conc,
                   CAST(SUM(CAST(c AS HUGEINT) * h) AS BIGINT) AS disc
            FROM d2
        ),
        txp AS (
            SELECT CAST(SUM(CAST(cx AS HUGEINT) * (cx - 1) // 2)
                        AS BIGINT) AS tx_pairs
            FROM (SELECT SUM(c) AS cx FROM cells GROUP BY xv)
        ),
        typ AS (
            SELECT CAST(SUM(CAST(cy AS HUGEINT) * (cy - 1) // 2)
                        AS BIGINT) AS ty_pairs
            FROM (SELECT SUM(c) AS cy FROM cells GROUP BY yv)
        ),
        kendall AS (
            SELECT n,
                   CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS BIGINT)
                       AS n2,
                   conc, disc, tx_pairs, ty_pairs
            FROM pair CROSS JOIN txp CROSS JOIN typ
        )
"""


@register(
    "a53_kendall_tau",
    oracle=f"""
        WITH base AS (
            SELECT CAST(ROUND(value * 100) AS BIGINT) // {A53_BUCKET}
                       AS xv,
                   CAST(EXTRACT(hour FROM ts) AS BIGINT) AS yv
            FROM events
        ),
        {_A53_ORACLE_CORE}
        SELECT n AS n_rows, conc, disc, tx_pairs, ty_pairs,
               {_A53_TAU} AS tau_b
        FROM kendall
    """,
    doc="Kendall's tau-b between event value (ordinal buckets of "
    f"{A53_BUCKET} cents — the generator's value range is fixed, so "
    "the axis is bounded ~100 BY CONSTRUCTION, no support gate) and "
    "hour of day — the rank-correlation triple completed: a21 Pearson "
    "(linear), a40 Spearman (monotone via ranks), a53 Kendall (pair "
    "concordance, the most outlier-robust and the one with a direct "
    "probabilistic reading: P(concordant) - P(discordant)). The "
    "O(n^2) pair double-sum collapses to the contingency cells: two "
    "window suffix-sums over the densified support grid count "
    "concordant/discordant pairs exactly (integer DECIMAL products), "
    "tie corrections from the marginals, and tau-b applies ONE shared "
    "float formula to the exact counts (bitwise-equal across "
    "engines). Scale: one fact shuffle to ~100x24 cells; everything "
    "after is support-sized windows + broadcasts — the a40/a45 plan "
    "shape, audited join-free.",
    tags=("aggregate", "statistics"),
)
def a53_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr(
                f"CAST(ROUND(value * 100) AS BIGINT) DIV {A53_BUCKET}"
            ).alias("xv"),
            F.hour("ts").cast("long").alias("yv"),
        )
        .groupBy("xv", "yv")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # plan-cache: five consumers (axes, densify, both
        # marginals) — without it each re-derivation rescans the fact
        # table (released by the caller via release_plan_caches)
    )
    # the oracle narrows every pair count to BIGINT before tau
    k = _kendall_pair_counts(cells).select(
        "n",
        *[
            F.col(c).cast("long").alias(c)
            for c in ("n2", "conc", "disc", "tx_pairs", "ty_pairs")
        ],
    )
    return k.select(
        F.col("n").alias("n_rows"),
        "conc",
        "disc",
        "tx_pairs",
        "ty_pairs",
        F.expr(_A53_TAU).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# a55: two-proportion z-test (round 15)
# ---------------------------------------------------------------------------

#: "High-value" gate in exact cents, and the one shared float recipe
#: over the four exact counts (identical IEEE tree on both engines).
A55_CENTS_GATE = 25_000
_A55_Z = (
    "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / SQRT((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))"
)


@register(
    "a55_two_proportion_z",
    oracle=f"""
        WITH s AS (
            SELECT
                CAST(SUM(CASE WHEN event_type = '{A36_GROUP_A}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(SUM(CASE WHEN event_type = '{A36_GROUP_A}'
                          AND CAST(ROUND(value * 100) AS BIGINT)
                              > {A55_CENTS_GATE}
                         THEN 1 ELSE 0 END) AS BIGINT) AS x1,
                CAST(SUM(CASE WHEN event_type = '{A36_GROUP_B}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                CAST(SUM(CASE WHEN event_type = '{A36_GROUP_B}'
                          AND CAST(ROUND(value * 100) AS BIGINT)
                              > {A55_CENTS_GATE}
                         THEN 1 ELSE 0 END) AS BIGINT) AS x2
            FROM events
        )
        SELECT n1, x1, n2, x2, {_A55_Z} AS z
        FROM s
    """,
    doc="Two-proportion z-test — is the high-value rate (value > "
    f"{A55_CENTS_GATE} cents) different between '{A36_GROUP_A}' and "
    f"'{A36_GROUP_B}' events? The A/B-test primitive the a42 "
    "(Welch t, means) / a36 (Mann-Whitney, distributions) family "
    "lacked for RATES — conversion, defect, click-through. Four "
    "exact integer counts from ONE conditional-aggregate pass "
    "(no groupBy, no join — a single partial+final hash aggregate "
    "over the fact scan), then the pooled-proportion z applies one "
    "shared float recipe to them, bitwise-equal across engines. At "
    "100 TB: the cheapest possible shape — one scan, four counters, "
    "map-side combined.",
    tags=("aggregate", "statistics"),
)
def a55_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    is_a = F.col("event_type") == A36_GROUP_A
    is_b = F.col("event_type") == A36_GROUP_B
    hi = cents > A55_CENTS_GATE
    s = e.agg(
        F.sum(is_a.cast("long")).alias("n1"),
        F.sum((is_a & hi).cast("long")).alias("x1"),
        F.sum(is_b.cast("long")).alias("n2"),
        F.sum((is_b & hi).cast("long")).alias("x2"),
    )
    return s.select("n1", "x1", "n2", "x2", F.expr(_A55_Z).alias("z"))
