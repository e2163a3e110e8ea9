"""Extended function/operator surface: JSON, arrays, regex, CUBE /
GROUPING SETS, exact percentiles, unpivot, range join, ranking windows.

The reference's queries use no scalar functions at all (SURVEY.md §2.7) —
Spark's built-in library is the free headroom §7 budgets for. Everything
here stays inside whole-stage codegen (JVM expressions, no UDFs) and is
oracle-checked against DuckDB.

Determinism notes are per query; the recurring trick is computing on exact
integers (cents / micros) whenever a value crosses an aggregation boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from apache_iceberg_spark.registry import register
from apache_iceberg_spark.tables import load_table


def _cents(col: F.Column, scale: int = 100) -> F.Column:
    return F.round(col * scale).cast("long")


@register(
    "f6_json_funcs",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
               json_valid(props) AS is_valid
        FROM events
    """,
    doc="JSON surface over the events.props column: path extraction "
    "(get_json_object ≙ json_extract_string) and validity probing. "
    "JVM-side Jackson parse — no Python in the loop.",
    tags=("functions", "json"),
)
def f6_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        F.try_parse_json(F.col("props")).isNotNull().alias("is_valid"),
    )


@register(
    "f7_array_funcs",
    oracle="""
        SELECT vec_id,
               len(embedding) AS dim,
               embedding[1] AS first_val,
               list_extract(embedding, 2) AS second_val,
               list_extract(embedding, 3) AS third_val,
               list_max(embedding) AS max_val,
               list_min(embedding) AS min_val,
               list_contains(embedding, 0.0) AS has_zero
        FROM embeddings
    """,
    doc="Array surface over the embedding column: size / element_at (three "
    "leading components as scalars — the driver's differential hasher "
    "can't canonicalize array-typed result columns, so the slice is "
    "projected element-wise) / array_max / array_min / array_contains. "
    "Per-row only (no cross-row float aggregation), so float32 values "
    "compare exactly.",
    tags=("functions", "array"),
)
def f7_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.try_element_at("embedding", F.lit(1)).alias("first_val"),
        F.try_element_at("embedding", F.lit(2)).alias("second_val"),
        F.try_element_at("embedding", F.lit(3)).alias("third_val"),
        F.array_max("embedding").alias("max_val"),
        F.array_min("embedding").alias("min_val"),
        F.array_contains("embedding", F.lit(0.0).cast("float")).alias("has_zero"),
    )


@register(
    "f8_regexp_funcs",
    oracle=r"""
        SELECT c_custkey,
               regexp_extract(c_name, '(\d+)', 1) AS name_digits,
               regexp_replace(c_name, '\d', 'X', 'g') AS name_masked,
               regexp_matches(c_name, '^Customer') AS is_customer
        FROM customer
    """,
    doc="Regex surface: extract / replace-all / match-test. Patterns are "
    "restricted to syntax with identical semantics in Java regex and "
    "RE2 (no backrefs, no lookaround).",
    tags=("functions", "regex"),
)
def f8_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"(\d+)", 1).alias("name_digits"),
        F.regexp_replace("c_name", r"\d", "X").alias("name_masked"),
        F.col("c_name").rlike("^Customer").alias("is_customer"),
    )


@register(
    "a7_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus) with an explicit grouping id "
    "(GROUPING bits composed the same way on both engines). Spark "
    "expands the cube map-side; one shuffle for all 2^2 grouping sets.",
    tags=("aggregate", "cube"),
)
def a7_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).alias("gid"),
        F.count("*").alias("cnt"),
        (F.sum(_cents(F.col("l_quantity"))).cast("double") / 100.0).alias(
            "sum_qty"
        ),
    )


@register(
    "a8_grouping_sets",
    oracle="""
        SELECT n_name AS nation, c_mktsegment AS segment, COUNT(*) AS cnt
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment))
    """,
    doc="Explicit GROUPING SETS — per-nation and per-segment counts in one "
    "pass over the join (vs two scans + union).",
    tags=("aggregate", "cube"),
)
def a8_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    j = c.join(n, c["c_nationkey"] == n["n_nationkey"])
    j.createOrReplaceTempView("_a8_cust_nation")
    return spark.sql(
        """
        SELECT n_name AS nation, c_mktsegment AS segment, COUNT(*) AS cnt
        FROM _a8_cust_nation
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment))
        """
    )


@register(
    "a9_percentiles",
    oracle="""
        SELECT o_orderstatus,
               quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.25)
                   AS p25_cents,
               quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5)
                   AS median_cents,
               quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.75)
                   AS p75_cents
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    doc="Exact linear-interpolated percentiles (percentile_cont semantics) "
    "of order value per status, computed on integer cents so the "
    "interpolation arithmetic is identical across engines. At 100 TB "
    "swap for approx_percentile with a bounded error budget.",
    tags=("aggregate", "percentile"),
)
def a9_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = _cents(F.col("o_totalprice"))
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile(cents, 0.25).alias("p25_cents"),
            F.percentile(cents, 0.5).alias("median_cents"),
            F.percentile(cents, 0.75).alias("p75_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "u4_unpivot",
    oracle="""
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value
        FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE)
        FROM customer
    """,
    doc="Unpivot (wide → long): melt two numeric columns into "
    "(metric, value) rows. Spark's native unpivot is a map-only expand — "
    "no shuffle, unlike the UNION ALL formulation which scans twice.",
    tags=("reshape",),
)
def u4_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return c.unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "j6_range_join",
    oracle="""
        WITH bands(band, lo, hi) AS (
            VALUES ('small', 1.0, 10.0),
                   ('medium', 10.0, 25.0),
                   ('large', 25.0, 51.0)
        )
        SELECT band, COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100.0 AS total_price
        FROM lineitem JOIN bands
          ON l_quantity >= lo AND l_quantity < hi
        GROUP BY band
        ORDER BY band
    """,
    doc="Range (theta) join: quantity-band lookup via interval containment. "
    "The band table broadcasts, so the non-equi condition is evaluated "
    "as a BroadcastNestedLoopJoin over 3 rows — never a shuffle. At "
    "scale, monotone bands can also compile to a searchable CASE "
    "projection (zero join).",
    tags=("join", "range"),
)
def j6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("small", 1.0, 10.0), ("medium", 10.0, 25.0), ("large", 25.0, 51.0)],
        "band string, lo double, hi double",
    )
    return (
        l.join(
            F.broadcast(bands),
            (F.col("l_quantity") >= F.col("lo"))
            & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(_cents(F.col("l_extendedprice"))).cast("double") / 100.0).alias(
                "total_price"
            ),
        )
        .orderBy("band")
    )


@register(
    "w4_rank_stats",
    oracle="""
        SELECT o_orderkey,
               NTILE(4) OVER w AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume,
               DENSE_RANK() OVER w AS drank
        FROM orders
        WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Ranking-window surface: ntile / percent_rank / cume_dist / "
    "dense_rank under one total order (unique o_orderkey tiebreak). "
    "Unpartitioned window = single-partition sort: fine for ranked "
    "exports, but at 100 TB rank within partitions or pre-bucket by "
    "range — flagged here deliberately as the contrast to w1's "
    "per-key window.",
    tags=("window",),
)
def w4_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
    )


@register(
    "w5_moving_avg",
    oracle="""
        SELECT user_id, event_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
               / CAST(COUNT(*) OVER w AS DOUBLE) / 100.0 AS moving_avg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    doc="4-row moving average per user, decomposed as exact integer "
    "SUM/COUNT over the frame with one final division (a float AVG over "
    "a sliding frame would accumulate engine-specific rounding).",
    tags=("window", "timeseries"),
)
def w5_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        (
            F.sum(_cents(F.col("value"))).over(w).cast("double")
            / F.count("*").over(w).cast("double")
            / 100.0
        ).alias("moving_avg"),
    )


@register(
    "w6_range_frame",
    oracle="""
        SELECT user_id, event_id,
               COUNT(*) OVER w AS n_last_hour,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                    AS BIGINT) AS cents_last_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="Value-range window frame: per user, activity in the trailing hour "
    "of event time (RANGE frame over epoch-microseconds, so rows with "
    "tied timestamps are frame peers — deterministic without a unique "
    "tiebreak). The time-decayed-feature shape; one shuffle on user_id.",
    tags=("window", "timeseries"),
)
def w6_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum(_cents(F.col("value"))).over(w).alias("cents_last_hour"),
    )


@register(
    "a10_hash_sample",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE list_reduce([strpos('0123456789abcdef', c) - 1
                           for c in regexp_extract_all(
                               substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15), '.')],
                          (a, b) -> a * 16 + b) % 100 < 10
        ORDER BY o_orderkey
    """,
    doc="Deterministic 10% hash sample: rows qualify by key-hash bucket, "
    "not RNG — stable across runs, engines, and re-partitioning, and "
    "consistent for the same key across tables (the join-safe sampling "
    "idiom for pipeline debugging at scale). Pure filter → full "
    "pushdown-friendly map-only plan.",
    tags=("sampling", "functions"),
)
def a10_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = F.expr(
        "CAST(CONV(SUBSTRING(MD5(CAST(o_orderkey AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        o.filter((h % 100) < 10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@register(
    "a11_approx_distinct",
    oracle="""
        SELECT COUNT(DISTINCT (o_custkey, date_trunc('month', o_orderdate)))
                   AS exact_custmonths,
               TRUE AS approx_within_5pct
        FROM orders
    """,
    doc="Approximate distinct counting (HyperLogLog++): cardinality of "
    "(custkey, orderdate-month) pairs at default 5% relative error. "
    "Sketches merge associatively → one map-side partial per partition, "
    "tiny shuffle. HLL estimates are engine-specific by construction, so "
    "the checkable form is a bounds oracle: the exact count (computed on "
    "both engines) plus a boolean asserting the HLL estimate landed "
    "within ±5% of it (observed error ≤2% at sf0.001–0.1).",
    tags=("aggregate", "approx"),
)
def a11_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    key = F.concat_ws(
        "|", F.col("o_custkey"), F.date_trunc("month", "o_orderdate")
    )
    agg = o.agg(
        F.countDistinct(key).alias("exact_custmonths"),
        F.approx_count_distinct(key).alias("approx"),
    )
    return agg.select(
        "exact_custmonths",
        within_5pct("approx", "exact_custmonths").alias("approx_within_5pct"),
    )


def within_5pct(approx: str, exact: str) -> F.Column:
    """The bounds-oracle check of the approx-distinct operators (a11,
    a17): the sketch estimate lands within 5% of the exact count."""
    return F.abs(F.col(approx) - F.col(exact)) <= 0.05 * F.col(exact)


@register(
    "u5_pivot",
    oracle="""
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                    THEN 1 END), 0) AS BIGINT) AS click,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                    THEN 1 END), 0) AS BIGINT) AS view,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                    THEN 1 END), 0) AS BIGINT) AS purchase,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'signup'
                    THEN 1 END), 0) AS BIGINT) AS signup,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
                    THEN 1 END), 0) AS BIGINT) AS error
        FROM events
        GROUP BY user_id
    """,
    doc="Native pivot (long → wide): per-user event counts spread into one "
    "column per event type via df.groupBy().pivot(values).count() — the "
    "dual of u4's unpivot. Pinning the pivot values skips Spark's "
    "distinct-values discovery pass (one scan instead of two — at "
    "100 TB always pin); zero-count cells coalesce to 0 so the wide "
    "shape is dense. One shuffle, map-side partials intact.",
    tags=("reshape", "pivot"),
)
def u5_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


# j7: interval-overlap self-join. The fixture's lineitem has no receipt
# date, so a deterministic transit window (3-30 days, from quantity) closes
# each shipment's interval; with a real receipt column the synthesis drops
# out unchanged.
J7_FROM, J7_TO = "1996-01-01", "1996-02-28"
J7_BIN_DAYS = 16


# Half-open slice upper bound: the day AFTER J7_TO. The old form compared
# Spark `between(..., 'J7_TO 23:59:59')` against the oracles' `<= DATE
# J7_TO` (midnight) — fixture-masked because every l_shipdate is
# midnight-aligned (round-8 review); the half-open [from, to_excl)
# convention is timestamp-robust and identical on both engines.
J7_TO_EXCL = "1996-02-29"

# True epoch-day rebase: days('1970-01-01' → '1996-01-01') = 9496 (the
# old constant 9497 was off by one — invisible to every oracle because
# all compared outputs are translation-invariant, but it broke the
# stated contract that bin ids match intervals binned from real epoch
# days; round-8 review).
J7_EPOCH_DAYS = 9496

_DUCK_IV_FILTER = (
    f"WHERE l_shipdate >= TIMESTAMP '{J7_FROM} 00:00:00'\n"
    f"              AND l_shipdate < TIMESTAMP '{J7_TO_EXCL} 00:00:00'"
)

#: The oracle twin of _shipment_intervals' (sd, ed) expressions, shared
#: by j7/ts7/ts15 so the interval convention lives in ONE place per
#: engine. floor() before the INT cast: DuckDB CAST(11.5 AS INT) rounds
#: while Spark truncates — fixture-masked (all quantities integral)
#: until made explicit.
_DUCK_IV_CTE = f"""iv AS (
            SELECT l_suppkey,
                   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                       AS sd,
                   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                       + CAST(floor(l_quantity) AS INT) % 28 + 3 AS ed
            FROM lineitem
            {_DUCK_IV_FILTER}
        )"""


def _shipment_intervals(l: DataFrame) -> DataFrame:
    """(l_suppkey, iv_id, sd, ed): the in-transit window of every shipment
    in the j7 date slice, as TRUE epoch-day integers (shared by
    j7/ts7/ts15; _DUCK_IV_CTE is the oracle twin)."""
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit(f"{J7_FROM} 00:00:00"))
            & (F.col("l_shipdate") < F.lit(f"{J7_TO_EXCL} 00:00:00"))
        )
        .select(
            "l_suppkey",
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("iv_id"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit(J7_FROM).cast("date"),
            ).alias("sd0"),
            (F.floor("l_quantity").cast("int") % 28 + 3).alias("dur"),
        )
        .select(
            "l_suppkey",
            "iv_id",
            # rebase to the epoch so bin ids match any other interval set
            (F.col("sd0") + F.lit(J7_EPOCH_DAYS)).alias("sd"),
            (F.col("sd0") + F.lit(J7_EPOCH_DAYS) + F.col("dur")).alias("ed"),
        )
    )


def _sweep_day_events(iv: DataFrame) -> DataFrame:
    """(l_suppkey, day, delta): the inclusive-interval sweep events —
    +1@sd, −1@(ed+1), same-day deltas COLLAPSED before any running sum
    (the round-8 tie-order convention). ONE definition shared by ts7
    and ts15 so the next sweep fix cannot be applied to one copy only."""
    return (
        iv.select("l_suppkey", F.col("sd").alias("day"), F.lit(1).alias("d"))
        .unionAll(
            iv.select(
                "l_suppkey", (F.col("ed") + 1).alias("day"),
                F.lit(-1).alias("d"),
            )
        )
        .groupBy("l_suppkey", "day")
        .agg(F.sum("d").cast("long").alias("delta"))
    )




@register(
    "j7_interval_overlap_join",
    oracle=f"""
        WITH iv AS (
            SELECT l_suppkey,
                   l_orderkey * 10 + l_linenumber AS iv_id,
                   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                       AS sd,
                   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                       + CAST(floor(l_quantity) AS INT) % 28 + 3 AS ed
            FROM lineitem
            {_DUCK_IV_FILTER}
        ),
        pairs AS (
            SELECT a.l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM iv a JOIN iv b
              ON a.l_suppkey = b.l_suppkey
             AND a.sd <= b.ed AND b.sd <= a.ed
             AND a.iv_id < b.iv_id
            GROUP BY a.l_suppkey
        )
        SELECT i.l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               COALESCE(ANY_VALUE(p.n_pairs), 0) AS n_pairs
        FROM iv i LEFT JOIN pairs p ON i.l_suppkey = p.l_suppkey
        GROUP BY i.l_suppkey
    """,
    doc="Interval overlap self-join: per supplier, count pairs of "
    "shipments whose in-transit windows overlap (concurrent-shipment "
    "load). The oracle states the plain inequality predicate; the Spark "
    f"plan never evaluates it quadratically — intervals explode into "
    f"{J7_BIN_DAYS}-day bins (explode factor ≤ 3 at the 30-day max "
    "span), the self-join runs on the (supplier, bin) equality key, the "
    "exact overlap test filters in-bucket, and a distinct collapses "
    "pairs spanning multiple shared bins. At 100 TB the (key, bin) "
    "buckets bound every join task regardless of how long the time "
    "range grows — the standard DBSP/interval-join binning — while a "
    "raw theta join would cross-product each supplier's history.",
    tags=("join", "range", "interval"),
)
def j7_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = _shipment_intervals(load_table(spark, sf_dir, "lineitem"))
    binned = iv.select(
        "l_suppkey",
        "iv_id",
        "sd",
        "ed",
        F.explode(
            F.expr(f"sequence(sd DIV {J7_BIN_DAYS}, ed DIV {J7_BIN_DAYS})")
        ).alias("bin"),
    )
    a, b = binned.alias("a"), binned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            & (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.sd") <= F.col("b.ed"))
            & (F.col("b.sd") <= F.col("a.ed"))
            & (F.col("a.iv_id") < F.col("b.iv_id")),
        )
        .select(
            F.col("a.l_suppkey").alias("l_suppkey"),
            F.col("a.iv_id").alias("id_a"),
            F.col("b.iv_id").alias("id_b"),
        )
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_pairs"))
    )
    return (
        iv.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_intervals"))
        .join(pairs, "l_suppkey", "left")
        .select(
            "l_suppkey",
            "n_intervals",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        )
    )


@register(
    "ts7_max_concurrent_intervals",
    oracle=f"""
        WITH {_DUCK_IV_CTE},
        ev AS (
            SELECT l_suppkey, day, CAST(SUM(delta) AS BIGINT) AS delta
            FROM (
                SELECT l_suppkey, sd AS day, 1 AS delta FROM iv
                UNION ALL
                SELECT l_suppkey, ed + 1 AS day, -1 AS delta FROM iv
            ) GROUP BY l_suppkey, day
        ),
        sweep AS (
            SELECT l_suppkey,
                   CAST(SUM(delta) OVER (
                       PARTITION BY l_suppkey
                       ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS open_now
            FROM ev
        ),
        n AS (
            SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_intervals
            FROM iv GROUP BY l_suppkey
        )
        SELECT s.l_suppkey,
               CAST(MAX(s.open_now) AS BIGINT) AS max_concurrent,
               n.n_intervals
        FROM sweep s JOIN n USING (l_suppkey)
        GROUP BY s.l_suppkey, n.n_intervals
    """,
    doc="Maximum interval concurrency per supplier — the sweep-line dual "
    "of j7's pair count: every in-transit window emits a +1 at its "
    "start day and a -1 past its end day (ed + 1, inclusive ends); "
    "same-day deltas COLLAPSE in a pre-aggregate before the running "
    "sum, so the depth after each event day counts exactly the "
    "intervals with sd ≤ d ≤ ed — round 8 fix: the old +1-before-−1 "
    "tie order transiently double-counted TOUCHING intervals "
    "([0,4],[5,9] read as concurrent at day 5), an inversion the "
    "hash gate could not see because the oracle replicated it. One "
    "shuffle on supplier shared by the pre-aggregate, the window and "
    "the final fold; integer arithmetic end-to-end.",
    tags=("timeseries", "window", "interval"),
)
def ts7_max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = _shipment_intervals(load_table(spark, sf_dir, "lineitem"))
    ev = _sweep_day_events(iv)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = ev.select(
        "l_suppkey", F.sum("delta").over(w).cast("long").alias("open_now")
    )
    n = iv.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n_intervals")
    )
    return (
        sweep.groupBy("l_suppkey")
        .agg(F.max("open_now").alias("max_concurrent"))
        .join(n, "l_suppkey")
        .select("l_suppkey", "max_concurrent", "n_intervals")
    )


@register(
    "f11_map_funcs",
    oracle="""
        SELECT event_id,
               3 AS n_entries,
               'bucket,k,type' AS keys_csv,
               event_type AS type_val,
               'bucket=' || CAST(event_id % 10 AS VARCHAR)
                   || '|k=' || json_extract_string(props, '$.k')
                   || '|type=' || event_type AS kv_digest,
               CAST(1 + CASE WHEN length(event_type) <= 2 THEN 1 ELSE 0 END
                      + CASE WHEN length(json_extract_string(props, '$.k')) <= 2
                             THEN 1 ELSE 0 END AS INT) AS n_short_vals
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
    doc="Map-type function surface (completing §2.7 alongside the "
    "string/date/math/json/array/regex families): build a "
    "map<string,string> per event from its JSON payload and columns, "
    "then exercise size, map_keys, element_at, map_entries (sorted "
    "canonical serialization), and a map_filter higher-order predicate. "
    "The oracle states each output from the source columns directly — "
    "so it checks the map operators' SEMANTICS, not a reimplementation. "
    "Everything is a JVM expression tree (map ops stay in codegen); "
    "map-typed columns never cross the result boundary (the driver's "
    "hasher canonicalizes only scalars), so the map is consumed into "
    "scalar digests in the same projection.",
    tags=("functions", "map"),
)
def f11_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k_val = F.get_json_object("props", "$.k")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("k"), k_val,
        F.lit("bucket"), (F.col("event_id") % 10).cast("string"),
    )
    return (
        e.filter(k_val.isNotNull())
        .select("event_id", m.alias("m"))
        .select(
            "event_id",
            F.size("m").alias("n_entries"),
            F.concat_ws(",", F.array_sort(F.map_keys("m"))).alias("keys_csv"),
            F.element_at("m", F.lit("type")).alias("type_val"),
            F.concat_ws(
                "|",
                F.expr(
                    "transform(array_sort(map_entries(m)), "
                    "e -> concat(e.key, '=', e.value))"
                ),
            ).alias("kv_digest"),
            F.size(
                F.map_filter("m", lambda k, v: F.length(v) <= 2)
            ).alias("n_short_vals"),
        )
    )


@register(
    "w9_edge_values",
    oracle="""
        SELECT event_id, user_id,
               FIRST_VALUE(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                   AS first_cents,
               LAST_VALUE(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                   AS last_cents,
               NTH_VALUE(CAST(ROUND(value * 100) AS BIGINT), 2) OVER w
                   AS second_cents
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    """,
    doc="Window edge values — first_value / last_value / nth_value over "
    "an explicit full-partition ROWS frame (the frame spelled out "
    "because last_value over the DEFAULT frame is the famous footgun: "
    "it returns the current row). Each user's first, latest and "
    "second event value attach to every row — the enrichment shape "
    "for churn/LTV features. Values in exact integer cents; one "
    "shuffle on user_id, all three functions share the single window "
    "frame.",
    tags=("window",),
)
def w9_edge_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cents = _cents(F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        F.first(cents).over(w).alias("first_cents"),
        F.last(cents).over(w).alias("last_cents"),
        F.nth_value(cents, 2).over(w).alias("second_cents"),
    )


# f12 synthesizes well-formed URLs from fixture columns (the corpus has no
# URL column; same convention as dd7/tx11). Lowercase scheme+host so both
# engines' extraction rules see canonical input.
_F12_URL = (
    "concat('https://', lower(source), '.example.com/', lang, "
    "'/page/', CAST(doc_id AS STRING), "
    "CASE WHEN doc_id % 3 = 0 "
    "THEN concat('?id=', CAST(doc_id % 7 AS STRING), '&ref=feed') "
    "ELSE '' END)"
)
_F12_URL_DUCK = _F12_URL.replace("AS STRING", "AS VARCHAR")


@register(
    "f12_url_funcs",
    oracle=f"""
        WITH u AS (SELECT doc_id, {_F12_URL_DUCK} AS url FROM documents)
        SELECT doc_id,
               regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
               regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
               regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
               CASE WHEN strpos(url, '?') > 0
                    THEN substr(url, strpos(url, '?') + 1) END AS query,
               regexp_extract(url, '[?&]id=([^&]*)', 1) = ''
                   AND strpos(url, 'id=') = 0 AS id_missing,
               CASE WHEN regexp_extract(url, '[?&]id=([^&]*)', 1) <> ''
                    THEN regexp_extract(url, '[?&]id=([^&]*)', 1) END
                   AS id_param
        FROM u
    """,
    doc="URL parsing surface — parse_url(HOST/PATH/QUERY/<key>), the "
    "native JVM URL decomposition dd7's canonicalizer is built from, "
    "exercised component-by-component on synthesized well-formed URLs "
    "(the corpus carries no URL column; same synthesis convention as "
    "tx11). The oracle re-derives every component with plain regex on "
    "the same input — so it checks parse_url's SEMANTICS against an "
    "independent implementation, not itself. Map-only expression "
    "chain, codegen throughout.",
    tags=("functions", "url"),
)
def f12_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_F12_URL).alias("url"))
    return u.select(
        "doc_id",
        F.expr("parse_url(url, 'PROTOCOL')").alias("scheme"),
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY')").alias("query"),
        F.expr("parse_url(url, 'QUERY', 'id')").isNull().alias("id_missing"),
        F.expr("parse_url(url, 'QUERY', 'id')").alias("id_param"),
    )


@register(
    "f13_conditional_aggs",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END)
                    AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               median(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                   AS median_cents
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="Conditional/boolean aggregate surface: count_if, every "
    "(bool_and), any (bool_or) and exact median per group — the "
    "data-quality one-liner family ('do ALL rows satisfy the "
    "contract, do ANY violate it, how many, and where is the "
    "middle'). Median runs on exact integer cents so the "
    "even-count interpolation is the same arithmetic on both engines; "
    "the boolean aggregates are order-insensitive by definition. All "
    "four fold partial+final in one grouped aggregation.",
    tags=("aggregate", "functions"),
)
def f13_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = _cents(F.col("o_totalprice"))
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.median(cents).alias("median_cents"),
    )


# --- w11: exact rolling median ----------------------------------------------

W11_WIN = 7  # trailing frame: current row + 6 preceding


@register(
    "w11_rolling_median",
    oracle=f"""
        WITH f AS (
            SELECT user_id, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS v,
                   list(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS win
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {W11_WIN - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, event_id, v AS v_centi,
               CAST(len(win) AS BIGINT) AS n_win,
               list_sort(win)[(len(win) + 1) // 2] AS med_centi
        FROM f
    """,
    doc=f"Exact rolling median over a trailing {W11_WIN}-row frame per "
    "user: the robust-smoother counterpart of w5's moving average "
    "(medians shrug off the spikes ts8/ts14 flag). Neither engine has "
    "a median window builtin that is exact AND cross-engine "
    "deterministic, so both sides materialize the frame (collect_list/"
    "list OVER — bounded at "
    f"{W11_WIN} elements, O(1) per row), sort it, and index the lower "
    "middle — integer centi-units end to end, zero float. Scale: one "
    "shuffle on user_id (the window partition); frame state is "
    f"{W11_WIN}·8 bytes/row regardless of history length — no "
    "unbounded per-key state, unlike a naive self-join formulation "
    "which would be O(W) shuffle amplification.",
    tags=("window", "timeseries"),
)
def w11_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(W11_WIN - 1), Window.currentRow)
    )
    v = _cents(F.col("value"))
    f = e.select(
        "user_id",
        "event_id",
        v.alias("v"),
        F.collect_list(v).over(w).alias("win"),
    )
    return f.select(
        "user_id",
        "event_id",
        F.col("v").alias("v_centi"),
        F.size("win").cast("long").alias("n_win"),
        F.expr(
            "element_at(array_sort(win), CAST((size(win) + 1) DIV 2 AS INT))"
        ).alias("med_centi"),
    )


# --- f14: bitmask rollup ------------------------------------------------------

# event_type → bit position (alphabetical, pinned: the mask is a contract)
F14_TYPES = ["click", "error", "purchase", "signup", "view"]


def _f14_bit(col_sql: str) -> str:
    arms = " ".join(
        f"WHEN '{t}' THEN {1 << i}" for i, t in enumerate(F14_TYPES)
    )
    return f"(CASE {col_sql} {arms} ELSE 0 END)"


@register(
    "f14_bitmask_rollup",
    oracle=f"""
        SELECT user_id,
               CAST(bit_or({_f14_bit('event_type')}) AS BIGINT)
                   AS type_mask,
               CAST(bit_count(CAST(bit_or({_f14_bit('event_type')})
                   AS BIGINT)) AS BIGINT) AS n_types,
               CAST(bit_and({_f14_bit('event_type')}) AS BIGINT)
                   AS every_event_mask,
               (CAST(bit_or({_f14_bit('event_type')}) AS BIGINT)
                   & {1 << F14_TYPES.index('purchase')}) > 0 AS did_purchase
        FROM events
        GROUP BY user_id
    """,
    doc="Bitmask rollup: event types fold into one BIGINT mask per user "
    "via bit_or (set union), bit_and (types present in EVERY event — "
    "degenerate unless single-typed), bit_count for distinct-type "
    "cardinality, and a mask probe replacing a semi-join "
    "('did this user ever purchase' without touching rows twice). The "
    "64-flag-set-in-8-bytes idiom is the standard segmentation "
    "pre-compute at warehouse scale: one partial+final agg, constant "
    "per-key state, and downstream audience predicates become bitwise "
    "ANDs on the rollup instead of joins against the event log.",
    tags=("functions", "analytics"),
)
def f14_bitmask_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bit = F.expr(_f14_bit("event_type"))
    g = e.select("user_id", bit.alias("b")).groupBy("user_id").agg(
        F.expr("bit_or(b)").cast("long").alias("type_mask"),
        F.expr("CAST(bit_count(bit_or(b)) AS BIGINT)").alias("n_types"),
        F.expr("bit_and(b)").cast("long").alias("every_event_mask"),
    )
    return g.select(
        "user_id",
        "type_mask",
        "n_types",
        "every_event_mask",
        (
            F.col("type_mask").bitwiseAND(1 << F14_TYPES.index("purchase")) > 0
        ).alias("did_purchase"),
    )


# --- ts15: union-of-intervals coverage ----------------------------------------


@register(
    "ts15_interval_coverage",
    oracle=f"""
        WITH {_DUCK_IV_CTE},
        ev AS (
            SELECT l_suppkey, day, CAST(SUM(delta) AS BIGINT) AS delta
            FROM (
                SELECT l_suppkey, sd AS day, 1 AS delta FROM iv
                UNION ALL
                SELECT l_suppkey, ed + 1 AS day, -1 AS delta FROM iv
            ) GROUP BY l_suppkey, day
        ),
        sweep AS (
            SELECT l_suppkey, day,
                   CAST(SUM(delta) OVER (
                       PARTITION BY l_suppkey ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS depth,
                   LEAD(day) OVER (
                       PARTITION BY l_suppkey ORDER BY day
                   ) AS next_day
            FROM ev
        ),
        st AS (
            SELECT l_suppkey, day, next_day, depth,
                   CASE WHEN depth > 0
                        AND COALESCE(LAG(depth) OVER (
                            PARTITION BY l_suppkey ORDER BY day), 0) <= 0
                        THEN 1 ELSE 0 END AS run_start
            FROM sweep
        ),
        rid AS (
            SELECT l_suppkey, day, next_day, depth,
                   SUM(run_start) OVER (
                       PARTITION BY l_suppkey ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS run_id
            FROM st
        ),
        runs AS (
            SELECT l_suppkey, run_id,
                   CAST(SUM(next_day - day) AS BIGINT) AS run_len
            FROM rid WHERE depth > 0 GROUP BY l_suppkey, run_id
        ),
        cov AS (
            SELECT l_suppkey,
                   CAST(SUM(CASE WHEN depth > 0
                                 THEN next_day - day ELSE 0 END) AS BIGINT)
                       AS covered_days,
                   CAST(MIN(day) AS BIGINT) AS lo,
                   CAST(MAX(day) AS BIGINT) AS hi
            FROM sweep GROUP BY l_suppkey
        ),
        longest AS (
            SELECT l_suppkey, CAST(MAX(run_len) AS BIGINT)
                       AS longest_busy_run
            FROM runs GROUP BY l_suppkey
        )
        SELECT l_suppkey, covered_days, longest_busy_run,
               hi - lo AS span_days,
               covered_days * 1000000 // (hi - lo) AS utilization_micro
        FROM cov JOIN longest USING (l_suppkey)
    """,
    doc="Union-of-intervals coverage per supplier — the measure dual of "
    "ts7's max concurrency: total days with ≥1 shipment in transit "
    "(overlaps counted once), longest continuously-busy run (a "
    "gaps-and-islands fold over ADJACENT busy segments — round-8 review "
    "fix: the first cut took max single inter-event segment, which every "
    "interior boundary broke), and exact "
    "utilization of the active span in BIGINT micro-units. Same-day "
    "deltas collapse in a pre-aggregate so the sweep sees one event "
    "per (supplier, day); depth > 0 between an event and the next "
    "⇒ those days are covered. hi = max(ed+1) is the first idle day, "
    "so span = hi − lo covers the closing interval and utilization is "
    "well-defined (span ≥ interval length ≥ 4 > 0). One shuffle on "
    "supplier shared by the pre-aggregate, both windows, and the final "
    "fold — the interval stream never moves twice.",
    tags=("timeseries", "window", "interval"),
)
def ts15_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = _shipment_intervals(load_table(spark, sf_dir, "lineitem"))
    ev = _sweep_day_events(iv)
    wc = (
        Window.partitionBy("l_suppkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("l_suppkey").orderBy("day")
    sweep = ev.select(
        "l_suppkey",
        "day",
        F.sum("delta").over(wc).cast("long").alias("depth"),
        F.lead("day").over(wl).alias("next_day"),
    )
    busy = F.when(
        F.col("depth") > 0, F.col("next_day") - F.col("day")
    ).otherwise(F.lit(0))
    run_start = F.when(
        (F.col("depth") > 0)
        & (F.coalesce(F.lag("depth").over(wl), F.lit(0)) <= 0),
        1,
    ).otherwise(0)
    rid = sweep.select(
        "l_suppkey",
        "day",
        "next_day",
        "depth",
        F.sum(run_start).over(wc).alias("run_id"),
    )
    runs = (
        rid.filter(F.col("depth") > 0)
        .groupBy("l_suppkey", "run_id")
        .agg(F.sum(F.col("next_day") - F.col("day")).alias("run_len"))
    )
    longest = runs.groupBy("l_suppkey").agg(
        F.max("run_len").cast("long").alias("longest_busy_run")
    )
    cov = sweep.groupBy("l_suppkey").agg(
        F.sum(busy).cast("long").alias("covered_days"),
        F.min("day").cast("long").alias("lo"),
        F.max("day").cast("long").alias("hi"),
    ).join(longest, "l_suppkey")
    return cov.select(
        "l_suppkey",
        "covered_days",
        "longest_busy_run",
        (F.col("hi") - F.col("lo")).alias("span_days"),
        F.expr("covered_days * 1000000 DIV (hi - lo)").alias(
            "utilization_micro"
        ),
    )


@register(
    "f15_lambda_funcs",
    oracle="""
        WITH q AS (
            SELECT l_orderkey,
                   CAST(l_quantity AS BIGINT) AS qty,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                       ORDER BY CAST(l_quantity AS BIGINT), l_linenumber)
                       AS r,
                   COUNT(*) OVER (PARTITION BY l_orderkey) AS n
            FROM lineitem
        ),
        pal AS (
            SELECT a.l_orderkey,
                   SUM(a.qty * b.qty) AS alt_dot
            FROM q a JOIN q b
              ON b.l_orderkey = a.l_orderkey AND b.r = a.n + 1 - a.r
            GROUP BY a.l_orderkey
        )
        SELECT q.l_orderkey,
               CAST(SUM(qty) AS BIGINT) AS total_qty,
               CAST(COUNT(CASE WHEN qty > 40 THEN 1 END) AS BIGINT)
                   AS n_over_40,
               MAX(qty) > 40 AS has_over_40,
               MIN(qty) > 0 AS all_positive,
               CAST(MIN(pal.alt_dot) AS BIGINT) AS alt_dot
        FROM q JOIN pal ON pal.l_orderkey = q.l_orderkey
        GROUP BY q.l_orderkey
    """,
    doc="Higher-order lambda function surface — the §2.7 headroom row "
    "for Spark's array lambdas, each consumed into a scalar digest so "
    "the oracle can state the same fact relationally: per order the "
    "sorted quantity array runs through aggregate (fold to a sum), "
    "filter+size (count over 40), exists / forall (the boolean "
    "quantifiers), and zip_with against its own reverse (the "
    "palindrome dot product — every element pairs its mirror, so the "
    "lambda's index alignment is what the hash checks; ties among "
    "equal quantities cannot perturb it because mirrored VALUES are "
    "tie-invariant). All integer; arrays built with sort_array so the "
    "fold order is total. The oracle has no lambdas — plain grouped "
    "aggregates plus a rank/mirror-rank self-join state identical "
    "facts, so the two engines cross-check semantics, not syntax.",
    tags=("functions", "lambda", "arrays"),
)
def f15_lambda_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    arrs = (
        li.select(
            "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("qty")).alias("arr"))
    )
    return arrs.select(
        "l_orderkey",
        F.expr(
            "aggregate(arr, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("total_qty"),
        F.size(F.expr("filter(arr, x -> x > 40)"))
        .cast("long")
        .alias("n_over_40"),
        F.expr("exists(arr, x -> x > 40)").alias("has_over_40"),
        F.expr("forall(arr, x -> x > 0)").alias("all_positive"),
        F.expr(
            "aggregate(zip_with(arr, reverse(arr), (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("alt_dot"),
    )


@register(
    "w13_running_distinct",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey, MIN(o_orderdate) AS first_date
            FROM orders GROUP BY o_custkey
        ),
        per_day AS (
            SELECT first_date AS d, COUNT(*) AS new_customers
            FROM firsts GROUP BY first_date
        )
        SELECT d,
               CAST(new_customers AS BIGINT) AS new_customers,
               CAST(SUM(new_customers) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_distinct_customers
        FROM per_day
    """,
    doc="Running DISTINCT count — cumulative distinct customers by "
    "order date, the metric behind every 'total users to date' chart. "
    "The naive form (COUNT(DISTINCT) OVER an expanding window) "
    "re-deduplicates the entire prefix at every row — O(n²) state and "
    "unsupported/unbounded in most engines. The scale-correct "
    "reduction: a key is DISTINCT-NEW exactly once, on its FIRST date "
    "— so one map-side-combined MIN per customer, one count per day, "
    "and a cumulative window over the bounded DATE DOMAIN (~2.4k "
    "days at any SF — a27's domain-bounded single-task argument) "
    "replace the quadratic window. Same trick generalizes to any "
    "running-distinct (first-seen reduction); m18's bitmap union is "
    "the alternative when per-GROUP distinct rollups are needed.",
    tags=("window", "analytics", "distinct"),
)
def w13_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_date")
    )
    per_day = firsts.groupBy(F.col("first_date").alias("d")).agg(
        F.count(F.lit(1)).alias("new_customers")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "d",
        "new_customers",
        F.sum("new_customers").over(w).alias("cum_distinct_customers"),
    )


# ---------------------------------------------------------------------------
# w14: rolling regression slope — w5's moving average upgraded to trend
# ---------------------------------------------------------------------------

W14_FRAME = 8  # rows per regression window (7 preceding + current)

# OLS slope over the frame, from exact integer frame-sums (x = the
# per-user event index, y = cents): slope = (k*sxy - sx*sy)
# / (k*sxx - sx*sx). Shared textually across engines (a21's recipe);
# frames with a degenerate x-variance (k = 1) yield NULL via NULLIF.
_W14_SLOPE = (
    "(CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
    "/ CAST(NULLIF(k * sxx - sx * sx, 0) AS DOUBLE)"
)


@register(
    "w14_rolling_regression",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS BIGINT) AS x,
                   CAST(ROUND(value * 100) AS BIGINT) AS y
            FROM events
        ),
        f AS (
            SELECT user_id, event_id,
                   CAST(COUNT(*) OVER w AS BIGINT) AS k,
                   CAST(SUM(x) OVER w AS BIGINT) AS sx,
                   CAST(SUM(y) OVER w AS BIGINT) AS sy,
                   CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
                   CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
            FROM seq
            WINDOW w AS (PARTITION BY user_id ORDER BY x
                         ROWS BETWEEN {W14_FRAME - 1} PRECEDING
                         AND CURRENT ROW)
        )
        SELECT user_id, event_id, k AS n_in_frame, {_W14_SLOPE} AS slope
        FROM f
    """,
    doc=f"ROLLING OLS slope per user over the trailing {W14_FRAME}-event "
    "frame — w5's moving average upgraded from level to TREND (is this "
    "user's spend accelerating?), the per-entity micro-regression that "
    "feeds churn/engagement features. Same exactness discipline as "
    "w5: the frame quantities (k, sum x, sum y, sum xy, sum x^2, with "
    "x = the per-user event INDEX and y = exact cents) are integer "
    "window sums — a float covariance accumulated over a sliding "
    "frame would round engine-specifically — and the one float "
    "formula runs per row on exact inputs, textually shared across "
    "engines; single-event frames yield NULL via NULLIF (zero "
    "x-variance). Scale shape: ONE shuffle on user_id shared by the "
    "index and all frame sums (two window specs, same partitioning), "
    "no join, no second scan; frame state is O(frame) per key.",
    tags=("window", "timeseries", "statistics"),
)
def w14_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        F.row_number().over(seq_w).cast("long").alias("x"),
        _cents(F.col("value")).alias("y"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-(W14_FRAME - 1), Window.currentRow)
    )
    f = seq.select(
        "user_id",
        "event_id",
        F.count("*").over(w).cast("long").alias("k"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    return f.select(
        "user_id",
        "event_id",
        F.col("k").alias("n_in_frame"),
        F.expr(_W14_SLOPE).alias("slope"),
    )


# ---------------------------------------------------------------------------
# j8: nearest as-of join — ts3's backward rule + the forward/nearest variants
# ---------------------------------------------------------------------------


@register(
    "j8_nearest_asof_join",
    oracle="""
        WITH merged AS (
            SELECT o_custkey AS user_id, o_orderdate AS t, 0 AS is_event,
                   CAST(NULL AS BIGINT) AS event_id,
                   o_orderkey AS okey, o_orderdate AS odate
            FROM orders
            UNION ALL
            SELECT user_id, ts, 1, event_id,
                   CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
            FROM events
        ),
        w AS (
            SELECT *,
                   LAST_VALUE(okey IGNORE NULLS) OVER wb AS back_key,
                   LAST_VALUE(odate IGNORE NULLS) OVER wb AS back_date,
                   FIRST_VALUE(okey IGNORE NULLS) OVER wf AS fwd_key,
                   FIRST_VALUE(odate IGNORE NULLS) OVER wf AS fwd_date
            FROM merged
            WINDOW wb AS (PARTITION BY user_id
                          ORDER BY t, is_event, okey NULLS LAST
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW),
                   wf AS (PARTITION BY user_id
                          ORDER BY t, is_event, okey NULLS LAST
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, user_id,
               CASE WHEN fwd_key IS NULL THEN 'backward'
                    WHEN back_key IS NULL THEN 'forward'
                    WHEN epoch_us(t) - epoch_us(back_date)
                         <= epoch_us(fwd_date) - epoch_us(t)
                    THEN 'backward' ELSE 'forward' END AS direction,
               CASE WHEN fwd_key IS NULL THEN back_key
                    WHEN back_key IS NULL THEN fwd_key
                    WHEN epoch_us(t) - epoch_us(back_date)
                         <= epoch_us(fwd_date) - epoch_us(t)
                    THEN back_key ELSE fwd_key END AS nearest_orderkey,
               CASE WHEN fwd_key IS NULL
                    THEN epoch_us(t) - epoch_us(back_date)
                    WHEN back_key IS NULL
                    THEN epoch_us(fwd_date) - epoch_us(t)
                    WHEN epoch_us(t) - epoch_us(back_date)
                         <= epoch_us(fwd_date) - epoch_us(t)
                    THEN epoch_us(t) - epoch_us(back_date)
                    ELSE epoch_us(fwd_date) - epoch_us(t) END AS dt_us
        FROM w
        WHERE is_event = 1
          AND (back_key IS NOT NULL OR fwd_key IS NOT NULL)
    """,
    doc="NEAREST as-of join — ts3's missing half: ts3 answers 'the most "
    "recent order at or before this event' (the fintech convention); "
    "sensor fusion and attribution want the CLOSEST order in either "
    "direction, ties to backward. Same union-merge, zero-pair-"
    "explosion shape as ts3 — both sides union into one frame, ONE "
    "shuffle on user_id carries two mirrored windows (last-non-null "
    "preceding = backward candidate with max-key tiebreak, first-non-"
    "null following = forward candidate with min-key tiebreak; same-"
    "timestamp orders sort before the event so 'at or before' stays "
    "inclusive exactly as ts3 defines it), then the winner is a "
    "per-row exact integer comparison of epoch-microsecond deltas — "
    "no join product ever materializes, the same reason ts3 survives "
    "100 TB where a theta-join as-of would not. Events whose user has "
    "no orders at all drop (no candidate on either side).",
    tags=("join", "timeseries", "asof"),
)
def j8_nearest_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    order_side = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderdate").alias("odate"),
    )
    event_side = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("okey"),
        F.lit(None).cast("timestamp").alias("odate"),
    )
    base = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event", F.col("okey").asc_nulls_last())
    )
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    merged = order_side.unionByName(event_side).select(
        "event_id",
        "user_id",
        "t",
        "is_event",
        F.last("okey", ignorenulls=True).over(wb).alias("back_key"),
        F.last("odate", ignorenulls=True).over(wb).alias("back_date"),
        F.first("okey", ignorenulls=True).over(wf).alias("fwd_key"),
        F.first("odate", ignorenulls=True).over(wf).alias("fwd_date"),
    )
    picked = merged.filter(
        (F.col("is_event") == 1)
        & (F.col("back_key").isNotNull() | F.col("fwd_key").isNotNull())
    ).select(
        "event_id",
        "user_id",
        F.expr(
            "CASE WHEN fwd_key IS NULL THEN 'backward' "
            "WHEN back_key IS NULL THEN 'forward' "
            "WHEN unix_micros(t) - unix_micros(back_date) "
            "<= unix_micros(fwd_date) - unix_micros(t) "
            "THEN 'backward' ELSE 'forward' END"
        ).alias("direction"),
        F.expr(
            "CASE WHEN fwd_key IS NULL THEN back_key "
            "WHEN back_key IS NULL THEN fwd_key "
            "WHEN unix_micros(t) - unix_micros(back_date) "
            "<= unix_micros(fwd_date) - unix_micros(t) "
            "THEN back_key ELSE fwd_key END"
        ).alias("nearest_orderkey"),
        F.expr(
            "CASE WHEN fwd_key IS NULL "
            "THEN unix_micros(t) - unix_micros(back_date) "
            "WHEN back_key IS NULL "
            "THEN unix_micros(fwd_date) - unix_micros(t) "
            "WHEN unix_micros(t) - unix_micros(back_date) "
            "<= unix_micros(fwd_date) - unix_micros(t) "
            "THEN unix_micros(t) - unix_micros(back_date) "
            "ELSE unix_micros(fwd_date) - unix_micros(t) END"
        ).alias("dt_us"),
    )
    return picked


# ---------------------------------------------------------------------------
# w15: median absolute deviation — the robust scale estimator, exact
# ---------------------------------------------------------------------------

# Exact lower-biased median of integer values via the distinct-value
# pre-aggregate (w12/ts22's recipe): per-value counts, a cumulative sum
# over the DISTINCT-value frame partitioned by group, the two middle
# positions picked by conditional MIN and averaged with integer DIV.
_W15_MEDIAN = (
    "CAST((MIN(CASE WHEN cum >= (nt + 1) DIV 2 THEN v END) "
    "+ MIN(CASE WHEN cum >= (nt + 2) DIV 2 THEN v END)) DIV 2 AS BIGINT)"
)
_W15_MEDIAN_DUCK = (
    "CAST((MIN(CASE WHEN cum >= (nt + 1) // 2 THEN v END) "
    "+ MIN(CASE WHEN cum >= (nt + 2) // 2 THEN v END)) // 2 AS BIGINT)"
)


@register(
    "w15_median_abs_deviation",
    oracle=f"""
        WITH x AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
        ),
        pv AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM x GROUP BY 1, 2),
        cum1 AS (
            SELECT event_type, v, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS nt
            FROM pv
        ),
        med AS (
            SELECT event_type, CAST(MAX(nt) AS BIGINT) AS n,
                   {_W15_MEDIAN_DUCK} AS median_cents
            FROM cum1 GROUP BY event_type
        ),
        dev AS (
            SELECT x.event_type, ABS(x.v - m.median_cents) AS v
            FROM x JOIN med m ON m.event_type = x.event_type
        ),
        pv2 AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM dev GROUP BY 1, 2),
        cum2 AS (
            SELECT event_type, v, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS nt
            FROM pv2
        )
        SELECT c.event_type, m.n, m.median_cents,
               {_W15_MEDIAN_DUCK.replace('AS BIGINT', 'AS BIGINT')}
                   AS mad_cents
        FROM cum2 c JOIN med m ON m.event_type = c.event_type
        GROUP BY c.event_type, m.n, m.median_cents
    """,
    doc="Per-type MEDIAN ABSOLUTE DEVIATION of event value (cents) — "
    "THE robust scale estimator (a single wild outlier moves a28's "
    "variance arbitrarily; MAD tolerates 50% contamination), the "
    "dispersion ts8-style anomaly thresholds should prefer when the "
    "metric is heavy-tailed; paired with ts22's Theil-Sen it "
    "completes the robust-statistics kit. ENTIRELY exact integers: "
    "both medians (value, then |value − median|) come from w12's "
    "distinct-value pre-aggregate — per-value counts, a cumulative "
    "sum over the DISTINCT-value frame partitioned by type, middles "
    "by conditional MIN, even counts averaged with integer DIV — so "
    "the result carries zero floats. Scale shape: two grouped passes "
    "+ one broadcastable 5-row median join; the windows run over "
    "distinct (type, value) frames bounded by the value DOMAIN "
    "(cents in a fixed range), never the row count (an unbounded "
    "metric takes a25's quantization gate first — a27's argument).",
    tags=("window", "statistics", "robust"),
)
def w15_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_type", _cents(F.col("value")).alias("v")
    ).persist()  # plan-cache: the raw frame feeds both median stages

    def exact_median(vals: DataFrame, out_name: str) -> DataFrame:
        from apache_iceberg_spark.operators.analytics import (
            bound_int_support,
        )

        pv = vals.groupBy("event_type", "v").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # Support gate (VERDICT r10 ask #5): each group's distinct
        # values funnel one window task; >2M distinct snaps to the
        # A25_GRID grid (this fixture's centi-value domain stays exact).
        pv, _step = bound_int_support(pv, group_cols=("event_type",))
        wcum = (
            Window.partitionBy("event_type")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = pv.select(
            "event_type",
            "v",
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt")
            .over(Window.partitionBy("event_type"))
            .alias("nt"),
        )
        return cum.groupBy("event_type").agg(
            F.max("nt").alias("n"),
            F.expr(_W15_MEDIAN).alias(out_name),
        )

    med = exact_median(x, "median_cents")
    dev = x.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("v") - F.col("median_cents")).alias("v"),
    )
    mad = exact_median(dev, "mad_cents").drop("n")
    return (
        med.join(mad, "event_type")
        .select("event_type", "n", "median_cents", "mad_cents")
    )


# --- f16: error-safe (try_*) expression surface --------------------------------


@register(
    "f16_try_functions",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         // (o_orderkey % 5)
               END AS per_bucket_cents,
               TRY_CAST(o_orderpriority AS BIGINT) AS prio_num,
               TRY_CAST(string_split(o_orderpriority, '-')[1] AS BIGINT)
                   AS prio_rank,
               string_split(o_orderpriority, '-')[2] AS prio_word,
               string_split(o_orderpriority, '-')[3] AS beyond_range
        FROM orders
        WHERE o_orderkey % 100 = 7
    """,
    doc="Error-safe expression surface (ANSI-mode hardening): "
    "try_divide turns the divide-by-zero a strict-mode pipeline would "
    "die on into NULL (here: integer cents per bucket with bucket 0 "
    "mapped to NULL — the oracle spells the CASE out, proving the "
    "semantics rather than assuming the engine's), try_cast extracts "
    "NULL (not an exception) from the non-numeric priority string "
    "while parsing the split-out rank digit, and try_element_at turns "
    "an out-of-range array index into NULL where ANSI element_at "
    "raises. All "
    "map-only whole-stage-codegen expressions — the point of the "
    "try_* family at 100 TB is that ONE malformed row cannot kill a "
    "full-table job, without the perf cost of a Python sanitizer.",
    tags=("functions", "quality"),
)
def f16_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 100 == 7).select(
        "o_orderkey",
        # try_divide: NULL on the %5==0 bucket instead of an ANSI
        # divide-by-zero kill. The double->BIGINT truncation equals the
        # oracle's integer floor-div for these positive quotients (the
        # denominator is <= 4, so the quotient is a quarter-integer —
        # never within a rounding ulp of the next integer).
        F.expr(
            "CAST(try_divide(CAST(ROUND(o_totalprice * 100) AS BIGINT), "
            "o_orderkey % 5) AS BIGINT)"
        ).alias("per_bucket_cents"),
        F.expr("try_cast(o_orderpriority AS BIGINT)").alias("prio_num"),
        F.expr(
            "try_cast(try_element_at(split(o_orderpriority, '-'), 1) "
            "AS BIGINT)"
        ).alias("prio_rank"),
        F.expr(
            "try_element_at(split(o_orderpriority, '-'), 2)"
        ).alias("prio_word"),
        F.expr(
            "try_element_at(split(o_orderpriority, '-'), 3)"
        ).alias("beyond_range"),
    )


# --- j9: as-of join with staleness tolerance ------------------------------------

# The fixture's orders live in the TPC-H 1992-1998 epoch while events
# are contemporary, so every best match is ~8,200-9,800 days stale; the
# tolerance sits mid-distribution so BOTH outcomes (match kept / match
# too stale -> NULL) are exercised and hashed. Real deployments pass
# hours-to-days here.
J9_TOLERANCE_US = 8_400 * 86_400 * 1_000_000  # 8,400 days


@register(
    "j9_tolerance_asof_join",
    oracle=f"""
        WITH ranked AS (
            SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                   ) AS rn
            FROM events e
            JOIN orders o
              ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        ),
        best AS (SELECT * FROM ranked WHERE rn = 1)
        SELECT e.event_id, e.user_id, e.ts,
               CASE WHEN epoch_us(e.ts) - epoch_us(b.o_orderdate)
                         <= {J9_TOLERANCE_US}
                    THEN b.o_orderkey END AS matched_orderkey,
               CASE WHEN epoch_us(e.ts) - epoch_us(b.o_orderdate)
                         <= {J9_TOLERANCE_US}
                    THEN epoch_us(e.ts) - epoch_us(b.o_orderdate)
               END AS staleness_us
        FROM events e LEFT JOIN best b ON b.event_id = e.event_id
    """,
    doc="As-of join with a STALENESS TOLERANCE — the feature-store "
    "point-in-time lookup contract (pandas merge_asof(tolerance=...), "
    "Flink temporal join with TTL): each event matches the user's most "
    "recent order at or before the event time ONLY if it is within the "
    "staleness tolerance; an older match is semantically 'no feature available' "
    "and must surface as NULL, not as a silently ancient value — the "
    "training-serving-skew bug this operator exists to prevent. LEFT "
    "semantics: every event survives. Same union-merge shape as "
    "ts3/j8 — both sides interleave on ONE user_id shuffle, "
    "last(ignorenulls) carries the candidate forward with the "
    "deterministic (date, orderkey) tiebreak, and the tolerance is one "
    "exact integer microsecond comparison applied AFTER the carry "
    "(zero pair explosion at any density; the naive join + filter "
    "materializes event x prior-order pairs first).",
    tags=("join", "asof", "timeseries"),
)
def j9_tolerance_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    order_side = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.struct("o_orderkey", "o_orderdate").alias("ord"),
    )
    event_side = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None)
        .cast("struct<o_orderkey:bigint,o_orderdate:timestamp>")
        .alias("ord"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "is_event", F.col("ord.o_orderkey").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = order_side.unionByName(event_side).select(
        "event_id",
        "user_id",
        "ts",
        "is_event",
        F.last("ord", ignorenulls=True).over(w).alias("cand"),
    )
    stale = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.col("cand.o_orderdate")
    )
    ok = F.col("cand").isNotNull() & (stale <= J9_TOLERANCE_US)
    return merged.filter(F.col("is_event") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, F.col("cand.o_orderkey")).alias("matched_orderkey"),
        F.when(ok, stale).alias("staleness_us"),
    )


# --- w16: winsorized mean (robust location with exact clipping) -----------------

W16_LO_PCT = 10
W16_HI_PCT = 90
W16_MICRO = 1_000_000


@register(
    "w16_winsorized_mean",
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
        bounds AS (
            SELECT g, CAST(MAX(nt) AS BIGINT) AS n,
                   MIN(CASE WHEN cum * 100 >= {W16_LO_PCT} * nt
                            THEN v END) AS lo_cents,
                   MIN(CASE WHEN cum * 100 >= {W16_HI_PCT} * nt
                            THEN v END) AS hi_cents
            FROM cum GROUP BY g
        ),
        clipped AS (
            SELECT x.g,
                   GREATEST(b.lo_cents, LEAST(b.hi_cents, x.v)) AS v
            FROM x JOIN bounds b ON b.g = x.g
        )
        SELECT b.g AS event_type, b.n, b.lo_cents, b.hi_cents,
               CAST(SUM(c.v) AS DOUBLE) AS sum_clipped_cents,
               CAST(SUM(c.v) * {W16_MICRO} // b.n AS BIGINT)
                   AS winsorized_mean_micro
        FROM clipped c JOIN bounds b ON b.g = c.g
        GROUP BY b.g, b.n, b.lo_cents, b.hi_cents
        ORDER BY event_type
    """,
    doc=f"Winsorized mean per group — the robust location estimator "
    f"between the mean (outlier-hostage) and the median (throws away "
    f"magnitude): values clip to the group's exact type-1 "
    f"p{W16_LO_PCT}/p{W16_HI_PCT} percentiles (min v whose cumulative "
    "count reaches ceil(p*n) — the integer cross-multiplied form "
    "cum*100 >= p*n, no float percent anywhere), then average. The "
    "telemetry/pricing dashboard statistic that survives a sensor "
    "spike without ignoring real shifts, completing the robust-stats "
    "shelf with w15's MAD and ts22's Theil-Sen. ENTIRELY exact "
    "integers: percentile bounds from the w12-style distinct-value "
    "cumsum (bound_int_support-gated above 2M distinct), clipping is "
    "GREATEST/LEAST on BIGINT cents, the clipped sum accumulates in "
    "DECIMAL(38,0)/HUGEINT (BIGINT dies at n*|v| > 2^63 — ~9e10 rows "
    "of 1e8-cent values; the decimal holds to 1e38; it projects as "
    "DOUBLE since int128/decimal downgrades engine-dependently at the "
    "driver's Arrow boundary), and the mean — divided from the EXACT "
    "decimal — is emitted in micro-units via integer DIV. Spark shape: "
    "one distinct-"
    "frame per group for the bounds (broadcast back, |groups| rows), "
    "one map-side-combined re-aggregation for the clipped sum — two "
    "fact-table passes, zero row explosion, no global sort.",
    tags=("window", "aggregate", "analytics", "quality"),
)
def w16_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from apache_iceberg_spark.operators.analytics import bound_int_support

    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).persist()  # plan-cache: feeds the bounds pass AND the clipped pass
    pv = x.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    pv, _step = bound_int_support(pv, group_cols=("g",))
    wcum = (
        W.partitionBy("g")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = pv.select(
        "g",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(W.partitionBy("g")).alias("nt"),
    )
    bounds = cum.groupBy("g").agg(
        F.max("nt").alias("n"),
        F.min(
            F.when(
                F.col("cum") * 100 >= W16_LO_PCT * F.col("nt"), F.col("v")
            )
        ).alias("lo_cents"),
        F.min(
            F.when(
                F.col("cum") * 100 >= W16_HI_PCT * F.col("nt"), F.col("v")
            )
        ).alias("hi_cents"),
    )
    clipped = x.join(F.broadcast(bounds), "g").select(
        "g",
        "n",
        "lo_cents",
        "hi_cents",
        F.greatest(
            F.col("lo_cents"), F.least(F.col("hi_cents"), F.col("v"))
        ).alias("cv"),
    )
    # DECIMAL-overflow audit (VERDICT r11 ask #7): the clipped SUM
    # itself overflows BIGINT at n * |v_cents| > 2^63 — ~9e10 rows of
    # 1e8-cent values, inside 100 TB group sizes — so the accumulation
    # is DECIMAL(38,0) (DuckDB's SUM(BIGINT) is already HUGEINT), not
    # just the later *1e6 cross-multiply; it holds to ~1e38 cent-sum.
    # The mean (the decision value) divides the EXACT decimal and stays
    # a bounded BIGINT (max clip * 1e6); the sum itself projects as
    # DOUBLE on both engines — int128/decimal downgrades engine-
    # dependently across the driver's Arrow/pandas boundary, a DOUBLE
    # is one correctly-rounded cast of the exact value. The property
    # test drives a 1e19-cent sum past int64 and checks the mean exact.
    return (
        clipped.groupBy("g", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum(F.expr("CAST(cv AS DECIMAL(38,0))")).alias("sum_dec")
        )
        .select(
            F.col("g").alias("event_type"),
            "n",
            "lo_cents",
            "hi_cents",
            F.expr("CAST(sum_dec AS DOUBLE)").alias("sum_clipped_cents"),
            F.expr(
                f"CAST(sum_dec * {W16_MICRO} DIV n AS BIGINT)"
            ).alias("winsorized_mean_micro"),
        )
        .orderBy("event_type")
    )


# --- w17: trimmed mean (round 12) -------------------------------------------


@register(
    "w17_trimmed_mean",
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
        bounds AS (
            SELECT g, CAST(MAX(nt) AS BIGINT) AS n,
                   MIN(CASE WHEN cum * 100 >= {W16_LO_PCT} * nt
                            THEN v END) AS lo_cents,
                   MIN(CASE WHEN cum * 100 >= {W16_HI_PCT} * nt
                            THEN v END) AS hi_cents
            FROM cum GROUP BY g
        ),
        kept AS (
            SELECT x.g, x.v
            FROM x JOIN bounds b ON b.g = x.g
            WHERE x.v >= b.lo_cents AND x.v <= b.hi_cents
        )
        SELECT b.g AS event_type, b.n,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               b.lo_cents, b.hi_cents,
               CAST(SUM(k.v) * {W16_MICRO} // COUNT(*) AS BIGINT)
                   AS trimmed_mean_micro
        FROM kept k JOIN bounds b ON b.g = k.g
        GROUP BY b.g, b.n, b.lo_cents, b.hi_cents
        ORDER BY event_type
    """,
    doc=f"Trimmed mean per group — w16's sibling with the OTHER robust "
    f"semantics: rows outside the exact type-1 p{W16_LO_PCT}/"
    f"p{W16_HI_PCT} percentile bounds are DROPPED (w16 clips them to "
    "the bound — a winsorized tail still votes at the boundary value; "
    "a trimmed tail does not vote at all). Same exact-integer recipe: "
    "bounds from the bound_int_support-gated distinct-value cumsum "
    "(integer cross-multiplied percentile test, cum*100 >= p*nt), the "
    "kept-row filter rides the broadcast bounds, the kept sum "
    "accumulates in DECIMAL(38,0)/HUGEINT (same n*|v| > 2^63 audit "
    "bound as w16), and the mean divides the exact decimal by the "
    "KEPT count via integer DIV. Spark shape: one distinct-value "
    "frame per group for the bounds (broadcast back), one map-side-"
    "combined filtered re-aggregation — two fact passes, no sort.",
    tags=("window", "aggregate", "analytics", "quality"),
)
def w17_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from apache_iceberg_spark.operators.analytics import bound_int_support

    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).persist()  # plan-cache: feeds the bounds pass AND the kept pass
    pv = x.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    pv, _step = bound_int_support(pv, group_cols=("g",))
    wcum = (
        W.partitionBy("g")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = pv.select(
        "g",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(W.partitionBy("g")).alias("nt"),
    )
    bounds = cum.groupBy("g").agg(
        F.max("nt").alias("n"),
        F.min(
            F.when(
                F.col("cum") * 100 >= W16_LO_PCT * F.col("nt"), F.col("v")
            )
        ).alias("lo_cents"),
        F.min(
            F.when(
                F.col("cum") * 100 >= W16_HI_PCT * F.col("nt"), F.col("v")
            )
        ).alias("hi_cents"),
    )
    kept = x.join(F.broadcast(bounds), "g").filter(
        (F.col("v") >= F.col("lo_cents")) & (F.col("v") <= F.col("hi_cents"))
    )
    return (
        kept.groupBy("g", "n", "lo_cents", "hi_cents")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.expr("CAST(v AS DECIMAL(38,0))")).alias("sum_dec"),
        )
        .select(
            F.col("g").alias("event_type"),
            "n",
            "n_kept",
            "lo_cents",
            "hi_cents",
            F.expr(
                f"CAST(sum_dec * {W16_MICRO} DIV n_kept AS BIGINT)"
            ).alias("trimmed_mean_micro"),
        )
        .orderBy("event_type")
    )


# --- j10: linear-interpolation join (round 12) --------------------------------


@register(
    "j10_linear_interp_join",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
        anchors AS (
            SELECT s.h, COALESCE(hourly.x, 0) AS x
            FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                      AS h FROM b) s
            LEFT JOIN hourly ON hourly.h = s.h
        ),
        ev AS (
            SELECT event_id, ts, date_trunc('hour', ts) AS h,
                   CAST(date_sub('second', date_trunc('hour', ts), ts)
                        AS BIGINT) AS off_s
            FROM events
        )
        SELECT e.event_id,
               a0.x AS x_at_hour,
               CAST(a0.x * 3600 + (a1.x - a0.x) * e.off_s AS BIGINT)
                   AS interp_x3600
        FROM ev e
        JOIN anchors a0 ON a0.h = e.h
        JOIN anchors a1 ON a1.h = e.h + INTERVAL 1 HOUR
        ORDER BY e.event_id
    """,
    doc="Linear-interpolation join: each event is joined to the hourly "
    "count series' two bracketing anchors and the series value AT THE "
    "EVENT'S EXACT TIMESTAMP is interpolated — the resampling "
    "primitive between j8's nearest-as-of (steps) and a spline "
    "(overkill): sensor/rate series are piecewise-linear by "
    "convention, and feature pipelines want the value at label time, "
    "not at the bucket edge. EXACT integers with NO division: the "
    "interpolated value is emitted in 1/3600-count units "
    "(x0*3600 + (x1-x0)*off_s), so the negative-slope floor/trunc "
    "divergence between engines (Spark DIV truncates toward zero, "
    "DuckDB // floors) never arises — divide at the consumer if a "
    "float is wanted. Events in the final (unbracketed) hour drop out "
    "via the inner join on the +1h anchor, the same right-open "
    "convention as the interval ops. Scale shape: the anchor table is "
    "the CALENDAR-BOUNDED spine, broadcast to both join slots — the "
    "fact table streams through map-only, nothing shuffles but the "
    "output ordering (driver-gate cosmetic; a production sink drops "
    "it).",
    tags=("join", "timeseries"),
)
def j10_linear_interp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ONE projected pass feeds everything: the probe side needs
    # (event_id, h, off_s) per event, and the anchor series is a
    # groupBy(h) OVER THAT SAME FRAME — so the fact table is scanned
    # once (plan-asserted), with the scan pruned to (event_id, ts).
    ev = e.select(
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        ).cast("long").alias("off_s"),
    ).persist()  # plan-cache: probe side + anchor series
    from apache_iceberg_spark.operators.timeseries import _spine_from_hourly

    anchors = _spine_from_hourly(
        ev.groupBy("h").agg(F.count(F.lit(1)).alias("x"))
    )
    a0 = anchors.select(F.col("h").alias("h0_"), F.col("x").alias("x0"))
    a1 = anchors.select(
        F.col("h").alias("h1_"), F.col("x").alias("x1")
    )
    return (
        ev.join(F.broadcast(a0), F.col("h") == F.col("h0_"))
        .join(
            F.broadcast(a1),
            F.col("h") + F.expr("INTERVAL 1 HOUR") == F.col("h1_"),
        )
        .select(
            "event_id",
            F.col("x0").alias("x_at_hour"),
            (F.col("x0") * 3600 + (F.col("x1") - F.col("x0")) * F.col("off_s"))
            .cast("long")
            .alias("interp_x3600"),
        )
        .orderBy("event_id")
    )


# --- w19: exact mode per group (round 12) -------------------------------------


@register(
    "w19_mode",
    oracle="""
        WITH pv AS (
            SELECT event_type AS g,
                   CAST(ROUND(value * 100) AS BIGINT) AS v,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        ranked AS (
            SELECT g, v, cnt,
                   ROW_NUMBER() OVER (PARTITION BY g
                       ORDER BY cnt DESC, v ASC) AS rn,
                   SUM(cnt) OVER (PARTITION BY g) AS n
            FROM pv
        )
        SELECT g AS event_type, CAST(n AS BIGINT) AS n,
               v AS mode_cents, cnt AS mode_count
        FROM ranked WHERE rn = 1
        ORDER BY event_type
    """,
    doc="Exact MODE per group — the last member of the location-"
    "estimator shelf (mean/median w12/winsorized w16/trimmed w17): "
    "the most frequent exact cent value, ties broken to the SMALLEST "
    "value so the answer is deterministic on both engines (the "
    "ROW_NUMBER ordering (cnt DESC, v ASC) is total). The price-point "
    "question ('what do users actually pay?') that every average "
    "obscures on multi-modal pricing data. Spark shape: one map-side-"
    "combined groupBy to the distinct-value frame, then the pick is a "
    "window over that frame only (bound_int_support-gated above 2M "
    "distinct, same as the median family) — at 100 TB the ordered "
    "structure is the bounded support, never the rows.",
    tags=("window", "aggregate", "analytics"),
)
def w19_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from apache_iceberg_spark.operators.analytics import bound_int_support

    e = load_table(spark, sf_dir, "events")
    pv = e.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    pv, _step = bound_int_support(pv, group_cols=("g",))
    ranked = pv.select(
        "g",
        "v",
        "cnt",
        F.row_number()
        .over(W.partitionBy("g").orderBy(F.desc("cnt"), F.asc("v")))
        .alias("rn"),
        F.sum("cnt").over(W.partitionBy("g")).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            F.col("g").alias("event_type"),
            F.col("n").cast("long").alias("n"),
            F.col("v").alias("mode_cents"),
            F.col("cnt").alias("mode_count"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# f17: SQL-language UDFs (Spark 4 CREATE FUNCTION ... RETURN expr)
# ---------------------------------------------------------------------------


@register(
    "f17_sql_udf",
    oracle="""
        WITH x AS (
            SELECT CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) AS dc
            FROM lineitem
        )
        SELECT CASE WHEN dc < 2000000 THEN 'low'
                    WHEN dc < 5000000 THEN 'mid'
                    ELSE 'high' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(dc) AS BIGINT) AS total_disc_cents
        FROM x GROUP BY 1
        ORDER BY band
    """,
    doc="SQL-LANGUAGE scalar UDFs (Spark 4's CREATE OR REPLACE "
    "TEMPORARY FUNCTION ... RETURNS ... RETURN expr) — the declarative "
    "UDF tier completing the taxonomy: f9 pandas UDAF and f10 Python "
    "UDTF cross into Python (Arrow batches, the documented slow "
    "path); a SQL UDF is pure Catalyst — the body INLINES into the "
    "plan at resolution, so whole-stage codegen sees plain "
    "expressions and the abstraction costs ZERO at any scale (the "
    "oracle states the inlined form — same recipe as f15's "
    "lambda-free oracle). Demonstrates composition too: band() CALLS "
    "disc_cents() and the optimizer still sees one fused expression "
    "tree. Exact integer cents throughout (registry determinism "
    "rules); one map-side-combined aggregation.",
    tags=("functions", "udf"),
)
def f17_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION f17_disc_cents("
        "p DOUBLE, d DOUBLE) RETURNS BIGINT "
        "RETURN CAST(ROUND(p * (1 - d) * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION f17_band(p DOUBLE, d DOUBLE) "
        "RETURNS STRING "
        "RETURN CASE WHEN f17_disc_cents(p, d) < 2000000 THEN 'low' "
        "WHEN f17_disc_cents(p, d) < 5000000 THEN 'mid' "
        "ELSE 'high' END"
    )
    l = load_table(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("f17_lineitem")
    return spark.sql(
        """
        SELECT f17_band(l_extendedprice, l_discount) AS band,
               COUNT(*) AS n_items,
               SUM(f17_disc_cents(l_extendedprice, l_discount))
                   AS total_disc_cents
        FROM f17_lineitem
        GROUP BY 1
        ORDER BY band
        """
    )


# ---------------------------------------------------------------------------
# f18: SQL-language TABLE function (Spark 4 RETURNS TABLE ... RETURN SELECT)
# ---------------------------------------------------------------------------

F18_BINS = 6


@register(
    "f18_sql_table_udf",
    oracle=f"""
        WITH bins AS (
            SELECT b AS bin, b * (24 // {F18_BINS}) AS lo,
                   (b + 1) * (24 // {F18_BINS}) AS hi
            FROM (SELECT unnest(generate_series(0, {F18_BINS} - 1)) AS b)
        ),
        ev AS (
            SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
        )
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(lo AS BIGINT) AS lo_hour,
               CAST(hi AS BIGINT) AS hi_hour,
               CAST(COUNT(v) AS BIGINT) AS n_events,
               CAST(COALESCE(SUM(v), 0) AS BIGINT) AS total_cents
        FROM bins LEFT JOIN ev ON ev.h >= bins.lo AND ev.h < bins.hi
        GROUP BY bin, lo, hi
        ORDER BY bin
    """,
    doc="SQL-language TABLE function (Spark 4's CREATE FUNCTION ... "
    "RETURNS TABLE ... RETURN SELECT) — f17's set-returning sibling, "
    "completing the UDF taxonomy: f10's Python UDTF crosses into "
    "Arrow batches, while a SQL table function INLINES as a subquery "
    "at resolution (pytest: no eval/UDTF node in the plan), so a "
    "parameterized dimension generator — here an hour-of-day "
    "binning table int_bins(n, span) — costs what the literal "
    "subquery costs: ZERO. The hour bands then LEFT-join the events "
    "(empty bins survive with zero counts) — the parameterized-"
    "calendar-dimension shape every reporting layer needs. Exact "
    "integer cents and integer bin edges (span DIV n) throughout. "
    "Scale: the generated dimension is F18_BINS rows and broadcasts; "
    "events aggregate map-side after the band join.",
    tags=("functions", "udf"),
)
def f18_sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION f18_int_bins("
        "n INT, span INT) RETURNS TABLE(bin INT, lo INT, hi INT) "
        "RETURN SELECT b AS bin, b * (span DIV n) AS lo, "
        "(b + 1) * (span DIV n) AS hi "
        "FROM (SELECT explode(sequence(0, n - 1)) AS b)"
    )
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("f18_events")
    return spark.sql(
        f"""
        WITH ev AS (
            SELECT CAST(hour(ts) AS BIGINT) AS h,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM f18_events
        )
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(lo AS BIGINT) AS lo_hour,
               CAST(hi AS BIGINT) AS hi_hour,
               COUNT(v) AS n_events,
               COALESCE(SUM(v), CAST(0 AS BIGINT)) AS total_cents
        FROM f18_int_bins({F18_BINS}, 24) b
        LEFT JOIN ev ON ev.h >= b.lo AND ev.h < b.hi
        GROUP BY bin, lo, hi
        ORDER BY bin
        """
    )


@register(
    "w18_rolling_extrema_channel",
    oracle="""
        WITH px AS (
            SELECT o_custkey, o_orderkey, o_orderdate,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        ch AS (
            SELECT o_custkey, cents,
                   MAX(cents) OVER wprev AS prev_max,
                   MAX(cents) OVER wchan - MIN(cents) OVER wchan AS width
            FROM px
            WINDOW wprev AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
                   wchan AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        )
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN prev_max IS NOT NULL
                              AND cents > prev_max
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_breakouts,
               CAST(MAX(width) AS BIGINT) AS widest_channel_cents
        FROM ch
        GROUP BY o_custkey
        ORDER BY o_custkey
    """,
    doc="Rolling extrema channel per customer — the Donchian-channel "
    "window shape (trailing 5-order max/min band) with breakout "
    "detection: an order whose price exceeds the previous five "
    "orders' maximum is a breakout, the channel width is the trailing "
    "band's spread, and the per-customer report carries breakout "
    "count + widest band. Fills the w-family's rolling-extrema slot "
    "(w11 median, w13 distinct, w14 regression, w15 MAD — extrema "
    "bands were missing; they are the standard spend-spike screen). "
    "Exactness: integer cents, ROWS-framed windows with a unique "
    "(date, key) tiebreak, NULL-guarded first rows (a customer's "
    "first order cannot break out of an empty band — the CASE "
    "spelling is identical on both engines). Scale: ONE shuffle on "
    "o_custkey; both windows share the partition AND sort order, so "
    "Catalyst runs them in a single WindowExec pass over one sort; "
    "the re-agg collapses to customer-sized output map-side.",
    tags=("window",),
)
def w18_rolling_extrema_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    px = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        _cents(F.col("o_totalprice")).alias("cents"),
    )
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wprev = base.rowsBetween(-5, -1)
    wchan = base.rowsBetween(-4, 0)
    ch = px.select(
        "o_custkey",
        "cents",
        F.max("cents").over(wprev).alias("prev_max"),
        (F.max("cents").over(wchan) - F.min("cents").over(wchan)).alias(
            "width"
        ),
    )
    return (
        ch.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.expr(
                    "CASE WHEN prev_max IS NOT NULL AND cents > prev_max "
                    "THEN 1 ELSE 0 END"
                )
            ).cast("long").alias("n_breakouts"),
            F.max("width").cast("long").alias("widest_channel_cents"),
        )
        .orderBy("o_custkey")
    )


@register(
    "f19_variant_shred",
    oracle="""
        WITH v AS (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   json_extract_string(props, '$.absent') AS missing
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS k_total,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS k_distinct,
               CAST(SUM(CASE WHEN missing IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missing
        FROM v
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Spark 4 VARIANT shredding — the engine's NEW semi-structured "
    "type (parse_json -> VariantType, the open-format binary encoding "
    "Iceberg v3 and Delta adopted for JSON columns): the props JSON "
    "parses ONCE into a variant, typed paths extract via "
    "try_variant_get (a bigint '$.k' and a deliberately ABSENT path "
    "whose NULL semantics sit inside the hash), and the per-type "
    "aggregate proves parse->extract->aggregate end to end. This is "
    "the successor to f6's string-re-parsing get_json_object path: at "
    "100 TB a variant column parses each JSON document once at WRITE "
    "(or first touch) instead of once per extraction expression, and "
    "shredded sub-columns give parquet-level pushdown — the oracle "
    "states the same semantics through DuckDB's JSON extraction, so "
    "the value hash pins that VARIANT typing changes no answers. "
    "Scale: map-only parse + one map-side-combined groupBy to "
    "|types| rows.",
    tags=("functions", "json", "variant"),
)
def f19_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.parse_json(F.col("props")).alias("v"),
    ).select(
        "event_type",
        F.expr("try_variant_get(v, '$.k', 'bigint')").alias("k"),
        F.expr("try_variant_get(v, '$.absent', 'string')").alias("missing"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("k").cast("long").alias("k_total"),
            F.countDistinct("k").cast("long").alias("k_distinct"),
            F.sum(
                F.when(F.col("missing").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_missing"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# j11: banded value join (round 14)
# ---------------------------------------------------------------------------

#: Tolerance in cents for the value-band pairing below.
J11_TOL_CENTS = 50


@register(
    "j11_band_join",
    oracle=f"""
        WITH p AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events
            WHERE event_type IN ('purchase', 'refund')
            GROUP BY 1, 2
        ),
        a AS (SELECT cents, cnt FROM p WHERE event_type = 'purchase'),
        b AS (SELECT cents, cnt FROM p WHERE event_type = 'refund'),
        pairs AS (
            SELECT a.cents AS a_cents, b.cents AS b_cents,
                   a.cnt * b.cnt AS npair
            FROM a JOIN b
              ON b.cents BETWEEN a.cents - {J11_TOL_CENTS}
                             AND a.cents + {J11_TOL_CENTS}
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_value_pairs,
               CAST(SUM(npair) AS BIGINT) AS n_row_pairs,
               CAST(SUM(CASE WHEN a_cents = b_cents
                             THEN npair ELSE 0 END) AS BIGINT)
                   AS n_exact_matches,
               CAST(SUM(npair * ABS(a_cents - b_cents)) AS BIGINT)
                   AS total_abs_gap_cents
        FROM pairs
    """,
    doc=f"BANDED non-equi join — all (purchase, refund) value pairs "
    f"within {J11_TOL_CENTS} cents, the refund-matching / "
    "record-linkage shape (|a - b| <= tol on a NON-time key; j9's "
    "tolerance as-of picks one nearest neighbor in TIME — this keeps "
    "every in-band pair). The scale pattern is the point: a naive "
    "|a.v - b.v| <= tol condition plans as a nested-loop cross "
    f"product, so both sides bucket at v DIV {J11_TOL_CENTS} and the "
    "left side EXPLODES to its bucket and both neighbors — an "
    "equi-join on the bucket key (hash-partitionable, AQE-skew-"
    "handleable) whose candidates are then range-filtered exactly; "
    "any in-band pair differs by at most one bucket, so recall is "
    "total (plan-asserted: no CartesianProduct, no nested loop). "
    "Working on per-VALUE count frames (cents, cnt) rather than raw "
    "rows makes the pair arithmetic exact and the join support-"
    "bounded: n_row_pairs = sum of count products, gap mass exact in "
    "cents. DuckDB's oracle uses the naive BETWEEN join — same "
    "answer, different plan — so the hash pins the REWRITE's "
    "equivalence, which is precisely what a banded join must prove.",
    tags=("join", "range", "scale"),
)
def j11_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type").isin("purchase", "refund"))
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = p.filter(F.col("event_type") == "purchase").select(
        F.col("cents").alias("a_cents"), F.col("cnt").alias("a_cnt")
    )
    b = p.filter(F.col("event_type") == "refund").select(
        F.col("cents").alias("b_cents"), F.col("cnt").alias("b_cnt")
    )
    tol = J11_TOL_CENTS
    # left explodes to bucket-1/bucket/bucket+1; right keys its bucket
    a_x = a.select(
        "a_cents",
        "a_cnt",
        F.explode(
            F.expr(
                f"array((a_cents DIV {tol}) - 1, a_cents DIV {tol}, "
                f"(a_cents DIV {tol}) + 1)"
            )
        ).alias("bucket"),
    )
    b_k = b.withColumn("bucket", F.expr(f"b_cents DIV {tol}"))
    pairs = (
        a_x.join(b_k, "bucket")
        .filter(F.abs(F.col("a_cents") - F.col("b_cents")) <= tol)
        .select(
            "a_cents",
            "b_cents",
            (F.col("a_cnt") * F.col("b_cnt")).alias("npair"),
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_value_pairs"),
        F.sum("npair").cast("long").alias("n_row_pairs"),
        F.sum(
            F.when(F.col("a_cents") == F.col("b_cents"), F.col("npair"))
            .otherwise(0)
        ).cast("long").alias("n_exact_matches"),
        F.sum(
            F.col("npair") * F.abs(F.col("a_cents") - F.col("b_cents"))
        ).cast("long").alias("total_abs_gap_cents"),
    )
