"""Relational operator inventory (SURVEY.md §2.2-2.8).

The reference's own analytical surface is scan/project/cast/CASE/
DISTINCT/inner-equi-join (rows P1-P4, J1, A1-A3, F1-F6 of SURVEY.md §2);
the [gap] rows are the families the engine adds at full Spark surface:
filters, aggregations (groupBy/rollup/cube/pivot/approx), windows,
sorts/top-k, set ops, outer/semi/anti/range/as-of joins, scalar function
families.

Every query here is declarative DataFrame API — Catalyst gets filter
pushdown, column pruning and join selection; nothing collects to the
driver. Tiny dimensions are broadcast explicitly where Catalyst's
statistics might not see it (e.g. after a transform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.dates import normalize_partial_date
from ..operators.asof import asof_join
from ..sources.readers import load_table as t

# ---------------------------------------------------------------------------
# Flagship: the reference's gold fact build (J1: two inner equi-joins +
# projection, fact_playlist_tracks.sql:18-20) re-expressed on the TPC-H-ish
# testdata, extended with the aggregation the reference lacks (A4 gap).
# ---------------------------------------------------------------------------


def flagship_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation -> revenue per (nation, segment).

    nation (25 rows, fixed) is broadcast explicitly; customer grows with
    SF (millions of wide rows at 100 TB), so its join strategy is left to
    Catalyst/AQE — broadcast below the threshold, shuffled hash/sort-merge
    above it. The final groupBy exchanges on the (tiny) group key space,
    with partial aggregation map-side.

    The money sum is EXACT (never a double sum): a double sum's
    summation-order drift grows with the sum while the 2-decimal
    rounding grid does not — measured at 10x amplification (~2.4e9
    sums), double drift flips one-cent round() boundaries across
    engines. ``_revenue_sum`` carries the exactness in integer cents
    (the fast lane; see its docstring for the measured 2x over the
    naive decimal-product sum). The final cast back to double is
    lossless (every 2-decimal value has a unique nearest double on
    both engines).
    """
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
        .groupBy("n_name", "c_mktsegment")
        .agg(
            _revenue_sum().alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _revenue_sum() -> F.Column:
    """Exact money sum, integer-lane: identical value to
    ``round(sum(CAST(l_extendedprice AS decimal(12,2)) * (CAST(1 AS
    decimal(3,2)) - CAST(l_discount AS decimal(3,2)))), 2)`` cast to
    double (the exact decimal per-item revenue), ~2x faster
    per row (measured at 100x: decimal-product sum 2.43 s vs 1.49 s
    for this lane on a 60M-row scan — the decimal multiply/add per ROW
    was most of the q1/q5/flagship scan floor).

    Price and discount are 2-decimal money values, so
    ``price_cents x (100 - discount_cents)`` is an exact integer in
    10^-4-dollar units that fits a long per row (< 10^10); the SUM
    aggregates those longs cast to decimal(18,0) — Spark's sum gives
    the accumulator +10 digits of precision (decimal(28,0)), so the
    total is exact and overflow-safe at any corpus size while the hot
    per-row path stays integer arithmetic, not decimal. The final
    /10^4 and round(2) happen per GROUP (post-agg, ~25 rows), in
    decimal, so the rounding grid matches the oracle bit-for-bit."""
    cents4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    total = F.sum(cents4.cast("decimal(18,0)"))
    return F.round(total.cast("decimal(38,4)") / 10000, 2).cast("double")


_DECIMAL_REVENUE_SQL = """CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"""

ORACLE_FLAGSHIP = f"""
SELECT n_name, c_mktsegment,
       CAST(round(sum({_DECIMAL_REVENUE_SQL}), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name, c_mktsegment
"""


def fact_order_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure J1 parity: inner equi-join chain + wide projection, no agg —
    the exact shape of the reference's fact_playlist_tracks build."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.round("l_extendedprice", 2).alias("price"),
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "c_custkey",
            "c_name",
            "c_mktsegment",
        )
    )


ORACLE_FACT = """
SELECT l_orderkey, l_linenumber, l_partkey,
       round(l_extendedprice, 2) AS price,
       o_orderstatus,
       CAST(o_orderdate AS DATE) AS order_date,
       c_custkey, c_name, c_mktsegment
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""

# ---------------------------------------------------------------------------
# Aggregations (A4 gap): TPC-H Q1 shape, stats, rollup/cube/pivot, approx.
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 2)                                        AS avg_qty,
       round(avg(l_extendedprice), 2)                                   AS avg_price,
       round(avg(l_discount), 2)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def group_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 2).alias("avg_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_STATS = """
SELECT event_type,
       count(*)                 AS n_events,
       round(sum(value), 2)     AS sum_value,
       round(avg(value), 2)     AS avg_value,
       round(min(value), 2)     AS min_value,
       round(max(value), 2)     AS max_value,
       count(DISTINCT user_id)  AS n_users
FROM events
GROUP BY event_type
"""


def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets family in one query: ROLLUP over orders (priority,
    status) unioned with CUBE over lineitem (returnflag, linestatus),
    tagged by ``op``. Both sides keep partial aggregation map-side; the
    union is plan-level (no extra shuffle beyond the two aggs)."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("k1"),
        F.col("o_orderstatus").alias("k2"),
        F.col("o_totalprice").alias("v"),
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("l_quantity").alias("v"),
    )

    def gsets(df: DataFrame, kind: str) -> DataFrame:
        grouped = df.rollup("k1", "k2") if kind == "rollup" else df.cube("k1", "k2")
        return grouped.agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("v"), 2).alias("sum_val"),
            F.grouping_id().cast("int").alias("gid"),
        ).withColumn("op", F.lit(kind))

    return (
        gsets(o, "rollup")
        .unionByName(gsets(li, "cube"))
        .select("op", "k1", "k2", "n_rows", "sum_val", "gid")
    )


ORACLE_ROLLUP_CUBE = """
SELECT 'rollup' AS op, o_orderpriority AS k1, o_orderstatus AS k2,
       count(*) AS n_rows,
       round(sum(o_totalprice), 2) AS sum_val,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
UNION ALL
SELECT 'cube' AS op, l_returnflag AS k1, l_linestatus AS k2,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_val,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


ORACLE_PIVOT = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
FROM lineitem
GROUP BY l_returnflag
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approx distinct, made oracle-checkable.

    Raw sketch estimates differ across engines, so the query emits a
    deterministic contract instead: the exact distinct counts plus a
    BOOLEAN asserting Spark's HLL estimate (rsd=0.01) lands within 5%
    of exact. The sketch value itself never leaves the query; the
    oracle emits the same exact counts and literal TRUE, so a sketch
    drifting past 5% fails the hash gate. Measured margin: max rel err
    0.86% across sf0.001-0.1 vs the 5% bound (≈6x headroom), and HLL
    is deterministic for fixed data.

    The exact and approx aggregates run as SEPARATE aggregations joined
    on the (tiny) group key (r14). Mixing ``count_distinct`` with
    ``approx_count_distinct`` in ONE agg made Catalyst's
    multi-distinct rewrite push the HLL sketches through the Expand:
    the partial HLL agg was keyed on (returnflag, partkey, orderkey,
    gid) — one 2x1639-long register buffer pair per DISTINCT VALUE
    group, ~600k sketch pairs shuffled at sf0.1 ("... 3257 more
    fields" in the partial agg's output). Measured: 74.5 s -> 3.0 s at
    sf0.1 with row-identical output; the approx agg now keys on
    returnflag alone (3 sketch pairs total) and the distinct rewrite
    expands only the two exact counts."""
    li = t(spark, sf_dir, "lineitem")
    ap = F.approx_count_distinct("l_partkey", 0.01)
    ao = F.approx_count_distinct("l_orderkey", 0.01)
    ep = F.count_distinct("l_partkey")
    eo = F.count_distinct("l_orderkey")
    exact = li.groupBy("l_returnflag").agg(
        ep.alias("n_parts"), eo.alias("n_orders")
    )
    approx = li.groupBy("l_returnflag").agg(
        ap.alias("__ap"), ao.alias("__ao")
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "n_parts",
        "n_orders",
        (F.abs(F.col("__ap") - F.col("n_parts")) <= F.col("n_parts") * F.lit(0.05))
        .alias("parts_within_5pct"),
        (F.abs(F.col("__ao") - F.col("n_orders")) <= F.col("n_orders") * F.lit(0.05))
        .alias("orders_within_5pct"),
    )


ORACLE_APPROX_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey)  AS n_parts,
       count(DISTINCT l_orderkey) AS n_orders,
       TRUE AS parts_within_5pct,
       TRUE AS orders_within_5pct
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Filters / projections / casts / CASE date normalization (P2-P5).
# ---------------------------------------------------------------------------


def staging_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2-P4 parity in one staging model: projection + rename + lenient
    cast chain (reference stg_tracks.sql:5-14) plus the reference's CASE
    partial-date padding (airflow/dags/dbt/.../stg_albums.sql:7-12),
    exercised on synthetic partial dates derived deterministically from
    o_orderdate. One per-row projection, no shuffle."""
    o = t(spark, sf_dir, "orders")
    prec = F.col("o_orderkey") % 3
    raw = (
        F.when(prec == 0, F.date_format("o_orderdate", "yyyy"))
        .when(prec == 1, F.date_format("o_orderdate", "yyyy-MM"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    return o.select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        F.col("o_custkey").cast("string").alias("customer_id"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.upper("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.split("o_orderpriority", "-").getItem(0).try_cast("int").alias("priority_rank"),
        raw.alias("raw_date"),
        normalize_partial_date(raw).alias("norm_date"),
    )


ORACLE_CASTPROJ = """
WITH r AS (
  SELECT *,
         CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y')
              WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m')
              ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw_date
  FROM orders
)
SELECT CAST(o_orderkey AS VARCHAR)  AS order_id,
       CAST(o_custkey AS VARCHAR)   AS customer_id,
       CAST(o_orderdate AS DATE)    AS order_date,
       upper(o_orderstatus)         AS order_status,
       CAST(o_totalprice AS DOUBLE) AS total_price,
       TRY_CAST(string_split(o_orderpriority, '-')[1] AS INT) AS priority_rank,
       raw_date,
       CASE WHEN length(raw_date) = 4  THEN TRY_CAST(concat(raw_date, '-01-01') AS DATE)
            WHEN length(raw_date) = 7  THEN TRY_CAST(concat(raw_date, '-01') AS DATE)
            WHEN length(raw_date) = 10 THEN TRY_CAST(raw_date AS DATE)
            ELSE NULL END AS norm_date
FROM r
"""


def distinct_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 parity: row-wise DISTINCT dim build (dim_artists.sql:4-10)."""
    c = t(spark, sf_dir, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()


ORACLE_DISTINCT = "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"


def filter_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 + F7 in one query: the full predicate grammar — AND/OR/NOT,
    IN, BETWEEN, LIKE, null checks — pushed to the parquet scan, feeding
    the date/string/math scalar families in one projection."""
    o = t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_totalprice").between(1000, 150000))
        & (F.col("o_orderstatus").isin("O", "F"))
        & (F.col("o_orderpriority").like("%-%"))
        & (~F.col("o_orderpriority").like("5-%") | (F.col("o_totalprice") > 100000))
        & (F.col("o_custkey").isNotNull())
    ).select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.lower("o_orderpriority").alias("priority_lower"),
        F.regexp_replace("o_orderpriority", "^[0-9]+-", "").alias("priority_name"),
        F.length("o_orderpriority").cast("int").alias("priority_len"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.floor(F.col("o_totalprice") / 10000).cast("bigint").alias("price_bucket"),
        F.round(F.sqrt(F.abs("o_totalprice")), 2).alias("sqrt_price"),
        F.when(F.col("o_totalprice") > 100000, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
    )


ORACLE_FILTER_SCALAR = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT)  AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(day(o_orderdate) AS INT)   AS order_day,
       lower(o_orderpriority)          AS priority_lower,
       regexp_replace(o_orderpriority, '^[0-9]+-', '') AS priority_name,
       CAST(length(o_orderpriority) AS INT) AS priority_len,
       concat_ws('|', o_orderstatus, o_orderpriority)  AS status_priority,
       CAST(floor(o_totalprice / 10000) AS BIGINT)     AS price_bucket,
       round(sqrt(abs(o_totalprice)), 2)               AS sqrt_price,
       CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class
FROM orders
WHERE o_totalprice BETWEEN 1000 AND 150000
  AND o_orderstatus IN ('O', 'F')
  AND o_orderpriority LIKE '%-%'
  AND (o_orderpriority NOT LIKE '5-%' OR o_totalprice > 100000)
  AND o_custkey IS NOT NULL
"""

def agg_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 extension — order statistics + moments: exact interpolated
    quartiles, sample stddev, and correlation, grouped per returnflag.

    Percentiles run on integer CENTS at binary-exact fractions
    (0.25/0.5/0.75): with integer inputs and fractions representable in
    binary, the interpolation ``a + (b-a)*f`` is bitwise identical in
    both engines regardless of formula form — double-valued percentile
    interpolation at e.g. 0.9 differs by an ulp across engines and can
    flip the rounded value (observed at sf0.001)."""
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    li = li.withColumn("cents", cents)

    # ONE array-fraction percentile buffer instead of three scalar
    # ones: exact percentile buffers hold every group value, so three
    # separate aggregates tripled the buffered/sorted/shuffled state
    # for identical results (r14: 3.5 s -> 1.6 s at sf0.1,
    # row-identical — same interpolation arithmetic per fraction;
    # guide §2.3 shuffle fewer bytes)
    ps = F.percentile(
        "cents", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            ps.alias("__ps"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
            # + 0.0 normalizes IEEE -0.0: a near-zero negative
            # correlation rounds to -0.0 in DuckDB but 0.0 in Spark —
            # equal as floats, different under the harness's
            # string/hash compare
            (
                F.round(F.corr("l_extendedprice", "l_quantity"), 4)
                + F.lit(0.0)
            ).alias("corr_pq"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("__ps")[0] / 100, 2).alias("p25_price"),
            F.round(F.col("__ps")[1] / 100, 2).alias("median_price"),
            F.round(F.col("__ps")[2] / 100, 2).alias("p75_price"),
            "sd_price",
            "corr_pq",
        )
    )


ORACLE_PERCENTILE_STATS = """
WITH c AS (
  SELECT l_returnflag, l_extendedprice, l_quantity,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
)
SELECT l_returnflag,
       round(quantile_cont(cents, 0.25) / 100, 2) AS p25_price,
       round(quantile_cont(cents, 0.5)  / 100, 2) AS median_price,
       round(quantile_cont(cents, 0.75) / 100, 2) AS p75_price,
       round(stddev_samp(l_extendedprice), 2) AS sd_price,
       round(corr(l_extendedprice, l_quantity), 4) + 0.0 AS corr_pq
FROM c
GROUP BY l_returnflag
"""


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the full snowflake, rooted at the FACT: lineitem
    ⋈ orders ⋈ customer ⋈ supplier (co-located nation) ⋈ nation ⋈
    region. Lineitem is the largest table at every SF, so it must be the
    PROBE side streaming through the joins — hash tables build over the
    SF-smaller dims, never over the fact. nation/region are fixed-size
    (25/5 rows) and broadcast explicitly; orders/customer/supplier grow
    with SF and are left to Catalyst/AQE (broadcast under the threshold,
    shuffled hash/sort-merge above — the li-rooted order is correct in
    both regimes)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            # decimal money sum — exact at any scale (see flagship_revenue)
            _revenue_sum().alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q5_snowflake_cobucketed(
    li: DataFrame,
    o: DataFrame,
    c: DataFrame,
    s: DataFrame,
    n: DataFrame,
    r: DataFrame,
) -> DataFrame:
    """Q5 on the multi-key bucketed layout — the serial 100 TB posture
    that removes every fact-stream shuffle (BASELINE.md "q5 stays
    open" follow-up).

    Expected layout (``save_bucketed``, same bucket count B):
    ``li`` bucketed on ``l_orderkey``, ``o`` on ``o_custkey``, ``c``
    on ``c_custkey``. Probe order is rearranged from the li-rooted
    plain plan to exploit it:

    1. ``orders ⋈ customer`` on custkey — ZERO exchange (both sides
       co-bucketed), producing the order→nation attachment;
    2. ``⋈ lineitem`` on orderkey — lineitem's bucketing satisfies
       the join's distribution requirement, so only the (4× smaller)
       orders⋈customer side shuffles; the fact NEVER moves;
    3. supplier / nation / region are broadcast — supplier is 1/60th
       of lineitem rows at every TPC-H SF (10k·SF rows, a few hundred
       MB at SF100), inside executor-broadcast range.

    Net: ONE data-sized exchange (orders-side re-key to orderkey)
    instead of the plain plan's three fact-stream shuffles, plus the
    tiny final agg exchange. Same result contract as
    ``q5_regional_revenue`` / ``ORACLE_Q5``.
    """
    oc = o.join(c, o["o_custkey"] == c["c_custkey"])
    return (
        oc.join(li, oc["o_orderkey"] == li["l_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            _revenue_sum().alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_Q5 = f"""
SELECT r_name, n_name,
       CAST(round(sum({_DECIMAL_REVENUE_SQL}), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def part_brand_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part ⋈ lineitem per-brand pricing: list-vs-transacted price."""
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_retail"),
            F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias(
                "avg_unit_paid"
            ),
        )
    )


ORACLE_PART_BRAND = """
SELECT p_brand,
       count(*) AS n_items,
       round(avg(p_retailprice), 2) AS avg_retail,
       round(avg(l_extendedprice / l_quantity), 2) AS avg_unit_paid
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


_Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark SQL text front-end (same Catalyst plans as the
    DataFrame API): TPC-H Q3 shipping priority, run verbatim over
    registered temp views. Demonstrates that a reference user's raw SQL
    runs unchanged — the oracle IS the query modulo dialect."""
    for name in ("customer", "orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q3_SQL)


ORACLE_SQL_Q3 = _Q3_SQL


def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution time rollup: one pass over the
    events stream table produces hourly, daily, and grand-total
    aggregates via ROLLUP(day, hour) — the continuous-aggregate shape
    time-series stores maintain, as a single Spark plan with partial
    aggregation at every level."""
    ev = t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss")
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    return (
        ev.withColumn("day", day)
        .withColumn("hour", hour)
        .rollup("day", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping_id().cast("int").alias("grain"),
        )
    )


ORACLE_HYPERTABLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')  AS day,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       CAST(grouping(strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')) * 2
            + grouping(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'))
            AS INT) AS grain
FROM events
GROUP BY ROLLUP (1, 2)
"""


def json_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 gap, JSON + array families: get_json_object / from_json over the
    events.props JSON column, to_json re-serialization, and sequence/
    size/array_max generation — all JVM-side built-ins."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    parsed = F.from_json("props", "k INT")
    arr = F.sequence(F.lit(1), k % 5 + 1)
    # Non-null guard on k: legacy Spark size(NULL) = -1 while DuckDB
    # len(NULL) = NULL, and to_json null-field handling differs — both
    # engines filter the same rows so missing keys can't diverge.
    return ev.filter(k.isNotNull()).select(
        "event_id",
        k.alias("k_extracted"),
        parsed["k"].alias("k_parsed"),
        F.size(arr).alias("arr_size"),
        F.array_max(arr).alias("arr_max"),
        F.to_json(F.struct(k.alias("k"))).alias("rejson"),
    )


ORACLE_JSON_ARRAY = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_extracted,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_parsed,
       CAST(len(range(1, CAST(json_extract_string(props, '$.k') AS INT) % 5 + 2)) AS INT) AS arr_size,
       CAST(list_max(range(1, CAST(json_extract_string(props, '$.k') AS INT) % 5 + 2)) AS INT) AS arr_max,
       to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS INT))) AS rejson
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Window functions (§2.5 gap).
# ---------------------------------------------------------------------------


def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — Window + row_number, the distributed
    top-k-per-group pattern (no global sort, no collect)."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rn",
        )
    )


ORACLE_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice, 2) AS total_price,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
FROM orders
QUALIFY rn <= 3
"""


def window_running_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-frame + analytic offsets in one window pass: cumulative
    spend plus lag/lead neighbors per user in event order. All three
    functions share one (partition, order) spec, so Catalyst plans a
    single exchange + single sort for the whole projection."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(wf), 2).alias("running_value"),
        F.round(F.lag("value", 1).over(w), 2).alias("prev_value"),
        F.round(F.lead("value", 1).over(w), 2).alias("next_value"),
    )


ORACLE_WINDOW_RUNNING_LAG = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_value,
       round(lag(value, 1)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS prev_value,
       round(lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS next_value
FROM events
"""

# ---------------------------------------------------------------------------
# Sorts / top-k (O2 gap).
# ---------------------------------------------------------------------------


def orderby_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst plans TakeOrderedAndProject — per-partition
    heap + driver merge of k rows, never a full sort at scale."""
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


ORACLE_TOPK = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""

# ---------------------------------------------------------------------------
# Set operations (§2.7 gap).
# ---------------------------------------------------------------------------


def _setop_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return building, rich


_SETOP_SIDES_SQL = (
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
    "SELECT c_custkey FROM customer WHERE c_acctbal > 5000",
)


def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over the same two keyed sides, tagged
    by ``op``. ``subtract`` == SQL EXCEPT (set semantics); ``exceptAll``
    would keep surplus duplicate occurrences (EXCEPT ALL)."""
    a, b = _setop_sides(spark, sf_dir)
    u = a.union(b).distinct().withColumn("op", F.lit("union"))
    i = a.intersect(b).withColumn("op", F.lit("intersect"))
    e = a.subtract(b).withColumn("op", F.lit("except"))
    return u.unionByName(i).unionByName(e).select("op", "c_custkey")


ORACLE_SET_OPERATIONS = f"""
SELECT 'union' AS op, c_custkey
FROM ({_SETOP_SIDES_SQL[0]} UNION {_SETOP_SIDES_SQL[1]})
UNION ALL
SELECT 'intersect' AS op, c_custkey
FROM ({_SETOP_SIDES_SQL[0]} INTERSECT {_SETOP_SIDES_SQL[1]})
UNION ALL
SELECT 'except' AS op, c_custkey
FROM ({_SETOP_SIDES_SQL[0]} EXCEPT {_SETOP_SIDES_SQL[1]})
"""

# ---------------------------------------------------------------------------
# Join family beyond inner-equi (J3 gap): semi / anti / outer / range / as-of.
# ---------------------------------------------------------------------------


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS in one query, tagged by ``op``: left_semi
    (no row multiplication, build side broadcast) unioned with
    left_anti. The anti side's right input is filtered (no order above
    300k) so its result is non-empty at every SF — an anti-join whose
    expected output is zero rows can't distinguish a working operator
    from LIMIT 0."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .withColumn("op", F.lit("semi"))
    )
    big = o.filter(F.col("o_totalprice") > 300000)
    anti = (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .withColumn("op", F.lit("anti"))
    )
    return semi.unionByName(anti).select("op", "c_custkey", "c_name")


ORACLE_SEMI_ANTI = """
SELECT 'semi' AS op, c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'anti' AS op, c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


def join_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers, then count non-null."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("sum_price"),
        )
    )


ORACLE_OUTER = """
SELECT c_custkey, c_mktsegment,
       count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0.0), 2) AS sum_price
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


RANGE_DELTA = 1.0


def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join, the 100 TB shape: |price_a - price_b| <= d
    over a self-join. A naive theta join is a nested loop (quadratic);
    binning each row to floor(price/d) makes every qualifying pair meet
    in an EQUI-join — the left side explodes to its bin±1 so a pair
    lands in exactly one bucket (the right row's own bin), no dedup
    needed. Cost: 3x left rows through one hash join instead of n².
    The oracle runs the naive theta join — same result, different plan.
    (The tiny-dim variant of a range join — a 3-row band dimension —
    needs no binning: broadcast the dim and let the non-equi predicate
    run as BroadcastNestedLoopJoin.)
    """
    p = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    binned = p.withColumn(
        "bin", F.floor(F.col("p_retailprice") / RANGE_DELTA).cast("long")
    )
    lhs = binned.select(
        "p_partkey",
        "p_retailprice",
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)
        ).alias("jbin"),
    )
    rhs = binned.select(
        F.col("p_partkey").alias("q_partkey"),
        F.col("p_retailprice").alias("q_price"),
        F.col("bin").alias("jbin"),
    )
    diff = F.abs(F.col("p_retailprice") - F.col("q_price"))
    return (
        lhs.join(rhs, "jbin")
        .filter((F.col("p_partkey") < F.col("q_partkey")) & (diff <= RANGE_DELTA))
        .select(
            "p_partkey", "q_partkey", F.round(diff, 2).alias("price_diff")
        )
    )


ORACLE_RANGE_BINNED = f"""
SELECT a.p_partkey AS p_partkey, b.p_partkey AS q_partkey,
       round(abs(a.p_retailprice - b.p_retailprice), 2) AS price_diff
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(a.p_retailprice - b.p_retailprice) <= {RANGE_DELTA}
"""


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): for each event, the customer's most
    recent order date at-or-before the event time."""
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("order_ts")
    )
    joined = asof_join(ev, o, on="user_id", left_ts="ts", right_ts="order_ts")
    return joined.select(
        "event_id",
        "user_id",
        F.col("order_ts").cast("date").alias("last_order_date"),
    )


ORACLE_ASOF = """
SELECT e.event_id, e.user_id,
       CAST((SELECT max(o.o_orderdate) FROM orders o
             WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS DATE)
           AS last_order_date
FROM events e
"""


QUERIES = {
    "flagship_revenue": flagship_revenue,
    "fact_order_lineitems": fact_order_lineitems,
    "q1_pricing_summary": q1_pricing_summary,
    "group_agg_stats": group_agg_stats,
    "agg_rollup_cube": agg_rollup_cube,
    "agg_pivot": agg_pivot,
    "agg_approx_distinct": agg_approx_distinct,
    "staging_cast_projection": staging_cast_projection,
    "distinct_dims": distinct_dims,
    "filter_scalar_functions": filter_scalar_functions,
    "json_array_functions": json_array_functions,
    "agg_percentile_stats": agg_percentile_stats,
    "events_hypertable_rollup": events_hypertable_rollup,
    "sql_q3_shipping_priority": sql_q3_shipping_priority,
    "q5_regional_revenue": q5_regional_revenue,
    "part_brand_pricing": part_brand_pricing,
    "window_rank_topk": window_rank_topk,
    "window_running_lag": window_running_lag,
    "orderby_topk": orderby_topk,
    "set_operations": set_operations,
    "join_semi_anti": join_semi_anti,
    "join_outer_agg": join_outer_agg,
    "join_range_binned": join_range_binned,
    "join_asof": join_asof,
}

ORACLE = {
    "flagship_revenue": ORACLE_FLAGSHIP,
    "fact_order_lineitems": ORACLE_FACT,
    "q1_pricing_summary": ORACLE_Q1,
    "group_agg_stats": ORACLE_STATS,
    "agg_rollup_cube": ORACLE_ROLLUP_CUBE,
    "agg_pivot": ORACLE_PIVOT,
    "agg_approx_distinct": ORACLE_APPROX_DISTINCT,
    "staging_cast_projection": ORACLE_CASTPROJ,
    "distinct_dims": ORACLE_DISTINCT,
    "filter_scalar_functions": ORACLE_FILTER_SCALAR,
    "json_array_functions": ORACLE_JSON_ARRAY,
    "agg_percentile_stats": ORACLE_PERCENTILE_STATS,
    "events_hypertable_rollup": ORACLE_HYPERTABLE,
    "sql_q3_shipping_priority": ORACLE_SQL_Q3,
    "q5_regional_revenue": ORACLE_Q5,
    "part_brand_pricing": ORACLE_PART_BRAND,
    "window_rank_topk": ORACLE_WINDOW_TOPK,
    "window_running_lag": ORACLE_WINDOW_RUNNING_LAG,
    "orderby_topk": ORACLE_TOPK,
    "set_operations": ORACLE_SET_OPERATIONS,
    "join_semi_anti": ORACLE_SEMI_ANTI,
    "join_outer_agg": ORACLE_OUTER,
    "join_range_binned": ORACLE_RANGE_BINNED,
    "join_asof": ORACLE_ASOF,
}
