"""Dimension-history / CDC / as-of / temporal-join lanes — split out of queries/selection.py in round 12
(verdict item 5). The registry (selection.QUERIES / selection.ORACLE)
and its query order are unchanged: selection imports only the query
functions and oracles it registers, so import every other name from
this module. Lane bodies are moved
VERBATIM — the full-sweep manifest gate pins value-hash equality."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..sources.readers import load_table as t
from ..sources.readers import widen_if_starved
from .vector import _embeddings, _query_vector

def dim_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/scd.py:scd2_compress —
    the warehouse temporal op the reference's latest-only dims imply;
    SURVEY.md §3.2): per-user DAILY snapshot (last event_type of the
    day, (ts, event_id) tie-break) run-length-compressed into
    versioned [valid_from, valid_to) rows with an is_current flag.
    All columns integer/date/string/bool — hash-exact; the oracle
    replays snapshot → change-flag → version → min/lead relationally.
    """
    from ..operators.scd import scd2_compress

    ev = t(spark, sf_dir, "events")
    snap = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "day")
        .agg(
            F.max_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("event_type")
        )
    )
    return scd2_compress(snap, ["user_id"], ["event_type"], "day")


ORACLE_SCD2 = """
WITH r AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
snap AS (SELECT user_id, day, event_type FROM r WHERE rn = 1),
v AS (
  SELECT user_id, day, event_type,
         CASE WHEN lag(day) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS flag
  FROM snap WINDOW w AS (PARTITION BY user_id ORDER BY day)
),
ver AS (
  SELECT user_id, day, event_type,
         CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY day)
              AS BIGINT) AS version
  FROM v
),
hist AS (
  SELECT user_id, event_type, version, min(day) AS valid_from
  FROM ver GROUP BY user_id, event_type, version
)
SELECT user_id, event_type, version, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM hist WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
"""


def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins apply (operators/scd.py:apply_cdc): the events
    stream read as a change feed — 'error' rows are tombstones, every
    other event upserts the user's (event_type, int-cents value).
    max_by(struct, struct) partial aggregation, NO window sort (plan
    test pins it); users whose final event is a tombstone are absent.
    """
    from ..operators.scd import apply_cdc

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return apply_cdc(ev, ["user_id"], ["ts", "event_id"], "op")


ORACLE_CDC = """
WITH r AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts, event_id, event_type, cents
FROM r WHERE rn = 1 AND op <> 'D'
"""


IVL_BIN_DAYS = 32  # ~ the 1..30-day ship->receipt transit length
IVL_EPOCH = "1990-01-01"


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join (operators/intervals.py — the
    big-big ranges-on-both-sides shape join_range_binned's point
    variant can't express): per supplier, the number of lineitem
    PAIRS whose ship->receipt transit windows overlap — a concurrency
    measure. Binned equi-join with the count-once filter (no
    distinct); the oracle runs the naive theta join. All-integer.
    The fixture carries no l_receiptdate, so the transit length is
    the deterministic 1 + iid % 30 days (TPC-H's receipt = ship +
    1..30 convention) — identical integer math on both engines.
    """
    from ..operators.intervals import interval_overlap_join

    day = lambda c: F.datediff(F.col(c), F.to_date(F.lit(IVL_EPOCH)))
    iv = (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_suppkey",
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("iid"),
            day("l_shipdate").cast("long").alias("ds"),
        )
        .withColumn("de", F.col("ds") + 1 + F.col("iid") % 30)
    )
    a = iv.select("l_suppkey", F.col("iid").alias("id_a"),
                  F.col("ds").alias("s_a"), F.col("de").alias("e_a"))
    # the binned join broadcasts side b, so side a is the PROBE whose
    # task count is the join's parallelism — and a single small
    # parquet file scans as ~3 tasks, serializing the ~12-per-bucket
    # candidate probe on 3 cores. One narrow repartition of the
    # 4-column probe spreads it cluster-wide (r14: 5.0 s -> 2.8 s
    # interleaved A/B at sf0.1, row-identical; guide §2.5).
    # Conditional (r15): a production table arrives as many files and
    # gets this from the scan itself — then no Exchange is added.
    a = widen_if_starved(a)
    b = iv.select("l_suppkey", F.col("iid").alias("id_b"),
                  F.col("ds").alias("s_b"), F.col("de").alias("e_b"))
    pairs = interval_overlap_join(
        a, b, "s_a", "e_a", "s_b", "e_b",
        on=["l_suppkey"], bin_size=IVL_BIN_DAYS,
    ).filter(F.col("id_a") < F.col("id_b"))
    return pairs.groupBy("l_suppkey").agg(
        F.count("*").alias("n_overlaps")
    )


ORACLE_IVL_OVERLAP = f"""
WITH iv AS (
  SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS iid,
         datediff('day', DATE '{IVL_EPOCH}', l_shipdate) AS s,
         datediff('day', DATE '{IVL_EPOCH}', l_shipdate)
           + 1 + (l_orderkey * 10 + l_linenumber) % 30 AS e
  FROM lineitem
)
SELECT a.l_suppkey AS l_suppkey, CAST(count(*) AS BIGINT) AS n_overlaps
FROM iv a JOIN iv b
  ON a.l_suppkey = b.l_suppkey AND a.iid < b.iid
 AND a.s <= b.e AND b.s <= a.e
GROUP BY 1
"""


RANGE_WINDOW_DAYS = 90


def window_time_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame (§2.5 — the frame family the
    row-frame lanes don't cover): per order, the same customer's
    trailing-{RANGE_WINDOW_DAYS}-day order count and int-cents spend,
    RANGE BETWEEN N PRECEDING AND CURRENT ROW over epoch-day longs.
    RANGE frames include orderdate PEERS, so same-day orders agree on
    both engines regardless of intra-day order — no tie-break needed.
    All-integer.
    """
    day = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit(IVL_EPOCH))
    ).cast("long")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        day.alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-RANGE_WINDOW_DAYS, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "d",
        F.count("*").over(w).alias("n_win"),
        F.sum("cents").over(w).alias("cents_win"),
    )


ORACLE_RANGE_WINDOW = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         datediff('day', DATE '{IVL_EPOCH}', CAST(o_orderdate AS DATE)) AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey, d,
       CAST(count(*) OVER w AS BIGINT) AS n_win,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_win
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN {RANGE_WINDOW_DAYS} PRECEDING AND CURRENT ROW)
"""


DIFF_REMOVE_MOD = 97  # keys absent from the OLD snapshot ('added')
DIFF_CHANGE_MOD = 13  # keys whose segment mutates in NEW ('changed')


def dim_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/diff.py:snapshot_diff — the
    what-changed-since-yesterday audit the reference's overwrite-only
    dims can't answer): two deterministic customer snapshots — OLD
    drops custkey % {DIFF_REMOVE_MOD} == 0, NEW rewrites the segment
    of custkey % {DIFF_CHANGE_MOD} == 0 — full-outer diffed into
    added/removed/changed/unchanged plus per-row changed-column
    lists. One hash join; all string/int, hash-exact."""
    from ..operators.diff import snapshot_diff

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    old = cust.filter(F.col("c_custkey") % DIFF_REMOVE_MOD != 0)
    new = cust.withColumn(
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % DIFF_CHANGE_MOD == 0, F.lit("CHANGED")
        ).otherwise(F.col("c_mktsegment")),
    )
    return snapshot_diff(
        old, new, ["c_custkey"], ["c_mktsegment", "c_nationkey"]
    )


ORACLE_SNAPSHOT_DIFF = f"""
WITH o AS (
  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
  WHERE c_custkey % {DIFF_REMOVE_MOD} <> 0
),
n AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % {DIFF_CHANGE_MOD} = 0 THEN 'CHANGED'
              ELSE c_mktsegment END AS c_mktsegment,
         c_nationkey
  FROM customer
),
j AS (
  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
         o.c_mktsegment AS c_mktsegment_old,
         o.c_nationkey AS c_nationkey_old,
         n.c_mktsegment AS c_mktsegment_new,
         n.c_nationkey AS c_nationkey_new,
         o.c_custkey IS NULL AS is_added,
         n.c_custkey IS NULL AS is_removed,
         o.c_mktsegment IS DISTINCT FROM n.c_mktsegment AS seg_chg,
         o.c_nationkey IS DISTINCT FROM n.c_nationkey AS nat_chg
  FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
)
SELECT c_custkey, c_mktsegment_old, c_nationkey_old,
       c_mktsegment_new, c_nationkey_new,
       CASE WHEN is_added THEN 'added'
            WHEN is_removed THEN 'removed'
            WHEN seg_chg OR nat_chg THEN 'changed'
            ELSE 'unchanged' END AS diff_status,
       CASE WHEN NOT is_added AND NOT is_removed AND (seg_chg OR nat_chg)
            THEN concat_ws(',',
                   CASE WHEN seg_chg THEN 'c_mktsegment' END,
                   CASE WHEN nat_chg THEN 'c_nationkey' END)
            ELSE '' END AS changed_cols
FROM j
"""


SESSION_WINDOW_GAP_MIN = 30


def agg_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SESSION WINDOW aggregation (F.session_window — the
    SessionWindow exec node; the custom-state sessionize lanes cover
    the semantics, this covers Spark's BUILT-IN surface): per-user
    gap-merged sessions over events with count + int-cents value sum.
    Spark merges when the gap is <= {SESSION_WINDOW_GAP_MIN} min
    (verified empirically: an exactly-gap-sized step stays in the
    session), so the islands oracle breaks strictly-greater. Session
    end = last event + gap."""
    gap = f"{SESSION_WINDOW_GAP_MIN} minutes"
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = ev.groupBy("user_id", F.session_window("ts", gap)).agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("cents_sum"),
    )
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "cents_sum",
    )


ORACLE_SESSION_WINDOW = f"""
WITH o AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w
                   > INTERVAL {SESSION_WINDOW_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, cents,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts)
              AS BIGINT) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_WINDOW_GAP_MIN} MINUTE
         AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS cents_sum
FROM s GROUP BY user_id, sid
"""


def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert (streaming/cdc.py:run_cdc_upsert — the
    foreachBatch fold of cdc_latest_snapshot's change feed into a
    persisted latest-wins state, tombstones kept in state so replayed
    older changes can't resurrect deletes). The fold is associative,
    so the final snapshot must equal the batch apply_cdc — the oracle
    IS the batch lane's oracle."""
    from ..streaming.cdc import run_cdc_upsert
    from ..streaming.pipeline import read_table_stream

    src = read_table_stream(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return run_cdc_upsert(src, ["user_id"], ["ts", "event_id"], "op")


def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py direction='forward' —
    pandas merge_asof's other direction, same one-exchange union +
    running-last composition with the scan reversed): for each event,
    the customer's EARLIEST order date at-or-after the event time —
    the "next touchpoint" attribution shape. Oracle = the min()
    correlated twin of join_asof's max()."""
    from ..operators.asof import asof_join

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("order_ts"),
    )
    joined = asof_join(
        ev, o, on="user_id", left_ts="ts", right_ts="order_ts",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("order_ts").cast("date").alias("next_order_date"),
    )


ORACLE_ASOF_FORWARD = """
SELECT e.event_id, e.user_id,
       CAST((SELECT min(o.o_orderdate) FROM orders o
             WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts)
            AS DATE) AS next_order_date
FROM events e
"""


ASOF_LOOKBACK_DAYS = 3


def dim_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (operators/scd.py:
    scd2_point_in_time — the AS OF join every SCD2 warehouse dim
    exists to serve; the reference's latest-only dims can't answer
    it, SURVEY.md §3.2): the per-user event-type history from
    ``dim_scd2_history`` probed at each user's event days shifted
    back ``ASOF_LOOKBACK_DAYS`` — "what was this user's state three
    days before each activity day". Probes before the user's first
    version surface with NULL attributes (left join). Equi-join on
    the dimension key with a residual [valid_from, valid_to) range
    predicate — a plain hash join, never a nested loop; each probe
    matches at most one version because versions partition the
    timeline. All columns integer/date/string/bool — hash-exact.
    """
    from ..operators.scd import scd2_compress, scd2_point_in_time

    ev = t(spark, sf_dir, "events")
    snap = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "day")
        .agg(
            F.max_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("event_type")
        )
    )
    hist = scd2_compress(snap, ["user_id"], ["event_type"], "day")
    probes = (
        ev.select(
            "user_id",
            F.date_sub(F.to_date("ts"), ASOF_LOOKBACK_DAYS).alias(
                "probe_day"
            ),
        )
        .distinct()
    )
    return scd2_point_in_time(hist, probes, ["user_id"], "probe_day")


ORACLE_SCD2_ASOF = f"""
WITH r AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
snap AS (SELECT user_id, day, event_type FROM r WHERE rn = 1),
v AS (
  SELECT user_id, day, event_type,
         CASE WHEN lag(day) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS flag
  FROM snap WINDOW w AS (PARTITION BY user_id ORDER BY day)
),
ver AS (
  SELECT user_id, day, event_type,
         CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY day)
              AS BIGINT) AS version
  FROM v
),
hist AS (
  SELECT user_id, event_type, version, min(day) AS valid_from
  FROM ver GROUP BY user_id, event_type, version
),
h AS (
  SELECT user_id, event_type, version, valid_from,
         lead(valid_from) OVER w2 AS valid_to,
         lead(valid_from) OVER w2 IS NULL AS is_current
  FROM hist WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
),
p AS (
  SELECT DISTINCT user_id,
         CAST(ts AS DATE) - {ASOF_LOOKBACK_DAYS} AS probe_day
  FROM events
)
SELECT p.user_id, p.probe_day, h.event_type, h.version, h.valid_from,
       h.valid_to, h.is_current
FROM p LEFT JOIN h ON h.user_id = p.user_id
  AND h.valid_from <= p.probe_day
  AND (h.valid_to IS NULL OR p.probe_day < h.valid_to)
"""


SKEW_SALT = 4


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (operators/skew.py:salted_join —
    the hot-key mitigation every 100 TB fact⋈dim join needs when one
    key owns a disproportionate share of the fact table): events
    LEFT-joined to the customer dimension with every fact row salted
    across ``SKEW_SALT`` reducers and the dimension replicated to
    match, then rolled up per (segment, event_type). The contract is
    ROW-IDENTITY with the plain join — the oracle is the unsalted SQL
    join, so the sweep proves salting never changes results (spurious
    replication or dropped unmatched rows would break the hash).
    Unmatched users land in the NULL-segment group with a NULL
    account sum; counts BIGINT, money int-cents — hash-exact.
    """
    from ..operators.skew import salted_join

    ev = t(spark, sf_dir, "events").select("user_id", "event_type")
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acct_cents"),
    )
    joined = salted_join(ev, dim, "user_id", salt=SKEW_SALT, how="left")
    return joined.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("acct_cents").alias("acct_cents_sum"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_SKEW_SALTED = """
SELECT c.c_mktsegment AS segment, e.event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acct_cents_sum,
       count(DISTINCT e.user_id) AS n_users
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
"""
