"""Monitoring / stats / data-quality / privacy lanes — split out of queries/selection.py in round 12
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
from .vector import _embeddings, _query_vector
from ..operators.lineage import cut_lineage

# ---- robust MAD outliers (round 9) ----
MAD_K = 3
MAD_MIN_GROUP = 5


def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-price anomalies via median/MAD
    (operators/robust.py) — the robust data-quality monitor: flag
    orders whose price deviates from the customer's DISCRETE median by
    more than 3x the customer's MAD, integer-cent exact on both
    engines (percentile_disc semantics, no interpolation)."""
    from ..operators.robust import mad_outliers

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    return mad_outliers(
        orders, "custkey", "cents", "orderkey", k=MAD_K,
        min_group=MAD_MIN_GROUP,
    )


ORACLE_MAD_OUTLIERS = f"""
WITH base AS (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT custkey,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS med
  FROM base GROUP BY custkey
  HAVING count(*) >= {MAD_MIN_GROUP}
),
d AS (
  SELECT b.custkey, b.orderkey, b.cents, g.med,
         abs(b.cents - g.med) AS abs_dev
  FROM base b JOIN g USING (custkey)
),
m AS (
  SELECT custkey,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY abs_dev) AS mad
  FROM d GROUP BY custkey
)
SELECT d.custkey, d.orderkey, d.cents, d.med, m.mad, d.abs_dev
FROM d JOIN m USING (custkey)
WHERE d.abs_dev > {MAD_K} * m.mad
"""


# ---- approx-MAD rank contract (round 10) ----
#
# The warehouse-scale posture of the MAD lane
# (operators/robust.py:mad_outliers_approx): percentile_approx per
# group — one partial-agg pass, NO window-rank shuffle (plan-pinned in
# tests/test_robust.py). Sketch VALUES are partition-order dependent,
# so like the CM/HLL/quantile lanes this emits the DETERMINISTIC
# rank-envelope contract instead: the returned med/mad must be actual
# group elements whose rank range intersects target ± ceil(n/accuracy)
# (+1 absorbs the engine's target-rank convention) — the
# Greenwald–Khanna worst-case theorem, true for ANY partitioning, so
# the hard-TRUE oracle is sound by theorem, not by fixture. Groups =
# order priorities (5 groups of n/5 rows — big enough that the sketch
# actually compresses at sf0.1, unlike per-customer groups).
MAD_APPROX_ACC = 100


def stats_mad_approx_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robust import mad_outliers_approx  # noqa: F401  (doc link)

    acc = MAD_APPROX_ACC
    # base feeds SEVEN consumers (med agg, the dev join probe, both
    # med rank sums, the mad agg, both mad rank sums) — without a
    # reuse boundary the orders scan + projection executes once per
    # branch (plan: 7 parquet scans). Lazy localCheckpoint: the first
    # stage materializes the narrow (prio, cents) blocks, the rest
    # read them (guide §8; interleaved A/B at sf0.1: med
    # 1.05 -> 0.86 s, outputs identical — and the hard-coded-TRUE
    # rank-contract oracle is partitioning-robust by construction).
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    ).transform(cut_lineage)
    med = base.groupBy("prio").agg(
        F.percentile_approx("cents", F.lit(0.5), F.lit(acc)).alias("med"),
        F.count(F.lit(1)).alias("n"),
    )

    def rank_ok(le, lt, n):
        target = F.ceil(n / 2)
        tol = F.ceil(n / acc) + 1
        return (
            (le >= target - tol) & (lt + 1 <= target + tol) & (le > lt)
        )

    dev = base.join(F.broadcast(med), "prio")
    med_stats = dev.groupBy("prio", "n").agg(
        F.sum((F.col("cents") <= F.col("med")).cast("long")).alias("le"),
        F.sum((F.col("cents") < F.col("med")).cast("long")).alias("lt"),
    )
    devs = dev.select(
        "prio", F.abs(F.col("cents") - F.col("med")).alias("ad")
    )
    mad = devs.groupBy("prio").agg(
        F.percentile_approx("ad", F.lit(0.5), F.lit(acc)).alias("mad")
    )
    mad_stats = (
        devs.join(F.broadcast(mad), "prio")
        .groupBy("prio")
        .agg(
            F.sum((F.col("ad") <= F.col("mad")).cast("long")).alias("le"),
            F.sum((F.col("ad") < F.col("mad")).cast("long")).alias("lt"),
        )
    )
    m_ok = med_stats.select(
        "prio",
        rank_ok(F.col("le"), F.col("lt"), F.col("n")).alias("med_rank_ok"),
    )
    d_ok = mad_stats.join(
        med_stats.select("prio", "n"), "prio"
    ).select(
        "prio",
        rank_ok(F.col("le"), F.col("lt"), F.col("n")).alias("mad_rank_ok"),
    )
    return m_ok.join(d_ok, "prio").select("prio", "med_rank_ok", "mad_rank_ok")


ORACLE_MAD_APPROX = """
SELECT DISTINCT o_orderpriority AS prio,
       TRUE AS med_rank_ok, TRUE AS mad_rank_ok
FROM orders
"""


# ---- dyadic EWMA smoothing (round 10) ----
EWMA_WINDOW = 8


def ts_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-value EWMA (operators/smoothing.py): alpha=1/2,
    geometric tail truncated at {EWMA_WINDOW} terms, integer cents
    until one exact power-of-two division — bit-identical doubles on
    both engines by construction (no rounding contract needed).
    Returns (event_id, user_id, cents, ewma)."""
    from ..operators.smoothing import ewma_dyadic

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return ewma_dyadic(
        ev, "user_id", ["ts", "event_id"], "cents", window=EWMA_WINDOW
    ).select("event_id", "user_id", "cents", "ewma")


def _ewma_oracle() -> str:
    from ..operators.smoothing import ewma_dyadic_sql

    frag = ewma_dyadic_sql(
        "cents", "user_id", "ts, event_id", window=EWMA_WINDOW
    )
    return f"""
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id, cents, {frag} AS ewma
FROM base
"""


ORACLE_EWMA = _ewma_oracle()


# ---- population-stability drift (round 10) ----
#
# DISTRIBUTION drift between two batch windows — the monitoring
# complement of the SCHEMA drift gate (operators/drift.py, which is
# driver-side metadata and correctly not a lane): the Population
# Stability Index (the credit-scoring / model-monitoring standard;
# Karakoulas 2004, "Empirical validation of retail credit-scoring
# models") per event type over FIXED equal-width value bins with
# add-one smoothing, so every one of the B bins contributes a finite
# term regardless of emptiness and the statistic is fully
# deterministic — no quantile fitting, no epsilon conventions.
#
# Scale shape: one partial-agg shuffle on (type, bin) with both window
# counts as conditional sums in the SAME pass (the data is read once),
# a tiny type x bin grid join (broadcast), and a per-type fold. The
# ln() sits on ratios of identical integers on both engines; psi
# rounds to 6dp and the margin is probed in tests (the ln-bearing
# EM-oracle protocol).
PSI_CUTOFF = "2024-01-08"
PSI_BINS = 20
PSI_BIN_CENTS = 2500


def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the pre- and post-{PSI_CUTOFF} event-value
    distributions, per event type. Returns
    (event_type, n_ref, n_cur, psi)."""
    # clamp BOTH ends of the fixed grid (round-10 ADVICE item 4): the
    # top bin absorbs overflow and bin 0 absorbs any negative value, so
    # EVERY row is binned — nothing silently falls off the grid
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.least(
            F.greatest(
                F.floor(
                    F.round(F.col("value") * 100, 0).cast("long")
                    / F.lit(PSI_BIN_CENTS)
                ),
                F.lit(0),
            ),
            F.lit(PSI_BINS - 1),
        ).cast("long").alias("bin"),
        (F.col("ts") < F.lit(PSI_CUTOFF).cast("timestamp")).alias("is_ref"),
    )
    counts = ev.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("r"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("c"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(PSI_BINS).select(F.col("id").alias("bin")))
    )
    filled = grid.join(counts, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("r", F.lit(0)).alias("r"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    # totals as a window over the (type x bin) frame — one lineage, so
    # the events table is scanned once (a second aggregation branch
    # would recompute the whole chain per branch)
    tw = W.partitionBy("event_type")
    j = filled.withColumn("n_ref", F.sum("r").over(tw)).withColumn(
        "n_cur", F.sum("c").over(tw)
    )
    p = (F.col("r") + 1) / (F.col("n_ref") + PSI_BINS)
    q = (F.col("c") + 1) / (F.col("n_cur") + PSI_BINS)
    term = (q - p) * F.log(q / p)
    return (
        j.select("event_type", "n_ref", "n_cur", term.alias("term"))
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
        .select("event_type", "n_ref", "n_cur", "psi")
    )


ORACLE_PSI = f"""
WITH ev AS (
  SELECT event_type,
         least(greatest(CAST(floor(CAST(round(value * 100, 0) AS BIGINT)
                                   / {PSI_BIN_CENTS}) AS BIGINT),
                        0),
               {PSI_BINS - 1}) AS bin,
         ts < TIMESTAMP '{PSI_CUTOFF}' AS is_ref
  FROM events
),
counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS r,
         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS c
  FROM ev GROUP BY event_type, bin
),
grid AS (
  SELECT t.event_type, g.range AS bin
  FROM (SELECT DISTINCT event_type FROM ev) t, range({PSI_BINS}) g
),
filled AS (
  SELECT g.event_type, g.bin,
         coalesce(c.r, 0) AS r, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.bin = g.bin
),
tot AS (
  SELECT event_type, sum(r) AS n_ref, sum(c) AS n_cur
  FROM filled GROUP BY event_type
)
SELECT f.event_type,
       CAST(t.n_ref AS BIGINT) AS n_ref,
       CAST(t.n_cur AS BIGINT) AS n_cur,
       round(sum(
         ((f.c + 1) / (t.n_cur + {PSI_BINS})
          - (f.r + 1) / (t.n_ref + {PSI_BINS}))
         * ln(((f.c + 1) / (t.n_cur + {PSI_BINS}))
              / ((f.r + 1) / (t.n_ref + {PSI_BINS})))
       ), 6) + 0.0 AS psi
FROM filled f JOIN tot t ON t.event_type = f.event_type
GROUP BY f.event_type, t.n_ref, t.n_cur
"""


# ---- streaming PSI drift (round 11) ----
#
# The monitoring stack's STREAMING posture: the current-window value
# histogram accumulates from a real Structured Streaming job (file
# source -> complete-mode groupBy -> memory sink via AvailableNow —
# the same harness as every §2.9 lane), the reference histogram is
# the static batch side, and the PSI fold is identical to the batch
# lane's — so the ORACLE IS ORACLE_PSI, byte-for-byte: batch/stream
# parity of the drift monitor is itself the checked contract. In
# production the complete-mode histogram is the continuously-updated
# counts table a monitor reads each trigger; counts are exact
# integers regardless of microbatch slicing (streaming aggregation is
# slice-invariant for sums), which is why parity holds.


def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats_psi_drift with the current window computed by a real
    streaming job (stream-side histogram, static reference). Same
    output contract: (event_type, n_ref, n_cur, psi)."""
    from ..streaming.pipeline import read_table_stream, run_available_now

    def bin_col():
        return F.least(
            F.greatest(
                F.floor(
                    F.round(F.col("value") * 100, 0).cast("long")
                    / F.lit(PSI_BIN_CENTS)
                ),
                F.lit(0),
            ),
            F.lit(PSI_BINS - 1),
        ).cast("long").alias("bin")

    cutoff = F.lit(PSI_CUTOFF).cast("timestamp")
    cur = run_available_now(
        read_table_stream(spark, sf_dir, "events")
        .filter(F.col("ts") >= cutoff)
        .select("event_type", bin_col())
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c")),
        "psi_cur_hist",
        output_mode="complete",
    )
    ref = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts") < cutoff)
        .select("event_type", bin_col())
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    # identical fold to stats_psi_drift from here down (grid over the
    # types seen in EITHER window, add-one smoothing, 6dp round)
    types = (
        ref.select("event_type")
        .unionByName(cur.select("event_type"))
        .distinct()
    )
    grid = types.crossJoin(
        spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    )
    filled = (
        grid.join(ref, ["event_type", "bin"], "left")
        .join(cur, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("r", F.lit(0)).alias("r"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    tw = W.partitionBy("event_type")
    j = filled.withColumn("n_ref", F.sum("r").over(tw)).withColumn(
        "n_cur", F.sum("c").over(tw)
    )
    p = (F.col("r") + 1) / (F.col("n_ref") + PSI_BINS)
    q = (F.col("c") + 1) / (F.col("n_cur") + PSI_BINS)
    term = (q - p) * F.log(q / p)
    return (
        j.select("event_type", "n_ref", "n_cur", term.alias("term"))
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
        .select("event_type", "n_ref", "n_cur", "psi")
    )


# ---- streaming CUSUM control chart (round 12) ----
#
# The control-chart family's STREAMING posture (round-11 verdict item
# 3, the streaming_psi_drift pattern): the same one-sided upper CUSUM
# as ts_cusum_alarms, but folded incrementally by a per-user state
# machine (streaming/stateful.py:cusum_alarms_state — GroupState
# carries the window identity's sufficient statistics (P_t, min P_j)
# plus the last-seen order frontier). The ORACLE IS ORACLE_CUSUM,
# byte-for-byte: batch/stream parity of the alarm set is itself the
# checked contract. Parity holds because the fold is associative over
# time-ordered row blocks — each trigger resumes from the carried
# prefix state — and everything is int64, so both paths produce
# identical integers. Out-of-order delivery across triggers raises
# loudly instead of corrupting the recurrence (the lane's documented
# ordering contract; AvailableNow file batches satisfy it).


def streaming_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_cusum_alarms with the fold run as a streaming stateful
    operator (applyInPandasWithState, per-user int64 state). Same
    output contract: (event_id, user_id, cents, cusum)."""
    from ..streaming.pipeline import read_table_stream, run_available_now
    from ..streaming.stateful import cusum_alarms_state

    src = read_table_stream(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return run_available_now(
        cusum_alarms_state(src, ref=CUSUM_REF, h=CUSUM_H),
        "cusum_alarms",
        output_mode="update",
    )


# ---- watermark-bounded streaming CUSUM (round 13) ----
#
# The LATE-DATA posture of the control chart (round-12 verdict item
# 3): where streaming_cusum_alarms RAISES on out-of-order delivery
# across triggers (correct for the AvailableNow daily-landing
# pattern, fatal for a multi-source production feed with stragglers),
# this lane rides streaming/stateful.py:cusum_alarms_watermarked —
# rows buffer in per-key state until the event-time watermark passes
# them, the fold consumes only the SEALED prefix, and a row arriving
# behind the sealed frontier emits as a dead-letter instead of
# killing the job. Over a complete AvailableNow pass every row seals
# (the engine's final no-data batch fires the event-time timeouts),
# so the ORACLE IS ORACLE_CUSUM byte-for-byte — the batch lane stays
# the parity oracle for the sealed prefix, which here is everything.
# Buffering/dead-letter behavior under mid-stream disorder is pinned
# in tests/test_streaming_cusum_watermarked.py.


def streaming_cusum_watermarked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ts_cusum_alarms via the watermark-bounded streaming state
    machine. Same output contract: (event_id, user_id, cents,
    cusum)."""
    from ..streaming.pipeline import read_table_stream, run_available_now
    from ..streaming.stateful import cusum_alarms_watermarked

    src = read_table_stream(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    out = run_available_now(
        cusum_alarms_watermarked(
            src, ref=CUSUM_REF, h=CUSUM_H, delay="0 seconds"
        ),
        "cusum_wm_alarms",
        output_mode="update",
    )
    return out.filter(F.col("kind") == "alarm").select(
        "event_id", "user_id", "cents", "cusum"
    )


# ---- dead-letter census under deterministic disorder (round 14) ----
#
# Round-13 verdict item 3: the dead-letter branch of the watermarked
# state machine was unit-test-only — this lane gives the
# production-critical reconciliation path a HASH-CHECKED oracle by
# replaying the events table through a DETERMINISTICALLY DISORDERED
# two-pass feed and emitting the straggler census.
#
# The replay: event times are DAY-quantized, replay A (even ids,
# day + 500us) lands and seals in pass 1 (its AvailableNow run's
# final watermark = the max day's millisecond, so every A row seals
# through the final event-time timeout); replay B (odd ids, day +
# 200us) lands in pass 2 against the pass-1 checkpoint. The engine's
# late filter (probed round 13: rows with ts >= the restored
# watermark pass; the watermark is ms-granular) admits exactly the
# MAX-day B rows, and every one of them sits behind its user's sealed
# frontier (that user's max-day A row at +500us) — so the dead-letter
# set is, provably, ALL odd-replay rows of the max day: computable in
# SQL from the shift pattern alone, which is what makes the oracle
# exact. Day quantization is what makes the census NON-vacuous: the
# engine's late filter means only same-millisecond stragglers are
# reachable at all, and quantizing puts an entire day's events into
# that millisecond instead of whatever handful the raw fixture
# happens to have.
#
# The batch-parity contract of the ALARM branch is untouched (pass 1
# emits the replay's alarms; the lane returns only the census).


def streaming_cusum_dead_letters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Straggler census of the watermark-bounded CUSUM under a
    deterministic two-pass disordered replay. Returns (event_id,
    user_id, cents) of every dead-lettered row — provably the odd
    replay's max-day rows."""
    import tempfile

    from ..streaming.stateful import cusum_alarms_watermarked

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    a = ev.select(
        (F.col("event_id") * 2).alias("event_id"),
        "user_id",
        (F.col("d") + F.expr("INTERVAL '0.0005' SECOND")).alias("ts"),
        "cents",
    )
    b = ev.select(
        (F.col("event_id") * 2 + 1).alias("event_id"),
        "user_id",
        (F.col("d") + F.expr("INTERVAL '0.0002' SECOND")).alias("ts"),
        "cents",
    )
    feed = tempfile.mkdtemp(prefix="cusum_dl_feed_")
    ckpt = tempfile.mkdtemp(prefix="cusum_dl_ckpt_")
    rows: list = []

    def run_pass() -> None:
        # foreachBatch, not the memory sink: only foreachBatch
        # supports RESUMING from the pass-1 checkpoint, and the
        # resume is the whole point (the state carries the sealed
        # frontiers replay B must land behind)
        src = spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, cents long"
        ).parquet(feed)
        q = (
            cusum_alarms_watermarked(
                src, ref=CUSUM_REF, h=CUSUM_H, delay="0 seconds"
            )
            .writeStream.outputMode("update")
            # only the census crosses to the driver — the alarm branch
            # still computes (batch parity is its contract) but its
            # rows are dropped executor-side instead of collected and
            # discarded (r14; guide §5 driver does no data work)
            .foreachBatch(
                lambda df, _eid: rows.extend(
                    df.filter(F.col("kind") == "dead_letter").collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    a.coalesce(1).write.mode("append").parquet(feed)
    run_pass()
    b.coalesce(1).write.mode("append").parquet(feed)
    run_pass()
    dead = [(r.event_id, r.user_id, r.cents) for r in rows]
    return spark.createDataFrame(
        dead, "event_id long, user_id long, cents long"
    )


ORACLE_CUSUM_DEAD_LETTERS = """
WITH e AS (
  SELECT event_id, user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         date_trunc('day', ts) AS d
  FROM events
),
mx AS (SELECT max(d) AS md FROM e)
SELECT e.event_id * 2 + 1 AS event_id, e.user_id, e.cents
FROM e, mx
WHERE e.d = mx.md
"""


# ---- quantile-binned PSI drift contract (round 11) ----
#
# Monitoring practice bins PSI by REFERENCE-window quantiles (equal
# expected mass per bin), not fixed equal-width cells — the decile
# convention of the credit-scoring literature. Quantile edges come
# from percentile_approx (one GK partial-agg pass, the warehouse
# posture); sketch VALUES are partition-order dependent, so like the
# MAD/CM/HLL lanes this emits the DETERMINISTIC contract instead of
# the edges themselves:
#
# - edges_rank_ok: every decile edge is an actual ref-window element
#   whose rank interval [lt+1, le] intersects target ± ceil(n/acc)+1 —
#   the Greenwald–Khanna worst-case theorem, true for ANY partitioning
#   (the stats_mad_approx_contract protocol, 9 deciles at once);
# - edges_sorted_ok: deciles from ONE sketch are monotone (query
#   targets increase over the same sorted sample sequence);
# - psi_nonneg: with add-one smoothing, every PSI term (q-p)*ln(q/p)
#   has both factors the same sign, and IEEE round-to-nearest cannot
#   push q/p across 1.0 against the sign of q-p — so the sum is >= 0
#   for ANY edge vector, hard-TRUE by theorem, not by fixture.
#
# n_ref/n_cur anchor deterministic values alongside the booleans.
# Types with zero reference rows have no quantiles to fit and are
# excluded on both engines (HAVING n_ref >= 1).
PSIQ_ACC = 100
PSIQ_DECILES = 9  # edges at 0.1 .. 0.9 -> 10 equal-mass bins


def stats_psi_quantile_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pcts = [(i + 1) / 10 for i in range(PSIQ_DECILES)]
    nbins = PSIQ_DECILES + 1
    # ev feeds SIX consumers (edge fit, rank-envelope probe, both-
    # window binning, plus their count branches) — without a reuse
    # boundary the events scan + projection runs once per branch
    # (plan: 6 parquet scans). Lazy localCheckpoint of the narrow
    # (type, cents, is_ref) frame: one scan, five block reads (guide
    # §8; interleaved A/B at sf0.1: med 1.82 -> 1.45 s, outputs
    # identical — the contract booleans are partitioning-robust and
    # the emitted counts are exact).
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.col("ts") < F.lit(PSI_CUTOFF).cast("timestamp")).alias("is_ref"),
    ).transform(cut_lineage)
    ref = ev.filter(F.col("is_ref"))
    edges = ref.groupBy("event_type").agg(
        F.percentile_approx(
            "cents",
            F.array(*[F.lit(p) for p in pcts]),
            F.lit(PSIQ_ACC),
        ).alias("edges"),
        F.count(F.lit(1)).alias("n_ref"),
    )
    # GK rank envelope per decile: one conditional-sum pass over the
    # ref window joined to its (broadcast, tiny) edge vector
    ranked = ref.join(F.broadcast(edges), "event_type")
    stats = ranked.groupBy("event_type", "n_ref").agg(
        *[
            F.sum((F.col("cents") <= F.col("edges")[i]).cast("long")).alias(
                f"le{i}"
            )
            for i in range(PSIQ_DECILES)
        ],
        *[
            F.sum((F.col("cents") < F.col("edges")[i]).cast("long")).alias(
                f"lt{i}"
            )
            for i in range(PSIQ_DECILES)
        ],
    )
    tol = F.ceil(F.col("n_ref") / PSIQ_ACC) + 1
    rank_ok = None
    for i in range(PSIQ_DECILES):
        target = F.ceil(F.col("n_ref") * F.lit(i + 1) / 10)
        ok = (
            (F.col(f"le{i}") >= target - tol)
            & (F.col(f"lt{i}") + 1 <= target + tol)
            & (F.col(f"le{i}") > F.col(f"lt{i}"))
        )
        rank_ok = ok if rank_ok is None else rank_ok & ok
    contract = stats.select("event_type", rank_ok.alias("edges_rank_ok"))
    sorted_ok = edges.select(
        "event_type",
        (F.col("edges") == F.array_sort("edges")).alias("edges_sorted_ok"),
    )
    # searchsorted binning: bin = #edges strictly below the value
    # (0..9); both windows binned by the SAME ref-fitted edges
    binned = ev.join(
        F.broadcast(edges.select("event_type", "edges")), "event_type"
    ).select(
        "event_type",
        F.expr("size(filter(edges, e -> e < cents))").cast("long").alias(
            "bin"
        ),
        "is_ref",
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("r"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("c"),
    )
    grid = edges.select("event_type").crossJoin(
        spark.range(nbins).select(F.col("id").alias("bin"))
    )
    filled = grid.join(counts, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("r", F.lit(0)).alias("r"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    tw = W.partitionBy("event_type")
    j = filled.withColumn("nr", F.sum("r").over(tw)).withColumn(
        "nc", F.sum("c").over(tw)
    )
    p = (F.col("r") + 1) / (F.col("nr") + nbins)
    q = (F.col("c") + 1) / (F.col("nc") + nbins)
    term = (q - p) * F.log(q / p)
    psi = (
        j.select("event_type", F.col("nc").alias("n_cur"), term.alias("term"))
        .groupBy("event_type", "n_cur")
        .agg((F.sum("term") >= 0).alias("psi_nonneg"))
    )
    return (
        edges.select("event_type", "n_ref")
        .join(contract, "event_type")
        .join(sorted_ok, "event_type")
        .join(psi, "event_type")
        .select(
            "event_type", "n_ref", "n_cur",
            "edges_rank_ok", "edges_sorted_ok", "psi_nonneg",
        )
    )


ORACLE_PSI_QUANTILE = f"""
WITH ev AS (
  SELECT event_type, ts < TIMESTAMP '{PSI_CUTOFF}' AS is_ref FROM events
),
tot AS (
  SELECT event_type,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_cur
  FROM ev GROUP BY event_type
  HAVING sum(CASE WHEN is_ref THEN 1 ELSE 0 END) >= 1
)
SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       TRUE AS edges_rank_ok, TRUE AS edges_sorted_ok,
       TRUE AS psi_nonneg
FROM tot
"""


# ---- EWMA control-chart spikes (round 11) ----
#
# The monitoring USE of the dyadic EWMA (Hunter 1986's actual
# application — the EWMA control chart): an event is a SPIKE when its
# value deviates from the forecast (the previous row's EWMA) by more
# than a fixed control limit. Everything stays bit-exact without a
# contract: the EWMA is an exact dyadic rational (operators/
# smoothing.py), cents are integers <= ~2^23, so the deviation
# cents - ewma_prev needs <= 31 bits + 8 fraction bits — exactly
# representable — and the > comparison against an integer limit is a
# decision on identical doubles. First event per series has no
# forecast and is never a spike.
#
# Scale shape: the same ONE window exchange as ts_ewma_dyadic (the
# lag rides the identical (user, ts, event) ordering), then a map-side
# filter. Limit = 15000 cents keeps the declared result the ~2-3%
# tail at every SF (probed: p99 |dev| ~ 18.3k/18.7k/19.0k).
EWMA_SPIKE_LIMIT = 15000


def ts_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control-chart spikes per user (operators/smoothing.py:
    ewma_dyadic + lag): events whose cent value deviates from the
    previous EWMA forecast by more than {EWMA_SPIKE_LIMIT}. Returns
    (event_id, user_id, cents, ewma_prev, dev)."""
    from ..operators.smoothing import ewma_dyadic

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    sm = ewma_dyadic(
        ev, "user_id", ["ts", "event_id"], "cents", window=EWMA_WINDOW
    )
    lw = W.partitionBy("user_id").orderBy("ts", "event_id")
    out = sm.withColumn("ewma_prev", F.lag("ewma").over(lw))
    dev = F.col("cents") - F.col("ewma_prev")
    return (
        out.filter(
            F.col("ewma_prev").isNotNull()
            & (F.abs(dev) > EWMA_SPIKE_LIMIT)
        )
        .select(
            "event_id", "user_id", "cents",
            (F.col("ewma_prev") + F.lit(0.0)).alias("ewma_prev"),
            (dev + F.lit(0.0)).alias("dev"),
        )
    )


def _ewma_spike_oracle() -> str:
    from ..operators.smoothing import ewma_dyadic_sql

    expr = ewma_dyadic_sql("cents", "user_id", "ts, event_id", EWMA_WINDOW)
    return f"""
WITH ev AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
w AS (SELECT *, {expr} AS ewma FROM ev),
l AS (
  SELECT *, lag(ewma) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS ewma_prev
  FROM w
)
SELECT event_id, user_id, cents, ewma_prev + 0.0 AS ewma_prev,
       (cents - ewma_prev) + 0.0 AS dev
FROM l
WHERE ewma_prev IS NOT NULL
  AND abs(cents - ewma_prev) > {EWMA_SPIKE_LIMIT}
"""


ORACLE_EWMA_SPIKES = _ewma_spike_oracle()


# ---- CUSUM control chart (round 11) ----
#
# Page 1954 ("Continuous inspection schemes", Biometrika) — the
# change-point detector next to the EWMA chart in every monitoring
# stack: S_t = max(0, S_{t-1} + (x_t - target - slack)), alarm when
# S_t > h. The recurrence looks sequential (the one shape a
# shared-nothing engine can't fuse), but it has an EXACT window form:
#
#     S_t = P_t - min(0, min_{j<=t} P_j),   P = running sum of y
#
# (induction: max(0, P_{t-1} - m_{t-1} + y_t) = P_t - min(0, m_{t-1},
# P_t) — the dyadic-EWMA move, applied to max-recursion instead of a
# truncated tail, and this time with NO truncation: the rewrite is
# exact for the full history). Everything is int64 (cents minus an
# integer reference), so both engines produce identical integers —
# hash-exact, no contract, no rounding.
#
# Scale shape: ONE exchange + one sort on the series key; the two
# running aggregates (sum, then min-of-sum) share the same window
# spec, then a map-side filter. No UDF, no iteration, no state.
CUSUM_REF = 6000  # target + slack, cents (mean cents ~5005; probed)
CUSUM_H = 30000  # alarm threshold (non-empty at all three SFs)


def ts_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM alarms per user over event values.
    Returns (event_id, user_id, cents, cusum) for events where the
    cumulative exceedance crosses {CUSUM_H}."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = ev.withColumn(
        "pt", F.sum(F.col("cents") - CUSUM_REF).over(w)
    )
    s = p.withColumn(
        "cusum",
        F.col("pt") - F.least(F.lit(0), F.min("pt").over(w)),
    )
    return s.filter(F.col("cusum") > CUSUM_H).select(
        "event_id", "user_id", "cents", "cusum"
    )


ORACLE_CUSUM = f"""
WITH ev AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
p AS (
  SELECT event_id, user_id, ts, cents,
         sum(cents - {CUSUM_REF}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS pt
  FROM ev
),
s AS (
  SELECT event_id, user_id, cents, pt,
         min(pt) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS mp
  FROM p
)
SELECT event_id, user_id, cents,
       CAST(pt - least(0, mp) AS BIGINT) AS cusum
FROM s
WHERE pt - least(0, mp) > {CUSUM_H}
"""


# ---- grouped OLS trend (round 11) ----
#
# Per-group least-squares trend fit — the "is spend drifting up?"
# analytics primitive — via SUFFICIENT STATISTICS, the only shape that
# distributes: ONE partial-agg pass collects (n, Sx, Sy, Sxx, Sxy).
# The moment PRODUCTS are summed as DECIMAL(38,0) on Spark / HUGEINT
# on DuckDB (x = epoch days <= ~2*10^4, y = cents <= ~6*10^7, so a
# single product is ~7*10^11 — an int64 sum silently wraps past
# ~10^7 rows per group with ANSI off, while the decimal sum is exact
# to 10^38 and NULLs loudly beyond; round-12 ADVICE fix).
# The closed form slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) multiplies
# the moments as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — EXACT
# integers ~10^21 on both engines — then converts numerator and
# denominator to double (round-to-nearest of the same integer =
# identical bits) for ONE division. intercept = (Sy - slope*Sx)/n is
# two more fixed-order IEEE ops on identical doubles. Bit-identical,
# no rounding contract.


def stats_group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order-priority OLS trend of order value (cents) over order
    date (epoch days). Returns (prio, n, slope, intercept)."""
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    d = "decimal(38,0)"
    # moment products as decimal BEFORE the sum: each x*y fits int64,
    # but the per-group SUM does not past ~SF1-10 — decimal keeps the
    # sufficient statistics exact (= DuckDB's HUGEINT sum). Operands
    # at (18,0) so the product type (37,0) stays under Spark's
    # 38-precision cap with NO precision-loss rule engaged.
    dx = F.col("x").cast("decimal(18,0)")
    dy = F.col("y").cast("decimal(18,0)")
    m = base.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dx * dy).alias("sxy"),
    )
    num = (
        F.col("n").cast(d) * F.col("sxy").cast(d)
        - F.col("sx").cast(d) * F.col("sy").cast(d)
    )
    den = (
        F.col("n").cast(d) * F.col("sxx").cast(d)
        - F.col("sx").cast(d) * F.col("sx").cast(d)
    )
    slope = num.cast("double") / den.cast("double")
    out = m.select(
        "prio", "n", slope.alias("slope"), "sy", "sx"
    )
    intercept = (
        F.col("sy") - F.col("slope") * F.col("sx")
    ) / F.col("n")
    return out.select(
        "prio", "n",
        (F.col("slope") + F.lit(0.0)).alias("slope"),
        (intercept + F.lit(0.0)).alias("intercept"),
    )


ORACLE_OLS = """
WITH base AS (
  SELECT o_orderpriority AS prio,
         CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS x,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
  FROM orders
),
m AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM base GROUP BY prio
),
s AS (
  SELECT prio, n, sx, sy,
         CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
              AS DOUBLE)
         / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                AS DOUBLE) AS slope
  FROM m
)
SELECT prio, n, slope + 0.0 AS slope,
       ((sy - slope * sx) / n) + 0.0 AS intercept
FROM s
"""


# ---- OLS residual outliers (round 11) ----
#
# The SCORING half of the grouped-OLS pair — the production
# fit-then-score split: the 5-row model (bit-identical slope/
# intercept, see stats_group_ols_trend) broadcasts back onto the fact
# rows and each order scores its residual against the group trend.
# resid = y - (slope*x + intercept) is a fixed-order IEEE chain over
# bit-identical inputs, so the flagged set is exact on both engines
# with no rounding contract (the EWMA-spike argument, doubles
# identical rather than dyadic).
#
# Scale shape: ONE fact scan for the fit (partial agg to 5 rows) and
# one for the scoring join — the model side is broadcast, so scoring
# is map-side.
OLS_RESID_LIMIT = 24_500_000  # cents (~p99 of |resid|, probed at 3 SFs)


def stats_ols_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose value deviates from their priority group's OLS
    trend by more than {OLS_RESID_LIMIT} cents. Returns (o_orderkey,
    prio, x, y, resid)."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    model = stats_group_ols_trend(spark, sf_dir).select(
        "prio", "slope", "intercept"
    )
    resid = F.col("y") - (
        F.col("slope") * F.col("x") + F.col("intercept")
    )
    return (
        base.join(F.broadcast(model), "prio")
        .withColumn("resid", resid + F.lit(0.0))
        .filter(F.abs(F.col("resid")) > OLS_RESID_LIMIT)
        .select("o_orderkey", "prio", "x", "y", "resid")
    )


ORACLE_OLS_OUTLIERS = f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS prio,
         CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS x,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
  FROM orders
),
m AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM base GROUP BY prio
),
s AS (
  SELECT prio, n, sx, sy,
         CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
              AS DOUBLE)
         / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                AS DOUBLE) AS slope
  FROM m
),
s2 AS (SELECT prio, slope, (sy - slope * sx) / n AS intercept FROM s)
SELECT b.o_orderkey, b.prio, b.x, b.y,
       (b.y - (s2.slope * b.x + s2.intercept)) + 0.0 AS resid
FROM base b JOIN s2 ON s2.prio = b.prio
WHERE abs(b.y - (s2.slope * b.x + s2.intercept)) > {OLS_RESID_LIMIT}
"""


# ---- Kolmogorov-Smirnov drift (round 11) ----
#
# The nonparametric complement of PSI (Massey 1951, JASA — the
# two-sample KS test every feature-monitoring stack ships next to
# PSI): D = max over the pooled support of |ECDF_ref - ECDF_cur|,
# computed EXACTLY — no bins, no smoothing, no sketch. Cross-engine
# exactness needs no rounding contract: each ECDF value is one
# int64/int64 IEEE division (identical bits), the difference and abs
# are single operations on identical doubles, and MAX is
# order-independent — so D is bit-identical by construction (the
# ordered-sum hazard that forces PSI's 6dp grid never arises).
#
# Scale shape: one partial-agg shuffle on (type, value) collapses the
# events to the distinct support (bounded by the value domain, not the
# row count), ONE window exchange on type builds both cumulative
# counts and both totals, and a per-type max folds it down. Types with
# an empty window have no ECDF to compare and drop on both engines.


def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the pre- and
    post-{PSI_CUTOFF} event-value distributions, per event type.
    Returns (event_type, n_ref, n_cur, ks_stat) — ks_stat bit-identical
    across engines (see section comment)."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.col("ts") < F.lit(PSI_CUTOFF).cast("timestamp")).alias("is_ref"),
    )
    counts = ev.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("r"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("c"),
    )
    cw = W.partitionBy("event_type").orderBy("cents")
    tw = W.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        F.sum("r").over(cw).alias("cr"),
        F.sum("c").over(cw).alias("cc"),
        F.sum("r").over(tw).alias("n_ref"),
        F.sum("c").over(tw).alias("n_cur"),
    )
    d = F.abs(
        F.col("cr") / F.col("n_ref") - F.col("cc") / F.col("n_cur")
    )
    return (
        cum.filter((F.col("n_ref") >= 1) & (F.col("n_cur") >= 1))
        .groupBy("event_type", "n_ref", "n_cur")
        .agg((F.max(d) + F.lit(0.0)).alias("ks_stat"))
    )


ORACLE_KS = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents,
         ts < TIMESTAMP '{PSI_CUTOFF}' AS is_ref
  FROM events
),
cnt AS (
  SELECT event_type, cents,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS r,
         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS c
  FROM ev GROUP BY event_type, cents
),
cum AS (
  SELECT event_type,
         CAST(sum(r) OVER (PARTITION BY event_type ORDER BY cents)
              AS BIGINT) AS cr,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents)
              AS BIGINT) AS cc,
         CAST(sum(r) OVER (PARTITION BY event_type) AS BIGINT) AS n_ref,
         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n_cur
  FROM cnt
)
SELECT event_type, n_ref, n_cur,
       max(abs(cr / n_ref - cc / n_cur)) + 0.0 AS ks_stat
FROM cum
WHERE n_ref >= 1 AND n_cur >= 1
GROUP BY event_type, n_ref, n_cur
"""


# ---- Deequ-style expectation suite (round 11) ----
#
# Constraint VALIDATION on top of the profiling metrics — the Deequ
# Check / Great-Expectations expectation suite a lake gates every
# landed batch on: uniqueness, referential integrity, range, domain
# membership, completeness. Each check emits its violation COUNT (the
# actionable number), not just a boolean. All integers — hash-exact.
#
# Scale shape (plan-pinned in tests): ONE scan of each fact table.
# Every orders-side check INCLUDING the FK rides a single aggregation
# over orders LEFT JOIN the distinct parent keys (uniqueness = count
# vs count_distinct in the same agg; FK violation = parent key null);
# lineitem likewise (range + FK in one agg over a left join against
# distinct orderkeys). The one-row aggregates then UNPIVOT map-side
# (stack) into check rows — no per-check re-scan, no collect. Parent
# key sets are DISTINCT'd before the join so a duplicate parent key
# (itself a violation the suite reports) cannot multiply child rows
# and skew the child-side counts.
DQ_STATUS_DOMAIN = ("O", "F", "P")


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over orders/lineitem/customer.
    Returns (check_name, n_checked, n_violations, passed) — one row
    per check."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    customer = t(spark, sf_dir, "customer")

    cust_keys = customer.select("c_custkey").distinct()
    oj = orders.join(
        cust_keys, orders["o_custkey"] == cust_keys["c_custkey"], "left"
    )
    o = oj.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.count(F.lit(1)) - F.count_distinct("o_orderkey")
        ).alias("dup_keys"),
        F.sum(
            F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
        ).alias("bad_price"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin(*DQ_STATUS_DOMAIN), 1
            ).otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)
        ).alias("null_date"),
        F.sum(
            F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
        ).alias("fk_viol"),
    )
    ostack = o.select(
        F.col("n"),
        F.stack(
            F.lit(5),
            F.lit("orderkey_unique"), F.col("dup_keys"),
            F.lit("totalprice_positive"), F.col("bad_price"),
            F.lit("orderstatus_domain"), F.col("bad_status"),
            F.lit("orderdate_complete"), F.col("null_date"),
            F.lit("orders_custkey_fk"), F.col("fk_viol"),
        ).alias("check_name", "n_violations"),
    ).select("check_name", F.col("n").alias("n_checked"), "n_violations")

    order_keys = orders.select("o_orderkey").distinct()
    lj = lineitem.join(
        order_keys, lineitem["l_orderkey"] == order_keys["o_orderkey"],
        "left",
    )
    li = lj.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
        ).alias("fk_viol"),
    )
    lstack = li.select(
        F.col("n"),
        F.stack(
            F.lit(2),
            F.lit("lineitem_orderkey_fk"), F.col("fk_viol"),
            F.lit("quantity_in_range"), F.col("bad_qty"),
        ).alias("check_name", "n_violations"),
    ).select("check_name", F.col("n").alias("n_checked"), "n_violations")

    return ostack.unionByName(lstack).select(
        "check_name",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


_DQ_STATUS_SQL = ", ".join(f"'{s}'" for s in DQ_STATUS_DOMAIN)
ORACLE_DQ = f"""
WITH checks AS (
  SELECT 'orderkey_unique' AS check_name,
         count(*) AS n_checked,
         count(*) - count(DISTINCT o_orderkey) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'totalprice_positive', count(*),
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
  FROM orders
  UNION ALL
  SELECT 'orderstatus_domain', count(*),
         sum(CASE WHEN o_orderstatus NOT IN ({_DQ_STATUS_SQL})
                  THEN 1 ELSE 0 END)
  FROM orders
  UNION ALL
  SELECT 'orderdate_complete', count(*),
         sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
  FROM orders
  UNION ALL
  SELECT 'orders_custkey_fk', count(*),
         sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON c.c_custkey = o.o_custkey
  UNION ALL
  SELECT 'lineitem_orderkey_fk', count(*),
         sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON o.o_orderkey = l.l_orderkey
  UNION ALL
  SELECT 'quantity_in_range', count(*),
         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
  FROM lineitem
)
SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM checks
"""


# ---- Deequ-style metric anomaly detection (round 12) ----
#
# The second half of Deequ (Schelter et al., VLDB 2018 §3.3 anomaly
# detection): where dq_expectations gates on STATIC constraints, this
# gates on metric DRIFT across ingest batches — today's row count vs
# yesterday's beyond a relative-rate-of-change band (Deequ's
# RelativeRateOfChangeStrategy). The fixture's arrival epochs are the
# order months (the reference lands one batch per Airflow day,
# raw_dag.py:42; a deployment persists each run's metric row via the
# medallion epoch-commit seam and this lane reads that history —
# months stand in for that history here so the lane is fully
# oracle-checkable from the static tables).
#
# Metrics per epoch: row count, value sum (cents), distinct customer
# count — Deequ's Size/Sum/ApproxCountDistinct triple, exact here.
# The band check cross-MULTIPLIES integers (value*100 vs prev*pct)
# instead of dividing, so the gate is integer-exact on both engines —
# with the products widened to decimal(22,0)/HUGEINT (round-13: a
# sum_cents epoch metric is ~2e16 at SF100k; int64*167 wraps within
# 2 orders of magnitude of that);
# the first epoch has no predecessor and never alarms (Deequ
# semantics). Output carries every (epoch, metric) with its flag so
# the lane is non-vacuous at every SF.
#
# Scale shape: ONE scan of orders -> one partial agg on the month key
# (epoch cardinality, ~84) -> map-side stack to long format -> one
# window exchange on the tiny metric keyspace. All integers + bool.
DQM_MIN_PCT = 60  # alarm if value < 60% of previous epoch
DQM_MAX_PCT = 167  # or > 167% (the reciprocal band)


def dq_metric_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ anomaly detection over the per-epoch metric history.
    Returns (epoch, metric, value, prev_value, anomalous) for every
    order month and metric in {n_rows, sum_cents, n_customers}."""
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("epoch"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("sum_cents"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )
    hist = m.select(
        "epoch",
        F.expr(
            "stack(3, 'n_rows', n_rows, 'sum_cents', sum_cents,"
            " 'n_customers', n_customers) AS (metric, value)"
        ),
    )
    w = W.partitionBy("metric").orderBy("epoch")
    out = hist.withColumn("prev_value", F.lag("value").over(w))
    # band products widen to decimal (DuckDB: HUGEINT) before the
    # compare — a sum_cents epoch metric at TPC-H SF100k is ~2e16, so
    # value*167 as int64 is within 100x of wrapping (round-13 audit;
    # the mining-lift overflow class)
    v = F.col("value").cast("decimal(19,0)")
    pv = F.col("prev_value").cast("decimal(19,0)")
    anomalous = F.col("prev_value").isNotNull() & (
        (v * 100 > pv * DQM_MAX_PCT) | (v * 100 < pv * DQM_MIN_PCT)
    )
    return out.select(
        "epoch", "metric", "value", "prev_value",
        anomalous.alias("anomalous"),
    )


ORACLE_DQ_ANOMALIES = f"""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS epoch,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS sum_cents,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders GROUP BY 1
),
hist AS (
  SELECT epoch, 'n_rows' AS metric, n_rows AS value FROM m
  UNION ALL
  SELECT epoch, 'sum_cents', sum_cents FROM m
  UNION ALL
  SELECT epoch, 'n_customers', n_customers FROM m
),
l AS (
  SELECT epoch, metric, value,
         lag(value) OVER (PARTITION BY metric ORDER BY epoch)
           AS prev_value
  FROM hist
)
SELECT epoch, metric, value, prev_value,
       prev_value IS NOT NULL AND (
         CAST(value AS HUGEINT) * 100
           > CAST(prev_value AS HUGEINT) * {DQM_MAX_PCT}
         OR CAST(value AS HUGEINT) * 100
           < CAST(prev_value AS HUGEINT) * {DQM_MIN_PCT}
       ) AS anomalous
FROM l
"""


# ---- k-anonymity census (round 11) ----
#
# The privacy gate next to the DQ expectation suite (Sweeney 2002,
# "k-anonymity: a model for protecting privacy", IJUFKS — the
# data-release standard): a row is re-identifiable when its
# quasi-identifier combination is shared by fewer than k records.
# Census over (nation, market segment, $1000 balance band) — the
# released-attribute shape — with every combination's group size and
# its at-risk flag. All integers + one boolean: hash-exact.
#
# The balance band uses explicit floor(cents / width) on BOTH engines:
# Spark's integer `div` TRUNCATES toward zero while DuckDB's `//`
# FLOORS, so negative balances would land in different bands — the
# one semantic trap in this lane, made explicit instead of implicit.
#
# Scale shape: one partial-agg shuffle on the QI key; the census is
# bounded by the QI domain, not the row count.
KANON_K = 5
KANON_BAND_CENTS = 100000  # $1000 bands


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census of customer quasi-identifiers. Returns
    (nation, segment, bal_band, n, at_risk) for every observed
    combination; at_risk = group smaller than {KANON_K}."""
    qi = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(
            F.round(F.col("c_acctbal") * 100, 0).cast("long")
            / F.lit(KANON_BAND_CENTS)
        ).cast("long").alias("bal_band"),
    )
    return (
        qi.groupBy("nation", "segment", "bal_band")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "nation", "segment", "bal_band", "n",
            (F.col("n") < KANON_K).alias("at_risk"),
        )
    )


ORACLE_KANON = f"""
WITH qi AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                    / {KANON_BAND_CENTS}) AS BIGINT) AS bal_band
  FROM customer
)
SELECT nation, segment, bal_band, count(*) AS n,
       count(*) < {KANON_K} AS at_risk
FROM qi GROUP BY nation, segment, bal_band
"""


# l-diversity (Machanavajjhala 2007, TKDD): k-anonymity's companion —
# a group can be large yet still leak if every member shares the same
# SENSITIVE value. QI = (nation, balance band); sensitive = market
# segment; a group is diverse when it carries >= L distinct segments.
KANON_L = 2


def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census over (nation, bal_band) with segment as the
    sensitive attribute. Returns (nation, bal_band, n, n_sensitive,
    diverse)."""
    qi = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.floor(
            F.round(F.col("c_acctbal") * 100, 0).cast("long")
            / F.lit(KANON_BAND_CENTS)
        ).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        qi.groupBy("nation", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("segment").alias("n_sensitive"),
        )
        .select(
            "nation", "bal_band", "n", "n_sensitive",
            (F.col("n_sensitive") >= KANON_L).alias("diverse"),
        )
    )


ORACLE_LDIV = f"""
WITH qi AS (
  SELECT c_nationkey AS nation,
         CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                    / {KANON_BAND_CENTS}) AS BIGINT) AS bal_band,
         c_mktsegment AS segment
  FROM customer
)
SELECT nation, bal_band, count(*) AS n,
       count(DISTINCT segment) AS n_sensitive,
       count(DISTINCT segment) >= {KANON_L} AS diverse
FROM qi GROUP BY nation, bal_band
"""


# ---- column profiling (round 10) ----
#
# Deequ / Great-Expectations-style data-quality profiling: one pass
# over a table yielding per-column completeness and cardinality — the
# pre-ingest QA sweep a 100 TB lake runs on every landed batch. The
# melt (stack) is a map-side 6x row expansion of STRING CARRIERS
# (injective casts — two distinct source values never collide, so the
# per-engine distinct COUNT is engine-independent even though the
# renderings differ); the contract is all-BIGINT, immune to float/
# timestamp formatting divergence by construction. At warehouse scale
# the exact count(distinct) swaps for approx_count_distinct per the
# q16/HLL posture.
PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the orders table: row count, null count,
    exact distinct count. Returns (col_name, n_rows, n_null,
    n_distinct) — one row per profiled column, all BIGINT."""
    pairs = ", ".join(
        f"'{c}', cast({c} as string)" for c in PROFILE_COLS
    )
    stacked = t(spark, sf_dir, "orders").select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {pairs}) as (col_name, val)"
        )
    )
    return stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).alias("n_null"),
        F.countDistinct("val").alias("n_distinct"),
    )


ORACLE_PROFILE = (
    "SELECT col_name, count(*) AS n_rows,\n"
    "       CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_null,\n"
    "       count(DISTINCT val) AS n_distinct\n"
    "FROM (\n"
    + "\nUNION ALL\n".join(
        f"  SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val FROM orders"
        for c in PROFILE_COLS
    )
    + "\n)\nGROUP BY col_name"
)


# ---- numeric column profiling + HLL posture (round 11) ----
#
# The two extensions the round-10 profile documented but didn't ship
# (round-10 verdict item 4), both over the SAME one-stacked-pass shape
# (operators/profile.py):
#
# - stats_profile_numeric: Deequ-parity min/max/sum/mean per numeric
#   column on exact BIGINT carriers (cents for money, epoch-days for
#   dates) — min/max/sum exact int64, mean one IEEE division of
#   identical integers, so the whole row is hash-exact with no
#   rounding contract;
# - stats_profile_hll_contract: the warehouse-scale cardinality
#   posture — approx_count_distinct (HLL++) per column, gated by the
#   5-sigma relative-error contract (the stats_hll_distinct_contract
#   protocol) because sketch values are partition-order dependent.
PROFILE_NUM_CARRIERS = {
    "o_orderkey": "o_orderkey",
    "o_custkey": "o_custkey",
    "o_totalprice_cents": "CAST(round(o_totalprice * 100, 0) AS BIGINT)",
    "o_orderdate_days": "date_diff('day', DATE '1970-01-01', o_orderdate)",
}
PROFILE_HLL_RSD = 0.02
PROFILE_HLL_BOUND = 0.10  # 5 sigma at rsd = 0.02


def stats_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric per-column profile of orders (operators/profile.py:
    profile_numeric): (col_name, n_rows, n_null, min_v, max_v, sum_v,
    mean_v) on exact BIGINT carriers."""
    from ..operators.profile import profile_numeric

    carriers = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_totalprice_cents": F.round(F.col("o_totalprice") * 100, 0).cast(
            "long"
        ),
        "o_orderdate_days": F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
        ),
    }
    return profile_numeric(t(spark, sf_dir, "orders"), carriers)


ORACLE_PROFILE_NUMERIC = (
    "SELECT col_name, count(*) AS n_rows,\n"
    "       CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_null,\n"
    "       CAST(min(val) AS BIGINT) AS min_v,\n"
    "       CAST(max(val) AS BIGINT) AS max_v,\n"
    "       CAST(sum(val) AS BIGINT) AS sum_v,\n"
    "       CAST(sum(val) AS BIGINT) / CAST(count(val) AS BIGINT)"
    " AS mean_v\n"
    "FROM (\n"
    + "\nUNION ALL\n".join(
        f"  SELECT '{name}' AS col_name, CAST({expr} AS BIGINT) AS val"
        " FROM orders"
        for name, expr in PROFILE_NUM_CARRIERS.items()
    )
    + "\n)\nGROUP BY col_name"
)


def stats_profile_hll_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cardinality profile at the warehouse posture: HLL++ estimate
    per column (approx_count_distinct with rsd={PROFILE_HLL_RSD}) must
    land within {PROFILE_HLL_BOUND} relative of the exact distinct
    count. Returns (col_name, exact_distinct, within_bound)."""
    from ..operators.profile import stack_carriers

    orders = t(spark, sf_dir, "orders")
    carriers = {c: F.col(c).cast("string") for c in PROFILE_COLS}
    # exact and estimate run as SEPARATE aggregations joined on the
    # tiny col_name key (r14): in one shared agg, Catalyst's distinct
    # rewrite keys the partial HLL agg on (col_name, val, gid) — one
    # HLL register buffer per DISTINCT VALUE, the same Expand trap
    # measured at 21x on agg_approx_distinct. Two map-side stacked
    # scans of orders cost far less than a sketch per distinct value.
    stacked = stack_carriers(orders, carriers, "string")
    exact = stacked.groupBy("col_name").agg(
        F.count_distinct("val").alias("exact_distinct")
    )
    approx = stacked.groupBy("col_name").agg(
        F.approx_count_distinct("val", PROFILE_HLL_RSD).alias("est")
    )
    both = exact.join(approx, "col_name")
    return both.select(
        "col_name",
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= F.lit(PROFILE_HLL_BOUND) * F.col("exact_distinct")
        ).alias("within_bound"),
    )


ORACLE_PROFILE_HLL = (
    "SELECT col_name, count(DISTINCT val) AS exact_distinct,"
    " TRUE AS within_bound\nFROM (\n"
    + "\nUNION ALL\n".join(
        f"  SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val FROM orders"
        for c in PROFILE_COLS
    )
    + "\n)\nGROUP BY col_name"
)
