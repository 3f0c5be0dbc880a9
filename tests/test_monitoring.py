"""Round-11 monitoring lanes: exact KS drift (stats_ks_drift) against
an independent numpy ECDF computation, and the Deequ-style expectation
suite (dq_expectations) on both the clean fixture and a planted-
violation corpus."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.queries.lanes_monitoring import PSI_CUTOFF
from spotify_etl_aws_spark.queries.selection import (
    dq_expectations,
    stats_ks_drift,
)
from spotify_etl_aws_spark.sources.readers import load_table


def test_ks_matches_numpy_ecdf(spark, sf_dir):
    """ks_stat equals the brute-force two-sample KS computed in numpy
    over the same cent values (evaluated on the pooled support — the
    same convention), per event type."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.col("ts") < F.lit(PSI_CUTOFF).cast("timestamp")).alias("is_ref"),
    ).collect()
    got = {r.event_type: r for r in stats_ks_drift(spark, sf_dir).collect()}
    types = sorted({r.event_type for r in ev})
    assert set(got) == set(types)
    for typ in types:
        ref = np.sort([r.cents for r in ev if r.event_type == typ and r.is_ref])
        cur = np.sort(
            [r.cents for r in ev if r.event_type == typ and not r.is_ref]
        )
        support = np.unique(np.concatenate([ref, cur]))
        d = np.max(
            np.abs(
                np.searchsorted(ref, support, side="right") / len(ref)
                - np.searchsorted(cur, support, side="right") / len(cur)
            )
        )
        r = got[typ]
        assert (r.n_ref, r.n_cur) == (len(ref), len(cur))
        assert r.ks_stat == pytest.approx(float(d), abs=1e-12)
        assert 0.0 <= r.ks_stat <= 1.0


def test_ks_identical_windows_zero(spark, tmp_path):
    """Two identical distributions -> D == 0 exactly (planted corpus
    written as a real parquet fixture, so the lane's reader path runs
    end-to-end)."""
    rows = []
    for i in range(200):
        # same 100 values on each side of the cutoff
        rows.append(("t", float(i % 10), "2024-01-01 00:00:00"))
        rows.append(("t", float(i % 10), "2024-01-20 00:00:00"))
    df = spark.createDataFrame(rows, "event_type string, value double, s string")
    df = df.select(
        F.monotonically_increasing_id().alias("event_id"),
        F.lit(1).alias("user_id"),
        "event_type",
        F.col("s").cast("timestamp").alias("ts"),
        "value",
    )
    # match the fixture generation's us-timestamps (the events reader
    # sniffs the footer; INT96 would trip its declared schema)
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    out = stats_ks_drift(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0].ks_stat == 0.0


def test_dq_clean_fixture_all_pass(spark, sf_dir):
    rows = {r.check_name: r for r in dq_expectations(spark, sf_dir).collect()}
    assert set(rows) == {
        "orderkey_unique", "totalprice_positive", "orderstatus_domain",
        "orderdate_complete", "orders_custkey_fk", "lineitem_orderkey_fk",
        "quantity_in_range",
    }
    n_orders = load_table(spark, sf_dir, "orders").count()
    n_line = load_table(spark, sf_dir, "lineitem").count()
    for name, r in rows.items():
        assert r.passed and r.n_violations == 0, name
        want_n = n_line if name.startswith(("lineitem", "quantity")) else n_orders
        assert r.n_checked == want_n, name


def test_dq_planted_violations(spark, tmp_path):
    """Every check fires on a corpus planted to violate it, with the
    exact violation counts."""
    orders = spark.createDataFrame(
        [
            # (orderkey, custkey, status, totalprice, orderdate)
            (1, 10, "O", 100.0, "2024-01-01"),
            (1, 10, "F", 50.0, "2024-01-02"),   # dup key
            (2, 99, "X", -5.0, None),            # bad fk, status, price, date
            (3, 11, "P", 10.0, "2024-01-03"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string",
    ).withColumn(
        # the fixture convention load_table declares is TIMESTAMP
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    customer = spark.createDataFrame(
        [(10,), (11,)], "c_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(1, 5.0), (1, 99.0), (77, 3.0)],  # one bad qty, one orphan
        "l_orderkey long, l_quantity double",
    )
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    customer.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    lineitem.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    rows = {
        r.check_name: r
        for r in dq_expectations(spark, str(tmp_path)).collect()
    }
    assert rows["orderkey_unique"].n_violations == 1
    assert rows["totalprice_positive"].n_violations == 1
    assert rows["orderstatus_domain"].n_violations == 1
    assert rows["orderdate_complete"].n_violations == 1
    assert rows["orders_custkey_fk"].n_violations == 1
    assert rows["lineitem_orderkey_fk"].n_violations == 1
    assert rows["quantity_in_range"].n_violations == 1
    assert not any(r.passed for r in rows.values())


def test_ks_plan_one_window_exchange_no_python(spark, sf_dir):
    """KS: partial-agg on (type, value), ONE window exchange on type,
    no Python eval."""
    plan = (
        stats_ks_drift(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan
    assert plan.count("Exchange") <= 2  # groupBy + window share the type key


def test_ols_matches_numpy(spark, sf_dir):
    """Grouped OLS sufficient-statistics fit equals numpy's polyfit
    per group (to float tolerance) and n partitions the table."""
    from spotify_etl_aws_spark.queries.selection import stats_group_ols_trend

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    ).collect()
    got = {r.prio: r for r in stats_group_ols_trend(spark, sf_dir).collect()}
    assert sum(r.n for r in got.values()) == len(orders)
    for prio, r in got.items():
        xs = np.array([o.x for o in orders if o.o_orderpriority == prio], float)
        ys = np.array([o.y for o in orders if o.o_orderpriority == prio], float)
        slope, intercept = np.polyfit(xs, ys, 1)
        assert r.slope == pytest.approx(slope, rel=1e-6)
        assert r.intercept == pytest.approx(intercept, rel=1e-6)


def test_ewma_spikes_brute_force(spark, sf_dir):
    """Spike set equals a brute-force python replay of the dyadic EWMA
    control chart (forecast = previous row's EWMA, |dev| > limit)."""
    from spotify_etl_aws_spark.queries.lanes_monitoring import (
        EWMA_SPIKE_LIMIT,
        EWMA_WINDOW,
    )
    from spotify_etl_aws_spark.queries.selection import ts_ewma_spikes

    ev = sorted(
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        ).collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    want = {}
    hist: dict[int, list[int]] = {}
    prev_ewma: dict[int, float] = {}
    for r in ev:
        h = hist.setdefault(r.user_id, [])
        if r.user_id in prev_ewma:
            dev = r.cents - prev_ewma[r.user_id]
            if abs(dev) > EWMA_SPIKE_LIMIT:
                want[r.event_id] = (r.cents, prev_ewma[r.user_id], dev)
        h.append(r.cents)
        tail = h[-EWMA_WINDOW:]
        num = sum(v << i for i, v in enumerate(tail))
        prev_ewma[r.user_id] = num / (1 << len(tail))
    got = {
        r.event_id: (r.cents, r.ewma_prev, r.dev)
        for r in ts_ewma_spikes(spark, sf_dir).collect()
    }
    assert got == want  # exact equality, doubles included
    assert got  # non-vacuous at this SF


def test_dq_plan_scan_counts(spark, sf_dir):
    """The suite's claimed scale shape, pinned: orders scanned twice
    (once for all five conditional-sum checks incl. the FK, once as
    the distinct parent-key side of the lineitem FK join), lineitem
    and customer once each — never once per check."""
    import re

    plan = (
        dq_expectations(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"orders\.parquet", plan)) <= 2
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert len(re.findall(r"customer\.parquet", plan)) == 1
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_cusum_matches_sequential_recurrence(spark, sf_dir):
    """The window form P_t - min(0, min P_j) equals Page's sequential
    recurrence S_t = max(0, S_{t-1} + y_t) replayed in python —
    integer-exact, alarm set identical."""
    from spotify_etl_aws_spark.queries.lanes_monitoring import (
        CUSUM_H,
        CUSUM_REF,
    )
    from spotify_etl_aws_spark.queries.selection import ts_cusum_alarms

    ev = sorted(
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        ).collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    want = {}
    state: dict[int, int] = {}
    for r in ev:
        s = max(0, state.get(r.user_id, 0) + r.cents - CUSUM_REF)
        state[r.user_id] = s
        if s > CUSUM_H:
            want[r.event_id] = (r.cents, s)
    got = {
        r.event_id: (r.cents, r.cusum)
        for r in ts_cusum_alarms(spark, sf_dir).collect()
    }
    assert got == want
    assert got  # non-vacuous at this SF


def test_cusum_plan_one_exchange_no_python(spark, sf_dir):
    """Both running aggregates share one window spec: a single
    exchange + sort on the series key, no Python eval."""
    from spotify_etl_aws_spark.queries.selection import ts_cusum_alarms

    plan = (
        ts_cusum_alarms(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_k_anonymity_census(spark, sf_dir):
    """Census partitions the table; at_risk groups exist at this SF;
    negative balances band by FLOOR (the Spark-div/DuckDB-// trap the
    lane makes explicit)."""
    from spotify_etl_aws_spark.queries.lanes_monitoring import (
        KANON_BAND_CENTS,
        KANON_K,
    )
    from spotify_etl_aws_spark.queries.selection import dq_k_anonymity

    rows = dq_k_anonymity(spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r.n for r in rows) == n_cust
    assert any(r.at_risk for r in rows)
    for r in rows:
        assert r.at_risk == (r.n < KANON_K)
    # negative balances exist in TPC-H and must land in band -1 (floor)
    neg = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") < 0
    ).count()
    if neg:
        assert any(r.bal_band < 0 for r in rows)
    assert KANON_BAND_CENTS == 100000


def test_l_diversity_census(spark, sf_dir):
    from spotify_etl_aws_spark.queries.lanes_monitoring import KANON_L
    from spotify_etl_aws_spark.queries.selection import dq_l_diversity

    rows = dq_l_diversity(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == load_table(
        spark, sf_dir, "customer"
    ).count()
    for r in rows:
        assert 1 <= r.n_sensitive <= min(r.n, 5)  # 5 TPC-H segments
        assert r.diverse == (r.n_sensitive >= KANON_L)


def test_link_eval_confusion_algebra(spark, sf_dir):
    """tp/fp recomputed from the best-match rows; precision/recall/f1
    follow the exact closed forms."""
    from spotify_etl_aws_spark.queries.selection import (
        link_customer_best,
        link_eval_metrics,
    )

    best = link_customer_best(spark, sf_dir).collect()
    tp = sum(1 for r in best if r.probe_id == r.custkey)
    row = link_eval_metrics(spark, sf_dir).collect()[0]
    assert (row.n_pred, row.tp, row.fp) == (len(best), tp, len(best) - tp)
    assert row.precision == tp / len(best)
    assert row.recall == tp / row.n_truth
    p, r = row.precision, row.recall
    assert row.f1 == 2.0 * p * r / (p + r)
    assert row.recall > 0.5  # the fixture's blocking recall story


def test_frequent_pairs_brute_force(spark, sf_dir):
    """Support and lift equal a python dict replay of the A-Priori L2
    pass over the distinct baskets."""
    from collections import Counter

    from spotify_etl_aws_spark.queries.lanes_layout import MINE_MINSUP
    from spotify_etl_aws_spark.queries.selection import mine_frequent_pairs

    baskets = {}
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    ):
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    sup = Counter()
    cnt = Counter()
    for items in baskets.values():
        for p in items:
            cnt[p] += 1
        s = sorted(items)
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                sup[(a, b)] += 1
    nb = len(baskets)
    want = {
        k: (v, (v * nb) / (cnt[k[0]] * cnt[k[1]]))
        for k, v in sup.items()
        if v >= MINE_MINSUP
    }
    got = {
        (r.part_a, r.part_b): (r.support, r.lift)
        for r in mine_frequent_pairs(spark, sf_dir).collect()
    }
    assert got == want
    assert got  # non-vacuous


def test_ols_outliers_scoring(spark, sf_dir):
    """Every flagged order's residual recomputes exactly from the
    model lane's slope/intercept, and no unflagged order exceeds the
    limit (completeness checked by brute force)."""
    from spotify_etl_aws_spark.queries.lanes_monitoring import OLS_RESID_LIMIT
    from spotify_etl_aws_spark.queries.selection import (
        stats_group_ols_trend,
        stats_ols_outliers,
    )

    model = {
        r.prio: (r.slope, r.intercept)
        for r in stats_group_ols_trend(spark, sf_dir).collect()
    }
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    ).collect()
    want = {}
    for r in base:
        slope, icept = model[r.prio]
        resid = r.y - (slope * r.x + icept)
        if abs(resid) > OLS_RESID_LIMIT:
            want[r.o_orderkey] = resid
    got = {
        r.o_orderkey: r.resid
        for r in stats_ols_outliers(spark, sf_dir).collect()
    }
    assert got == want  # exact doubles, both directions
    assert got


def test_frequent_pairs_single_fact_scan_and_l1_prune(spark, sf_dir):
    """Round-12 posture pins: (a) every fact consumer reads the
    PERSISTED basket frame — each FileScan in the plan belongs to an
    InMemoryRelation print (a direct lineitem scan would add a
    FileScan with no matching relation); (b) the A-Priori L1 item
    prefilter is a LeftSemi join on the self-join inputs."""
    from spotify_etl_aws_spark.queries.selection import mine_frequent_pairs

    plan = (
        mine_frequent_pairs(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("InMemoryTableScan") >= 4  # x, y, cnt x2, L1
    # fact reads go through the cache: the first FileScan in the plan
    # text lives INSIDE an InMemoryRelation reprint (AQE prints each
    # relation's Initial+Final plan, so counts are a multiple of the
    # relation count, not equal to it)
    assert "InMemoryRelation" in plan
    assert plan.find("InMemoryRelation") < plan.find("FileScan")
    assert plan.count("FileScan") % plan.count("InMemoryRelation") == 0
    assert plan.count("LeftSemi") >= 2  # L1 prune on both join sides


def test_frequent_pairs_capped_strict_subset(spark, sf_dir):
    """The hot-basket valve drops pair support, never invents it: the
    capped lane (part_a, part_b) set is a subset of the uncapped
    lane, support never increases, and the valve BITES at this SF
    (census shows baskets above MINE_MAX_BASKET_ITEMS)."""
    from spotify_etl_aws_spark.queries.lanes_layout import (
        MINE_MAX_BASKET_ITEMS,
    )
    from spotify_etl_aws_spark.queries.selection import (
        mine_basket_census,
        mine_frequent_pairs,
        mine_frequent_pairs_capped,
    )

    census = {
        r.basket_items: r.n_baskets
        for r in mine_basket_census(spark, sf_dir).collect()
    }
    assert any(k > MINE_MAX_BASKET_ITEMS for k in census)  # valve bites
    full = {
        (r.part_a, r.part_b): r.support
        for r in mine_frequent_pairs(spark, sf_dir).collect()
    }
    capped = {
        (r.part_a, r.part_b): r.support
        for r in mine_frequent_pairs_capped(spark, sf_dir).collect()
    }
    assert set(capped) <= set(full)
    assert len(capped) < len(full)
    for k, sup in capped.items():
        assert sup <= full[k]


def test_dq_metric_anomalies_semantics(spark, sf_dir):
    """Deequ rate-of-change gate: the first epoch never alarms, flags
    match the integer cross-multiplication band exactly, and the lane
    is non-vacuous (TPC-H's partial final month trips the band)."""
    from spotify_etl_aws_spark.queries.lanes_monitoring import (
        DQM_MAX_PCT,
        DQM_MIN_PCT,
    )
    from spotify_etl_aws_spark.queries.selection import dq_metric_anomalies

    rows = dq_metric_anomalies(spark, sf_dir).collect()
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r.metric, []).append(r)
    assert set(by_metric) == {"n_rows", "sum_cents", "n_customers"}
    n_anom = 0
    for metric, rs in by_metric.items():
        rs.sort(key=lambda r: r.epoch)
        assert rs[0].prev_value is None and not rs[0].anomalous
        for prev, cur in zip(rs, rs[1:]):
            assert cur.prev_value == prev.value
            want = (
                cur.value * 100 > cur.prev_value * DQM_MAX_PCT
                or cur.value * 100 < cur.prev_value * DQM_MIN_PCT
            )
            assert cur.anomalous == want
            n_anom += want
    assert n_anom > 0


def test_association_rules_semantics(spark, sf_dir):
    """Rule generation: every frequent pair emits exactly its two
    directed rules, confidence is support over the antecedent's
    basket count, lift rides the pair value symmetrically."""
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.queries.selection import (
        mine_association_rules,
        mine_frequent_pairs,
    )
    from spotify_etl_aws_spark.sources.readers import load_table

    pairs = {
        (r.part_a, r.part_b): (r.support, r.lift)
        for r in mine_frequent_pairs(spark, sf_dir).collect()
    }
    cnt = {
        r.p: r.c
        for r in load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    rules = mine_association_rules(spark, sf_dir).collect()
    assert len(rules) == 2 * len(pairs)
    for r in rules:
        key = (
            (r.antecedent, r.consequent)
            if r.antecedent < r.consequent
            else (r.consequent, r.antecedent)
        )
        sup, lift = pairs[key]
        assert r.support == sup and r.lift == lift
        assert r.confidence == sup / cnt[r.antecedent]
