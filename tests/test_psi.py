"""Population Stability Index drift lane (stats_psi_drift): PSI
properties (non-negativity, zero on identical windows, monotone
response to a planted shift), the cross-engine rounding margin on the
ln-bearing statistic, and the one-pass plan shape."""

from __future__ import annotations

import math

import numpy as np
import pytest

from spotify_etl_aws_spark.queries.lanes_monitoring import (
    PSI_BIN_CENTS,
    PSI_BINS,
    PSI_CUTOFF,
)
from spotify_etl_aws_spark.queries.selection import stats_psi_drift
from spotify_etl_aws_spark.sources.readers import load_table


def _psi(ref_counts, cur_counts, bins=PSI_BINS):
    n, m = sum(ref_counts), sum(cur_counts)
    s = 0.0
    for r, c in zip(ref_counts, cur_counts):
        p = (r + 1) / (n + bins)
        q = (c + 1) / (m + bins)
        s += (q - p) * math.log(q / p)
    return s


@pytest.fixture(scope="module")
def lane_rows(spark, sf_dir):
    return stats_psi_drift(spark, sf_dir).collect()


def test_matches_python_replay_and_margins(spark, sf_dir, lane_rows):
    """Per-type PSI equals a Python replay of the spec to 6dp, every
    raw statistic sits far from its rounding-grid midpoint (ln differs
    by <= 1 ulp across libms — the margin must dwarf that), and PSI is
    non-negative (it is a symmetrized KL divergence)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).toPandas()
    cents = (ev["value"] * 100).round().astype("int64")
    bins = np.minimum(cents // PSI_BIN_CENTS, PSI_BINS - 1)
    is_ref = ev["ts"] < pd.Timestamp(PSI_CUTOFF)
    for row in lane_rows:
        sel = ev["event_type"] == row.event_type
        r = np.bincount(bins[sel & is_ref], minlength=PSI_BINS)
        c = np.bincount(bins[sel & ~is_ref], minlength=PSI_BINS)
        raw = _psi(r, c)
        assert row.psi == round(raw, 6)
        assert row.psi >= 0.0
        assert (row.n_ref, row.n_cur) == (int(r.sum()), int(c.sum()))
        g = abs(raw) * 1e6
        assert abs(g - math.floor(g) - 0.5) > 1e-4, (row.event_type, raw)


def test_zero_on_identical_and_grows_with_shift():
    """Identical distributions give PSI exactly 0; shifting mass one
    bin over strictly increases it, and a bigger shift increases it
    more — the monotonicity monitoring relies on."""
    base = [100] * PSI_BINS
    assert _psi(base, base) == 0.0
    one = list(base)
    one[0] -= 50
    one[1] += 50
    two = list(base)
    two[0] -= 90
    two[1] += 90
    assert 0 < _psi(base, one) < _psi(base, two)


def test_every_type_present_and_windows_split(lane_rows):
    types = {r.event_type for r in lane_rows}
    assert len(types) == len(lane_rows)  # one row per type
    for r in lane_rows:
        assert r.n_ref > 0 and r.n_cur > 0


def test_plan_single_scan_no_udf(spark, sf_dir):
    """The events table is scanned ONCE (both window counts are
    conditional sums in the same aggregation); the type x bin grid
    joins broadcast; no Python anywhere."""
    plan = (
        stats_psi_drift(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") <= 2  # data pass + tiny grid seed
    assert "BroadcastHashJoin" in plan
    for bad in ("CartesianProduct", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan
