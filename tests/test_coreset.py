"""Greedy k-center selection (operators/coreset.py): the farthest-
first invariant against a numpy replay, determinism, plan shape, and
the cross-engine decision margins the select_kcenter_coreset oracle
relies on."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.coreset import kcenter_select
from spotify_etl_aws_spark.queries.lanes_vector_select import KC_DECIMALS, KC_K
from spotify_etl_aws_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


@pytest.fixture(scope="module")
def corpus(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.v for r in rows], dtype=np.float64)
    return ids, x / np.linalg.norm(x, axis=1, keepdims=True)


def _replay(ids, ux, k, decimals):
    """Numpy twin of the operator spec, also yielding per-step margins:
    (winner-vs-runner-up coverage gap, min distance of every rounded
    cosine from its grid midpoint)."""
    order = np.argsort(ids)
    chosen = [order[0]]
    picks = [(1, int(ids[order[0]]), None)]
    min_gap, min_grid = np.inf, np.inf
    for rank in range(2, k + 1):
        cos = ux @ ux[chosen].T
        r = np.abs(cos) * 10.0**decimals
        min_grid = min(min_grid, float(np.abs(r - np.floor(r) - 0.5).min()))
        cov = (np.sign(cos) * np.floor(r + 0.5) / 10.0**decimals).max(axis=1)
        cov[chosen] = np.inf
        best = np.lexsort((ids, cov))[0]
        runner = np.lexsort((ids, cov))[1]
        if cov[runner] != cov[best]:
            min_gap = min(min_gap, float(cov[runner] - cov[best]))
        picks.append((rank, int(ids[best]), float(cov[best])))
        chosen.append(best)
    return picks, min_gap, min_grid


def test_matches_numpy_replay_and_margins(emb, corpus):
    ids, ux = corpus
    got = kcenter_select(emb, KC_K, decimals=KC_DECIMALS)
    want, min_gap, min_grid = _replay(ids, ux, KC_K, KC_DECIMALS)
    assert got == want
    # ties ARE allowed (vec_id breaks them identically on both
    # engines); what must be wide is everything that isn't a tie, and
    # every rounded value's distance from its grid midpoint
    assert min_gap > 1e-5, f"winner/runner-up gap {min_gap} too tight"
    assert min_grid > 1e-6, f"rounding-grid margin {min_grid} too tight"


def test_farthest_first_invariant(corpus):
    """At every step the pick's coverage is <= the coverage of every
    not-yet-chosen row (computed unrounded — the greedy property
    itself, not the grid)."""
    ids, ux = corpus
    picks, _, _ = _replay(ids, ux, KC_K, KC_DECIMALS)
    chosen_idx = [int(np.where(ids == p[1])[0][0]) for p in picks]
    for j in range(1, len(chosen_idx)):
        cov = (ux @ ux[chosen_idx[:j]].T).max(axis=1)
        rest = np.setdiff1d(np.arange(len(ids)), chosen_idx[:j])
        # rounded comparison: the operator decides on the rounded grid
        grid = 10.0**KC_DECIMALS
        rcov = np.sign(cov) * np.floor(np.abs(cov) * grid + 0.5) / grid
        assert rcov[chosen_idx[j]] <= rcov[rest].min() + 1e-12


def test_diversity_beats_prefix(corpus):
    """The selected panel is more diverse (lower max pairwise cosine)
    than the first-k-ids baseline — the reason the operator exists."""
    ids, ux = corpus
    picks, _, _ = _replay(ids, ux, KC_K, KC_DECIMALS)
    sel = [int(np.where(ids == p[1])[0][0]) for p in picks]
    prefix = list(np.argsort(ids)[:KC_K])

    def max_pair_cos(idx):
        g = ux[idx] @ ux[idx].T
        np.fill_diagonal(g, -np.inf)
        return g.max()

    assert max_pair_cos(sel) <= max_pair_cos(prefix)


def test_each_step_is_take_ordered(emb):
    """The per-step plan: Arrow-batched GEMM (MapInPandas, one winner
    row per batch) + TakeOrderedAndProject — no global sort, no join,
    no row-at-a-time Python."""
    from spotify_etl_aws_spark.operators.coreset import _min_coverage_pick

    cv = [float(x) for x in emb.orderBy("vec_id").first().v]
    step = (
        emb.select("vec_id", "v")
        .filter(~F.col("vec_id").isin([0]))
        .mapInPandas(
            lambda it: it,  # schema stand-in; plan shape is what's pinned
            schema="vec_id bigint, v array<double>",
        )
        .orderBy(F.asc("vec_id"))
        .limit(1)
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "MapInPandas" in plan
    for bad in ("SortMergeJoin", "CartesianProduct", "BatchEvalPython"):
        assert bad not in plan
    # and the real step returns exactly one row with the right fields
    row = _min_coverage_pick(emb, [cv], [0], "vec_id", "v", 6)
    assert len(row) == 1 and row[0].vec_id != 0


def test_kernel_matches_expression_reference(emb):
    """The Arrow GEMM coverage and the JVM higher-order-function
    reference pick the same row with the same rounded coverage at
    every step (the vector_ops cross-validation pattern)."""
    from spotify_etl_aws_spark.operators.coreset import (
        _coverage_expr,
        _min_coverage_pick,
    )

    sub = emb.filter(F.col("vec_id") < 200)
    seed = sub.orderBy("vec_id").first()
    vecs, exclude = [list(seed.v)], [int(seed.vec_id)]
    for _ in range(3):
        got = _min_coverage_pick(sub, vecs, exclude, "vec_id", "v", 6)[0]
        want = (
            sub.filter(~F.col("vec_id").isin(exclude))
            .select(
                "vec_id", "v",
                _coverage_expr("v", vecs, 6).alias("coverage"),
            )
            .orderBy(F.asc("coverage"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        assert (got.vec_id, got.coverage) == (want.vec_id, want.coverage)
        vecs.append(list(got.v))
        exclude.append(int(got.vec_id))


def test_edge_cases(emb, spark):
    with pytest.raises(ValueError, match="k must be"):
        kcenter_select(emb, 0)
    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        kcenter_select(empty, 2)
    # k larger than the frame: returns every row, ranks contiguous
    small = emb.filter(F.col("vec_id") < 3)
    picks = kcenter_select(small, 10)
    assert [p[0] for p in picks] == [1, 2, 3]
    assert sorted(p[1] for p in picks) == [0, 1, 2]


# ---- MMR (maximal marginal relevance) ----


def _mmr_replay(ids, ux, q, k, lam, mu, decimals):
    """Numpy twin of mmr_select, yielding per-step margins:
    (winner/runner-up score gap over non-tied steps, min distance of
    every rounded ingredient from its grid midpoint)."""
    grid = 10.0**decimals

    def rnd(a):
        return np.sign(a) * np.floor(np.abs(a) * grid + 0.5) / grid

    def grid_margin(a):
        r = np.abs(a) * grid
        return float(np.abs(r - np.floor(r) - 0.5).min())

    uq = q / np.linalg.norm(q)
    raw_rel = ux @ uq
    min_grid = grid_margin(raw_rel)
    rel = rnd(raw_rel)
    best = np.lexsort((ids, -rel))[0]
    picks = [(1, int(ids[best]), float(rel[best]), None)]
    chosen = [best]
    ms = np.full(len(ids), -np.inf)
    min_gap = np.inf
    for rank in range(2, k + 1):
        raw = ux @ ux[chosen[-1]]
        min_grid = min(min_grid, grid_margin(raw))
        ms = np.maximum(ms, rnd(raw))
        score = lam * rel - mu * ms
        score[chosen] = -np.inf
        order = np.lexsort((ids, -score))
        b, r = order[0], order[1]
        if score[b] != score[r]:
            min_gap = min(min_gap, float(score[b] - score[r]))
        picks.append((rank, int(ids[b]), float(rel[b]), float(score[b])))
        chosen.append(b)
    return picks, min_gap, min_grid


def test_mmr_matches_replay_and_margins(spark, sf_dir, corpus):
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        MMR_K,
        MMR_LAM,
        MMR_MU,
    )
    from spotify_etl_aws_spark.queries.selection import search_mmr_rerank
    from spotify_etl_aws_spark.queries.vector import QUERY_VEC_ID

    ids, ux = corpus
    mask = ids != QUERY_VEC_ID
    q = ux[ids == QUERY_VEC_ID][0]
    want, min_gap, min_grid = _mmr_replay(
        ids[mask], ux[mask], q, MMR_K, MMR_LAM, MMR_MU, KC_DECIMALS
    )
    got = [
        (r.sel_rank, r.vec_id, r.relevance, r.mmr_score)
        for r in search_mmr_rerank(spark, sf_dir)
        .orderBy("sel_rank")
        .collect()
    ]
    assert got == want
    assert min_gap > 1e-5, f"MMR winner/runner-up gap {min_gap} too tight"
    assert min_grid > 1e-6, f"MMR grid margin {min_grid} too tight"


def test_mmr_diversifies_vs_pure_relevance(corpus):
    """With mu > 0 the selected panel's internal redundancy (max
    pairwise cosine) is no worse than pure relevance top-k, while the
    seed is exactly the relevance argmax — the operator's contract."""
    from spotify_etl_aws_spark.operators.coreset import mmr_select  # noqa: F401
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        MMR_K,
        MMR_LAM,
        MMR_MU,
    )
    from spotify_etl_aws_spark.queries.vector import QUERY_VEC_ID

    ids, ux = corpus
    mask = ids != QUERY_VEC_ID
    q = ux[ids == QUERY_VEC_ID][0]
    picks, _, _ = _mmr_replay(
        ids[mask], ux[mask], q, MMR_K, MMR_LAM, MMR_MU, KC_DECIMALS
    )
    rel = ux[mask] @ q
    topk = np.argsort(-rel, kind="stable")[:MMR_K]
    sel = [int(np.where(ids[mask] == p[1])[0][0]) for p in picks]
    assert sel[0] == int(np.lexsort((ids[mask], -rel))[0])

    def max_pair(idx):
        g = ux[mask][idx] @ ux[mask][idx].T
        np.fill_diagonal(g, -np.inf)
        return g.max()

    assert max_pair(sel) <= max_pair(list(topk)) + 1e-12
