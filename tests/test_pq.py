"""Product quantization (operators/pq.py): codebook fit determinism,
the exact ADC identity, byte-code compression, and recall against the
exact cosine ranking on the embeddings fixture."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.pq import (
    PQModel,
    adc_table,
    encode_pq,
    fit_pq,
    pq_topk,
    reconstruct,
)
from spotify_etl_aws_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )


@pytest.fixture(scope="module")
def model(emb):
    return fit_pq(emb, m=8, k=16, iters=5, sample_n=1024)


def test_fit_shapes_and_determinism(emb, model):
    assert model.m == 8 and model.k == 16
    assert model.dim == len(emb.first().v)
    again = fit_pq(emb, m=8, k=16, iters=5, sample_n=1024)
    assert np.array_equal(model.codebooks, again.codebooks)
    with pytest.raises(ValueError, match="one byte"):
        fit_pq(emb, k=300)
    with pytest.raises(ValueError, match="divisible"):
        fit_pq(emb, m=7)


def test_encode_is_bytes_and_deterministic(emb, model):
    codes = encode_pq(emb.limit(200), model)
    rows = codes.collect()
    assert all(len(bytes(r.code)) == model.m for r in rows)
    again = {r.vec_id: bytes(r.code) for r in encode_pq(emb.limit(200), model).collect()}
    assert {r.vec_id: bytes(r.code) for r in rows} == again
    # map-side only: no Exchange in the encode plan (pin on the
    # un-limited frame — the test's own .limit adds its own exchange)
    plan = encode_pq(emb, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_adc_identity_exact(model):
    """ADC is not an approximation of the reconstruction distance —
    it IS that distance: lut-gather-sum == ||q - decode(code)||^2."""
    rng = np.random.default_rng(5)
    q = rng.normal(size=model.dim)
    codes = rng.integers(0, model.k, size=(32, model.m), dtype=np.uint8)
    lut = adc_table(q, model)
    got = lut[np.arange(model.m)[None, :], codes].sum(axis=1)
    qn = q / np.linalg.norm(q)
    want = ((qn[None, :] - reconstruct(codes, model)) ** 2).sum(axis=1)
    assert np.allclose(got, want, atol=1e-12)


def test_quantization_error_shrinks_with_k(emb):
    x = np.array([r.v for r in emb.limit(512).collect()], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)

    def mse(k):
        mod = fit_pq(emb, m=8, k=k, iters=4, sample_n=512)
        codes_df = encode_pq(emb.limit(512), mod)
        codes = np.array(
            [
                np.frombuffer(bytes(r.code), dtype=np.uint8)
                for r in codes_df.orderBy("vec_id").collect()
            ]
        )
        return (((x - reconstruct(codes, mod)) ** 2).sum(axis=1)).mean()

    assert mse(32) < mse(4)


def test_pq_topk_recall_vs_exact(spark, emb, model):
    """PQ-ADC top-10 should overlap heavily with the exact cosine
    top-10 (m=8, k=16 on unit vectors — coarse but far above chance:
    random recall would be ~10/N)."""
    q = emb.filter(F.col("vec_id") == 7).first().v
    exact = (
        emb.select(
            "vec_id",
            F.aggregate(
                F.zip_with("v", F.lit(q), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dot"),
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", "v", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("nrm"),
        )
        .select("vec_id", (F.col("dot") / F.col("nrm")).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )
    exact_ids = {r.vec_id for r in exact.collect()}
    codes = encode_pq(emb, model)
    got = pq_topk(codes, model, q, top_k=10)
    got_ids = {r.vec_id for r in got.collect()}
    assert 7 in got_ids  # the query vector itself must be found
    assert len(exact_ids & got_ids) >= 4
    # the scan is TakeOrderedAndProject, not a global sort
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---- cross-engine margin probes for the declared lane ----
#
# The vector_pq_adc_topk oracle re-derives the whole fit/encode/scan
# relationally; the two engines agree only because every decision sits
# far from its boundary. These probes MEASURE those margins on the
# fixture (the house pattern — embedding_lsh's sign-margin probes):
# summation-order drift is ~1e-15 relative, so a margin >= 1e-9 means
# the hash can never flip.


def _lane_fit_inputs(emb):
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        PQ_DECIMALS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SAMPLE_N,
    )

    rows = emb.orderBy("vec_id").limit(PQ_SAMPLE_N).collect()
    x = np.array([r.v for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    return x, PQ_M, PQ_K, PQ_ITERS, PQ_DECIMALS


def test_lane_fit_margins(emb):
    """Replay the lane's Lloyd fit and measure (a) the argmin gap
    between best and second-best centroid at EVERY assignment and
    (b) every M-step mean's distance from its rounding-grid midpoint."""
    from spotify_etl_aws_spark.operators.pq import _round_away

    x, m, k, iters, decimals = _lane_fit_inputs(emb)
    dsub = x.shape[1] // m
    min_gap = np.inf
    min_grid = np.inf
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        cents = sub[:k].copy()
        for _ in range(iters):
            d2 = (
                (sub**2).sum(axis=1, keepdims=True)
                - 2.0 * sub @ cents.T
                + (cents**2).sum(axis=1)[None, :]
            )
            part = np.partition(d2, 1, axis=1)
            min_gap = min(min_gap, float((part[:, 1] - part[:, 0]).min()))
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    mean = sub[mask].mean(axis=0)
                    r = np.abs(mean) * 10.0**decimals
                    min_grid = min(
                        min_grid, float(np.abs(r - np.floor(r) - 0.5).min())
                    )
                    cents[c] = _round_away(mean, decimals)
    assert min_gap > 1e-9, f"assignment argmin gap {min_gap} too tight"
    # distance from the half-up midpoint, in grid units (drift ~1e-9)
    assert min_grid > 1e-6, f"M-step rounding margin {min_grid} too tight"


def test_lane_encode_and_adc_margins(spark, sf_dir, emb):
    """Encode margins under the FINAL codebooks for the whole corpus,
    plus the ADC scan's two cut risks: raw distances near the 4dp
    rounding midpoint, and the rounded top-k boundary (equal rounded
    values are safe — ordering ties break on vec_id identically in
    both engines — but a raw value within drift of the midpoint is
    not)."""
    from spotify_etl_aws_spark.operators.pq import adc_table
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        PQ_TOPK,
        _pq_model,
    )
    from spotify_etl_aws_spark.queries.vector import QUERY_VEC_ID

    model = _pq_model(spark, sf_dir)
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.v for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    m, k, dsub = model.codebooks.shape
    codes = np.empty((len(x), m), dtype=np.int64)
    min_gap = np.inf
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        cents = model.codebooks[s]
        d2 = (
            (sub**2).sum(axis=1, keepdims=True)
            - 2.0 * sub @ cents.T
            + (cents**2).sum(axis=1)[None, :]
        )
        part = np.partition(d2, 1, axis=1)
        min_gap = min(min_gap, float((part[:, 1] - part[:, 0]).min()))
        codes[:, s] = np.argmin(d2, axis=1)
    assert min_gap > 1e-9, f"encode argmin gap {min_gap} too tight"

    q = x[ids == QUERY_VEC_ID][0]
    lut = adc_table(q, model)
    mask = ids != QUERY_VEC_ID
    dist = lut[np.arange(m)[None, :], codes[mask]].sum(axis=1)
    r = dist * 1e4
    grid = np.abs(r - np.floor(r) - 0.5).min()
    assert grid > 1e-6, f"ADC 4dp rounding margin {grid} too tight"
    rounded = np.round(r) / 1e4  # post-margin-check, banker's is fine
    order = np.lexsort((ids[mask], rounded))
    kth, nxt = rounded[order[PQ_TOPK - 1]], rounded[order[PQ_TOPK]]
    # a strictly greater rank-(k+1) value, or an exact rounded tie
    # (then vec_id decides identically on both engines)
    assert nxt >= kth
