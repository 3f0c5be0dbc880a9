"""IVFADC (round 14, verdict item 1): coarse IVF + residual PQ —
operators/pq.py fit_ivfpq/encode_ivfpq/ivfpq_topk and the declared
lanes vector_ivfpq_topk / vector_ivfpq_recall. Pins: the exact
residual-ADC identity, fit/encode determinism, cross-engine margin
probes (the test_pq.py house pattern), the PROVABLE recall bound
(IVFADC selects k from the same probed pool as the IVF probe, whose
hit set global_topk INTERSECT probed is the maximum any selection
from that pool can achieve), and PartitionFilters-level pruning of
the codes index."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.pq import (
    _coarse_parts,
    adc_table,
    encode_ivfpq,
    fit_ivfpq,
    reconstruct,
)
from spotify_etl_aws_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )


@pytest.fixture(scope="module")
def cents(spark, sf_dir):
    from spotify_etl_aws_spark.queries.vector import _learned_centroids

    return _learned_centroids(spark, sf_dir)


@pytest.fixture(scope="module")
def model(spark, sf_dir):
    from spotify_etl_aws_spark.queries.lanes_vector_select import _ivfpq_model

    return _ivfpq_model(spark, sf_dir)


def _corpus_residuals(emb, cents):
    """Driver replay of assign_cells_arrow + residual computation —
    the exact arithmetic fit_ivfpq and encode_ivfpq perform."""
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.v for r in rows], dtype=np.float64)
    U = M / np.linalg.norm(M, axis=1, keepdims=True)
    cells, C, Cn = _coarse_parts(cents)
    idx = np.argmax(U @ Cn.T, axis=1)
    return ids, U, cells[idx], U - C[idx]


def test_fit_deterministic_and_shaped(spark, sf_dir, emb, cents, model):
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        PQ_DECIMALS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SAMPLE_N,
    )

    assert model.m == PQ_M and model.k == PQ_K
    again = fit_ivfpq(
        emb,
        cents,
        m=PQ_M,
        k=PQ_K,
        iters=PQ_ITERS,
        sample_n=PQ_SAMPLE_N,
        decimals=PQ_DECIMALS,
    )
    assert np.array_equal(model.codebooks, again.codebooks)


def test_residual_adc_identity(model):
    """The per-cell ADC distance IS the reconstruction distance of the
    residual: lut(qres)-gather-sum == ||qres - decode(code)||^2, with
    qres NOT re-normalized (normalize=False)."""
    rng = np.random.default_rng(14)
    qres = rng.normal(size=model.dim) * 0.3  # residual-scale input
    codes = rng.integers(0, model.k, size=(32, model.m), dtype=np.uint8)
    lut = adc_table(qres, model, normalize=False)
    got = lut[np.arange(model.m)[None, :], codes].sum(axis=1)
    want = ((qres[None, :] - reconstruct(codes, model)) ** 2).sum(axis=1)
    assert np.allclose(got, want, atol=1e-12)
    # and normalize=True would have changed the answer (the guard the
    # IVFADC path depends on)
    assert not np.allclose(
        adc_table(qres, model)[np.arange(model.m)[None, :], codes].sum(axis=1),
        want,
        atol=1e-6,
    )


def test_encode_matches_driver_replay(spark, sf_dir, emb, cents, model):
    """encode_ivfpq (distributed, Arrow-batched) lands on the same
    codes as the driver replay of the same arithmetic."""
    from spotify_etl_aws_spark.operators.vector_ops import assign_cells_arrow

    got = {
        r.vec_id: (r.cell, bytes(r.code))
        for r in encode_ivfpq(
            assign_cells_arrow(
                emb.select("vec_id", F.col("v").cast("array<double>").alias("v")),
                cents,
            ),
            cents,
            model,
        ).collect()
    }
    ids, _, cell_ids, R = _corpus_residuals(emb, cents)
    books = model.codebooks
    m, k, dsub = books.shape
    codes = np.empty((len(R), m), dtype=np.uint8)
    for s in range(m):
        sub = R[:, s * dsub : (s + 1) * dsub]
        d2 = -2.0 * sub @ books[s].T + (books[s] ** 2).sum(axis=1)[None, :]
        codes[:, s] = np.argmin(d2, axis=1)
    want = {
        int(i): (int(c), codes[j].tobytes())
        for j, (i, c) in enumerate(zip(ids, cell_ids))
    }
    assert got == want


def test_fit_and_encode_margins(spark, sf_dir, emb, cents, model):
    """Cross-engine margin probes (test_pq.py pattern): (a) coarse
    argmax-cosine assignment gap over the corpus, (b) Lloyd argmin gap
    + M-step rounding-grid margin at every fit step, (c) encode argmin
    gap under the final codebooks, (d) the probed-cell ADC distances'
    4dp rounding-grid margin. Drift is ~1e-15 relative, so >= 1e-9
    (or 1e-6 in grid units) can never flip the hash."""
    from spotify_etl_aws_spark.operators.pq import _round_away
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        IVFPQ_NPROBE,
        PQ_DECIMALS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SAMPLE_N,
    )
    from spotify_etl_aws_spark.queries.vector import (
        QUERY_VEC_ID,
        _probe_cells,
        _query_vector,
    )

    ids, U, cell_ids, R = _corpus_residuals(emb, cents)
    _, C, Cn = _coarse_parts(cents)
    S = U @ Cn.T
    part = np.partition(S, -2, axis=1)
    coarse_gap = float((part[:, -1] - part[:, -2]).min())
    assert coarse_gap > 1e-9, f"coarse argmax gap {coarse_gap} too tight"

    # (b) replay the residual Lloyd fit with gap instrumentation
    in_sample = ids < np.sort(ids)[: PQ_SAMPLE_N][-1] + 1
    x = R[in_sample][np.argsort(ids[in_sample])]
    m, k, iters, decimals = PQ_M, PQ_K, PQ_ITERS, PQ_DECIMALS
    dsub = x.shape[1] // m
    min_gap = np.inf
    min_grid = np.inf
    books = np.empty((m, k, dsub))
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        cs = sub[:k].copy()
        for _ in range(iters):
            d2 = (
                (sub**2).sum(axis=1, keepdims=True)
                - 2.0 * sub @ cs.T
                + (cs**2).sum(axis=1)[None, :]
            )
            p2 = np.partition(d2, 1, axis=1)
            min_gap = min(min_gap, float((p2[:, 1] - p2[:, 0]).min()))
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    mean = sub[mask].mean(axis=0)
                    r = np.abs(mean) * 10.0**decimals
                    min_grid = min(
                        min_grid, float(np.abs(r - np.floor(r) - 0.5).min())
                    )
                    cs[c] = _round_away(mean, decimals)
        books[s] = cs
    assert min_gap > 1e-9, f"fit argmin gap {min_gap} too tight"
    assert min_grid > 1e-6, f"M-step rounding margin {min_grid} too tight"
    assert np.array_equal(books, model.codebooks)  # replay == lane fit

    # (c) encode gap under the final codebooks, whole corpus
    enc_gap = np.inf
    codes = np.empty((len(R), m), dtype=np.int64)
    for s in range(m):
        sub = R[:, s * dsub : (s + 1) * dsub]
        cb = model.codebooks[s]
        d2 = -2.0 * sub @ cb.T + (cb**2).sum(axis=1)[None, :]
        p2 = np.partition(d2, 1, axis=1)
        enc_gap = min(enc_gap, float((p2[:, 1] - p2[:, 0]).min()))
        codes[:, s] = np.argmin(d2, axis=1)
    assert enc_gap > 1e-9, f"encode argmin gap {enc_gap} too tight"

    # (d) ADC rounding-grid margin over the probed cells' rows
    qv = _query_vector(sf_dir, QUERY_VEC_ID)
    qu = np.asarray(qv) / np.linalg.norm(qv)
    probe = _probe_cells(cents, qv, IVFPQ_NPROBE)
    mask = np.isin(cell_ids, probe) & (ids != QUERY_VEC_ID)
    dist = np.zeros(int(mask.sum()))
    for j, cell in enumerate(sorted({int(c) for c in cell_ids[mask]})):
        rows_c = cell_ids[mask] == cell
        lut = adc_table(qu - C[cell == _coarse_parts(cents)[0]][0],
                        model, normalize=False)
        dist[rows_c] = lut[
            np.arange(m)[None, :], codes[mask][rows_c]
        ].sum(axis=1)
    r = dist * 1e4
    grid = float(np.abs(r - np.floor(r) - 0.5).min())
    assert grid > 1e-6, f"ADC 4dp rounding margin {grid} too tight"


def test_recall_bounded_by_ivf_probe(spark, sf_dir):
    """PROVABLE bound: any selection of k rows from the probed cells
    can hit at most |global_topk INTERSECT probed| — exactly the IVF
    probe's hit count at the same nprobe. IVFADC adds quantization
    error on top, so n_hits(ivfpq) <= n_hits(ivf@nprobe)."""
    from spotify_etl_aws_spark.queries.lanes_vector_select import IVFPQ_NPROBE
    from spotify_etl_aws_spark.queries.selection import (
        vector_ivf_recall_curve,
        vector_ivfpq_recall,
    )

    curve = {
        r.nprobe: r.n_hits
        for r in vector_ivf_recall_curve(spark, sf_dir).collect()
    }
    got = vector_ivfpq_recall(spark, sf_dir).first()
    assert got.n_hits <= curve[IVFPQ_NPROBE]
    assert got.k > 0 and 0.0 <= got.recall <= 1.0


def test_lane_prunes_partitions_and_reads_codes_only(spark, sf_dir):
    """The IVFADC scan must carry the `cell IN (...)` filter at
    PartitionFilters level (only probed cells' directories read) and
    ship only (vec_id, code) — m bytes/row, never the vectors."""
    import os

    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        IVFPQ_NPROBE,
        _ivfpq_index_path,
    )
    from spotify_etl_aws_spark.queries.selection import vector_ivfpq_topk

    plan = (
        vector_ivfpq_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    segs = [s[:160] for s in plan.split("PartitionFilters")[1:]]
    assert any("cell" in s and "IN" in s for s in segs), segs
    assert "ReadSchema: struct<vec_id:bigint,code:binary>" in plan
    assert "TakeOrderedAndProject" in plan
    idx = _ivfpq_index_path(spark, sf_dir)
    cell_dirs = [d for d in os.listdir(idx) if d.startswith("cell=")]
    assert len(cell_dirs) > IVFPQ_NPROBE
