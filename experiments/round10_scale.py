"""Amplified-scale probes for the round-10 lanes: PQ-ADC search,
phonetic-blocking linkage, and greedy k-center selection.

1. **PQ** (`vector_pq_adc_topk`): encode + ADC-scan walls at 2k / 20k
   / 200k vectors vs the exact full-vector cosine top-k on the SAME
   corpus, plus the DuckDB relational twin at 20k with row equality
   asserted in-run. The claim under test: the ADC scan's per-row cost
   is a [m]-byte gather while the exact scan eval-loops a 64-term HOF
   per row — the gap should WIDEN with N while fit cost stays fixed
   (bounded sample).
2. **Phonetic linkage** (`link_part_phonetic`): candidate census and
   walls at 1x/3x catalogs, Spark vs the DuckDB twin (counts asserted
   equal). Blocking keys come from a FIXED vocabulary (8 adjectives x
   25 brands / 8 nouns x 6 types x 50 sizes), so block sizes grow
   linearly with replicas and candidate mass QUADRATICALLY — the
   replicated fixture is the degenerate-key regime the linkage module
   docstring warns about. The probe therefore measures the creep
   (candidates/master-row at 1x/3x), then at 10x runs the CENSUS plus
   the fs_link max_block_pairs-capped configuration only: the valve
   (exact-contract-tested in tests/test_linkage.py) is the documented
   posture once a block's cross product exceeds one task's budget —
   an uncapped 10x join is ~2*10^8 pairs of (by construction)
   replica-vs-replica matches nobody asked for.
3. **k-center** (`select_kcenter_coreset`): the 8-pick selection at
   200k vectors, Spark vs a numpy replay of the spec (picks asserted
   identical). Cost is k-1 linear scans — the probe prints wall per
   scan to show flatness per step. The same run replays **MMR**
   (`search_mmr_rerank`) at 200k with the same bit-equality assert.
4. **EWMA** (`ts_ewma_dyadic`): the dyadic window smoother on 10x/30x
   amplified events, Spark vs the DuckDB twin — full-column equality
   (not just counts) asserted via a checksum, which is only possible
   because the lane is bit-exact by construction.

Run: python experiments/round10_scale.py [pq|phon|kcenter|ewma]
Results recorded in BASELINE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from experiments.common import SF_DIR, amplify, timed_oracle  # noqa: E402

OUT = "/tmp/round10_scale"


def _spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _emb_frame(spark, path):
    import pyspark.sql.functions as F  # noqa: F401

    from spotify_etl_aws_spark.functions.vectors import as_double

    return spark.read.parquet(path).select(
        "vec_id", as_double("embedding").alias("v")
    )


def probe_pq() -> None:
    import pyspark.sql.functions as F

    from spotify_etl_aws_spark.operators.pq import encode_pq, fit_pq, pq_topk
    from spotify_etl_aws_spark.queries.selection import ORACLE_PQ_ADC
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        PQ_DECIMALS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SAMPLE_N,
        PQ_TOPK,
    )
    from spotify_etl_aws_spark.queries.vector import QUERY_VEC_ID, _query_vector

    spark = _spark()
    q = _query_vector(SF_DIR, QUERY_VEC_ID)
    for reps in (1, 10, 100):
        path, n = amplify("embeddings", "vec_id", reps, OUT)
        emb = _emb_frame(spark, path)
        t0 = time.perf_counter()
        model = fit_pq(
            emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS,
            sample_n=PQ_SAMPLE_N, decimals=PQ_DECIMALS,
        )
        fit_w = time.perf_counter() - t0
        t0 = time.perf_counter()
        codes = encode_pq(
            emb.filter(F.col("vec_id") != QUERY_VEC_ID), model
        ).localCheckpoint()  # materialize: scan timing excludes encode
        enc_w = time.perf_counter() - t0
        t0 = time.perf_counter()
        adc = pq_topk(codes, model, q, top_k=PQ_TOPK, decimals=4).collect()
        adc_w = time.perf_counter() - t0
        # exact full-vector twin on the same corpus
        from spotify_etl_aws_spark.functions.vectors import cosine

        t0 = time.perf_counter()
        exact = (
            emb.filter(F.col("vec_id") != QUERY_VEC_ID)
            .select(
                "vec_id",
                F.round(
                    cosine(F.col("v"), F.array(*[F.lit(x) for x in q])), 4
                ).alias("cosine"),
            )
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(PQ_TOPK)
            .collect()
        )
        exact_w = time.perf_counter() - t0
        print(
            f"pq n={n:>7}: fit={fit_w:.2f}s encode={enc_w:.2f}s "
            f"adc_scan={adc_w:.2f}s exact_scan={exact_w:.2f}s "
            f"bytes/row {PQ_M} vs {64 * 8}"
        )
        if reps == 10:
            dw, drows = timed_oracle(ORACLE_PQ_ADC, "embeddings", path)
            got = sorted((r.vec_id, round(r.adc_dist, 4)) for r in adc)
            want = sorted((r[0], round(r[1], 4)) for r in drows)
            assert got == want, f"engine disagreement at 10x: {got} {want}"
            print(f"pq n={n:>7}: duckdb twin {dw:.2f}s, rows equal: True")


def _phon_dir(reps: int) -> tuple[str, str, int]:
    """Amplified part table served through a symlinked dir so the
    EXACT lane code reads it (lane reads <dir>/part.parquet)."""
    path, n = amplify("part", "p_partkey", reps, OUT)
    d = f"{OUT}/phon_x{reps}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "part.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(path), link)
    return d, path, n


def probe_phon() -> None:
    import pyspark.sql.functions as F

    from spotify_etl_aws_spark.operators.linkage import block_census, fs_link
    from spotify_etl_aws_spark.queries.selection import (
        ORACLE_PHON_LINK,
        link_part_phonetic,
    )
    from spotify_etl_aws_spark.queries.lanes_linkage import (
        PHON_FS_THRESHOLD,
        _phon_blocking,
        _phon_comparators,
        _phon_frames,
    )

    spark = _spark()
    for reps in (1, 3):
        d, path, n = _phon_dir(reps)
        t0 = time.perf_counter()
        rows = link_part_phonetic(spark, d).count()
        spark_w = time.perf_counter() - t0
        dw, drows = timed_oracle(ORACLE_PHON_LINK, "part", path)
        assert rows == len(drows), f"count split at {reps}x: {rows} vs {len(drows)}"
        print(
            f"phon masters={n:>6}: matches={rows:>8} "
            f"({rows / n:.2f}/master) spark={spark_w:.2f}s duckdb={dw:.2f}s",
            flush=True,
        )
    # 10x: census + the CAPPED posture (the uncapped cross product is
    # ~2e8 replica-vs-replica pairs — the degenerate-key regime)
    d, path, n = _phon_dir(10)
    probe, master = _phon_frames(spark, d)
    census = block_census(
        probe, master, "probe_id", "partkey", _phon_blocking()
    )
    top = census.limit(3).collect()
    print(
        "phon 10x census (top blocks): "
        + ", ".join(f"p{r.pass_idx}:{r.block_key}={r.pairs}" for r in top),
        flush=True,
    )
    cap = 1_000_000
    t0 = time.perf_counter()
    capped = fs_link(
        probe, master, "probe_id", "partkey",
        blocking=_phon_blocking(), comparators=_phon_comparators(),
        threshold=PHON_FS_THRESHOLD, max_block_pairs=cap,
    ).count()
    w = time.perf_counter() - t0
    print(
        f"phon masters={n:>6}: capped(max_block_pairs={cap}) "
        f"matches={capped} wall={w:.2f}s",
        flush=True,
    )


def probe_kcenter() -> None:
    from spotify_etl_aws_spark.operators.coreset import kcenter_select
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        KC_DECIMALS,
        KC_K,
    )

    spark = _spark()
    path, n = amplify("embeddings", "vec_id", 100, OUT)
    emb = _emb_frame(spark, path).cache()
    emb.count()
    t0 = time.perf_counter()
    picks = kcenter_select(emb, KC_K, decimals=KC_DECIMALS)
    w = time.perf_counter() - t0
    # numpy replay of the spec
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.array(tbl.column("vec_id"))
    x = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    ux = x / np.linalg.norm(x, axis=1, keepdims=True)
    order = np.argsort(ids)
    chosen = [order[0]]
    want = [(1, int(ids[order[0]]), None)]
    grid = 10.0**KC_DECIMALS
    for rank in range(2, KC_K + 1):
        cos = ux @ ux[chosen].T
        cov = (np.sign(cos) * np.floor(np.abs(cos) * grid + 0.5) / grid).max(axis=1)
        cov[chosen] = np.inf
        best = np.lexsort((ids, cov))[0]
        want.append((rank, int(ids[best]), float(cov[best])))
        chosen.append(best)
    assert picks == want, f"replay split: {picks} vs {want}"
    print(
        f"kcenter n={n}: {KC_K} picks in {w:.2f}s "
        f"({w / (KC_K - 1):.2f}s/scan), replay equal: True"
    )


def probe_mmr() -> None:
    from spotify_etl_aws_spark.operators.coreset import mmr_select
    from spotify_etl_aws_spark.queries.lanes_vector_select import (
        KC_DECIMALS,
        MMR_K,
        MMR_LAM,
        MMR_MU,
    )
    from spotify_etl_aws_spark.queries.vector import QUERY_VEC_ID, _query_vector

    import pyspark.sql.functions as F

    spark = _spark()
    path, n = amplify("embeddings", "vec_id", 100, OUT)
    q = _query_vector(SF_DIR, QUERY_VEC_ID)
    emb = (
        _emb_frame(spark, path)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .cache()
    )
    emb.count()
    t0 = time.perf_counter()
    picks = mmr_select(
        emb, q, MMR_K, lam=MMR_LAM, mu=MMR_MU, decimals=KC_DECIMALS
    )
    w = time.perf_counter() - t0
    # numpy replay (same spec as tests/test_coreset.py::_mmr_replay)
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.array(tbl.column("vec_id"))
    x = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    mask = ids != QUERY_VEC_ID
    ux = x / np.linalg.norm(x, axis=1, keepdims=True)
    uq = np.array(q) / np.linalg.norm(q)
    grid = 10.0**KC_DECIMALS
    rnd = lambda a: np.sign(a) * np.floor(np.abs(a) * grid + 0.5) / grid  # noqa: E731
    mids, mux = ids[mask], ux[mask]
    rel = rnd(mux @ uq)
    best = np.lexsort((mids, -rel))[0]
    want = [(1, int(mids[best]), float(rel[best]), None)]
    chosen = [best]
    ms = np.full(len(mids), -np.inf)
    for rank in range(2, MMR_K + 1):
        ms = np.maximum(ms, rnd(mux @ mux[chosen[-1]]))
        score = MMR_LAM * rel - MMR_MU * ms
        score[chosen] = -np.inf
        b = np.lexsort((mids, -score))[0]
        want.append((rank, int(mids[b]), float(rel[b]), float(score[b])))
        chosen.append(b)
    assert picks == want, f"mmr replay split: {picks} vs {want}"
    print(f"mmr n={n}: {MMR_K} picks in {w:.2f}s, replay equal: True", flush=True)


def probe_ewma() -> None:
    import duckdb

    from spotify_etl_aws_spark.queries.selection import (
        ORACLE_EWMA,
        ts_ewma_dyadic,
    )

    spark = _spark()
    for reps in (10, 30):
        path, n = amplify("events", "event_id", reps, OUT)
        d = f"{OUT}/ewma_x{reps}"
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.abspath(path), link)
        t0 = time.perf_counter()
        sp = (
            ts_ewma_dyadic(spark, d)
            .selectExpr(
                "count(*) AS n",
                "sum(cents) AS sc",
                "sum(ewma * 4096) AS se",  # *2^12: every term integer
            )
            .collect()[0]
        )
        spark_w = time.perf_counter() - t0
        con = duckdb.connect(config={"threads": "32"})
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')"
        )
        t0 = time.perf_counter()
        dk = con.execute(
            f"SELECT count(*), sum(cents), sum(ewma * 4096)"
            f" FROM ({ORACLE_EWMA})"
        ).fetchone()
        duck_w = time.perf_counter() - t0
        assert (sp.n, sp.sc, int(sp.se)) == (dk[0], dk[1], int(dk[2])), (
            f"ewma checksum split at {reps}x: {tuple(sp)} vs {dk}"
        )
        print(
            f"ewma rows={n:>7}: spark={spark_w:.2f}s duckdb={duck_w:.2f}s"
            f" checksums equal: True",
            flush=True,
        )


if __name__ == "__main__":
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which in ("pq", "all"):
        probe_pq()
    if which in ("phon", "all"):
        probe_phon()
    if which in ("kcenter", "all"):
        probe_kcenter()
    if which in ("mmr", "all"):
        probe_mmr()
    if which in ("ewma", "all"):
        probe_ewma()
