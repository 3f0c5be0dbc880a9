"""Benchmark decontamination (north-star, SURVEY.md §2.11c): drop
training documents that overlap an evaluation set — the standard
pre-training hygiene step (n-gram collision against held-out
benchmarks), run before packing.

Scale shape: the BENCHMARK side is small (eval suites are 1e3-1e6
rows) and collapses to a distinct-shingle set that BROADCASTS; the
corpus side pays one shingle pass and a broadcast semi/inner join —
the 100 TB corpus is never shuffled on text, and non-colliding
documents never leave their scan partition. Shingle width defaults to
8 tokens (the window eval-contamination checks conventionally use —
wide enough that natural-language collisions are evidence of true
overlap, narrow enough to catch partial quotes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_table

DEFAULT_SHINGLE_N = 8


def benchmark_overlap(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Per-document contamination evidence: (id, n_hit_shingles) for
    every corpus document sharing at least one ``shingle_n``-gram with
    the benchmark set. Documents with zero overlap are absent — at
    corpus scale the hit set is tiny and the absence IS the signal."""
    bench_sh = (
        shingle_table(
            bench.select(
                F.monotonically_increasing_id().alias("__bid"),
                F.col(bench_text_col or text_col).alias(text_col),
            ),
            "__bid",
            text_col,
            shingle_n,
        )
        .select("shingle")
        .distinct()
    )
    # count_distinct dedups (id, shingle) in the same aggregation —
    # no separate dropDuplicates pass on the corpus-side hot path
    corpus_sh = shingle_table(docs, id_col, text_col, shingle_n)
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_hit_shingles"))
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    shingle_n: int = DEFAULT_SHINGLE_N,
    min_hits: int = 1,
) -> DataFrame:
    """The corpus minus documents with >= ``min_hits`` distinct
    benchmark n-grams: one broadcast overlap pass + one anti-join on
    id. ``min_hits`` > 1 tolerates incidental single-window collisions
    on short/formulaic text."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    flagged = benchmark_overlap(
        docs, bench, id_col, text_col, bench_text_col, shingle_n
    ).filter(F.col("n_hit_shingles") >= min_hits)
    return docs.join(flagged.select(id_col), id_col, "left_anti")


def semantic_overlap(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    bench_vec_col: str | None = None,
    max_bench: int = 1_000_000,
    bench_chunk: int = 4096,
) -> DataFrame:
    """Embedding-space contamination evidence: (id, max_cosine) — each
    corpus document's maximum cosine similarity against ANY benchmark
    embedding. The semantic complement of ``benchmark_overlap``:
    n-gram windows catch verbatim and near-verbatim quotes, embedding
    cosine catches paraphrases and translations that share no 8-gram.

    Same scale posture as the n-gram pass: the BENCH side is small by
    nature (eval suites) and collapses to an L2-normalized matrix that
    ships in the task closure (``max_bench`` guards the collect —
    loudly, not by truncation); the corpus side is ONE map-side Arrow
    kernel, no shuffle, bytes never leave their scan partition. The
    kernel walks the bench matrix in ``bench_chunk`` column blocks so
    peak memory is batch_rows × bench_chunk regardless of bench size.

    NULL/empty/zero-norm corpus vectors score NULL — no evidence, and
    the gate keeps them (same no-evidence posture as NULL text in the
    scoring gates)."""
    import numpy as np
    import pandas as pd

    bcol = bench_vec_col or vec_col
    n_bench = bench.count()
    if n_bench == 0:
        raise ValueError("benchmark set is empty")
    if n_bench > max_bench:
        raise ValueError(
            f"benchmark set has {n_bench} rows > max_bench={max_bench}; "
            "a closure-shipped bench matrix stops being small — raise "
            "max_bench deliberately or pre-reduce the eval set"
        )
    rows = [
        r[0]
        for r in bench.select(bcol).collect()
        if r[0] is not None and len(r[0]) > 0
    ]
    if not rows:
        raise ValueError("benchmark set has no non-null embeddings")
    bm = np.asarray(rows, dtype=np.float64)
    norms = np.linalg.norm(bm, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    bm = bm / norms

    schema = f"{id_col} long, max_cosine double"

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = np.full(len(pdf), np.nan)
            vecs = pdf[vec_col].to_numpy()
            ok = np.array(
                [v is not None and len(v) == bm.shape[1] for v in vecs]
            )
            if ok.any():
                X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])
                xn = np.linalg.norm(X, axis=1, keepdims=True)
                nz = (xn[:, 0] != 0.0) & np.isfinite(xn[:, 0])
                Xn = np.divide(X, np.where(xn == 0.0, 1.0, xn))
                best = np.full(len(X), -np.inf)
                for s in range(0, bm.shape[0], bench_chunk):
                    blk = bm[s : s + bench_chunk]
                    np.maximum(best, (Xn @ blk.T).max(axis=1), out=best)
                best[~nz] = np.nan
                out[ok] = best
            yield pd.DataFrame(
                {id_col: pdf[id_col], "max_cosine": out}
            )

    return docs.select(id_col, vec_col).mapInPandas(gen, schema)
