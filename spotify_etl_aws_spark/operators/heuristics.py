"""Corpus-curation heuristics (north-star, SURVEY.md §2.11c): the
repetition / PII / sampling filters a large-scale training-data
pipeline runs between dedup and packing.

The reference has no curation surface at all (its text columns are
playlist/track names — `/root/reference/models/model.py`), so this
module is pure north-star: the Gopher-style repetition signals
(Rae et al. 2021, "Scaling Language Models", Table A1) and C4-style
scrubbing re-expressed as Spark built-ins.

Scale posture — every operator here is a MAP-SIDE projection:

- ``repetition_stats`` computes all duplicate-line / duplicate-n-gram /
  top-n-gram fractions with higher-order functions over per-document
  arrays (``array_sort`` + shifted-slice ``zip_with`` + ``aggregate``),
  so repetition of a document never becomes a shuffle of its n-grams:
  O(G log G) per doc, zero Exchange, embarrassingly parallel at 100 TB.
- ``scrub_pii`` is a ``regexp_count`` + ``regexp_replace`` chain —
  JVM-side, codegen'd.
- ``stratified_sample_rates`` / ``domain_mix_scaled`` sample by HASH
  threshold (``xxhash64``, same discipline as ``operators/splits.py``),
  not by ``rand()``: a row's fate depends only on (id, salt), so
  samples are reproducible across runs, cluster sizes, AND task
  retries — ``rand()`` sampling silently changes membership when a task
  is re-executed, which at 1000-executor scale is a when, not an if.
  They keep the rate table as a DataFrame and apply it with a broadcast
  join — no driver dict, no O(#domains) expression chain, so a web
  corpus keyed by registrable domain (~10^7 strata) fits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .lineage import cut_lineage_eager

_BUCKETS = 1_000_000


# ------------------------------------------------------------ repetition


def _nonempty_lines(text: Column) -> Column:
    return F.filter(F.split(text, "\n"), lambda l: F.length(F.trim(l)) > 0)


def _word_ngrams(toks: Column, n: int) -> Column:
    """ALL word n-grams (space-joined), duplicates kept — the occurrence
    list the repetition stats need (``functions.text.word_shingles`` is
    the distinct variant used by MinHash)."""
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), m)
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def _adjacent_dup_chars(sorted_arr: Column) -> Column:
    """Sum of lengths of elements equal to their predecessor in a
    sorted array = characters contained in repeated occurrences (every
    occurrence beyond the first counts once)."""
    m = F.greatest(F.size(sorted_arr) - 1, F.lit(0))
    per = F.zip_with(
        F.slice(sorted_arr, 2, m),
        F.slice(sorted_arr, 1, m),
        lambda a, b: F.when(a == b, F.length(a)).otherwise(F.lit(0)),
    )
    return F.aggregate(per, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _top_run_chars(sorted_arr: Column) -> Column:
    """max(run_length * element_chars) over equal-element runs of a
    sorted array — the characters covered by the most frequent element.
    One aggregate pass with (prev, run, best) struct state."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run * F.length(x)).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc.best)


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ngrams: tuple[int, ...] = (2, 3, 4),
    dup_ngrams: tuple[int, ...] = (5, 10),
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document repetition signals, Gopher Table A1 shape:

    - ``dup_line_frac``: duplicated lines / non-empty lines
    - ``dup_line_char_frac``: chars in repeated line occurrences / chars
      in all non-empty lines
    - ``top_{n}gram_char_frac``: chars covered by the single most
      frequent word n-gram / chars in the document (n in top_ngrams)
    - ``dup_{n}gram_char_frac``: chars in repeated word-n-gram
      occurrences / chars in the document (n in dup_ngrams)

    "Chars" counts the space-joined gram text (occurrences beyond the
    first, overlap-unaware) — the cheap single-pass variant; thresholds
    should be calibrated against THIS definition. Everything is
    higher-order functions over per-doc arrays: no explode, no shuffle.
    """
    text = F.col(text_col)
    toks = tokens(text_col)
    lines = _nonempty_lines(text)
    n_lines = F.size(lines)
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    slines = F.array_sort(lines)
    total_chars = F.length(text).cast("long")

    cols = [
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.size(toks).alias("n_tokens"),
        n_lines.alias("n_lines"),
        F.when(
            n_lines > 0,
            1.0 - F.size(F.array_distinct(lines)) / n_lines,
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
        F.when(line_chars > 0, _adjacent_dup_chars(slines) / line_chars)
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
    ]
    for n in top_ngrams:
        grams = F.array_sort(_word_ngrams(toks, n))
        cols.append(
            F.when(
                (total_chars > 0) & (F.size(grams) > 0),
                _top_run_chars(grams) / total_chars,
            )
            .otherwise(F.lit(0.0))
            .alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ngrams:
        grams = F.array_sort(_word_ngrams(toks, n))
        cols.append(
            F.when(
                (total_chars > 0) & (F.size(grams) > 0),
                _adjacent_dup_chars(grams) / total_chars,
            )
            .otherwise(F.lit(0.0))
            .alias(f"dup_{n}gram_char_frac")
        )
    return docs.select(*cols)


def repetition_gate(
    stats: DataFrame,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_2gram_char_frac: float = 0.20,
    max_dup_5gram_char_frac: float = 0.15,
) -> DataFrame:
    """Filter a ``repetition_stats`` frame to documents under the
    (Gopher-shaped) repetition thresholds."""
    return stats.filter(
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top_2gram_char_frac") <= max_top_2gram_char_frac)
        & (F.col("dup_5gram_char_frac") <= max_dup_5gram_char_frac)
    )


# --------------------------------------------------- Gopher quality


# Rae et al. 2021 (Gopher), Table A1 — the canonical required-word
# list for the stopword floor ("must contain >= 2 of ...").
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLET_PREFIXES = ("\u2022", "\u2023", "\u25aa", "\u25cf", "-", "*")


def gopher_quality_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document Gopher quality signals (Rae et al. 2021, Table A1
    — the document-level half; the repetition half lives in
    ``repetition_stats``):

    - ``n_words``: whitespace word count
    - ``mean_word_len``: mean characters per word
    - ``symbol_word_ratio``: ('#' count + ellipsis count) / words
    - ``bullet_line_frac``: lines starting with a bullet / lines
    - ``ellipsis_line_frac``: lines ending with an ellipsis / lines
    - ``alpha_word_frac``: words containing >= 1 [a-z] char / words
    - ``required_word_hits``: distinct hits among the canonical
      "the/be/to/of/and/that/have/with" list

    All higher-order functions over per-doc arrays: no explode, no
    shuffle (plan-pinned in tests, same posture as the repetition
    stats)."""
    text = F.col(text_col)
    toks = tokens(text_col)
    words = F.filter(toks, lambda t: t != "")
    n_words = F.size(words)
    lines = _nonempty_lines(text)
    n_lines = F.size(lines)
    char_sum = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    # count both the three-dot spelling and the single-char ellipsis
    n_ellipsis = (
        F.length(text)
        - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3 + (
        F.length(text) - F.length(F.replace(text, F.lit("\u2026"), F.lit("")))
    )
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin(*_BULLET_PREFIXES),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...")
            | F.rtrim(l).endswith("\u2026"),
        )
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    required_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
            lambda w: F.array_contains(words, w),
        )
    )
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        n_words.alias("n_words"),
        F.when(n_words > 0, char_sum / n_words)
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.when(n_words > 0, (n_hash + n_ellipsis) / n_words)
        .otherwise(F.lit(0.0))
        .alias("symbol_word_ratio"),
        F.when(n_lines > 0, bullet_lines / n_lines)
        .otherwise(F.lit(0.0))
        .alias("bullet_line_frac"),
        F.when(n_lines > 0, ellipsis_lines / n_lines)
        .otherwise(F.lit(0.0))
        .alias("ellipsis_line_frac"),
        F.when(n_words > 0, alpha_words / n_words)
        .otherwise(F.lit(0.0))
        .alias("alpha_word_frac"),
        required_hits.alias("required_word_hits"),
    )


def gopher_quality_gate(
    stats: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.90,
    max_ellipsis_line_frac: float = 0.30,
    min_alpha_word_frac: float = 0.80,
    min_required_word_hits: int = 2,
) -> DataFrame:
    """Filter a ``gopher_quality_stats`` frame with the paper's Table
    A1 thresholds (defaults are the published numbers; Gopher states
    the bullet rule as "90% of lines must NOT start with a bullet",
    i.e. at most 90% may — practical pipelines usually tighten it)."""
    return stats.filter(
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("required_word_hits") >= min_required_word_hits)
    )


# ------------------------------------------------------------------ PII

# Order matters: emails carry dots and digits, so scrub them before the
# looser phone/IP patterns can chew on their pieces.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d().\- ]{6,}\d", "<PHONE>"),
)


def scrub_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, scrubbed text, per-kind match counts, pii_total) — C4-style
    PII redaction as a pure ``regexp_count`` + ``regexp_replace`` chain
    (JVM, codegen'd; counts are taken on the text each pattern actually
    sees, i.e. after the earlier patterns' replacements)."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(scrubbed, F.lit(pat)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    out = docs.select(F.col(id_col), scrubbed.alias(text_col), *counts)
    return out.withColumn(
        "pii_total", sum(F.col(f"n_{name}") for name, _, _ in PII_PATTERNS)
    )


# ------------------------------------------------------- hash sampling


def stratified_sample_rates(
    df: DataFrame,
    rates: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "v1",
    rate_col: str = "rate",
) -> DataFrame:
    """Deterministic per-stratum hash sampling with the rate table as a
    DATAFRAME — the web-scale path (~10^7 registrable-domain strata,
    where a driver dict / per-stratum expression chain cannot exist).

    ``rates`` carries one row per stratum (``strata_col``,
    ``rate_col`` in [0, 1]); it is broadcast-joined onto ``df`` (inner
    join — strata absent from ``rates`` are dropped), then a
    deterministic hash threshold keeps
    ``pmod(xxhash64(salt, id), B) < bround(rate*B)``. The corpus side
    never shuffles: a broadcast hash join is map-side. Out-of-range
    rates surface as a loud runtime failure rather than a silent
    over-sample (raise_error branch, checked per row on the
    broadcast-small rate table)."""
    checked = F.when(
        (F.col(rate_col) < 0) | (F.col(rate_col) > 1),
        F.raise_error(
            F.concat(
                F.lit(f"{rate_col} out of [0,1] for stratum: "),
                F.col(strata_col).cast("string"),
            )
        ),
    ).otherwise(F.col(rate_col))
    rt = rates.select(
        F.col(strata_col), checked.alias("__rate")
    )
    bucket = F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(_BUCKETS))
    # bround = HALF_EVEN (banker's rounding) at .5-midpoint rates
    return (
        df.join(F.broadcast(rt), strata_col, "inner")
        .filter(bucket < F.bround(F.col("__rate") * _BUCKETS).cast("long"))
        .drop("__rate")
    )


def domain_mix_scaled(
    df: DataFrame,
    domain_col: str,
    temperature: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> tuple[DataFrame, DataFrame]:
    """Temperature domain mixing at web-scale stratum cardinality: the
    rate table lives as a DataFrame end-to-end, never as a driver dict.

    Target shares q_d ∝ p_d^T (T=1 keeps the natural mix, T=0 equalizes
    domains) become downsample-only rates normalized by the peak
    relative upweight. Driver state is THREE scalars, not O(#domains):

    1. per-domain counts: one partial-aggregating shuffle, kept
       distributed (cached — it feeds two scalar aggs and the rate
       projection);
    2. ``total = Σ n_d`` and ``snt = Σ n_d^T`` — one single-row agg
       (shares cancel: (n/total)^T / Σ(n/total)^T = n^T / snt);
    3. ``peak = max_d rel_d`` with rel_d = (n_d^T/snt)·(total/n_d) —
       one more single-row agg;
    4. rates projected onto the counts DataFrame and applied via
       ``stratified_sample_rates`` (broadcast join, corpus never
       shuffles).

    Returns (sampled df, rates DataFrame with columns [domain_col,
    rate])."""
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    counts = (
        df.groupBy(F.col(domain_col))
        .agg(F.count("*").cast("double").alias("__n"))
        .cache()
    )
    try:
        head = counts.agg(
            F.sum("__n").alias("total"),
            F.sum(F.pow("__n", F.lit(float(temperature)))).alias("snt"),
        ).collect()
        if not head or head[0]["total"] is None:
            empty_rates = counts.select(
                F.col(domain_col), F.lit(1.0).alias("rate")
            ).transform(cut_lineage_eager)
            return df.limit(0), empty_rates
        total, snt = float(head[0]["total"]), float(head[0]["snt"])
        rel = (F.pow("__n", F.lit(float(temperature))) / F.lit(snt)) * (
            F.lit(total) / F.col("__n")
        )
        peak = float(counts.agg(F.max(rel)).collect()[0][0])
        # materialize the rate table (cuts lineage to the cached
        # counts) so the cache can be released before returning —
        # otherwise every call pins a #domains-row relation in
        # executor storage for the application lifetime
        rates = counts.select(
            F.col(domain_col), (rel / F.lit(peak)).alias("rate")
        ).transform(cut_lineage_eager)
    finally:
        counts.unpersist()
    return (
        stratified_sample_rates(df, rates, domain_col, id_col, salt),
        rates,
    )


def unimax_allocation(
    counts: dict[str, float], budget: float, max_epochs: float = 4.0
) -> dict[str, float]:
    """UniMax budget water-filling (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): split a token ``budget`` as evenly as possible
    across strata, capping every stratum at ``max_epochs`` passes over
    its own ``counts[l]`` tokens.

    Walking strata by ascending capacity, each takes
    ``min(cap_l, remaining_budget / remaining_strata)`` — once a small
    stratum hits its epoch cap, its unused share flows to the larger
    ones (the classic water-filling recurrence; a capped stratum can
    never reclaim budget later because caps only grow along the walk).
    Returns the per-stratum token allocation; Σ alloc == budget unless
    total capacity < budget (then every stratum just gets its cap).

    Driver-side O(#strata log #strata) — strata here are languages or
    source lanes (dozens to hundreds), model state like a quantizer
    fit; this is NOT a per-registrable-domain tool."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    for k, v in counts.items():
        if v < 0:
            raise ValueError(f"count for {k!r} must be >= 0, got {v}")
    order = sorted(counts, key=lambda k: (counts[k] * max_epochs, k))
    alloc: dict[str, float] = {}
    rem_budget = float(budget)
    rem = len(order)
    for lang in order:
        share = rem_budget / rem
        take = min(counts[lang] * max_epochs, share)
        alloc[lang] = take
        rem_budget -= take
        rem -= 1
    return alloc
