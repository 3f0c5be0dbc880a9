"""Curation-heuristics operators (operators/heuristics.py): Gopher-style
repetition stats, PII scrubbing, deterministic hash sampling, domain
mixing, UniMax allocation. Planted fixtures with hand-computed
expectations; plan pins for the map-side-only claims."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.heuristics import (
    domain_mix_scaled,
    repetition_gate,
    repetition_stats,
    scrub_pii,
    stratified_sample_rates,
)


def _stats_row(spark, text: str):
    df = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
    return repetition_stats(df).collect()[0]


def test_repetition_stats_planted_lines(spark):
    # 4 non-empty lines, "dup" appears 3x -> 2 duplicated-beyond-first
    text = "dup\ndup\n\nuniq\ndup"
    r = _stats_row(spark, text)
    assert r.n_lines == 4
    assert r.dup_line_frac == pytest.approx(1 - 2 / 4)
    # repeated occurrences: 2 extra "dup" lines of 3 chars over the 13
    # chars of all non-empty lines (dup+dup+uniq+dup = 3+3+4+3)
    assert r.dup_line_char_frac == pytest.approx(6 / 13)


def test_repetition_stats_top_and_dup_ngrams(spark):
    # "a b" bigram occurs 3x in "a b a b a b" (overlapping: positions
    # 1,3,5 -> also "b a" 2x). top bigram = "a b": 3 occurrences * 3
    # chars = 9 over 11 total chars.
    text = "a b a b a b"
    r = _stats_row(spark, text)
    assert r.top_2gram_char_frac == pytest.approx(9 / 11)
    # no 5-grams repeated (only two 5-gram windows, distinct)
    assert r.dup_5gram_char_frac == pytest.approx(
        # windows: "a b a b a" and "b a b a b" -> distinct -> 0
        0.0
    )

    # a 12-token doc that repeats one 5-gram: "w1..w5" twice then filler
    text2 = "p q r s t p q r s t x y"
    r2 = _stats_row(spark, text2)
    # sorted 5-gram windows: "p q r s t" occurs at positions 1 and 6
    # -> one repeated occurrence of 9 chars over 23 chars
    assert r2.dup_5gram_char_frac == pytest.approx(9 / 23)


def test_repetition_stats_degenerate_docs(spark):
    r = _stats_row(spark, "")
    assert r.dup_line_frac == 0.0 and r.dup_line_char_frac == 0.0
    assert r.top_2gram_char_frac == 0.0 and r.dup_10gram_char_frac == 0.0
    r1 = _stats_row(spark, "single")
    assert r1.n_lines == 1 and r1.dup_line_frac == 0.0
    assert r1.top_2gram_char_frac == 0.0  # no bigrams in a 1-token doc


def test_repetition_gate_filters_spam(spark):
    spam = "buy now " * 50
    clean = " ".join(f"w{i} x{i * 7} y{i + 13}" for i in range(40))
    df = spark.createDataFrame(
        [(0, spam), (1, clean)], "doc_id bigint, text string"
    )
    kept = [r.doc_id for r in repetition_gate(repetition_stats(df)).collect()]
    assert kept == [1]


def test_repetition_stats_no_shuffle(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id bigint, text string")
    plan = repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [
            (0, "mail alice@example.com or bob.smith+x@sub.co.uk now"),
            (1, "server at 10.0.255.3, call +1 (415) 555-0199 today"),
            (2, "no pii here"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert rows[0].n_email == 2 and rows[0].pii_total == 2
    assert "alice@example.com" not in rows[0].text
    assert rows[0].text.count("<EMAIL>") == 2
    assert rows[1].n_ip == 1 and rows[1].n_phone == 1
    assert "<IP>" in rows[1].text and "<PHONE>" in rows[1].text
    assert "555" not in rows[1].text
    assert rows[2].pii_total == 0 and rows[2].text == "no pii here"


def test_domain_mix_temperatures(spark):
    df = spark.range(12000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 6 == 0, "rare").otherwise("common").alias("src"),
    )

    def mix(t):
        out, rates = domain_mix_scaled(df, "src", temperature=t)
        return out, {r.src: r.rate for r in rates.collect()}

    # T=1: natural mix — every rate is 1.0, nothing dropped
    full, rates = mix(1.0)
    assert rates == pytest.approx({"rare": 1.0, "common": 1.0}, abs=1e-12)
    assert full.count() == 12000
    # T=0: equalize — rare keeps all, common downsamples to rare's size
    eq, rates0 = mix(0.0)
    assert rates0["rare"] == pytest.approx(1.0)
    assert rates0["common"] == pytest.approx(2000 / 10000)
    got = {r.src: r.n for r in eq.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert got["rare"] == 2000
    assert got["common"] == pytest.approx(2000, rel=0.1)
    # 0<T<1 flattens monotonically: common's rate between T=0 and T=1
    _, rates_half = mix(0.5)
    assert rates0["common"] < rates_half["common"] < 1.0
    # deterministic: the same rows on every call
    again, _ = mix(0.0)
    assert sorted(r.doc_id for r in again.collect()) == sorted(
        r.doc_id for r in eq.collect()
    )


def test_domain_mix_scaled_high_cardinality_web_domains(spark):
    """The web-scale posture: 20k registrable domains (standing in for
    10^7). Deterministic across calls, fraction-faithful per the rate
    table, and the corpus apply side is a BROADCAST join — no driver
    dict, no per-stratum expression chain, no corpus shuffle."""
    n_domains = 20_000
    # skewed domain sizes: domain d gets 1 + (d % 13) docs
    df = spark.range(140_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("host"), (F.col("id") % n_domains).cast("string"), F.lit(".com")
        ).alias("domain"),
    )
    s1, rates = domain_mix_scaled(df, "domain", temperature=0.5)
    s2, _ = domain_mix_scaled(df, "domain", temperature=0.5)
    assert rates.count() == n_domains
    c1 = sorted(r.doc_id for r in s1.collect())
    assert c1 == sorted(r.doc_id for r in s2.collect())
    # fraction fidelity: total kept ≈ Σ rate_d * n_d
    expected = (
        rates.join(
            df.groupBy("domain").agg(F.count("*").alias("n")), "domain"
        )
        .agg(F.sum(F.col("rate") * F.col("n")))
        .collect()[0][0]
    )
    assert len(c1) == pytest.approx(expected, rel=0.05)
    # plan: the corpus side broadcast-joins the rate table; the only
    # hashpartitioning exchanges belong to the rate COMPUTATION (the
    # per-domain count agg), never re-keying the corpus rows
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_domain_mix_scaled_empty_and_bad_inputs(spark):
    empty = spark.createDataFrame([], "doc_id bigint, src string")
    out, rates = domain_mix_scaled(empty, "src", temperature=0.5)
    assert out.count() == 0 and rates.count() == 0
    with pytest.raises(ValueError, match="temperature"):
        domain_mix_scaled(empty, "src", temperature=-1)
    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("d").alias("src")
    )
    bad = spark.createDataFrame([("d", -0.2)], "src string, rate double")
    with pytest.raises(Exception, match="out of \\[0,1\\]"):
        stratified_sample_rates(df, bad, "src").count()


def test_rates_df_midpoint_rounds_half_even(spark):
    """At a .5-midpoint rate the threshold rounds HALF_EVEN: rate * 1e6
    buckets = 2.5 keeps exactly the rows whose bucket is below 2."""
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"), F.lit("d").alias("src")
    )
    rate = 2.5e-6
    bucket = F.pmod(F.xxhash64(F.lit("v1"), F.col("doc_id")), F.lit(1_000_000))
    want = sorted(r.doc_id for r in df.filter(bucket < 2).collect())
    rates = spark.createDataFrame([("d", rate)], "src string, rate double")
    df_rows = sorted(
        r.doc_id
        for r in stratified_sample_rates(df, rates, "src").collect()
    )
    assert df_rows == want


# ---------------------------- UniMax -------------------------------

from spotify_etl_aws_spark.operators.heuristics import (  # noqa: E402
    unimax_allocation,
)


def test_unimax_allocation_hand_computed():
    # equal share 1000 each; a caps at 200, surplus flows to b and c
    alloc = unimax_allocation({"a": 100, "b": 1000, "c": 10000}, 3000, 2.0)
    assert alloc == {"a": 200.0, "b": 1400.0, "c": 1400.0}
    assert sum(alloc.values()) == 3000.0


def test_unimax_allocation_budget_exceeds_capacity():
    alloc = unimax_allocation({"a": 10, "b": 20}, 10_000, 2.0)
    assert alloc == {"a": 20.0, "b": 40.0}  # every stratum at cap


def test_unimax_allocation_uncapped_even_split():
    alloc = unimax_allocation({"a": 500, "b": 500, "c": 500}, 900, 4.0)
    assert alloc == {"a": 300.0, "b": 300.0, "c": 300.0}


def test_unimax_allocation_bad_args():
    with pytest.raises(ValueError):
        unimax_allocation({"a": 1}, -1, 2.0)
    with pytest.raises(ValueError):
        unimax_allocation({"a": 1}, 10, 0.0)
    with pytest.raises(ValueError):
        unimax_allocation({"a": -5}, 10, 2.0)


# ------------------------ Gopher quality rules ----------------------

from spotify_etl_aws_spark.operators.heuristics import (  # noqa: E402
    gopher_quality_gate,
    gopher_quality_stats,
)

_CLEAN = (
    "the quick brown fox jumps over the lazy dog and then runs back to "
    "the barn with plenty of energy because it is a fine morning and "
    "every animal in the yard seems to have something useful to do "
    "while the farmer watches from the porch with a warm cup of coffee"
)


def test_gopher_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "the cat... sat\n• bullet line\nplain tail...")],
        "doc_id long, text string",
    )
    r = gopher_quality_stats(df).collect()[0]
    # words: the cat... sat • bullet line plain tail... -> 8 tokens
    assert r.n_words == 8
    # '#'-free text, two '...' occurrences -> 2/8
    assert r.symbol_word_ratio == pytest.approx(2 / 8)
    assert r.bullet_line_frac == pytest.approx(1 / 3)
    assert r.ellipsis_line_frac == pytest.approx(1 / 3)  # only 'plain tail...'
    # '•' has no [a-z]
    assert r.alpha_word_frac == pytest.approx(7 / 8)
    assert r.required_word_hits == 1  # 'the'


@pytest.mark.parametrize(
    "mutant, reason",
    [
        ("tiny doc", "word count < 50"),
        (" ".join(["supercalifragilisticexpialidocious"] * 60), "mean word len"),
        (_CLEAN + " " + "### " * 20, "symbol ratio"),
        ("\n".join("• item " + str(i) + " of the and that have with list to be of" for i in range(30)), "bullets"),
        ("\n".join("the line number " + str(i) + " trails off..." for i in range(40)), "ellipsis"),
        (_CLEAN + " " + " ".join(str(i) for i in range(100)), "alpha frac"),
        (" ".join("w" + str(i) for i in range(60)), "required words"),
    ],
)
def test_gopher_gate_drops_each_violation(spark, mutant, reason):
    df = spark.createDataFrame(
        [(0, _CLEAN), (1, mutant)], "doc_id long, text string"
    )
    kept = {
        r.doc_id for r in gopher_quality_gate(gopher_quality_stats(df)).collect()
    }
    assert kept == {0}, f"mutant should fail ({reason})"


def test_gopher_stats_no_shuffle(spark):
    df = spark.createDataFrame([(0, _CLEAN)], "doc_id long, text string")
    plan = (
        gopher_quality_stats(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
