"""Fellegi-Sunter record linkage (operators/linkage.py): hand-scored
planted pairs, blocking-pass union semantics (pair caught by both
passes scores once), threshold gate, validation errors, and the
no-cartesian plan pin."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.linkage import Comparator, fs_link


def _frames(spark):
    probe = spark.createDataFrame(
        [
            (1, "alice smith", "555-1234", 100),   # clean match to m1
            (2, "alicx smith", "555-9999", 105),   # name lev1, phone off
            (3, "zz nobody", "555-1234", 100),     # phone block, name off
            (4, "bob jones", "777-0000", 500),     # clean match to m4
        ],
        "pid long, name string, phone string, bal long",
    )
    master = spark.createDataFrame(
        [
            (1, "alice smith", "555-1234", 101),
            (4, "bob jones", "777-0000", 500),
            (9, "carol white", "888-1111", 42),
        ],
        "mid long, name string, phone string, bal long",
    )
    return probe, master


def _link(spark, threshold):
    probe, master = _frames(spark)
    comparators = [
        Comparator(
            "name",
            F.levenshtein(F.col("p_name"), F.col("m_name")) <= 1,
            40,
            -25,
        ),
        Comparator("phone", F.col("p_phone") == F.col("m_phone"), 30, -15),
        Comparator(
            "bal", F.abs(F.col("p_bal") - F.col("m_bal")) <= 10, 15, -10
        ),
    ]
    blocking = [
        # both passes hit for clean matches -> union must dedup
        (F.substring(F.col("p_name"), 1, 3), F.substring(F.col("m_name"), 1, 3)),
        (F.col("p_phone"), F.col("m_phone")),
    ]
    out = fs_link(
        probe, master, "pid", "mid",
        blocking=blocking, comparators=comparators, threshold=threshold,
    )
    return {(r.pid, r.mid): r.score for r in out.collect()}


def test_hand_scored_pairs(spark):
    got = _link(spark, threshold=45)
    # pid1-m1: 40+30+15 = 85; pid2-m1: 40-15+15 = 40 (below 45);
    # pid3-m1: -25+30+15 = 20; pid4-m4: 85
    assert got == {(1, 1): 85, (4, 4): 85}
    # lower threshold admits the name-agree/phone-off pair exactly once
    got40 = _link(spark, threshold=40)
    assert got40 == {(1, 1): 85, (4, 4): 85, (2, 1): 40}


def test_agree_flags(spark):
    probe, master = _frames(spark)
    out = fs_link(
        probe, master, "pid", "mid",
        blocking=[(F.col("p_phone"), F.col("m_phone"))],
        comparators=[
            Comparator("phone", F.col("p_phone") == F.col("m_phone"), 30, -15),
            Comparator(
                "name",
                F.levenshtein(F.col("p_name"), F.col("m_name")) <= 1,
                40,
                -25,
            ),
        ],
        threshold=0,
    ).collect()
    by_pair = {(r.pid, r.mid): (r.phone_agree, r.name_agree) for r in out}
    assert by_pair[(1, 1)] == (True, True)
    assert by_pair[(3, 1)] == (True, False)


def test_validation(spark):
    probe, master = _frames(spark)
    with pytest.raises(ValueError, match="blocking"):
        fs_link(probe, master, "pid", "mid", blocking=[],
                comparators=[Comparator("x", F.lit(True), 1, -1)],
                threshold=0)
    with pytest.raises(ValueError, match="comparator"):
        fs_link(probe, master, "pid", "mid",
                blocking=[(F.col("p_phone"), F.col("m_phone"))],
                comparators=[], threshold=0)


def test_best_match_resolves_ties_deterministically(spark):
    from spotify_etl_aws_spark.operators.linkage import fs_best_match

    linked = spark.createDataFrame(
        [(1, 10, 80), (1, 11, 90), (1, 12, 90), (2, 10, 50)],
        "pid long, mid long, score long",
    )
    got = {(r.pid, r.mid) for r in fs_best_match(linked, "pid", "mid").collect()}
    assert got == {(1, 11), (2, 10)}  # max score, then smallest mid


def test_em_recovers_separating_weights(spark):
    import math
    import random

    from spotify_etl_aws_spark.operators.linkage import fs_learn_weights

    # planted two-class data: 200 matches (name agrees 95%, phone 90%),
    # 1800 non-matches (name 5%, phone 2%) — EM must recover m >> u and
    # hence strongly positive agreement weights for both fields
    rng = random.Random(17)
    rows = []
    for i in range(2000):
        match = i < 200
        rows.append(
            (
                i,
                rng.random() < (0.95 if match else 0.05),
                rng.random() < (0.90 if match else 0.02),
            )
        )
    df = spark.createDataFrame(rows, "pid long, name_agree boolean, phone_agree boolean")
    fit = fs_learn_weights(df, ["name", "phone"], iters=15)
    assert 0.05 < fit["p"] < 0.2  # ~10% matches
    for f in ("name", "phone"):
        assert fit["m"][f] > 0.7, fit
        assert fit["u"][f] < 0.15, fit
        assert fit["w_agree"][f] > 2.0  # log2(m/u) strongly positive
        assert fit["w_disagree"][f] < -1.0
    # parity with a local numpy-free reference EM (same init, same iters)
    def ref_em(data, iters=15, p=0.1, m0=0.9, u0=0.1):
        m = {0: m0, 1: m0}
        u = {0: u0, 1: u0}
        eps = 1e-6
        clamp = lambda x: min(max(x, eps), 1 - eps)  # noqa: E731
        for _ in range(iters):
            sw = 0.0
            mw = {0: 0.0, 1: 0.0}
            uw = {0: 0.0, 1: 0.0}
            for g0, g1 in data:
                lm = math.log(p)
                lu = math.log(1 - p)
                for k, g in ((0, g0), (1, g1)):
                    lm += math.log(m[k]) if g else math.log(1 - m[k])
                    lu += math.log(u[k]) if g else math.log(1 - u[k])
                w = 1.0 / (1.0 + math.exp(lu - lm))
                sw += w
                for k, g in ((0, g0), (1, g1)):
                    if g:
                        mw[k] += w
                        uw[k] += 1 - w
            n = len(data)
            p = clamp(sw / n)
            for k in (0, 1):
                m[k] = clamp(mw[k] / sw)
                u[k] = clamp(uw[k] / (n - sw))
        return p, m, u

    rp, rm, ru = ref_em([(r[1], r[2]) for r in rows])
    assert abs(fit["p"] - rp) < 1e-9
    assert abs(fit["m"]["name"] - rm[0]) < 1e-9
    assert abs(fit["u"]["phone"] - ru[1]) < 1e-9


def test_em_requires_fields(spark):
    from spotify_etl_aws_spark.operators.linkage import fs_learn_weights

    df = spark.createDataFrame([(1, True)], "pid long, x_agree boolean")
    with pytest.raises(ValueError, match="field"):
        fs_learn_weights(df, [])


def test_plan_has_no_cartesian(spark):
    probe, master = _frames(spark)
    plan = (
        fs_link(
            probe, master, "pid", "mid",
            blocking=[
                (F.substring(F.col("p_name"), 1, 3),
                 F.substring(F.col("m_name"), 1, 3)),
                (F.col("p_phone"), F.col("m_phone")),
            ],
            comparators=[
                Comparator("phone", F.col("p_phone") == F.col("m_phone"),
                           30, -15)
            ],
            threshold=0,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_em_rejects_empty_candidate_table(spark):
    from spotify_etl_aws_spark.operators.linkage import fs_learn_weights

    df = spark.createDataFrame([], "pid long, x_agree boolean")
    with pytest.raises(ValueError, match="empty"):
        fs_learn_weights(df, ["x"], iters=1)


def test_block_valve_drops_exactly_the_hot_blocks_pairs(spark):
    """Planted mega-block: one blocking key owns a cross product far
    over the cap. The valve must (a) drop exactly the pairs whose ONLY
    generating block is hot, (b) keep hot-block pairs rescued by the
    complementary pass, (c) never alter scores of surviving pairs —
    the phash valve's capped == uncapped - hot identity, restated for
    two-sided blocks."""
    import random

    from spotify_etl_aws_spark.operators.linkage import block_census

    rng = random.Random(41)
    # masters: 400 in the MEGA city block + 20 cold singleton cities
    masters = [
        (i, f"name{i:04d}", f"ph-{i:04d}", "MEGA") for i in range(400)
    ] + [
        (1000 + i, f"cold{i:02d}", f"cp-{i:02d}", f"city{i}")
        for i in range(20)
    ]
    # probes: 50 in MEGA (every 5th shares a master's phone — the
    # complementary-pass rescue), 10 cold with matching names
    probes = [
        (
            i,
            f"name{i * 7 % 400:04d}",
            f"ph-{i:04d}" if i % 5 else f"ph-{i * 3:04d}",
            "MEGA",
        )
        for i in range(50)
    ] + [
        (100 + i, f"cold{i:02d}", f"px-{i:02d}", f"city{i}")
        for i in range(10)
    ]
    rng.shuffle(masters)
    rng.shuffle(probes)
    pdf = spark.createDataFrame(
        probes, "pid long, name string, phone string, city string"
    )
    mdf = spark.createDataFrame(
        masters, "mid long, name string, phone string, city string"
    )
    blocking = [
        (F.col("p_city"), F.col("m_city")),
        (F.col("p_phone"), F.col("m_phone")),
    ]
    comparators = [
        Comparator(
            "name",
            F.levenshtein(F.col("p_name"), F.col("m_name")) <= 1,
            40,
            -25,
        ),
        Comparator("phone", F.col("p_phone") == F.col("m_phone"), 30, -15),
    ]
    kw = dict(blocking=blocking, comparators=comparators, threshold=5)
    full = {
        (r.pid, r.mid): r.score
        for r in fs_link(pdf, mdf, "pid", "mid", **kw).collect()
    }
    cap = 5000  # MEGA: 50 * 400 = 20,000 pairs; every other block << cap
    capped = {
        (r.pid, r.mid): r.score
        for r in fs_link(
            pdf, mdf, "pid", "mid", max_block_pairs=cap, **kw
        ).collect()
    }
    # census names exactly one over-cap block: (city pass, MEGA)
    census = block_census(pdf, mdf, "pid", "mid", blocking).collect()
    hot = [r for r in census if r.pairs > cap]
    assert [(r.pass_idx, r.block_key, r.pairs) for r in hot] == [
        (0, "MEGA", 20000)
    ]
    p_by_id = {p[0]: p for p in probes}
    m_by_id = {m[0]: m for m in masters}
    survives = {
        pair: s
        for pair, s in full.items()
        if p_by_id[pair[0]][2] == m_by_id[pair[1]][2]  # phone pass
        or p_by_id[pair[0]][3] != "MEGA"  # cold city pass
    }
    assert capped == survives  # exact: dropped == hot-only, scores intact
    assert set(capped) < set(full)  # the valve really dropped something
    # the rescue path is exercised: hot-block pairs with agreeing
    # phones survived via the complementary pass
    rescued = [
        pair for pair in capped if p_by_id[pair[0]][3] == "MEGA"
    ]
    assert rescued, "expected phone-pass rescues inside the hot block"


def test_int_weights_floor_half_up_formula():
    from spotify_etl_aws_spark.operators.linkage import fs_int_weights

    fit = {
        "w_agree": {"a": 2.74, "b": 2.75, "c": 0.04},
        "w_disagree": {"a": -2.74, "b": -2.75, "c": -0.06},
    }
    iw = fs_int_weights(fit, scale=10)
    # floor(x*10 + 0.5): half-up toward +inf on BOTH signs (the
    # cross-engine formula — not Python round()'s banker's rounding)
    assert iw["w_agree"] == {"a": 27, "b": 28, "c": 0}
    assert iw["w_disagree"] == {"a": -27, "b": -27, "c": -1}


def test_em_decimals_rounds_parameters_onto_the_grid(spark):
    import random

    from spotify_etl_aws_spark.operators.linkage import fs_learn_weights

    rng = random.Random(43)
    rows = [
        (i, rng.random() < (0.9 if i < 100 else 0.1))
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "pid long, x_agree boolean")
    fit = fs_learn_weights(df, ["x"], iters=4, decimals=6)
    for v in [fit["p"], fit["m"]["x"], fit["u"]["x"]]:
        # every parameter sits exactly on the 1e-6 grid
        assert v == round(v * 1e6) / 1e6
    # and the run is reproducible bit-for-bit
    fit2 = fs_learn_weights(df, ["x"], iters=4, decimals=6)
    assert fit == fit2


def test_clerical_bands_partition_and_purity(spark, sf_dir):
    """The two-threshold F-S decision rule: the match band IS the
    declared linkage output, the clerical band fills
    [FS_CLERICAL_LOW, FS_THRESHOLD), both bands are non-empty, and
    purity rows reproduce the banded counts."""
    from spotify_etl_aws_spark.queries.lanes_linkage import (
        FS_CLERICAL_LOW,
        FS_THRESHOLD,
    )
    from spotify_etl_aws_spark.queries.selection import (
        link_band_purity,
        link_clerical_bands,
        link_customer_records,
    )

    bands = link_clerical_bands(spark, sf_dir).collect()
    match = {(r.probe_id, r.custkey) for r in bands if r.band == "match"}
    cler = {(r.probe_id, r.custkey) for r in bands if r.band == "clerical"}
    assert match and cler
    for r in bands:
        if r.band == "match":
            assert r.score >= FS_THRESHOLD
        else:
            assert FS_CLERICAL_LOW <= r.score < FS_THRESHOLD
    declared = {
        (r.probe_id, r.custkey)
        for r in link_customer_records(spark, sf_dir).collect()
    }
    assert match == declared  # upper band == the auto-accept lane
    purity = {r.band: r for r in link_band_purity(spark, sf_dir).collect()}
    assert purity["match"].n_pairs == len(match)
    assert purity["clerical"].n_pairs == len(cler)
    for r in purity.values():
        assert 0.0 <= r.purity <= 1.0


def test_pseudonymize_release_leaks_nothing(spark, sf_dir):
    """The released frame must carry no raw direct identifier: tokens
    are md5-derived (no name substring), the masked phone exposes only
    its last four digits, tokenization is deterministic and 1:1 on
    this fixture (re-linkable with the key table, not without), and
    the band generalizes to $100 granularity."""
    from spotify_etl_aws_spark.queries.lanes_linkage import _fs_frames
    from spotify_etl_aws_spark.queries.selection import dq_pseudonymize

    probe, _ = _fs_frames(spark, sf_dir)
    raw = {r.probe_id: (r.name, r.phone) for r in probe.collect()}
    out = dq_pseudonymize(spark, sf_dir).collect()
    assert len(out) == len(raw)
    names = {n for n, _ in raw.values()}
    tokens = [r.token for r in out]
    assert len(set(tokens)) == len(set(names))  # deterministic 1:1
    from spotify_etl_aws_spark.queries.lanes_linkage import _PSEUDO_HEX

    for r in out:
        assert r.token.startswith("u-") and len(r.token) == 2 + _PSEUDO_HEX
        masked = r.phone_masked
        assert set(masked[:-4]) == {"*"} and masked[-4:].isdigit()
        assert r.acct_band % 100 == 0
    # no raw name survives anywhere in the release
    for r in out:
        assert not any(n in r.token for n in names)
