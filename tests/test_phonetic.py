"""Phonetic blocking key (functions/phonetic.py) and the
link_part_phonetic lane: cross-engine parity on a broad string corpus,
the invariances the blocking design relies on, and the lane's recall /
rejection semantics."""

from __future__ import annotations

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.functions.phonetic import (
    phonetic_key,
    phonetic_key_sql,
)


def _corpus() -> list[str]:
    rng = random.Random(20260816)
    words = [
        # classic Soundex vectors + the lane's vocabulary
        "Robert", "Rupert", "robbert", "Ashcraft", "Tymczak", "Pfister",
        "Honeyman", "blue", "old", "small", "hot", "large", "red", "cold",
        "new", "bolt", "plate", "rod", "widget", "gizmo", "anvil", "ring",
        "gear", "", "123", "a", "Y", "hw", "O'Brien", "McDonald",
        "mississippi", "b" * 80,
    ]
    alpha = string.ascii_letters + string.digits + "'-# "
    words += [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 24)))
        for _ in range(400)
    ]
    return words


def test_key_cross_engine_parity(spark):
    """One Spark job + one DuckDB scan over 400+ adversarial strings
    (mixed case, digits, punctuation, empty, 80-char runs): byte-equal
    keys everywhere."""
    words = _corpus()
    got = {
        r.w: r.k
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", phonetic_key(F.col("w")).alias("k"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (w VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(w,) for w in words])
    want = dict(
        con.execute(f"SELECT w, {phonetic_key_sql('w')} FROM t").fetchall()
    )
    assert got == want


def test_key_shape_and_invariances(spark):
    """Every key is 4 chars [A-Z0][0-6]{3}; NON-INITIAL vowel
    substitution and letter doubling never change it (the blocking
    contract — the key keeps the literal first LETTER by design, so an
    initial-letter edit is allowed to move it; the vowel check is
    restricted to letter-initial words, where raw position 1 IS the
    first letter)."""
    words = [w for w in _corpus() if w and w[0].isalpha()]
    rows = (
        spark.createDataFrame([(w,) for w in words], "w string")
        .select(
            "w",
            phonetic_key(F.col("w")).alias("k"),
            phonetic_key(
                F.concat(
                    F.substring(F.col("w"), 1, 1),
                    F.translate(
                        F.substring(F.col("w"), 2, 100),
                        "aeiouAEIOU", "eiouaEIOUA",
                    ),
                )
            ).alias("k_vowel"),
            phonetic_key(
                F.regexp_replace(F.col("w"), "([bdglmnprstBDGLMNPRST])", "$1$1")
            ).alias("k_doubled"),
        )
        .collect()
    )
    import re

    for r in rows:
        assert re.fullmatch(r"[A-Z0][0-6]{3}", r.k), (r.w, r.k)
        assert r.k == r.k_vowel, (r.w, r.k, r.k_vowel)
        assert r.k == r.k_doubled, (r.w, r.k, r.k_doubled)


def test_classic_vectors(spark):
    want = {
        "Robert": "R163",
        "Rupert": "R163",
        "Tymczak": "T522",
        "Pfister": "P236",
        "Honeyman": "H555",
        # documented deviation from Knuth Soundex (A261): H/W are not
        # transparent here, so C and R codes both survive
        "Ashcraft": "A226",
        "": "0000",
        "#42": "0000",
    }
    got = {
        r.w: r.k
        for r in spark.createDataFrame([(w,) for w in want], "w string")
        .select("w", phonetic_key(F.col("w")).alias("k"))
        .collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def lane_rows(spark, sf_dir):
    from spotify_etl_aws_spark.queries.selection import link_part_phonetic

    return link_part_phonetic(spark, sf_dir).collect()


def test_lane_recall_and_rejection(spark, sf_dir, lane_rows):
    """Every non-corrupted probe links to its own master (vowel
    rotation survives phonetic blocking AND scoring); no corrupted
    probe (partkey%7==0: reversed first word + unknown brand) links to
    anything — blocked out of pass 1 by brand and failed by the phon1
    comparator wherever pass 2 catches it."""
    from spotify_etl_aws_spark.sources.readers import load_table

    keys = [
        r.p_partkey for r in load_table(spark, sf_dir, "part")
        .select("p_partkey").collect()
    ]
    matched_self = {r.probe_id for r in lane_rows if r.probe_id == r.partkey}
    corrupt = {k for k in keys if k % 7 == 0}
    intact = set(keys) - corrupt
    assert intact <= matched_self
    probe_ids = {r.probe_id for r in lane_rows}
    assert not (corrupt & probe_ids)


def test_lane_score_algebra(lane_rows):
    """Scores reproduce from the agree flags and the declared weights;
    everything emitted clears the threshold."""
    from spotify_etl_aws_spark.queries.lanes_linkage import (
        PHON_FS_THRESHOLD,
        _PHON_FS_WEIGHTS,
    )

    for r in lane_rows:
        want = sum(
            _PHON_FS_WEIGHTS[f][0] if getattr(r, f + "_agree")
            else _PHON_FS_WEIGHTS[f][1]
            for f in _PHON_FS_WEIGHTS
        )
        assert r.score == want >= PHON_FS_THRESHOLD


def test_lane_plan_is_equi_join_no_udf(spark, sf_dir):
    """Both blocking passes are hash equi-joins on codegen'd string
    expressions: no BroadcastNestedLoop/cartesian, no Python eval in
    the plan."""
    from spotify_etl_aws_spark.queries.selection import link_part_phonetic

    plan = (
        link_part_phonetic(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_capped_lane_is_subset_and_bites_at_sf001(spark):
    """The declared valve lane (link_part_phonetic_capped) emits a
    strict SUBSET of the uncapped lane at sf0.01 — the cap drops hot
    pass-1 blocks from candidate generation, never rewrites a score —
    and every surviving row is bit-identical to its uncapped twin.
    Measured census at sf0.01: pass-1 hot tail reaches 256 pairs, so
    PHON_BLOCK_CAP=200 genuinely bites in the driver's window."""
    import os

    from spotify_etl_aws_spark.queries.selection import (
        link_part_phonetic,
        link_part_phonetic_capped,
    )

    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        import pytest as _pytest

        _pytest.skip("sf0.01 fixture not present")
    full = {
        (r.probe_id, r.partkey): tuple(r)
        for r in link_part_phonetic(spark, sf01).collect()
    }
    capped = {
        (r.probe_id, r.partkey): tuple(r)
        for r in link_part_phonetic_capped(spark, sf01).collect()
    }
    assert set(capped) < set(full)  # strict subset: the valve bit
    for k, row in capped.items():
        assert row == full[k]  # survivors identical (scores untouched)


def test_tf_adjusted_weights_algebra(spark, sf_dir):
    """link_part_phonetic_tf: the phon1 agreement term equals
    round(4 * log2(n_master / tf), 2) recomputed from the master
    census — rarer keys carry strictly more evidence — and the fixed
    terms match the declared weights."""
    import math

    from spotify_etl_aws_spark.queries.lanes_linkage import (
        PHON_TF_SCALE,
        PHON_TF_THRESHOLD,
        _phon_frames,
    )
    from spotify_etl_aws_spark.queries.selection import link_part_phonetic_tf

    _, master = _phon_frames(spark, sf_dir)
    tf = {
        r.phon1: r.n
        for r in master.groupBy("phon1").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_master = sum(tf.values())
    phon1_of = {r.partkey: r.phon1 for r in master.select("partkey", "phon1").collect()}
    rows = link_part_phonetic_tf(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.score >= PHON_TF_THRESHOLD
        assert r.tf_phon1 == tf[phon1_of[r.partkey]]
        w1 = (
            round(PHON_TF_SCALE * math.log2(n_master / r.tf_phon1), 2)
            if r.phon1_agree
            else -15.0
        )
        want = (
            w1
            + (25.0 if r.phon2_agree else -20.0)
            + (15.0 if r.size_agree else -10.0)
            + (15.0 if r.price_agree else -10.0)
        )
        assert r.score == pytest.approx(want, abs=1e-9)
