"""Data-quality contract checks (operators/quality.py): dbt's four
built-in tests re-expressed over DataFrames, exercised on synthetic
violations and then on the medallion gold outputs under the exact
contracts the reference's schema.yml documents in prose
(dbt/spotify_etl_aws/models/staging/schema.yml: every "Primary key."
and "Foreign key to ..." column description)."""

from __future__ import annotations

import pytest

from spotify_etl_aws_spark.operators.quality import (
    check_accepted_values,
    check_not_null,
    check_references,
    check_unique,
    expect_all,
)
from spotify_etl_aws_spark.plans.medallion import run_medallion

from .test_medallion import _playlist_items, _write_fixture


@pytest.fixture(scope="module")
def gold_frames(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("quality_medallion")
    raw = _write_fixture(str(root / "raw.json"), _playlist_items())
    return run_medallion(spark, raw, str(root / "lake"))


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, "a", "US"),
            (1, "b", "US"),   # duplicate id
            (2, None, "CA"),  # null name
            (None, "d", "XX"), # null id + out-of-domain country
        ],
        "id bigint, name string, country string",
    )


def test_check_unique_finds_duplicates_ignores_null_keys(spark, dirty):
    out = {(r.id,): r.n_rows for r in check_unique(dirty, ["id"]).collect()}
    assert out == {(1,): 2}  # the NULL id is not_null's problem, not unique's


def test_check_not_null_reports_per_column_counts(spark, dirty):
    out = {r.column: r.n_null for r in check_not_null(dirty, ["id", "name", "country"]).collect()}
    assert out == {"id": 1, "name": 1}  # country column absent: no nulls


def test_check_accepted_values_flags_out_of_domain(spark, dirty):
    out = {r.country: r.n_rows for r in check_accepted_values(dirty, "country", ["US", "CA"]).collect()}
    assert out == {"XX": 1}
    # listing None admits NULLs
    with_null = check_accepted_values(dirty, "name", ["a", "b", "d", None])
    assert with_null.count() == 0


def test_check_references_finds_orphans(spark):
    child = spark.createDataFrame([(1,), (2,), (3,), (None,)], "fk bigint")
    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    out = {r.fk: r.n_rows for r in check_references(child, "fk", parent, "pk").collect()}
    assert out == {3: 1}  # NULL FKs are not orphans (dbt relationships semantics)

    # duplicate parent keys are not de-duplicated first: an anti-join
    # only tests existence, so the repeated orphan is reported once with
    # its full row count and the duplicated parent key drops no child row
    child = spark.createDataFrame([(1,), (3,), (3,), (3,), (None,)], "fk bigint")
    parent = spark.createDataFrame([(1,), (1,), (2,), (2,)], "pk bigint")
    out = {r.fk: r.n_rows for r in check_references(child, "fk", parent, "pk").collect()}
    assert out == {3: 3}


def test_expect_all_raises_naming_every_failure(spark, dirty):
    # one violation row per duplicated key / per null-bearing column —
    # dbt's convention (the validation query's row count)
    with pytest.raises(ValueError, match="pk_unique \\(1 violations\\)") as ei:
        expect_all(
            {
                "pk_unique": check_unique(dirty, ["id"]),
                "name_not_null": check_not_null(dirty, ["name"]),
            }
        )
    assert "name_not_null" in str(ei.value)


def test_medallion_gold_honours_reference_schema_contracts(gold_frames):
    """The contracts schema.yml WRITES DOWN but never enforces, enforced:
    each dim's documented primary key is unique + not-null, and every
    documented foreign key in the fact resolves (schema.yml:8-10,27-40;
    NULL-FK tracks were already dropped by the inner fact join). The
    gold_frames fixture already ran the validate=True gate inside
    run_medallion; this re-runs the same contract set explicitly and
    asserts the ledger is all-zero."""
    from spotify_etl_aws_spark.plans.medallion import gold_contracts

    counts = expect_all(gold_contracts(gold_frames))
    assert len(counts) == 9 and set(counts.values()) == {0}


def test_validate_gate_accepts_shared_tracks_across_playlists(spark, tmp_path):
    """The fact's grain is (playlist, track): one track appearing in two
    playlists is clean data and the default-on validate gate must pass
    it (regression: a track_id-unique contract at the wrong grain would
    reject exactly this, the normal Spotify case)."""
    import json

    from .test_medallion import _album, _artist, _item

    items = [_item(0, _album(0), [_artist(0)])]

    def playlist(pid):
        return {
            "id": pid,
            "name": f"Playlist {pid}",
            "description": "shared-track fixture",
            "owner": {"id": "owner-1"},
            "followers": {"total": 1},
            "public": True,
            "snapshot_id": f"snap-{pid}",
            "images": [{"url": "https://img/1", "height": 640, "width": 640}],
            "tracks": {"total": 1, "limit": 100, "offset": 0, "items": items},
        }

    raw = str(tmp_path / "raw.json")
    with open(raw, "w") as f:
        json.dump([playlist("PL1"), playlist("PL2")], f)
    gold = run_medallion(spark, raw, str(tmp_path / "lake"))  # must not raise
    fact = gold["fact_playlist_tracks"]
    assert fact.count() == 2
    assert {r.playlist_id for r in fact.collect()} == {"PL1", "PL2"}
