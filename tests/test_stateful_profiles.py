"""Composite-state streaming profile operator
(``streaming/stateful.py``): the declared GroupState lane's fold
semantics."""

from __future__ import annotations

from spotify_etl_aws_spark.streaming.stateful import user_type_profiles_gs


def test_gs_profiles_equal_batch_aggregate(spark, sf_dir):
    """A complete AvailableNow pass over the events stream must emit
    exactly the batch per-user profile (count, distinct types, modal
    type with smallest-string tie-break)."""
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.sources.readers import load_table
    from spotify_etl_aws_spark.streaming.pipeline import (
        read_table_stream,
        run_available_now,
    )

    src = read_table_stream(spark, sf_dir, "events").select(
        "user_id", "event_type"
    )
    got = {
        r["user_id"]: (r["n_events"], r["n_types"], r["top_type"])
        for r in run_available_now(
            user_type_profiles_gs(src), "tws_test", output_mode="update"
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").count()
    want = {}
    for r in per_type.collect():
        n, ntypes, top = want.get(r["user_id"], (0, 0, None))
        cand = (r["count"], r["event_type"])
        if top is None or (-cand[0], cand[1]) < (-top[0], top[1]):
            top = cand
        want[r["user_id"]] = (n + r["count"], ntypes + 1, top)
    want = {u: (n, t, top[1]) for u, (n, t, top) in want.items()}
    assert got == want
