"""Custom stateful streaming operators (SURVEY.md §2.9/§2.10 —
``applyInPandasWithState``).

Where ``dropDuplicates``/windowed aggregation cover the built-in
stateful shapes, arbitrary per-key state machines (running profiles,
custom sessionizers, fraud counters) need the grouped-map-with-state
lane: each trigger, every key's new rows arrive as pandas frames along
with that key's persistent ``GroupState``; the function updates the
state and emits output rows.

Scale notes: state lives in the state store partitioned by key —
bounded by distinct keys, not stream length (set a timeout to expire
idle keys for unbounded key spaces). Data reaches Python via Arrow
batches; only the state value round-trips per key per trigger.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value) maintained in GroupState;
    one row per user per trigger with the post-batch totals.

    Over a complete AvailableNow run this equals the batch groupBy
    aggregate — which is what makes the custom-stateful lane
    oracle-checkable end-to-end.
    """
    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        # total_value leaves unrounded: Python round() is banker's
        # rounding; SQL-semantics rounding (half away from zero) is
        # applied JVM-side by the caller via F.round.
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_type_profiles_gs(events: DataFrame) -> DataFrame:
    """Per-user event-type profile on the GroupState API: the composite
    state (row count + per-type counts) packs into one tuple — count as
    bigint, the type histogram as a JSON string. Spark 4's
    ``transformWithStateInPandas`` would hold the histogram in a
    ``MapState`` instead, but its Python driver worker needs
    ``google.protobuf``, which this environment lacks. Per user per
    trigger it emits the post-batch (n_events, n_types, top_type),
    top_type tie-breaking on the smallest type string, so a complete
    AvailableNow pass equals the batch aggregate.

    Scale: identical state-store posture (one row per user), and the
    JSON blob is O(distinct types) = O(enum), so packing costs bytes,
    not asymptotics.
    """
    import json

    out_schema = (
        "user_id bigint, n_events bigint, n_types bigint, top_type string"
    )
    state_schema = "n bigint, types_json string"

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, types_json = state.get
            counts = json.loads(types_json)
        else:
            n, counts = 0, {}
        for pdf in pdfs:
            n += len(pdf)
            for t, c in pdf["event_type"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
        state.update((n, json.dumps(counts, sort_keys=True)))
        top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_types": [len(counts)],
                "top_type": [top[0]],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_alarms_state(events: DataFrame, ref: int, h: int) -> DataFrame:
    """Per-key one-sided upper CUSUM (Page 1954) as a streaming state
    machine — the STREAMING posture of the batch window identity
    S_t = P_t - min(0, min_{j<=t} P_j) (queries: ts_cusum_alarms):
    the state carries exactly the identity's sufficient statistics,
    (P_t, min_j P_j), plus the last-seen (ts, event_id) so the fold is
    resumable across triggers. Per trigger each key's new rows sort by
    (ts, event_id) and fold with vectorized numpy prefix ops; rows
    whose cumulative exceedance crosses ``h`` emit as alarms.

    Ordering contract: the recurrence is only defined over the
    per-key (ts, event_id) order, so a trigger whose first row is not
    strictly after the state's last-seen key RAISES (out-of-order
    delivery across triggers — the file-source AvailableNow harness
    delivers everything in one trigger, where the in-trigger sort
    makes order unconditional; a production deployment feeds
    time-ordered file batches, the reference's daily-landing pattern).

    Scale: state is four int64s per key — bounded by distinct keys,
    not stream length; everything else is Arrow-batched numpy.
    """
    import numpy as np

    out_schema = (
        "event_id bigint, user_id bigint, cents bigint, cusum bigint"
    )
    state_schema = "pt bigint, mp bigint, last_ts bigint, last_eid bigint"
    far = 1 << 62  # mp sentinel: min(0, mp) clamps it away until set

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pt, mp, last_ts, last_eid = (
            state.get if state.exists else (0, far, None, None)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(
            ["ts", "event_id"], kind="mergesort", ignore_index=True
        )
        ts_ns = pdf["ts"].astype("int64").to_numpy()
        eid = pdf["event_id"].to_numpy(np.int64)
        if last_ts is not None and (
            (int(ts_ns[0]), int(eid[0])) <= (last_ts, last_eid)
        ):
            raise ValueError(
                "cusum stream: trigger delivered rows at or before the "
                "already-folded (ts, event_id) frontier — the recurrence "
                "needs time-ordered trigger batches"
            )
        cents = pdf["cents"].to_numpy(np.int64)
        p = pt + np.cumsum(cents - ref)
        m = np.minimum.accumulate(np.minimum(p, mp))
        s = p - np.minimum(m, 0)
        state.update(
            (int(p[-1]), int(m[-1]), int(ts_ns[-1]), int(eid[-1]))
        )
        hit = s > h
        yield pd.DataFrame(
            {
                "event_id": eid[hit],
                "user_id": np.full(int(hit.sum()), key[0], np.int64),
                "cents": cents[hit],
                "cusum": s[hit],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_alarms_watermarked(
    events: DataFrame, ref: int, h: int, delay: str = "0 seconds"
) -> DataFrame:
    """``cusum_alarms_state`` with the LATE-DATA posture a production
    multi-source feed needs (round-12 verdict item 3): instead of
    raising on out-of-order delivery across triggers, rows buffer
    inside the per-key state until the event-time WATERMARK passes
    them, the fold consumes only the sealed prefix (rows at or below
    the watermark — nothing earlier can still arrive under the
    watermark contract), and a straggler that lands behind the
    already-sealed frontier emits as a DEAD-LETTER row instead of
    killing the job.

    Output: (event_id, user_id, cents, cusum, kind) — kind is
    ``alarm`` (cusum = the batch identity's value; over any complete
    run the alarm set equals the batch ``ts_cusum_alarms``) or
    ``dead_letter`` (cusum NULL; the row arrived beyond the watermark
    after its position was sealed — route to a reconciliation table).

    Sealing discipline per trigger:
    1. new rows behind the sealed (ts, event_id) frontier -> dead
       letters (never folded, never corrupt the recurrence);
    2. the rest append to the state's buffer;
    3. buffered rows with ts <= watermark seal: sort, fold with the
       same numpy prefix ops, emit alarms, advance the frontier;
    4. a non-empty remaining buffer arms an EVENT-TIME TIMEOUT just
       past the watermark, so the tail seals on a later trigger (or
       the engine's final no-data batch) even if the key never gets
       another row.

    State stays bounded by the watermark window: the buffer holds
    only rows inside (watermark, max seen ts] — with delay D and
    arrival rate r that is O(r*D) rows per key, the price of
    tolerating D of disorder (vs four int64s for the raise-loudly
    variant; pick by feed discipline).
    """
    import numpy as np

    out_schema = (
        "event_id bigint, user_id bigint, cents bigint, cusum bigint,"
        " kind string"
    )
    state_schema = (
        "pt bigint, mp bigint, last_ts bigint, last_eid bigint,"
        " buf_ts array<bigint>, buf_eid array<bigint>,"
        " buf_cents array<bigint>"
    )
    far = 1 << 62  # mp sentinel (cusum_alarms_state's convention)

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # buffers live as int64 numpy arrays end to end (r14; guide
        # §4.2): the former list/Python path sorted the buffer with a
        # per-row key lambda and rebuilt three lists per trigger —
        # O(buffer) interpreted Python per key per trigger, ~1M lambda
        # calls per pass at sf0.1. lexsort/searchsorted/concatenate
        # compute the identical order (ts, eid — unique pairs, so
        # stability is moot) vectorized.
        if state.exists:
            pt, mp, last_ts, last_eid, bts, beid, bc = state.get
            bts = np.asarray(bts, np.int64)
            beid = np.asarray(beid, np.int64)
            bc = np.asarray(bc, np.int64)
        else:
            pt, mp, last_ts, last_eid = 0, far, None, None
            bts = beid = bc = np.empty(0, np.int64)
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000
        dead_eid = dead_cents = np.empty(0, np.int64)
        if not state.hasTimedOut:
            frames = [f for f in pdfs if len(f)]
            if frames:
                pdf = pd.concat(frames, ignore_index=True)
                ts_ns = pdf["ts"].astype("int64").to_numpy()
                eid = pdf["event_id"].to_numpy(np.int64)
                cents = pdf["cents"].to_numpy(np.int64)
                if last_ts is not None:
                    # behind the sealed frontier -> dead letter
                    is_dead = (ts_ns < last_ts) | (
                        (ts_ns == last_ts) & (eid <= last_eid)
                    )
                else:
                    is_dead = np.zeros(len(ts_ns), dtype=bool)
                dead_eid = eid[is_dead]
                dead_cents = cents[is_dead]
                bts = np.concatenate([bts, ts_ns[~is_dead]])
                beid = np.concatenate([beid, eid[~is_dead]])
                bc = np.concatenate([bc, cents[~is_dead]])
        # seal: buffered rows the watermark has passed
        alarms = None
        if len(bts):
            order = np.lexsort((beid, bts))  # by (ts, eid)
            bts, beid, bc = bts[order], beid[order], bc[order]
            # the watermark is MILLISECOND-granular (Spark truncates
            # event-time stats to ms) while ts carries ns: seal the
            # whole watermark millisecond, or rows in the final ms of
            # an AvailableNow run would never seal and batch parity
            # would break on the tail
            seal_below = wm_ns + 1_000_000
            # count of buffered rows with ts < seal_below (bts sorted)
            n_seal = int(np.searchsorted(bts, seal_below, side="left"))
            if n_seal:
                ts_s = bts[:n_seal]
                eid_s = beid[:n_seal]
                c_s = bc[:n_seal]
                p = pt + np.cumsum(c_s - ref)
                m = np.minimum.accumulate(np.minimum(p, mp))
                s = p - np.minimum(m, 0)
                pt, mp = int(p[-1]), int(m[-1])
                last_ts, last_eid = int(ts_s[-1]), int(eid_s[-1])
                bts, beid, bc = bts[n_seal:], beid[n_seal:], bc[n_seal:]
                hit = s > h
                alarms = pd.DataFrame(
                    {
                        "event_id": eid_s[hit],
                        "user_id": np.full(
                            int(hit.sum()), key[0], np.int64
                        ),
                        "cents": c_s[hit],
                        "cusum": s[hit],
                        "kind": "alarm",
                    }
                )
        state.update(
            (pt, mp, last_ts, last_eid,
             bts.tolist(), beid.tolist(), bc.tolist())
        )
        if len(bts):
            # the tail seals when the watermark REACHES its first
            # row's millisecond; the timeout fires only when the
            # watermark strictly exceeds the armed timestamp (probed),
            # so arm one ms EARLY. The API clamp is AT the current
            # watermark (pyspark state.py rejects only
            # timestampMs < watermark, equality is legal) — clamping
            # to wm+1 instead would strand a tail row whose ms is
            # exactly wm+1 when that ms is also the stream's final
            # watermark: armed would equal the final watermark and
            # the strict-exceed condition could never fire
            # (round-13 ADVICE). Post-seal bts[0]'s ms is always
            # >= wm_ms+1, so the armed timestamp is always strictly
            # below the first buffered row's ms and the row seals on
            # any watermark advance into its millisecond.
            state.setTimeoutTimestamp(
                max(int(bts[0]) // 1_000_000 - 1, wm_ns // 1_000_000)
            )
        out = []
        if len(dead_eid):
            out.append(
                pd.DataFrame(
                    {
                        "event_id": dead_eid,
                        "user_id": np.full(
                            len(dead_eid), key[0], np.int64
                        ),
                        "cents": dead_cents,
                        "cusum": pd.array(
                            [None] * len(dead_eid), dtype="Int64"
                        ),
                        "kind": "dead_letter",
                    }
                )
            )
        if alarms is not None and len(alarms):
            out.append(alarms)
        if out:
            yield pd.concat(out, ignore_index=True)

    return (
        events.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
