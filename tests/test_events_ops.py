"""Event-stream operators (operators/events.py): gap-based sessionization
and JSON-prop extraction — planted-semantics pins; the value-level oracle
agreement runs in test_driver_contract.py / scripts/check_oracles.py."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from cloud_dedup_spark.operators.events import json_prop_buckets, sessionize

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, T0 + datetime.timedelta(seconds=sec), uid, "click", val, props)
            for i, (sec, uid, val, props) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_sessionize_splits_on_gap_and_keeps_boundary_gap(spark):
    ev = _ev(
        spark,
        [
            # user 1: 0s, +600s (same session), +600+1800s (EXACTLY the gap —
            # strict >, stays in session), then +1801s (splits)
            (0, 1, 1.0, "{}"),
            (600, 1, 2.0, "{}"),
            (2400, 1, 4.0, "{}"),
            (4201, 1, 8.0, "{}"),
            # user 2: single event
            (50, 2, 16.0, "{}"),
        ],
    )
    out = {
        (r["user_id"], r["session_seq"]): r
        for r in sessionize(ev, gap_seconds=1800).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11 = out[(1, 1)]
    assert s11["n_events"] == 3 and s11["sum_value"] == 7.0
    assert s11["start_us"] == int(T0.timestamp()) * 1_000_000
    assert s11["end_us"] == (int(T0.timestamp()) + 2400) * 1_000_000
    s12 = out[(1, 2)]
    assert s12["n_events"] == 1 and s12["sum_value"] == 8.0
    assert out[(2, 1)]["n_events"] == 1


def test_sessionize_microsecond_boundary_is_exact(spark):
    # 1800.000001 s gap splits; 1800.000000 s does not — integer micros, no
    # float epoch rounding
    base = T0
    ev = spark.createDataFrame(
        [
            (0, base, 1, "c", 1.0, "{}"),
            (1, base + datetime.timedelta(seconds=1800), 1, "c", 1.0, "{}"),
            (2, base + datetime.timedelta(seconds=3600, microseconds=1), 1,
             "c", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = sessionize(ev, gap_seconds=1800).collect()
    assert sorted((r["session_seq"], r["n_events"]) for r in out) == [
        (1, 2), (2, 1),
    ]


def test_json_prop_buckets_extracts_and_isolates_malformed(spark):
    ev = _ev(
        spark,
        [
            (0, 1, 1.0, '{"k": 7}'),
            (1, 1, 2.0, '{"k": 17}'),   # same bucket (7)
            (2, 1, 4.0, '{"k": 3}'),
            (3, 1, 8.0, "not json"),    # malformed → NULL bucket
            (4, 1, 16.0, "{}"),         # missing key → NULL bucket
        ],
    )
    out = {
        r["k_bucket"]: r for r in json_prop_buckets(ev).collect()
    }
    assert out[7]["n_events"] == 2 and out[7]["sum_value"] == 3.0
    assert out[3]["n_events"] == 1
    assert out[None]["n_events"] == 2 and out[None]["sum_value"] == 24.0


def test_sessionize_plan_has_single_exchange(spark):
    # the whole operator must cost ONE shuffle (hash partition by user_id);
    # lag + running sum reuse the same sort, the aggregate is partial-merge.
    # Count TOTAL exchanges, not one substring: `<= 1` on a named key passed
    # vacuously on plan-string drift and missed added exchanges on other
    # keys (round-4 review).
    ev = _ev(spark, [(0, 1, 1.0, "{}"), (10, 2, 1.0, "{}")])
    plan = sessionize(ev)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges == 1, plan
    assert "Exchange hashpartitioning(user_id" in plan


def test_json_prop_buckets_is_abort_proof_and_folds_negatives(spark):
    """Round-4 review: non-integer k must bucket as NULL (not an ANSI
    CAST_INVALID_INPUT job abort), negative k must fold into [0, n), and a
    >19-digit integer must overflow to NULL, not abort."""
    ev = _ev(
        spark,
        [
            (0, 1, 1.0, '{"k": 7.5}'),      # non-integer → NULL bucket
            (1, 1, 2.0, '{"k": "abc"}'),    # non-numeric string → NULL
            (2, 1, 4.0, '{"k": -7}'),       # negative → pmod bucket 3
            (3, 1, 8.0, '{"k": 99999999999999999999}'),  # bigint overflow
            (4, 1, 16.0, '{"k": 13}'),      # plain → bucket 3
        ],
    )
    out = {
        r["k_bucket"]: r for r in json_prop_buckets(ev).collect()
    }
    assert set(out) == {None, 3}
    assert out[None]["n_events"] == 3 and out[None]["sum_value"] == 11.0
    assert out[3]["n_events"] == 2 and out[3]["sum_value"] == 20.0


def test_sessionize_null_ts_sorts_last_and_opens_own_session(spark):
    """NULLS LAST pinned on the window order (Spark's default is NULLS
    FIRST, the oracle engine's is NULLS LAST): a NULL-ts event must not
    renumber the user's timed sessions."""
    ev = spark.createDataFrame(
        [
            (0, T0, 1, "c", 1.0, "{}"),
            (1, None, 1, "c", 2.0, "{}"),
            (2, T0 + datetime.timedelta(seconds=10), 1, "c", 4.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["session_seq"]: r for r in sessionize(ev, gap_seconds=1800).collect()}
    # timed events stay session 1; the NULL-ts row sorts last, opens session 2
    assert out[1]["n_events"] == 2 and out[1]["sum_value"] == 5.0
    assert out[2]["n_events"] == 1 and out[2]["sum_value"] == 2.0
    assert out[2]["start_us"] is None


def test_sessionize_on_ntz(spark):
    """A ``ts timestamp_ntz`` column (the lake's storage type) takes the
    wall-clock microsecond branch: same sessions, NTZ-epoch start/end."""
    ev = spark.createDataFrame(
        [
            (0, T0, 1, "c", 1.0),
            (1, T0 + datetime.timedelta(seconds=5), 1, "c", 2.0),
            (2, T0 + datetime.timedelta(seconds=5 + 1801), 1, "c", 4.0),
        ],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double",
    )
    out = {r["session_seq"]: r for r in sessionize(ev, gap_seconds=1800).collect()}
    t0_us = int((T0 - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    assert out[1]["n_events"] == 2 and out[2]["n_events"] == 1
    assert (out[1]["start_us"], out[1]["end_us"]) == (t0_us, t0_us + 5_000_000)
    assert out[2]["start_us"] == t0_us + 1806 * 1_000_000
