"""Event-stream operators: gap-based sessionization + JSON-prop extraction.

The reference engine is file-corpus-only, but the engine's `events` table
(TESTDATA.md) models the other half of a training-data lake: append-only
interaction/telemetry logs.  Two operators a 100 TB log pipeline needs:

``sessionize`` — classic gap-based sessionization (a session ends after
``gap_seconds`` of user inactivity).  Pure window functions: one shuffle on
the session key (``user_id``), then lag → boundary flag → running sum →
group.  No state store and no UDF; at scale the single hash-partition by
user_id is the minimum possible data movement for this computation, and
skew (a bot user with millions of events) is bounded because the window is
a linear scan per key, not a self-join.

``json_prop_buckets`` — schema-on-read extraction from a JSON string
column (``get_json_object``, JVM-side Jackson; no Python) straight into an
aggregate.  The common "pull one field out of a props blob" log query,
kept entirely inside whole-stage codegen.

Both are ANSI-SQL-expressible, so the driver hash-checks them against
DuckDB twins (__spark_entry__.py) — unlike the dedup channels, these have
full value-level oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloud_dedup_spark.functions.agg import money_sum

# the props field ``json_prop_buckets`` extracts, and its bucket modulus
PROP_PATH = "$.k"
N_PROP_BUCKETS = 10

def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per-user gap-based sessions: a new session starts when the time since
    the user's previous event (``ts``, ties broken by ``event_id``) exceeds
    ``gap_seconds``.

    Timestamps are compared at MICROSECOND precision (``unix_micros``) so
    the arithmetic is exact integer math — identical in any engine (the
    DuckDB oracle uses ``epoch_us``); float epoch seconds would make the
    boundary flag engine-dependent for sub-second gaps.

    Output: one row per (user_id, session) with
    ``session_seq`` (1-based per-user ordinal), ``start_us``/``end_us``
    (microsecond epochs), ``n_events``, ``sum_value``.

    Plan shape: one exchange on ``user_id``, two window passes over the
    sorted partition (lag + running sum reuse the same sort), one partial
    aggregation.  The running sum uses ``rowsBetween(unboundedPreceding,
    currentRow)`` explicitly — the default RANGE frame would tie identical
    timestamps together.
    """
    # NULLS LAST explicitly: Spark windows default to NULLS FIRST, DuckDB
    # (and most engines) to NULLS LAST — on a nullable ts column the default
    # silently renumbers every session_seq for a user relative to the oracle
    # (round-4 review).  A NULL-ts event sorts after all timed events and
    # opens its own session (its lag diff is NULL).
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    # TIMESTAMP_NTZ (the lake's storage type): pure wall-clock microsecond
    # arithmetic against the NTZ epoch — no session-timezone dependence, and
    # exactly DuckDB's epoch_us semantics for naive timestamps.  Regular
    # TIMESTAMP: unix_micros is the absolute instant.
    if dict(events.dtypes)["ts"] == "timestamp_ntz":
        us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        us = F.unix_micros(F.col("ts"))
    gap_us = F.lit(int(gap_seconds) * 1_000_000)
    new_sess = F.when(
        (us - F.lag(us).over(w)).isNull() | ((us - F.lag(us).over(w)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    seq = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.withColumn("_us", us)
        .withColumn("session_seq", seq)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
    )


def json_prop_buckets(events: DataFrame) -> DataFrame:
    """Extract the integer ``PROP_PATH`` field from the ``props`` JSON column
    and roll up (event_type, pmod(field, N_PROP_BUCKETS)) — count + value sum
    per bucket.

    ``get_json_object`` runs JVM-side (Jackson) inside codegen; a malformed
    blob, missing field, or NON-INTEGER value yields NULL, which lands in
    its own NULL bucket rather than dropping the row (auditable, not
    silent).  The integer gate is an explicit regex, not a bare cast: under
    ANSI mode (Spark 4 default) ``cast('7.5' as bigint)`` is a runtime
    CAST_INVALID_INPUT that would abort the whole job on one odd row, and
    engines disagree on lenient casts (DuckDB TRY_CAST rounds '7.5' to 8) —
    the regex pins one portable semantic.  ``pmod`` folds negatives into
    [0, N_PROP_BUCKETS); ``%`` would leak up to N_PROP_BUCKETS-1 extra
    negative buckets (round-4 review).
    """
    s = F.get_json_object("props", PROP_PATH)
    # try_cast behind the regex: a >19-digit integer still matches the regex
    # but overflows bigint — NULL bucket, never an ANSI abort
    k = F.when(s.rlike("^-?[0-9]+$"), s.try_cast("bigint"))
    return (
        events.withColumn("k_bucket", F.pmod(k, F.lit(N_PROP_BUCKETS)))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
    )
