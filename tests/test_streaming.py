"""The Structured Streaming front end (streaming/incremental.py).

The north_rule's resumability lives in checkpointed stage tables; streaming
is the *ingest* mode layered on the same batch operators.  These tests pin
the readStream entry point end-to-end with an availableNow trigger:

  * ``incremental_dedup_stream`` — micro-batches fold into dedup state and
    the result equals a full batch recompute over the union;
  * replaying the same source through a fresh stream checkpoint appends
    nothing (the composite-id guard makes the fold idempotent under
    foreachBatch's at-least-once delivery).
"""

from __future__ import annotations

import pytest

from cloud_dedup_spark import run_pipeline
from cloud_dedup_spark.corpus import _Gen, generate_corpus
from cloud_dedup_spark.streaming.incremental import incremental_dedup_stream

SCHEMA = "repo string, path string, commit string, lang string, content string"
BASE_N = 120


def _clusters(assignments) -> set[frozenset]:
    got: dict = {}
    for r in assignments.collect():
        got.setdefault(r["cluster_id"], set()).add((r["repo"], r["path"]))
    return {frozenset(v) for v in got.values() if len(v) >= 2}


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    """Prior batch state + a 2-file streamed delta, drained availableNow."""
    rows, _ = generate_corpus(BASE_N, seed=31)
    base = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"])
         for r in rows], SCHEMA)
    root = tmp_path_factory.mktemp("stream")
    ckpt = str(root / "state")
    src = str(root / "incoming")
    run_pipeline(spark, base, checkpoint_dir=ckpt)

    gen = _Gen(77)
    new_pair = gen.body(60)
    delta_rows = [
        ("repo_s", "s/exact_of_old.py", "s1", "py", rows[0]["content"]),
        ("repo_s", "s/pair1.py", "s2", "py", new_pair),
        ("repo_s", "s/pair2.py", "s3", "py", new_pair),
        ("repo_s", "s/unique.py", "s4", "py", gen.body(35)),
    ]
    # two source files → the stream sees a real multi-file backlog
    spark.createDataFrame(delta_rows[:2], SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(delta_rows[2:], SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)

    q = incremental_dedup_stream(
        spark, src, ckpt, str(root / "stream_ckpt"),
        max_files_per_trigger=1,  # force ≥2 micro-batches over the backlog
    )
    q.awaitTermination(timeout=600)
    assert not q.isActive
    delta = spark.createDataFrame(delta_rows, SCHEMA)
    return base, delta, ckpt, src, root


def test_stream_equals_full_recompute(spark, streamed):
    base, delta, ckpt, src, root = streamed
    streamed_clusters = _clusters(spark.read.parquet(f"{ckpt}/cluster_labels"))
    full = run_pipeline(spark, base.unionByName(delta))
    assert streamed_clusters == _clusters(full["assignments"])


def test_stream_state_grew_exactly_once(spark, streamed):
    base, delta, ckpt, src, root = streamed
    n = spark.read.parquet(f"{ckpt}/identity").count()
    assert n == base.count() + delta.count()


def test_stream_replay_is_idempotent(spark, streamed):
    """A fresh stream checkpoint re-reads the whole source (worst-case
    replay); the composite-id guard must drop every row and leave the state
    tables at the same fixed point."""
    base, delta, ckpt, src, root = streamed
    before_ids = spark.read.parquet(f"{ckpt}/identity").count()
    before_clusters = _clusters(spark.read.parquet(f"{ckpt}/cluster_labels"))

    q = incremental_dedup_stream(spark, src, ckpt, str(root / "replay_ckpt"))
    q.awaitTermination(timeout=600)
    assert not q.isActive

    assert spark.read.parquet(f"{ckpt}/identity").count() == before_ids
    assert _clusters(
        spark.read.parquet(f"{ckpt}/cluster_labels")) == before_clusters
