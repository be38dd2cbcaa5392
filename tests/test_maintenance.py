"""Stage-table compaction (plans/maintenance.py): append-grown checkpoint
tables are rewritten to few files with identical content, idempotently."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cloud_dedup_spark.fsutil import hadoop_path, write_text
from cloud_dedup_spark.plans.maintenance import (
    _MANIFEST,
    _dir_stats,
    _list_children,
    _lock_path,
    compact_stage_tables,
    repair_swap,
    swap_overwrite,
)


def _write_fragmented(spark, path: str, n_slices: int = 12) -> None:
    for i in range(n_slices):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("file_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("content_sha256"),
        ).coalesce(1).write.mode("append").parquet(path)


def test_compaction_preserves_content_and_reduces_files(spark, tmp_path):
    loc = str(tmp_path / "state")
    _write_fragmented(spark, f"{loc}/identity")
    before = spark.read.parquet(f"{loc}/identity")
    n_before, _ = _dir_stats(spark, f"{loc}/identity")
    assert n_before >= 12
    before_rows = sorted(r["file_id"] for r in before.collect())

    report = compact_stage_tables(spark, loc, min_files=4)
    assert report["identity"]["files_before"] == n_before
    assert report["identity"]["files_after"] < n_before

    after = spark.read.parquet(f"{loc}/identity")
    assert sorted(r["file_id"] for r in after.collect()) == before_rows
    # no leftover tmp/old directories
    assert not os.path.exists(f"{loc}/identity.compact.tmp")
    assert not os.path.exists(f"{loc}/identity.compact.old")


def test_compaction_is_idempotent_and_skips_compact_tables(spark, tmp_path):
    loc = str(tmp_path / "state")
    _write_fragmented(spark, f"{loc}/signatures")
    first = compact_stage_tables(spark, loc, min_files=4)
    assert "signatures" in first
    # second run: already compact → untouched, empty report
    second = compact_stage_tables(spark, loc, min_files=4)
    assert second == {}


def test_compaction_ignores_missing_tables(spark, tmp_path):
    assert compact_stage_tables(spark, str(tmp_path / "nope")) == {}


def test_swap_restores_concurrent_append(spark, tmp_path):
    """A slice appended AFTER the rewrite pinned its snapshot (i.e. while the
    compaction ran) travels into `.old` with the swap and is moved back into
    the new table by the manifest restore instead of being deleted."""
    loc = str(tmp_path / "state")
    path = f"{loc}/identity"
    _write_fragmented(spark, path, n_slices=6)
    snapshot = _list_children(spark, path)
    pinned = spark.read.parquet(*[f"{path}/{c}" for c in snapshot]).coalesce(2)
    # concurrent append: lands after the snapshot listing, so it is provably
    # not inside `pinned` (explicit file list) — the race the manifest closes
    spark.range(10_000, 10_100).select(
        F.col("id").alias("file_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("content_sha256"),
    ).coalesce(1).write.mode("append").parquet(path)
    swap_overwrite(spark, pinned, path, suffix=".compact", snapshot=snapshot)
    after = sorted(r["file_id"] for r in spark.read.parquet(path).collect())
    assert after == list(range(600)) + list(range(10_000, 10_100))
    # restore fully cleaned up: no manifest, no .old left behind
    assert not os.path.exists(f"{path}/{_MANIFEST}")
    assert not os.path.exists(f"{path}.compact.old")
    assert not os.path.exists(f"{path}.compact.tmp")


def test_repair_swap_finishes_interrupted_restore(spark, tmp_path):
    """Crash window: second rename done, restore not — the new table carries
    a manifest and `.old` still exists.  Entry repair must move the
    concurrently-written (unlisted) children in, drop the listed ones, and
    clean up the manifest."""
    loc = str(tmp_path / "state")
    path = f"{loc}/identity"
    _write_fragmented(spark, path, n_slices=3)
    old = f"{path}.compact.old"
    # `.old` holds two slices; pretend the compaction READ the first one
    # (listed in the manifest → dropped) but not the second (concurrent
    # write → restored)
    spark.range(500, 550).select(
        F.col("id").alias("file_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("content_sha256"),
    ).coalesce(1).write.mode("append").parquet(old)
    listed_children = set(_list_children(spark, old))
    spark.range(550, 600).select(
        F.col("id").alias("file_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("content_sha256"),
    ).coalesce(1).write.mode("append").parquet(old)
    write_text(spark, f"{path}/{_MANIFEST}", json.dumps(
        sorted(_list_children(spark, path) + sorted(listed_children))
    ))
    repair_swap(spark, path, suffix=".compact")
    after = sorted(r["file_id"] for r in spark.read.parquet(path).collect())
    assert after == list(range(300)) + list(range(550, 600))
    assert not os.path.exists(f"{path}/{_MANIFEST}")
    assert not os.path.exists(old)
    # idempotent: a second repair pass is a no-op
    repair_swap(spark, path, suffix=".compact")
    assert sorted(
        r["file_id"] for r in spark.read.parquet(path).collect()
    ) == after


def test_repair_skips_under_fresh_lock_and_clears_stale(spark, tmp_path):
    """The advisory compaction lock: a fold's entry repair must NOT race a
    live compaction's swap (fresh lock → no-op), but a crash-leftover lock
    past the TTL is cleared and repair proceeds."""
    from cloud_dedup_spark.plans.maintenance import _LOCK_TTL_MS

    loc = str(tmp_path / "state")
    path = f"{loc}/identity"
    _write_fragmented(spark, path, n_slices=3)
    fs, hpath = hadoop_path(spark, path)
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    # park the table in the mid-swap crash state: main gone, data in `.old`
    assert fs.rename(hpath, P(f"{path}.compact.old"))
    write_text(spark, _lock_path(path, ".compact"), "compact")
    repair_swap(spark, path, suffix=".compact")
    # fresh lock → repair refused to touch the live protocol
    assert not os.path.exists(path)
    assert os.path.exists(f"{path}.compact.old")
    # backdate the lock past the TTL → stale: cleared, repair proceeds
    old_ms = jvm.java.lang.System.currentTimeMillis() - _LOCK_TTL_MS - 60_000
    fs.setTimes(P(f"{path}.compact.lock"), old_ms, -1)
    repair_swap(spark, path, suffix=".compact")
    assert os.path.exists(path)
    assert not os.path.exists(f"{path}.compact.old")
    assert not os.path.exists(f"{path}.compact.lock")
    assert spark.read.parquet(path).count() == 300


def test_compaction_skips_foreign_locked_table(spark, tmp_path):
    loc = str(tmp_path / "state")
    path = f"{loc}/signatures"
    _write_fragmented(spark, path)
    write_text(spark, _lock_path(path, ".compact"), "compact")
    # another compactor owns the table → left alone this run
    assert compact_stage_tables(spark, loc, min_files=4) == {}
